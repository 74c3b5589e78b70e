package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native IVF ingest kernels — the corpus-sized half of the ANN index's
  * per-row work. The Column formulations (`array_min(transform(...))`
  * over a packed centroid array; per-subspace `aggregate(zip_with(...))`
  * candidates for PQ codes) are semantically exact but run INTERPRETED:
  * at assignment volume (rows × nlists × dim) that is the throughput
  * ceiling — PLANS.md item 104 records ~280 µs/row at nlists = 256,
  * dim = 64 on the HOF path, which at 10^10 vectors is ~10^6 core-hours
  * of pure expression-tree dispatch. These kernels run the same
  * arithmetic as one JIT-compiled loop and slot into whole-stage
  * codegen like [[QuantizedDotProduct]].
  *
  * Bit-identity contract (what the DuckDB oracles replay): every loop
  * accumulates in exactly the fold order of the Column form —
  * `((0 + d0²) + d1²) + …` ascending positions for d2; strict `<`
  * while iterating lists ascending reproduces `array_min`'s
  * lexicographic (d2, list) tie-break; PQ codes quantize each element
  * with the same `floor(x·1e6 + 0.5)` and compare int64 subspace
  * distances with ties to the lowest codeword index. */
object IvfKernels {

  /** Arg-min centroid per row: returns struct(d2 DOUBLE, list INT) —
    * the same shape the packed-row `array_min(transform(...))` column
    * produced, so callers' `getField` projections are unchanged.
    *
    * The centroid matrix ships as a BROADCAST variable (one copy per
    * executor, fetched in blocks — not a plan literal, not a packed
    * row): nlists × dim × 8 B, e.g. ~600 MB at nlists = 10^5 ×
    * dim = 768, which is the same working set FAISS keeps in RAM for
    * its coarse quantizer. Matrices past driver/executor memory are
    * out of this kernel's contract — that regime is the chunked
    * HOF path or an IMI-style rebuild. */
  case class CentroidArgMin(child: Expression,
                            lists: Array[Int],
                            bc: Broadcast[Array[Array[Double]]])
      extends UnaryExpression {
    require(lists.nonEmpty, "empty centroid table")

    override def dataType: DataType = StructType(Seq(
      StructField("d2", DoubleType, nullable = false),
      StructField("list", IntegerType, nullable = false)))

    override def checkInputDataTypes() = child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"centroid_argmin needs ARRAY<FLOAT> or ARRAY<DOUBLE>, got $other")
    }

    private def elemIsDouble: Boolean = child.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }

    def compute(vec: ArrayData): InternalRow = {
      val cents = bc.value
      val isD = elemIsDouble
      val n = vec.numElements()
      // a wrong-dimension batch must FAIL, not assign by a prefix:
      // silently truncated distances would poison segments and the
      // health ledger while the schema guard (name/type only) passes
      require(n == cents(0).length,
        s"vector dim $n != centroid dim ${cents(0).length}")
      var bestD2 = Double.MaxValue
      var bestList = lists(0)
      var j = 0
      while (j < cents.length) {
        val c = cents(j)
        val m = c.length
        var acc = 0.0
        var i = 0
        while (i < m) {
          val x = if (isD) vec.getDouble(i) else vec.getFloat(i).toDouble
          val d = x - c(i)
          acc += d * d
          i += 1
        }
        if (acc < bestD2) { bestD2 = acc; bestList = lists(j) }
        j += 1
      }
      new GenericInternalRow(Array[Any](bestD2, bestList))
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("argminKernel", this,
        classOf[CentroidArgMin].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) " +
          s"$ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): CentroidArgMin =
      copy(child = newChild)
  }

  /** PQ codes per row against a PINNED codebook: returns ARRAY<INT> of
    * m codeword indices — exactly [[graft.pipeline.Similarity.pqEncodeAdc]]'s
    * encode rule (micro-unit quantization, int64 subspace distances,
    * ties to the lowest j). The codebook is m × k × sub longs (~1 KB at
    * m=8, k=16) and rides the expression itself. */
  case class PqEncodeCodes(child: Expression,
                           codebook: Array[Array[Array[Long]]])
      extends UnaryExpression {
    require(codebook.nonEmpty && codebook(0).nonEmpty &&
      codebook(0)(0).nonEmpty, "empty PQ codebook")

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

    override def checkInputDataTypes() = child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode needs ARRAY<FLOAT> or ARRAY<DOUBLE>, got $other")
    }

    private def elemIsDouble: Boolean = child.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }

    def compute(vec: ArrayData): ArrayData = {
      val m = codebook.length
      val k = codebook(0).length
      val sub = codebook(0)(0).length
      val isD = elemIsDouble
      // vq once per element — identical to the Column form's shared
      // transform (floor is deterministic, so once vs per-candidate is
      // value-identical)
      val n = vec.numElements()
      require(n == m * sub,
        s"vector dim $n != codebook dim ${m * sub} (m=$m x sub=$sub)")
      val vq = new Array[Long](n)
      var i = 0
      while (i < n) {
        val x = if (isD) vec.getDouble(i) else vec.getFloat(i).toDouble
        vq(i) = Math.floor(x * 1e6 + 0.5).toLong
        i += 1
      }
      val codes = new Array[Int](m)
      var s = 0
      while (s < m) {
        var bestD2 = Long.MaxValue
        var bestJ = 0
        var j = 0
        while (j < k) {
          val cw = codebook(s)(j)
          var acc = 0L
          var p = 0
          while (p < sub) {
            val d = vq(s * sub + p) - cw(p)
            acc += d * d
            p += 1
          }
          if (acc < bestD2) { bestD2 = acc; bestJ = j }
          j += 1
        }
        codes(s) = bestJ
        s += 1
      }
      new GenericArrayData(codes)
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("pqKernel", this,
        classOf[PqEncodeCodes].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
          s"$ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): PqEncodeCodes =
      copy(child = newChild)
  }

  /** SQ8 scalar-quantization codes per row against PINNED per-dimension
    * bounds (micro-units): code_i = clamp(roundDiv((vq_i − lo_i)·255,
    * hi_i − lo_i), 0, 255) — FAISS's ScalarQuantizer QT_8bit trained on
    * the init corpus's per-dim min/max, on the exact integer grid
    * (roundDiv = int64 rounding with ties away from zero, the
    * [[graft.pipeline.IvfIndex]] centroid-update rule) so an external
    * engine replays every code. A constant dimension (hi == lo) encodes
    * 0. Out-of-bounds later batches CLAMP — the quantizer is pinned
    * like the centroids; distribution drift shows in the health ledger,
    * and the remedy is a rebuild. Returns ARRAY<INT> of dim codes
    * (dictionary/bit-packed at rest — ~1 B/dim). */
  case class SqEncodeCodes(child: Expression,
                           lo: Array[Long],
                           hi: Array[Long])
      extends UnaryExpression {
    require(lo.nonEmpty && lo.length == hi.length, "bad SQ8 bounds")

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

    override def checkInputDataTypes() = child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sq8_encode needs ARRAY<FLOAT> or ARRAY<DOUBLE>, got $other")
    }

    private def elemIsDouble: Boolean = child.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    }

    def compute(vec: ArrayData): ArrayData = {
      val isD = elemIsDouble
      val n = vec.numElements()
      require(n == lo.length,
        s"vector dim $n != SQ8 bounds dim ${lo.length}")
      val codes = new Array[Int](n)
      var i = 0
      while (i < n) {
        val x = if (isD) vec.getDouble(i) else vec.getFloat(i).toDouble
        val vq = Math.floor(x * 1e6 + 0.5).toLong
        val span = hi(i) - lo(i)
        codes(i) =
          if (span == 0L) 0
          else {
            val s = (vq - lo(i)) * 255L
            val r = if (s >= 0) (2 * s + span) / (2 * span)
                    else -((2 * -s + span) / (2 * span))
            math.min(math.max(r, 0L), 255L).toInt
          }
        i += 1
      }
      new GenericArrayData(codes)
    }

    override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("sqKernel", this,
        classOf[SqEncodeCodes].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) " +
          s"$ref.compute($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): SqEncodeCodes =
      copy(child = newChild)
  }
}
