package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-engine quality-classifier TRAINING: logistic regression by
  * full-batch gradient descent with ENGINE-EXACT integer-quantized
  * state — the "train the filter where the data lives" step of a
  * corpus pipeline (fastText-style quality/langid gates are trained
  * exactly this way, on features the engine already computes).
  *
  * Engine-exactness contract (the same discipline as the PageRank
  * integer scheme, TextPipeline §q_linkgraph_pagerank):
  *   - weights live in int64 MICRO-units; features are small ints;
  *     z = Σ w_j·x_j is exact int64 micro-units.
  *   - p = σ(z) rounds to the 1e-6 grid immediately (one exp per row —
  *     the house qln/q6 posture), so the residual d = p − y·10^6 is an
  *     exact int and every gradient component Σ d·x_j is an exact,
  *     order-free int64 sum.
  *   - the update w −= (g DIV (n·2^lrShift)) uses TRUNCATING integer
  *     division — Spark's DIV and DuckDB's // agree on negatives
  *     (toward zero), so the whole T-round trajectory is bit-identical
  *     in any engine that replays it.
  *
  * 100 TB shape: one narrow aggregate pass per iteration (map-side
  * partial sums of K+2 int64s — gradient, count, correct-count), no
  * shuffle of rows, weights as a driver-side K-vector (the bounded
  * artifact pattern, same as k-means centroids). T iterations =
  * T passes; full-batch GD is the distributed-friendly variant
  * (SGD's sequential dependence does not shard).
  */
object QualityModel {

  /** Train for `iters` full-batch rounds; learning rate 2^-lrShift
    * averaged over n. `features` must carry small-int columns `xCols`
    * (include a constant 1 column for the bias) and a 0/1 `yCol`.
    *
    * Returns one row per round: (it, w_<xCol>... AFTER the round's
    * update, n_correct/n of the PRE-update weights — the accuracy
    * trails one step by construction, single pass per round), plus a
    * final row it = iters+1 scoring the final weights. */
  def trainLogReg(features: DataFrame, xCols: Seq[String], yCol: String,
                  iters: Int, lrShift: Int): DataFrame = {
    val spark = features.sparkSession
    val k = xCols.length
    val f = features.select(
      (xCols.map(c => col(c).cast("long").as(c)) :+
        col(yCol).cast("long").as("y")): _*).persist()
    var w = Array.fill(k)(0L)
    val out = Seq.newBuilder[(Int, Seq[Long], Long, Long)]

    def pass(compute: Array[Long]): (Array[Long], Long, Long) = {
      val z = xCols.zipWithIndex.map { case (c, j) =>
        col(c) * lit(compute(j)) }.reduce(_ + _)
      val p = floor(lit(1.0) / (lit(1.0) + exp(-(z.cast("double") / lit(1e6))))
        * lit(1e6) + lit(0.5)).cast("long")
      val d = p - col("y") * lit(1000000L)
      val aggs =
        xCols.map(c => sum(d * col(c))) ++ Seq(count(lit(1)),
          sum(when((z > 0) === (col("y") === 1), 1L).otherwise(0L)))
      val row = f.agg(aggs.head, aggs.tail: _*).collect().head
      (Array.tabulate(k)(j => row.getLong(j)), row.getLong(k), row.getLong(k + 1))
    }

    (1 to iters).foreach { it =>
      val (g, n, nCorrect) = pass(w)
      val denom = n << lrShift
      w = Array.tabulate(k)(j => w(j) - truncDiv(g(j), denom))
      out += ((it, w.toSeq, nCorrect, n))
    }
    val (_, n, ncFinal) = pass(w) // score the final model
    out += ((iters + 1, w.toSeq, ncFinal, n))
    f.unpersist()

    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(
      StructField("it", IntegerType, nullable = false) +:
        xCols.map(c => StructField(s"w_$c", LongType, nullable = false)) :+
        StructField("n_correct", LongType, nullable = false) :+
        StructField("n", LongType, nullable = false))
    val rows = out.result().map { case (it, ws, nc, nn) =>
      Row.fromSeq(it +: ws :+ nc :+ nn) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Truncating (toward-zero) int64 division — the pinned cross-engine
    * semantic (Spark DIV == DuckDB // == JVM /). */
  private def truncDiv(a: Long, b: Long): Long = a / b
}
