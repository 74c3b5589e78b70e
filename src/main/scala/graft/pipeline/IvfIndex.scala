package graft.pipeline

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.{ArrayType, IntegerType, StructType}

import graft.core.SessionState
import graft.sources.{FsIo, Ledger}

/** INCREMENTALLY-maintained IVF (inverted-file) ANN index — the
  * similarity-search twin of [[graft.sources.ZOrderLake]]: a one-shot
  * [[Similarity.ivfTopK]] recomputes centroids and assignments per
  * query, which decays the moment a stream appends; re-clustering the
  * corpus per batch is O(corpus). This index keeps ingest O(batch) the
  * way FAISS/Milvus-style systems do — LSM segments:
  *
  *   - CENTROIDS are PINNED at [[init]] (stored under `root/_centroids`):
  *     an assignment is only stable if the centroid it was made against
  *     never moves — the same reason the z-order lake pins its grid
  *     bounds. Re-centering is a rebuild, not maintenance.
  *   - each batch ASSIGNS against the pinned centroids — a broadcast
  *     pure projection (arg-min over an array of (d2, list) structs; no
  *     shuffle per row, no per-id window) — and lands as ONE new
  *     immutable SEGMENT under `root/seg/sNNNNN/`, hash-repartitioned
  *     and `partitionBy("list")` so every (segment, list) posting list
  *     is its own directory. Existing segments are never touched:
  *     per-batch cost is O(batch) however large the corpus grows.
  *   - a [[Ledger]] manifest per version lists the live segment dirs;
  *     the ledger's batchId gate makes replays no-ops (appends are not
  *     idempotent), the same exactly-once contract as the z-order and
  *     versioned lakes. Crash between write and swap leaves an orphan
  *     segment the next GC sweeps.
  *   - [[probeTopK]] reads ONLY `seg/sNNNNN/list=K` directories for the
  *     nprobe nearest lists — directory pruning, no file stats needed;
  *     probe cost ≈ (nprobe/nlists) × corpus, independent of how the
  *     corpus arrived. Scoring rides the integer-grid cosine
  *     ([[Similarity.cosineQuantized]]) so ranks are exact.
  *   - DELETES ([[applyDeleteBatch]] — decontamination, opt-out
  *     removal) land as tiny TOMBSTONE segments; visibility follows
  *     LSM sequence order (a tombstone kills only postings committed
  *     before it, so later re-inserts are live), and no posting
  *     segment is touched.
  *   - [[compact]] merges every live segment into one (probe cost is
  *     linear in segment count; compaction amortizes it) and applies
  *     tombstones physically, through the same manifest + pointer
  *     swap — a maintenance version, lastBatch unchanged.
  *
  * Reference anchor: the reference has no ANN surface; this is the
  * LLM-pipeline tier's embedding index (SURVEY §2 pipeline ops), the
  * public IVF design (Jégou et al., PAMI 2011) re-expressed as Spark
  * segments. */
object IvfIndex extends Ledger.Manifests {

  protected def kind = "IVF index"

  // The pointer's `gen` is the CENTROID GENERATION: 0 at [[init]],
  // bumped by every [[rebuild]] (re-centering re-pins `_centroids` /
  // `_codebook` / `_health_baseline` under generation-suffixed paths,
  // and the pointer swap is the one atomic commit that flips segments
  // AND metadata together — a crash mid-rebuild leaves the old
  // generation fully intact).

  /** One live segment: `dir`, the version it was committed at (the LSM
    * sequence number — a tombstone kills only postings committed
    * BEFORE it), whether it is a tombstone (vec_id-only delete)
    * segment, and the index-health stats its commit observed:
    * `sumD2u` = Σ floor(assignment-d2 · 1e6 + 0.5) over the segment's
    * postings (order-free integer sum, so the recorded value is
    * engine-exact) and `n` = posting count. `sumD2u` = -1 means
    * unknown (tombstones, compacted merges, pre-r16 manifests). */
  final case class Seg(dir: String, version: Int, tombstone: Boolean,
                       sumD2u: Long = -1L, n: Long = -1L)

  /** Manifests list live segments, oldest first. */
  type Entry = Seg

  protected def encode(e: Seg): String =
    s"${if (e.tombstone) "T" else "P"}\t${e.version}\t${e.dir}" +
      s"\t${e.sumD2u}\t${e.n}"

  // 3-field lines predate the health stats → unknown (-1)
  protected def decode(f: Array[String]): Seg =
    Seg(f(2), f(1).toInt, f(0) == "T",
      if (f.length >= 5) f(3).toLong else -1L,
      if (f.length >= 5) f(4).toLong else -1L)

  /** Generation-suffixed metadata paths: gen 0 keeps the legacy names
    * (pre-r17 indexes read unchanged); gen g > 0 appends `_g<g>` so a
    * [[rebuild]] can stage its whole generation before the one atomic
    * pointer swap commits it. */
  private def genSuffix(gen: Int) = if (gen == 0) "" else s"_g$gen"
  private[graft] def centroidsPath(root: String, gen: Int) =
    s"$root/_centroids${genSuffix(gen)}"
  private def codebookPath(root: String, gen: Int) =
    s"$root/_codebook${genSuffix(gen)}"
  private def baselinePath(root: String, gen: Int) =
    s"$root/_health_baseline${genSuffix(gen)}"

  private def currentGen(root: String, conf: Configuration): Int =
    readPointer(root, conf).map(_.gen).getOrElse(0)

  /** The held-metadata paths of generation `gen`. */
  private def genPaths(root: String, gen: Int): Seq[String] =
    Seq(centroidsPath(root, gen), codebookPath(root, gen), sqBoundsPath(root, gen))

  /** The pinned centroid table (list INT, cvec ARRAY<DOUBLE>) of the
    * CURRENT generation (the pointer resolves which — a rebuild re-pins
    * it atomically with its re-assigned segments). The DataFrame (with
    * its already-listed file index) is held per (pinned path, session)
    * in [[SessionState]] — the table never changes under a generation,
    * so re-listing it per ingest batch / probe is pure driver latency
    * (r17 optimization: guide §1.2 "don't compute things you throw
    * away"); it is bound to its session, so a restarted session never
    * reads through a dead one's relation. */
  def readCentroids(spark: SparkSession, root: String): DataFrame = {
    val gen = currentGen(root, spark.sparkContext.hadoopConfiguration)
    SessionState(centroidsPath(root, gen), Some(spark))(centroidsAt(spark, root, gen))
  }

  /** Generation `gen`'s centroid table, read with the schema its writer
    * held ([[writeCentroids]]); a process that holds none infers it
    * once. */
  private def centroidsAt(spark: SparkSession, root: String, gen: Int): DataFrame = {
    val p = centroidsPath(root, gen)
    spark.read.schema(SessionState(s"$p/#schema")(spark.read.parquet(p).schema))
      .parquet(p)
  }

  /** Pin `centroids` as generation `gen`'s (list INT, cvec) table: its
    * rows are collected once, checked and built into the generation's
    * quantizer, then written, so the table and the quantizer hold the
    * same rows and nothing is read back. Holds the quantizer and the
    * schema the table was written with; returns the pinned frame. */
  private def writeCentroids(centroids: DataFrame, root: String,
                             gen: Int): DataFrame = {
    val spark = centroids.sparkSession
    val cent = centroids.select(col("list").cast("int").as("list"), col("cvec"))
    val rows = DatasetBridge.collectRows(cent)
    val quant = buildQuantizer(spark, rows)
    val pinned = localQueryDf(spark, rows.toSeq, cent.schema)
    val p = centroidsPath(root, gen)
    pinned.coalesce(1).write.mode(SaveMode.Overwrite).parquet(p)
    SessionState(s"$p/#schema")(FsIo.asRead(cent.schema))
    holdQuantizer(spark, root, gen)(quant)
    pinned
  }

  // ---- product-quantized postings (the FAISS IVFADC layout) ----

  /** The pinned PQ codebook as cw(s)(j) = the codeword's exact
    * micro-unit subvector (m × k rows collected — bounded, e.g. 8 × 16;
    * [[Similarity.pqEncodeAdc]]'s arithmetic with the codebook PINNED
    * at init instead of re-derived per query — the same never-moves
    * argument as the centroids: codes are only stable against codewords
    * that never change). None for a raw-postings index. */
  def readCodebook(spark: SparkSession, root: String,
                   conf: Configuration): Option[Array[Array[Array[Long]]]] = {
    val p = codebookPath(root, currentGen(root, conf))
    // codebooks are PINNED per generation — hold the collected m × k
    // rows (bounded) instead of re-running a collect job per ingest
    // batch / ADC probe (r17: was one Spark job per applyBatch + one
    // per probe, pure re-read of immutable metadata)
    SessionState(p)(
      if (!FsIo.exists(conf, p)) None
      else {
        val rows = spark.read.parquet(p)
          .select(col("s"), col("j"), col("cw")).collect()
        val m = rows.map(_.getInt(0)).max + 1
        val k = rows.map(_.getInt(1)).max + 1
        val cb = Array.ofDim[Array[Long]](m, k)
        rows.foreach(r => cb(r.getInt(0))(r.getInt(1)) =
          r.getSeq[Long](2).toArray)
        Some(cb)
      })
  }

  // ---- SQ8 scalar-quantized postings (FAISS ScalarQuantizer QT_8bit) ----

  private def sqBoundsPath(root: String, gen: Int) =
    s"$root/_sq_bounds${genSuffix(gen)}"

  /** The pinned per-dimension SQ8 bounds (micro-units) as (lo, hi)
    * arrays — dim rows collected, bounded. None for a non-SQ8 index. */
  def readSqBounds(spark: SparkSession, root: String,
                   conf: Configuration): Option[(Array[Long], Array[Long])] = {
    val p = sqBoundsPath(root, currentGen(root, conf))
    // pinned per generation — held like the codebook (r17)
    SessionState(p)(
      if (!FsIo.exists(conf, p)) None
      else {
        val rows = spark.read.parquet(p)
          .select(col("pos"), col("lo"), col("hi"))
          .collect().sortBy(_.getInt(0))
        Some((rows.map(_.getLong(1)), rows.map(_.getLong(2))))
      })
  }

  private def writeSqBounds(spark: SparkSession, root: String, gen: Int,
                            lo: Array[Long], hi: Array[Long]): Unit = {
    import spark.implicits._
    lo.indices.map(i => (i, lo(i), hi(i))).toDF("pos", "lo", "hi")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(sqBoundsPath(root, gen))
  }

  /** Interpreted witness of [[graft.functions.IvfKernels.SqEncodeCodes]]
    * (same grid, same roundDiv-with-clamp, bit-identical — spec-pinned). */
  private[graft] def sqCodeCol(vecCol: Column, lo: Array[Long],
                               hi: Array[Long]): Column = {
    val span = lo.indices.map(i => hi(i) - lo(i))
    val loLit = typedLit(lo.toSeq)
    val spanLit = typedLit(span)
    transform(sequence(lit(0), lit(lo.length - 1)), i => {
      val vq = floor(element_at(vecCol, i + 1).cast("double") * 1e6 + lit(0.5))
        .cast("long")
      val sp = element_at(spanLit, i + 1)
      val s = (vq - element_at(loLit, i + 1)) * lit(255L)
      val r = when(s >= 0, floor((lit(2) * s + sp) / (lit(2) * sp)))
        .otherwise(-floor((lit(2) * -s + sp) / (lit(2) * sp))).cast("long")
      when(sp === 0, lit(0))
        .otherwise(least(greatest(r, lit(0L)), lit(255L))).cast("int")
    })
  }

  /** Decode SQ8 codes back to micro-unit-grid DOUBLE vectors:
    * x̂_i = (lo_i + roundDiv(code_i · span_i, 255)) / 1e6 — exact int64
    * arithmetic then ONE IEEE division, so decoded vectors (and every
    * cosine over them) replay bit-for-bit in an external engine. The
    * reconstruction error is ≤ span/510 per dimension — the re-rank is
    * approximate BY DESIGN (the tier trades 8× storage for it). */
  private[graft] def sqDecodeCol(sqCol: Column, lo: Array[Long],
                                 hi: Array[Long]): Column = {
    val span = lo.indices.map(i => hi(i) - lo(i))
    val loLit = typedLit(lo.toSeq)
    val spanLit = typedLit(span)
    transform(sequence(lit(0), lit(lo.length - 1)), i => {
      val c = element_at(sqCol, i + 1).cast("long")
      val sp = element_at(spanLit, i + 1)
      // code·span ≥ 0 — positive-branch roundDiv only
      val rd = floor((lit(2) * c * sp + lit(255)) / lit(510)).cast("long")
      ((element_at(loLit, i + 1) + rd).cast("double") / 1e6)
    })
  }

  /** Pin a codebook at a generation path (m × k tiny rows). */
  private def writeCodebook(spark: SparkSession, root: String, gen: Int,
                            cb: Array[Array[Array[Long]]]): Unit = {
    import spark.implicits._
    (for { s <- cb.indices; j <- cb(s).indices }
      yield (s, j, cb(s)(j).toSeq))
      .toDF("s", "j", "cw")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(codebookPath(root, gen))
  }

  /** The deterministic SAMPLED codebook: the `pqK` lowest-id vectors'
    * exact micro-unit subvectors ([[Similarity.pqEncodeAdc]]'s rule) —
    * the zero-training default, and the seeds [[trainCodebook]]
    * refines. */
  private[graft] def sampledCodebook(emb: DataFrame, idCol: String,
                                     vecCol: String, pqM: Int,
                                     pqK: Int): Array[Array[Array[Long]]] = {
    val seeds = emb.select(col(idCol).as("vec_id"),
        transform(col(vecCol),
          x => floor(x.cast("double") * 1e6 + lit(0.5))).as("vq"))
      .orderBy(col("vec_id")).limit(pqK)
      .collect().map(_.getSeq[Long](1).toArray)
    require(seeds.length == pqK, s"init corpus smaller than codebook k=$pqK")
    val dim = seeds.head.length
    require(dim % pqM == 0, s"dim $dim not divisible by m=$pqM subspaces")
    val sub = dim / pqM
    Array.tabulate(pqM, pqK)((s, j) => seeds(j).slice(s * sub, (s + 1) * sub))
  }

  /** Integer rounding of s/n with ties AWAY FROM ZERO in pure int64 —
    * the cross-engine-exact centroid-update rule (double division would
    * lose exactness past 2^53 and HALF_UP vs floor(x+0.5) disagree at
    * negative ties). Headroom: |2·s| needs int64, i.e. cluster sums of
    * micro-unit components < 4.6e18 — |element| ≲ 300 at up to ~10^10
    * rows per cluster. */
  private def roundDiv(s: Long, n: Long): Long =
    if (s >= 0) (2 * s + n) / (2 * n) else -((2 * -s + n) / (2 * n))

  /** Lloyd-train the PQ codebook per subspace on the init corpus —
    * FAISS's trained IVFADC codebooks, integer-grid exact: each
    * iteration encodes every vector against the current codebook (the
    * codegen [[graft.functions.IvfKernels.PqEncodeCodes]] kernel —
    * training cost is one encode + one (s, j, p) hash-agg per round,
    * all map-side-combinable), then every codeword component updates to
    * [[roundDiv]](Σ q, n) of its assigned subvectors' micro-units; a
    * codeword with NO assignments RETAINS its previous value (never
    * drops — the codebook stays rectangular, unlike
    * [[Similarity.kmeansLloyd]]'s drop-on-empty whole-vector
    * clustering). Deterministic end to end — sampled seeds, exact
    * int64 distances with ties to the lowest j, exact integer update —
    * so an external engine unrolls the same rounds bit-for-bit. */
  private[graft] def trainCodebook(emb: DataFrame, vecCol: String,
                                   seed: Array[Array[Array[Long]]],
                                   iters: Int): Array[Array[Array[Long]]] = {
    val m = seed.length; val k = seed(0).length; val sub = seed(0)(0).length
    var cb = seed
    val base = emb.select(col(vecCol).as("_e"))
      .localCheckpoint(false) // scanned once per round; stops re-derivation
    import org.apache.spark.sql.graft.ColumnBridge
    for (_ <- 1 to iters) {
      val rows = base
        .withColumn("_codes", ColumnBridge.column(
          graft.functions.IvfKernels.PqEncodeCodes(
            ColumnBridge.expression(col("_e")), cb)))
        .select(col("_codes"), posexplode(transform(col("_e"),
          x => floor(x.cast("double") * 1e6 + lit(0.5)))).as(Seq("i", "q")))
        .select((col("i") / lit(sub)).cast("int").as("s"),
          pmod(col("i"), lit(sub)).cast("int").as("p"), col("q"),
          element_at(col("_codes"),
            (col("i") / lit(sub)).cast("int") + 1).as("j"))
        .groupBy(col("s"), col("j"), col("p"))
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
        .collect() // m × k × sub rows — bounded (the codebook itself)
      val next = Array.tabulate(m, k)((s, j) => cb(s)(j).clone())
      rows.foreach { r => // (s, j, p, sq, n)
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          roundDiv(r.getLong(3), r.getLong(4))
      }
      cb = next
    }
    cb
  }

  /** `pq_code` column: per subspace, the arg-min codeword index over
    * the exact micro-unit grid (vq = floor(x·1e6 + 0.5), int64 d2,
    * ties to the lowest j — [[Similarity.pqEncodeAdc]]'s encode rule),
    * so an external engine replays every code bit-for-bit. INT codes:
    * at k ≤ 256 these compress to bytes at rest via parquet dictionary +
    * RLE encoding, so the stored size is code-sized, not int-sized. */
  private[graft] def pqCodeCol(vecCol: Column,
                               cb: Array[Array[Array[Long]]]): Column = {
    val m = cb.length; val k = cb(0).length; val sub = cb(0)(0).length
    val vq = transform(vecCol, x => floor(x.cast("double") * 1e6 + lit(0.5)))
    val codes = (0 until m).map { s =>
      val cands = (0 until k).map { j =>
        struct(
          aggregate(zip_with(slice(vq, s * sub + 1, sub),
            typedLit(cb(s)(j).toSeq),
            (a, b) => (a - b) * (a - b)), lit(0L), (acc, v) => acc + v).as("d2"),
          lit(j).as("j"))
      }
      array_min(array(cands: _*)).getField("j")
    }
    array(codes: _*)
  }

  /** Attach PQ codes when the index pins a codebook (no-op otherwise):
    * the codegen'd [[graft.functions.IvfKernels.PqEncodeCodes]] loop —
    * [[pqCodeCol]] is its interpreted bit-identity witness (the
    * rehearsal compares them). */
  private def withPqCode(assigned: DataFrame,
                         cb: Option[Array[Array[Array[Long]]]]): DataFrame =
    cb.map { c =>
      import org.apache.spark.sql.graft.ColumnBridge
      assigned.withColumn("pq_code", ColumnBridge.column(
        graft.functions.IvfKernels.PqEncodeCodes(
          ColumnBridge.expression(col("embedding")), c)))
    }.getOrElse(assigned)

  /** Attach SQ8 codes when the index pins bounds (no-op otherwise):
    * the codegen'd [[graft.functions.IvfKernels.SqEncodeCodes]] loop —
    * [[sqCodeCol]] is its interpreted bit-identity witness. */
  private def withSqCode(assigned: DataFrame,
                         b: Option[(Array[Long], Array[Long])]): DataFrame =
    b.map { case (lo, hi) =>
      import org.apache.spark.sql.graft.ColumnBridge
      assigned.withColumn("sq_code", ColumnBridge.column(
        graft.functions.IvfKernels.SqEncodeCodes(
          ColumnBridge.expression(col("embedding")), lo, hi)))
    }.getOrElse(assigned)

  // ---- assignment (broadcast pure projection, shared with ivfTopK) ----

  private def dist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double")) *
      (x.cast("double") - y.cast("double"))), lit(0.0), (acc, v) => acc + v)

  /** Centroids per packed broadcast row — the bound that keeps the
    * coarse quantizer's row shape sane: one `collect_list` row of ALL
    * centroids is O(nlists × dim) bytes (at nlists = 10^5, dim = 768
    * that is ~600 MB, past safe single-row limits), so the quantizer
    * CHUNKS past this size. 4096 × 768 × 8 B ≈ 25 MB per row — well
    * inside broadcast-row comfort at any realistic dimensionality. */
  val ChunkLists: Int = 4096

  /** The pinned centroid table packed into ≤[[ChunkLists]]-entry
    * broadcast rows, one per `pmod(list, nchunks)` residue (lists come
    * from clustering labels and are dense 0..nlists-1, so residues
    * balance). Returns (chunked frame with a single `cents` column,
    * nchunks). One row when the table fits — the common case. */
  private[graft] def packedChunks(centroids: DataFrame,
                                  chunkLists: Int = ChunkLists)
      : (DataFrame, Int) = {
    val cent = centroids
      .select(col("list").cast("int").as("list"), col("cvec"))
    val n = cent.count() // footer-count on the tiny _centroids table
    require(n > 0, "empty centroid table")
    val nchunks = ((n + chunkLists - 1) / chunkLists).toInt
    val packed = cent
      .groupBy(pmod(col("list"), lit(nchunks)).as("_ck"))
      .agg(collect_list(struct(col("list"), col("cvec"))).as("cents"))
      .select(col("cents"))
    (packed, nchunks)
  }

  /** Per-row arg-min struct over one packed chunk (ties break toward
    * the smaller list id, matching the oracle's `order by d2, list`). */
  private def chunkBest(vec: Column): Column =
    array_min(transform(col("cents"),
      c => struct(dist2(vec, c.getField("cvec")).as("d2"),
        c.getField("list").as("list"))))

  /** The collected coarse quantizer: list ids + the broadcast centroid
    * matrix the [[graft.functions.IvfKernels.CentroidArgMin]] kernel
    * scans. */
  private type Quantizer =
    (Array[Int], org.apache.spark.broadcast.Broadcast[Array[Array[Double]]])

  /** r17 optimization — the index's pinned metadata is held in
    * [[SessionState]]: the centroid table, quantizer, codebook and SQ8
    * bounds are keyed on a generation-suffixed path whose CONTENT NEVER
    * CHANGES once written ([[init]] / [[rebuild]] stage a fresh
    * generation; re-init and [[destroy]] evict the root, [[rebuild]] the
    * superseded generation's paths).
    * Re-reading it per ingest batch / probe was one or two Spark jobs
    * each of pure immutable-metadata latency (guide §1.2: fix the
    * algorithm's wasted passes before per-task work).
    *
    * ONE quantizer broadcast per pinned centroid table — NOT one per
    * call: the streaming sink assigns every micro-batch, and a fresh
    * nlists × dim × 8 B broadcast per trigger (~600 MB at 10^5 × 768)
    * would accumulate until the context cleaner got around to them,
    * besides re-collecting the table each time. It is bound to the
    * context that owns its broadcast: after a session restart in the
    * same JVM that broadcast is dead, and the next caller builds its
    * own; an evicted live one is destroyed. */
  private def quantizerKey(root: String, gen: Int) =
    s"${centroidsPath(root, gen)}/#quantizer"
  /** Segment schema per root: pinned at [[init]] — appends, compaction
    * and rebuild schema-check what they write against it — so no read
    * of the index's own segments infers it. */
  private def segSchemaKey(root: String) = s"$root/#segschema"

  /** The (list INT, cvec) rows of a centroid table, collected. */
  private def centroidRows(centroids: DataFrame): Array[Row] =
    DatasetBridge.collectRows(
      centroids.select(col("list").cast("int").as("list"), col("cvec")))

  /** Broadcast the collected centroid matrix, guarding the kernel's
    * memory contract LOUDLY at build time: the matrix lives whole on
    * the driver and every executor, so a table past the configured
    * bound must fail here — not OOM executors mid-ingest. Past the
    * bound the chunked HOF path (`useKernel = false`) or an IMI-style
    * two-level quantizer is the right regime. */
  private def buildQuantizer(spark: SparkSession,
                             centroidRows: Array[Row]): Quantizer = {
    val rows = centroidRows.sortBy(_.getInt(0))
    require(rows.nonEmpty, "empty centroid table")
    val lists = rows.map(_.getInt(0))
    val mat = rows.map(_.getSeq[Any](1).map {
      case n: Number => n.doubleValue()
    }.toArray)
    val bytes = mat.length.toLong * mat.head.length * 8
    val maxBytes = spark.conf
      .getOption("spark.graft.ivf.maxCentroidMatrixBytes")
      .map(_.toLong).getOrElse(1L << 30)
    require(bytes <= maxBytes,
      s"centroid matrix ${mat.length} lists x ${mat.head.length} dims = " +
        s"$bytes B exceeds spark.graft.ivf.maxCentroidMatrixBytes=" +
        s"$maxBytes — every executor holds the full matrix; raise the " +
        "bound only with the headroom, or assign via the chunked HOF " +
        "path (useKernel = false)")
    (lists, spark.sparkContext.broadcast(mat))
  }

  private def pinnedQuantizer(spark: SparkSession, root: String,
                              gen: Int): Quantizer =
    holdQuantizer(spark, root, gen)(
      buildQuantizer(spark, centroidRows(centroidsAt(spark, root, gen))))

  private def holdQuantizer(spark: SparkSession, root: String, gen: Int)(
      build: => Quantizer): Quantizer =
    SessionState(quantizerKey(root, gen), Some(spark.sparkContext))(
      build, (q: Quantizer) => q._2.destroy())

  /** The JIT arg-min struct(d2, list) column over a built quantizer —
    * the kernel projection both [[assignWithDist]] and the SQ8 rebuild
    * (which must CARRY extra columns through assignment) share. */
  private def argminCol(quant: Quantizer, vec: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.IvfKernels.CentroidArgMin(
      ColumnBridge.expression(vec), quant._1, quant._2))
  }

  /** (vec_id, list, embedding, _d2u) under the PINNED centroids, where
    * `_d2u` = floor(d2 · 1e6 + 0.5) — the integer-grid assignment
    * distance the health ledger sums (order-free, engine-exact).
    *
    * DEFAULT (kernel) path: the centroid matrix collects driver-side
    * once (sorted by list), broadcasts as a Spark variable (or arrives
    * pre-built via `quant` — the one [[SessionState]] holds per
    * generation, so streaming ingest reuses ONE broadcast across
    * micro-batches), and every row runs ONE JIT-compiled arg-min loop
    * ([[graft.functions.IvfKernels.CentroidArgMin]]) inside whole-stage
    * codegen — a pure projection at ANY nlists, no packed row, no
    * shuffle. The interpreted HOF formulation it replaces cost
    * ~280 µs/row at nlists 256 × dim 64 (PLANS.md item 104) — the
    * difference between a scan-speed ingest and a 10^6-core-hour one
    * at 10^10 vectors. Matrix memory bound = nlists × dim × 8 B per
    * executor (the coarse quantizer FAISS would hold in RAM anyway),
    * guarded loudly in [[buildQuantizer]].
    *
    * HOF fallback (`useKernel = false`, and the bit-identity witness
    * the rehearsal pins): single-chunk = broadcast packed-row
    * projection; past [[ChunkLists]], bounded chunk rows + a NARROW
    * per-row-id struct-min (embeddings do NOT ride the shuffle) +
    * equi-join back — keyed on a materialized per-row id, NOT vec_id,
    * so duplicate vec_ids within a batch keep per-row assignment
    * exactly as the kernel and single-chunk regimes do. All paths
    * bit-identical — same fold order, same (d2, list) tie-break. */
  private[graft] def assignWithDist(df: DataFrame, idCol: String,
                                    vecCol: String, centroids: DataFrame,
                                    chunkLists: Int = ChunkLists,
                                    useKernel: Boolean = true,
                                    quant: Option[Quantizer] = None)
      : DataFrame = {
    val base = df.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
    val withBest =
      if (useKernel) {
        val q = quant.getOrElse(buildQuantizer(base.sparkSession, centroidRows(centroids)))
        base.withColumn("_best", argminCol(q, col("embedding")))
      } else {
        val (packed, nchunks) = packedChunks(centroids, chunkLists)
        if (nchunks == 1)
          base.crossJoin(broadcast(packed))
            .withColumn("_best", chunkBest(col("embedding")))
        else {
          // localCheckpoint pins the per-row ids: monotonically
          // _increasing_id is only stable within one materialization,
          // and this frame is consumed twice (min side + join-back)
          val withId = base
            .withColumn("_rid", monotonically_increasing_id())
            .localCheckpoint(false)
          val mins = withId.crossJoin(broadcast(packed))
            .select(col("_rid"), chunkBest(col("embedding")).as("_cand"))
            .groupBy(col("_rid")).agg(min(col("_cand")).as("_best"))
          withId.join(mins, "_rid").drop("_rid")
        }
      }
    withBest.select(col("vec_id"), col("_best").getField("list").as("list"),
      col("embedding"),
      floor(col("_best").getField("d2") * 1e6 + lit(0.5))
        .cast("long").as("_d2u"))
  }

  /** (vec_id, list, embedding) under the PINNED centroids — the public
    * assignment surface ([[assignWithDist]] without the health column). */
  def assign(df: DataFrame, idCol: String, vecCol: String,
             centroids: DataFrame): DataFrame =
    assignWithDist(df, idCol, vecCol, centroids).drop("_d2u")

  private def segDir(root: String, version: Int) = f"$root/seg/s$version%05d"
  private def delDir(root: String, version: Int) = f"$root/del/d$version%05d"

  /** One immutable segment: a batch-sized hash shuffle on `list`, then
    * one directory per posting list. Returns the segment's health stats
    * (Σ `_d2u`, row count) collected as OBSERVED metrics riding the
    * write job itself — zero extra jobs, and the integer sum is
    * order-free so the recorded value is deterministic. A frame without
    * `_d2u` (compaction merges) records (-1, n); it observes a NULL
    * `_d2u`, so every segment write runs the same metrics aggregate. */
  private def writeSegment(assigned: DataFrame, dir: String): (Long, Long) = {
    val hasD2 = assigned.columns.contains("_d2u")
    val obs = org.apache.spark.sql.Observation()
    val frame = (if (hasD2) assigned
                 else assigned.withColumn("_d2u", lit(null).cast("long")))
      .observe(obs, sum(col("_d2u")).as("s"), count(lit(1)).as("n"))
      .drop("_d2u")
    frame.repartition(col("list"))
      .write.mode(SaveMode.Overwrite).partitionBy("list").parquet(dir)
    val spark = assigned.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    if (!FsIo.listFilesRecursive(conf, dir).exists(_.endsWith(".parquet"))) {
      // zero-row segment (e.g. compacting a fully-tombstoned index): a
      // zero-row partitionBy write leaves no part files (only _SUCCESS),
      // so every later read would fail Parquet schema inference — AND
      // AQE's empty-relation propagation pruned the metrics node, so
      // there is nothing to await. Rewrite as ONE schema-bearing
      // non-partitioned file (`list` becomes a plain data column;
      // probes see no list= dirs, correctly nothing).
      FsIo.delete(conf, dir)
      spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], frame.schema)
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
      return (-1L, 0L)
    }
    val m = awaitMetrics(obs, dir)
    val n = m("n").asInstanceOf[Long]
    val s = if (hasD2) Option(m("s")).map(_.asInstanceOf[Long]).getOrElse(0L)
            else -1L
    (s, n)
  }

  /** Observed metrics arrive through an async listener bus; the write
    * has already completed, so this is a latency wait, not a compute
    * wait — bounded, loud on miss (a silent fallback would hide a
    * listener regression as zeroed health stats). */
  private def awaitMetrics(obs: org.apache.spark.sql.Observation,
                           what: String): Map[String, Any] = {
    @volatile var m: Map[String, Any] = Map.empty
    val waiter = new Thread(() => { m = obs.get })
    waiter.setDaemon(true)
    waiter.start()
    waiter.join(120000) // listener-bus latency headroom, not compute
    require(m.nonEmpty, s"observed metrics never fired for $what")
    m
  }

  /** Initialize: pin the centroids, write segment 0 from `emb`. The
    * centroid table must be (list, cvec) with distinct int lists —
    * callers bring their own clustering (label means, k-means, a
    * sample); the index only promises it never moves. Segment 0's mean
    * assignment distance is recorded as the index's health BASELINE:
    * the pinned-centroid contract has no re-centering, so recall decay
    * shows up as later batches' mean d2 drifting off this number.
    *
    * `pqM` > 0 pins a PRODUCT-QUANTIZATION codebook too (`pqM`
    * subspaces × `pqK` codewords — the deterministic sampled codebook:
    * the `pqK` lowest-id init vectors' micro-unit subvectors, exactly
    * [[Similarity.pqEncodeAdc]]'s rule; `pqTrainIters` > 0 refines it
    * with [[trainCodebook]]'s per-subspace integer-grid Lloyd rounds —
    * the FAISS trained-codebook mode, worth its one-encode-per-round
    * cost when the sampled seeds sit far off the data) and every
    * segment then stores
    * `pq_code: ARRAY<INT>` alongside the raw vector: an [[Adc]] probe
    * scans ONLY the code column (parquet column pruning) and reads
    * raw vectors only in its re-rank pass — at 10^10 × 768-dim
    * float64 postings that is the ~32× probe-I/O cut that makes the
    * FAISS IVFADC layout the 100-TB shape. Keeping the raw column
    * costs storage but buys exact re-rank; `storeRaw = false` drops it
    * — the CODE-ONLY tier (requires `pqM > 0`): segments hold only
    * (vec_id, list, pq_code), ~storage/32 at 768-dim float64, served
    * ADC-only (the [[Adc]] scorer with
    * `rerank = 0`; exact on the codes' L2 order only — no refine pass
    * exists, and [[rebuild]] needs the source corpus again).
    *
    * `sq8 = true` is the MIDDLE storage tier (FAISS ScalarQuantizer
    * QT_8bit): the raw column is replaced by `sq_code: ARRAY<INT>` —
    * per-dimension 8-bit codes against bounds PINNED at init from the
    * init corpus's per-dim min/max (`_sq_bounds`; out-of-bounds later
    * batches CLAMP — the pinned-quantizer contract, drift shows in
    * [[health]] and the remedy is [[rebuild]]). ~8× at-rest cut at
    * float64 with re-rank RETAINED: probes decode the int64 grid
    * reconstruction (error ≤ span/510 per dim) and rank its cosine —
    * approximate by design, deterministic end to end. [[rebuild]]
    * re-assigns the decoded vectors and carries all codes. */
  def init(emb: DataFrame, idCol: String, vecCol: String,
           centroids: DataFrame, root: String,
           pqM: Int = 0, pqK: Int = 16, pqTrainIters: Int = 0,
           storeRaw: Boolean = true, sq8: Boolean = false): Unit = {
    require(storeRaw || pqM > 0,
      "code-only postings (storeRaw = false) need a PQ codebook — init with pqM > 0")
    require(!sq8 || storeRaw,
      "sq8 REPLACES the raw column — it cannot combine with storeRaw = false")
    val spark = emb.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    FsIo.mkdirs(conf, root)
    // re-init semantics: a stale pointer (possibly at gen > 0) must not
    // resolve metadata while generation-0 files are being rewritten
    Ledger.dropPointer(root, conf)
    SessionState.evict(root)
    val cent = writeCentroids(centroids, root, 0)
    val cb: Option[Array[Array[Array[Long]]]] =
      if (pqM == 0) None
      else {
        val cb0 = sampledCodebook(emb, idCol, vecCol, pqM, pqK)
        val cbT = if (pqTrainIters > 0)
          trainCodebook(emb, vecCol, cb0, pqTrainIters) else cb0
        writeCodebook(spark, root, 0, cbT)
        Some(cbT)
      }
    val sqB: Option[(Array[Long], Array[Long])] =
      if (!sq8) None
      else {
        val vq = emb.select(posexplode(transform(col(vecCol),
            x => floor(x.cast("double") * 1e6 + lit(0.5)).cast("long")))
          .as(Seq("pos", "q")))
          .groupBy(col("pos"))
          .agg(min(col("q")).as("lo"), max(col("q")).as("hi"))
          .collect().sortBy(_.getInt(0)) // dim rows — bounded
        require(vq.nonEmpty, "empty init corpus for SQ8 bounds")
        val b = (vq.map(_.getLong(1)), vq.map(_.getLong(2)))
        writeSqBounds(spark, root, 0, b._1, b._2)
        Some(b)
      }
    val assigned = withSqCode(withPqCode(
      assignWithDist(emb, idCol, vecCol, cent,
        quant = Some(pinnedQuantizer(spark, root, 0))), cb), sqB)
    val segment = if (storeRaw && !sq8) assigned else assigned.drop("embedding")
    val (s0, n0) = writeSegment(segment, segDir(root, 0))
    FsIo.writeBytes(conf, baselinePath(root, 0),
      s"$s0 $n0".getBytes(StandardCharsets.UTF_8))
    commit(root, Pointer(0, -1L),
      Seq(Seg(segDir(root, 0), 0, tombstone = false, s0, n0)), 0, conf)
    holdPinned(root, 0, cb, sqB, segment)
  }

  /** Seed the held codebook and SQ8 bounds of generation `gen`, and the
    * segment schema, with what the writer of `segment` already has, so
    * the first batch after an init or a rebuild reads none of them back.
    * Called once the commit is durable: a failed rebuild leaves nothing
    * held for its generation. */
  private def holdPinned(root: String, gen: Int,
                         cb: Option[Array[Array[Array[Long]]]],
                         sqB: Option[(Array[Long], Array[Long])],
                         segment: DataFrame): Unit = {
    SessionState(codebookPath(root, gen))(cb)
    SessionState(sqBoundsPath(root, gen))(sqB)
    SessionState(segSchemaKey(root))(segmentSchema(segment))
  }

  /** The read schema of a segment written from `segment`: its file
    * columns as a read reports them, then the `list` partition column. */
  private def segmentSchema(segment: DataFrame): StructType =
    StructType(FsIo.asRead(segment.drop("_d2u").schema).filterNot(_.name == "list"))
      .add("list", IntegerType)

  /** Reject a segment frame whose columns differ from the index's
    * (names AND types): unionByName in reads/probes silently coerces
    * (float ∪ double → double), so a drifted segment would poison every
    * later reader with mixed precisions across segments. */
  private def requireSegmentSchema(spark: SparkSession, root: String,
                                   segs: => Seq[Seg], segment: DataFrame,
                                   what: String): Unit = {
    def cols(t: StructType) = t.map(f => (f.name, f.dataType.simpleString)).sortBy(_._1)
    val index = cols(segSchemas(spark, root, segs)._1)
    val got = cols(segmentSchema(segment))
    require(got == index, s"$what schema $got does not match index schema $index")
  }

  /** Append one batch as a new segment; existing segments carry by
    * reference (never read, never rewritten). Exactly-once via the
    * pointer's batchId gate. The batch's (vec_id, embedding) schema
    * must match the stored segments' exactly (names AND types):
    * unionByName in reads/probes silently coerces (float ∪ double →
    * double), so a drifted batch would poison every later reader with
    * mixed precisions across segments — fail HERE, at the commit. */
  def applyBatch(batch: DataFrame, idCol: String, vecCol: String,
                 root: String, batchId: Long, retain: Int = 2): Unit =
    applyOnce(root, batchId, batch.sparkSession.sparkContext.hadoopConfiguration)(
      appendBatch(batch, idCol, vecCol, root, _, batchId, retain))

  /** [[applyBatch]] behind the replay gate; false for an empty batch. */
  private def appendBatch(batch: DataFrame, idCol: String, vecCol: String,
                          root: String, p: Pointer, batchId: Long,
                          retain: Int): Boolean = {
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    // empty batches still commit pointer-only (no segment, no version) —
    // but emptiness is discovered from the segment write's OBSERVED row
    // count below instead of a dedicated `batch.isEmpty` pre-scan: that
    // probe was one whole Spark job per streaming trigger spent
    // re-deriving the batch plan, paid on every commit to serve the rare
    // empty case (r17; guide §1.2 — same manifests/pointer either way).
    // DELIBERATELY stricter than pre-r17 in one corner: an empty batch
    // whose FRAME SCHEMA drifted now fails the require below (it used to
    // commit pointer-only unvalidated) — failing fast on a drifted
    // producer is the safer contract even when the batch carries no rows
    val manifest = readManifest(root, p.version, conf)
    val segFields = segSchemas(spark, root, manifest)._1
    val assigned0 = withSqCode(withPqCode(
      assignWithDist(batch, idCol, vecCol, readCentroids(spark, root),
        quant = Some(pinnedQuantizer(spark, root, p.gen))),
      readCodebook(spark, root, conf)),
      if (segFields.fieldNames.contains("sq_code"))
        readSqBounds(spark, root, conf) else None)
    // code-only / SQ8 index: the batch brings raw vectors for
    // assignment + encoding, but the raw column never lands
    val assigned =
      if (segFields.fieldNames.contains("embedding")) assigned0
      else assigned0.drop("embedding")
    requireSegmentSchema(spark, root, manifest, assigned, "batch")
    val next = p.version + 1
    val dir = segDir(root, next)
    val (s, n) = writeSegment(assigned, dir)
    if (n == 0L) {
      // empty batch: the exact pre-r17 outcome — no manifest version, a
      // pointer-only lastBatch bump; the just-written empty segment dir
      // is residue (a crash here leaves it for GC, as crash-before-swap
      // always has)
      FsIo.delete(conf, dir)
      return false
    }
    sweep(root, commit(root, Pointer(next, batchId, p.gen),
      manifest :+ Seg(dir, next, tombstone = false, s, n), retain, conf), conf)
    true
  }

  /** Index-health snapshot — the clamp-fraction lesson applied to the
    * ANN tier: centroids are PINNED, so the one silent failure mode is
    * the data distribution walking away from them (recall decays while
    * every query still "works"). `drift` = (latest ingest batch's mean
    * assignment d2) / (init-time baseline mean) — both integer-grid
    * micro-unit means recorded at commit time, no recompute. `None`
    * when unknown (pre-r16 manifests, no baseline file). Probe cost is
    * linear in `postingSegs`; past ~64 live segments compaction is
    * overdue ([[graft.streaming.Streams.ivfSinkVersioned]] auto-compacts). */
  final case class Health(baselineMeanD2: Option[Double],
                          lastBatchMeanD2: Option[Double],
                          drift: Option[Double],
                          postingSegs: Int, tombstoneSegs: Int)

  def health(root: String,
             conf: Configuration = new Configuration()): Health = {
    val p = pointer(root, conf)
    val segs = readManifest(root, p.version, conf)
    val (tomb, post) = segs.partition(_.tombstone)
    val bp = baselinePath(root, p.gen)
    val base =
      if (!FsIo.exists(conf, bp)) None
      else {
        val f = new String(FsIo.readBytes(conf, bp),
          StandardCharsets.UTF_8).trim.split("\\s+")
        val (s, n) = (f(0).toLong, f(1).toLong)
        if (s >= 0 && n > 0) Some(s.toDouble / n / 1e6) else None
      }
    val last = post.filter(e => e.sumD2u >= 0 && e.n > 0).lastOption
      .map(e => e.sumD2u.toDouble / e.n / 1e6)
    val drift = for (b <- base; l <- last; if b > 0) yield l / b
    Health(base, last, drift, post.size, tomb.size)
  }

  /** DELETE a batch of ids — the decontamination / opt-out removal
    * path: the ids land as one tiny TOMBSTONE segment; no posting
    * segment is touched (per-batch cost O(delete batch)). Visibility
    * follows LSM sequence order: a tombstone at version v kills only
    * postings committed at versions < v, so a LATER re-insert of the
    * same id is live again. [[compact]] applies tombstones physically
    * and drops them. Same batchId exactly-once gate as inserts. */
  def applyDeleteBatch(ids: DataFrame, idCol: String, root: String,
                       batchId: Long, retain: Int = 2): Unit = {
    val conf = ids.sparkSession.sparkContext.hadoopConfiguration
    applyOnce(root, batchId, conf) { p =>
      if (ids.isEmpty) false
      else {
        val next = p.version + 1
        val dir = delDir(root, next)
        ids.select(col(idCol).cast("long").as("vec_id")).distinct()
          .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
        sweep(root, commit(root, Pointer(next, batchId, p.gen),
          readManifest(root, p.version, conf) :+
            Seg(dir, next, tombstone = true), retain, conf), conf)
        true
      }
    }
  }

  /** All live tombstones as (vec_id, _del_v), or None when the index
    * carries none (the common case skips the anti-join entirely). One
    * file scan over every tombstone dir; `_del_v` parses from the file
    * path (see [[versioned]]). */
  private def tombstones(spark: SparkSession,
                         segs: Seq[Seg]): Option[DataFrame] = {
    val t = segs.filter(_.tombstone)
    if (t.isEmpty) None
    else Some(spark.read.schema("vec_id BIGINT").parquet(t.map(versioned): _*)
      .select(col("vec_id"), fromPath(DelVersionOfPath).as("_del_v")))
  }

  /** Segment and tombstone dirs end in their version (`seg/sNNNNN`,
    * `del/dNNNNN`), which is what lets one file scan over many dirs tag
    * each row from its path; the dir is returned checked. */
  private def versioned(e: Seg): String = {
    val tail = if (e.tombstone) f"/del/d${e.version}%05d" else f"/seg/s${e.version}%05d"
    require(e.dir.endsWith(tail), s"segment dir ${e.dir} is not named for version ${e.version}")
    e.dir
  }

  /** An int parsed from each row's file path by the first group of
    * `re`. The patterns are constants, so a scan tagged this way
    * compiles the same classes whichever dirs it reads; a `lit` per dir
    * inlines its int and compiles a new class per dir. */
  private def fromPath(re: String): Column =
    regexp_extract(col("_metadata.file_path"), re, 1).cast("int")
  private val ListOfPath = "/list=(-?\\d+)/[^/]*$"
  private val SegVersionOfPath = "/seg/s(\\d+)/list=-?\\d+/[^/]*$"
  private val DelVersionOfPath = "/del/d(\\d+)/[^/]*$"

  /** Segment read schemas, held in [[SessionState]] (`full` = with the
    * `list` partition column, `file` = the leaf files under a `list=K`
    * dir, without it): segment layout is pinned at [[init]] (commits
    * schema-check against it; compaction/rebuild preserve the column
    * set), yet every probe pass re-inferred it from parquet footers per
    * (segment × list) directory — pure driver latency on immutable
    * metadata (r17). */
  private def segSchemas(spark: SparkSession, root: String,
                         segs: => Seq[Seg]): (StructType, StructType) = {
    val full = SessionState(segSchemaKey(root))(
      spark.read.parquet(segs.filterNot(_.tombstone).head.dir).schema)
    (full, StructType(full.filterNot(_.name == "list")))
  }

  /** The `list=K` dirs of the live posting segments whose list is
    * `wanted`: ONE directory listing per segment (a list can be empty
    * in a segment), never a per-(segment × list) existence probe — on
    * an object store each `exists` is a round-trip HEAD, and S segments
    * × nprobe lists of them would serialize before any work starts. A
    * zero-row segment has no `list=K` dir, so it adds none. */
  private def postingDirs(conf: Configuration, segs: Seq[Seg],
                          wanted: Int => Boolean): Seq[String] =
    for {
      seg <- segs if !seg.tombstone
      l <- FsIo.listDirNames(conf, seg.dir).filter(_.startsWith("list="))
        .map(_.stripPrefix("list=").toInt).sorted if wanted(l)
    } yield s"${versioned(seg)}/list=$l"

  /** LSM visibility: drop postings whose segment version precedes a
    * matching tombstone. Equi-join on vec_id with the version
    * inequality as a residual condition — never a cartesian. */
  private def applyTombstones(postings: DataFrame,
                              tombs: Option[DataFrame]): DataFrame =
    tombs match {
      case None => postings
      case Some(t) =>
        postings.join(t,
          postings("vec_id") === t("vec_id") &&
            postings("_seg_v") < t("_del_v"), "left_anti")
    }

  /** Every posting across the live segments: (vec_id, list
    * [, embedding unless code-only/SQ8][, sq_code for an SQ8 index]
    * [, pq_code for a PQ index]) — the [[candidates]] scan over every
    * `list=K` dir. */
  def currentAll(spark: SparkSession, root: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = pointer(root, conf)
    val segs = readManifest(root, p.version, conf)
    val all = candidates(spark, segs, postingDirs(conf, segs, _ => true),
      segSchemas(spark, root, segs)._2)
    all.select((Seq("vec_id", "list") ++ Seq("embedding", "sq_code", "pq_code")
      .filter(all.columns.contains)).map(col): _*)
  }

  /** Driver-side twin of [[probeLists]] for one query vector over the
    * CACHED quantizer matrix — bit-identical arithmetic (same
    * left-to-right IEEE fold as [[dist2]], exact float→double widening,
    * same (d2 asc, list asc) tie order via java.lang.Double.compare =
    * Spark's double sort) with zero Spark jobs. Only taken when this
    * JVM already holds the pinned matrix (ingest built it) — a
    * probe-only process never pays the matrix collect, and nlists past
    * the kernel's memory bound keep the distributed form. */
  private def probedListsLocal(quant: Quantizer, q: Array[Double],
                               nprobe: Int): Seq[Int] = {
    val lists = quant._1; val mat = quant._2.value
    val scored = Array.tabulate(lists.length) { i =>
      val c = mat(i); var d = 0.0; var j = 0
      while (j < c.length) { val diff = c(j) - q(j); d += diff * diff; j += 1 }
      (d, lists(i))
    }
    scored.sortWith { (a, b) =>
      val c = java.lang.Double.compare(a._1, b._1)
      if (c != 0) c < 0 else a._2 < b._2
    }.take(nprobe).map(_._2).toSeq
  }

  /** Collected rows rebuilt as a LOCAL relation: the scoring pass
    * broadcasts the queries, and broadcasting the caller's frame
    * re-executes its plan (a scan + filter in the common serve path)
    * once more per probe. Values ride unchanged, so every downstream
    * comparison is bit-identical. */
  private def localQueryDf(spark: SparkSession, rows: Seq[Row],
                           schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Per-query probe lists over the PINNED centroids: per-(query ×
    * chunk) top-nprobe struct arrays (sorted slice, (d2, list) tie
    * order) merge per qid by flatten + re-sort + slice. With one chunk
    * (the common case) the merge is a trivial ≤nprobe-row groupBy over
    * the serving-sized query frame; with many it is what bounds the
    * broadcast row (see [[ChunkLists]]). Returns (qid, qvec,
    * probe_lists), checkpointed — every caller consumes it twice (list
    * union + candidate join). */
  private def probeLists(queries: DataFrame, centroids: DataFrame,
                         nprobe: Int): DataFrame = {
    val (packed, _) = packedChunks(centroids)
    queries.select(col("qid"), col("qvec"))
      .crossJoin(broadcast(packed))
      .withColumn("_chunk_top",
        slice(array_sort(transform(col("cents"),
          c => struct(dist2(col("qvec"), c.getField("cvec")).as("d2"),
            c.getField("list").as("list")))), 1, nprobe))
      .groupBy(col("qid"))
      .agg(first(col("qvec")).as("qvec"),
        transform(slice(array_sort(flatten(collect_list(col("_chunk_top")))),
          1, nprobe), s => s.getField("list")).as("probe_lists"))
      .localCheckpoint(false)
  }

  /** List selection: (qid, qvec, probe_lists) per query, the union of
    * the probed lists, and whether the frame is one row that took the
    * driver-side path. When this JVM holds the pinned quantizer, the
    * frame is collected and every query picks its lists driver-side
    * ([[probedListsLocal]]); the rows come back as a local relation.
    * The scorer broadcasts the frame anyway, so the collect adds no new
    * memory bound. A process without the quantizer, or a frame with a
    * null or wrong-length vector, takes [[probeLists]] and one collect
    * of the list union (bounded by nlists, not by query count). */
  private def selectLists(spark: SparkSession, root: String, gen: Int,
                          queries: DataFrame, nprobe: Int)
      : (DataFrame, Seq[Int], Boolean) = {
    val local = SessionState.get[Quantizer](quantizerKey(root, gen),
        spark.sparkContext).flatMap { quant =>
      val rows = DatasetBridge.collectRows(queries)
      val dim = quant._2.value.headOption.map(_.length).getOrElse(-1)
      if (rows.exists(r => r.isNullAt(1) || r.getSeq[Any](1).length != dim)) None
      else {
        val lists = rows.map(r => probedListsLocal(quant,
          r.getSeq[Any](1).map { case n: Number => n.doubleValue() }.toArray, nprobe))
        Some((localQueryDf(spark,
            rows.zip(lists).map { case (r, l) => Row.fromSeq(r.toSeq :+ l) }.toSeq,
            // non-nullable: no inferred NULL filter for the optimizer to
            // evaluate (and compile) over the local relation
            queries.schema.add("probe_lists",
              ArrayType(IntegerType, containsNull = false), nullable = false)),
          lists.flatten.distinct.sorted.toSeq, rows.length == 1))
      }
    }
    local.getOrElse {
      val qLists = probeLists(queries, readCentroids(spark, root), nprobe)
      (qLists, qLists.select(explode(col("probe_lists")).as("list"))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted, false)
    }
  }

  /** The candidate scan: every posting of the probed `list=K`
    * directories as (file columns, list, _seg_v), tombstones applied.
    * ONE file scan over all the directories, with `list` and `_seg_v`
    * parsed from each row's file path, so a probe compiles the same
    * classes whichever segments and lists it opens. Scorers select what
    * they read, so parquet column pruning keeps an ADC pass off the raw
    * vectors. No probed directory gives a typed empty local relation:
    * every scorer's plan then runs unchanged and returns zero rows with
    * exactly its non-empty columns and types. */
  private def candidates(spark: SparkSession, segs: Seq[Seg],
                         dirs: Seq[String],
                         fileSchema: StructType): DataFrame = {
    val scan =
      if (dirs.isEmpty)
        localQueryDf(spark, Nil, fileSchema.add("list", IntegerType)
          .add("_seg_v", IntegerType))
      else
        spark.read.schema(fileSchema).parquet(dirs: _*)
          .select(fileSchema.fieldNames.toSeq.map(col) ++ Seq(
            fromPath(ListOfPath).as("list"),
            fromPath(SegVersionOfPath).as("_seg_v")): _*)
    applyTombstones(scan, tombstones(spark, segs))
  }

  /** Loud reject for operations that need (a reconstruction of) the
    * vectors on a CODE-ONLY index: raw and SQ8 indexes both qualify
    * (SQ8 serves the decoded int64-grid reconstruction); PQ codes alone
    * do not — there is nothing to re-rank or re-assign against. */
  private def requireRerankable(spark: SparkSession, root: String,
                                segs: => Seq[Seg], op: String): Unit = {
    val fields = segSchemas(spark, root, segs)._1.fieldNames
    require(fields.contains("embedding") || fields.contains("sq_code"),
      s"IVF index at $root is code-only (no raw or SQ8 vectors stored) — " +
        s"$op needs them; serve with the scorer Adc(0) (ADC-only), or " +
        "re-init from the source corpus with storeRaw = true or sq8 = true")
  }

  /** df → df with an `embedding` column: the raw one when stored, else
    * the SQ8 reconstruction decoded on the fly (exact int64 grid — see
    * [[sqDecodeCol]]). Code-only frames pass through (callers guard
    * with [[requireRerankable]] first). */
  private def embedded(spark: SparkSession, root: String,
                       conf: Configuration): DataFrame => DataFrame = {
    lazy val b = readSqBounds(spark, root, conf)
    df =>
      if (df.columns.contains("embedding")) df
      else b match {
        case Some((lo, hi)) if df.columns.contains("sq_code") =>
          df.withColumn("embedding", sqDecodeCol(col("sq_code"), lo, hi))
        case _ => df
      }
  }

  /** How a probe ranks its candidates. */
  sealed trait Scorer
  /** Integer-grid cosine ([[Similarity.cosineQuantized]]) over the raw
    * vectors, or the SQ8 reconstruction on an SQ8 index. */
  case object Cosine extends Scorer
  /** IVFADC over the PQ codes; the top `rerank` per query re-rank by
    * integer-grid cosine, and `rerank = 0` serves ADC-only. */
  final case class Adc(rerank: Int) extends Scorer

  /** Per-qid top-`n` by `score`, then (vec_id, _seg_v): `_seg_v` is the
    * final tie-break, because an id live in two segments (re-insert
    * without delete) ties on (score, vec_id), and which posting
    * survives the cut must be deterministic for the replays-bit-for-bit
    * contract. Spark plans the `rank <= n` filter as a partial
    * WindowGroupLimit, so only ≤n rows per query and partition shuffle.
    * A one-row frame whose lists were picked driver-side (`one`) ranks
    * with `orderBy.limit` instead:
    * TakeOrderedAndProject keeps its shuffle inside one job, where the
    * window's hash exchange costs adaptive execution a job of its own
    * (3 jobs per single probe against 2). */
  private def ranked(scored: DataFrame, n: Int, score: Column,
                     one: Boolean): DataFrame = {
    val order = Seq(score, col("vec_id"), col("_seg_v"))
    if (one)
      scored.orderBy(order: _*).limit(n)
        .withColumn("rank", row_number().over(Window.orderBy(order: _*)))
    else
      scored.withColumn("rank",
          row_number().over(Window.partitionBy(col("qid")).orderBy(order: _*)))
        .filter(col("rank") <= n)
  }

  private def withCosine(df: DataFrame): DataFrame =
    // both operands normalize to double: SQ8 decodes to ARRAY<DOUBLE>
    // while queries may arrive float (float→double is exact)
    df.withColumn("cosine",
      Similarity.cosineQuantized(col("embedding").cast("array<double>"),
        col("qvec").cast("array<double>")))

  /** Per-query top-k for a (qid, qvec) query frame over the nprobe
    * nearest lists — the one probe; [[probeTopK]] is a batch of one.
    * Lists are picked per query on the driver when this JVM holds the
    * pinned quantizer ([[selectLists]]). Only the union of the probed
    * `seg/sNNNNN/list=K` directories opens, in one file scan, so the
    * candidate scan is ~(nprobe/nlists) of the corpus; candidates join
    * the broadcast queries on list membership and rank per qid.
    * Queries are broadcast, so the batch should be serving-sized
    * (≲10^5); corpus-scale "queries" are a self-join, not a probe.
    *
    * Output (qid, rank, vec_id, list, then per scorer):
    *   - [[Cosine]]: `cosine`;
    *   - `Adc(0)`: `adc_u`, the exact int64 micro-unit² ADC distance;
    *   - `Adc(rerank)`: `adc_u, cosine`.
    *
    * [[Adc]] is the IVFADC + refine serving shape (Jégou et al. PAMI
    * 2011; FAISS ships it as IndexIVFPQ + refine). Its first pass scans
    * ONLY (vec_id, pq_code) of the probed directories, the ~32×
    * posting-read cut that makes PQ the 100-TB layout. Each query's
    * m × k ADC table computes columnar once, so a candidate costs m
    * table lookups. The top `rerank` per query (adc_u asc) then join
    * one raw (or SQ8-decoded) read of the probed directories on
    * (vec_id, _seg_v) — an id re-inserted across segments re-ranks the
    * posting ADC chose — and rank by integer-grid cosine. Codes, tables
    * and both rankings are exact integer arithmetic, so an external
    * engine replays the probe bit-for-bit; `rerank` bounds the
    * recall/IO trade like FAISS's k_factor.
    *
    * Metric note: the ADC pool is L2-ranked (codes quantize raw
    * coordinates) while the refine pass ranks by cosine — the standard
    * IVFADC pairing, which converges to the exact cosine probe as
    * `rerank` grows and is a faithful shortcut when vectors are
    * near-constant-norm (normalized embeddings, the common case; L2
    * order ≡ cosine order there). For wildly varying norms, size
    * `rerank` generously or probe with [[Cosine]]; PLANS.md item 102
    * records the recall-vs-rerank curve. */
  def probeTopKBatch(spark: SparkSession, root: String, queries: DataFrame,
                     k: Int, nprobe: Int, scorer: Scorer = Cosine): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = pointer(root, conf)
    val segs = readManifest(root, p.version, conf)
    val codebook = scorer match {
      case Adc(rerank) =>
        require(rerank == 0 || rerank >= k,
          s"rerank=$rerank must be >= k=$k, or 0 for ADC-only serving")
        Some(readCodebook(spark, root, conf).getOrElse(
          throw new IllegalStateException(
            s"IVF index at $root stores raw postings only — init with pqM > 0")))
      case Cosine => None
    }
    if (scorer != Adc(0)) requireRerankable(spark, root, segs, s"the $scorer probe")
    val (qLists, probed, one) = selectLists(spark, root, p.gen,
      queries.select(col("qid"), col("qvec")), nprobe)
    val cand = candidates(spark, segs, postingDirs(conf, segs, probed.toSet),
      segSchemas(spark, root, segs)._2)
    val emb = embedded(spark, root, conf)
    def joined(c: DataFrame, q: DataFrame) =
      c.join(broadcast(q), array_contains(col("probe_lists"), col("list")))
    val out = Seq(col("qid"), col("rank"), col("vec_id"), col("list"))
    scorer match {
      case Adc(rerank) =>
        val cb = codebook.get
        val m = cb.length; val kCw = cb(0).length; val sub = cb(0)(0).length
        val cbLit = typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq)
        // table(s)(j) = ||q_s - c_{j,s}||² on the micro-unit grid
        val tables = qLists
          .withColumn("_vq", transform(col("qvec"),
            x => floor(x.cast("double") * 1e6 + lit(0.5))))
          .withColumn("adc_tab",
            transform(sequence(lit(0), lit(m - 1)), s =>
              transform(sequence(lit(0), lit(kCw - 1)), j =>
                aggregate(zip_with(
                  slice(col("_vq"), s * sub + 1, lit(sub)),
                  element_at(element_at(cbLit, s + 1), j + 1),
                  (a, b) => (a - b) * (a - b)), lit(0L), (acc, v) => acc + v))))
          .drop("_vq")
        val adc = joined(cand.select("vec_id", "list", "pq_code", "_seg_v"), tables)
          .withColumn("adc_u", aggregate(
            zip_with(col("adc_tab"), col("pq_code"),
              (row, c) => element_at(row, c + 1)),
            lit(0L), (acc, v) => acc + v))
        if (rerank == 0)
          ranked(adc, k, col("adc_u"), one).select(out :+ col("adc_u"): _*)
        else {
          val survivors = ranked(adc, rerank, col("adc_u"), one)
            .select("qid", "qvec", "vec_id", "list", "_seg_v", "adc_u")
          val refined = emb(cand).select("vec_id", "embedding", "_seg_v")
            .join(survivors, Seq("vec_id", "_seg_v"))
          ranked(withCosine(refined), k, col("cosine").desc, one)
            .select(out :+ col("adc_u") :+ col("cosine"): _*)
        }
      case Cosine =>
        ranked(withCosine(joined(emb(cand), qLists)), k, col("cosine").desc, one)
          .select(out :+ col("cosine"): _*)
    }
  }

  /** [[probeTopKBatch]] for a one-row `qvec` frame, without the qid. */
  def probeTopK(spark: SparkSession, root: String, queryVec: DataFrame,
                k: Int, nprobe: Int, scorer: Scorer = Cosine): DataFrame =
    probeTopKBatch(spark, root, queryVec.select(lit(0L).as("qid"), col("qvec")),
      k, nprobe, scorer).drop("qid")

  /** Merge every live segment into ONE (probe cost is linear in segment
    * count; this amortizes it) — a maintenance version: lastBatch
    * unchanged, contents identical. Returns the new segment count (1).
    *
    * HEALTH CONTINUITY: the merged segment CARRIES the weighted
    * (Σ sumD2u, Σ n) of the posting segments it absorbed (both
    * order-free int64 sums — exact), so [[health]]'s drift signal stays
    * populated straight through an auto-compacting streaming cadence
    * instead of going dark until the next ingest. Caveat: the carried
    * sums include tombstoned postings the rewrite just dropped (their
    * assignment distances were observed at ingest), so post-delete the
    * carried mean is approximate — fine for a drift signal, and the
    * manifest `n` then reads as the merged INGEST count, not the live
    * row count. */
  def compact(spark: SparkSession, root: String, retain: Int = 2): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = pointer(root, conf)
    val segs = readManifest(root, p.version, conf)
    if (segs.size <= 1) return segs.size
    val stats = segs.filter(e => !e.tombstone && e.sumD2u >= 0 && e.n > 0)
    val next = p.version + 1
    val dir = segDir(root, next)
    // currentAll already applies the tombstones; the rewrite makes the
    // deletions physical, so the tombstone segments drop from the
    // manifest (and GC collects them once out of retention)
    val merged = currentAll(spark, root)
    requireSegmentSchema(spark, root, segs, merged, "compacted segment")
    val (_, n) = writeSegment(merged, dir)
    val (hs, hn) =
      if (stats.isEmpty) (-1L, n)
      else (stats.map(_.sumD2u).sum, stats.map(_.n).sum)
    sweep(root, commit(root, Pointer(next, p.lastBatch, p.gen),
      Seq(Seg(dir, next, tombstone = false, hs, hn)), retain, conf), conf)
    1
  }

  /** RE-CENTER the index — the remedy [[health]]'s drift warning calls
    * for, closing the detect → repair loop the z-order lake closed with
    * [[graft.sources.ZOrderLake.rebuild]]: centroids are PINNED by
    * contract, so when the data distribution walks away from them
    * (drift ratio climbing in `ivf info`) the fix is a REBUILD — a new
    * centroid table, every live posting re-assigned (and re-encoded)
    * against it, ONE new segment, through the same manifest + pointer
    * swap. A MAINTENANCE version: `lastBatch` unchanged (ingest
    * resumes exactly where it left off), same live vector set; the
    * centroid GENERATION bumps, staging `_centroids`/`_codebook`/
    * `_health_baseline` under generation-suffixed paths so the pointer
    * swap commits segments AND metadata atomically — a crash
    * mid-rebuild leaves the old generation fully intact, its residue
    * swept by the next GC. O(corpus) BY CONTRACT (it IS the rebuild;
    * run like OPTIMIZE, amortized against decayed recall).
    *
    * The caller brings the new clustering (`centroids`: (list, cvec)),
    * exactly as [[init]] does — or uses the k-means overload. The PQ
    * codebook CARRIES unchanged by default (codes are
    * centroid-independent — re-encoding against the same codebook is
    * bit-identical); `pqTrainIters > 0` Lloyd-retrains it on the live
    * corpus (seeds = the current codebook), after which every posting's
    * code re-derives against the retrained book. The health baseline
    * re-pins to the rebuild's own assignment stats — drift reads ~1
    * again until the distribution moves anew.
    *
    * An SQ8 index rebuilds from its DECODED reconstruction (the tier's
    * best notion of the vectors — FAISS reconstructs the same way):
    * assignment is a pure projection CARRYING the stored sq/pq codes
    * (codes are centroid-independent, and re-encoding the decoded
    * reconstruction would not round-trip bit-for-bit); `_sq_bounds`
    * carries to the new generation unchanged; codebook retraining
    * (`pqTrainIters > 0`) is rejected — it needs raw vectors.
    *
    * A CODE-ONLY index cannot rebuild (no raw vectors to re-assign):
    * loud reject — re-init from the source corpus instead. */
  def rebuild(spark: SparkSession, root: String, centroids: DataFrame,
              pqTrainIters: Int = 0, retain: Int = 2): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = pointer(root, conf)
    val segs = readManifest(root, p.version, conf)
    requireRerankable(spark, root, segs, "rebuild (re-assignment)")
    val liveAll = currentAll(spark, root)
    val sq8 = liveAll.columns.contains("sq_code")
    require(!sq8 || pqTrainIters == 0,
      "codebook retraining needs raw embeddings — an SQ8 index carries " +
        "its codebook through rebuild (pqTrainIters must be 0)")
    val g = p.gen + 1
    // a failed earlier rebuild may have held metadata of generation g
    // (its centroid schema and quantizer are held before the commit)
    genPaths(root, g).foreach(SessionState.evict)
    val cent = writeCentroids(centroids, root, g)
    // SQ bounds are data-scale, centroid-independent: carry to gen g
    val sqB = readSqBounds(spark, root, conf)
    sqB.foreach { case (lo, hi) => writeSqBounds(spark, root, g, lo, hi) }
    val cb = readCodebook(spark, root, conf).map { old =>
      val cbNew = if (pqTrainIters > 0)
        trainCodebook(liveAll, "embedding", old, pqTrainIters) else old
      writeCodebook(spark, root, g, cbNew)
      cbNew
    }
    val quant = pinnedQuantizer(spark, root, g)
    val assigned =
      if (!sq8)
        withPqCode(
          assignWithDist(liveAll.drop("pq_code"), "vec_id", "embedding",
            cent, quant = Some(quant)), cb)
      else {
        val (lo, hi) = sqB.get
        liveAll
          .withColumn("_emb", sqDecodeCol(col("sq_code"), lo, hi))
          .withColumn("_best", argminCol(quant, col("_emb")))
          .withColumn("list", col("_best").getField("list"))
          .withColumn("_d2u", floor(col("_best").getField("d2") * 1e6 +
            lit(0.5)).cast("long"))
          .drop("_emb", "_best")
      }
    requireSegmentSchema(spark, root, segs, assigned, "rebuilt segment")
    val next = p.version + 1
    val dir = segDir(root, next)
    val (s0, n0) = writeSegment(assigned, dir)
    FsIo.writeBytes(conf, baselinePath(root, g),
      s"$s0 $n0".getBytes(StandardCharsets.UTF_8))
    val retained = commit(root, Pointer(next, p.lastBatch, g),
      Seq(Seg(dir, next, tombstone = false, s0, n0)), retain, conf)
    // the old generation's held metadata is dead weight now: a service
    // rebuilding periodically would hold one entry set per generation,
    // for files [[gcGenFiles]] deletes. The segment schema stays: the
    // rebuilt segment was checked against it
    genPaths(root, p.gen).foreach(SessionState.evict)
    holdPinned(root, g, cb, sqB, assigned)
    sweep(root, retained, conf)
    gcGenFiles(root, g, conf)
  }

  /** [[rebuild]] with the clustering DERIVED from the live corpus —
    * [[Similarity.kmeansLloyd]] over the current postings at the
    * current nlists, final centroids = per-label micro-unit means of
    * the converged assignment (deterministic end to end: sampled seeds,
    * exact integer-grid distances, half-up rounding). */
  def rebuildKmeans(spark: SparkSession, root: String, kmeansIters: Int,
                    pqTrainIters: Int = 0, retain: Int = 2): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = pointer(root, conf)
    requireRerankable(spark, root, readManifest(root, p.version, conf),
      "rebuild (re-clustering)")
    // duplicate vec_ids (re-insert without delete) count ONCE toward
    // the clustering — rebuild() itself still re-assigns every posting.
    // On an SQ8 index the clustering runs over the decoded
    // reconstruction (the tier's vectors).
    val live = embedded(spark, root, conf)(currentAll(spark, root))
      .dropDuplicates("vec_id")
    val k = readCentroids(spark, root).count().toInt
    val asg = Similarity.kmeansLloyd(live, "vec_id", "embedding",
      k, kmeansIters)
    val cent = live
      .join(asg.select(col("id").as("vec_id"), col("label")), "vec_id")
      .select(col("label").cast("int").as("list"),
        posexplode(transform(col("embedding"),
          x => floor(x.cast("double") * 1e6 + lit(0.5)))).as(Seq("pos", "q")))
      .groupBy(col("list"), col("pos"))
      .agg((round(avg(col("q"))) / 1e6).as("m"))
      .groupBy(col("list"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        st => st.getField("m")).as("cvec"))
    rebuild(spark, root, cent, pqTrainIters, retain)
  }

  /** Delete stale generation metadata: everything but the current and
    * previous generation (the previous stays within the manifest
    * retention window; orphans from a crashed LATER rebuild — gen >
    * current — are residue too, single-writer as everywhere here). */
  private def gcGenFiles(root: String, currentGen: Int,
                         conf: Configuration): Unit = {
    val pat = "^_(?:centroids|codebook|health_baseline|sq_bounds)_g(\\d+)$".r
    val names = FsIo.fs(conf, root).listStatus(
      new org.apache.hadoop.fs.Path(root)).map(_.getPath.getName)
    names.foreach {
      case n @ pat(g) =>
        val gen = g.toInt
        if (gen < currentGen - 1 || gen > currentGen)
          FsIo.delete(conf, s"$root/$n")
      case _ =>
    }
  }

  /** Delete segment dirs no `retained` entry references (what
    * [[Ledger.Manifests.commit]] returns: segments carry by reference
    * across versions, so liveness is the union over the retention
    * window). Orphans from a crash-before-swap fall out here too. */
  private def sweep(root: String, retained: Seq[Seg],
                    conf: Configuration): Unit = {
    val live = retained.map(_.dir).toSet
    Seq("seg", "del").foreach { area =>
      if (FsIo.exists(conf, s"$root/$area"))
        FsIo.listDirNames(conf, s"$root/$area").foreach { d =>
          if (!live.exists(_.endsWith(s"/$area/$d")))
            FsIo.delete(conf, s"$root/$area/$d")
        }
    }
  }

  /** Metadata-only storage-tier summary for `ivf info` (no
    * SparkSession): which quantization artifacts the current
    * generation pins. Raw-vs-code-only postings are indistinguishable
    * without opening a segment, so the PQ line names both. */
  def tierInfo(root: String,
               conf: Configuration = new Configuration()): String = {
    val g = currentGen(root, conf)
    val pq = FsIo.exists(conf, codebookPath(root, g))
    val sq = FsIo.exists(conf, sqBoundsPath(root, g))
    (pq, sq) match {
      case (true, true)  => "SQ8 postings + PQ codebook (ADC + decoded re-rank)"
      case (true, false) => "PQ codebook pinned (raw or code-only postings)"
      case (false, true) => "SQ8 postings (decoded probes)"
      case _             => "raw postings"
    }
  }

  /** Test cleanup. */
  def destroy(root: String,
              conf: Configuration = new Configuration()): Unit = {
    SessionState.evict(root)
    FsIo.delete(conf, root)
  }
}
