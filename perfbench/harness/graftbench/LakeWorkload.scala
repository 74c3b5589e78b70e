package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.pipeline.IvfIndex
import graft.sources.{Tables, VersionedLake, ZOrderLake}
import graft.streaming.Streams

/** lake_ingest: seeded batches commit into the three stateful formats
  * from empty roots, with reads between the commits and maintenance in
  * every cycle. One block is one cycle, and cycles alternate between two
  * kinds, so any two consecutive cycles run every operation:
  *
  *   - three commits in a seeded order: `ZOrderLake.applyBatch`,
  *     `IvfIndex.applyBatch`, and a VersionedLake `applyBatch` (even
  *     cycles) or one `Streams` micro-batch trigger into a second
  *     VersionedLake (odd cycles);
  *   - after each commit one read, in a seeded order: a z-order box read,
  *     a versioned `asOf` read, and an IVF probe (even cycles) or an IVF
  *     batch probe (odd cycles);
  *   - maintenance: z-order compact, IVF compact, and z-order rebuild
  *     (even cycles) or IVF rebuild (odd cycles).
  *
  * Sources: `events` (change batches of inserts, updates and deletes,
  * drawn against a driver-side model of each versioned table),
  * `lineitem` (one z-order box per batch, in a seeded box order) and
  * `embeddings` (seeded slices). Exhausted sources wrap around with their
  * keys shifted, as `graft.tools.ScaleUp` shifts them. */
final class LakeWorkload(ctx: Ctx) extends Workload {
  import ctx._

  private val lake = s"$tmp/lake"
  private val vlRoot = s"$lake/versioned"
  private val vsRoot = s"$lake/versioned_stream"
  private val zoRoot = s"$lake/zorder"
  private val ivfRoot = s"$lake/ivf"
  private val vlTable = "bench_events"
  private val vsTable = "bench_events_stream"
  private val Buckets = 4
  private val TargetRows = 16384L
  private val Grid = 16
  private val EmbSlices = 48
  private val Inserts = 1000
  private val Updates = 300
  private val Deletes = 75
  private val Shift = 1000000000L

  private val rng = new scala.util.Random(seed)
  private val fs = new FsWatch(() => {
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    Seq(new java.io.File(lake)) ++
      Option(wh.listFiles()).toSeq.flatten.filter(_.getName.startsWith("bench_events"))
  })

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  // ---- events → the two versioned tables --------------------------------

  private val evSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType)))
  private val changeSchema = StructType(evSchema.fields.head +:
    StructField("op", StringType) +: evSchema.fields.tail)
  private var events: Map[Long, (Long, String, Double)] = Map.empty

  /** Driver-side model of one versioned table: its live rows and the ids
    * still to insert. Batches are drawn from it and applied to it once
    * their commit returns. */
  private final class EventModel {
    val live = mutable.HashMap.empty[Long, (Long, String, Double)]
    var pool: List[Long] = Nil
    private var fresh = 0L

    def initFrame: DataFrame =
      frame(live.toSeq.map { case (id, (u, t, v)) => Row(id, u, t, v) }, evSchema)

    /** One change batch: new ids, updates and deletes of live keys, each
      * key at most once. */
    def nextBatch(): Seq[Row] = {
      val ins = (0 until Inserts).map { _ =>
        pool match {
          case h :: t => pool = t; h -> events(h)
          case Nil =>
            fresh += 1
            (Shift + fresh) -> ((rng.nextInt(1500).toLong, "view", rng.nextInt(100000) / 100.0))
        }
      }
      val keys = rng.shuffle(live.keys.toVector).take(Updates + Deletes)
      ins.map { case (id, (u, t, v)) => Row(id, "insert", u, t, v) } ++
        keys.take(Updates).map { id => val (u, t, v) = live(id); Row(id, "update", u, t, v + 1.0) } ++
        keys.drop(Updates).map { id => val (u, t, v) = live(id); Row(id, "delete", u, t, v) }
    }

    def apply(batch: Seq[Row]): Unit = batch.foreach { r =>
      val id = r.getLong(0)
      r.getString(1) match {
        case "delete" => live.remove(id)
        case _ => live(id) = (r.getLong(2), r.getString(3), r.getDouble(4))
      }
    }

    def matches(df: DataFrame): Boolean = {
      val rows = df.select("event_id", "user_id", "event_type", "value").collect()
      val got = rows.map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getDouble(3)))).toMap
      got.size == rows.length && got == live.toMap
    }
  }

  private val vl = new EventModel
  private val vs = new EventModel
  private var stream: StreamingQuery = _
  private var staged = 0

  // ---- lineitem → ZOrderLake, embeddings → IvfIndex ----------------------

  private var maxPk = 0L
  private var maxSk = 0L
  private var boxOrder: Vector[Int] = Vector.empty
  private var vectors: Vector[Array[Float]] = Vector.empty
  private var centroids: DataFrame = _
  private var zoNext = 0
  private var ivfNext = 0
  /** Rows of each z-order box and IVF slice outside the init samples. */
  private var boxRows = Map.empty[Int, Long]
  private var sliceRows = Map.empty[Long, Long]
  /** The batches each format committed, in order. */
  private val zoBatches = mutable.ArrayBuffer.empty[DataFrame]
  private val ivfBatches = mutable.ArrayBuffer.empty[DataFrame]
  /** Timed-region batches, for write amplification. */
  private val timedBatches = mutable.ArrayBuffer.empty[DataFrame]
  private var pending: DataFrame = _
  private var timedBytes = 0L
  private var timedFiles = 0L

  private val liCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")

  /** lineitem with its z-order box (a Grid × Grid tiling of the
    * (partkey, suppkey) key ranges) and a seeded 1-in-32 init sample. */
  private def lineitem: DataFrame =
    Tables.table(spark, dataDir, "lineitem").select(liCols.map(col) ++ Seq(
      (floor(col("l_partkey") * Grid / (maxPk + 1)) * Grid +
        floor(col("l_suppkey") * Grid / (maxSk + 1))).cast("int").as("box"),
      pmod(xxhash64(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_extendedprice"), lit(seed)), lit(32)).as("h")): _*)

  /** embeddings with a seeded 1-in-4 init sample and a seeded slice. */
  private def embeddings: DataFrame = Tables.table(spark, dataDir, "embeddings")
    .select(col("vec_id"), col("embedding"), col("label"),
      pmod(xxhash64(col("vec_id"), lit(seed)), lit(4)).as("h"),
      pmod(xxhash64(col("vec_id"), lit(seed + 1)), lit(EmbSlices)).as("slice"))

  private def liInit: DataFrame = lineitem.filter(col("h") === 0).select(liCols.map(col): _*)
  private def embInit: DataFrame = embeddings.filter(col("h") === 0).select("vec_id", "embedding")

  /** Rows of every z-order box and IVF slice outside the init samples. */
  private def countBatches(): Unit = {
    boxRows = lineitem.filter(col("h") =!= 0).groupBy("box").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    sliceRows = embeddings.filter(col("h") =!= 0).groupBy("slice").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  def setup(): Unit = {
    val ev = tracer.span("tables.resolve")(Tables.events(spark, dataDir))
      .select("event_id", "user_id", "event_type", "value").collect()
    events = ev.map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2), r.getDouble(3)))).toMap
    val ids = rng.shuffle(events.keys.toVector.sorted)
    def seedModel(m: EventModel, slot: Int): Unit = {
      ids.filter(_ % 4 == slot).foreach(id => m.live(id) = events(id))
      m.pool = ids.filter(_ % 4 == slot + 2).toList
    }
    seedModel(vl, 0)
    seedModel(vs, 1)
    val mx = tracer.span("tables.resolve")(Tables.table(spark, dataDir, "lineitem"))
      .agg(max("l_partkey"), max("l_suppkey")).head()
    maxPk = mx.getLong(0)
    maxSk = mx.getLong(1)
    boxOrder = rng.shuffle((0 until Grid * Grid).toVector)
    tracer.span("tables.resolve")(Tables.table(spark, dataDir, "embeddings"))
    val emb = embeddings.select("vec_id", "embedding", "label", "h").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2), r.getLong(3)))
      .sortBy(_._1)
    vectors = emb.map(_._2).toVector
    // IVF lists: the per-label mean of the init sample, as the registry's
    // IVF fixtures pin them
    centroids = frame(emb.filter(_._4 == 0L).groupBy(_._3).toSeq.sortBy(_._1).map {
      case (label, vs) => Row(label, vs.map(_._2.map(_.toDouble)).transpose.map(_.sum / vs.size).toSeq)
    }, StructType(Seq(StructField("list", IntegerType), StructField("cvec", ArrayType(DoubleType)))))

    countBatches()
    VersionedLake.init(vl.initFrame, vlRoot, vlTable, "event_id", Buckets)
    VersionedLake.init(vs.initFrame, vsRoot, vsTable, "event_id", Buckets)
    val streamIn = new java.io.File(s"$tmp/stream/in")
    streamIn.mkdirs()
    stream = Streams.mergeSinkVersioned(
        spark.readStream.schema(changeSchema).option("maxFilesPerTrigger", 1)
          .parquet(streamIn.getPath),
        vsRoot, vsTable, "event_id", Buckets)
      .option("checkpointLocation", s"$tmp/stream/ckpt").start()
    ZOrderLake.init(liInit, zoRoot, Seq("l_partkey", "l_suppkey"), TargetRows)
    IvfIndex.init(embInit, "vec_id", "embedding", centroids, ivfRoot)
    fs.observe()
  }

  // ---- one cycle ----------------------------------------------------------

  private def commitVersioned(): Op = {
    val batch = vl.nextBatch()
    val df = frame(batch, changeSchema)
    Op("commit", "versioned_lake.apply", () => {
      pending = df
      val p = VersionedLake.readPointer(vlRoot).get
      tracer.span("versioned_lake.apply")(
        VersionedLake.applyBatch(df, vlRoot, vlTable, "event_id", Buckets, p.lastBatch + 1))
      vl.apply(batch)
      batch.size.toLong
    })
  }

  /** The operation moves the staged batch file into the stream's input
    * and waits for the trigger that commits it. */
  private def commitStream(): Op = {
    val batch = vs.nextBatch()
    val df = frame(batch, changeSchema)
    val stage = s"$tmp/stream/stage_$staged"
    df.coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val dst = new java.io.File(f"$tmp/stream/in/batch_$staged%06d.parquet")
    staged += 1
    Op("commit", "streams.trigger", () => {
      pending = df
      tracer.span("streams.trigger") {
        java.nio.file.Files.move(part.toPath, dst.toPath)
        stream.processAllAvailable()
      }
      vs.apply(batch)
      batch.size.toLong
    })
  }

  /** One z-order box of lineitem (all but its init sample); boxes come in
    * a seeded order, so batches have the spatial locality the format is
    * built for. Keys shift once every box has been used. */
  private def commitZOrder(): Op = {
    val j = zoNext
    zoNext += 1
    val box = boxOrder(j % boxOrder.size)
    val df = lineitem.filter(col("box") === box && col("h") =!= 0).select(liCols.map(col): _*)
      .withColumn("l_orderkey", col("l_orderkey") + lit(Shift * (j / boxOrder.size)))
    Op("commit", "zorder_lake.apply", () => {
      pending = df
      tracer.span("zorder_lake.apply")(ZOrderLake.applyBatch(df, zoRoot, TargetRows, j.toLong))
      zoBatches += df
      boxRows.getOrElse(box, 0L)
    })
  }

  /** One seeded slice of the embeddings outside the init sample. */
  private def commitIvf(): Op = {
    val j = ivfNext
    ivfNext += 1
    val slice = (j % EmbSlices).toLong
    val df = embeddings.filter(col("slice") === slice && col("h") =!= 0)
      .select((col("vec_id") + lit(1000000L * (j / EmbSlices))).as("vec_id"), col("embedding"))
    Op("commit", "ivf.apply", () => {
      pending = df
      tracer.span("ivf.apply")(IvfIndex.applyBatch(df, "vec_id", "embedding", ivfRoot, j.toLong))
      ivfBatches += df
      sliceRows.getOrElse(slice, 0L)
    })
  }

  private val qvecSchema = StructType(Seq(StructField("qvec", ArrayType(FloatType))))
  private val qbatchSchema = StructType(Seq(StructField("qid", LongType),
    StructField("qvec", ArrayType(FloatType))))
  private def vec(i: Int): Seq[Float] = vectors(i % vectors.size).toSeq

  private def probe(): Op = {
    val q = frame(Seq(Row(vec(rng.nextInt(vectors.size)))), qvecSchema)
    Op("read", "ivf.probe", () => tracer.span("ivf.probe")(
      IvfIndex.probeTopK(spark, ivfRoot, q, k = 5, nprobe = 3).collect().length.toLong))
  }

  private def probeBatch(): Op = {
    val qs = frame((0 until 4).map(i => Row(i.toLong, vec(rng.nextInt(vectors.size)))),
      qbatchSchema)
    Op("read", "ivf.probe_batch", () => tracer.span("ivf.probe_batch")(
      IvfIndex.probeTopKBatch(spark, ivfRoot, qs, k = 5, nprobe = 3).collect().length.toLong))
  }

  /** A box of 1/40 × 1/25 of the key ranges at a seeded corner. */
  private def box(): (Seq[Long], Seq[Long]) = {
    val w = (maxPk / 40).max(1L)
    val h = (maxSk / 25).max(1L)
    val x = (rng.nextDouble() * (maxPk - w)).toLong
    val y = (rng.nextDouble() * (maxSk - h)).toLong
    (Seq(x, y), Seq(x + w, y + h))
  }

  private def boxRead(): Op = {
    val (lo, hi) = box()
    Op("read", "zorder_lake.box_read", () => tracer.span("zorder_lake.box_read")(
      ZOrderLake.readBox(spark, zoRoot, lo, hi).collect().length.toLong))
  }

  /** A 1000-key range of a seeded retained version (current, or one or
    * two back). */
  private def asOf(): Op = {
    val back = rng.nextInt(3)
    val lo = rng.nextInt(math.max(events.size - 1000, 1)).toLong
    Op("read", "versioned_lake.as_of", () => tracer.span("versioned_lake.as_of") {
      val v = math.max(0, VersionedLake.readPointer(vlRoot).get.version - back)
      VersionedLake.asOf(spark, vlRoot, vlTable, v)
        .filter(col("event_id").between(lo, lo + 999)).collect().length.toLong
    })
  }

  private def zoCompact() = Op("maintenance", "zorder_lake.compact", () =>
    tracer.span("zorder_lake.compact")(ZOrderLake.compact(spark, zoRoot, TargetRows)).toLong)
  private def ivfCompact() = Op("maintenance", "ivf.compact", () =>
    tracer.span("ivf.compact")(IvfIndex.compact(spark, ivfRoot)).toLong)
  private def zoRebuild() = Op("maintenance", "zorder_lake.rebuild", () =>
    tracer.span("zorder_lake.rebuild")(ZOrderLake.rebuild(spark, zoRoot, TargetRows)).toLong)
  private def ivfRebuild() = Op("maintenance", "ivf.rebuild", () => {
    tracer.span("ivf.rebuild")(IvfIndex.rebuild(spark, ivfRoot, centroids))
    -1L
  })

  def block(k: Int): Seq[Op] = {
    val even = k % 2 == 0
    val r = new scala.util.Random(seed * 7919L + k)
    val commits = r.shuffle(Seq[() => Op](() => commitZOrder(), () => commitIvf(),
      if (even) () => commitVersioned() else () => commitStream()))
    val reads = r.shuffle(Seq[() => Op](() => boxRead(), () => asOf(),
      if (even) () => probe() else () => probeBatch()))
    val maintenance = Seq[() => Op](() => zoCompact(), () => ivfCompact(),
      if (even) () => zoRebuild() else () => ivfRebuild())
    // ops are built one at a time, right before each runs, so each batch
    // is drawn from the state its predecessors left
    new LazyOps(commits.zip(reads).flatMap { case (c, rd) => Seq(c, rd) } ++ maintenance)
  }

  /** Two cycles: one of each kind. Set-up has already run every format's
    * write path once, and the second cycle is within a few percent of the
    * first; a third would not fit the run budget. */
  override def maxWarm: Int = 2

  override def afterOp(rec: OpRec): Unit = {
    val (bytes, files) = fs.observe()
    rec.fsBytes = bytes
    rec.fsFiles = files
    if (rec.phase == "timed") {
      timedBytes += bytes
      timedFiles += files
      if (rec.kind == "commit" && rec.err == null && pending != null) timedBatches += pending
    }
    pending = null
  }

  // ---- checks ---------------------------------------------------------------

  /** Same multiset of rows: equal row counts and equal sums of two
    * independent 31-bit row hashes (one scan per side, no shuffle). */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    def fingerprint(df: DataFrame): Seq[Long] = {
      val cols = df.columns.toSeq.map(col)
      val r = df.agg(count(lit(1)),
        sum(pmod(xxhash64(cols: _*), lit(2147483647L))),
        sum(pmod(xxhash64(lit(seed) +: cols: _*), lit(2147483629L)))).head()
      Seq(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    fingerprint(a) == fingerprint(b)
  }

  private def zoExpected: DataFrame =
    (liInit +: zoBatches.toSeq).reduce(_ unionByName _)
  private def ivfExpected: DataFrame =
    (embInit +: ivfBatches.toSeq).reduce(_ unionByName _)

  private def verdict(name: String, covers: Seq[String])(f: => Boolean): Check =
    try Check(name, covers, Some(f), "")
    catch { case e: Exception => Check(name, covers, Some(false), Harness.errorHead(e)) }

  /** Each format's final contents against a from-scratch recomputation of
    * the batches it was given, plus one read of each kind against the
    * same recomputation. */
  def check(): Seq[Check] = {
    val (lo, hi) = box()
    val inBox = col("l_partkey").between(lo(0), hi(0)) && col("l_suppkey").between(lo(1), hi(1))
    Seq(
      verdict("versioned_lake", Seq("versioned_lake.apply", "versioned_lake.as_of"))(
        vl.matches(VersionedLake.current(spark, vlRoot, vlTable)) &&
          vl.matches(VersionedLake.asOf(spark, vlRoot, vlTable,
            VersionedLake.readPointer(vlRoot).get.version))),
      verdict("versioned_lake_stream", Seq("streams.trigger"))(
        stream.exception.isEmpty && vs.matches(VersionedLake.current(spark, vsRoot, vsTable))),
      verdict("zorder_lake", Seq("zorder_lake.apply", "zorder_lake.compact",
          "zorder_lake.rebuild", "zorder_lake.box_read")) {
        sameRows(ZOrderLake.current(spark, zoRoot).select(liCols.map(col): _*), zoExpected) &&
          sameRows(ZOrderLake.readBox(spark, zoRoot, lo, hi).select(liCols.map(col): _*),
            zoExpected.filter(inBox))
      },
      verdict("ivf_index", Seq("ivf.apply", "ivf.compact", "ivf.rebuild",
          "ivf.probe", "ivf.probe_batch")) {
        val top = IvfIndex.probeTopK(spark, ivfRoot,
          frame(Seq(Row(vec(0))), qvecSchema), k = 5, nprobe = 3)
        val n = top.count()
        sameRows(IvfIndex.currentAll(spark, ivfRoot).select("vec_id", "embedding"),
          ivfExpected) &&
          n >= 1 && n <= 5 && top.join(ivfExpected, Seq("vec_id"), "left_anti").isEmpty
      })
  }

  /** Plain-parquet baselines for write and space amplification: every
    * timed batch written once, and the final live contents written once. */
  override def extra: Seq[(String, String)] = {
    def plainBytes(df: DataFrame, dir: String): Long = {
      df.coalesce(1).write.parquet(dir)
      new java.io.File(dir).listFiles().filter(_.isFile).map(_.length()).sum
    }
    val batchBytes = timedBatches.zipWithIndex.map { case (b, i) =>
      plainBytes(b, s"$tmp/plain/batch_$i") }.sum
    val live = Seq(
      VersionedLake.current(spark, vlRoot, vlTable),
      VersionedLake.current(spark, vsRoot, vsTable),
      ZOrderLake.current(spark, zoRoot).drop("zval"),
      IvfIndex.currentAll(spark, ivfRoot).select("vec_id", "embedding"))
    val liveBytes = live.zipWithIndex.map { case (df, i) => plainBytes(df, s"$tmp/plain/live_$i") }.sum
    Seq(
      "timed_bytes_written" -> timedBytes.toString,
      "timed_files_written" -> timedFiles.toString,
      "versions_committed" -> fs.versions.toString,
      "plain_batch_bytes" -> batchBytes.toString,
      "final_lake_bytes" -> fs.totalBytes.toString,
      "plain_live_bytes" -> liveBytes.toString)
  }

  /** Destroy every root through the formats' own calls; whatever they
    * leave behind is counted by the runner. */
  def cleanup(): Unit = {
    if (stream != null) stream.stop()
    VersionedLake.destroy(spark, vlRoot, vlTable)
    VersionedLake.destroy(spark, vsRoot, vsTable)
    ZOrderLake.destroy(zoRoot)
    IvfIndex.destroy(ivfRoot)
  }
}

/** A sequence whose elements are built on first access, in order. */
final class LazyOps(makers: Seq[() => Op]) extends Seq[Op] {
  private val built = mutable.ArrayBuffer.empty[Op]
  def apply(i: Int): Op = { while (built.size <= i) built += makers(built.size)(); built(i) }
  def length: Int = makers.size
  def iterator: Iterator[Op] = makers.indices.iterator.map(apply)
}
