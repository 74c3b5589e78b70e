package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Structured Streaming surface. The reference is batch-only (SURVEY §2.7);
  * this is the engine's forward-looking stream path for the `events`-shaped
  * feed: tumbling/sliding window aggregations with watermarked state, the
  * exact streaming twin of the batch `Time.resamplePeriod` grouping.
  *
  * At scale: the aggregation state is keyed on (window, type-keys); the
  * watermark bounds state size; sink partitioning follows the agg keys.
  *
  * The lake sinks re-home each micro-batch into the stream's own session
  * ([[eachBatch]]), because the clone a query runs its batches in has an
  * executor class loader of its own, and sink jobs under it compiled
  * again every class the direct commits had compiled.
  */
object Streams {

  /** The one `foreachBatch` of the lake sinks. The batch keeps its plan
    * (a `LogicalRDD` over the micro-batch execution, state handling
    * included); only the session that submits its jobs changes. */
  private def eachBatch(rows: DataFrame)(
      commit: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val home = rows.sparkSession
    rows.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
      commit(DatasetBridge.rehome(home, b), id)
    }
  }

  /** Tumbling-window counts/sums over a parquet directory replayed as a
    * stream (one file = one micro-batch class). Synchronous: runs the whole
    * backlog via processAllAvailable into an in-memory table and returns it
    * as a batch DataFrame — used by the correctness gate, where the oracle
    * is the equivalent batch GROUP BY. */
  def tumblingAgg(s: SparkSession, dir: String, windowLen: String,
                  queryName: String): DataFrame = {
    graft.sources.Tables.enableNanosAsLong(s)
    // session-cached relation (Tables.table): no fresh footer read here
    val schema = graft.sources.Tables.table(s, dir, "events").schema
    // the file stream source wants a DIRECTORY; stage a symlink to the
    // table, removed once the query has stopped (the memory sink holds
    // the result)
    val streamDir = java.nio.file.Files.createTempDirectory("graft_stream_")
    val link = streamDir.resolve("events.parquet")
    try {
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(s"$dir/events.parquet"))
      val raw = s.readStream.schema(schema).parquet(streamDir.toString)
      // same writer-tolerant ts normalisation as the batch reader — a pure
      // projection, so it composes with the streaming source unchanged
      val stream = graft.sources.Tables.normalizeTs(raw)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("total"))
        .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("total"))
      val q = stream.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
      s.table(queryName)
    } finally {
      // the link itself (deleteIfExists never follows it), then its dir
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.deleteIfExists(streamDir)
    }
  }

  /** Sliding-window aggregation (window length + slide): the streaming twin
    * of `rollingThenResample`. Each event lands in len/slide windows; state
    * is (window x keys), bounded by the watermark. */
  def slidingAgg(events: DataFrame, tsCol: String, keys: Seq[String],
                 windowLen: String, slide: String, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy((window(col(tsCol), windowLen, slide).as("w") +: keys.map(col)): _*)
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select((col("w.start").as("w_start") +: keys.map(col)) :+ col("n") :+ col("total"): _*)

  /** Streaming exact dedup on an id column: `dropDuplicatesWithinWatermark`
    * keeps the dedup state bounded by the event-time watermark (the
    * unbounded-state footgun of plain dropDuplicates on streams). The
    * streaming half of `pipeline.Dedup.exactGroups`. */
  def dedupStream(events: DataFrame, tsCol: String, idCols: Seq[String],
                  watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols)

  /** Stream-static enrichment join: the static dimension is broadcast to
    * every micro-batch (no stream-side shuffle, no state). The streaming
    * twin of the batch dim-join discipline. */
  def enrichWithDim(events: DataFrame, dim: DataFrame, joinKeys: Seq[String]): DataFrame =
    events.join(broadcast(dim), joinKeys)

  /** Streaming lake upsert, IN-PLACE form — a TEST CONVENIENCE (r12):
    * production deployments use [[mergeSinkVersioned]], which writes a
    * new snapshot per batch and swaps a pointer instead of rewriting
    * the table it reads. Each micro-batch applies
    * [[graft.sources.Lake.merge]] against the current bucketed snapshot
    * and rewrites it bucketed. MERGE under this engine's semantics is
    * IDEMPOTENT per batch (matched inserts no-op, update/delete
    * re-apply to the same state), so foreachBatch's at-least-once
    * replay on failure yields exactly-once table contents — pinned in
    * StreamingSpec. The in-place rewrite must materialize the merged
    * snapshot (`localCheckpoint`) before the overwrite since the plan
    * reads the table it replaces — the cost the versioned form avoids. */
  def mergeSink(changes: DataFrame, table: String, keyCol: String,
                buckets: Int): DataStreamWriter[Row] =
    eachBatch(changes) { (b, _) =>
      if (!b.isEmpty) {
        val sp = b.sparkSession
        val merged = graft.sources.Lake
          .merge(sp.table(table), b, keyCol).localCheckpoint(true)
        graft.sources.Lake.writeBucketed(merged, table, keyCol, buckets,
          Seq(keyCol))
      }
    }

  /** Streaming lake upsert, VERSIONED form (r12) — the production
    * shape: each micro-batch MERGEs into the current snapshot and
    * commits through [[graft.sources.VersionedLake.applyBatch]], which
    * writes snapshot v(n+1) and atomically swaps a pointer file. The
    * batchId recorded in the pointer makes replayed batches no-ops —
    * exactly-once contents under foreachBatch's at-least-once delivery
    * — and a crash between snapshot write and pointer swap is healed
    * by the replay (rehearsed in StreamingSpec). The lake must be
    * [[graft.sources.VersionedLake.init]]'d first. */
  def mergeSinkVersioned(changes: DataFrame, root: String, table: String,
                         keyCol: String, buckets: Int, retain: Int = 2)
      : DataStreamWriter[Row] =
    eachBatch(changes) { (b, id) =>
      graft.sources.VersionedLake.applyBatch(b, root, table, keyCol, buckets,
        id, retain)
    }

  /** Synchronous replay harness for [[mergeSink]] (the correctness-gate
    * form, like [[tumblingAgg]]): write `initial` as the bucketed
    * snapshot, stage each change batch as ONE parquet file with
    * strictly increasing modification times, stream them back
    * one-file-per-trigger through the MERGE sink, and return the final
    * snapshot as a batch DataFrame. */
  def mergeReplay(s: SparkSession, initial: DataFrame,
                  batches: Seq[DataFrame], table: String, keyCol: String,
                  buckets: Int): DataFrame = {
    require(batches.nonEmpty, "mergeReplay needs at least one change batch")
    graft.sources.Lake.writeBucketed(initial, table, keyCol, buckets, Seq(keyCol))
    replayThrough(s, batches) { stream =>
      mergeSink(stream, table, keyCol, buckets)
    }
    s.table(table)
  }

  /** [[mergeReplay]] for the versioned sink: init the lake at `root`,
    * replay the batches one-per-trigger through [[mergeSinkVersioned]],
    * return the final pinned snapshot. */
  def mergeReplayVersioned(s: SparkSession, initial: DataFrame,
                           batches: Seq[DataFrame], root: String,
                           table: String, keyCol: String, buckets: Int,
                           retain: Int = 2): DataFrame = {
    require(batches.nonEmpty, "mergeReplayVersioned needs at least one change batch")
    graft.sources.VersionedLake.init(initial, root, table, keyCol, buckets)
    replayThrough(s, batches) { stream =>
      mergeSinkVersioned(stream, root, table, keyCol, buckets, retain)
    }
    graft.sources.VersionedLake.current(s, root, table)
  }

  /** Streaming SKETCH maintenance, versioned form: each micro-batch of
    * raw rows reduces to its DDSketch counter table
    * ([[graft.pipeline.Sketches.ddHistogram]] — a few hundred rows
    * regardless of batch size) and ADDS into the current snapshot via
    * [[graft.sources.VersionedLake.applyAdditiveBatch]]. This is the
    * write-time half of the sketch-tier contract at 100 TB: the stream
    * never re-touches history, the sketch table stays tiny, and any
    * query-time reader gets corpus quantiles from the pointer's
    * snapshot. Counter addition is non-idempotent, so the batchId gate
    * (not per-batch idempotence) carries exactly-once. */
  def ddSketchSinkVersioned(rows: DataFrame, root: String, table: String,
                            grpCol: String, valCol: String, buckets: Int,
                            retain: Int = 2)
      : DataStreamWriter[Row] =
    eachBatch(rows) { (b, id) =>
      graft.sources.VersionedLake.applyAdditiveBatch(
        graft.pipeline.Sketches.ddHistogram(b, grpCol, valCol),
        root, table, Seq("grp", "sign", "bucket"), "cnt", buckets, id, retain)
    }

  /** Streaming BLOOM maintenance, versioned form: each micro-batch's
    * values OR into the current (grp, word, bits) snapshot
    * ([[graft.pipeline.Sketches.bloomBits]] per batch,
    * [[graft.sources.VersionedLake.applyOrBatch]] to commit). The
    * membership filter a crawler/dedup stage consults thus stays
    * freshly behind the stream without ever re-scanning history. OR is
    * idempotent, so this sink is replay-safe even without the batchId
    * gate — the gate just skips the pointless rewrite. */
  def bloomSinkVersioned(rows: DataFrame, root: String, table: String,
                         grpCol: String, valCol: String, mBits: Long,
                         k: Int, buckets: Int, retain: Int = 2)
      : DataStreamWriter[Row] =
    eachBatch(rows) { (b, id) =>
      graft.sources.VersionedLake.applyOrBatch(
        graft.pipeline.Sketches.bloomBits(b, grpCol, valCol, mBits, k),
        root, table, Seq("grp", "word"), "bits", buckets, id, retain)
    }

  /** [[ddSketchReplayVersioned]]'s twin for the bloom sink. */
  def bloomReplayVersioned(s: SparkSession, initial: DataFrame,
                           batches: Seq[DataFrame], root: String,
                           table: String, grpCol: String, valCol: String,
                           mBits: Long, k: Int, buckets: Int,
                           retain: Int = 2): DataFrame = {
    require(batches.nonEmpty, "bloomReplayVersioned needs at least one batch")
    graft.sources.VersionedLake.init(
      graft.pipeline.Sketches.bloomBits(initial, grpCol, valCol, mBits, k),
      root, table, "grp", buckets)
    replayThrough(s, batches) { stream =>
      bloomSinkVersioned(stream, root, table, grpCol, valCol, mBits, k,
        buckets, retain)
    }
    graft.sources.VersionedLake.current(s, root, table)
  }

  /** Streaming UNIFORM-SAMPLE maintenance: each micro-batch's rows
    * hash on `idCol` ([[graft.pipeline.Sketches.hash60]] — md5-derived,
    * engine-replayable) and merge into a per-group bottom-k table
    * ([[graft.sources.VersionedLake.applyBottomKBatch]]). Because
    * hash-order is uniform and bottom-k of a union is the union's
    * bottom-k, the maintained table is at every instant an exact
    * uniform k-sample of EVERYTHING ever streamed — no decay, no
    * reservoir randomness, and deterministic enough for a SQL oracle.
    * Bottom-k is idempotent and order-free (the third contract class
    * beside additive and OR), so replays are harmless by algebra; the
    * batchId gate just skips the rewrite. */
  def sampleSinkVersioned(rows: DataFrame, root: String, table: String,
                          grpCol: String, idCol: String, k: Int,
                          buckets: Int, retain: Int = 2)
      : DataStreamWriter[Row] =
    eachBatch(rows) { (b, id) =>
      graft.sources.VersionedLake.applyBottomKBatch(
        sampleRows(b, grpCol, idCol), root, table,
        Seq("grp"), "hv", k, buckets, id, retain)
    }

  private def sampleRows(df: DataFrame, grpCol: String,
                         idCol: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.select(col(grpCol).as("grp"),
      graft.pipeline.Sketches.hash60(col(idCol).cast("string")).as("hv"),
      col(idCol).as("id"))
  }

  /** [[ddSketchReplayVersioned]]'s twin for the sample sink. */
  def sampleReplayVersioned(s: SparkSession, initial: DataFrame,
                            batches: Seq[DataFrame], root: String,
                            table: String, grpCol: String, idCol: String,
                            k: Int, buckets: Int,
                            retain: Int = 2): DataFrame = {
    require(batches.nonEmpty, "sampleReplayVersioned needs at least one batch")
    import org.apache.spark.sql.functions.{col, row_number}
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("hv"))
    graft.sources.VersionedLake.init(
      sampleRows(initial, grpCol, idCol)
        .withColumn("_rk", row_number().over(w))
        .filter(col("_rk") <= k).drop("_rk"),
      root, table, "grp", buckets)
    replayThrough(s, batches) { stream =>
      sampleSinkVersioned(stream, root, table, grpCol, idCol, k,
        buckets, retain)
    }
    graft.sources.VersionedLake.current(s, root, table)
  }

  /** Streaming Z-ORDER maintenance: each micro-batch appends through
    * [[graft.sources.ZOrderLake.applyBatch]], which rewrites only the
    * slab files whose z-range the batch touches and carries the rest by
    * reference — layout quality (tight per-file bounding boxes, live
    * data skipping) survives continuous ingest without ever re-sorting
    * the corpus. Slab rewrite is NOT idempotent (a replayed batch would
    * duplicate its rows), so the versioned batchId gate is load-bearing,
    * exactly as for the additive sketch sink. */
  def zOrderSinkVersioned(rows: DataFrame, root: String, xCol: String,
                          yCol: String, targetRows: Long, retain: Int = 2)
      : DataStreamWriter[Row] =
    eachBatch(rows) { (b, id) =>
      graft.sources.ZOrderLake.applyBatch(b, root, xCol, yCol,
        targetRows, id, retain)
    }

  /** Dims-generic form (2-D or 3-D): the clustering dims come from the
    * lake's own pinned `_bounds`. */
  def zOrderSinkVersioned(rows: DataFrame, root: String, targetRows: Long,
                          retain: Int)
      : DataStreamWriter[Row] =
    eachBatch(rows) { (b, id) =>
      graft.sources.ZOrderLake.applyBatch(b, root, targetRows, id, retain)
    }

  /** Streaming IVF index maintenance (foreachBatch →
    * [[graft.pipeline.IvfIndex.applyBatch]]): each micro-batch assigns
    * against the PINNED centroids and lands as one immutable segment —
    * existing segments never rewrite, so sink cost per trigger is
    * O(batch); the batchId gate makes replays no-ops.
    *
    * Probe cost is linear in live segment count, and a streaming cadence
    * piles segments up fast (a 1-minute trigger is 1,440/day) — so the
    * sink AUTO-COMPACTS once the live posting-segment count reaches
    * `autoCompactSegments` (a maintenance version: `lastBatch`
    * unchanged, contents identical; amortized cost is one corpus
    * rewrite per threshold-batch window). 0 disables. */
  def ivfSinkVersioned(rows: DataFrame, root: String, idCol: String,
                       vecCol: String, retain: Int = 2,
                       autoCompactSegments: Int = 64)
      : DataStreamWriter[Row] =
    eachBatch(rows) { (b, id) =>
      import graft.pipeline.IvfIndex
      IvfIndex.applyBatch(b, idCol, vecCol, root, id, retain)
      if (autoCompactSegments > 0) {
        val conf = b.sparkSession.sparkContext.hadoopConfiguration
        val p = IvfIndex.readPointer(root, conf).get
        if (IvfIndex.readManifest(root, p.version, conf)
            .count(!_.tombstone) >= autoCompactSegments) {
          IvfIndex.compact(b.sparkSession, root, retain)
          ()
        }
      }
    }

  /** [[zOrderReplayVersioned]]'s twin for the IVF sink: pin centroids +
    * segment 0 from `initial`, stream the batches one-per-trigger,
    * return every posting across the final segments. */
  def ivfReplayVersioned(s: SparkSession, initial: DataFrame,
                         batches: Seq[DataFrame], root: String,
                         idCol: String, vecCol: String,
                         centroids: DataFrame, retain: Int = 2,
                         pqM: Int = 0, pqK: Int = 16,
                         pqTrainIters: Int = 0,
                         autoCompactSegments: Int = 64,
                         storeRaw: Boolean = true,
                         sq8: Boolean = false): DataFrame = {
    require(batches.nonEmpty, "ivfReplayVersioned needs at least one batch")
    graft.pipeline.IvfIndex.init(initial, idCol, vecCol, centroids, root,
      pqM, pqK, pqTrainIters, storeRaw, sq8)
    replayThrough(s, batches) { stream =>
      ivfSinkVersioned(stream, root, idCol, vecCol, retain,
        autoCompactSegments)
    }
    graft.pipeline.IvfIndex.currentAll(s, root)
  }

  /** [[ddSketchReplayVersioned]]'s twin for the z-order sink: init the
    * lake z-ordered from `initial` (grid bounds pin there), stream the
    * batches one-per-trigger, return the final pinned table. */
  def zOrderReplayVersioned(s: SparkSession, initial: DataFrame,
                            batches: Seq[DataFrame], root: String,
                            xCol: String, yCol: String, targetRows: Long,
                            retain: Int = 2): DataFrame = {
    require(batches.nonEmpty, "zOrderReplayVersioned needs at least one batch")
    graft.sources.ZOrderLake.init(initial, root, xCol, yCol, targetRows)
    replayThrough(s, batches) { stream =>
      zOrderSinkVersioned(stream, root, xCol, yCol, targetRows, retain)
    }
    graft.sources.ZOrderLake.current(s, root)
  }

  /** Dims-generic replay (2-D or 3-D — the (time, lat, lon) climate
    * clustering runs through here). */
  def zOrderReplayVersioned(s: SparkSession, initial: DataFrame,
                            batches: Seq[DataFrame], root: String,
                            dimCols: Seq[String], targetRows: Long,
                            retain: Int): DataFrame = {
    require(batches.nonEmpty, "zOrderReplayVersioned needs at least one batch")
    graft.sources.ZOrderLake.init(initial, root, dimCols, targetRows)
    replayThrough(s, batches) { stream =>
      zOrderSinkVersioned(stream, root, targetRows, retain)
    }
    graft.sources.ZOrderLake.current(s, root)
  }

  /** [[mergeReplayVersioned]] for the sketch sink: init the lake with
    * `initial`'s sketch, replay the raw-row batches one-per-trigger,
    * return the final pinned counter table. */
  def ddSketchReplayVersioned(s: SparkSession, initial: DataFrame,
                              batches: Seq[DataFrame], root: String,
                              table: String, grpCol: String, valCol: String,
                              buckets: Int, retain: Int = 2): DataFrame = {
    require(batches.nonEmpty, "ddSketchReplayVersioned needs at least one batch")
    graft.sources.VersionedLake.init(
      graft.pipeline.Sketches.ddHistogram(initial, grpCol, valCol),
      root, table, "grp", buckets)
    replayThrough(s, batches) { stream =>
      ddSketchSinkVersioned(stream, root, table, grpCol, valCol, buckets, retain)
    }
    graft.sources.VersionedLake.current(s, root, table)
  }

  /** Stage `batches` as one parquet file each (strictly increasing mod
    * times, so the file source delivers them in order, one per
    * trigger), run them through `sink`, and clean up the staging +
    * checkpoint directories. */
  private def replayThrough(s: SparkSession, batches: Seq[DataFrame])(
      sink: DataFrame => DataStreamWriter[Row]): Unit = {
    if (batches.isEmpty) return // no-op, like the pre-pool serial loop
    val root = java.nio.file.Files.createTempDirectory("graft_stream_merge_")
    try {
      val streamDir = root.resolve("stream")
      java.nio.file.Files.createDirectory(streamDir)
      // the staging writes are INDEPENDENT jobs (separate temp dirs,
      // file contents untouched — coalesce(1) order is partition-index
      // order whatever thread submits it), so overlap them instead of
      // paying each tiny job's scheduling latency serially (r17;
      // optimization-guide §2.6 "overlap independent jobs")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(3, batches.size))
      try {
        import scala.jdk.CollectionConverters._
        val tasks = batches.zipWithIndex.map { case (b, i) =>
          new java.util.concurrent.Callable[Unit] {
            def call(): Unit =
              b.coalesce(1).write.parquet(root.resolve(s"stage_$i").toString)
          }
        }
        pool.invokeAll(tasks.asJava).asScala.foreach { f =>
          // rethrow the ORIGINAL failure, not the pool's wrapper
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException =>
            throw e.getCause }
        }
      } finally pool.shutdown()
      batches.indices.foreach { i =>
        val stage = root.resolve(s"stage_$i")
        val part = new java.io.File(stage.toString).listFiles()
          .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file under $stage"))
        val dst = streamDir.resolve(f"batch_$i%03d.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        // the file source orders micro-batches by (modTime, path); pin both
        dst.toFile.setLastModified((i + 1) * 1000000L)
      }
      val stream = s.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(streamDir.toString)
      val q = sink(stream)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .start()
      q.processAllAvailable()
      q.stop()
    } finally { // staged batch copies + checkpoint: delete, don't leak
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      rm(root.toFile)
    }
  }
}
