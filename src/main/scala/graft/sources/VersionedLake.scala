package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.DatasetBridge

/** Versioned-snapshot lake — the PRODUCTION form of the streaming MERGE
  * sink (the r11 in-place rewrite is demoted to a test convenience, see
  * [[graft.streaming.Streams.mergeSink]]): every applied change batch
  * writes a NEW bucketed snapshot `<table>_v(n+1)` and then atomically
  * swaps a tiny pointer file, instead of rewriting the table it is
  * reading from.
  *
  * Why this is the 100 TB shape:
  *
  *   - The merge plan reads snapshot v(n) and writes v(n+1) — different
  *     locations — so no `localCheckpoint` materialization of the whole
  *     table is needed (the in-place form must buffer the merged result
  *     before overwriting its own input). Peak storage is 2 snapshots
  *     (+ retention), peak memory is just the merge join.
  *   - Readers pin a version: one pointer read at plan time, then the
  *     whole query runs against an immutable directory — writers never
  *     race readers (the swap is the [[Ledger]]'s atomic pointer
  *     write).
  *   - Exactly-once under foreachBatch's at-least-once replay comes from
  *     recording the last applied `batchId` IN the pointer: a replayed
  *     batch compares ≤ and is skipped wholesale. This is the
  *     transactional-sink idempotency pattern (Structured Streaming's
  *     documented recipe), strictly stronger than relying on MERGE
  *     being idempotent per batch.
  *   - A crash BETWEEN snapshot write and pointer swap leaves an orphan
  *     `v(n+1)` table and the pointer at (v(n), batch m−1); the replay
  *     of batch m re-merges from v(n) and rewrites `v(n+1)` (the
  *     bucketed writer drops the stale table + location first), then
  *     swaps — the orphan is never observable through the pointer.
  *     Rehearsed in StreamingSpec.
  *
  * Snapshots are bucketed managed tables ([[Lake.writeBucketed]]) named
  * `<table>_vNNNNN`, so the snapshot side of every MERGE join stays
  * shuffle-free; only the [[Ledger]] pointer lives under `root`.
  */
object VersionedLake extends Ledger {

  protected def kind = "versioned lake"

  def tableName(table: String, version: Int): String = f"${table}_v$version%05d"

  /** Initialize the lake: snapshot v0 + pointer. */
  def init(initial: DataFrame, root: String, table: String, keyCol: String,
           buckets: Int): Unit = {
    val conf = initial.sparkSession.sparkContext.hadoopConfiguration
    FsIo.mkdirs(conf, root)
    Lake.writeBucketed(initial, tableName(table, 0), keyCol, buckets, Seq(keyCol))
    Ledger.writePointer(root, Pointer(0, -1L), conf)
  }

  /** The current snapshot, pinned at read time (one pointer read; the
    * returned frame scans an immutable versioned table). */
  def current(spark: SparkSession, root: String, table: String): DataFrame =
    spark.table(tableName(table,
      pointer(root, spark.sparkContext.hadoopConfiguration).version))

  /** TIME TRAVEL: read snapshot v(`version`) if it is still within the
    * retention window. Versions are immutable once written, so an
    * as-of read is just a table scan — the Delta `VERSION AS OF`
    * semantics. Dropped (aged-out) or never-written versions reject
    * loudly with the live range. */
  def asOf(spark: SparkSession, root: String, table: String,
           version: Int): DataFrame = {
    val name = tableName(table, version)
    pointerAsOf(root, version, spark.sparkContext.hadoopConfiguration,
      "snapshot")(spark.catalog.tableExists(name))
    spark.table(name)
  }

  /** Apply one change batch: MERGE v(n) + batch → write v(n+1) → swap
    * the pointer → drop snapshots older than `retain` versions back.
    * Replayed batches (batchId ≤ pointer's lastBatch) are skipped —
    * exactly-once contents under at-least-once delivery. Empty batches
    * advance only the pointer (no snapshot write). */
  def applyBatch(changes: DataFrame, root: String, table: String,
                 keyCol: String, buckets: Int, batchId: Long,
                 retain: Int = 2): Unit =
    applyWith(changes, root, table, Seq(keyCol), buckets, batchId, retain)(
      Lake.merge(_, _, keyCol))

  /** [[applyBatch]] for ADDITIVE counter tables (sketches: DDSketch /
    * CMS buckets, word counts): the batch's counters ADD into the
    * snapshot per key instead of keyed MERGE — `(keyCols) -> cnt + cnt`.
    * Counter addition is NOT idempotent (unlike the keyed MERGE's
    * last-write-wins or a bloom's OR), so the versioned batchId gate is
    * load-bearing here: an at-least-once replay that re-added a batch
    * would silently double-count, and the pointer's `lastBatch` is what
    * makes the sink exactly-once. Same crash contract as applyBatch —
    * die between snapshot write and pointer swap and the old version
    * stays live; the replay re-derives the same v(n+1). */
  def applyAdditiveBatch(batch: DataFrame, root: String, table: String,
                         keyCols: Seq[String], cntCol: String,
                         buckets: Int, batchId: Long,
                         retain: Int = 2): Unit =
    applyCombineBatch(batch, root, table, keyCols, cntCol,
      org.apache.spark.sql.functions.sum, buckets, batchId, retain)

  /** [[applyAdditiveBatch]] with bitwise-OR combine — the Bloom word
    * table's merge. OR is IDEMPOTENT, so unlike the additive form a
    * replayed batch could not corrupt contents even without the gate;
    * the batchId check still skips the pointless snapshot rewrite. */
  def applyOrBatch(batch: DataFrame, root: String, table: String,
                   keyCols: Seq[String], bitsCol: String,
                   buckets: Int, batchId: Long, retain: Int = 2): Unit =
    applyCombineBatch(batch, root, table, keyCols, bitsCol,
      c => org.apache.spark.sql.functions.expr(s"bit_or($bitsCol)"),
      buckets, batchId, retain)

  /** [[applyBatch]] for BOTTOM-K tables — the deterministic uniform
    * sample a stream maintains: each group keeps the k rows with the
    * SMALLEST `rankCol` (an md5-derived hash of a stable id →
    * hash-order is uniform, so the kept set is a uniform k-sample, and
    * the maintained table is by construction the bottom-k of EVERYTHING
    * ever streamed — the KMV/bottom-k sketch argument). This is the
    * third merge-contract class beside additive (gate load-bearing) and
    * OR (idempotent): bottom-k is idempotent AND order-free — re-adding
    * any subset of already-kept rows changes nothing — so the batchId
    * gate only skips pointless rewrites. `rankCol` must be
    * collision-free per group (hash of a unique id); ties would make
    * the kept set nondeterministic. */
  def applyBottomKBatch(batch: DataFrame, root: String, table: String,
                        grpCols: Seq[String], rankCol: String, k: Int,
                        buckets: Int, batchId: Long,
                        retain: Int = 2): Unit = {
    import org.apache.spark.sql.functions.{col, row_number}
    require(grpCols.nonEmpty && k >= 1, s"bottom-k needs groups and k>=1: $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(grpCols.map(col): _*).orderBy(col(rankCol))
    // bottom-k is idempotent over a SET, not a bag: a replayed row that
    // already sits in the snapshot would occupy TWO of the k slots and
    // silently crowd a distinct member out — dedup the union first (the
    // distinct is map-side-combinable and the union is only k·groups +
    // batch rows). WindowGroupLimit then bounds per-group state at k.
    applyWith(batch, root, table, grpCols :+ rankCol, buckets, batchId,
      retain)(_.unionByName(_)
        .distinct()
        .withColumn("_rk", row_number().over(w))
        .filter(col("_rk") <= k).drop("_rk"))
  }

  private def applyCombineBatch(batch: DataFrame, root: String,
                                table: String, keyCols: Seq[String],
                                valCol: String,
                                combine: org.apache.spark.sql.Column =>
                                  org.apache.spark.sql.Column,
                                buckets: Int, batchId: Long,
                                retain: Int): Unit = {
    import org.apache.spark.sql.functions.col
    require(keyCols.nonEmpty, "combine batch needs key columns")
    applyWith(batch, root, table, keyCols, buckets, batchId, retain)(
      _.unionByName(_)
        .groupBy(keyCols.map(col): _*)
        .agg(combine(col(valCol)).as(valCol)))
  }

  /** The apply template of every merge contract: behind the replay gate,
    * write `merge(v(n), batch)` as bucketed v(n+1) (bucketed on
    * `sortCols.head`, sorted by `sortCols`), swap the pointer, drop the
    * snapshot that fell out of retention. An empty batch moves only the
    * pointer. The merge reads the batch as a scan of its RDD, the form a
    * streaming micro-batch arrives in, so a direct commit and a
    * [[graft.streaming.Streams]] trigger run one plan and share its
    * generated classes. */
  private def applyWith(batch: DataFrame, root: String, table: String,
                        sortCols: Seq[String], buckets: Int, batchId: Long,
                        retain: Int)(
      merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    applyOnce(root, batchId, conf) { p =>
      if (DatasetBridge.isEmpty(batch)) false
      else {
        val next = p.version + 1
        Lake.writeBucketed(merge(spark.table(tableName(table, p.version)),
            DatasetBridge.rddScan(batch)),
          tableName(table, next), sortCols.head, buckets, sortCols)
        Ledger.writePointer(root, Pointer(next, batchId), conf)
        dropSnapshot(spark, table, next - 1 - retain)
        true
      }
    }
  }

  /** Drop one versioned snapshot (table + warehouse location); no-op for
    * negative versions or absent tables. */
  def dropSnapshot(spark: SparkSession, table: String, version: Int): Unit =
    if (version >= 0) {
      val name = tableName(table, version)
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
      val warehouse = spark.conf.get("spark.sql.warehouse.dir")
      val loc = new org.apache.hadoop.fs.Path(warehouse, name.toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }

  /** Drop every snapshot and the pointer — test cleanup. */
  def destroy(spark: SparkSession, root: String, table: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    readPointer(root, conf).foreach { p =>
      (0 to p.version).foreach(dropSnapshot(spark, table, _))
    }
    Ledger.dropPointer(root, conf)
  }
}
