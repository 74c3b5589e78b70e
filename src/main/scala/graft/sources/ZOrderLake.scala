package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.StructType

import graft.core.SessionState
import graft.functions.PlanConstant

/** Incrementally-maintained z-ordered parquet lake — OPTIMIZE ZORDER
  * that survives continuous ingest, in two or three dimensions (the
  * 3-D form is the (time, lat, lon) clustering a climate lake wants).
  * A one-shot [[Lake.zOrderWrite]] decays as a stream appends: new rows
  * land wherever the sink puts them and every file's bounding box
  * widens until data skipping is dead. Re-sorting the whole table per
  * batch is O(corpus); this lake rewrites ONLY the files whose z-range
  * a batch touches.
  *
  * Layout: immutable parquet slab files under `root/data/vNNNNN/`
  * (each covering a narrow zval range), a per-version MANIFEST listing
  * `(file, minZ, maxZ, rows)` — files carry over between versions by
  * REFERENCE, untouched files are never rewritten — committed through
  * the [[Ledger]]: the pointer swaps after the batch's slabs and manifest
  * are durable. Crash between write and swap leaves orphans the next GC
  * sweeps; the replayed batch re-derives the same version.
  *
  * The clustering dimensions are pinned at init; their grid bounds are
  * pinned PER EPOCH (stored in `_bounds` as `name lo hi` blocks
  * separated by `#epoch N` markers): incremental maintenance is only
  * possible when old zvals stay valid, so a written slab's grid can
  * never move — but a MONOTONE dimension (time, under continuous
  * ingest) would otherwise march past the pinned hi and pile every
  * future batch onto the same border cells, growing those slabs until
  * per-batch rewrite cost is O(corpus). When a batch's out-of-box
  * fraction crosses `epochThreshold`, the lake opens a new EPOCH: fresh
  * bounds covering the old box plus geometric headroom past the
  * violated side (span doubles, so epochs per monotone dim are
  * O(log ingest-span), amortized O(1) per batch), the batch's zvals
  * compute on the new grid, and every existing slab — tagged with its
  * own epoch in the manifest — carries by reference with its zvals
  * untouched. Within one epoch, values in the residual out-of-box tail
  * (below the threshold) still CLAMP to the border cell for the zval
  * only — stored column values stay raw, so per-file min/max stats
  * (and thus any pruning) remain exact. [[readBox]] decomposes the box
  * per epoch and unions the matching file sets.
  *
  * Scale shape per batch: a single pass over the batch, folded per
  * partition into its row counts, dim ranges and a 4096-bit set of its
  * cells (zval is a few integer ops), a driver-side pick of the touched files from the
  * manifest's zval ranges (never a nested loop; a z-sorted file covers
  * ~1 of the 4096 cells), one read of the touched files, one range
  * shuffle of (touched rows ∪ batch) and a write of O(touched + batch)
  * rows.
  * Untouched files — the overwhelming majority under any ingest with
  * locality — cost nothing. Exactly-once: slab rewrite is NOT
  * idempotent (a replayed batch would duplicate its rows), so the
  * pointer's batchId gate is load-bearing, as in
  * [[VersionedLake.applyAdditiveBatch]].
  */
object ZOrderLake extends Ledger.Manifests {

  protected def kind = "z-order lake"

  final case class DimBound(name: String, lo: Long, hi: Long)
  /** One manifest row; `epoch` names the `_bounds` block whose grid the
    * slab's zvals live on (z-intervals are only comparable within an
    * epoch). */
  final case class Entry(path: String, minZ: Long, maxZ: Long, rows: Long,
                         epoch: Int = 0)

  /** Default out-of-box fraction past which a batch opens a new grid
    * epoch instead of clamping to the border cells. */
  val DefaultEpochThreshold: Double = 0.25

  /** The slab schema per lake root is PINNED at [[init]] (every append
    * schema-checks against it; rewrites carry the same columns). The
    * writer holds it in [[graft.core.SessionState]] under this path, so
    * no read of the lake's own slabs runs a footer-inference job; a
    * process that holds nothing infers it once. [[init]] and
    * [[destroy]] evict the root. */
  private def slabSchemaKey(root: String) = s"$root/#slabschema"

  /** The pinned slab schema, inferred from `paths.head` when this
    * process holds none. */
  private def slabSchema(spark: SparkSession, root: String,
                         paths: Seq[String]): StructType =
    SessionState(slabSchemaKey(root))(spark.read.parquet(paths.head).schema)

  /** The one reader of the lake's slab files: `paths` read with the
    * pinned slab schema. */
  private def readSlabs(spark: SparkSession, root: String,
                        paths: Seq[String]): DataFrame =
    spark.read.schema(slabSchema(spark, root, paths)).parquet(paths: _*)

  /** Morton key width: 2×16 or 3×16 interleaved bits. */
  private def keyBits(nDims: Int): Int = nDims * 16

  /** Cells = zval >> cellShift — always 4096 cells, whatever the
    * dimensionality: the batch's touched-cell set and the kept-boundary
    * group lookup both stay driver-array-sized. */
  private def cellShift(nDims: Int): Int = keyBits(nDims) - 12

  protected def encode(e: Entry): String =
    s"${e.path}\t${e.minZ}\t${e.maxZ}\t${e.rows}\t${e.epoch}"

  // 4-field lines predate grid epochs → epoch 0
  protected def decode(f: Array[String]): Entry =
    Entry(f(0), f(1).toLong, f(2).toLong, f(3).toLong,
      if (f.length >= 5) f(4).toInt else 0)

  /** Manifests list slabs in (epoch, minZ) order. */
  override protected def commit(root: String, next: Pointer,
                                entries: Seq[Entry], retain: Int,
                                conf: Configuration): Seq[Entry] =
    super.commit(root, next, entries.sortBy(e => (e.epoch, e.minZ)),
      retain, conf)

  /** Every grid epoch's bounds, oldest first (`_bounds` blocks split on
    * `#epoch N` markers; a marker-less file is the single epoch 0). */
  def readEpochs(root: String,
                 conf: Configuration = new Configuration()): Seq[Seq[DimBound]] = {
    val p = s"$root/_bounds"
    require(FsIo.exists(conf, p), s"missing _bounds under $root — call init first")
    val blocks = Seq.newBuilder[Seq[DimBound]]
    var cur = Seq.newBuilder[DimBound]
    var any = false
    new String(FsIo.readBytes(conf, p), StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty).foreach { line =>
        if (line.startsWith("#epoch")) {
          blocks += cur.result(); cur = Seq.newBuilder[DimBound]
        } else {
          val f = line.split("\\s+")
          cur += DimBound(f(0), f(1).toLong, f(2).toLong)
          any = true
        }
      }
    blocks += cur.result()
    val out = blocks.result().filter(_.nonEmpty)
    require(any && out.nonEmpty, s"empty _bounds under $root")
    require(out.forall(_.map(_.name) == out.head.map(_.name)),
      s"inconsistent dim names across epochs in $root/_bounds")
    out
  }

  /** The CURRENT epoch's clustering dims + grid bounds (dim names are
    * invariant across epochs). */
  def readDims(root: String,
               conf: Configuration = new Configuration()): Seq[DimBound] =
    readEpochs(root, conf).last

  private def boundsBody(dims: Seq[DimBound]): String =
    dims.map(d => s"${d.name} ${d.lo} ${d.hi}").mkString("", "\n", "\n")

  /** Serialise the full epoch-block sequence to `_bounds` through the
    * ledger's atomic write (a torn write would corrupt every epoch) —
    * the ONE serialization site: epoch-open, residue replacement and
    * the gc trim all go through here, so the block format cannot
    * drift between writers. Blocks WITH slabs are immutable content —
    * callers only ever append a block or swap/drop a slab-less
    * trailing one. */
  private def writeEpochs(root: String, blocks: Seq[Seq[DimBound]],
                          conf: Configuration): Unit = {
    val body = blocks.zipWithIndex.map { case (d, e) =>
      (if (e == 0) "" else s"#epoch $e\n") + boundsBody(d)
    }.mkString
    Ledger.atomicWrite(conf, s"$root/_bounds", body)
  }

  /** Open the grid-epoch slot for `fresh` bounds and return the epoch
    * index the caller's slabs must carry. A slab-less trailing block is
    * a CRASH RESIDUE (its batch never committed — no stored zval
    * decodes against it, so its bounds are dead weight, not history)
    * and is REPLACED in place: at most one residue block can ever
    * exist, however many differently-bounded retries crash. Blocks
    * with slabs are immutable — a used trailing block appends. The
    * reference check is against the CURRENT manifest, which is a safe
    * proxy for all retained ones: slabs never leave their epoch
    * (rewrites and compaction keep the tag; rebuild moves them to a
    * NEW trailing epoch), so an epoch referenced by any retained
    * manifest is referenced by the current one. */
  private def openEpoch(root: String, manifest: Seq[Entry],
                        epochs: Seq[Seq[DimBound]], fresh: Seq[DimBound],
                        conf: Configuration): Int = {
    val lastUsed = manifest.exists(_.epoch == epochs.size - 1) ||
      epochs.size == 1
    if (lastUsed) {
      writeEpochs(root, epochs :+ fresh, conf); epochs.size
    } else {
      writeEpochs(root, epochs.dropRight(1) :+ fresh, conf); epochs.size - 1
    }
  }

  /** zval on the PINNED grid; out-of-box values clamp to the border
    * cell (zval only — stored columns stay raw). The bounds are
    * [[PlanConstant]]s, so every grid compiles the same classes. */
  private def zvalCol(dims: Seq[DimBound]): Column = {
    def g(d: DimBound) = {
      val (lo, hi) = (PlanConstant.column(d.lo), PlanConstant.column(d.hi))
      Lake.scaleToGrid(least(greatest(col(d.name).cast("long"), lo), hi), lo, hi)
    }
    dims match {
      case Seq(a, b)    => graft.functions.Morton2.morton2(g(a), g(b))
      case Seq(a, b, c) => graft.functions.Morton3.morton3(g(a), g(b), g(c))
      case other => throw new IllegalArgumentException(
        s"z-order lake supports 2 or 3 dims, got ${other.map(_.name)}")
    }
  }

  /** What [[applyBatch]] and [[rebuild]] learn from one pass over their
    * rows: the row count, how many fall outside the grid box, the
    * occupied cells, and each dim's min/max. One partition's fold;
    * `merge` combines them on the driver. */
  private final class CellStats(nDims: Int) extends Serializable {
    var rows = 0L
    var oob = 0L
    val cells = new java.util.BitSet(1 << 12)
    private val lo = Array.fill(nDims)(Long.MaxValue)
    private val hi = Array.fill(nDims)(Long.MinValue)

    /** One row of [[cellStats]]' projection: (cell, out-of-box, dims…). */
    def add(r: InternalRow): Unit = {
      rows += 1
      if (!r.isNullAt(0)) cells.set(r.getLong(0).toInt)
      if (!r.isNullAt(1) && r.getBoolean(1)) oob += 1
      var i = 0
      while (i < nDims) {
        if (!r.isNullAt(2 + i)) {
          val v = r.getLong(2 + i)
          lo(i) = math.min(lo(i), v); hi(i) = math.max(hi(i), v)
        }
        i += 1
      }
    }

    def merge(o: CellStats): CellStats = {
      rows += o.rows; oob += o.oob; cells.or(o.cells)
      (0 until nDims).foreach { i =>
        lo(i) = math.min(lo(i), o.lo(i)); hi(i) = math.max(hi(i), o.hi(i))
      }
      this
    }

    /** Dim `i`'s (min, max), None when it held only NULLs. */
    def range(i: Int): Option[(Long, Long)] =
      if (lo(i) > hi(i)) None else Some((lo(i), hi(i)))
  }

  /** [[CellStats]] of `df` under `dims`' grid: one projection (cell,
    * out-of-box flag, dims as long) folded per partition and merged on
    * the driver — one Spark job without a shuffle, and only the
    * projection's classes to compile (an aggregate would add a shuffle
    * stage and its per-task projection classes). */
  private def cellStats(df: DataFrame, dims: Seq[DimBound]): CellStats = {
    val oob = dims.map { d =>
      val v = col(d.name).cast("long")
      v < PlanConstant.column(d.lo) || v > PlanConstant.column(d.hi)
    }.reduce(_ || _)
    val proj = df.select((shiftright(zvalCol(dims), cellShift(dims.size)) +: oob +:
      dims.map(d => col(d.name).cast("long"))): _*)
    val n = dims.size
    DatasetBridge.foldPartitions(proj) { rows =>
      val s = new CellStats(n)
      rows.foreach(s.add)
      s
    }.foldLeft(new CellStats(n))(_ merge _)
  }

  /** Canonical path form for manifest entries and gc comparisons:
    * local URIs (`file:///...`) reduce to the plain path (java.io,
    * spark.read and Hadoop listings all accept it); remote URIs keep
    * their scheme+authority in Hadoop `Path` normal form. */
  private def canonPath(s: String): String = {
    val p = new org.apache.hadoop.fs.Path(s)
    val u = p.toUri
    if (u.getScheme == null || u.getScheme == "file") u.getPath else p.toString
  }

  /** Stat freshly-written slab files: per-file zval range + row count,
    * read from the parquet FOOTERS — row-group metadata and INT64
    * column statistics Spark always writes — so manifest construction
    * never re-scans the data it just wrote (one small ranged read per
    * file, bounded by the rewrite size). Missing statistics reject
    * loudly: a silent fallback to a data scan would hide a writer
    * regression as a slowdown. */
  private def statFiles(spark: SparkSession, dir: String): Seq[Entry] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files = FsIo.listFilesRecursive(conf, dir)
      .filter { f =>
        val n = new org.apache.hadoop.fs.Path(f).getName
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }.toSeq
    // footer reads are tiny but latency-bound (~10 ms of open cost
    // each) — a driver loop would serialize them; one small Spark job
    // fans the opens across executors. The conf snapshot broadcasts
    // once (it is the whole Hadoop conf — per-task shipping of it
    // dwarfed the footer reads themselves).
    val snap = spark.sparkContext.broadcast(FsIo.snapshot(spark))
    spark.sparkContext
      .parallelize(files, math.max(1, math.min(16, files.size)))
      .map(f => statOne(f, snap.value.value))
      .collect().toSeq
  }

  private def statOne(f: String, conf: Configuration): Entry = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), conf))
    try {
      val blocks = reader.getFooter.getBlocks
      require(!blocks.isEmpty, s"slab $f has no row groups")
      var rows = 0L
      var mn = Long.MaxValue
      var mx = Long.MinValue
      blocks.forEach { b =>
        rows += b.getRowCount
        val zc = b.getColumns.stream()
          .filter(c => c.getPath.toDotString == "zval")
          .findFirst().orElseThrow(() => new IllegalStateException(
            s"slab $f has no zval column"))
        val st = zc.getStatistics
        require(st != null && st.hasNonNullValue,
          s"slab $f row group lacks zval statistics")
        mn = math.min(mn,
          st.genericGetMin.asInstanceOf[java.lang.Long].longValue())
        mx = math.max(mx,
          st.genericGetMax.asInstanceOf[java.lang.Long].longValue())
      }
      Entry(canonPath(f), mn, mx, rows)
    } finally reader.close()
  }

  /** The one slab writer — init, rebuild, apply and compact all write
    * through it, so their shuffles and writes run one plan and share its
    * generated classes. `rows` carries `zval`; one range shuffle on
    * (`_grp`, zval) cuts it into ~`targetRows` slabs.
    *
    * `kept` is, for a rewrite, the sorted max cells of the same-epoch
    * slabs it keeps. Slab cuts must not SPAN a kept file's z-interval: a
    * rewrite slab sliced purely by row rank could cover the gap a kept
    * file sits in and overlap its box, eroding disjointness (and with it
    * skipping quality) version over version. Rows are therefore grouped
    * by how many kept intervals lie below them — rewrite rows can never
    * fall INSIDE a kept interval (its cells would have marked the file
    * touched), so same-group rows never straddle one — and the write
    * splits files per group (partitionBy), keeping the manifest a true
    * partition of z-space. Cell-granular: one 4096-entry literal lookup
    * per row, no per-file probing. Reading manifests by leaf-file path
    * never re-infers the directory key, so `_grp` vanishes. A whole
    * epoch (init, rebuild; `kept` None) is one group and writes its
    * files straight under `dir`. */
  private def writeSlabs(rows: DataFrame, dir: String, targetRows: Long,
                         totalRows: Long, shift: Int,
                         kept: Option[Seq[Long]]): Seq[Entry] = {
    val groupOfCell = { // one cumulative walk: O(cells + kept files)
      val maxCells = kept.getOrElse(Nil)
      val arr = new Array[Int](1 << 12)
      var n = 0
      var c = 0
      while (c < arr.length) {
        while (n < maxCells.length && maxCells(n) < c) n += 1
        arr(c) = n; c += 1
      }
      arr
    }
    val df = rows.withColumn("_grp", element_at(typedLit(groupOfCell.toSeq),
      (shiftright(col("zval"), shift) + 1).cast("int")))
    // totalRows comes from metadata the caller already holds (manifest
    // row counts + batch count) — never a re-count of the rewrite set
    val n = math.max(1L, (totalRows + targetRows - 1) / targetRows).toInt
    // r18: repartitionByRange executes its child TWICE — the range-bound
    // sampling pass is a separate Spark JOB ahead of the shuffle write,
    // so AQE stage reuse cannot cover it (intra-action only) and the
    // rewrite set — a parquet read of the touched slabs — was scanned
    // once to pick bounds and again to move rows. localCheckpoint the
    // input (lazily: the sampling job is what materializes it) so both
    // passes read the same blocks; the sampled bounds now also derive
    // from exactly the rows being written. Blocks are freed by the
    // context cleaner when the checkpoint RDD goes out of scope.
    val sorted = df.localCheckpoint(false)
      .repartitionByRange(n, col("_grp"), col("zval"))
      .sortWithinPartitions("_grp", "zval")
    (if (kept.isEmpty) sorted.drop("_grp").write
     else sorted.write.partitionBy("_grp"))
      .mode(SaveMode.Overwrite).parquet(dir)
    statFiles(df.sparkSession, dir)
  }

  /** Initialize over 2 or 3 clustering dims: pin each dim's grid bounds
    * from `df`'s own min/max (one 1-row aggregate), write the fully
    * z-ordered v0 slabs, manifest, pointer. */
  def init(df: DataFrame, root: String, dimCols: Seq[String],
           targetRows: Long): Unit = {
    require(dimCols.size == 2 || dimCols.size == 3,
      s"z-order lake supports 2 or 3 dims, got $dimCols")
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    SessionState.evict(root) // re-init may change the column set
    FsIo.mkdirs(conf, root)
    val aggs = dimCols.flatMap(c =>
      Seq(min(col(c)).cast("long"), max(col(c)).cast("long"))) :+
      count(lit(1)) // row count rides the same one-row aggregate
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    require(!r.isNullAt(0), "cannot init a z-order lake from an empty frame")
    val dims = dimCols.zipWithIndex.map { case (c, i) =>
      DimBound(c, r.getLong(2 * i), r.getLong(2 * i + 1))
    }
    val totalRows = r.getLong(2 * dimCols.size)
    writeEpochs(root, Seq(dims), conf)
    val slabs = df.withColumn("zval", zvalCol(dims))
    val entries = writeSlabs(slabs, s"$root/data/v00000", targetRows,
      totalRows, cellShift(dims.size), None)
    commit(root, Pointer(0, -1L), entries, 0, conf)
    SessionState(slabSchemaKey(root))(FsIo.asRead(slabs.schema))
  }

  /** 2-D convenience form. */
  def init(df: DataFrame, root: String, xCol: String, yCol: String,
           targetRows: Long): Unit =
    init(df, root, Seq(xCol, yCol), targetRows)

  /** The current table: every manifest file, by reference. Carries the
    * `zval` column (callers drop it; rewrites reuse it). */
  def current(spark: SparkSession, root: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = pointer(root, conf)
    readSlabs(spark, root, readManifest(root, p.version, conf).map(_.path))
  }

  /** Box scan through the z-layout alone: the value-space box maps onto
    * the pinned grid (same exact floor scale as the write path, clamp
    * included — monotone, so every row the box can match lands in the
    * mapped cell box), the BIGMIN decomposition
    * ([[graft.functions.Morton2.zRangesForBox]] /
    * [[graft.functions.Morton3.zRangesForBox3]]) turns the cell box
    * into a few z-intervals, and only manifest slabs intersecting one
    * of them open. No per-file per-dim statistics are consulted — the
    * z-layout IS the index; the exact predicate runs over the
    * survivors, so the result is row-identical to the full filter. At
    * 100 TB this is the one-metadata-pass form of the selective
    * multi-dim scan the lake is clustered for. `los`/`his` are
    * inclusive, in [[readDims]] order. The box decomposes PER EPOCH —
    * each epoch's grid maps and BIGMIN-decomposes independently, only
    * that epoch's slabs intersect its z-intervals — and the file sets
    * union; an epoch whose box lies wholly outside the query only
    * matches its border-cell slabs (if any), so a recent-time query
    * over a long-lived monotone lake opens O(matching) files. */
  def readBox(spark: SparkSession, root: String, los: Seq[Long],
              his: Seq[Long], maxRanges: Int = 64): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = pointer(root, conf)
    val epochs = readEpochs(root, conf)
    val nd = epochs.head.size
    require(los.size == nd && his.size == nd,
      s"box rank ${los.size}/${his.size} vs $nd lake dims")
    require(los.zip(his).forall { case (l, h) => l <= h },
      s"empty box $los..$his")
    // exact integer twin of scaleToGrid ((v−lo)·65535 floor-div span)
    def grid(v: Long, d: DimBound): Long = {
      val c = math.max(d.lo, math.min(d.hi, v))
      if (d.hi == d.lo) 0L else (c - d.lo) * 65535L / (d.hi - d.lo)
    }
    val manifest = readManifest(root, p.version, conf)
    val files = epochs.zipWithIndex.flatMap { case (dims, e) =>
      val g = dims.indices.map(i =>
        (grid(los(i), dims(i)), grid(his(i), dims(i))))
      val ranges = nd match {
        case 2 => graft.functions.Morton2.zRangesForBox(
          g(0)._1, g(0)._2, g(1)._1, g(1)._2, 16, maxRanges)
        case _ => graft.functions.Morton3.zRangesForBox3(
          g(0)._1, g(0)._2, g(1)._1, g(1)._2, g(2)._1, g(2)._2, 16, maxRanges)
      }
      manifest.filter(en => en.epoch == e &&
        ranges.exists(r => r._1 <= en.maxZ && en.minZ <= r._2)).map(_.path)
    }
    val dims = epochs.last
    // the box bounds are plan constants: every box compiles the same
    // classes (the manifest, not a pushed-down filter, picks the files)
    val pred = dims.indices.map(i => col(dims(i).name).between(
      PlanConstant.column(los(i)), PlanConstant.column(his(i)))).reduce(_ && _)
    if (files.isEmpty) current(spark, root).filter(lit(false))
    else readSlabs(spark, root, files).filter(pred)
  }

  /** 2-D convenience form. */
  def readBox(spark: SparkSession, root: String, xCol: String, yCol: String,
              xLo: Long, xHi: Long, yLo: Long, yHi: Long): DataFrame = {
    val dims = readDims(root, spark.sparkContext.hadoopConfiguration)
    require(dims.map(_.name) == Seq(xCol, yCol),
      s"lake is clustered on ${dims.map(_.name)}, not ($xCol, $yCol)")
    readBox(spark, root, Seq(xLo, yLo), Seq(xHi, yHi))
  }

  /** TIME TRAVEL: the table as of `version` — manifests are immutable
    * once written and slabs are content-addressed by version directory,
    * so an as-of read is just the old manifest's file list (Delta's
    * `VERSION AS OF`). Aged-out manifests (past retention GC) reject
    * loudly with the live range, mirroring [[VersionedLake.asOf]]. */
  def asOf(spark: SparkSession, root: String, version: Int): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    pointerAsOf(root, version, conf, "manifest")(
      hasManifest(root, version, conf))
    readSlabs(spark, root, readManifest(root, version, conf).map(_.path))
  }

  /** Manifest diff — which slabs a version range touched: one row per
    * slab that is only in `from` (`removed`) or only in `to` (`added`);
    * carried-by-reference slabs don't appear. The incremental-consumer
    * primitive: a downstream reader at version `from` processes exactly
    * the added slabs (plus retracts the removed ones) instead of
    * rescanning the table — metadata-only, no file opens. */
  def changedSlabs(root: String, from: Int, to: Int,
                   conf: Configuration = new Configuration())
      : Seq[(String, Entry)] = {
    require(from <= to, s"bad version range $from..$to")
    val a = readManifest(root, from, conf)
    val b = readManifest(root, to, conf)
    val aPaths = a.map(_.path).toSet
    val bPaths = b.map(_.path).toSet
    a.filterNot(e => bPaths.contains(e.path)).map(("removed", _)) ++
      b.filterNot(e => aPaths.contains(e.path)).map(("added", _))
  }

  /** Apply one append batch: rewrite only the same-epoch slabs whose
    * z-range the batch touches, carry the rest by reference, swap the
    * pointer. The clustering dims come from the lake's own `_bounds`
    * (current epoch). When more than `epochThreshold` of the batch
    * falls outside the current grid box — the monotone-dimension
    * signature — a new epoch opens instead of piling the batch onto
    * the border cells: fresh bounds cover the old box plus headroom of
    * one full span past each violated side (geometric, so a steadily
    * advancing dim opens O(log span) epochs total), no existing slab
    * is touched (per-batch cost stays O(batch)), and old zvals never
    * recompute. */
  def applyBatch(batch: DataFrame, root: String, targetRows: Long,
                 batchId: Long, retain: Int = 2,
                 epochThreshold: Double = DefaultEpochThreshold): Unit =
    applyOnce(root, batchId, batch.sparkSession.sparkContext.hadoopConfiguration)(
      appendBatch(batch, root, _, targetRows, batchId, retain, epochThreshold))

  /** [[applyBatch]] behind the replay gate; false for an empty batch. */
  private def appendBatch(batch: DataFrame, root: String, p: Pointer,
                          targetRows: Long, batchId: Long, retain: Int,
                          epochThreshold: Double): Boolean = {
    val spark = batch.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val epochs = readEpochs(root, conf)
    val curDims = epochs.last
    val manifest = readManifest(root, p.version, conf)
    val shift = cellShift(curDims.size)
    // one pass over the batch — it also subsumes the isEmpty probe, so
    // the per-batch jobs are this pass and the rewrite
    val stats = cellStats(batch, curDims)
    if (stats.rows == 0L) return false
    val (epoch, dims, hit) =
      if (stats.oob.toDouble / stats.rows > epochThreshold) {
        val fresh = curDims.zipWithIndex.map { case (d, i) =>
          // an all-NULL dim column has no min/max — NULL values are
          // in-box by convention (they z-encode to NULL), so the dim
          // keeps its grid
          stats.range(i) match {
            case None => d
            case Some((blo, bhi)) if blo >= d.lo && bhi <= d.hi => d // in-box dim keeps its grid
            case Some((blo, bhi)) =>
              // headroom = one full span past each violated side: the next
              // overflow needs the dim to advance by ≥ the whole history,
              // so epochs per monotone dim are O(log ingest-span)
              val g = math.max(d.hi - d.lo, bhi - blo).max(1L)
              DimBound(d.name,
                if (blo < d.lo) math.min(blo, d.lo - g) else d.lo,
                if (bhi > d.hi) math.max(bhi, d.hi + g) else d.hi)
          }
        }
        // a new epoch's slabs share no z-space with any existing slab,
        // so the batch touches nothing
        (openEpoch(root, manifest, epochs, fresh, conf), fresh,
          new java.util.BitSet(1 << 12))
      } else (epochs.size - 1, curDims, stats.cells)
    val batchZ = batch.withColumn("zval", zvalCol(dims))
    // touched files on the driver: a same-epoch slab is touched when a
    // batch cell lies in its [minZ, maxZ] cell span (cell-granular, so a
    // batch row in a slab's boundary cell touches it). Only SAME-epoch
    // slabs are comparable; the bitmap lookup is O(files).
    def touched(e: Entry): Boolean = e.epoch == epoch && {
      val next = hit.nextSetBit((e.minZ >> shift).toInt)
      next >= 0 && next <= (e.maxZ >> shift)
    }
    // batch schema must match the lake's slab schema exactly (names AND
    // types): unionByName silently widens (long ∪ double → double), so a
    // drifted batch would poison every later reader of the mixed layout
    // with a type-mismatch — fail HERE, at the commit, with both schemas
    val lakeSchema = slabSchema(spark, root, manifest.map(_.path))
      .map(f => (f.name, f.dataType.simpleString)).sortBy(_._1)
    val batchSchema = batchZ.schema
      .map(f => (f.name, f.dataType.simpleString)).sortBy(_._1)
    require(lakeSchema == batchSchema,
      s"batch schema $batchSchema does not match lake schema $lakeSchema")
    val (rewrite, keep) = manifest.partition(touched)
    val rewriteRows =
      if (rewrite.isEmpty) batchZ
      else readSlabs(spark, root, rewrite.map(_.path)).unionByName(batchZ)
    commitRewrite(spark, root, keep, rewriteRows,
      rewrite.map(_.rows).sum + stats.rows,
      Pointer(p.version + 1, batchId), targetRows, retain, shift, epoch)
    true
  }

  /** 2-D convenience form (validates the dim names). */
  def applyBatch(batch: DataFrame, root: String, xCol: String, yCol: String,
                 targetRows: Long, batchId: Long, retain: Int): Unit = {
    val dims = readDims(root, batch.sparkSession.sparkContext.hadoopConfiguration)
    require(dims.map(_.name) == Seq(xCol, yCol),
      s"lake is clustered on ${dims.map(_.name)}, not ($xCol, $yCol)")
    applyBatch(batch, root, targetRows, batchId, retain)
  }

  def applyBatch(batch: DataFrame, root: String, xCol: String, yCol: String,
                 targetRows: Long, batchId: Long): Unit =
    applyBatch(batch, root, xCol, yCol, targetRows, batchId, 2)

  /** Rewrite `rows` into fresh slabs respecting `keep`'s intervals
    * (see [[writeSlabs]]), commit them as `next`, sweep. All rewrite
    * rows live in ONE epoch (`epoch`); kept slabs of OTHER epochs are in
    * incomparable z-spaces and place no constraint on the cuts. */
  private def commitRewrite(spark: SparkSession, root: String,
                            keep: Seq[Entry], rows: DataFrame,
                            totalRows: Long, next: Pointer,
                            targetRows: Long,
                            retain: Int, shift: Int, epoch: Int): Unit = {
    val keptMaxCells = keep.filter(_.epoch == epoch)
      .map(_.maxZ >> shift).sorted
    val fresh = writeSlabs(rows, f"$root/data/v${next.version}%05d",
      targetRows, totalRows, shift, Some(keptMaxCells))
      .map(_.copy(epoch = epoch))
    val conf = spark.sparkContext.hadoopConfiguration
    sweep(root, commit(root, next, keep ++ fresh, retain, conf), conf)
  }

  /** Slab compaction — the fragmentation half of maintenance: batches
    * with narrow z-spans leave runs of under-filled slabs, a pure
    * per-scan tax (file opens, starved vectorized readers). Merge every
    * run of ≥2 ADJACENT slabs holding ≤ targetRows/2 rows into full
    * slabs, through the same manifest + pointer swap (a maintenance
    * version: `lastBatch` is unchanged — compaction consumes no batch).
    * Full-sized slabs and isolated small ones (rewriting alone gains
    * nothing) carry by reference. One epoch per call (default: the
    * current one — where ingest fragments; frozen epochs compact by
    * explicit `epoch`). Returns the new slab count.
    *
    * Unlike [[applyBatch]]'s cell-granular touch test, a size-chosen
    * rewrite set CAN share a boundary cell with a kept slab — which
    * would break the kept-interval grouping invariant (a new slab could
    * silently span the kept slab's z-interval, eroding manifest
    * disjointness version over version). Kept slabs cell-overlapping
    * the rewrite set are therefore pulled in until stable. */
  def compact(spark: SparkSession, root: String, targetRows: Long,
              retain: Int = 2, epoch: Int = -1): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = pointer(root, conf)
    val epochs = readEpochs(root, conf)
    val e = if (epoch < 0) epochs.size - 1 else epoch
    require(e < epochs.size, s"epoch $e out of range [0, ${epochs.size})")
    val shift = cellShift(epochs.head.size)
    val manifest = readManifest(root, p.version, conf)
    val (here, other) = manifest.partition(_.epoch == e)
    val sorted = here.sortBy(_.minZ)
    val small = sorted.map(_.rows * 2 <= targetRows)
    val rewriteIdx = scala.collection.mutable.BitSet.empty
    var i = 0
    while (i < sorted.length) {
      if (small(i)) {
        var j = i
        while (j < sorted.length && small(j)) j += 1
        if (j - i >= 2) (i until j).foreach(rewriteIdx += _)
        i = j
      } else i += 1
    }
    if (rewriteIdx.isEmpty) return manifest.length
    // pull in kept slabs that share a boundary CELL with the rewrite set
    // (z-intervals are disjoint, so only sort-adjacent slabs can share a
    // cell — sweep both directions until stable)
    var changed = true
    while (changed) {
      changed = false
      var k = 0
      while (k < sorted.length - 1) {
        val sameCell = (sorted(k).maxZ >> shift) == (sorted(k + 1).minZ >> shift)
        if (sameCell && rewriteIdx.contains(k) != rewriteIdx.contains(k + 1)) {
          rewriteIdx += (if (rewriteIdx.contains(k)) k + 1 else k)
          changed = true
        }
        k += 1
      }
    }
    val (rewrite, keep) = sorted.zipWithIndex.partition {
      case (_, idx) => rewriteIdx.contains(idx)
    }
    val next = Pointer(p.version + 1, p.lastBatch)
    commitRewrite(spark, root, keep.map(_._1) ++ other,
      readSlabs(spark, root, rewrite.map(_._1.path)),
      rewrite.map(_._1.rows).sum, next, targetRows, retain, shift, e)
    readManifest(root, next.version, conf).size
  }

  /** CROSS-EPOCH REBUILD — the maintenance half grid epochs need at
    * lake age: epochs accumulate for the life of the lake (O(log span)
    * per monotone dim — [[readBox]] stays correct but decomposes and
    * unions per-epoch file sets forever, and frozen epochs' border
    * slabs keep matching). Re-zval EVERYTHING onto ONE fresh epoch
    * whose grid covers the full current domain (per-dim min/max of the
    * data itself — [[init]]'s rule; an all-NULL dim keeps its current
    * grid, NULLs being in-box by convention), through the same manifest
    * + pointer swap: a maintenance version, `lastBatch` unchanged,
    * contents identical — the [[compact]] contract. O(corpus) by
    * design (it IS the rebuild); run it like OPTIMIZE, amortized
    * against the per-query epoch tax. Old epoch blocks stay in
    * `_bounds` (bytes — time-travel readers within retention still
    * decode old slabs); once their manifests age out they are inert.
    * Returns the new epoch index. */
  def rebuild(spark: SparkSession, root: String, targetRows: Long,
              retain: Int = 2): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = pointer(root, conf)
    val epochs = readEpochs(root, conf)
    val curDims = epochs.last
    val manifest = readManifest(root, p.version, conf)
    val df = readSlabs(spark, root, manifest.map(_.path)).drop("zval")
    // the batch pass of applyBatch, over the whole lake
    val stats = cellStats(df, curDims)
    val totalRows = stats.rows
    require(totalRows > 0, "cannot rebuild an empty lake")
    val dims = curDims.zipWithIndex.map { case (d, i) =>
      stats.range(i).fold(d) { case (lo, hi) => DimBound(d.name, lo, hi) }
    }
    val epoch = openEpoch(root, manifest, epochs, dims, conf)
    val next = p.version + 1
    val entries = writeSlabs(df.withColumn("zval", zvalCol(dims)),
        f"$root/data/v$next%05d", targetRows, totalRows,
        cellShift(dims.size), None)
      .map(_.copy(epoch = epoch))
    sweep(root, commit(root, Pointer(next, p.lastBatch), entries, retain, conf),
      conf)
    epoch
  }

  /** Delete data no `retained` entry references (what
    * [[Ledger.Manifests.commit]] returns). Driver-side, bounded by the
    * file count — the same cardinality a catalog listing holds. A version
    * directory with ZERO live slabs is deleted RECURSIVELY — per-file
    * deletion of only `.parquet` names would strand `_SUCCESS` markers,
    * `.crc` sidecars and emptied `_grp=K/` subdirectories forever on a
    * long-lived lake; a directory with surviving slabs (files carry by
    * reference across versions) sheds only its dead `.parquet` files.
    *
    * TRAILING epochs no retained manifest references are trimmed from
    * `_bounds` here too: [[applyBatch]] appends the epoch block BEFORE
    * the manifest/pointer commit, so a crash (or failed Spark job)
    * between the two leaves a permanent empty epoch — and repeated
    * failed retries of differently-bounded batches would stack them,
    * taxing every later readBox/compact forever. Only trailing blocks
    * are droppable (epoch ids are positional); interior epochs with no
    * live slabs stay, preserving every referenced id. */
  private def sweep(root: String, retained: Seq[Entry],
                    conf: Configuration): Unit = {
    val live = retained.map(_.path).toSet
    val epochs = readEpochs(root, conf)
    val maxRef = retained.map(_.epoch).foldLeft(0)(math.max)
    if (epochs.size > maxRef + 1)
      writeEpochs(root, epochs.take(maxRef + 1), conf)
    FsIo.listDirNames(conf, s"$root/data").foreach { d =>
      val dir = s"$root/data/$d"
      // recursive listing: grouped writes nest slabs under _grp=K/ dirs
      val files = FsIo.listFilesRecursive(conf, dir).toList
      if (!files.exists(f => live.contains(canonPath(f))))
        FsIo.delete(conf, dir)
      else files.foreach { f =>
        val c = canonPath(f)
        if (c.endsWith(".parquet") && !live.contains(c)) FsIo.delete(conf, f)
      }
    }
  }

  /** Test cleanup. */
  def destroy(root: String,
              conf: Configuration = new Configuration()): Unit = {
    SessionState.evict(root)
    FsIo.delete(conf, root)
  }
}
