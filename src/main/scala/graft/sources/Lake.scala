package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** Lake layout helpers: bucketed/sorted table writes so that repeated
  * entity-keyed operations (the engine's dominant access pattern —
  * resample, runs, joins on location/user) read pre-co-located data and
  * skip their shuffle entirely.
  *
  * At 100 TB this is the difference between re-shuffling the fact table per
  * query and a one-time layout cost: two tables bucketed by the same key
  * into the same bucket count sort-merge join with ZERO Exchange (verified
  * in LakeSpec), and a bucketed+sorted table feeds window/mapGroups plans
  * without re-sorting.
  */
object Lake {

  /** Write as a bucketed, in-bucket-sorted managed table. Drops any stale
    * table AND its warehouse location first: with an in-memory catalog a
    * previous JVM's managed-table directory survives on disk while the
    * table entry does not, and `saveAsTable` then fails with
    * LOCATION_ALREADY_EXISTS. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(warehouse, table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** MERGE (upsert + delete) of a change batch into a snapshot — the
    * Delta/Iceberg `MERGE INTO` semantics expressed as ONE plan over
    * stock operators, for lakes that are plain parquet:
    *
    *   - matched + op='delete'      → row removed
    *   - matched + op='update'     → source's non-key columns win
    *   - matched + op='insert'     → NOT applied; target row carried
    *     (Delta's WHEN NOT MATCHED clause simply doesn't fire)
    *   - not matched + 'insert'    → row appended
    *   - not matched + update/delete → no-op (nothing to hit)
    *   - target rows never matched → carried unchanged
    *
    * `source` must carry `keyCol`, an `op` column and the same data
    * columns as `target`. Shape at scale: ONE full-outer join on the
    * key, i.e. one shuffle of each side and a single pass over the
    * snapshot (no union, no second source scan — matched/unmatched
    * routing happens per joined row); if the target is bucketed by the
    * key ([[writeBucketed]]) the snapshot side's shuffle disappears
    * entirely.
    *
    * Multiple change rows per key are a caller error (MERGE's own
    * cardinality rule); the join would multiply rows, as in Delta. */
  def merge(target: DataFrame, source: DataFrame, keyCol: String,
            opCol: String = "op"): DataFrame = {
    import org.apache.spark.sql.functions._
    val dataCols = target.columns.filter(_ != keyCol)
    val src = source.select(
      col(keyCol) +: col(opCol).as("_op") +:
        dataCols.map(c => col(c).as(s"_src_$c")): _*)
    val tgt = target.select(
      col(keyCol) +: lit(1).as("_tgt") +: dataCols.map(col): _*)
    tgt.join(src, Seq(keyCol), "full_outer")
      .filter((col("_tgt").isNotNull &&
          (col("_op").isNull || col("_op") =!= "delete")) ||
        (col("_tgt").isNull && col("_op") === "insert"))
      .select(col(keyCol) +: dataCols.map(c =>
        when(col("_tgt").isNull || col("_op") === "update", col(s"_src_$c"))
          .otherwise(col(c)).as(c)): _*)
  }

  /** Snapshot diff — what changed between two versions of a keyed
    * table: one full outer join on the key, each row labelled
    * `inserted` / `deleted` / `updated` (any non-key column differs,
    * null-safe) / `unchanged`. The audit half of [[merge]]: diff two
    * snapshots to recover the change batch, or diff merge output
    * against intent. One shuffle per side (zero for bucketed
    * snapshots), no driver actions; at 100 TB this is the cheapest
    * possible version comparison — no hashing pre-pass, the join IS
    * the comparison. */
  def diff(before: DataFrame, after: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dataCols = before.columns.filter(_ != keyCol)
    require(after.columns.sorted.sameElements(before.columns.sorted),
      "diff requires identical schemas")
    val b = before.select(col(keyCol) +: lit(1).as("_in_b") +:
      dataCols.map(c => col(c).as(s"_b_$c")): _*)
    val a = after.select(col(keyCol) +: lit(1).as("_in_a") +:
      dataCols.map(c => col(c).as(s"_a_$c")): _*)
    val changed = dataCols.map(c => !(col(s"_b_$c") <=> col(s"_a_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    b.join(a, Seq(keyCol), "full_outer")
      .select(col(keyCol) +:
        when(col("_in_b").isNull, "inserted")
          .when(col("_in_a").isNull, "deleted")
          .when(changed, "updated")
          .otherwise("unchanged").as("change") +:
        dataCols.flatMap(c =>
          Seq(col(s"_b_$c").as(s"before_$c"), col(s"_a_$c").as(s"after_$c"))): _*)
  }

  // ---- Z-order clustering (multi-dimensional data skipping) ---------
  //
  // Bucketing co-locates ONE key; range queries over two correlated
  // dims (time × entity, part × supplier, lat × lon) skip nothing under
  // either single-column sort. Z-ordering sorts by the Morton
  // interleave of both dims' fixed-point ranks, so every file's min/max
  // statistics cover a compact 2-D box and a box predicate prunes all
  // but O(perimeter) of the files — Delta's OPTIMIZE ZORDER BY and
  // Iceberg's z-order sort, re-expressed over plain parquet. At 100 TB
  // this is a one-time layout shuffle that turns every subsequent 2-D
  // selective scan from full-corpus into a few files (LakeSpec pins the
  // bound: a 1/8 × 1/8 box touches ≤ 6 of 32 z-ordered partitions vs
  // ~all under row order).

  /** Fixed-point rank of an integer column on the 2^bits grid:
    * (v−min)·(2^bits−1) / (max−min) as an exact floor division — the
    * numerator is reduced to an exact multiple of the span first, so
    * the one double division is exact while the scaled numerator stays
    * under 2^53 (spans up to ~2^37 at 16 grid bits; wider id spaces
    * should pre-shift). The 2^53 bound is ENFORCED columnar
    * (assert_true, the loud-failure convention) — an over-wide span
    * would silently produce inexact, engine-divergent grid ranks.
    * Degenerate min==max maps to 0. */
  def scaleToGrid(v: Column, minV: Column, maxV: Column,
                  bits: Int = 16): Column = {
    import org.apache.spark.sql.functions._
    val span = maxV - minV
    val spanLimit = (1L << 53) / ((1L << bits) - 1) // numerator < 2^53
    // NULL span (all-NULL min/max input) passes the guard and flows to
    // NULL output — the NULL-pass convention (CfTime's encoders do the
    // same); only a PRESENT over-wide span is the loud failure
    val guarded = when(assert_true(coalesce(span < lit(spanLimit), lit(true)),
      lit(s"scaleToGrid: span exceeds 2^53/(2^$bits-1) — grid ranks " +
        "would be inexact; pre-shift the id space")).isNull, span)
    val num = (v - minV) * lit((1L << bits) - 1)
    when(guarded === 0, lit(0L))
      .otherwise(((num - pmod(num, guarded)) / guarded).cast("long"))
  }

  /** Attach the z-value of two integer dims, scaled by the frame's own
    * global min/max (one 1-row aggregate broadcast — the usual
    * feasibility-row pattern, never a driver collect). */
  def zOrderFrame(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val bounds = df.agg(
      min(col(xCol)).cast("long").as("_minx"),
      max(col(xCol)).cast("long").as("_maxx"),
      min(col(yCol)).cast("long").as("_miny"),
      max(col(yCol)).cast("long").as("_maxy"))
    df.crossJoin(broadcast(bounds))
      .withColumn("zval", graft.functions.Morton2.morton2(
        scaleToGrid(col(xCol).cast("long"), col("_minx"), col("_maxx")),
        scaleToGrid(col(yCol).cast("long"), col("_miny"), col("_maxy"))))
      .drop("_minx", "_maxx", "_miny", "_maxy")
  }

  /** Write df z-order-clustered on (xCol, yCol) into `files` parquet
    * files: ONE range shuffle on the z-value, in-file sort, stats-ready
    * layout. */
  def zOrderWrite(df: DataFrame, xCol: String, yCol: String,
                  path: String, files: Int): Unit = {
    import org.apache.spark.sql.functions.col
    zOrderFrame(df, xCol, yCol)
      .repartitionByRange(files, col("zval"))
      .sortWithinPartitions("zval")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Three-dimensional [[zOrderFrame]] — the (time, lat, lon)
    * clustering key a climate lake sorts by (48-bit Morton key). */
  def zOrderFrame3(df: DataFrame, xCol: String, yCol: String,
                   zCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val bounds = df.agg(
      min(col(xCol)).cast("long").as("_minx"),
      max(col(xCol)).cast("long").as("_maxx"),
      min(col(yCol)).cast("long").as("_miny"),
      max(col(yCol)).cast("long").as("_maxy"),
      min(col(zCol)).cast("long").as("_minz"),
      max(col(zCol)).cast("long").as("_maxz"))
    df.crossJoin(broadcast(bounds))
      .withColumn("zval", graft.functions.Morton3.morton3(
        scaleToGrid(col(xCol).cast("long"), col("_minx"), col("_maxx")),
        scaleToGrid(col(yCol).cast("long"), col("_miny"), col("_maxy")),
        scaleToGrid(col(zCol).cast("long"), col("_minz"), col("_maxz"))))
      .drop("_minx", "_maxx", "_miny", "_maxy", "_minz", "_maxz")
  }

  /** ANALYZE-style per-column statistics — the stats table a planner
    * (join reorder, broadcast choice) and a data-skipping layer
    * consume: rows, nulls, min/max and exact distinct count per
    * requested column, long format (col_name, n_rows, n_nulls, min_v,
    * max_v, n_distinct). Min/max surface as strings for the uniform
    * schema, so call it on columns whose string form is engine-stable
    * (integers, strings, dates — NOT raw doubles, whose
    * scientific-notation thresholds differ by engine).
    *
    * Plan shape — two narrow passes, NOT one multi-distinct
    * aggregation: Spark plans k distinct aggregates as an Expand that
    * multiplies every row (k+1)-fold through two shuffles — measured
    * 8.1 s on four lineitem columns at sf0.1 where this form takes
    * ~1 s. Pass 1 is a plain agg (rows/nulls/min/max, map-side
    * partial, one 1-row result); pass 2 explodes (column, value)
    * pairs and dedups them with map-side partial aggregation — the
    * shuffle carries distinct pairs only. At 100 TB pass `approxDistinct
    * = true`: pass 2 then builds per-column HLL registers
    * ([[graft.pipeline.Sketches.hllRegisters]]) instead — the shuffle
    * carries at most cols × 2^b register rows (map-side max-combined)
    * no matter the data size, where the exact mode's distinct-pair
    * shuffle grows with the corpus. Exact stays the default (ANALYZE is
    * maintenance, and planners want exact counts when they can afford
    * them); the approximate n_distinct lands in the same column with
    * the standard ±1.04/√2^b relative error. */
  def analyzeColumns(df: DataFrame, cols: Seq[String],
                     approxDistinct: Boolean = false, hllBits: Int = 12)
      : DataFrame = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty, "analyzeColumns needs at least one column")
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
      min(col(c)).cast("string").as(s"${c}__min"),
      max(col(c)).cast("string").as(s"${c}__max"))) :+
      count(lit(1)).as("__n")
    val basic = df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"), col("__n").as("n_rows"),
        col(s"${c}__nulls").as("n_nulls"), col(s"${c}__min").as("min_v"),
        col(s"${c}__max").as("max_v"))): _*)).as("s"))
      .select(col("s.*"))
    val pairs = df
      .select(posexplode(array(cols.map(c => col(c).cast("string")): _*))
        .as(Seq("_i", "_v")))
      .filter(col("_v").isNotNull) // countDistinct ignores nulls
    val distincts = (if (approxDistinct)
        graft.pipeline.Sketches.hllEstimate(
            graft.pipeline.Sketches.hllRegisters(pairs, "_i", "_v", hllBits),
            hllBits)
          .select(col("grp").as("_i"),
            round(col("est")).cast("long").as("n_distinct"))
      else pairs
        .distinct()
        .groupBy(col("_i")).agg(count(lit(1)).as("n_distinct")))
      .select(element_at(
        array(cols.map(lit): _*), col("_i") + 1).as("col_name"),
        col("n_distinct"))
    basic.join(distincts, Seq("col_name"), "left_outer")
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("min_v"), col("max_v"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"))
  }

  /** Compact a parquet directory's files into ~`targetBytes` outputs —
    * the OPTIMIZE/bin-packing half of lake maintenance. Streaming sinks
    * and per-batch writes proliferate small files; at scale that is a
    * pure tax (NameNode/listing metadata, per-file open cost, starved
    * vectorized readers), paid on EVERY subsequent scan. Compaction
    * pays one read + one size-proportional shuffle: output count =
    * ceil(input bytes / targetBytes), round-robin when unordered or a
    * range shuffle on `sortCol` (keeps per-file min/max stats tight —
    * compose with [[zOrderWrite]]'s zval for 2-D layouts). Returns the
    * output file count. Writes to a NEW directory — swap-in is the
    * caller's transaction (pointer swap or rename), never in-place. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetBytes: Long, sortCol: Option[String] = None): Int = {
    import org.apache.spark.sql.functions.col
    require(targetBytes >= (1L << 16), s"targetBytes too small: $targetBytes")
    val in = new org.apache.hadoop.fs.Path(inPath)
    val fs = in.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // RECURSIVE listing, no extension filter: partitioned layouts nest
    // data files in subdirectories and not every writer suffixes
    // .parquet — a non-recursive/filtered listing read bytes = 0 and
    // silently packed everything into one file. Only metadata markers
    // (_SUCCESS, .crc, ...) are excluded.
    val it = fs.listFiles(in, true)
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) bytes += f.getLen
    }
    require(bytes > 0L, s"no data files found under $inPath — nothing to compact")
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(inPath)
    val out = sortCol match {
      case Some(c) => df.repartitionByRange(n, col(c)).sortWithinPartitions(c)
      case None    => df.repartition(n)
    }
    out.write.mode(SaveMode.Overwrite).parquet(outPath)
    n
  }

  // ---- File-skipping index (Delta/Iceberg stats pruning as a
  // queryable artifact) -------------------------------------------------
  //
  // Per-FILE min/max plus a per-file Bloom word table over a point-
  // lookup column: the two halves of data skipping. min/max prunes
  // range predicates (tight after [[zOrderWrite]]/sorted [[compact]]);
  // the bloom prunes point lookups that fall INSIDE a file's range but
  // are absent from it — the case min/max can never catch. Both are
  // one scan to build, tiny to store beside the table, and consulted
  // BEFORE the read so a selective query opens O(matching files), not
  // O(all files). At 100 TB this is the difference between a metadata
  // lookup and a full-corpus scan for every needle query.

  /** One row per (file, column): rows, min/max (string form — same
    * caveat as [[analyzeColumns]]) for `statsCols`, plus a bloom word
    * table over `bloomCol` (mBits/k as in
    * [[graft.pipeline.Sketches.bloomBits]]). Returns (stats, bloom).
    * The bloom table carries its own `m_bits`/`k` columns — probing
    * with different parameters than the build silently produces false
    * negatives, so [[pruneFiles]] reads them from the table instead of
    * trusting a caller to repeat the constants. */
  def fileIndex(spark: SparkSession, path: String, statsCols: Seq[String],
                bloomCol: String, mBits: Long = 1L << 17, k: Int = 4)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(path)
      .withColumn("_file", input_file_name())
    val aggs = statsCols.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"${c}__min"),
      max(col(c)).cast("string").as(s"${c}__max"))) :+
      count(lit(1)).as("__n")
    val stats = df.groupBy(col("_file"))
      .agg(aggs.head, aggs.tail: _*)
      .select(explode(array(statsCols.map(c => struct(
        col("_file").as("file"), lit(c).as("col_name"),
        col("__n").as("n_rows"), col(s"${c}__min").as("min_v"),
        col(s"${c}__max").as("max_v"))): _*)).as("s"))
      .select(col("s.*"))
    val bloom = graft.pipeline.Sketches.bloomBits(
        df.select(col("_file"), col(bloomCol).cast("string").as("v")),
        "_file", "v", mBits, k)
      .withColumn("m_bits", lit(mBits))
      .withColumn("k", lit(k))
    (stats, bloom)
  }

  /** Candidate files for a point lookup `bloomCol = value`: bloom
    * membership against the index table only — the table data is never
    * touched, and bloom's zero false negatives make the prune SAFE for
    * any column type (the min/max stats are the range-predicate half —
    * see [[pruneFilesRange]] for the typed form; the STRING min/max here
    * are deliberately not consulted, where "9" > "10" would silently
    * drop files). mBits/k come from the table's own `m_bits`/`k`
    * columns (written by [[fileIndex]]) — a caller-supplied mismatch
    * was the one way to break the zero-false-negative guarantee.
    * The collect is bounded by the file count — the same cardinality a
    * catalog listing already materializes. */
  def pruneFiles(bloom: DataFrame, value: String): Seq[String] = {
    import org.apache.spark.sql.functions._
    require(bloom.columns.contains("m_bits") && bloom.columns.contains("k"),
      "bloom table lacks its m_bits/k parameter columns — build it with " +
        "Lake.fileIndex (a bare Sketches.bloomBits table does not pin " +
        "the probe parameters)")
    val params = bloom.select(min(col("m_bits")), max(col("m_bits")),
      min(col("k")), max(col("k"))).head()
    if (params.isNullAt(0)) return Nil // empty index → nothing to open
    require(params.getLong(0) == params.getLong(1) &&
        params.getInt(2) == params.getInt(3),
      s"bloom table mixes parameter sets: m_bits ${params.getLong(0)}/" +
        s"${params.getLong(1)}, k ${params.getInt(2)}/${params.getInt(3)}")
    graft.pipeline.Sketches.bloomContains(
        bloom.drop("m_bits", "k"), Seq(value),
        params.getLong(0), params.getInt(2))
      .filter(col("present"))
      .select(col("grp"))
      .collect().map(_.getString(0)).toSeq
  }

  /** Wide per-file statistics in the columns' NATIVE types — the typed
    * range half of data skipping (the Delta/Iceberg per-file stats
    * shape). One row per file: `file`, `n_rows`, plus `<c>__min` /
    * `<c>__max` carrying c's own type, so a range predicate compares
    * LONG to LONG and TIMESTAMP to TIMESTAMP — none of the string-form
    * "9" > "10" mis-ordering that keeps [[fileIndex]]'s stats table out
    * of the prune path. One scan to build, file-count rows to store. */
  def fileStats(spark: SparkSession, path: String,
                statsCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(statsCols.nonEmpty, "fileStats needs at least one column")
    val df = spark.read.parquet(path).withColumn("_file", input_file_name())
    val aggs = statsCols.flatMap(c => Seq(
      min(col(c)).as(s"${c}__min"), max(col(c)).as(s"${c}__max"))) :+
      count(lit(1)).as("n_rows")
    df.groupBy(col("_file").as("file")).agg(aggs.head, aggs.tail: _*)
  }

  /** Files whose [min, max] box can intersect `colName ∈ [lo, hi]` —
    * the comparison runs in the column's native type, so the prune has
    * ZERO false negatives (a file is dropped only when its entire value
    * interval misses the query interval; an all-NULL file has null
    * stats and is dropped too, which is safe — a range predicate never
    * matches NULL). Bounded collect: file-count cardinality. */
  def pruneFilesRange(stats: DataFrame, colName: String,
                      lo: Any, hi: Any): Seq[String] = {
    import org.apache.spark.sql.functions._
    require(stats.columns.contains(s"${colName}__min"),
      s"stats table has no ${colName}__min — build with Lake.fileStats " +
        s"over statsCols including '$colName'")
    stats.filter(col(s"${colName}__max") >= lit(lo) &&
        col(s"${colName}__min") <= lit(hi))
      .select(col("file"))
      .collect().map(_.getString(0)).toSeq
  }

  /** Conjunctive multi-column range scan: every (column, lo, hi)
    * predicate prunes independently off the same [[fileStats]] table
    * and the candidate sets INTERSECT (a file must admit all of them),
    * then the exact AND-predicate runs over the survivors — still
    * row-identical to the full filter, zero false negatives per column.
    * This is the z-order payoff in stats form: after [[zOrderWrite]]
    * both clustered columns have tight per-file boxes, so the
    * intersection prunes multiplicatively where a single-column sort
    * could prune only its own dimension. */
  def readPrunedMulti(spark: SparkSession, path: String, stats: DataFrame,
                      preds: Seq[(String, Any, Any)]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(preds.nonEmpty, "readPrunedMulti needs at least one predicate")
    val candidate = preds
      .map { case (c, lo, hi) => pruneFilesRange(stats, c, lo, hi).toSet }
      .reduce(_ intersect _)
    val full = spark.read.parquet(path)
    val pred = preds
      .map { case (c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi) }
      .reduce(_ && _)
    if (candidate.isEmpty) full.filter(lit(false))
    else spark.read.schema(full.schema).parquet(candidate.toSeq: _*)
      .filter(pred)
  }

  /** Range scan that opens only the files the stats admit: prune via
    * [[pruneFilesRange]] (optionally intersected with a bloom
    * point-lookup candidate set — `bloomFilter` = (bloom table from
    * [[fileIndex]], bloom column name, probe value)), then read JUST
    * those files and apply the exact predicate. Result is row-identical
    * to the full `spark.read.parquet(path).filter(...)` — pruning only
    * changes which files open. Over a z-ordered or sorted-compacted
    * table the candidate set is O(matching), so at 100 TB a selective
    * time-range scan touches a handful of files instead of the corpus;
    * the explicit schema keeps an empty/partial file list from
    * re-inferring a narrower one. */
  def readPruned(spark: SparkSession, path: String, stats: DataFrame,
                 colName: String, lo: Any, hi: Any,
                 bloomFilter: Option[(DataFrame, String, String)] = None)
      : DataFrame = {
    import org.apache.spark.sql.functions._
    val ranged = pruneFilesRange(stats, colName, lo, hi)
    val files = bloomFilter match {
      case Some((bloom, _, value)) =>
        val hit = pruneFiles(bloom, value).toSet
        ranged.filter(hit.contains)
      case None => ranged
    }
    val full = spark.read.parquet(path)
    val pred = bloomFilter match {
      case Some((_, bloomCol, value)) =>
        col(colName) >= lit(lo) && col(colName) <= lit(hi) &&
          col(bloomCol) === lit(value)
      case None => col(colName) >= lit(lo) && col(colName) <= lit(hi)
    }
    if (files.isEmpty) full.filter(lit(false))
    else spark.read.schema(full.schema).parquet(files: _*).filter(pred)
  }

  /** Count Exchange (shuffle) nodes in a frame's executed plan — the
    * assertion primitive for layout tests. */
  def countShuffles(df: DataFrame): Int = {
    var n = 0
    df.queryExecution.executedPlan.foreach {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => n += 1
      case _ =>
    }
    n
  }
}
