package graft

import graft.indicator.{Registry, VirtualModules}
import org.apache.spark.sql.SparkSession

/** CLI — the engine's equivalent of the reference's click front-end
  * (`xclim/cli.py`: one command per registry indicator, `indices` listing,
  * NetCDF in/out). Here: parquet in / parquet out.
  *
  * Usage:
  *   graft.Main list
  *   graft.Main run <indicator> <input.parquet> <output.parquet> [freq] [yamlModule]
  *   graft.Main convert-netcdf <file.nc> <outDir>   (classic CDF-1/2 → long-format lake)
  */
object Main {
  /** The local session every command runs in: `SPARK_GRAFT_CPUS` cores
    * (default 4) and as many shuffle partitions, UI off, WARN logs. */
  private def localSpark(utc: Boolean = false): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    val spark = (if (utc) b.config("spark.sql.session.timeZone", "UTC") else b)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    Registry.registerBuiltins()
    VirtualModules.loadBundled("icclim")
    VirtualModules.loadBundled("anuclim")
    args.toList match {
      case "list" :: rest =>
        rest.foreach(VirtualModules.loadYamlFile)
        Registry.names.foreach { n =>
          val s = Registry(n).spec
          println(f"$n%-28s ${s.units}%-6s ${s.title}")
        }
      case "info" :: name :: rest =>
        // indicator detail card (cli.py:331 `info` / the generated
        // docstring surface): full spec incl. inputs and missing policy
        rest.foreach(VirtualModules.loadYamlFile)
        val s = Registry(name).spec
        println(s"${s.identifier}: ${s.title}")
        println(s"  units:         ${s.units}")
        if (s.standardName.nonEmpty) println(s"  standard_name: ${s.standardName}")
        if (s.cellMethods.nonEmpty) println(s"  cell_methods:  ${s.cellMethods}")
        println(s"  sampling:      ${s.srcFreq}")
        println(s"  missing:       ${s.missing}" + (
          if (s.missingOptions.nonEmpty)
            s.missingOptions.map { case (k, v) => s"$k=$v" }.mkString(" (", ", ", ")")
          else ""))
        s.inputs.foreach { in =>
          println(f"  input:         ${in.name}%-12s ${in.dimensionality}%-18s [${in.canonicalUnits}]")
        }
      case "version" :: Nil =>
        // show_version_info twin (cli.py:159)
        println(s"graft (Spark ${org.apache.spark.SPARK_VERSION}, " +
          s"Scala ${scala.util.Properties.versionNumberString}, " +
          s"Java ${System.getProperty("java.version")})")
      case "run" :: name :: in :: out :: rest =>
        val freq = rest.headOption.getOrElse("MS")
        rest.drop(1).foreach(VirtualModules.loadYamlFile)
        val spark = localSpark(utc = true)
        val df = spark.read.parquet(in)
        val result = Registry(name)(df, freq)
        result.write.mode("overwrite").parquet(out)
        println(s"$name @ $freq -> $out (${result.columns.mkString(", ")})")
        spark.stop()
      case "convert-netcdf" :: rest0
          if rest0.filterNot(_ == "--decode-times").length == 2 &&
             rest0.length <= 3 && !rest0.headOption.contains("--reverse") =>
        val decodeTimes = rest0.contains("--decode-times")
        val args2 = rest0.filterNot(_ == "--decode-times")
        val (nc, outDir) = (args2(0), args2(1))
        val spark = localSpark()
        // route on the magic number: classic CDF vs HDF5-backed NetCDF-4
        val magic = {
          val in = new java.io.FileInputStream(nc)
          try { val b = new Array[Byte](4); in.read(b); b } finally in.close()
        }
        val vars =
          if (magic(0) == 'C' && magic(1) == 'D' && magic(2) == 'F')
            graft.sources.NetCDF.toParquetLake(spark, nc, outDir, decodeTimes)
          else graft.sources.Hdf5.toParquetLake(spark, nc, outDir, decodeTimes)
        println(s"$nc -> $outDir (${vars.mkString(", ")})")
        spark.stop()
      case "convert-netcdf" :: "--reverse" :: lakeDir :: nc :: rest =>
        // lake -> classic NetCDF: the reference CLI's NetCDF->NetCDF round
        // trip (cli.py:76-88) with the parquet lake as the middle step
        val spark = localSpark()
        val version = rest.headOption.map(_.toInt).getOrElse(1)
        val h = graft.sources.NetCDF.fromParquetLake(spark, lakeDir, nc, version = version)
        println(s"$lakeDir -> $nc (CDF-$version, ${h.vars.map(_.name).mkString(", ")}, " +
          s"${h.numRecs} records)")
        spark.stop()
      case "convert-zarr" :: rest0
          if rest0.filterNot(_ == "--decode-times").length == 2 &&
             rest0.length <= 3 && !rest0.headOption.contains("--reverse") =>
        val decodeTimes = rest0.contains("--decode-times")
        val args2 = rest0.filterNot(_ == "--decode-times")
        val (store, outDir) = (args2(0), args2(1))
        // Zarr v2 directory store → long-format lake (the cloud-native
        // half of the reference's xr.open_dataset surface, cli.py:54-88)
        val spark = localSpark()
        val vars = graft.sources.Zarr.toParquetLake(spark, store, outDir, decodeTimes)
        println(s"$store -> $outDir (${vars.mkString(", ")})")
        spark.stop()
      case "convert-zarr" :: "--reverse" :: rest0
          if rest0.filterNot(_ == "--v3").length == 2 &&
             rest0.length <= 3 =>
        // lake -> Zarr store (executors write their own chunk files);
        // --v3 selects the zarr-python-3 default format; any other arg
        // shape falls through to the usage message
        val v3 = rest0.contains("--v3")
        val args2 = rest0.filterNot(_ == "--v3")
        val (lakeDir, store) = (args2(0), args2(1))
        val spark = localSpark()
        val vars = graft.sources.Zarr.fromParquetLake(spark, lakeDir, store,
          zarrFormat = if (v3) 3 else 2)
        println(s"$lakeDir -> $store (${vars.mkString(", ")})")
        spark.stop()
      case "lake-info" :: root :: table :: Nil =>
        // versioned-lake pointer inspection; no SparkSession needed (the
        // pointer is one tiny file). Also the place the deployment
        // contract is surfaced to operators.
        graft.sources.VersionedLake.readPointer(root) match {
          case Some(p) =>
            println(s"versioned lake at $root: current snapshot " +
              s"${graft.sources.VersionedLake.tableName(table, p.version)}, " +
              s"last applied batchId ${p.lastBatch}")
          case None => println(s"versioned lake at $root: uninitialized")
        }
        println("note: the pointer swap is an atomic RENAME, which is " +
          "atomic on POSIX/HDFS only — on an object store (S3/GCS) deploy " +
          "the swap as a conditional PUT (If-Match) or a transaction-log " +
          "append instead; a plain S3 'rename' is copy+delete and can " +
          "expose a torn pointer")
      case "zorder" :: in :: out :: xCol :: yCol :: files :: Nil =>
        // layout maintenance: z-order-cluster a parquet directory on two
        // integer dims (one range shuffle; per-file min/max stats then
        // prune 2-D box predicates — Lake.zOrderWrite)
        val spark = localSpark()
        graft.sources.Lake.zOrderWrite(
          spark.read.parquet(in), xCol, yCol, out, files.toInt)
        println(s"$in -> $out (z-ordered on ($xCol, $yCol), ${files.toInt} files)")
        spark.stop()
      case "compact" :: in :: out :: target :: rest if rest.length <= 1 =>
        // layout maintenance: bin-pack small files to ~target bytes per
        // output (Lake.compact); optional sort column keeps per-file
        // ranges disjoint. Writes to a NEW directory — swap-in is the
        // operator's transaction.
        val spark = localSpark()
        val n = graft.sources.Lake.compact(spark, in, out, target.toLong,
          rest.headOption)
        println(s"$in -> $out ($n files, target ${target.toLong} bytes" +
          rest.headOption.map(c => s", sorted by $c").getOrElse("") + ")")
        spark.stop()
      case "analyze" :: in :: cols =>
        // one-scan per-column stats (Lake.analyzeColumns)
        require(cols.nonEmpty, "analyze needs at least one column")
        val spark = localSpark()
        graft.sources.Lake.analyzeColumns(spark.read.parquet(in), cols)
          .collect().foreach(r => println(r.mkString("\t")))
        spark.stop()
      case "zolake" :: "init" :: in :: root :: target :: dims if dims.nonEmpty =>
        // incremental z-order lake bootstrap (ZOrderLake.init): dims +
        // grid bounds pin here; subsequent appends rewrite only touched
        // slabs
        val spark = localSpark()
        graft.sources.ZOrderLake.init(
          spark.read.parquet(in), root, dims, target.toLong)
        println(s"$in -> z-order lake $root (dims ${dims.mkString(",")}, " +
          s"~${target.toLong} rows/slab, " +
          s"${graft.sources.ZOrderLake.readManifest(root, 0).size} slabs)")
        spark.stop()
      case "zolake" :: "append" :: in :: root :: target :: batchId :: Nil =>
        // one incremental batch through the manifest + pointer swap;
        // batchId carries the exactly-once gate (replays are no-ops)
        val spark = localSpark()
        graft.sources.ZOrderLake.applyBatch(
          spark.read.parquet(in), root, target.toLong, batchId.toLong)
        val p = graft.sources.ZOrderLake.readPointer(root).get
        println(s"$in -> $root (now v${p.version}, lastBatch ${p.lastBatch}, " +
          s"${graft.sources.ZOrderLake.readManifest(root, p.version).size} slabs)")
        spark.stop()
      case "zolake" :: "compact" :: root :: target :: Nil =>
        val spark = localSpark()
        val n = graft.sources.ZOrderLake.compact(spark, root, target.toLong)
        println(s"$root compacted to $n slabs (target ${target.toLong} rows)")
        spark.stop()
      case "zolake" :: "rebuild" :: root :: target :: Nil =>
        // cross-epoch rebuild: re-zval everything onto ONE fresh epoch
        // covering the full current domain (maintenance version —
        // lastBatch unchanged, contents identical). O(corpus), run it
        // like OPTIMIZE once epoch count taxes reads.
        val spark = localSpark()
        val e = graft.sources.ZOrderLake.rebuild(spark, root, target.toLong)
        val p = graft.sources.ZOrderLake.readPointer(root).get
        println(s"$root rebuilt onto epoch $e " +
          s"(${graft.sources.ZOrderLake.readManifest(root, p.version).size} " +
          s"slabs, v${p.version})")
        spark.stop()
      case "zolake" :: "box" :: root :: out :: bounds if bounds.nonEmpty =>
        // selective box scan through the z-layout alone (BIGMIN
        // z-intervals); bounds are lo:hi pairs in the lake's dim order.
        // Half-open forms — `lo:` (everything from lo up, the
        // newest-data scan over a growing time dim), `:hi`, and `:`
        // (dim unconstrained) — substitute the Long extremes: readBox
        // clamps them onto each epoch's grid, so they cost nothing.
        val parsed = bounds.map { b =>
          val i = b.indexOf(':')
          require(i >= 0, s"bound '$b' must be lo:hi, lo:, :hi or :")
          val (l, h) = (b.substring(0, i), b.substring(i + 1))
          (if (l.isEmpty) Long.MinValue else l.toLong,
            if (h.isEmpty) Long.MaxValue else h.toLong)
        }
        val spark = localSpark()
        val box = graft.sources.ZOrderLake.readBox(spark, root,
          parsed.map(_._1), parsed.map(_._2))
        box.write.mode("overwrite").parquet(out)
        println(s"$root box ${bounds.mkString(" ")} -> $out " +
          s"(${box.inputFiles.length} slabs opened)")
        spark.stop()
      case "zolake" :: "info" :: root :: Nil =>
        // pointer + dims + manifest summary; no SparkSession (metadata
        // files only — exactly what a 100 TB operator wants to poll)
        graft.sources.ZOrderLake.readPointer(root) match {
          case Some(p) =>
            val epochs = graft.sources.ZOrderLake.readEpochs(root)
            val m = graft.sources.ZOrderLake.readManifest(root, p.version)
            println(s"z-order lake $root: v${p.version}, lastBatch " +
              s"${p.lastBatch}, ${m.size} slabs, ${m.map(_.rows).sum} rows, " +
              s"${epochs.size} grid epoch(s)")
            epochs.zipWithIndex.foreach { case (dims, e) =>
              val n = m.count(_.epoch == e)
              println(s"  epoch $e ($n slabs): " + dims.map(d =>
                s"${d.name} [${d.lo}, ${d.hi}]").mkString(", "))
            }
          case None => println(s"z-order lake at $root: uninitialized")
        }
      case "ivf" :: "init" :: emb :: cents :: root :: rest
          if rest.count(r => r != "codeonly" && r != "sq8") <= 3 =>
        // incremental IVF index bootstrap: centroids PIN here (a parquet
        // of (list, cvec)); segment 0 holds emb's assignments. Optional
        // trailing `pqM pqK [trainIters]` pins a product-quantization
        // codebook too (Lloyd-trained per subspace when trainIters > 0)
        // — segments then carry pq_code and `ivf probe-adc` serves; a
        // final `codeonly` drops the raw column (ADC-only serving,
        // ~storage/32 at 768-dim float64); `sq8` replaces it with 8-bit
        // scalar-quantized codes (~storage/8, approximate re-rank)
        val spark = localSpark()
        val storeRaw = !rest.contains("codeonly")
        val sq8 = rest.contains("sq8")
        val (pqM, pqK, pqIters) =
          rest.filter(r => r != "codeonly" && r != "sq8") match {
            case m :: k :: Nil => (m.toInt, k.toInt, 0)
            case m :: k :: it :: Nil => (m.toInt, k.toInt, it.toInt)
            case _ => (0, 16, 0)
          }
        graft.pipeline.IvfIndex.init(spark.read.parquet(emb),
          "vec_id", "embedding", spark.read.parquet(cents), root,
          pqM, pqK, pqIters, storeRaw, sq8)
        println(s"$emb -> IVF index $root (centroids pinned from $cents" +
          (if (pqM > 0) s"; PQ codebook m=$pqM k=$pqK" +
            (if (pqIters > 0) s" trained $pqIters round(s)" else "") +
            " pinned" else "") +
          (if (!storeRaw) "; CODE-ONLY postings" else "") +
          (if (sq8) "; SQ8 postings (bounds pinned)" else "") + ")")
        spark.stop()
      case "ivf" :: "rebuild" :: root :: rest if rest.size <= 3 =>
        // RE-CENTER the index — the remedy `ivf info`'s drift warning
        // calls for: `ivf rebuild <root> <cents> [pqTrainIters]`
        // re-pins caller-supplied centroids; `ivf rebuild <root> kmeans
        // <iters> [pqTrainIters]` re-clusters the live corpus. A
        // maintenance version: lastBatch unchanged, drift resets to ~1.
        val spark = localSpark()
        rest match {
          case "kmeans" :: iters :: more if more.size <= 1 =>
            graft.pipeline.IvfIndex.rebuildKmeans(spark, root, iters.toInt,
              more.headOption.map(_.toInt).getOrElse(0))
            println(s"$root rebuilt (k-means re-clustered, " +
              s"${iters.toInt} round(s))")
          case cents :: more if more.size <= 1 =>
            graft.pipeline.IvfIndex.rebuild(spark, root,
              spark.read.parquet(cents),
              more.headOption.map(_.toInt).getOrElse(0))
            println(s"$root rebuilt (centroids re-pinned from $cents)")
          case _ =>
            println("usage: ivf rebuild <root> (<cents> | kmeans <iters>) " +
              "[pqTrainIters]")
        }
        val rp = graft.pipeline.IvfIndex.readPointer(root).get
        println(s"  now v${rp.version}, lastBatch ${rp.lastBatch}, " +
          s"centroid generation ${rp.gen}")
        spark.stop()
      case "ivf" :: "probe-adc" :: root :: out :: qid :: k :: nprobe :: rerank :: Nil =>
        // PQ serving probe: ADC over the code column only, exact
        // integer-grid-cosine re-rank of the top-`rerank` survivors
        val spark = localSpark()
        import org.apache.spark.sql.functions.col
        val q = graft.pipeline.IvfIndex.currentAll(spark, root)
          .filter(col("vec_id") === qid.toLong)
          .select(col("embedding").as("qvec"))
        val top = graft.pipeline.IvfIndex.probeTopK(spark, root, q,
          k.toInt, nprobe.toInt, graft.pipeline.IvfIndex.Adc(rerank.toInt))
        top.write.mode("overwrite").parquet(out)
        println(s"$root ADC probe vec_id=$qid top-$k (nprobe=$nprobe, " +
          s"rerank=$rerank) -> $out")
        spark.stop()
      case "ivf" :: "append" :: in :: root :: batchId :: Nil =>
        val spark = localSpark()
        graft.pipeline.IvfIndex.applyBatch(spark.read.parquet(in),
          "vec_id", "embedding", root, batchId.toLong)
        val p = graft.pipeline.IvfIndex.readPointer(root).get
        println(s"$in -> $root (now v${p.version}, lastBatch ${p.lastBatch})")
        spark.stop()
      case "ivf" :: "delete" :: in :: root :: batchId :: Nil =>
        // tombstone delete: `in` is a parquet with a vec_id column
        val spark = localSpark()
        graft.pipeline.IvfIndex.applyDeleteBatch(spark.read.parquet(in),
          "vec_id", root, batchId.toLong)
        val p = graft.pipeline.IvfIndex.readPointer(root).get
        println(s"$in -> $root tombstone (now v${p.version}, lastBatch ${p.lastBatch})")
        spark.stop()
      case "ivf" :: "probe" :: root :: out :: qid :: k :: nprobe :: Nil =>
        // top-k by integer-grid cosine for the indexed vector `qid`
        // (self-query form; arbitrary query vectors go through the API)
        val spark = localSpark()
        import org.apache.spark.sql.functions.col
        val q = graft.pipeline.IvfIndex.currentAll(spark, root)
          .filter(col("vec_id") === qid.toLong)
          .select(col("embedding").as("qvec"))
        val top = graft.pipeline.IvfIndex.probeTopK(spark, root, q,
          k.toInt, nprobe.toInt)
        top.write.mode("overwrite").parquet(out)
        println(s"$root probe vec_id=$qid top-$k (nprobe=$nprobe) -> $out " +
          s"(${top.inputFiles.count(_.contains("list="))} posting files opened)")
        spark.stop()
      case "ivf" :: "probe-batch" :: root :: out :: qids :: k :: nprobe :: rest
          if rest.size <= 1 =>
        // batched serving probes for comma-separated indexed vec_ids;
        // with a trailing `rerank` arg the PQ ADC path serves instead
        val spark = localSpark()
        import org.apache.spark.sql.functions.col
        val ids = qids.split(",").map(_.trim.toLong)
        val queries = graft.pipeline.IvfIndex.currentAll(spark, root)
          .filter(col("vec_id").isin(ids.map(x => x: Any): _*))
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val top = rest match {
          case rerank :: Nil => graft.pipeline.IvfIndex.probeTopKBatch(
            spark, root, queries, k.toInt, nprobe.toInt,
            graft.pipeline.IvfIndex.Adc(rerank.toInt))
          case _ => graft.pipeline.IvfIndex.probeTopKBatch(
            spark, root, queries, k.toInt, nprobe.toInt)
        }
        top.write.mode("overwrite").parquet(out)
        println(s"$root batched probe qids=$qids top-$k (nprobe=$nprobe" +
          rest.headOption.map(r => s", ADC rerank=$r").getOrElse("") +
          s") -> $out")
        spark.stop()
      case "ivf" :: "compact" :: root :: Nil =>
        val spark = localSpark()
        val n = graft.pipeline.IvfIndex.compact(spark, root)
        println(s"$root compacted to $n segment(s), tombstones applied")
        spark.stop()
      case "ivf" :: "info" :: root :: Nil =>
        // pointer + segment summary + index health (centroid-drift
        // ratio, segment pile-up); metadata files only, no SparkSession
        graft.pipeline.IvfIndex.readPointer(root) match {
          case Some(p) =>
            val segs = graft.pipeline.IvfIndex.readManifest(root, p.version)
            val (tomb, post) = segs.partition(_.tombstone)
            println(s"IVF index $root: v${p.version}, lastBatch " +
              s"${p.lastBatch}, centroid generation ${p.gen}, " +
              s"${post.size} posting segment(s), " +
              s"${tomb.size} tombstone segment(s), " +
              graft.pipeline.IvfIndex.tierInfo(root))
            segs.foreach(e => println(
              s"  ${if (e.tombstone) "T" else "P"} v${e.version} ${e.dir}" +
                (if (e.n >= 0) s" (${e.n} rows" +
                  (if (e.sumD2u >= 0 && e.n > 0)
                    f", mean d2 ${e.sumD2u.toDouble / e.n / 1e6}%.6f" else "") +
                  ")"
                 else "")))
            val h = graft.pipeline.IvfIndex.health(root)
            (h.baselineMeanD2, h.lastBatchMeanD2, h.drift) match {
              case (Some(b), Some(l), Some(d)) =>
                println(f"health: baseline mean d2 $b%.6f, last batch " +
                  f"$l%.6f, drift ratio $d%.3f" +
                  (if (d > 2.0) "  ** WARNING: assignment distance has " +
                    "drifted >2x off the pinned centroids — recall is " +
                    "decaying; run `ivf rebuild`" else ""))
              case _ => println("health: no drift data (pre-health manifest)")
            }
            if (h.postingSegs > 64)
              println(s"** WARNING: ${h.postingSegs} live posting segments " +
                "— probe cost is linear in segment count; run `ivf compact`")
          case None => println(s"IVF index at $root: uninitialized")
        }
      case "lake-scan" :: in :: out :: preds if preds.nonEmpty =>
        // typed range-pruned scan without Scala: per-file min/max stats
        // build in one pass (Lake.fileStats), candidate files intersect
        // across every col:lo:hi predicate (multiplicative, the z-order
        // payoff), and only survivors open — the exact predicate then
        // runs over them, so output == plain filter. Empty lo/hi sides
        // are half-open (numeric columns only).
        val parsed = preds.map { s =>
          val p = s.split(":", -1)
          require(p.length == 3, s"predicate '$s' must be col:lo:hi " +
            "(empty lo or hi = half-open)")
          def v(x: String, open: Double): Any =
            if (x.isEmpty) open
            else scala.util.Try(x.toLong: Any)
              .orElse(scala.util.Try(x.toDouble: Any)).getOrElse(x: Any)
          require(p(1).nonEmpty || p(2).nonEmpty,
            s"predicate '$s' is unbounded on both sides")
          (p(0), v(p(1), Double.NegativeInfinity),
            v(p(2), Double.PositiveInfinity))
        }
        val spark = localSpark()
        val stats = graft.sources.Lake.fileStats(spark, in, parsed.map(_._1))
        val total = stats.count()
        val pruned = graft.sources.Lake.readPrunedMulti(spark, in, stats, parsed)
        pruned.write.mode("overwrite").parquet(out)
        println(s"$in -> $out (${pruned.inputFiles.length} of $total files " +
          s"opened; ${preds.mkString(" ")})")
        spark.stop()
      case "dataflags" :: in :: out :: rest =>
        // QC battery command (cli.py:231): every applicable flag for the
        // CF variable columns present, per-entity counts + ecad verdict;
        // --raise-flags exits 1 when any entity fails (the CLI contract)
        val spark = localSpark(utc = true)
        val flagged = graft.indicator.DataFlags.ecadCompliant(spark.read.parquet(in))
        flagged.write.mode("overwrite").parquet(out)
        val bad = flagged.filter(org.apache.spark.sql.functions.not(
          org.apache.spark.sql.functions.col("ecad_qc_flag"))).count()
        println(s"dataflags -> $out (${flagged.columns.length - 2} checks, " +
          s"$bad entities flagged)")
        spark.stop()
        if (rest.contains("--raise-flags") && bad > 0) sys.exit(1)
      case other =>
        System.err.println(
          s"usage: list | run <indicator> <in> <out> [freq] [module.yml] | " +
            s"convert-netcdf <nc> <outDir> [--decode-times] | " +
            s"convert-netcdf --reverse <lakeDir> <out.nc> [1|2] | " +
            s"convert-zarr <store> <outDir> [--decode-times] | " +
            s"convert-zarr --reverse [--v3] <lakeDir> <store> | " +
            s"lake-info <root> <table> | " +
            s"zorder <in> <out> <xCol> <yCol> <files> | " +
            s"compact <in> <out> <targetBytes> [sortCol] | " +
            s"zolake init <in> <root> <targetRows> <dim>... | " +
            s"zolake append <in> <root> <targetRows> <batchId> | " +
            s"zolake compact <root> <targetRows> | zolake info <root> | " +
            s"zolake box <root> <out> <lo:hi|lo:|:hi|:>... | " +
            s"lake-scan <in> <out> <col:lo:hi>... | " +
            s"ivf init <emb> <centroids> <root> [pqM pqK [iters] [codeonly]] | " +
            s"ivf append <in> <root> <batchId> | " +
            s"ivf delete <ids> <root> <batchId> | " +
            s"ivf probe <root> <out> <vec_id> <k> <nprobe> | " +
            s"ivf rebuild <root> (<cents> | kmeans <iters>) [pqTrainIters] | " +
            s"ivf compact <root> | ivf info <root> | " +
            s"analyze <in> <col>... | " +
            s"dataflags <in> <out> [--raise-flags]; got: $other")
        sys.exit(2)
    }
  }
}
