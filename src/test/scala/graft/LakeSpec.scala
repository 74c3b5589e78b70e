package graft

import graft.core.Skew
import graft.sources.Lake
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Layout-level scale mechanics: bucketed joins without shuffles, salted
  * aggregation equivalence. */
class LakeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh_").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("bucketed tables join with zero shuffles") {
    import spark.implicits._
    // runtime confs (sessions are shared across suites in one JVM):
    // force the SMJ path and static plans so ShuffleExchange nodes are
    // visible (AdaptiveSparkPlanExec hides children until materialisation)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val facts = (1L to 1000L).map(i => (i % 50, i, i * 1.5)).toDF("k", "id", "v")
    val dims = (0L until 50L).map(i => (i, s"name_$i")).toDF("k", "name")
    Lake.writeBucketed(facts, "facts_b", "k", 8, Seq("k"))
    Lake.writeBucketed(dims, "dims_b", "k", 8, Seq("k"))
    val joined = spark.table("facts_b").join(spark.table("dims_b"), "k")
    assert(joined.count() == 1000)
    assert(Lake.countShuffles(joined) == 0,
      "bucketed co-located join must not shuffle")
    // same join on unbucketed frames shuffles both sides
    val unbucketed = facts.join(dims, "k")
    assert(unbucketed.count() == 1000)
    assert(Lake.countShuffles(unbucketed) >= 2)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("MERGE into a bucketed snapshot: the snapshot side never shuffles") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val snap = (1L to 400L).map(i => (i, s"s$i", i * 2.0)).toDF("k", "s", "v")
    Lake.writeBucketed(snap, "merge_snap_b", "k", 8, Seq("k"))
    val changes = Seq((1L, "update", "S1", 99.0), (2L, "delete", "x", 0.0),
      (900L, "insert", "S900", 1.0)).toDF("k", "op", "s", "v")
    val merged = Lake.merge(spark.table("merge_snap_b"), changes, "k")
    assert(merged.count() === 400) // -1 delete +1 insert
    // only the (tiny) change side shuffles to the snapshot's bucketing;
    // the 400-row snapshot is read in place
    val plan = merged.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(k#") ||
      Lake.countShuffles(merged) <= 2,
      s"unexpected snapshot-side shuffle count in:\n$plan")
    val snapScansShuffled = plan.linesIterator
      .filter(_.contains("Exchange")).count(_.contains("merge_snap"))
    assert(snapScansShuffled === 0, "snapshot scan must not sit under an Exchange")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10L * 1024 * 1024)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("salted aggregation equals direct aggregation") {
    import spark.implicits._
    // heavily skewed: 90% of rows on one key
    val df = ((1 to 9000).map(i => ("hot", i.toDouble)) ++
      (1 to 1000).map(i => (s"k${i % 17}", i.toDouble))).toDF("k", "v")
    val direct = df.groupBy("k")
      .agg(sum("v").as("s"), count(lit(1)).as("n"), max("v").as("mx"))
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getLong(2), r.getDouble(3)))).toMap
    val salted = Skew.saltedAgg(df, Seq("k"), salt = 8, Map(
        "s" -> ("sum", col("v")), "n" -> ("count", lit(1)), "mx" -> ("max", col("v"))))
      .collect().map(r => (r.getString(0), (r.getDouble(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(salted.keySet == direct.keySet)
    for (k <- direct.keys) {
      assert(math.abs(salted(k)._1 - direct(k)._1) < 1e-6)
      assert(salted(k)._2 == direct(k)._2)
      assert(salted(k)._3 == direct(k)._3)
    }
  }

  test("Morton2 interleaves bits (hand pins)") {
    assert(graft.functions.Morton2.compute(0L, 0L) === 0L)
    assert(graft.functions.Morton2.compute(5L, 3L) === 27L) // 101 ⋈ 011
    assert(graft.functions.Morton2.compute(0xFFFFL, 0L) === 0x55555555L)
    assert(graft.functions.Morton2.compute(0L, 0xFFFFL) === 0xAAAAAAAAL)
    // bits beyond the low 16 are ignored
    assert(graft.functions.Morton2.compute(0x1FFFFL, 0L) === 0x55555555L)
  }

  test("z-order layout: a 2-D box predicate touches few partitions; row order touches all") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // uniform 1000 x 100 grid, generated in x-major row order
    val df = spark.range(100000L)
      .select((col("id") % 1000).cast("long").as("x"),
        (col("id") / 1000).cast("long").as("y"))
    def touched(parts: org.apache.spark.sql.DataFrame): Long = parts
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg(min("x").as("minx"), max("x").as("maxx"),
        min("y").as("miny"), max("y").as("maxy"))
      // box: x < 125, y < 12 — 1/8 x 1/8 of the domain
      .filter(col("minx") < 125 && col("miny") < 12)
      .count()
    val z = sources.Lake.zOrderFrame(df, "x", "y")
      .repartitionByRange(32, col("zval")).sortWithinPartitions("zval")
    assert(touched(z) <= 6,
      s"z-order should confine the box to O(perimeter) partitions, got ${touched(z)}")
    // contrast: a single-column (y-only) layout keeps whole y-stripes,
    // each spanning the FULL x range — x-pruning is impossible
    val yOnly = df.repartitionByRange(32, col("y"))
    assert(touched(yOnly) >= 3, "single-column layout keeps whole stripes")
    val xStripePrune = yOnly
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg(min("x").as("minx"), max("x").as("maxx"))
      .filter(col("minx") < 125) // x-pruning impossible: stripes span all x
      .count()
    assert(xStripePrune >= 30,
      s"y-sorted stripes cannot prune on x (got $xStripePrune of 32)")
  }

  test("Morton3 hand pins; 3-D z-order confines a box to few partitions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    assert(graft.functions.Morton3.compute(1L, 1L, 1L) === 7L)
    assert(graft.functions.Morton3.compute(0xFFFFL, 0L, 0L) ===
      0x249249249249L) // x bits land at positions 0,3,6,...
    // de-interleave recovers all three
    def lane(z: Long, off: Int): Long = (0 until 16)
      .map(i => ((z >> (3 * i + off)) & 1L) << i).sum
    val z = graft.functions.Morton3.compute(12345L, 54321L, 4097L)
    assert(lane(z, 0) === 12345L && lane(z, 1) === 54321L &&
      lane(z, 2) === 4097L)
    // 100 x 20 x 20 time×lat×lon grid: an eighth-box in all three dims
    val df = spark.range(40000L).select(
      (col("id") % 100).as("t"),
      ((col("id") / 100) % 20).as("la"),
      (col("id") / 2000).as("lo"))
    val zf = sources.Lake.zOrderFrame3(df, "t", "la", "lo")
      .repartitionByRange(32, col("zval")).sortWithinPartitions("zval")
    val touched = zf.withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg(min("t").as("mt"), min("la").as("mla"), min("lo").as("mlo"))
      .filter(col("mt") < 13 && col("mla") < 3 && col("mlo") < 3)
      .count()
    assert(touched <= 6, s"3-D box touched $touched of 32 partitions")
  }

  test("compact bin-packs small files; sorted variant keeps disjoint ranges") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact_").toString
    val tiny = s"$dir/tiny"; val packed = s"$dir/packed"; val sorted = s"$dir/sorted"
    (1 to 50000).map(i => (i.toLong, s"row$i")).toDF("k", "s")
      .repartition(64).write.parquet(tiny)
    def files(p: String) = new java.io.File(p).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files(tiny) == 64)
    val bytes = new java.io.File(tiny).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.length).sum
    val n = sources.Lake.compact(spark, tiny, packed, (bytes / 4).max(1L << 16))
    assert(files(packed) == n && n <= 5, s"packed into $n files")
    assert(spark.read.parquet(packed).count() == 50000)
    // sorted compaction: per-file key ranges must not overlap
    sources.Lake.compact(spark, tiny, sorted, (bytes / 4).max(1L << 16), Some("k"))
    val ranges = spark.read.parquet(sorted)
      .select(input_file_name().as("f"), col("k"))
      .groupBy("f").agg(min("k").as("lo"), max("k").as("hi"))
      .orderBy("lo").as[(String, Long, Long)].collect()
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a._3 < b._2, s"overlap: $a vs $b")
      case _ =>
    }
  }

  test("file-skipping index: bloom prune opens few files, pruned read == full filter") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_fidx_")
      .toString + "/t"
    // 16 files, ids range-partitioned so each file holds a contiguous slab
    (1 to 160000).map(i => (i.toLong, s"u${i % 40000}", i * 1.5))
      .toDF("k", "uid", "v")
      .repartitionByRange(16, col("k")).sortWithinPartitions("k")
      .write.parquet(dir)
    val (stats, bloom) = sources.Lake.fileIndex(
      spark, dir, Seq("k"), "uid")
    val b = bloom.localCheckpoint(false)
    assert(stats.filter(col("col_name") === "k").count() == 16)
    // uid u123 appears in rows 123, 40123, 80123, 120123 -> exactly the
    // 4 slab files hold it; bloom prune must return those (plus rare fps)
    val cand = sources.Lake.pruneFiles(b, "u123")
    assert(cand.size >= 4 && cand.size <= 6, s"pruned to ${cand.size} files")
    val pruned = spark.read.parquet(cand: _*)
      .filter(col("uid") === "u123").select("k")
      .as[Long].collect().sorted.toSeq
    val full = spark.read.parquet(dir)
      .filter(col("uid") === "u123").select("k")
      .as[Long].collect().sorted.toSeq
    assert(pruned === full && full === Seq(123L, 40123L, 80123L, 120123L))
    // an absent value prunes everything (no file opened at all)
    assert(sources.Lake.pruneFiles(b, "nobody-here").isEmpty)
  }

  test("versioned lake time travel: asOf reads immutable history, aged-out rejects") {
    import spark.implicits._
    import graft.sources.{VersionedLake => VL}
    val root = java.nio.file.Files.createTempDirectory("graft_vlake_tt_").toString
    val table = s"vlake_tt_${System.nanoTime()}"
    VL.init((1L to 10L).map(k => (k, k * 1.0)).toDF("k", "v"),
      root, table, "k", 2)
    for (b <- 0 until 3) {
      val ch = Seq((100L + b, "insert", 0.0)).toDF("k", "op", "v")
      VL.applyBatch(ch, root, table, "k", 2, batchId = b.toLong, retain = 5)
    }
    assert(VL.asOf(spark, root, table, 0).count() == 10)
    assert(VL.asOf(spark, root, table, 2).count() == 12)
    assert(VL.asOf(spark, root, table, 3).count() == 13)
    intercept[IllegalArgumentException](VL.asOf(spark, root, table, 9))
    // tight retention ages v0 out -> loud reject, not a silent miss
    val root2 = java.nio.file.Files.createTempDirectory("graft_vlake_tt2_").toString
    val table2 = s"vlake_tt2_${System.nanoTime()}"
    VL.init((1L to 5L).map(k => (k, k * 1.0)).toDF("k", "v"),
      root2, table2, "k", 2)
    for (b <- 0 until 3) {
      VL.applyBatch(Seq((200L + b, "insert", 0.0)).toDF("k", "op", "v"),
        root2, table2, "k", 2, batchId = b.toLong, retain = 1)
    }
    intercept[IllegalStateException](VL.asOf(spark, root2, table2, 0))
    assert(VL.asOf(spark, root2, table2, 3).count() == 8)
    VL.destroy(spark, root, table); VL.destroy(spark, root2, table2)
  }

  test("typed range prune: readPruned opens O(matching) files, rows == full filter") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rp_")
      .toString + "/t"
    // 16 disjoint slabs on k after the range sort — the layout sorted
    // compaction / zOrderWrite produce
    (1 to 160000).map(i => (i.toLong, i * 1.5)).toDF("k", "v")
      .repartitionByRange(16, col("k")).sortWithinPartitions("k")
      .write.parquet(dir)
    val stats = Lake.fileStats(spark, dir, Seq("k"))
    assert(stats.count() == 16)
    // native-typed stats: k__min/k__max come back LONG, not string
    assert(stats.schema("k__min").dataType ==
      org.apache.spark.sql.types.LongType)
    // [20001, 30000] spans exactly one 10k slab (+1 at a boundary)
    val pruned = Lake.readPruned(spark, dir, stats, "k", 20001L, 30000L)
    // repartitionByRange boundaries are sampling-derived and shift with
    // the shared session's parallelism — the pin is O(matching), not an
    // exact count
    assert(pruned.inputFiles.length <= 3,
      s"opened ${pruned.inputFiles.length} of 16 files")
    val full = spark.read.parquet(dir)
      .filter(col("k") >= 20001L && col("k") <= 30000L)
    assert(pruned.agg(count(lit(1)), sum("k"), sum("v")).head() ==
      full.agg(count(lit(1)), sum("k"), sum("v")).head())
    // a range past the data prunes everything — zero files opened
    val none = Lake.readPruned(spark, dir, stats, "k", 900000L, 950000L)
    assert(none.count() == 0)
    // bloom intersection: needle u123 in a k-range that spans 4 slabs
    val dir2 = java.nio.file.Files.createTempDirectory("graft_rp2_")
      .toString + "/t"
    (1 to 160000).map(i => (i.toLong, s"u${i % 40000}")).toDF("k", "uid")
      .repartitionByRange(16, col("k")).sortWithinPartitions("k")
      .write.parquet(dir2)
    val st2 = Lake.fileStats(spark, dir2, Seq("k"))
    val (_, bloom) = Lake.fileIndex(spark, dir2, Seq("k"), "uid")
    val b = bloom.localCheckpoint(false)
    // k in [1, 80000] spans 8 slabs; uid=u123 lives in 2 of them
    val both = Lake.readPruned(spark, dir2, st2, "k", 1L, 80000L,
      Some((b, "uid", "u123")))
    assert(both.inputFiles.length <= 4,
      s"opened ${both.inputFiles.length} files")
    assert(both.select("k").as[Long].collect().sorted.toSeq ==
      Seq(123L, 40123L))
  }

  test("readPrunedMulti: per-column candidate sets intersect multiplicatively") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rpm_")
      .toString + "/t"
    // z-ordered layout: both dims get tight per-file boxes
    val df = (0 until 160000).map { i =>
      ((i % 400).toLong, (i / 400).toLong, i.toLong)
    }.toDF("x", "y", "pay")
    Lake.zOrderWrite(df, "x", "y", dir, files = 32)
    val stats = Lake.fileStats(spark, dir, Seq("x", "y"))
    val both = Lake.readPrunedMulti(spark, dir, stats,
      Seq(("x", 100L, 140L), ("y", 100L, 140L)))
    val xOnly = Lake.readPruned(spark, dir, stats, "x", 100L, 140L)
    // the intersection must open no more (and here strictly fewer)
    // files than the single-column prune
    assert(both.inputFiles.length < xOnly.inputFiles.length,
      s"both=${both.inputFiles.length} xOnly=${xOnly.inputFiles.length}")
    val full = spark.read.parquet(dir)
      .filter(col("x").between(100, 140) && col("y").between(100, 140))
    assert(both.agg(count(lit(1)), sum("pay")).head() ==
      full.agg(count(lit(1)), sum("pay")).head())
    // disjoint per-column ranges → empty candidate set, zero rows
    assert(Lake.readPrunedMulti(spark, dir, stats,
      Seq(("x", 0L, 10L), ("y", 390L, 399L), ("x", 350L, 399L))).count() == 0)
  }

  test("pruneFiles reads m_bits/k from the table and rejects a bare bloom") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pf_")
      .toString + "/t"
    (1 to 1000).map(i => (i.toLong, s"u$i")).toDF("k", "uid")
      .repartitionByRange(4, col("k")).write.parquet(dir)
    // non-default parameters: the old free-parameter API would probe
    // with the defaults and silently produce false negatives
    val (_, bloom) = Lake.fileIndex(spark, dir, Seq("k"), "uid",
      mBits = 1L << 12, k = 3)
    val hit = Lake.pruneFiles(bloom, "u500")
    assert(hit.nonEmpty && hit.size <= 2, hit.toString)
    val bare = graft.pipeline.Sketches.bloomBits(
      spark.read.parquet(dir).select(lit("g").as("g"), col("uid")),
      "g", "uid", 1L << 12, 3)
    val e = intercept[IllegalArgumentException](Lake.pruneFiles(bare, "u500"))
    assert(e.getMessage.contains("m_bits"), e.getMessage)
  }

  test("ANALYZE approximate distinct stays within the HLL error bound") {
    import spark.implicits._
    val df = (1 to 50000)
      .map(i => (i.toLong % 20000, s"s${i % 700}")).toDF("a", "b")
    val exact = Lake.analyzeColumns(df, Seq("a", "b"))
      .select("col_name", "n_distinct").as[(String, Long)].collect().toMap
    assert(exact("a") == 20000L && exact("b") == 700L)
    val approx = Lake.analyzeColumns(df, Seq("a", "b"), approxDistinct = true)
      .select("col_name", "n_distinct").as[(String, Long)].collect().toMap
    // b=12 → σ ≈ 1.04/64 ≈ 1.6%; assert 3σ
    for ((c, ex) <- exact) {
      val ap = approx(c).toDouble
      assert(math.abs(ap - ex) / ex < 0.05, s"$c: exact $ex approx $ap")
    }
    // rows/nulls/min/max identical between the modes
    val ebasic = Lake.analyzeColumns(df, Seq("a", "b"))
      .drop("n_distinct").collect().toSet
    val abasic = Lake.analyzeColumns(df, Seq("a", "b"), approxDistinct = true)
      .drop("n_distinct").collect().toSet
    assert(ebasic == abasic)
  }

  test("compact sizes partitioned (nested) inputs and rejects empty dirs") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft_cp_")
      .toString + "/t"
    val out = java.nio.file.Files.createTempDirectory("graft_cp_")
      .toString + "/o"
    (1 to 40000).map(i => (i % 4, i.toLong, ("x" * 64) + i)).toDF("p", "k", "s")
      .repartition(24).write.partitionBy("p").parquet(in)
    // bytes must come from the RECURSIVE listing (files live under p=*/)
    val bytes = {
      val fs = new org.apache.hadoop.fs.Path(in).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(in), true)
      var b = 0L
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_")) b += f.getLen
      }
      b
    }
    val n = Lake.compact(spark, in, out, (bytes / 4).max(1L << 16))
    assert(n >= 2 && n <= 8, s"non-recursive sizing would give n=1; got $n")
    assert(spark.read.parquet(out).count() == 40000)
    val empty = java.nio.file.Files.createTempDirectory("graft_cpe_").toString
    intercept[IllegalArgumentException](
      Lake.compact(spark, empty, out + "2", 1L << 16))
  }

  test("zRangesForBox: exact decomposition at full budget, safe over-approx when capped") {
    import graft.functions.Morton2
    val rng = new scala.util.Random(20260816)
    for (_ <- 1 to 20) {
      val bits = 8
      val n = 1 << bits
      val x1 = rng.nextInt(n); val x2 = x1 + rng.nextInt(n - x1)
      val y1 = rng.nextInt(n); val y2 = y1 + rng.nextInt(n - y1)
      // brute-force z set of the box on the 8-bit grid (65536 cells)
      val expect = (for {
        x <- x1 to x2; y <- y1 to y2
      } yield Morton2.compute(x.toLong, y.toLong)).toSet
      val full = Morton2.zRangesForBox(x1, x2, y1, y2, bits, maxRanges = 1 << 20)
      val got = full.flatMap { case (lo, hi) => lo to hi }.toSet
      assert(got == expect, s"box [$x1,$x2]×[$y1,$y2]")
      // sorted, disjoint, coalesced
      full.sliding(2).foreach {
        case Seq(a, b) => assert(a._2 + 1 < b._1, s"$a then $b")
        case _ =>
      }
      // capped budget: a SUPERSET (over-approx never drops box z-values)
      val capped = Morton2.zRangesForBox(x1, x2, y1, y2, bits, maxRanges = 4)
      val gotCapped = capped.flatMap { case (lo, hi) => lo to hi }.toSet
      assert(expect.subsetOf(gotCapped))
    }
    // hand pins: a quadrant is ONE interval; a single cell is one value
    assert(Morton2.zRangesForBox(0, 127, 0, 127, 8) == Seq((0L, 16383L)))
    assert(Morton2.zRangesForBox(3, 3, 5, 5, 8) ==
      Seq((Morton2.compute(3, 5), Morton2.compute(3, 5))))
  }

  test("zRangesForBox3: octree decomposition matches brute force; capped is superset") {
    import graft.functions.{Morton2, Morton3}
    val rng = new scala.util.Random(20260817)
    for (_ <- 1 to 10) {
      val bits = 4 // 4096 keys — exhaustive
      val n = 1 << bits
      def span() = { val a = rng.nextInt(n); (a, a + rng.nextInt(n - a)) }
      val (x1, x2) = span(); val (y1, y2) = span(); val (z1, z2) = span()
      val expect = (for {
        x <- x1 to x2; y <- y1 to y2; z <- z1 to z2
      } yield Morton3.compute(x.toLong, y.toLong, z.toLong)).toSet
      val full = Morton3.zRangesForBox3(x1, x2, y1, y2, z1, z2, bits,
        maxRanges = 1 << 20)
      assert(full.flatMap { case (lo, hi) => lo to hi }.toSet == expect,
        s"box [$x1,$x2]×[$y1,$y2]×[$z1,$z2]")
      val capped = Morton3.zRangesForBox3(x1, x2, y1, y2, z1, z2, bits,
        maxRanges = 4)
      assert(expect.subsetOf(
        capped.flatMap { case (lo, hi) => lo to hi }.toSet))
    }
    // whole-octant hand pin: one interval of side³ keys
    assert(Morton3.zRangesForBox3(0, 7, 0, 7, 0, 7, 4) == Seq((0L, 511L)))
    // 2-D and 3-D agree on a z-slice-degenerate box restricted to z=0
    val flat = Morton3.zRangesForBox3(1, 2, 1, 2, 0, 0, 4, 1 << 20)
      .flatMap { case (lo, hi) => lo to hi }.toSet
    val planar = (for { x <- 1 to 2; y <- 1 to 2 }
      yield Morton3.compute(x, y, 0)).toSet
    assert(flat == planar)
    assert(Morton2.compute(3, 5) != Morton3.compute(3, 5, 0) ||
      true) // conventions differ by construction; no cross-use
  }

  test("ZOrderLake.compact merges adjacent under-filled slabs, layout invariants hold") {
    import spark.implicits._
    import graft.sources.ZOrderLake
    val root = java.nio.file.Files
      .createTempDirectory("graft_zocp_").toString + "/zo"
    val init = (0 until 20000).map { i =>
      ((i % 200).toLong, (i / 200 % 100).toLong, i.toLong)
    }.toDF("x", "y", "pay")
    // tiny init slabs → a deterministically fragmented layout; one
    // batch advances lastBatch so the maintenance bump is observable
    ZOrderLake.init(init, root, "x", "y", targetRows = 300)
    ZOrderLake.applyBatch(
      (0 until 200).map(i => ((i % 20).toLong, (i / 20).toLong,
        (50000 + i).toLong)).toDF("x", "y", "pay"),
      root, "x", "y", targetRows = 300, batchId = 2L)
    val before = ZOrderLake.readManifest(
      root, ZOrderLake.readPointer(root).get.version)
    val fragmented = before.count(_.rows * 2 <= 2000)
    assert(fragmented >= 2, s"fixture failed to fragment: $before")
    val total = ZOrderLake.current(spark, root)
      .agg(count(lit(1)), sum("pay")).head()
    val after = ZOrderLake.compact(spark, root, targetRows = 2000)
    assert(after < before.size,
      s"compaction did not reduce slab count (${before.size} → $after)")
    // contents untouched; pointer bumped a version, lastBatch unchanged
    val p = ZOrderLake.readPointer(root).get
    assert(p.lastBatch == 2L)
    assert(ZOrderLake.current(spark, root)
      .agg(count(lit(1)), sum("pay")).head() == total)
    // disjointness (the manifest partition invariant) survives
    val m = ZOrderLake.readManifest(root, p.version).sortBy(_.minZ)
    m.sliding(2).foreach {
      case Seq(a, b) => assert(a.maxZ < b.minZ, s"$a overlaps $b")
      case _ =>
    }
    // idempotent at the fixpoint: nothing left to merge → same count
    assert(ZOrderLake.compact(spark, root, targetRows = 2000) == after ||
      ZOrderLake.readManifest(root,
        ZOrderLake.readPointer(root).get.version).size <= after)
    ZOrderLake.destroy(root)
  }

  test("ZOrderLake.readBox: z-ranges alone prune to O(matching) files") {
    import spark.implicits._
    import graft.sources.ZOrderLake
    val root = java.nio.file.Files
      .createTempDirectory("graft_zobox_").toString + "/zo"
    // 200×200 grid, every cell once → 40k rows in ~16 slabs
    val df = (0 until 40000).map { i =>
      ((i % 200).toLong, (i / 200).toLong, i.toLong)
    }.toDF("x", "y", "pay")
    ZOrderLake.init(df, root, "x", "y", targetRows = 2500)
    val nFiles = ZOrderLake.readManifest(root, 0).size
    val box = ZOrderLake.readBox(spark, root, "x", "y", 40L, 70L, 40L, 70L)
    assert(box.inputFiles.length <= math.max(4, nFiles / 3),
      s"box opened ${box.inputFiles.length} of $nFiles files")
    val full = ZOrderLake.current(spark, root)
      .filter(col("x").between(40, 70) && col("y").between(40, 70))
    assert(box.agg(count(lit(1)), sum("pay")).head() ==
      full.agg(count(lit(1)), sum("pay")).head())
    assert(box.count() == 31L * 31L)
    // a box fully outside the data opens nothing
    assert(ZOrderLake.readBox(spark, root, "x", "y", 500L, 600L, 500L, 600L)
      .count() == 0)
    // half-open bounds (the growing-lake time-range form): the Long
    // extremes clamp onto the grid, so `x ≥ 150, y unconstrained` is
    // just a box and still prunes on the constrained dim
    val half = ZOrderLake.readBox(spark, root,
      Seq(150L, Long.MinValue), Seq(Long.MaxValue, Long.MaxValue))
    assert(half.count() ==
      ZOrderLake.current(spark, root).filter(col("x") >= 150).count())
    assert(half.inputFiles.length < nFiles,
      s"half-open box opened all $nFiles files")
    ZOrderLake.destroy(root)
  }

  test("grid epochs: monotone-dim ingest stays O(batch) per batch; readBox unions epochs") {
    import spark.implicits._
    import graft.sources.ZOrderLake
    val root = java.nio.file.Files
      .createTempDirectory("graft_zoep_").toString + "/zo"
    // epoch 0 pins t ∈ [0, 999] — then ingest marches strictly past it,
    // the monotone-time failure mode grid epochs exist for
    val init = (0 until 10000).map(i =>
      ((i % 1000).toLong, (i % 50).toLong, i.toLong)).toDF("t", "y", "pay")
    ZOrderLake.init(init, root, Seq("t", "y"), targetRows = 1000)
    var expectPay = (0 until 10000).map(_.toLong).sum
    var expectCnt = 10000L
    for (b <- 0 until 4) {
      val lo = 1000 * (b + 1)
      val before = ZOrderLake.readPointer(root).get.version
      val pays = (0 until 2000).map(i => (100000 + b * 10000 + i).toLong)
      val batch = (0 until 2000).map(i =>
        ((lo + i / 2).toLong, (i % 50).toLong, pays(i))).toDF("t", "y", "pay")
      ZOrderLake.applyBatch(batch, root, targetRows = 1000,
        batchId = b.toLong, retain = 10)
      expectPay += pays.sum; expectCnt += 2000
      val diff = ZOrderLake.changedSlabs(root, before,
        ZOrderLake.readPointer(root).get.version)
      val removed = diff.count(_._1 == "removed")
      // O(batch): a monotone batch rewrites at most the few slabs
      // sharing its epoch's border cells — never the corpus (without
      // epochs every batch here would clamp onto the SAME border cell
      // and rewrite the ever-growing border slab)
      assert(removed <= 3, s"batch $b rewrote $removed slabs")
      assert(diff.count(_._1 == "added") <= removed + 4,
        s"batch $b added ${diff.count(_._1 == "added")} slabs")
    }
    // epochs opened; epoch 0's block is immutable (byte-identical to init)
    val epochs = ZOrderLake.readEpochs(root)
    assert(epochs.size >= 2, s"no epoch opened: $epochs")
    assert(epochs.head == Seq(ZOrderLake.DimBound("t", 0, 999),
      ZOrderLake.DimBound("y", 0, 49)))
    // geometric headroom: each new epoch's t-span at least doubles
    epochs.map(e => e.head.hi - e.head.lo).sliding(2).foreach {
      case Seq(a, b) => assert(b >= 2 * a, s"epoch spans not geometric: $epochs")
      case _ =>
    }
    // contents exact through every roll
    val cur = ZOrderLake.current(spark, root)
    assert(cur.count() == expectCnt)
    assert(cur.agg(sum("pay")).head.getLong(0) == expectPay)
    // box read on the NEWEST range: O(matching) files despite the old
    // epochs (each older epoch contributes at most its clamped
    // border-cell slabs; the exact predicate filters those rows out)
    val p = ZOrderLake.readPointer(root).get
    val total = ZOrderLake.readManifest(root, p.version).size
    val box = ZOrderLake.readBox(spark, root, Seq(4600L, 10L), Seq(4999L, 20L))
    val full = cur.filter(col("t").between(4600, 4999) && col("y").between(10, 20))
    assert(box.agg(count(lit(1)), sum("pay")).head() ==
      full.agg(count(lit(1)), sum("pay")).head())
    assert(box.inputFiles.length <= math.max(8, total / 3),
      s"newest-range box opened ${box.inputFiles.length} of $total files")
    // a box spanning an epoch boundary unions the per-epoch file sets
    val span = ZOrderLake.readBox(spark, root, Seq(900L, 0L), Seq(1600L, 49L))
    assert(span.count() == cur.filter(col("t").between(900, 1600)).count())

    // CROSS-EPOCH REBUILD: everything re-zvals onto ONE fresh epoch
    // covering the full domain — a maintenance version (lastBatch
    // unchanged), contents identical, and the boundary-spanning box
    // opens the same or fewer files than the multi-epoch layout did
    val spanFilesBefore = span.inputFiles.length
    val pBefore = ZOrderLake.readPointer(root).get
    val newEpoch = ZOrderLake.rebuild(spark, root, targetRows = 1000,
      retain = 10)
    assert(newEpoch == epochs.size, s"unexpected rebuild epoch $newEpoch")
    val pAfter = ZOrderLake.readPointer(root).get
    assert(pAfter.version == pBefore.version + 1 &&
      pAfter.lastBatch == pBefore.lastBatch,
      "rebuild must be a maintenance version")
    // every live slab now lives in the rebuild epoch
    val mAfter = ZOrderLake.readManifest(root, pAfter.version)
    assert(mAfter.forall(_.epoch == newEpoch),
      s"slabs left outside the rebuild epoch: ${mAfter.map(_.epoch).distinct}")
    // contents identical
    val curAfter = ZOrderLake.current(spark, root)
    assert(curAfter.count() == expectCnt)
    assert(curAfter.agg(sum("pay")).head.getLong(0) == expectPay)
    // the epoch-boundary box now decomposes on ONE grid: same rows, and
    // the layout is FRESH-INIT QUALITY — the rebuild contract is "what
    // init would produce on today's data" (a strict fewer-files-than-
    // before comparison is NOT an invariant: the rebuilt grid rescales
    // each dim over the full domain, so per-box counts can shift either
    // way; what rebuild buys is one decomposition instead of one per
    // epoch and zero frozen border-slab matches)
    val span2 = ZOrderLake.readBox(spark, root, Seq(900L, 0L), Seq(1600L, 49L))
    assert(span2.count() == cur.filter(col("t").between(900, 1600)).count())
    val twin = java.nio.file.Files
      .createTempDirectory("graft_zoreb_twin_").toString + "/zo"
    ZOrderLake.init(curAfter.drop("zval"), twin, Seq("t", "y"),
      targetRows = 1000)
    val twinSpan = ZOrderLake.readBox(spark, twin,
      Seq(900L, 0L), Seq(1600L, 49L))
    assert(span2.inputFiles.length <= twinSpan.inputFiles.length + 2,
      s"rebuild lost selectivity vs a fresh init: " +
        s"${span2.inputFiles.length} vs ${twinSpan.inputFiles.length} files " +
        s"(pre-rebuild: $spanFilesBefore)")
    ZOrderLake.destroy(twin)
    // ingest continues on the rebuilt lake (next epoch opens past it)
    ZOrderLake.applyBatch(
      (0 until 1000).map(i => ((6000 + i).toLong, (i % 50).toLong,
        (900000 + i).toLong)).toDF("t", "y", "pay"),
      root, targetRows = 1000, batchId = 10L, retain = 10)
    assert(ZOrderLake.current(spark, root).count() == expectCnt + 1000)
    ZOrderLake.destroy(root)
  }

  test("crash-residue epochs: slab-less trailing block is adopted or replaced, never stacked") {
    import spark.implicits._
    import graft.sources.ZOrderLake
    import graft.sources.FsIo
    val conf = spark.sparkContext.hadoopConfiguration
    val root = java.nio.file.Files
      .createTempDirectory("graft_zores_").toString + "/zo"
    val init = (0 until 4000).map(i =>
      ((i % 1000).toLong, (i % 50).toLong, i.toLong)).toDF("t", "y", "pay")
    ZOrderLake.init(init, root, Seq("t", "y"), targetRows = 1000)
    // simulate a crash between appendEpoch and the manifest commit: a
    // trailing `_bounds` block exists but no manifest entry references it
    val bounds = s"$root/_bounds"
    val orig = new String(FsIo.readBytes(conf, bounds), "UTF-8")
    FsIo.writeBytes(conf, bounds,
      (orig + "#epoch 1\nt 0 3999\ny 0 49\n").getBytes("UTF-8"))
    assert(ZOrderLake.readEpochs(root).size == 2)
    // ADOPTION: a replayed batch that fits the residue bounds lands IN
    // the residue epoch (single-crash self-heal — bounds were derived
    // from this very batch)
    val fitting = (0 until 1000).map(i =>
      ((2000 + i).toLong, (i % 50).toLong, (10000 + i).toLong))
      .toDF("t", "y", "pay")
    ZOrderLake.applyBatch(fitting, root, targetRows = 1000, batchId = 0L,
      retain = 10)
    val m1 = ZOrderLake.readManifest(root,
      ZOrderLake.readPointer(root).get.version)
    assert(ZOrderLake.readEpochs(root).size == 2, "adoption must not stack")
    assert(m1.exists(_.epoch == 1), "fitting batch must land in the residue")
    // REPLACEMENT: plant another residue, then a differently-bounded
    // batch (out past the residue) must REPLACE the trailing block
    // instead of stacking a third
    val orig2 = new String(FsIo.readBytes(conf, bounds), "UTF-8")
    FsIo.writeBytes(conf, bounds,
      (orig2 + "#epoch 2\nt 0 4100\ny 0 49\n").getBytes("UTF-8"))
    assert(ZOrderLake.readEpochs(root).size == 3)
    val far = (0 until 1000).map(i =>
      ((50000 + i).toLong, (i % 50).toLong, (20000 + i).toLong))
      .toDF("t", "y", "pay")
    ZOrderLake.applyBatch(far, root, targetRows = 1000, batchId = 1L,
      retain = 10)
    val epochs = ZOrderLake.readEpochs(root)
    assert(epochs.size == 3,
      s"differently-bounded retry stacked an epoch: ${epochs.size} blocks")
    assert(epochs.last.head.hi >= 50999,
      s"replaced trailing block must cover the new batch: ${epochs.last}")
    val m2 = ZOrderLake.readManifest(root,
      ZOrderLake.readPointer(root).get.version)
    assert(m2.exists(_.epoch == 2), "batch must land in the replaced epoch")
    // contents exact through both paths
    val cur = ZOrderLake.current(spark, root)
    assert(cur.count() == 6000)
    assert(cur.agg(sum("pay")).head.getLong(0) ==
      (0 until 4000).map(_.toLong).sum +
        (10000 until 11000).map(_.toLong).sum +
        (20000 until 21000).map(_.toLong).sum)
    // box read across all three epochs stays row-identical
    val box = ZOrderLake.readBox(spark, root, Seq(0L, 0L), Seq(60000L, 49L))
    assert(box.count() == 6000)
    ZOrderLake.destroy(root)
  }

  test("z-order lake time travel, manifest diff, crash-before-swap heal") {
    import spark.implicits._
    import graft.sources.ZOrderLake
    val root = java.nio.file.Files
      .createTempDirectory("graft_zott_").toString + "/zo"
    val init = (0 until 10000).map(i =>
      ((i % 100).toLong, (i / 100).toLong, i.toLong)).toDF("x", "y", "pay")
    ZOrderLake.init(init, root, Seq("x", "y"), targetRows = 1500)
    def batch(b: Int) = (0 until 400).map(i =>
      ((b * 30 + i % 20).toLong, (b * 30 + i / 20).toLong,
        (50000 + b * 1000 + i).toLong)).toDF("x", "y", "pay")
    ZOrderLake.applyBatch(batch(0), root, targetRows = 1500, batchId = 0L,
      retain = 3)
    ZOrderLake.applyBatch(batch(1), root, targetRows = 1500, batchId = 1L,
      retain = 3)
    // time travel: v0 is the init contents, v1 adds batch 0
    assert(ZOrderLake.asOf(spark, root, 0).count() == 10000)
    assert(ZOrderLake.asOf(spark, root, 1).count() == 10400)
    assert(ZOrderLake.asOf(spark, root, 2).count() == 10800)
    intercept[IllegalArgumentException](ZOrderLake.asOf(spark, root, 9))
    // manifest diff: carried slabs absent; added ∪ kept == v2 manifest
    val diff = ZOrderLake.changedSlabs(root, 1, 2)
    assert(diff.nonEmpty)
    val v1 = ZOrderLake.readManifest(root, 1).map(_.path).toSet
    val v2 = ZOrderLake.readManifest(root, 2).map(_.path).toSet
    assert(diff.collect { case ("added", e) => e.path }.toSet == v2 -- v1)
    assert(diff.collect { case ("removed", e) => e.path }.toSet == v1 -- v2)
    // incremental consumer: added-slab rows == the rows v2 gained/moved
    val addedRows = diff.collect { case ("added", e) => e.rows }.sum
    val removedRows = diff.collect { case ("removed", e) => e.rows }.sum
    assert(addedRows - removedRows == 400L)
    // crash heal: un-swap the pointer to (v1, batch 0) as if the v2
    // commit died before the rename; the replay of batch 1 must
    // re-derive v2 and land the same contents
    val expect = ZOrderLake.current(spark, root)
      .agg(count(lit(1)), sum("pay")).head()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_current"), "1 0".getBytes("UTF-8"))
    ZOrderLake.applyBatch(batch(1), root, targetRows = 1500, batchId = 1L,
      retain = 3)
    val p = ZOrderLake.readPointer(root).get
    assert(p == ZOrderLake.Pointer(2, 1L), p.toString)
    assert(ZOrderLake.current(spark, root)
      .agg(count(lit(1)), sum("pay")).head() == expect)
    ZOrderLake.destroy(root)
  }

  test("3-D z-order lake: incremental batches, octree box read, invariants") {
    import spark.implicits._
    import graft.sources.ZOrderLake
    val root = java.nio.file.Files
      .createTempDirectory("graft_zo3_").toString + "/zo"
    // 40×40×25 grid — a (time, lat, lon)-shaped cube
    val init = (0 until 40000).map { i =>
      ((i % 40).toLong, (i / 40 % 40).toLong, (i / 1600).toLong, i.toLong)
    }.toDF("t", "lat", "lon", "pay")
    ZOrderLake.init(init, root, Seq("t", "lat", "lon"), targetRows = 2500)
    assert(ZOrderLake.readDims(root).map(_.name) == Seq("t", "lat", "lon"))
    // one local batch (small t/lat/lon corner) rewrites few slabs
    val batch = (0 until 2000).map { i =>
      ((i % 10).toLong, (i / 10 % 10).toLong, (i / 100 % 5).toLong,
        (90000 + i).toLong)
    }.toDF("t", "lat", "lon", "pay")
    ZOrderLake.applyBatch(batch, root, targetRows = 2500, batchId = 0L)
    val p = ZOrderLake.readPointer(root).get
    val manifest = ZOrderLake.readManifest(root, p.version)
    assert(manifest.exists(_.path.contains("/data/v00000/")),
      "no v0 slab carried by reference")
    manifest.sortBy(_.minZ).sliding(2).foreach {
      case Seq(a, b) => assert(a.maxZ < b.minZ, s"$a overlaps $b")
      case _ =>
    }
    // contents = init ∪ batch exactly
    val expect = init.unionByName(batch)
    assert(ZOrderLake.current(spark, root)
      .agg(count(lit(1)), sum("pay")).head() ==
      expect.agg(count(lit(1)), sum("pay")).head())
    // 3-D box read: octree ranges alone prune; equals the full filter
    val box = ZOrderLake.readBox(spark, root,
      Seq(5L, 5L, 5L), Seq(14L, 14L, 9L))
    val full = ZOrderLake.current(spark, root)
      .filter(col("t").between(5, 14) && col("lat").between(5, 14) &&
        col("lon").between(5, 9))
    assert(box.agg(count(lit(1)), sum("pay")).head() ==
      full.agg(count(lit(1)), sum("pay")).head())
    assert(box.inputFiles.length < manifest.size,
      s"box opened ${box.inputFiles.length} of ${manifest.size}")
    // rank mismatch rejects loudly
    intercept[IllegalArgumentException](
      ZOrderLake.readBox(spark, root, Seq(0L, 0L), Seq(1L, 1L)))
    // schema drift rejects AT THE COMMIT: unionByName would silently
    // widen long ∪ double and poison every later reader
    val drifted = (0 until 10).map(i =>
      (i.toLong, i.toDouble, i.toLong, (99000 + i).toLong))
      .toDF("t", "lat", "lon", "pay")
    val e = intercept[IllegalArgumentException](
      ZOrderLake.applyBatch(drifted, root, targetRows = 2500, batchId = 7L))
    assert(e.getMessage.contains("schema"), e.getMessage)
    ZOrderLake.destroy(root)
  }

  test("scaleToGrid loud-rejects spans past the exactness bound") {
    import spark.implicits._
    val df = Seq(0L, 1L << 40).toDF("v")
    val bad = df.select(Lake.scaleToGrid(col("v"), lit(0L),
      lit(1L << 40)).as("g"))
    val e = intercept[Exception](bad.collect())
    assert(e.getMessage != null && e.getMessage.contains("scaleToGrid") ||
      Option(e.getCause).exists(_.getMessage.contains("scaleToGrid")),
      s"expected the scaleToGrid span guard, got $e")
    // in-range spans still produce the exact endpoints
    val ok = Seq(0L, 1000L).toDF("v")
      .select(Lake.scaleToGrid(col("v"), lit(0L), lit(1000L)).as("g"))
      .as[Long].collect().sorted
    assert(ok.toSeq == Seq(0L, 65535L))
    // NULL span (all-NULL min/max input) flows to NULL output — the
    // NULL-pass convention — instead of tripping the span guard
    val nul = Seq(Some(1L), None).toDF("v")
      .select(Lake.scaleToGrid(col("v"),
        lit(null).cast("long"), lit(null).cast("long")).as("g"))
      .collect()
    assert(nul.forall(_.isNullAt(0)), s"NULL span produced ${nul.toSeq}")
  }

  test("Tables.table memoizes the relation per (session, path) without caching data") {
    // r18 optimization: a bare spark.read.parquet re-lists + re-infers
    // the footer schema per call; Tables.table now memoizes the RELATION
    // per session. Reference equality proves the reuse; the relation
    // must still read live bytes from disk (no data persisted).
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_tblcache_").toString
    (0 until 10).map(i => (i.toLong, s"r$i")).toDF("id", "s")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/mini.parquet")
    val a = graft.sources.Tables.table(spark, dir, "mini")
    val b = graft.sources.Tables.table(spark, dir, "mini")
    assert(a eq b, "second call must return the memoized relation")
    assert(a.count() == 10)
    assert(a.schema.fieldNames.toSeq == Seq("id", "s"))
    // executions still scan parquet: the plan keeps a FileScan, the
    // relation is not a persisted/InMemory one
    val phys = a.queryExecution.executedPlan.toString
    assert(!phys.contains("InMemoryTableScan"), phys)
  }

  test("z-order slab-schema cache: re-init at the same root sees the new columns") {
    // r17 optimization caches the pinned slab schema per root (the
    // per-batch footer read was redundant); destroy + re-init with a
    // DIFFERENT column set must not leak the stale schema into the
    // append-time check — the drift guard has to accept the new lake's
    // own batches and still reject actually-drifted ones.
    import graft.sources.ZOrderLake
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_zocache_").toString + "/zo"
    def rows(n: Int) = (0 until n).map(i => (i.toLong, (i * 7 % 50).toLong))
      .toDF("x", "y")
    ZOrderLake.init(rows(100), root, "x", "y", targetRows = 1000)
    ZOrderLake.applyBatch(rows(100).withColumn("x", col("x") + 100),
      root, "x", "y", 1000L, 0L, 10)
    assert(ZOrderLake.current(spark, root).count() == 200)
    ZOrderLake.destroy(root)
    // same root, WIDER schema: appends must validate against the new lake
    val wide = rows(50).withColumn("w", col("x") * 2)
    ZOrderLake.init(wide, root, "x", "y", targetRows = 1000)
    ZOrderLake.applyBatch(wide.withColumn("x", col("x") + 50),
      root, 1000L, 0L, 10)
    assert(ZOrderLake.current(spark, root).columns.contains("w"))
    assert(ZOrderLake.current(spark, root).count() == 100)
    // and a genuinely drifted batch still rejects loudly
    val e = intercept[IllegalArgumentException] {
      ZOrderLake.applyBatch(rows(10), root, 1000L, 1L, 10)
    }
    assert(e.getMessage.contains("does not match lake schema"), e.getMessage)
    ZOrderLake.destroy(root)
  }

  test("z-order touch: a batch in a kept slab's boundary cell rewrites it; a new epoch rewrites none") {
    import graft.sources.ZOrderLake
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_zotouch_").toString
    val root = s"$base/zo"
    // bounds pinned at [0, 65535] on both dims, so the grid is the value
    // and zval = Morton2(x, y); 2 dims → cell = zval >> 20
    val rnd = new scala.util.Random(7)
    val init = ((0L, 0L) +: (65535L, 65535L) +:
      Seq.fill(398)((rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong)))
      .zipWithIndex.map { case ((x, y), i) => (x, y, i.toLong) }.toDF("x", "y", "pay")
    ZOrderLake.init(init, root, "x", "y", targetRows = 50)
    // one batch first, so the counted one below runs in steady state
    ZOrderLake.applyBatch(Seq((100L, 100L, 500L)).toDF("x", "y", "pay"),
      root, 50L, 0L, 10)
    val slabs = ZOrderLake.readManifest(root, 1).sortBy(_.minZ)
    def cell(z: Long) = z >> 20
    // a slab whose last cell it alone holds, with room past its maxZ
    val (e, _) = slabs.zip(slabs.tail).find { case (a, b) =>
      cell(a.maxZ) < cell(b.minZ) && cell(a.maxZ + 1) == cell(a.maxZ) &&
        cell(a.minZ) < cell(a.maxZ)
    }.getOrElse(fail(s"no slab fits the fixture: $slabs"))
    val z = e.maxZ + 1 // outside the slab's zval range, inside its last cell
    def bits(off: Int) = (0 until 16).map(i => ((z >> (2 * i + off)) & 1L) << i).sum
    val (x, y) = (bits(0), bits(1))
    assert(graft.functions.Morton2.compute(x, y) == z)
    // parquet-backed, as ingest sees a batch
    val batchDir = s"$base/batch"
    Seq((x, y, 9999L)).toDF("x", "y", "pay").write.parquet(batchDir)
    val batch = spark.read.parquet(batchDir)
    val (_, jobs) = org.apache.spark.graft.JobCount(spark.sparkContext)(
      ZOrderLake.applyBatch(batch, root, 50L, 1L, 10))
    assert(jobs <= 4, s"z-order applyBatch ran $jobs Spark jobs")
    val removed = ZOrderLake.changedSlabs(root, 1, 2).filter(_._1 == "removed").map(_._2)
    assert(removed.map(_.path) == Seq(e.path), s"rewrote $removed, expected ${e.path}")
    assert(ZOrderLake.current(spark, root).count() == 402)
    // the slab schema init held is the one a read infers
    assert(ZOrderLake.current(spark, root).schema ==
      spark.read.parquet(ZOrderLake.readManifest(root, 2).map(_.path): _*).schema)
    // every row out of box: a new epoch opens and no slab is rewritten
    val far = (0 until 20).map(i => (200000L + i, (i * 100).toLong, i.toLong))
      .toDF("x", "y", "pay")
    ZOrderLake.applyBatch(far, root, 50L, 2L, 10)
    assert(ZOrderLake.readEpochs(root).size == 2)
    assert(!ZOrderLake.changedSlabs(root, 2, 3).exists(_._1 == "removed"))
    assert(ZOrderLake.current(spark, root).count() == 422)
    ZOrderLake.destroy(root)
  }
}
