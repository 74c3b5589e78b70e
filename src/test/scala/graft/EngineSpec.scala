package graft

import graft.core.{Runs, Stats, Time}
import graft.indices.Generic
import graft.pipeline.{Dedup, Similarity, TextStats}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark-backed operator tests with hand-computed expectations (the
  * reference's synthetic-series test pattern, SURVEY §5.1). */
class EngineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def daily(values: Seq[Double], start: String = "2000-07-01"): DataFrame = {
    import spark.implicits._
    val s = java.time.LocalDate.parse(start)
    values.zipWithIndex.map { case (v, i) =>
      (0L, java.sql.Timestamp.valueOf(s.plusDays(i).atStartOfDay), v)
    }.toDF("location_id", "time", "value")
  }

  test("resamplePeriod: anchored frequencies") {
    import spark.implicits._
    val df = Seq("2000-06-30 12:00:00", "2000-07-01 00:00:00", "2001-02-28 05:00:00")
      .map(java.sql.Timestamp.valueOf).toDF("t")
    val got = df.select(
      Time.resamplePeriod(col("t"), "YS-JUL").cast("string").as("ys_jul"),
      Time.resamplePeriod(col("t"), "QS-DEC").cast("string").as("qs_dec"),
      Time.resamplePeriod(col("t"), "MS").cast("string").as("ms"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(got(0) == ("1999-07-01 00:00:00", "2000-06-01 00:00:00", "2000-06-01 00:00:00"))
    assert(got(1) == ("2000-07-01 00:00:00", "2000-06-01 00:00:00", "2000-07-01 00:00:00"))
    assert(got(2) == ("2000-07-01 00:00:00", "2000-12-01 00:00:00", "2001-02-01 00:00:00"))
  }

  test("periodEnd / expectedDays handles leap February") {
    import spark.implicits._
    val df = Seq(java.sql.Timestamp.valueOf("2000-02-15 00:00:00")).toDF("t")
    val got = df.select(
      Time.expectedDays(Time.resamplePeriod(col("t"), "MS"), "MS")).head.getInt(0)
    assert(got == 29)
  }

  test("runs toolkit: longest run, events, bounds on planted mask") {
    // mask: 1 1 0 1 1 1 0 0 1 -> runs of 2, 3, 1
    val vals = Seq(1, 1, 0, 1, 1, 1, 0, 0, 1).map(_.toDouble)
    val df = daily(vals)
    val cond = col("value") > 0.5
    val longest = Runs.longestRun(df, Seq("location_id"), None, col("time"), cond)
      .head.getLong(1)
    assert(longest == 3)
    val nRuns2 = Runs.windowedRunEvents(df, Seq("location_id"), None, col("time"), cond, 2)
      .head.getLong(1)
    assert(nRuns2 == 2)
    val daysIn2 = Runs.windowedRunCount(df, Seq("location_id"), None, col("time"), cond, 2)
      .head.getLong(1)
    assert(daysIn2 == 5)
    val bounds = Runs.runTable(df, Seq("location_id"), col("time"), cond)
      .orderBy("run_start").collect()
    assert(bounds.length == 3)
    assert(bounds.map(_.getAs[Long]("run_len")).toSeq == Seq(2L, 3L, 1L))
  }

  test("first/last run with window") {
    val vals = Seq(1, 0, 1, 1, 1, 0, 1, 1).map(_.toDouble)
    val df = daily(vals) // runs: [d0], [d2-d4], [d6-d7]
    val first2 = Runs.firstRun(df, Seq("location_id"), col("time"), col("value") > 0.5, 2)
      .head.getTimestamp(1).toString
    assert(first2.startsWith("2000-07-03"))
    val last2 = Runs.lastRun(df, Seq("location_id"), col("time"), col("value") > 0.5, 2)
      .head.getTimestamp(1).toString
    assert(last2.startsWith("2000-07-07"))
  }

  test("runEndAfterDate: reference run_end_after_date semantics") {
    // run_length.py:1148 — end = start of first window-run of !cond at/after
    // the date; requires a window-run of cond strictly BEFORE the date;
    // falls back to the last timestep when the run never terminates.
    val cond = col("value") > 0.5
    // doys 1..20; beg run d3-d6; after doy 10 cond holds d10-d12, breaks d13-d15
    val v1 = Seq(0, 0, 1, 1, 1, 1, 0, 0, 0, 1, 1, 1, 0, 0, 0, 1, 1, 1, 1, 1).map(_.toDouble)
    val r1 = Runs.runEndAfterDate(daily(v1, "2000-01-01"), Seq("location_id"),
      col("time"), cond, 3, 10).collect()
    assert(r1.length == 1 && r1.head.getTimestamp(1).toString.startsWith("2000-01-13"))
    // never terminates after the date (no 3-run of !cond) -> last timestep
    val v2 = Seq(0, 0, 1, 1, 1, 0, 0, 0, 0, 1, 1, 1, 1, 1, 0, 1, 1, 1, 1, 1).map(_.toDouble)
    val r2 = Runs.runEndAfterDate(daily(v2, "2000-01-01"), Seq("location_id"),
      col("time"), cond, 3, 10).collect()
    assert(r2.length == 1 && r2.head.getTimestamp(1).toString.startsWith("2000-01-20"))
    // no window-length qualifying run before the date -> no row (NaN)
    val v3 = Seq(1, 1, 0, 1, 1, 0, 1, 1, 0, 0, 0, 0, 1, 1, 1, 1, 0, 0, 0, 0).map(_.toDouble)
    val r3 = Runs.runEndAfterDate(daily(v3, "2000-01-01"), Seq("location_id"),
      col("time"), cond, 3, 10).collect()
    assert(r3.isEmpty)
  }

  test("firstRunBeforeDate: run may finish window-1 steps after the date") {
    // run_length.py:1287 masks only at/after date + window - 1, so a
    // window=3 run starting the day before the date (doy 9,10,11) qualifies
    val v = Seq(0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0).map(_.toDouble)
    val r = Runs.firstRunBeforeDate(daily(v, "2000-01-01"), Seq("location_id"),
      col("time"), col("value") > 0.5, 3, 10).collect()
    assert(r.length == 1 && r.head.getTimestamp(1).toString.startsWith("2000-01-09"))
    // but a run confined to doy >= date + window - 1 must NOT qualify
    val v2 = Seq(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 0, 0, 0, 0, 0, 0).map(_.toDouble)
    val r2 = Runs.firstRunBeforeDate(daily(v2, "2000-01-01"), Seq("location_id"),
      col("time"), col("value") > 0.5, 3, 10).collect()
    assert(r2.isEmpty)
  }

  test("holiday_count window wrapping the year boundary") {
    // date_start 12-30, date_end 01-02: wrap -> md >= 1230 OR md <= 0102;
    // a full year contains exactly 4 such days
    val year = (0 until 366).map(_ => 1.0) // 2000 is a leap year
    val df = daily(year, "2000-01-01")
    val c = graft.indicator.Registry.computeBases("holiday_count")
    val got = c(df, "YS", Map("op" -> ">=", "thresh" -> "0.5",
      "date_start" -> "12-30", "date_end" -> "01-02")).collect()
    assert(got.length == 1 && got.head.getAs[Long]("value") == 4L)
  }

  test("runsWithHoles state machine") {
    // start after 2 consecutive start-cond, stop after 2 consecutive stop-cond
    val vals = Seq(5, 5, 2, 2, 5, 0, 0, 0).map(_.toDouble)
    val df = daily(vals)
    val out = Runs.runsWithHoles(df, Seq("location_id"), col("time"),
        col("value") >= 5, 2, col("value") < 1, 2)
      .orderBy("time").select("in_event").collect().map(_.getBoolean(0)).toSeq
    // enters at day1 (2nd five), survives the 2/2 dip and the single 0? no:
    // stop needs two consecutive <1: days 5,6 -> off from day6 onward
    assert(out == Seq(false, true, true, true, true, true, false, false))
  }

  test("find_events emits per-event records") {
    val vals = Seq(5, 5, 0, 0, 6, 6, 6, 0).map(_.toDouble)
    val df = daily(vals)
    val ev = Runs.findEvents(df, Seq("location_id"), col("time"),
        col("value") >= 5, 1, col("value") < 5, 1, col("value"))
      .orderBy("event_start").collect()
    assert(ev.length == 2)
    assert(ev(0).getAs[Long]("event_length") == 2)
    assert(ev(0).getAs[Double]("event_sum") == 10.0)
    assert(ev(1).getAs[Long]("event_length") == 3)
    assert(ev(1).getAs[Double]("event_sum") == 18.0)
  }

  test("hfQuantile types 7 and 8 against known values") {
    import spark.implicits._
    val df = (1 to 10).map(_.toDouble).toDF("v")
    val t7 = df.agg(Stats.hfQuantile(col("v"), 0.9, 1.0, 1.0)).head.getDouble(0)
    assert(math.abs(t7 - 9.1) < 1e-9) // numpy linear / type 7
    val t8 = df.agg(Stats.hfQuantile(col("v"), 0.9)).head.getDouble(0)
    assert(math.abs(t8 - 9.633333333333333) < 1e-9) // scipy/h&f type 8
    val med = df.agg(Stats.hfQuantile(col("v"), 0.5, 1.0, 1.0)).head.getDouble(0)
    assert(math.abs(med - 5.5) < 1e-9)
  }

  test("season coord / season year / doy re-basing helpers") {
    import spark.implicits._
    import graft.core.Time
    val df = Seq("2020-12-15", "2021-01-15", "2021-03-01", "2021-07-01", "2021-10-01")
      .toDF("s").select(to_timestamp(col("s")).as("ts"))
    val got = df.select(Time.seasonCoord(col("ts")).as("sc"),
        Time.seasonYear(col("ts")).as("sy")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    // December belongs to the FOLLOWING year's DJF (QS-DEC convention)
    assert(got == Seq(("DJF", 2021), ("DJF", 2021), ("MAM", 2021),
      ("JJA", 2021), ("SON", 2021)))
    // doy re-basing round-trips through a Jan-1 anchor
    val rt = df
      .withColumn("anchor", trunc(col("ts"), "year"))
      .withColumn("ds", Time.doyToDaysSince(dayofyear(col("ts")), year(col("ts")), col("anchor")))
      .select(Time.daysSinceToDoy(col("ds"), col("anchor")).as("doy2"),
        dayofyear(col("ts")).as("doy"))
      .collect()
    assert(rt.forall(r => r.getInt(0) == r.getInt(1)))
  }

  test("quantileAtScale tracks the exact quantile within sketch error") {
    import spark.implicits._
    // the documented unbounded-group fallback: on 50k skewed values the
    // approx sketch must land within ~2/accuracy rank error of exact H&F
    val rng = new scala.util.Random(7)
    val df = (1 to 50000).map(_ => math.exp(rng.nextGaussian())).toDF("v")
    for (p <- Seq(0.1, 0.5, 0.9, 0.99)) {
      val exact = df.agg(Stats.hfQuantile(col("v"), p, 1.0, 1.0)).head.getDouble(0)
      val approx = df.agg(Stats.quantileAtScale(col("v"), p)).head.getDouble(0)
      // compare in rank space: fraction of values between the two results
      val lo = math.min(exact, approx); val hi = math.max(exact, approx)
      val between = df.filter(col("v") > lo && col("v") <= hi).count()
      assert(between <= 50000 * 2 / 10000 + 1, s"p=$p exact=$exact approx=$approx off by $between ranks")
    }
  }

  test("weightedQuantile: equal weights reduce to midpoint interpolation") {
    import spark.implicits._
    val eq = Seq((1.0, 1.0), (2.0, 1.0), (3.0, 1.0), (4.0, 1.0)).toDF("v", "w")
    val m = eq.agg(Stats.weightedQuantile(col("v"), col("w"), 0.5)).head.getDouble(0)
    assert(math.abs(m - 2.5) < 1e-9)
    val wt = Seq((1.0, 3.0), (10.0, 1.0)).toDF("v", "w")
    val mw = wt.agg(Stats.weightedQuantile(col("v"), col("w"), 0.5)).head.getDouble(0)
    assert(math.abs(mw - 3.25) < 1e-9) // grid 0.375/0.875 -> 1 + .25/.5*9? no: (0.5-0.375)/0.5*9
    val lo = wt.agg(Stats.weightedQuantile(col("v"), col("w"), 0.1)).head.getDouble(0)
    assert(lo == 1.0) // below the first grid point -> min
  }

  test("rollingThenResample: max 3-day sum") {
    val df = daily(Seq(1, 2, 3, 4, 0, 0, 1).map(_.toDouble))
    val got = Generic.rollingThenResample(df, Seq("location_id"), col("time"), "MS",
      col("value"), 3, "sum", "max", "mx").head.getDouble(2)
    assert(got == 9.0) // 2+3+4
  }

  test("doyOfExtreme picks earliest tie") {
    val df = daily(Seq(1, 7, 7, 2).map(_.toDouble)) // 2000-07-01..04 -> doy 183..186
    val got = Generic.doyOfExtreme(df, Seq("location_id"), col("time"), "YS",
      col("value"), maximum = true).head.getInt(2)
    assert(got == 184) // first of the two 7s (2000-07-02)
  }

  test("dedup primitives") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again today"),
      (2L, "the quick brown fox jumps over the lazy dog again tomorrow"),
      (3L, "completely different text about spark and scala engines")
    ).toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicates(df, "doc_id", "text", ngram = 2,
      threshold = 0.5, numHashes = 16, bands = 8).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    // simhash: near-identical texts within small hamming distance
    val sh = df.select(Dedup.simhash(col("text")).as("h")).collect().map(_.getLong(0))
    val d12 = java.lang.Long.bitCount(sh(0) ^ sh(1))
    val d13 = java.lang.Long.bitCount(sh(0) ^ sh(2))
    assert(d12 < d13)
  }

  test("IVF recall@5 vs brute force on clustered vectors") {
    import spark.implicits._
    // 8 well-separated clusters x 50 vectors; IVF probing 3 of 8 cells must
    // recover most of the exact top-5 for in-distribution queries
    val rnd = new scala.util.Random(11)
    val dim = 16
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian() * 5))
    val corpus = (0 until 400).map { i =>
      val c = i % 8
      (i.toLong, c.toString,
        centers(c).map(x => (x + rnd.nextGaussian() * 0.5).toFloat))
    }.toDF("vec_id", "label", "embedding")
    val queries = corpus.filter($"vec_id" < 4)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val exact = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        queries, "qid", "qvec", 5)
      .select($"qid", $"vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = queries.select($"qid", $"qvec").collect().flatMap { q =>
      Similarity.ivfTopK(corpus, "vec_id", "embedding", "label",
          Seq(q.getAs[scala.collection.Seq[Float]]("qvec").toArray).toDF("qvec"),
          k = 5, nprobe = 3)
        .select($"vec_id").collect().map(r => (q.getLong(0), r.getLong(0)))
    }.toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall@5 = $recall")
  }

  test("doy percentile: broadcast and co-partitioned join paths agree") {
    import spark.implicits._
    // grid-scale path (broadcastDim=false) must produce the same counts as
    // the station-scale broadcast path
    val md = java.time.LocalDate.parse("2001-01-01")
    val df = (0 until 2).flatMap { loc =>
      (0 until 400).map { i =>
        (loc.toLong, java.sql.Timestamp.valueOf(md.plusDays(i).atStartOfDay),
          math.sin(i * 0.7 + loc) * 10 + i % 13)
      }
    }.toDF("location_id", "time", "value")
    def run(bc: Boolean) =
      graft.indices.PercentileIndicators.doyExceedance(df, Seq("location_id"),
          "time", "value", p = 0.8, op = ">", halfWindow = 2, freq = "YS",
          broadcastDim = bc)
        .orderBy("location_id", "period").collect().toSeq
    assert(run(bc = true) == run(bc = false))
  }

  test("connected components: chains propagate, clusters stay separate") {
    import spark.implicits._
    // chain 1-2-3 (diameter 2 forces >1 propagation round) + pair 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("similarity: cosine and top-k") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0.0f, 1.0f))
    ).toDF("id", "vec")
    val q = Seq((100L, Array(1.0f, 0.0f))).toDF("qid", "qvec")
    val top = Similarity.bruteForceTopK(corpus, "id", "vec", q, "qid", "qvec", 2)
      .orderBy("rank").collect()
    assert(top.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L))
    assert(math.abs(top(0).getAs[Double]("cosine") - 1.0) < 1e-6)
  }

  test("ivf topk: correct result, no per-id exchange, TakeOrderedAndProject top-k") {
    import spark.implicits._
    val corpus = (1 to 40).map { i =>
      val cls = if (i % 2 == 0) "a" else "b"
      (i.toLong, Array((if (cls == "a") 1.0f else 0.0f) + i * 1e-3f,
        (if (cls == "a") 0.0f else 1.0f)), cls)
    }.toDF("id", "vec", "cls")
    val q = Seq(Tuple1(Array(1.0f, 0.05f))).toDF("qvec")
    val top = Similarity.ivfTopK(corpus, "id", "vec", "cls", q, k = 3, nprobe = 1)
    val rows = top.orderBy("rank").collect()
    assert(rows.length == 3)
    // probing cell 'a' only: all hits even ids (class a)
    assert(rows.forall(_.getAs[Long]("id") % 2 == 0))
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "global top-k must be TakeOrderedAndProject, not a single-partition Window")
    // the corpus->centroid assignment must be a projection: the only
    // row_number Window allowed is the final rank over k rows
    assert(!plan.contains("Window [row_number")
      || plan.indexOf("TakeOrderedAndProject") > plan.indexOf("Window [row_number"),
      "no Window may run before the top-k limit")
  }

  test("text stats") {
    import spark.implicits._
    val df = Seq("  the quick  brown fox ", "").toDF("text")
    val got = df.select(TextStats.tokenCount(col("text"))).collect().map(_.getInt(0))
    assert(got.toSeq == Seq(4, 0))
    val ng = df.select(TextStats.wordNgrams(col("text"), 2)).head.getSeq[String](0)
    assert(ng == Seq("the quick", "quick brown", "brown fox"))
  }

  test("select_time indexers") {
    import spark.implicits._
    val df = Seq("2000-01-15 00:00:00", "2000-07-15 00:00:00", "2000-12-15 00:00:00")
      .map(java.sql.Timestamp.valueOf).toDF("t")
    assert(df.filter(Time.Select.season(col("t"), "DJF")).count() == 2)
    assert(df.filter(Time.Select.months(col("t"), Seq(7))).count() == 1)
    assert(df.filter(Time.Select.doyBounds(col("t"), 340, 40)).count() == 2) // wrap
  }

  test("converters: known physical values") {
    import spark.implicits._
    import graft.indices.Converters._
    val df = Seq((30.0, 25.0, -10.0, 30.0)).toDF("tas", "tdps", "tcold", "wind")
    val r = df.select(
      humidex(col("tas"), col("tdps")).as("hmdx"),
      windChill(col("tcold"), col("wind")).as("wc"),
      dayLength(lit(0.0), lit(80)).as("dl_equator"),
      relativeHumidity(col("tas"), col("tas")).as("rh_sat")).head
    assert(math.abs(r.getAs[Double]("hmdx") - 42.3) < 0.5)     // ~42 humidex
    assert(math.abs(r.getAs[Double]("wc") - (-19.5)) < 0.5)    // EC table value
    assert(math.abs(r.getAs[Double]("dl_equator") - 12.0) < 0.2)
    assert(math.abs(r.getAs[Double]("rh_sat") - 100.0) < 1e-9)
  }

  test("analog KS: identical samples -> 0, disjoint -> 1") {
    import spark.implicits._
    val cand = Seq(("a", 1.0), ("a", 2.0), ("b", 10.0), ("b", 11.0)).toDF("g", "v")
    val tgt = Seq(1.0, 2.0).toDF("v")
    val ks = graft.analog.Analog.ksStatistic(cand, "g", "v", tgt)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ks("a") == 0.0)
    assert(ks("b") == 1.0)
  }

  test("multimodal plumbing: batch decode schema, frame sampling, resize plan") {
    import spark.implicits._
    import org.apache.spark.sql.Row
    val wavBytes = graft.pipeline.Multimodal.plantedWav(2L, 40, 16000, 2)
    val rows = Seq(
      Row(1L, "image", "fakejpegbytes".getBytes, 4000, 3000, null, null),
      Row(2L, "audio", wavBytes, null, null, 16000, 2500L),
      Row(3L, "image", null, 100, 80, null, null))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r.toSeq: _*))),
      graft.pipeline.Multimodal.mediaSchema)
    val feats = graft.pipeline.Multimodal.extractFeatures(media).collect()
    assert(feats.length == 3)
    val f1 = feats.find(_.getLong(0) == 1L).get
    assert(f1.getAs[Long]("n_bytes") == 13L)
    // default decoder REALLY decodes images: garbage bytes -> null feature
    assert(f1.getAs[scala.collection.Seq[Float]]("feature") == null)
    // audio is REALLY decoded too: rate/channels/frames come from the WAV
    val f2 = feats.find(_.getLong(0) == 2L).get
    val af = f2.getAs[scala.collection.Seq[Float]]("feature")
    assert(af.length == 8 && af(0) == 16000f && af(1) == 2f && af(2) == 40f)
    assert(feats.find(_.getLong(0) == 3L).get.getAs[scala.collection.Seq[Float]]("feature") == null)
    // deterministic: same payload -> same feature
    val again = graft.pipeline.Multimodal.extractFeatures(media).collect()
      .find(_.getLong(0) == 2L).get.getAs[scala.collection.Seq[Float]]("feature")
    assert(again == af)
    // frame sampling: 2500 ms at 1000 ms -> frames 0,1000,2000
    val frames = graft.pipeline.Multimodal.sampleFrames(media.filter($"media_id" === 2), 1000L)
      .select("frame_ms").collect().map(_.getLong(0)).toSeq
    assert(frames == Seq(0L, 1000L, 2000L))
    // resize: 4000x3000 -> cap 1024 keeps aspect
    val rp = graft.pipeline.Multimodal.resizePlan(media.filter($"media_id" === 1), 1024)
      .select("out_width", "out_height").head
    assert(rp.getInt(0) == 1024 && rp.getInt(1) == 768)
    // decoder seam: a custom MediaDecoder factory plugs in without plan
    // changes (the JNI/FFI drop-in point); constant 2-dim features prove
    // the custom impl actually ran
    val custom = graft.pipeline.Multimodal.extractFeatures(media, dims = 2,
      decoder = () => new graft.pipeline.Multimodal.MediaDecoder {
        def decode(modality: String, payload: Array[Byte], dims: Int): Array[Float] =
          if (payload == null) null else Array.fill(dims)(if (modality == "image") 1.0f else 2.0f)
      }).collect()
    assert(custom.find(_.getLong(0) == 1L).get
      .getAs[scala.collection.Seq[Float]]("feature") == Seq(1.0f, 1.0f))
    assert(custom.find(_.getLong(0) == 2L).get
      .getAs[scala.collection.Seq[Float]]("feature") == Seq(2.0f, 2.0f))
  }

  test("ImageIODecoder: real PNG/BMP decode with exact planted stats") {
    import graft.pipeline.Multimodal
    val dec = new Multimodal.ImageIODecoder
    dec.open()
    // planted 16x12 PNG for id=42: channel c of (x,y) = (294+3x+5y+11c)%256,
    // range 38..138+22 — no mod wrap, so sums are closed-form:
    // sumR = 192*38 + 3*120*12 + 5*66*16 = 16896; G/B shift by 11*192 each
    val f = dec.decode("image", Multimodal.plantedPng(42L, 16, 12), 8)
    assert(f(0) == 16f && f(1) == 12f && f(2) == 3f)
    assert(f(3) == 16896f && f(4) == 19008f && f(5) == 21120f)
    // BMP path (JDK writer): 2x2 with one white pixel
    val img = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(1, 0, 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    val fb = dec.decode("image", bos.toByteArray, 8)
    assert(fb(0) == 2f && fb(1) == 2f && fb(3) == 255f && fb(4) == 255f && fb(5) == 255f)
    // aHash: half-dark/half-light 16x16 -> exactly 32 cells above the mean
    val grad = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 8 until 16; x <- 0 until 16) grad.setRGB(x, y, 0xffffff)
    val bos2 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(grad, "png", bos2)
    val fg = dec.decode("image", bos2.toByteArray, 8)
    assert(fg(6) == 32f)
    // non-image modality and undecodable bytes -> null
    assert(dec.decode("audio", Array[Byte](1, 2, 3), 8) == null)
    assert(dec.decode("image", Array[Byte](1, 2, 3), 8) == null)
    dec.close()
  }

  test("WavDecoder: real RIFF/PCM byte parse with exact planted stats") {
    import graft.pipeline.Multimodal
    val dec = new Multimodal.WavDecoder
    // planted stereo PCM-16: sample(i, ch) = ((42*7 + 13i + 5ch) % 201) - 100;
    // expectations computed from the closed form, independent of the
    // writer+parser byte chain under test
    val frames = 50
    val s0 = (0 until frames).map(i => ((294 + 13 * i) % 201) - 100)
    val s1 = (0 until frames).map(i => ((294 + 13 * i + 5) % 201) - 100)
    val zc = (1 until frames).count(i => (s0(i) >= 0) != (s0(i - 1) >= 0))
    val f = dec.decode("audio", Multimodal.plantedWav(42L, frames, 8000, 2), 8)
    assert(f(0) == 8000f && f(1) == 2f && f(2) == frames.toFloat)
    assert(f(3) == s0.sum.toFloat && f(4) == s0.map(math.abs).sum.toFloat)
    assert(f(5) == (s0 ++ s1).map(math.abs).max.toFloat)
    assert(f(6) == zc.toFloat)
    assert(f(7) == frames * 1000.0f / 8000) // exact: rate is a power-of-two multiple
    // 8-bit mono path: hand-built 4-frame WAV, samples 128±{0,10,-20,127-128}
    val b = java.nio.ByteBuffer.allocate(44 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + 4).put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
      .putInt(4000).putInt(4000).putShort(1).putShort(8)
    b.put("data".getBytes("US-ASCII")).putInt(4)
    b.put(128.toByte).put(138.toByte).put(108.toByte).put(255.toByte)
    val f8 = dec.decode("audio", b.array(), 8)
    assert(f8(1) == 1f && f8(2) == 4f && f8(3) == (0 + 10 - 20 + 127).toFloat)
    assert(f8(5) == 127f && f8(6) == 2f) // +10 -> -20 -> +127: two sign changes
    // compressed/garbage/truncated payloads and wrong modality -> null
    assert(dec.decode("audio", "nonsense".getBytes, 8) == null)
    assert(dec.decode("audio", Multimodal.plantedWav(1L, 10).take(30), 8) == null)
    assert(dec.decode("video", Multimodal.plantedWav(1L, 10), 8) == null)
  }

  test("paragraphDedup keeps each distinct paragraph exactly once, in place") {
    import graft.pipeline.Dedup
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha\n\nbeta\n\nalpha"),     // within-doc repeat
      (2L, "beta\n\ngamma"),              // cross-doc repeat of beta
      (3L, "alpha\n\ndelta\n\ngamma"),    // loses both to 1 and 2
      (4L, "epsilon")
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
    assert(out(0) == ((1L, 3, 2, "alpha\n\nbeta")))
    assert(out(1) == ((2L, 2, 1, "gamma")))
    assert(out(2) == ((3L, 3, 1, "delta")))
    assert(out(3) == ((4L, 1, 1, "epsilon")))
    // corpus-wide invariant: kept texts hold every distinct paragraph once
    val keptParas = out.flatMap(_._4.split("\n\n").filter(_.nonEmpty))
    assert(keptParas.sorted.toSeq ==
      Seq("alpha", "beta", "delta", "epsilon", "gamma"))
  }

  test("substringDedup marks non-first k-token windows; apply drops merged spans") {
    import graft.pipeline.Dedup
    import spark.implicits._
    // doc 1 repeats its own opening window "a b c d" at pos 6; doc 2
    // repeats it at pos 0 (cross-doc); doc 3 shares only sub-window
    // fragments, so nothing in it is marked
    val docs = Seq(
      (1L, "a b c d x y a b c d e f"),
      (2L, "a b c d p q r s"),
      (3L, "m n o p q u v w")
    ).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // doc 1: 12 tokens; window "a b c d" recurs at pos 6 -> one span [6,10)
    assert(out(0) == ((1L, 12L, 1L, 4L, 8L)))
    // doc 2: 8 tokens; "a b c d" at pos 0 is a repeat -> span [0,4)
    assert(out(1) == ((2L, 8L, 1L, 4L, 4L)))
    // doc 3: no 4-token window repeats ("p q" bigram alone is too short)
    assert(out(2) == ((3L, 8L, 0L, 0L, 8L)))
    val kept = Dedup.substringDedupApply(docs, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept(0) == ((1L, "a b c d x y e f")))
    assert(kept(1) == ((2L, "p q r s")))
    assert(kept(2) == ((3L, "m n o p q u v w")))
    // overlapping-span merge: two dup windows 1 apart collapse to one
    // 5-token span, not 8 tokens of removal
    val ov = Seq((1L, "a b c d e z z z"), (2L, "q a b c d e w t"))
      .toDF("doc_id", "text")
    val o2 = Dedup.substringDedup(ov, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(o2(1) == ((2L, 2L, 5L))) // windows at pos 1,2 -> merged [1,6)
  }

  test("mp3/mp4 container metadata: header walks with exact planted closed forms") {
    import graft.pipeline.Multimodal
    // MPEG1 Layer III: id=42 -> ID3v2 = 10 + (42%7)*16 = 10 bytes; the
    // closed forms are independent of the writer+parser byte chain
    val frames = 75
    val m = Multimodal.mp3Meta(Multimodal.plantedMp3(42L, frames))
    assert(m(0) == frames && m(1) == 44100L && m(2) == 128L)
    assert(m(3) == frames.toLong * 1152 * 1000 / 44100)
    assert(Multimodal.plantedMp3(42L, frames).length == 10 + frames * 417 + frames / 2 + 128)
    assert(Multimodal.plantedMp3(3L, 10).length == 10 + 3 * 16 + 10 * 417 + 5 + 128)
    // ISO-BMFF with version-0 mvhd/tkhd (timescale 1000)
    val v = Multimodal.mp4Meta(Multimodal.plantedMp4(7L, 320, 240, 2250))
    assert(v.sameElements(Array(2250L, 1L, 320L, 240L)))
    assert(Multimodal.plantedMp4(7L, 320, 240, 2250).length == 304 + 7 % 32)
    // version-1 mvhd/tkhd (64-bit times) hand-built: ts=600, dur=1800 -> 3000 ms
    def boxBE(tpe: String, body: Array[Byte]): Array[Byte] =
      java.nio.ByteBuffer.allocate(8 + body.length)
        .putInt(8 + body.length).put(tpe.getBytes("US-ASCII")).put(body).array()
    val mvhd1 = { val bb = java.nio.ByteBuffer.allocate(112)
      bb.put(0, 1.toByte); bb.putInt(20, 600); bb.putLong(24, 1800L); bb.array() }
    val tkhd1 = { val bb = java.nio.ByteBuffer.allocate(96)
      bb.put(0, 1.toByte); bb.putInt(88, 100 << 16); bb.putInt(92, 50 << 16); bb.array() }
    val moov1 = boxBE("moov", boxBE("mvhd", mvhd1) ++ boxBE("trak", boxBE("tkhd", tkhd1)))
    assert(Multimodal.mp4Meta(moov1).sameElements(Array(3000L, 1L, 100L, 50L)))
    // 64-bit largesize box (size field = 1) ahead of the moov
    val big = java.nio.ByteBuffer.allocate(24)
      .putInt(1).put("mdat".getBytes("US-ASCII")).putLong(24L).putLong(0xdeadL).array()
    assert(Multimodal.mp4Meta(big ++ moov1).sameElements(Array(3000L, 1L, 100L, 50L)))
    // non-media payloads -> null, not garbage
    assert(Multimodal.mp3Meta("plain text content".getBytes) == null)
    assert(Multimodal.mp4Meta("plain text content".getBytes) == null)
    assert(Multimodal.mp3Meta(null) == null && Multimodal.mp4Meta(null) == null)
    // mp3 walk survives a truncated final frame (header counted, walk ends)
    val cut = Multimodal.plantedMp3(1L, 10)
    assert(Multimodal.mp3Meta(cut.take(cut.length - 300))(0) >= 9L)
  }

  test("mp4SampleIndex: stss/stsz sample tables, fixed-size stsz, absent stss, fuzz") {
    import graft.pipeline.Multimodal
    // planted closed forms: n = 30 + (id%7)*10 samples, sync every 5 + id%4
    for (id <- Seq(0L, 25L, 75L, 325L)) {
      val n = 30 + (id % 7).toInt * 10
      val g = 5 + (id % 4).toInt
      val sizes = (0 until n).map(k => 200L + (id * 11 + k * 17) % 100)
      val got = Multimodal.mp4SampleIndex(Multimodal.plantedMp4Indexed(id))
      assert(got.sameElements(Array(n.toLong, sizes.sum, sizes.min, sizes.max,
        (1 + (n - 1) / g).toLong, if (1 + (n - 1) / g >= 2) g.toLong else 0L)), s"id=$id")
    }
    def boxBE(tpe: String, body: Array[Byte]): Array[Byte] =
      java.nio.ByteBuffer.allocate(8 + body.length)
        .putInt(8 + body.length).put(tpe.getBytes("US-ASCII")).put(body).array()
    // constant-size stsz (sample_size != 0, no table) and NO stss:
    // every sample is a sync sample, gap 1
    val stszFixed = java.nio.ByteBuffer.allocate(12)
      .putInt(0).putInt(512).putInt(40).array()
    val fixed = boxBE("moov", boxBE("trak", boxBE("mdia", boxBE("minf",
      boxBE("stbl", boxBE("stsz", stszFixed))))))
    assert(Multimodal.mp4SampleIndex(fixed)
      .sameElements(Array(40L, 512L * 40, 512L, 512L, 40L, 1L)))
    // no sample table at all -> null; corrupt size fields stop the walk
    assert(Multimodal.mp4SampleIndex(Multimodal.plantedMp4(7L, 320, 240, 1000)) == null)
    assert(Multimodal.mp4SampleIndex("plain text content".getBytes) == null)
    assert(Multimodal.mp4SampleIndex(null) == null)
    // stsz whose declared count overruns its box is ignored, not read OOB
    val stszBad = java.nio.ByteBuffer.allocate(12)
      .putInt(0).putInt(0).putInt(1000).array()
    val bad = boxBE("moov", boxBE("trak", boxBE("mdia", boxBE("minf",
      boxBE("stbl", boxBE("stsz", stszBad))))))
    assert(Multimodal.mp4SampleIndex(bad) == null)
  }

  test("mp3FrameStats: VBR bitrate envelope closed form, ID3v2.4 footer skipped") {
    import graft.pipeline.Multimodal
    val br = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    for (id <- Seq(0L, 7L, 42L); frames <- Seq(1, 14, 100)) {
      val kbps = (0 until frames).map(f => br(1 + ((id * 3 + f * 5L) % 14).toInt))
      val s = Multimodal.mp3FrameStats(Multimodal.plantedMp3Vbr(id, frames))
      assert(s(0) == frames && s(1) == 44100L, s"id=$id frames=$frames")
      assert(s(2) == kbps.map(_.toLong).sum && s(3) == kbps.min && s(4) == kbps.max)
      assert(s(5) == kbps.count(_ == kbps.min))
      assert(s(6) == frames.toLong * 1152 * 1000 / 44100)
    }
    // CBR stream: envelope collapses (min = max, every frame "silentish")
    val c = Multimodal.mp3FrameStats(Multimodal.plantedMp3(42L, 20))
    assert(c(3) == 128L && c(4) == 128L && c(5) == 20L)
    // same null/fuzz posture as mp3Meta
    assert(Multimodal.mp3FrameStats("plain text".getBytes) == null)
    assert(Multimodal.mp3FrameStats(null) == null)
  }

  test("AviDecoder: real uncompressed-AVI byte parse with exact planted stats") {
    import graft.pipeline.Multimodal
    val dec = new Multimodal.AviDecoder
    // odd width (5 px -> 16-byte padded DIB rows) exercises row padding;
    // channel c of (x,y,f) = (7*7 + 3x + 5y + 17f + 11c) % 256
    val (w, h, nf) = (5, 4, 3)
    def ch(c: Int) = (for (f <- 0 until nf; y <- 0 until h; x <- 0 until w)
      yield (49 + 3 * x + 5 * y + 17 * f + 11 * c) % 256).sum
    val f = dec.decode("video", Multimodal.plantedAvi(7L, w, h, nf, 25), 8)
    assert(f(0) == w.toFloat && f(1) == h.toFloat && f(2) == nf.toFloat)
    assert(f(3) == 25f)
    assert(f(4) == ch(0).toFloat && f(5) == ch(1).toFloat && f(6) == ch(2).toFloat)
    assert(f(7) == 120f) // 3 frames / 25 fps = 120 ms
    // garbage and truncation -> null, never partial features
    assert(dec.decode("video", "RIFFxxxxAVI corrupt".getBytes, 8) == null)
    assert(dec.decode("video", Multimodal.plantedAvi(7L, w, h, nf).take(80), 8) == null)
    assert(dec.decode("audio", Multimodal.plantedAvi(7L, w, h, nf), 8) == null)
  }

  test("gridNearDuplicates equals the exhaustive near-dup join (recall 1)") {
    import spark.implicits._
    // random unit vectors + planted perturbed copies: the staggered-grid
    // epsilon-join is EXACT, so its output must equal the all-pairs form
    val rnd = new scala.util.Random(123)
    val dim = 16
    val base = (0L until 120L).map { id =>
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (id, v.map(_ / n))
    }
    val dups = base.filter(_._1 % 10 == 0).map { case (id, v) =>
      (id + 1000L, v.zipWithIndex.map { case (x, i) => x * (1.0 + 0.001 * ((i % 5) - 2)) })
    }
    // EXACT clones exercise the collapse front: classes of 3 identical
    // vectors must expand to the same pairs the uncollapsed join finds
    val clones = base.filter(_._1 % 15 == 0).flatMap { case (id, v) =>
      Seq((id + 2000L, v), (id + 3000L, v))
    }
    val df = (base ++ dups ++ clones).toDF("id", "v")
    val grid = Similarity.gridNearDuplicates(df, "id", "v", 0.98, dim)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.cosineNearDuplicates(df, "id", "v", 0.98)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(grid == exact)
    assert(dups.forall { case (dupId, _) => grid.contains((dupId - 1000L, dupId)) })
    // the plan must not contain an unbucketed cross product: candidate join
    // is keyed on the cell struct
    val plan = Similarity.gridNearDuplicates(df, "id", "v", 0.98, dim)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("SPI pipeline: standardized output is centred and clipped") {
    import spark.implicits._
    // gamma-ish positive daily series over 120 days, one location
    val rng = new scala.util.Random(7)
    val vals = Seq.fill(120)(math.pow(rng.nextDouble() + 0.2, 2) * 10)
    val df = daily(vals)
    val out = graft.indices.Standardized.spi(df, Seq("location_id"), "time", "value", 3)
    val spis = out.select("spi").collect().map(_.getDouble(0))
    assert(spis.length == 118)
    assert(spis.forall(s => s >= -8.21 && s <= 8.21))
    val mean = spis.sum / spis.length
    assert(math.abs(mean) < 0.3, s"SPI mean should be near 0, got $mean")
    // monotone: larger accumulation -> larger spi
    val pairs = out.select("accumulated", "spi").collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).sortBy(_._1)
    assert(pairs.sliding(2).forall(p => p(1)._2 >= p(0)._2 - 1e-12))
  }

  test("hourly temperature upsampling: 24 rows, bounded by tasmin/tasmax") {
    import spark.implicits._
    val df = Seq((0L, 10.0, 20.0)).toDF("location_id", "tasmin", "tasmax")
    val out = graft.indices.Converters.hourlyTemperature(df, "tasmin", "tasmax")
    assert(out.count() == 24)
    val temps = out.select("hour", "tas_hourly").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(temps.values.forall(t => t >= 10.0 - 1e-9 && t <= 20.0 + 1e-9))
    assert(math.abs(temps(12) - 20.0) < 1e-9)  // solar-noon peak
    assert(temps(3) < 12.0)                    // cool night
  }

  test("frequency analysis: gamma return levels are ordered and bracket the data") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    // 40 years of daily-ish values; block maxima cluster near the upper tail
    val rows = for (y <- 0 until 40; d <- 0 until 50) yield
      (0L, java.sql.Timestamp.valueOf(java.time.LocalDate.of(1960 + y, 6, 1)
        .plusDays(d).atStartOfDay), math.pow(rng.nextDouble(), 0.3) * 100.0)
    val df = rows.toDF("location_id", "time", "value")
    val out = Seq(2.0, 20.0, 100.0).map { t =>
      graft.indices.FrequencyAnalysis.returnLevel(df, Seq("location_id"),
        col("time"), col("value"), t).head.getAs[Double]("return_level")
    }
    assert(out(0) < out(1) && out(1) < out(2), s"return levels must increase: $out")
    // 2-year level sits inside the annual-max range; the MLE fit is sane
    assert(out(0) > 80.0 && out(0) < 110.0, s"2-year level implausible: ${out(0)}")
  }

  test("agro: corn heat units and Utah chill bands") {
    import spark.implicits._
    val df = Seq((10.0, 25.0)).toDF("tasmin", "tasmax")
    val chu = df.select(graft.indices.Agro.cornHeatUnits(col("tasmin"), col("tasmax")))
      .head.getDouble(0)
    // ymin = 1.8*(10-4.44)=10.008; ymax = 3.33*15 - 0.084*225 = 31.05
    assert(math.abs(chu - (10.008 + 31.05) / 2) < 1e-9)
    val w = Seq(0.0, 2.0, 5.0, 11.0, 14.0, 17.0, 25.0).toDF("t")
      .select(graft.indices.Agro.utahChillWeight(col("t")))
      .collect().map(_.getDouble(0)).toSeq
    assert(w == Seq(0.0, 0.5, 1.0, 0.5, 0.0, -0.5, -1.0))
    // full pipeline: one cool day accumulates positive chill
    val day = Seq((0L, 2.0, 8.0)).toDF("location_id", "tasmin", "tasmax")
    val cu = graft.indices.Agro.chillUnitsUtah(day, Seq("location_id"))
      .head.getDouble(1)
    assert(cu > 12.0, s"cool day should accumulate chill, got $cu")
  }

  test("analog sample metrics: identical vs shifted candidate") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val tgt = Array.fill(40)(Array(rng.nextGaussian(), rng.nextGaussian()))
    val same = tgt.map(v => ("same", Seq(v(0), v(1))))
    val far = Array.fill(40)(Array(rng.nextGaussian() + 8, rng.nextGaussian() + 8))
      .map(v => ("far", Seq(v(0), v(1))))
    val cand = (same ++ far).toSeq.toDF("g", "features")
    val got = graft.analog.Analog.sampleMetrics(cand, "g", "features", tgt)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(math.abs(got("same")._1) < 0.05)        // identical sample -> ~0
    assert(got("far")._1 > 5.0)                    // shifted -> large energy
    assert(got("same")._2 < 0.7)                   // mixed neighbourhoods
    assert(got("far")._2 > 0.95)                   // pure candidate cluster
    assert(got("same")._3 > 0.3)                   // FR: well-mixed MST
    assert(got("far")._3 < 0.05)                   // FR: single bridge edge
  }

  test("SparkEntry smoke at sf0.001: every query executes") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n >= 0, s"$name failed")
    }
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("query registry rejects a name declared twice") {
    import graft.queries.Query
    val q = Query("q_twice", (s, _) => s.range(1).toDF(), "select 1")
    val e = intercept[IllegalArgumentException](
      Query.registry(Seq(q, Query("q_once", q.plan, q.oracle), q)))
    assert(e.getMessage.contains("q_twice") && !e.getMessage.contains("q_once"),
      e.getMessage)
  }

  test("solar helpers: sun distance, time correction, day-length coefficients") {
    import spark.implicits._
    import graft.indices.Converters
    val df = Seq(("2000-01-03", 3, 366), ("2000-07-03", 185, 366))
      .toDF("d", "doy", "diy").withColumn("d", col("d").cast("date"))
    val r = df.select(
      Converters.distanceFromSun(col("d")).as("au"),
      Converters.timeCorrectionForSolarAngle(col("doy"), col("diy")).as("tc")).collect()
    // perihelion (early Jan) ~0.983 AU, aphelion (early Jul) ~1.017 AU
    assert(math.abs(r(0).getDouble(0) - 0.983) < 0.002)
    assert(math.abs(r(1).getDouble(0) - 1.0167) < 0.002)
    // equation of time stays within +-17 minutes = +-0.0742 rad
    assert(r.forall(x => math.abs(x.getDouble(1)) < 0.075))
    // day-length latitude coefficients grow with latitude; floor at 1
    val k = Seq((30.0, 48.0)).toDF("lo", "hi").select(
      Converters.jonesDayLengthCoefficient(col("lo")).as("k30"),
      Converters.jonesDayLengthCoefficient(col("hi")).as("k48"),
      Converters.gladstonesDayLengthCoefficient(col("hi")).as("g48")).head
    assert(k.getDouble(1) > k.getDouble(0))
    assert(k.getDouble(0) >= 1.0 && k.getDouble(2) >= 1.0)
  }

  test("parametric densities integrate against known values") {
    import spark.implicits._
    import graft.indices.Distributions
    val r = Seq((1.0)).toDF("x").select(
      Distributions.gammaPdf(col("x"), lit(1.0), lit(1.0)).as("g"),   // exp(-1)
      Distributions.normPdf(lit(0.0), lit(0.0), lit(1.0)).as("n"),    // 1/sqrt(2pi)
      Distributions.lognormPdf(lit(1.0), lit(1.0), lit(0.0)).as("ln") // 1/sqrt(2pi)
    ).head
    assert(math.abs(r.getDouble(0) - math.exp(-1.0)) < 1e-10)
    assert(math.abs(r.getDouble(1) - 1.0 / math.sqrt(2 * math.Pi)) < 1e-12)
    assert(math.abs(r.getDouble(2) - 1.0 / math.sqrt(2 * math.Pi)) < 1e-12)
  }
}
