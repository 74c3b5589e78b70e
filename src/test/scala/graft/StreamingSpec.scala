package graft

import graft.streaming.StatefulSessions
import graft.streaming.StatefulSessions.{ClosedSession, Ev}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming behavior: stateful sessionization across
  * micro-batches, and SQL registration of the native expressions. */
class StreamingSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("flatMapGroupsWithState sessions close across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val sessions = StatefulSessions.sessionize(input.toDS(), gapMicros = 60L * 1000000)
    val q = sessions.writeStream
      .format("memory").queryName("closed_sessions").outputMode("append").start()
    try {
      // batch 1: three events within the gap -> session stays open
      input.addData(Ev(1, 0), Ev(1, 10000000), Ev(1, 20000000))
      q.processAllAvailable()
      assert(spark.table("closed_sessions").count() == 0)
      // batch 2: an event far beyond the gap closes the first session
      input.addData(Ev(1, 3600L * 1000000))
      q.processAllAvailable()
      val closed = spark.table("closed_sessions").as[ClosedSession].collect()
      assert(closed.length == 1)
      assert(closed.head.nEvents == 3)
      assert(closed.head.durationMicros == 20000000)
    } finally q.stop()
  }

  test("streaming spells: runs close across micro-batch boundaries like batch Runs") {
    import graft.streaming.StatefulSpells
    import graft.streaming.StatefulSpells.{ClosedSpell, Obs}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Obs]
    val q = StatefulSpells.spells(input.toDS(), minLength = 2).writeStream
      .format("memory").queryName("closed_spells").outputMode("append").start()
    try {
      // batch 1: entity 1 run of 2 still open at the boundary; entity 2
      // closes a length-3 run inside the batch
      input.addData(Obs(1, 10, cond = true), Obs(1, 11, cond = true),
        Obs(2, 5, cond = true), Obs(2, 6, cond = true), Obs(2, 7, cond = true),
        Obs(2, 8, cond = false))
      q.processAllAvailable()
      val afterB1 = spark.table("closed_spells").as[ClosedSpell].collect()
      assert(afterB1.toSet == Set(ClosedSpell(2, 5, 3)))
      // batch 2: entity 1 CONTINUES the run across the boundary (12, 13)
      // then breaks it; a length-1 run (t=20) falls under minLength
      input.addData(Obs(1, 12, cond = true), Obs(1, 13, cond = true),
        Obs(1, 14, cond = false), Obs(1, 20, cond = true), Obs(1, 21, cond = false))
      q.processAllAvailable()
      val afterB2 = spark.table("closed_spells").as[ClosedSpell].collect()
      assert(afterB2.toSet == Set(ClosedSpell(2, 5, 3), ClosedSpell(1, 10, 4)))
      // an observation GAP (t jumps) closes the current run
      input.addData(Obs(2, 100, cond = true), Obs(2, 101, cond = true))
      input.addData(Obs(2, 200, cond = true))
      q.processAllAvailable()
      val afterB3 = spark.table("closed_spells").as[ClosedSpell].collect()
      assert(afterB3.toSet ==
        Set(ClosedSpell(2, 5, 3), ClosedSpell(1, 10, 4), ClosedSpell(2, 100, 2)))
      // batch equivalence on the gap-free prefix (batch runTable treats
      // consecutive ROWS as runs; the gap semantics above is the streaming
      // kernel's extra contiguity contract on sparse step indices)
      val gapFree = Seq((1L, 10L, true), (1L, 11L, true), (1L, 12L, true),
        (1L, 13L, true), (1L, 14L, false), (1L, 20L, true), (1L, 21L, false),
        (2L, 5L, true), (2L, 6L, true), (2L, 7L, true), (2L, 8L, false))
        .toDF("entityId", "t", "cond")
      val batch = graft.core.Runs.runTable(gapFree, Seq("entityId"),
          org.apache.spark.sql.functions.col("t"),
          org.apache.spark.sql.functions.col("cond"))
        .filter("run_len >= 2")
        .select("entityId", "run_start", "run_len").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch == afterB2.map(c => (c.entityId, c.startT, c.length.toLong)).toSet)
    } finally q.stop()
  }

  test("streaming CFFWIS equals the batch kernel across micro-batch splits") {
    import graft.streaming.StatefulFire
    import graft.streaming.StatefulFire.{FireCodes, WxObs}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // deterministic 20-day weather for two stations (one wet, one dry)
    def wx(key: Long): Seq[WxObs] = (0 until 20).map { i =>
      WxObs(key, i, temp = 12.0 + (i % 9) + key, rain = if ((i + key) % 5 == 0) 6.5 else 0.0,
        wind = 15.0 + (i % 4), hum = 40.0 + (i % 30), mth = 6, lat = 46.0)
    }
    val all = wx(1) ++ wx(2)
    val input = MemoryStream[WxObs]
    val q = StatefulFire.codes(input.toDS()).writeStream
      .format("memory").queryName("fire_codes").outputMode("append").start()
    try {
      // feed the same days in three uneven micro-batches: the moisture
      // codes must carry across boundaries
      input.addData(all.filter(_.t < 4))
      q.processAllAvailable()
      input.addData(all.filter(o => o.t >= 4 && o.t < 13))
      q.processAllAvailable()
      input.addData(all.filter(_.t >= 13))
      q.processAllAvailable()
      val streamed = spark.table("fire_codes").as[FireCodes].collect()
        .map(c => (c.key, c.t) -> (c.ffmc, c.dmc, c.dc)).toMap
      val batch = graft.indices.Fire.cffwisCodes(
          all.toDF("key", "t", "temp", "rain", "wind", "hum", "mth", "lat"))
        .collect().map(r => (r.getLong(0), r.getInt(1)) ->
          (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
      assert(streamed.size == 40 && streamed == batch)
      // codes actually evolved (the recursion is live, not constant)
      assert(streamed((1L, 19)) != streamed((1L, 0)))
    } finally q.stop()
  }

  test("sliding windows, watermarked stream dedup, stream-static join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (id, ts-seconds, type, value); id 2 duplicated within the watermark
    val input = MemoryStream[(Long, Long, String, Double)]
    val events = input.toDS()
      .toDF("event_id", "sec", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val dim = Seq(("view", 1.0), ("click", 5.0)).toDF("event_type", "weight")
    val out = graft.streaming.Streams.enrichWithDim(
      graft.streaming.Streams.dedupStream(events, "ts", Seq("event_id"), "10 minutes"),
      dim, Seq("event_type"))
    val q1 = out.writeStream.format("memory").queryName("dedup_enriched")
      .outputMode("append").start()
    try {
      input.addData((1L, 1000L, "view", 2.0), (2L, 1030L, "click", 3.0),
        (2L, 1040L, "click", 3.0)) // duplicate id within watermark
      q1.processAllAvailable()
      val rows = spark.table("dedup_enriched").collect()
      assert(rows.length == 2) // duplicate dropped
      val click = rows.find(_.getAs[String]("event_type") == "click").get
      assert(click.getAs[Double]("weight") == 5.0) // dim joined
    } finally q1.stop()
    // sliding windows: 2-min window sliding 1 min -> each event in 2 windows
    val input2 = MemoryStream[(Long, Long, String, Double)]
    val ev2 = input2.toDS().toDF("event_id", "sec", "event_type", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val slide = graft.streaming.Streams.slidingAgg(ev2, "ts", Seq("event_type"),
      "2 minutes", "1 minute")
    val q2 = slide.writeStream.format("memory").queryName("sliding")
      .outputMode("complete").start()
    try {
      input2.addData((1L, 90L, "view", 1.0)) // 01:30 -> windows [00:00,02:00) and [01:00,03:00)
      q2.processAllAvailable()
      val w = spark.table("sliding").collect()
      assert(w.length == 2 && w.forall(_.getAs[Long]("n") == 1L))
    } finally q2.stop()
  }

  test("streaming near-dup ingest equals batch exact-dedup + LSH candidates") {
    import spark.implicits._
    import graft.streaming.StatefulDedup
    import graft.streaming.StatefulDedup.{CandPair, Doc, ExactDup}
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(5)
    val vocab = Vector("sun", "rain", "snow", "wind", "heat", "cold", "dry", "wet", "fog")
    def doc(): String = Seq.fill(10)(vocab(rng.nextInt(vocab.length))).mkString(" ")
    val base = (0 until 12).map(i => Doc(i * 10L, doc()))
    // batch 2 re-sends exact copies and near-perturbations ACROSS the
    // micro-batch boundary, plus fresh docs
    val batch1 = base.take(8)
    val batch2 = Seq(
      Doc(900L, base(1).text),                   // exact dup of an old doc
      Doc(901L, base(2).text + " extra"),        // near-dup of an old doc
      Doc(902L, base(2).text + " extra")         // and its own exact twin
    ) ++ base.drop(8)
    val all = batch1 ++ batch2

    val inExact = MemoryStream[Doc]
    val qe = StatefulDedup.exactDedup(inExact.toDS()).writeStream
      .format("memory").queryName("exact_dups").outputMode("append").start()
    val inLsh = MemoryStream[Doc]
    val ql = StatefulDedup.lshCandidates(inLsh.toDS(), ngram = 2,
        numHashes = 16, bands = 16).writeStream
      .format("memory").queryName("lsh_cands").outputMode("append").start()
    try {
      inExact.addData(batch1); qe.processAllAvailable()
      inLsh.addData(batch1); ql.processAllAvailable()
      inExact.addData(batch2); qe.processAllAvailable()
      inLsh.addData(batch2); ql.processAllAvailable()

      // exact dedup: keeper = first-seen (= min id under id-ordered ingest)
      val got = spark.table("exact_dups").as[ExactDup].collect()
        .map(e => e.docId -> e.keeperId).toMap
      val batchKeepers = graft.pipeline.Dedup
        .exactGroups(all.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got.size == all.size)
      assert(got(900L) == base(1).docId && got(901L) == 901L && got(902L) == 901L)
      assert(got.values.toSet == batchKeepers.values.toSet)

      // LSH candidates: cumulative stream output == batch candidates
      val streamPairs = spark.table("lsh_cands").as[CandPair].collect()
        .map(p => (p.idA, p.idB)).toSet
      val batchPairs = graft.pipeline.Dedup
        .minhashCandidates(all.toDF("doc_id", "text"), "doc_id", "text",
          ngram = 2, numHashes = 16, bands = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamPairs == batchPairs)
      assert(streamPairs.contains((base(1).docId, 900L))) // cross-batch exact dup
      assert(streamPairs.contains((901L, 902L)))          // within-batch-2 twin
    } finally { qe.stop(); ql.stop() }
  }

  test("composed ingest routes only first-seen contents into LSH; state distinct-bound") {
    import spark.implicits._
    import graft.streaming.StatefulDedup
    import graft.streaming.StatefulDedup.{CandPair, Doc}
    implicit val sqlCtx = spark.sqlContext
    // duplicate-HEAVY stream: 6 distinct contents (2 of them near-dups of
    // each other), each re-sent 10x under fresh ids across two batches
    val contents = Vector(
      "sun rain snow wind heat cold",
      "sun rain snow wind heat frost",   // near-dup of [0]
      "dry wet fog mist haze dew",
      "alpha beta gamma delta eps zeta",
      "one two three four five six",
      "red green blue cyan pink grey")
    val docs = for (rep <- 0 until 10; c <- contents.indices)
      yield Doc(rep * 100L + c, contents(c))
    val (batch1, batch2) = docs.splitAt(docs.length / 2)

    val in = MemoryStream[Doc]
    val q = StatefulDedup.ingest(in.toDS(), ngram = 2, numHashes = 16, bands = 16)
      .writeStream.format("memory").queryName("ingest_cands")
      .outputMode("append").start()
    try {
      in.addData(batch1); q.processAllAvailable()
      in.addData(batch2); q.processAllAvailable()
      val streamPairs = spark.table("ingest_cands").as[CandPair].collect()
        .map(p => (p.idA, p.idB)).toSet
      // batch twin: LSH candidates over the exact-collapse front (keeper =
      // min id per distinct content, ids 0..5 here)
      val keepers = contents.indices.map(c => (c.toLong, contents(c)))
      val batchPairs = graft.pipeline.Dedup
        .minhashCandidates(keepers.toDF("doc_id", "text"), "doc_id", "text",
          ngram = 2, numHashes = 16, bands = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamPairs == batchPairs)
      assert(streamPairs.contains((0L, 1L))) // the near-dup pair, keepers only
      // no pair may touch a non-keeper id: 60 docs collapsed to 6 keepers
      assert(streamPairs.flatMap(p => Set(p._1, p._2)).forall(_ < contents.length))
      // state is DISTINCT-CONTENT-bound, not stream-length-bound: exact
      // state one row per content, band state ≤ contents x bands buckets,
      // pair-dedup state one row per emitted pair
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      val bound = contents.length * (16 + 1) + streamPairs.size
      assert(stateRows <= bound, s"state rows $stateRows > bound $bound")
      assert(stateRows < docs.length * 16L) // far under the unrouted shape
    } finally q.stop()
  }

  test("native expressions usable from SQL after registration") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "select simhash64(array('spark','engine')) sh, gamma_cdf(2.0, 1.0) g, probit(0.975) p")
      .head
    assert(r.getLong(0) != 0L)
    assert(math.abs(r.getDouble(1) - (1 - math.exp(-2.0))) < 1e-12)
    assert(math.abs(r.getDouble(2) - 1.959963984540054) < 1e-8)
    val r2 = spark.sql(
      "select log_gamma(5.0) lg, gamma_ppf(0.5, 1.0) gp, " +
        "minhash_sig(array(1L, 2L, 3L), 4) mh, utci_offset(20.0, 2.0, 1.0, 1.5) u")
      .head
    assert(math.abs(r2.getDouble(0) - math.log(24.0)) < 1e-10)
    assert(math.abs(r2.getDouble(1) - math.log(2.0)) < 1e-9) // exp(1) median
    assert(r2.getSeq[Long](2).length == 4)
    assert(r2.getDouble(3) > 15.0 && r2.getDouble(3) < 30.0)
    val r3 = spark.sql(
      "select float_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float))) fd").head
    assert(math.abs(r3.getDouble(0) - 11.0) < 1e-9)
    // r11 registrations: normalizers, generators, blocklist scan
    val r4 = spark.sql(
      "select winnow_normalize(' A b?9 ') wn, " +
        "lower_collapse_ws('A\tB  c') lc, " +
        "ac_scan('aa bb aa', array('aa', 'bb')).total_hits th").head
    assert(r4.getString(0) == "a b9")
    assert(r4.getString(1) == "a b c")
    assert(r4.getLong(2) == 3L)
    val r5 = spark.sql(
      "select collect_list(fp) from (select fp from " +
        "(select winnow_explode('abcdefghijklmnop', 5, 8) as (pos, fp)))")
      .head.getSeq[Long](0)
    assert(r5.nonEmpty)
    val r6 = spark.sql(
      "select (select count(*) from (select rolling_hash_explode('abcdef', 3) as (p, h))) nh, " +
        "(select count(*) from (select shingle_explode('abcdef', 3) as (s))) ns").head
    assert(r6.getLong(0) == 4L && r6.getLong(1) == 4L)
  }

  test("streaming heavy hitters: MG sketch under complete-mode aggregation") {
    // the TypedImperativeAggregate's serialize/merge path runs through the
    // streaming state store across micro-batches; with distinct keys <= k
    // the sketch is exact, so the final batch must carry true counts
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val agg = input.toDS().toDF("token")
      .agg(graft.functions.MisraGries.mgSketch(col("token"), 8).as("sk"))
      .select(explode(col("sk")).as("e"))
      .select(col("e.item").as("item"), col("e.lb").as("lb"))
    val q = agg.writeStream.format("memory").queryName("stream_mg")
      .outputMode("complete").start()
    try {
      input.addData("a", "b", "a")
      q.processAllAvailable()
      input.addData("a", "c", "b", "a")
      q.processAllAvailable()
      val got = spark.table("stream_mg").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("a" -> 4L, "b" -> 2L, "c" -> 1L), s"got $got")
    } finally q.stop()
  }

  test("streaming CUSUM equals the batch fold; alarms fire on the planted shift") {
    import graft.streaming.StatefulCusum
    import graft.streaming.StatefulCusum.{Alarm, Sample}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // key 1: mean shifts +4 at t=30 (alarm expected shortly after);
    // key 2: stationary (no alarm); deterministic pseudo-noise
    def series(key: Long): Seq[Sample] = (0 until 60).map { t =>
      val noise = ((t * 7 + key * 13) % 5) * 0.1
      val shift = if (key == 1 && t >= 30) 4.0 else 0.0
      Sample(key, t, 10.0 + noise + shift)
    }
    val all = series(1) ++ series(2)
    val (warm, slack, h) = (10, 0.5, 5.0)
    val input = MemoryStream[Sample]
    val q = StatefulCusum.detect(input.toDS(), warm, slack, h).writeStream
      .format("memory").queryName("cusum_alarms").outputMode("append").start()
    try {
      input.addData(all.filter(_.t < 25))
      q.processAllAvailable()
      input.addData(all.filter(s => s.t >= 25 && s.t < 33))
      q.processAllAvailable()
      input.addData(all.filter(_.t >= 33))
      q.processAllAvailable()
      val streamed = spark.table("cusum_alarms").as[Alarm].collect()
        .sortBy(a => (a.key, a.t)).toSeq
      val batch = StatefulCusum.detectBatch(all.toDS(), warm, slack, h)
        .collect().sortBy(a => (a.key, a.t)).toSeq
      assert(streamed == batch, s"stream $streamed vs batch $batch")
      assert(streamed.exists(a => a.key == 1L && a.direction == "up" && a.t >= 30),
        s"shift at t=30 must alarm: $streamed")
      assert(!streamed.exists(_.key == 2L), "stationary key must stay silent")
    } finally q.stop()
  }

  test("CUSUM step drops out-of-order samples instead of folding them") {
    import graft.streaming.StatefulCusum
    // the per-key time-order contract is enforced, not assumed: a sample
    // with t <= lastT must leave the state untouched and raise nothing
    val (warm, slack, h) = (2, 0.5, 5.0)
    var st = StatefulCusum.Start
    for (t <- 0 until 6) st = StatefulCusum.step(st, t, 10.0 + t % 2,
      warm, slack, h)._1
    val before = st
    val (after, alarm) = StatefulCusum.step(st, 3, 999.0, warm, slack, h)
    assert(after == before, "stale sample must not mutate state")
    assert(alarm.isEmpty, "stale sample must not alarm")
    // equal t is also stale (strictly increasing contract)
    assert(StatefulCusum.step(st, 5, 999.0, warm, slack, h)._1 == before)
  }

  test("streaming media ingest: EXIF extraction runs stateless under readStream") {
    // the media-metadata kernels are narrow mapPartitions projections, so
    // they must run unchanged in a streaming ingest (append, no state)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Long]
    val mk = udf((id: Long) =>
      graft.pipeline.Multimodal.plantedExifJpeg(id, 64, 48))
    val q = graft.pipeline.Multimodal.extractExifMeta(
        input.toDS().toDF("media_id")
          .withColumn("payload", mk(col("media_id"))))
      .writeStream.format("memory").queryName("stream_exif")
      .outputMode("append").start()
    try {
      input.addData(1L, 2L)
      q.processAllAvailable()
      input.addData(3L)
      q.processAllAvailable()
      val got = spark.table("stream_exif").collect()
        .map(r => (r.getLong(0), r.getInt(2), r.getString(3))).sortBy(_._1).toSeq
      assert(got == Seq((1L, 2, "cam1"), (2L, 3, "cam2"), (3L, 4, "cam3")),
        s"got $got")
    } finally q.stop()
  }

  test("streaming ingest gate: quality flags + split assignment equal batch") {
    // the cleaning front of a streaming ingest pipeline — Gopher quality
    // rules and hash-band split assignment are pure narrow projections,
    // so they must run unchanged under readStream (append mode, no state)
    // and agree row-for-row with the batch path
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "- bullet\n- bullet\nshort"),
      (3L, "### ## # symbols everywhere ## #"),
      (4L, Seq.fill(40)("steady flow of ordinary prose with the usual words").mkString(" ")))
    def gate(df: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Sampling.splitAssign(
          graft.pipeline.TextStats.gopherQualityFlags(df, "doc_id", "text",
            minWords = 5, minStopwords = 1),
          col("doc_id"), Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)))
        .select(col("doc_id"), col("n_words"), col("keep"), col("split"))
    val input = MemoryStream[(Long, String)]
    val q = gate(input.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("stream_gate")
      .outputMode("append").start()
    try {
      input.addData(docs.take(2): _*)
      q.processAllAvailable()
      input.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("stream_gate").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2), r.getString(3)))
        .sortBy(_._1).toSeq
      val batch = gate(docs.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2), r.getString(3)))
        .sortBy(_._1).toSeq
      assert(got == batch, s"stream $got vs batch $batch")
      assert(batch.map(_._3).contains(true) && batch.map(_._3).contains(false))
    } finally q.stop()
  }

  test("streaming blocklist gate: Aho-Corasick scan runs stateless under readStream") {
    // the blocklist filter is a narrow per-row projection, so it must run
    // unchanged in a streaming ingest (append mode, no state) and agree
    // with the batch path row-for-row
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pats = Seq("bad phrase", "spam", "a a")
    def gate(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"),
        graft.functions.AhoCorasick.acScan(lower(col("text")), pats).as("ac"))
      .select(col("doc_id"), col("ac.total_hits").as("hits"),
        (col("ac.total_hits") === 0).as("keep"))
    val docs = Seq((1L, "clean text only"), (2L, "some Bad Phrase here"),
      (3L, "spam spam a a a"), (4L, "Spam at the start"))
    val input = MemoryStream[(Long, String)]
    val q = gate(input.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("stream_blocklist")
      .outputMode("append").start()
    try {
      input.addData(docs.take(2): _*)
      q.processAllAvailable()
      input.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("stream_blocklist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
      val batch = gate(docs.toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
      assert(got == batch, s"stream $got vs batch $batch")
      // "spam spam a a a": 2x spam + overlapping "a a" twice = 4 hits
      assert(got.find(_._1 == 3L).get._2 === 4L)
      assert(got.map(_._3) === Seq(true, false, false, false))
    } finally q.stop()
  }

  test("streaming HLL registers: complete-mode sketch equals batch") {
    // the production shape for streaming cardinality: the REGISTER table
    // is the streaming aggregate (one groupBy, complete mode — max is
    // order-free so late/re-ordered batches can't change the result);
    // the estimate is a batch read over the register store, since
    // chained streaming aggregations are not allowed
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val vals = (1 to 4000).map(i => ("g", s"item_${i % 1700}"))
    val input = MemoryStream[(String, String)]
    val q = graft.pipeline.Sketches
      .hllRegisters(input.toDS().toDF("grp", "v"), "grp", "v")
      .writeStream.format("memory").queryName("stream_hll")
      .outputMode("complete").start()
    try {
      input.addData(vals.take(2500): _*)
      q.processAllAvailable()
      input.addData(vals.drop(2500): _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_hll")
        .select("grp", "bucket", "r").orderBy("bucket").collect().toSeq
      val batch = graft.pipeline.Sketches
        .hllRegisters(vals.toDF("grp", "v"), "grp", "v")
        .select("grp", "bucket", "r").orderBy("bucket").collect().toSeq
      assert(streamed === batch)
      val est = graft.pipeline.Sketches
        .hllEstimate(spark.table("stream_hll")).collect().head.getDouble(4)
      assert(math.abs(est - 1700) / 1700.0 < 0.15, s"estimate $est")
    } finally q.stop()
  }

  test("streaming CMS counters: complete-mode sketch equals batch") {
    // counters are order-free integer sums, so the streaming aggregate
    // converges to the batch sketch regardless of batch boundaries
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val vals = (1 to 3000).map(i => ("g", s"tok_${i % 400}"))
    val input = MemoryStream[(String, String)]
    val q = graft.pipeline.Sketches
      .cmsCounters(input.toDS().toDF("grp", "v"), "grp", "v")
      .writeStream.format("memory").queryName("stream_cms")
      .outputMode("complete").start()
    try {
      input.addData(vals.take(1300): _*)
      q.processAllAvailable()
      input.addData(vals.drop(1300): _*)
      q.processAllAvailable()
      val streamed = spark.table("stream_cms")
        .orderBy("d", "idx").collect().toSeq
      val batch = graft.pipeline.Sketches
        .cmsCounters(vals.toDF("grp", "v"), "grp", "v")
        .orderBy("d", "idx").collect().toSeq
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming URL frontier admits one fetch per canonical URL across batches") {
    import spark.implicits._
    import graft.streaming.StatefulDedup
    import graft.streaming.StatefulDedup.{Fetch, FrontierDecision}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Fetch]
    val q = StatefulDedup.urlFrontier(in.toDS()).writeStream
      .format("memory").queryName("frontier").outputMode("append").start()
    try {
      // batch 1: two pages, each under two spellings (within-batch dups)
      in.addData(Seq(
        Fetch(1L, "HTTP://A.Example.COM:80/x/../p?utm_source=s&k=1"),
        Fetch(2L, "http://a.example.com/p?k=1"),
        Fetch(3L, "https://b.example.com/q"),
        Fetch(4L, "HTTPS://B.EXAMPLE.COM:443/q#frag")))
      q.processAllAvailable()
      // batch 2: a third spelling of page p (cross-batch dup) + a new page
      in.addData(Seq(
        Fetch(5L, "http://a.example.com:80/./p?k=1&gclid=z"),
        Fetch(6L, "http://c.example.com/r")))
      q.processAllAvailable()
      val got = spark.table("frontier").as[FrontierDecision].collect()
        .map(d => d.fetchId -> d).toMap
      assert(got.size == 6)
      assert(got(1L).isFirst && !got(2L).isFirst, "min fetchId wins in-batch")
      assert(got(1L).canonicalUrl == "http://a.example.com/p?k=1")
      assert(got(2L).canonicalUrl == got(1L).canonicalUrl)
      assert(got(3L).isFirst && !got(4L).isFirst)
      assert(!got(5L).isFirst, "cross-batch dup rejected by state")
      assert(got(5L).canonicalUrl == got(1L).canonicalUrl)
      assert(got(6L).isFirst)
      assert(got.values.count(_.isFirst) == 3, "three distinct pages admitted")
    } finally q.stop()
  }

  test("streaming MERGE into a bucketed snapshot equals sequential batch MERGE") {
    import spark.implicits._
    import graft.sources.Lake
    import graft.streaming.Streams
    val initial = (1L to 300L).map(k => (k, s"s$k", k * 1.0)).toDF("k", "s", "v")
    // cross-batch interactions force ordered application: b2 updates a row
    // b1 inserted, b3 deletes a row b2 updated and re-inserts a b3-fresh key
    val b1 = Seq((5L, "update", "U5", 50.0), (900L, "insert", "N900", 9.0),
      (7L, "delete", "x", 0.0)).toDF("k", "op", "s", "v")
    val b2 = Seq((900L, "update", "N900b", 99.0), (8L, "delete", "x", 0.0),
      (901L, "insert", "N901", 1.0),
      (5L, "insert", "MUSTNOOP", -1.0)).toDF("k", "op", "s", "v") // matched insert
    val b3 = Seq((901L, "delete", "x", 0.0), (902L, "insert", "N902", 2.0),
      (400L, "update", "nohit", 0.0), // unmatched update: no-op
      (5L, "update", "U5c", 55.0)).toDF("k", "op", "s", "v")
    val table = s"stream_merge_snap_${System.nanoTime()}"
    val streamed = Streams
      .mergeReplay(spark, initial, Seq(b1, b2, b3), table, "k", 8)
      .as[(Long, String, Double)].collect().toSet
    val batch = Seq(b1, b2, b3)
      .foldLeft(initial)((t, b) => Lake.merge(t, b, "k"))
      .as[(Long, String, Double)].collect().toSet
    assert(streamed === batch)
    assert(streamed.contains((5L, "U5c", 55.0)), "sequential updates chained")
    assert(streamed.contains((900L, "N900b", 99.0)), "b2 updated b1's insert")
    assert(!streamed.exists(_._1 == 901L), "b3 deleted b2's insert")
    assert(!streamed.exists(_._2 == "MUSTNOOP"), "matched insert did not fire")
    // idempotency = exactly-once table contents under foreachBatch's
    // at-least-once replay: re-applying the LAST batch changes nothing
    val replayed = Lake.merge(spark.table(table), b3, "k")
      .as[(Long, String, Double)].collect().toSet
    assert(replayed === streamed)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
  }

  test("versioned streaming MERGE: pointer swap, replay skip, crash heal, retention") {
    import spark.implicits._
    import graft.sources.{Lake, VersionedLake}
    import graft.streaming.Streams
    val initial = (1L to 300L).map(k => (k, s"s$k", k * 1.0)).toDF("k", "s", "v")
    val b1 = Seq((5L, "update", "U5", 50.0), (900L, "insert", "N900", 9.0),
      (7L, "delete", "x", 0.0)).toDF("k", "op", "s", "v")
    val b2 = Seq((900L, "update", "N900b", 99.0), (8L, "delete", "x", 0.0),
      (901L, "insert", "N901", 1.0),
      (5L, "insert", "MUSTNOOP", -1.0)).toDF("k", "op", "s", "v")
    val b3 = Seq((901L, "delete", "x", 0.0), (902L, "insert", "N902", 2.0),
      (400L, "update", "nohit", 0.0),
      (5L, "update", "U5c", 55.0)).toDF("k", "op", "s", "v")
    val root = tmpDir("graft_vlake_").toString
    val table = s"vlake_snap_${System.nanoTime()}"
    val streamed = Streams
      .mergeReplayVersioned(spark, initial, Seq(b1, b2, b3), root, table, "k", 8)
      .as[(Long, String, Double)].collect().toSet
    val batch = Seq(b1, b2, b3)
      .foldLeft(initial)((t, b) => Lake.merge(t, b, "k"))
      .as[(Long, String, Double)].collect().toSet
    assert(streamed === batch)
    // pointer: three applied batches → version 3, lastBatch 2
    val p = VersionedLake.readPointer(root).get
    assert(p.version == 3 && p.lastBatch == 2L, s"pointer $p")
    // retention (default 2): v0 dropped, v1..v3 kept
    assert(!spark.catalog.tableExists(VersionedLake.tableName(table, 0)))
    assert(spark.catalog.tableExists(VersionedLake.tableName(table, 2)))
    // at-least-once replay of an already-applied batchId is a wholesale
    // no-op: version does not advance, contents unchanged
    VersionedLake.applyBatch(b3, root, table, "k", 8, batchId = 2L)
    assert(VersionedLake.readPointer(root).get == p)
    assert(VersionedLake.current(spark, root, table)
      .as[(Long, String, Double)].collect().toSet === streamed)
    // crash between snapshot write and pointer swap: simulate by writing
    // an orphan v4 with GARBAGE contents and leaving the pointer at v3 —
    // the re-delivered batch must re-merge from v3 and OVERWRITE the
    // orphan, never expose it
    val b4 = Seq((902L, "update", "N902b", 22.0)).toDF("k", "op", "s", "v")
    Lake.writeBucketed(initial.limit(1), VersionedLake.tableName(table, 4), "k", 8, Seq("k"))
    VersionedLake.applyBatch(b4, root, table, "k", 8, batchId = 3L)
    val p4 = VersionedLake.readPointer(root).get
    assert(p4.version == 4 && p4.lastBatch == 3L, s"pointer $p4")
    val healed = VersionedLake.current(spark, root, table)
      .as[(Long, String, Double)].collect().toSet
    assert(healed === (streamed - ((902L, "N902", 2.0)) + ((902L, "N902b", 22.0))))
    // empty batch advances only the pointer (no snapshot write)
    VersionedLake.applyBatch(b4.limit(0), root, table, "k", 8, batchId = 4L)
    val p5 = VersionedLake.readPointer(root).get
    assert(p5.version == 4 && p5.lastBatch == 4L, s"pointer $p5")
    VersionedLake.destroy(spark, root, table)
  }

  test("versioned lake retention contract: exactly retain+1 snapshots, pointer always live") {
    import spark.implicits._
    import graft.sources.{VersionedLake => VL}
    val initial = (1L to 50L).map(k => (k, s"s$k", k * 1.0)).toDF("k", "s", "v")
    val root = tmpDir("graft_vlake_ret_").toString
    val table = s"vlake_ret_${System.nanoTime()}"
    VL.init(initial, root, table, "k", 4)
    for (b <- 0 until 6) {
      val ch = Seq((1000L + b, "insert", s"n$b", b * 1.0)).toDF("k", "op", "s", "v")
      VL.applyBatch(ch, root, table, "k", 4, batchId = b.toLong, retain = 1)
      // after EVERY batch: the pointer's version resolves and scans...
      val p = VL.readPointer(root).get
      assert(p.version == b + 1, s"batch $b pointer $p")
      assert(spark.catalog.tableExists(VL.tableName(table, p.version)))
      assert(VL.current(spark, root, table).count() == 50L + b + 1)
      // ...and exactly retain+1 = 2 snapshot versions survive — a
      // retention bug either leaks snapshots (storage grows per batch)
      // or deletes the live one (pointer dangles); this pins both
      val live = (0 to p.version)
        .filter(v => spark.catalog.tableExists(VL.tableName(table, v)))
      assert(live == Seq(p.version - 1, p.version), s"live snapshots $live")
    }
    // a replayed batchId from BEFORE the retention horizon still skips
    // wholesale via the pointer's lastBatch — retention never weakens
    // the exactly-once gate
    val replay = Seq((1L, "delete", "x", 0.0)).toDF("k", "op", "s", "v")
    val before = VL.readPointer(root).get
    VL.applyBatch(replay, root, table, "k", 4, batchId = 0L, retain = 1)
    assert(VL.readPointer(root).get == before)
    assert(VL.current(spark, root, table).count() == 56)
    // dropped versions' warehouse directories are gone (no storage leak)
    val warehouse = java.net.URI.create(
      spark.conf.get("spark.sql.warehouse.dir")).getPath
    val dirs = Option(new java.io.File(warehouse).listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(_.startsWith(table.toLowerCase))
    assert(dirs.length == 2, s"warehouse dirs: ${dirs.mkString(",")}")
    VL.destroy(spark, root, table)
  }

  test("versioned ADDITIVE sketch lake: streamed adds == whole; replay cannot double-count") {
    import spark.implicits._
    import graft.sources.{VersionedLake => VL}
    import graft.pipeline.Sketches
    val all = (1 to 400).map(i => ("g" + (i % 2), i * 1.3)).toDF("grp", "x")
    def slice(lo: Int, hi: Int) =
      (lo until hi).map(i => ("g" + (i % 2), i * 1.3)).toDF("grp", "x")
    val root = tmpDir("graft_ddlake_").toString
    val table = s"ddlake_${System.nanoTime()}"
    // streamed: init on [1,100), three batches add the rest
    val fin = graft.streaming.Streams.ddSketchReplayVersioned(spark,
      slice(1, 100), Seq(slice(100, 200), slice(200, 300), slice(300, 401)),
      root, table, "grp", "x", 4)
    def tbl(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("grp", "sign", "bucket")
        .as[(String, Int, Long, Long)].collect().toSeq
    assert(tbl(fin) === tbl(Sketches.ddHistogram(all, "grp", "x")),
      "init + streamed additive commits must equal the whole-input sketch")
    val p = VL.readPointer(root).get
    assert(p.version == 3 && p.lastBatch == 2L, s"pointer $p")
    // counter addition is NOT idempotent — the batchId gate is what
    // makes an at-least-once replay safe; re-apply batch 1 and pin that
    // nothing doubled
    VL.applyAdditiveBatch(Sketches.ddHistogram(slice(100, 200), "grp", "x"),
      root, table, Seq("grp", "sign", "bucket"), "cnt", 4, batchId = 1L)
    assert(VL.readPointer(root).get == p, "replay must not advance")
    assert(tbl(VL.current(spark, root, table)) ===
      tbl(Sketches.ddHistogram(all, "grp", "x")), "replay must not double-count")
    // an empty batch advances the gate without a snapshot rewrite
    VL.applyAdditiveBatch(
      Sketches.ddHistogram(slice(1, 1), "grp", "x"),
      root, table, Seq("grp", "sign", "bucket"), "cnt", 4, batchId = 7L)
    val p2 = VL.readPointer(root).get
    assert(p2.version == 3 && p2.lastBatch == 7L, s"pointer $p2")
    VL.destroy(spark, root, table)
  }

  test("applyAdditiveBatch is sketch-generic: CMS counters add == whole") {
    import spark.implicits._
    import graft.sources.{VersionedLake => VL}
    import graft.pipeline.Sketches
    def slice(lo: Int, hi: Int) =
      (lo until hi).map(i => ("g", s"tok${i % 37}")).toDF("grp", "v")
    val root = tmpDir("graft_cmslake_").toString
    val table = s"cmslake_${System.nanoTime()}"
    VL.init(Sketches.cmsCounters(slice(0, 300), "grp", "v", 4, 64),
      root, table, "grp", 2)
    VL.applyAdditiveBatch(Sketches.cmsCounters(slice(300, 700), "grp", "v", 4, 64),
      root, table, Seq("grp", "d", "idx"), "counter", 2, batchId = 0L)
    def tbl(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("grp", "d", "idx").as[(String, Int, Long, Long)].collect().toSeq
    assert(tbl(VL.current(spark, root, table)) ===
      tbl(Sketches.cmsCounters(slice(0, 700), "grp", "v", 4, 64)),
      "CMS counter addition through the versioned sink == whole-input sketch")
    VL.destroy(spark, root, table)
  }

  test("versioned BLOOM lake: streamed ORs == whole; OR idempotence survives a forced re-apply") {
    import spark.implicits._
    import graft.sources.{VersionedLake => VL}
    import graft.pipeline.Sketches
    def slice(lo: Int, hi: Int) =
      (lo until hi).map(i => ("g" + (i % 2), s"v$i")).toDF("grp", "v")
    val root = tmpDir("graft_bloomlake_").toString
    val table = s"bloomlake_${System.nanoTime()}"
    val fin = graft.streaming.Streams.bloomReplayVersioned(spark,
      slice(0, 500), Seq(slice(500, 1000), slice(1000, 1500)),
      root, table, "grp", "v", 4096, 3, 4)
    def tbl(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("grp", "word").as[(String, Long, Long)].collect().toSeq
    assert(tbl(fin) === tbl(Sketches.bloomBits(slice(0, 1500), "grp", "v", 4096, 3)))
    // FORCE a re-apply of batch 1 under a FRESH batchId (bypassing the
    // gate): OR idempotence must leave the contents identical anyway —
    // the property the additive sink does NOT have
    VL.applyOrBatch(Sketches.bloomBits(slice(500, 1000), "grp", "v", 4096, 3),
      root, table, Seq("grp", "word"), "bits", 4, batchId = 99L)
    assert(tbl(VL.current(spark, root, table)) ===
      tbl(Sketches.bloomBits(slice(0, 1500), "grp", "v", 4096, 3)))
    // and membership still answers through the pointer snapshot
    val got = Sketches.bloomContains(VL.current(spark, root, table),
        Seq("v0", "v1499", "nope"), 4096, 3)
      .select("grp", "probe", "present")
      .as[(String, String, Boolean)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got(("g0", "v0")) && got(("g1", "v1499")))
    VL.destroy(spark, root, table)
  }

  test("versioned BOTTOM-K sample lake: streamed == whole; replay harmless by algebra") {
    import spark.implicits._
    import graft.sources.{VersionedLake => VL}
    import org.apache.spark.sql.functions._
    val root = tmpDir("graft_vlake_smp_").toString
    val table = s"vlake_smp_${System.nanoTime()}"
    val all = (0 until 4000).map(i => (s"g${i % 3}", i.toLong)).toDF("g", "id")
    val m = pmod(col("id"), lit(4))
    val fin = graft.streaming.Streams.sampleReplayVersioned(
      spark, all.filter(m === 3),
      Seq(0, 1, 2).map(i => all.filter(m === i)),
      root, table, "g", "id", k = 16, buckets = 4)
    // streamed bottom-k == bottom-k of the whole corpus (order-free)
    val expect = all
      .select(col("g").as("grp"),
        graft.pipeline.Sketches.hash60(col("id").cast("string")).as("hv"),
        col("id"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("grp").orderBy("hv")))
      .filter(col("rk") <= 16).drop("rk")
    assert(fin.count() == 48)
    val finSet = fin.select("grp", "hv", "id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val expSet = expect.select("grp", "hv", "id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    info(s"DIAG fin=${finSet.size} exp=${expSet.size} " +
      s"missing=${(expSet -- finSet).take(3)} extra=${(finSet -- expSet).take(3)} " +
      s"pointer=${VL.readPointer(root)}")
    assert(finSet == expSet)
    // FORCED re-apply of an already-applied batch (gate bypassed by a
    // fresh batchId): bottom-k is idempotent — contents unchanged,
    // unlike the additive sketch where this double-counts
    VL.applyBottomKBatch(
      fin.select(col("grp"), col("hv"), col("id")).filter(col("id") % 4 === 1),
      root, table, Seq("grp"), "hv", 16, 4, batchId = 99L)
    val after = VL.current(spark, root, table)
      .select("grp", "hv", "id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == expSet,
      s"re-apply changed the sample: missing ${(expSet -- after).take(3)}")
    VL.destroy(spark, root, table)
  }

  test("incremental IVF: segments append-only, probes dir-pruned, replay no-op, compact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.pipeline.IvfIndex
    val root = tmpDir("graft_ivf_").toString + "/ivf"
    val dim = 8
    // deterministic corpus: 4 well-separated clusters (base vector per
    // cluster + small per-id jitter), 400 vectors
    def vec(id: Int): Array[Float] = {
      val c = id % 4
      Array.tabulate(dim)(j =>
        (if (j == c * 2) 10f else 0f) + ((id * 31 + j * 7) % 10) * 0.01f)
    }
    def frame(ids: Seq[Int]) =
      ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val centroids = (0 until 4).map(c =>
      (c, Array.tabulate(dim)(j => if (j == c * 2) 10.0 else 0.0)))
      .toDF("list", "cvec")
    IvfIndex.init(frame(0 until 100), "vec_id", "embedding", centroids, root)
    // stream 3 batches; snapshot each existing segment's file list to
    // prove append-only maintenance (no existing file ever changes)
    val conf = spark.sparkContext.hadoopConfiguration
    def segFiles(): Map[String, Set[String]] =
      IvfIndex.readManifest(root, IvfIndex.readPointer(root).get.version)
        .map(e => e.dir -> graft.sources.FsIo.listFilesRecursive(conf, e.dir)
          .filter(_.endsWith(".parquet")).toSet).toMap
    var before = segFiles()
    for (b <- 0 until 3) {
      IvfIndex.applyBatch(frame(100 * (b + 1) until 100 * (b + 2)),
        "vec_id", "embedding", root, batchId = b.toLong, retain = 10)
      val after = segFiles()
      before.foreach { case (d, files) =>
        assert(after(d) == files, s"existing segment $d changed in batch $b")
      }
      assert(after.size == before.size + 1, "batch did not add exactly one segment")
      before = after
    }
    val p = IvfIndex.readPointer(root).get
    assert(p.version == 3 && p.lastBatch == 2)
    // contents: every id exactly once, assigned to its construction cluster
    val all = IvfIndex.currentAll(spark, root)
    assert(all.count() == 400)
    assert(all.filter(col("list") =!= pmod(col("vec_id"), lit(4))).count() == 0,
      "assignment drifted from the pinned centroids")
    // probe: only the probed lists' directories open; top-k == brute force
    val q = Seq((0L, vec(0))).toDF("vec_id", "qvec").select(col("qvec"))
    val top = IvfIndex.probeTopK(spark, root, q, k = 5, nprobe = 1)
    assert(top.inputFiles.forall(_.contains("list=0")),
      s"probe read outside list=0: ${top.inputFiles.toSeq.filterNot(_.contains("list=0"))}")
    val brute = all.filter(col("list") === 0).crossJoin(q)
      .withColumn("cosine",
        graft.pipeline.Similarity.cosineQuantized(col("embedding"), col("qvec")))
      .orderBy(col("cosine").desc, col("vec_id")).limit(5)
      .select(col("vec_id")).as[Long].collect().toSeq
    assert(top.orderBy("rank").select("vec_id").as[Long].collect().toSeq == brute)
    // batched probes: per-qid results equal the single-probe form, and
    // the one pass opens only the union of the queries' probed lists
    val qBatch = Seq((0L, vec(0)), (1L, vec(1))).toDF("qid", "qvec")
    val batched = IvfIndex.probeTopKBatch(spark, root, qBatch, k = 5, nprobe = 1)
    assert(batched.inputFiles.forall(f =>
      f.contains("list=0") || f.contains("list=1")),
      s"batched probe read outside the probed lists")
    val single0 = IvfIndex.probeTopK(spark, root,
        Seq(Tuple1(vec(0))).toDF("qvec"), k = 5, nprobe = 1)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(batched.filter(col("qid") === 0).orderBy("rank")
      .select("vec_id").as[Long].collect().toSeq == single0)
    // replay of an applied batch: pointer and contents untouched
    IvfIndex.applyBatch(frame(0 until 50), "vec_id", "embedding", root,
      batchId = 1L, retain = 10)
    assert(IvfIndex.readPointer(root).get == p)
    assert(IvfIndex.currentAll(spark, root).count() == 400)
    // TOMBSTONE deletes: ids 0..39 go (one tiny tombstone segment — no
    // posting segment touched); probes and reads stop seeing them
    val preSegs = segFiles()
    IvfIndex.applyDeleteBatch(
      (0 until 40).map(_.toLong).toDF("vec_id"), "vec_id", root,
      batchId = 3L, retain = 10)
    preSegs.foreach { case (d, files) =>
      assert(segFiles()(d) == files, s"delete batch rewrote posting segment $d")
    }
    assert(IvfIndex.currentAll(spark, root).count() == 360)
    val topDel = IvfIndex.probeTopK(spark, root, q, k = 5, nprobe = 1)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(topDel.forall(_ >= 40), s"probe surfaced deleted ids: $topDel")
    // LSM sequence order: RE-INSERTING a deleted id after the tombstone
    // makes it live again (the tombstone only kills older postings)
    IvfIndex.applyBatch(frame(Seq(0, 4)), "vec_id", "embedding", root,
      batchId = 4L, retain = 10)
    val live = IvfIndex.currentAll(spark, root)
    assert(live.count() == 362)
    assert(live.filter(col("vec_id") === 0).count() == 1 &&
      live.filter(col("vec_id") === 8).count() == 0)
    // compact: one segment, deletions applied PHYSICALLY (tombstones
    // dropped), contents identical to the pre-compaction live view
    // (materialized first — `live` is lazy and its segments get GC'd)
    val liveStats = live.agg(count(lit(1)), sum("vec_id"), sum("list")).head()
    assert(IvfIndex.compact(spark, root, retain = 0) == 1)
    val afterC = IvfIndex.currentAll(spark, root)
    assert(afterC.agg(count(lit(1)), sum("vec_id"), sum("list")).head()
      == liveStats)
    assert(IvfIndex.readManifest(root,
      IvfIndex.readPointer(root).get.version).forall(!_.tombstone))
    // retention GC: with retain=0, only the compacted segment survives
    // (tombstone dirs collected too)
    assert(graft.sources.FsIo.listDirNames(conf, s"$root/seg").size == 1,
      "aged-out segments not collected")
    assert(!graft.sources.FsIo.exists(conf, s"$root/del") ||
      graft.sources.FsIo.listDirNames(conf, s"$root/del").isEmpty,
      "tombstone dirs not collected")
    IvfIndex.destroy(root)
  }

  test("incremental z-order: 3 batches rewrite only touched slabs, layout stays skippable") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.sources.ZOrderLake
    val root = tmpDir("graft_zolake_").toString + "/zo"
    // init: a full 400×400 grid sample (diagonal-ish coverage) — the
    // bounds pin here
    val init = (0 until 40000).map { i =>
      val x = (i * 37) % 400; val y = (i * 101) % 400
      (x.toLong, y.toLong, i.toLong)
    }.toDF("x", "y", "pay")
    // three LOCAL batches: each concentrated in a small x/y box — the
    // ingest-with-locality case incremental maintenance exists for
    def batch(b: Int) = (0 until 3000).map { i =>
      (((b * 97) % 300 + i % 40).toLong, ((b * 53) % 300 + (i / 40) % 40).toLong,
        (100000 + b * 10000 + i).toLong)
    }.toDF("x", "y", "pay")
    val fin = graft.streaming.Streams.zOrderReplayVersioned(
      spark, init, Seq(batch(0), batch(1), batch(2)), root, "x", "y",
      targetRows = 2500)
    // contents: exactly init ∪ batches, no loss, no duplication
    val expect = init.unionByName(batch(0)).unionByName(batch(1))
      .unionByName(batch(2))
    assert(fin.count() == expect.count())
    assert(fin.agg(sum("pay"), sum("x"), sum("y")).head() ==
      expect.agg(sum("pay"), sum("x"), sum("y")).head())
    // incrementality: some v0 slabs survive to the final manifest by
    // REFERENCE (untouched files are never rewritten)
    val p = ZOrderLake.readPointer(root).get
    assert(p.version == 3 && p.lastBatch == 2)
    val finalManifest = ZOrderLake.readManifest(root, p.version)
    assert(finalManifest.exists(_.path.contains("/data/v00000/")),
      "no v0 slab carried by reference — every batch rewrote everything")
    // each batch rewrote a strict subset of the table
    val rewrittenRows = finalManifest
      .filter(!_.path.contains("/data/v00000/")).map(_.rows).sum
    assert(rewrittenRows < expect.count(),
      s"rewrote $rewrittenRows rows — not incremental")
    // layout quality: per-file z-ranges stay disjoint (the manifest is
    // a partition of z-space), so box queries keep skipping files
    val sorted = finalManifest.sortBy(_.minZ)
    sorted.sliding(2).foreach {
      case Seq(a, b) => assert(a.maxZ < b.minZ,
        s"overlapping slabs: ${a.path} [${a.minZ},${a.maxZ}] vs " +
          s"${b.path} [${b.minZ},${b.maxZ}]")
      case _ =>
    }
    // data skipping holds: a 1/10 × 1/10 box touches few files — the
    // bound a FULL re-sort at the same slab size also achieves
    val boxFiles = fin.filter(col("x").between(100, 140) &&
        col("y").between(100, 140))
      .select(input_file_name()).distinct().count()
    assert(boxFiles <= 6, s"box touched $boxFiles of " +
      s"${finalManifest.size} files — clustering decayed")
    // replay gate: re-applying an old batchId is a no-op (slab rewrite
    // is NOT idempotent — without the gate this would duplicate rows)
    ZOrderLake.applyBatch(batch(1), root, "x", "y", 2500, batchId = 1L)
    assert(ZOrderLake.readPointer(root).get.version == 3)
    assert(ZOrderLake.current(spark, root).count() == expect.count())
    // retention GC: dropped manifests' exclusive files are gone, the
    // live manifest's files all exist
    assert(!new java.io.File(root, "_manifests/v00000").isFile,
      "manifest past retention must be dropped")
    finalManifest.foreach(e =>
      assert(new java.io.File(e.path).isFile, s"missing live slab ${e.path}"))
    ZOrderLake.destroy(root)
  }

  test("IVF health ledger: per-batch mean d2 recorded, drift ratio exposed") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.pipeline.IvfIndex
    val root = tmpDir("graft_ivfh_").toString + "/ivf"
    val dim = 4
    // centroids at unit vectors scaled 10; init data ON the centroids
    // (baseline d2 = per-id jitter only), drifted batch far off them
    val centroids = (0 until 2).map(c =>
      (c, Array.tabulate(dim)(j => if (j == c * 2) 10.0 else 0.0)))
      .toDF("list", "cvec")
    def frame(ids: Seq[Int], off: Double) =
      ids.map { i =>
        val c = i % 2
        (i.toLong, Array.tabulate(dim)(j =>
          (if (j == c * 2) 10f else 0f) + off.toFloat))
      }.toDF("vec_id", "embedding")
    IvfIndex.init(frame(0 until 50, 0.0), "vec_id", "embedding",
      centroids, root)
    val h0 = IvfIndex.health(root)
    assert(h0.baselineMeanD2.contains(0.0) && h0.drift.contains(0.0) ||
      h0.baselineMeanD2.exists(_ >= 0.0), "baseline must be recorded")
    // init exactly on centroids → baseline mean d2 == 0; a drifted
    // batch (offset 2 on every axis: d2 = dim*4 = 16) must show up
    IvfIndex.applyBatch(frame(50 until 100, 2.0), "vec_id", "embedding",
      root, batchId = 0L, retain = 10)
    val h1 = IvfIndex.health(root)
    assert(h1.baselineMeanD2.contains(0.0),
      s"baseline should be exactly 0 (data on centroids): $h1")
    assert(h1.lastBatchMeanD2.contains(16.0),
      s"drifted batch mean d2 should be exactly 16: $h1")
    // baseline 0 → ratio undefined (None), but the absolute mean flags it
    assert(h1.drift.isEmpty && h1.postingSegs == 2)
    // manifest lines carry (sumD2u, n) for ingest segments
    val segs = IvfIndex.readManifest(root,
      IvfIndex.readPointer(root).get.version)
    assert(segs.head.sumD2u == 0L && segs.head.n == 50L)
    assert(segs(1).sumD2u == 16L * 1000000L * 50 && segs(1).n == 50L)
    IvfIndex.destroy(root)
  }

  test("IVF schema drift rejects at commit; fully-tombstoned compact survives") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.pipeline.IvfIndex
    val root = tmpDir("graft_ivfg_").toString + "/ivf"
    val centroids = Seq((0, Array(10.0, 0.0)), (1, Array(0.0, 10.0)))
      .toDF("list", "cvec")
    IvfIndex.init(
      (0 until 20).map(i => (i.toLong, Array(10f, 0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", centroids, root)
    // a batch whose embedding type drifted (float → double) must fail
    // loudly at commit — unionByName would otherwise silently coerce,
    // mixing precisions across segments
    val drifted = (20 until 30).map(i => (i.toLong, Array(10.0, 0.0)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      IvfIndex.applyBatch(drifted, "vec_id", "embedding", root, 0L)
    }
    assert(e.getMessage.contains("does not match index schema"))
    assert(IvfIndex.readPointer(root).get.lastBatch == -1L,
      "rejected batch must not advance the pointer")
    // tombstone EVERYTHING, compact: the empty merge must stay readable
    // (zero-row partitionBy writes no part files — the guard rewrites
    // the empty segment with an explicit schema)
    IvfIndex.applyDeleteBatch(
      (0 until 20).map(_.toLong).toDF("vec_id"), "vec_id", root, 1L,
      retain = 10)
    assert(IvfIndex.compact(spark, root, retain = 10) == 1)
    assert(IvfIndex.currentAll(spark, root).count() == 0)
    val q = Seq(Tuple1(Array(10f, 0f))).toDF("qvec")
    assert(IvfIndex.probeTopK(spark, root, q, k = 3, nprobe = 2).count() == 0)
    // and the index still ACCEPTS new batches after the empty compact
    IvfIndex.applyBatch(
      (100 until 110).map(i => (i.toLong, Array(10f, 0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root, 2L, retain = 10)
    assert(IvfIndex.currentAll(spark, root).count() == 10)
    assert(IvfIndex.probeTopK(spark, root, q, k = 3, nprobe = 1).count() == 3)
    IvfIndex.destroy(root)
  }

  test("IVF PQ postings: codes pinned, carried segments byte-identical, ADC probe == brute rerank") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.pipeline.IvfIndex
    val root = tmpDir("graft_ivfpq_").toString + "/ivf"
    val dim = 16
    def vec(id: Int): Array[Float] = {
      val c = id % 2
      Array.tabulate(dim)(j =>
        (if (j == c * 4) 10f else 0f) + ((id * 31 + j * 7) % 10) * 0.01f)
    }
    def frame(ids: Seq[Int]) =
      ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val centroids = (0 until 2).map(c =>
      (c, Array.tabulate(dim)(j => if (j == c * 4) 10.0 else 0.0)))
      .toDF("list", "cvec")
    // m=4 subspaces of 4 dims, 8 codewords (the 8 lowest-id init vecs)
    IvfIndex.init(frame(0 until 100), "vec_id", "embedding", centroids,
      root, pqM = 4, pqK = 8)
    val conf = spark.sparkContext.hadoopConfiguration
    // every posting carries a code; codes are deterministic (re-encode
    // the corpus against the pinned codebook and compare)
    val all0 = IvfIndex.currentAll(spark, root)
    assert(all0.columns.contains("pq_code"))
    assert(all0.filter(size(col("pq_code")) =!= 4).count() == 0)
    // carried segments stay byte-identical across appends (the PQ
    // column changes nothing about LSM immutability)
    def bytes(dir: String): Map[String, Long] =
      graft.sources.FsIo.listFilesRecursive(conf, dir)
        .filter(_.endsWith(".parquet"))
        .map(f => f -> new java.io.File(
          new java.net.URI(f).getPath).length()).toMap
    val seg0 = IvfIndex.readManifest(root,
      IvfIndex.readPointer(root).get.version).head.dir
    val before = bytes(seg0)
    IvfIndex.applyBatch(frame(100 until 200), "vec_id", "embedding",
      root, 0L, retain = 10)
    assert(bytes(seg0) == before, "carried PQ segment changed bytes")
    // ADC + exact re-rank == brute-force cosine top-k over the probed
    // list (rerank covers the whole list here, so refine is exact)
    val q = Seq(Tuple1(vec(0))).toDF("qvec")
    val top = IvfIndex.probeTopK(spark, root, q, k = 5, nprobe = 1,
      IvfIndex.Adc(200))
    val brute = IvfIndex.currentAll(spark, root)
      .filter(col("list") === 0).crossJoin(q)
      .withColumn("cosine",
        graft.pipeline.Similarity.cosineQuantized(col("embedding"), col("qvec")))
      .orderBy(col("cosine").desc, col("vec_id")).limit(5)
      .select(col("vec_id")).as[Long].collect().toSeq
    assert(top.orderBy("rank").select("vec_id").as[Long].collect().toSeq
      == brute)
    // the ADC pass must not read the embedding column's bytes: prove
    // the plan only needs (vec_id, pq_code) by checking the scan schema
    val codeScan = IvfIndex.currentAll(spark, root)
      .select("vec_id", "pq_code")
    assert(codeScan.queryExecution.executedPlan.toString
      .contains("pq_code"))
    // batched ADC probes == single ADC probes per qid (columnar tables,
    // one raw re-rank pass)
    val qB = Seq((0L, vec(0)), (1L, vec(1))).toDF("qid", "qvec")
    val batchedAdc = IvfIndex.probeTopKBatch(spark, root, qB,
      k = 5, nprobe = 1, IvfIndex.Adc(200))
    for ((qid, qv) <- Seq((0L, vec(0)), (1L, vec(1)))) {
      val single = IvfIndex.probeTopK(spark, root,
          Seq(Tuple1(qv)).toDF("qvec"), k = 5, nprobe = 1, IvfIndex.Adc(200))
        .orderBy("rank").select("vec_id", "adc_u").as[(Long, Long)]
        .collect().toSeq
      val b = batchedAdc.filter(col("qid") === qid).orderBy("rank")
        .select("vec_id", "adc_u").as[(Long, Long)].collect().toSeq
      assert(b == single, s"qid=$qid: batched ADC $b != single $single")
    }
    // tombstones apply to BOTH ADC passes: delete the current top hit,
    // probe again — gone from ADC + rerank; re-insert revives it
    val top1 = top.orderBy("rank").select("vec_id").as[Long].head()
    IvfIndex.applyDeleteBatch(Seq(top1).toDF("vec_id"), "vec_id", root,
      1L, retain = 10)
    val afterDel = IvfIndex.probeTopK(spark, root, q, k = 5,
        nprobe = 1, IvfIndex.Adc(200))
      .select("vec_id").as[Long].collect().toSeq
    assert(!afterDel.contains(top1), s"tombstoned $top1 still probed")
    IvfIndex.applyBatch(frame(Seq(top1.toInt)), "vec_id", "embedding",
      root, 2L, retain = 10)
    val afterRe = IvfIndex.probeTopK(spark, root, q, k = 5,
        nprobe = 1, IvfIndex.Adc(200))
      .select("vec_id").as[Long].collect().toSeq
    assert(afterRe.contains(top1), "re-inserted id absent from ADC probe")
    // compaction carries codes through (schema guard keeps accepting)
    assert(IvfIndex.compact(spark, root, retain = 10) == 1)
    assert(IvfIndex.currentAll(spark, root).columns.contains("pq_code"))
    IvfIndex.applyBatch(frame(200 until 220), "vec_id", "embedding",
      root, 3L, retain = 10)
    assert(IvfIndex.currentAll(spark, root).count() == 220)
    IvfIndex.destroy(root)
  }

  test("trained PQ codebook: deterministic, rectangular, and better than the sampled seeds") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.pipeline.IvfIndex
    import org.apache.spark.sql.graft.ColumnBridge
    // adversarial seeds: the 16 lowest ids all sit in ONE cluster, the
    // rest of the corpus in another — sampled codewords cover only the
    // first cluster, so Lloyd training must strictly cut the total
    // quantization error
    val dim = 8
    def vec(id: Int): Array[Float] =
      if (id < 16) Array.tabulate(dim)(j => 1f + ((id * 7 + j) % 5) * 0.01f)
      else Array.tabulate(dim)(j => 50f + ((id * 13 + j) % 7) * 0.01f)
    val corpus = (0 until 400).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    def seed = {
      val seeds = corpus.select(col("vec_id"),
          transform(col("embedding"),
            x => floor(x.cast("double") * 1e6 + lit(0.5))).as("vq"))
        .orderBy("vec_id").limit(16).collect().map(_.getSeq[Long](1).toArray)
      Array.tabulate(4, 16)((s, j) => seeds(j).slice(s * 2, (s + 1) * 2))
    }
    val sampled = seed
    val trained = IvfIndex.trainCodebook(corpus, "embedding", seed, 2)
    val trained2 = IvfIndex.trainCodebook(corpus, "embedding", seed, 2)
    // deterministic across runs, rectangular (retained-on-empty: no
    // codeword drops even though most get zero assignments round 1)
    assert(trained.map(_.map(_.toSeq).toSeq).toSeq ==
      trained2.map(_.map(_.toSeq).toSeq).toSeq)
    assert(trained.forall(_.length == 16) &&
      trained.forall(_.forall(_.length == 2)))
    // total quantization error: sum over vectors of their codeword d2
    def err(cb: Array[Array[Array[Long]]]): Long = {
      val codes = ColumnBridge.column(
        graft.functions.IvfKernels.PqEncodeCodes(
          ColumnBridge.expression(col("embedding")), cb))
      val cbLit = typedLit(cb.map(_.map(_.toSeq).toSeq).toSeq)
      corpus.withColumn("_c", codes)
        .withColumn("vq", transform(col("embedding"),
          x => floor(x.cast("double") * 1e6 + lit(0.5))))
        .withColumn("e", aggregate(
          transform(sequence(lit(0), lit(3)), s =>
            aggregate(zip_with(slice(col("vq"), s * 2 + 1, lit(2)),
              element_at(element_at(cbLit, s + 1),
                element_at(col("_c"), s + 1) + 1),
              (a, b) => (a - b) * (a - b)), lit(0L), (acc, v) => acc + v)),
          lit(0L), (acc, v) => acc + v))
        .agg(sum("e")).head().getLong(0)
    }
    val eS = err(sampled); val eT = err(trained)
    assert(eT < eS / 10,
      s"training did not materially cut quantization error: $eT vs $eS")
  }

  test("IVF streaming sink auto-compacts past the segment-count threshold") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.pipeline.IvfIndex
    import graft.streaming.Streams
    val root = tmpDir("graft_ivfac_").toString + "/ivf"
    val centroids = Seq((0, Array(10.0, 0.0)), (1, Array(0.0, 10.0)))
      .toDF("list", "cvec")
    def frame(ids: Seq[Int]) = ids.map(i =>
      (i.toLong, if (i % 2 == 0) Array(10f, 0f) else Array(0f, 10f)))
      .toDF("vec_id", "embedding")
    IvfIndex.init(frame(0 until 10), "vec_id", "embedding", centroids, root)
    // 4 streamed batches with threshold 3: the sink must compact when
    // the live posting-segment count reaches it, and contents survive
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Array[Float])]
    val writer = Streams.ivfSinkVersioned(
      stream.toDF.toDF("vec_id", "embedding"), root, "vec_id", "embedding",
      retain = 10, autoCompactSegments = 3)
    // one addData + drain per micro-batch: AvailableNow would race the
    // addData loop and can deliver every block as ONE batch, letting
    // the threshold assertion pass without auto-compact ever firing
    val sq = writer.start()
    for (b <- 0 until 4) {
      stream.addData((10 * (b + 1) until 10 * (b + 2))
        .map(i => (i.toLong, if (i % 2 == 0) Array(10f, 0f)
          else Array(0f, 10f))))
      sq.processAllAvailable()
    }
    sq.stop()
    val segs = IvfIndex.readManifest(root,
      IvfIndex.readPointer(root).get.version)
    assert(segs.count(!_.tombstone) < 3,
      s"auto-compact never fired: ${segs.size} live segments")
    assert(IvfIndex.currentAll(spark, root).count() == 50)
    // the batchId gate survives compaction (maintenance versions keep
    // lastBatch): replaying batch 0 is a no-op
    val p = IvfIndex.readPointer(root).get
    IvfIndex.applyBatch(frame(0 until 5), "vec_id", "embedding", root, 0L)
    assert(IvfIndex.readPointer(root).get == p)
    IvfIndex.destroy(root)
  }

  test("IVF rebuild re-centers a drifted index: init-twin parity, lastBatch kept, drift resets") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.pipeline.IvfIndex
    val dim = 8
    // distribution A (ids < 200): spike 10 at dim 2c; distribution B
    // (ids >= 200): the same spike PLUS a uniform +3 shift — the data
    // walks away from the pinned centroids while cluster identity holds
    def vec(id: Int): Array[Float] = {
      val c = id % 4
      val shift = if (id >= 200) 3f else 0f
      Array.tabulate(dim)(j =>
        (if (j == c * 2) 10f else 0f) + shift + ((id * 31 + j * 7) % 10) * 0.01f)
    }
    def frame(ids: Seq[Int]) =
      ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val centroids = (0 until 4).map(c =>
      (c, Array.tabulate(dim)(j => if (j == c * 2) 10.0 else 0.0)))
      .toDF("list", "cvec")
    val root = tmpDir("graft_ivfrb_").toString + "/ivf"
    IvfIndex.init(frame(0 until 100), "vec_id", "embedding", centroids, root,
      pqM = 4, pqK = 16)
    IvfIndex.applyBatch(frame(100 until 200), "vec_id", "embedding", root, 0L,
      retain = 10)
    IvfIndex.applyBatch(frame(200 until 300), "vec_id", "embedding", root, 1L,
      retain = 10)
    IvfIndex.applyBatch(frame(300 until 400), "vec_id", "embedding", root, 2L,
      retain = 10)
    val driftBefore = IvfIndex.health(root).drift.get
    assert(driftBefore > 2.0,
      s"fixture should be in the warning zone, drift=$driftBefore")
    // re-center on the live corpus: per-list means (supplied, like init)
    val live = IvfIndex.currentAll(spark, root)
    val cent2 = live
      .select(col("list"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("list"), col("pos"))
      .agg(avg(col("x").cast("double")).as("m"))
      .groupBy(col("list"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        st => st.getField("m")).as("cvec"))
      .localCheckpoint(true)
    IvfIndex.rebuild(spark, root, cent2, retain = 10)
    val p = IvfIndex.readPointer(root).get
    assert(p.version == 4 && p.lastBatch == 2 && p.gen == 1,
      s"rebuild must be a maintenance version at a new generation: $p")
    // readCentroids resolves the new generation
    val gotCent = IvfIndex.readCentroids(spark, root)
      .orderBy("list").collect().map(_.getSeq[Double](1))
    val wantCent = cent2.orderBy("list").collect().map(_.getSeq[Double](1))
    assert(gotCent.toSeq == wantCent.toSeq, "readCentroids must see gen 1")
    // rebuild == init-from-scratch twin on the same contents: same
    // assignments AND same PQ codes (the codebook carries; the twin's
    // sampled seeds are the same 16 lowest ids)
    val twin = tmpDir("graft_ivfrb_twin_").toString + "/ivf"
    IvfIndex.init(frame(0 until 400), "vec_id", "embedding", cent2, twin,
      pqM = 4, pqK = 16)
    def snap(r: String) = IvfIndex.currentAll(spark, r)
      .select(col("vec_id"), col("list"),
        col("pq_code").cast("array<int>").as("pq"))
      .collect().map(r0 => (r0.getLong(0), r0.getInt(1),
        r0.getSeq[Int](2).toList)).toSet
    assert(snap(root) == snap(twin), "rebuild != init-from-scratch twin")
    val q = frame(Seq(0)).select(col("embedding").as("qvec"))
    val pr = IvfIndex.probeTopK(spark, root, q, k = 5, nprobe = 2)
      .collect().map(r0 => (r0.getInt(0), r0.getLong(1))).toSeq
    val pt = IvfIndex.probeTopK(spark, twin, q, k = 5, nprobe = 2)
      .collect().map(r0 => (r0.getInt(0), r0.getLong(1))).toSeq
    assert(pr == pt, "probe after rebuild != twin probe")
    // ingest CONTINUES where it left off: the gate still holds (replay
    // of batch 2 is a no-op) and batch 3 lands against gen-1 centroids
    val pBefore = IvfIndex.readPointer(root).get
    IvfIndex.applyBatch(frame(0 until 5), "vec_id", "embedding", root, 2L)
    assert(IvfIndex.readPointer(root).get == pBefore, "replay must no-op")
    IvfIndex.applyBatch(frame(400 until 500), "vec_id", "embedding", root, 3L,
      retain = 10)
    val h = IvfIndex.health(root)
    assert(h.drift.get < driftBefore / 2,
      s"drift should reset after re-centering: ${h.drift.get} vs $driftBefore")
    IvfIndex.destroy(root); IvfIndex.destroy(twin)
  }

  test("IVF health ledger stays populated through compaction (carried sums)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.pipeline.IvfIndex
    val root = tmpDir("graft_ivfhc_").toString + "/ivf"
    // integer-grid fixture: exact d2 sums (same trick as q_ivf_health)
    val centroids = Seq((0, Array(10.0, 0.0)), (1, Array(0.0, 10.0)))
      .toDF("list", "cvec")
    def frame(ids: Seq[Int], off: Float) = ids.map(i =>
      (i.toLong, if (i % 2 == 0) Array(10f + off, 0f) else Array(0f, 10f + off)))
      .toDF("vec_id", "embedding")
    IvfIndex.init(frame(0 until 10, 1f), "vec_id", "embedding",
      centroids, root) // baseline mean d2 = 1 (nonzero so drift defines)
    IvfIndex.applyBatch(frame(10 until 20, 2f), "vec_id", "embedding", root,
      0L, retain = 10)
    IvfIndex.applyBatch(frame(20 until 30, 3f), "vec_id", "embedding", root,
      1L, retain = 10)
    val before = IvfIndex.health(root)
    assert(before.lastBatchMeanD2.contains(9.0)) // off=3 -> d2 = 9
    IvfIndex.compact(spark, root, retain = 10)
    val after = IvfIndex.health(root)
    assert(after.baselineMeanD2 == before.baselineMeanD2)
    // carried (sum, n) over the three ingest segments: 1*10 + 4*10 + 9*10
    // over 30 -> mean 14/3; drift vs baseline stays POPULATED (the whole
    // point — the auto-compacting sink otherwise goes dark every window)
    assert(after.lastBatchMeanD2.isDefined && after.drift.isDefined,
      s"health went dark after compaction: $after")
    assert(math.abs(after.lastBatchMeanD2.get - 140.0 / 30) < 1e-9,
      s"carried mean wrong: ${after.lastBatchMeanD2}")
    assert(math.abs(after.drift.get - 140.0 / 30) < 1e-9)
    // and the NEXT ingest supersedes the carried value as usual
    IvfIndex.applyBatch(frame(30 until 40, 4f), "vec_id", "embedding", root,
      2L, retain = 10)
    assert(IvfIndex.health(root).lastBatchMeanD2.contains(16.0))
    IvfIndex.destroy(root)
  }

  test("code-only IVF: no raw column, ADC-only serving, raw ops reject loudly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.pipeline.IvfIndex
    val dim = 8
    def vec(id: Int): Array[Float] = {
      val c = id % 4
      Array.tabulate(dim)(j =>
        (if (j == c * 2) 10f else 0f) + ((id * 31 + j * 7) % 10) * 0.01f)
    }
    def frame(ids: Seq[Int]) =
      ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val centroids = (0 until 4).map(c =>
      (c, Array.tabulate(dim)(j => if (j == c * 2) 10.0 else 0.0)))
      .toDF("list", "cvec")
    val co = tmpDir("graft_ivfco_").toString + "/ivf"
    val raw = tmpDir("graft_ivfco_raw_").toString + "/ivf"
    // storeRaw=false without a codebook is meaningless -> loud
    intercept[IllegalArgumentException] {
      IvfIndex.init(frame(0 until 100), "vec_id", "embedding", centroids,
        co, storeRaw = false)
    }
    IvfIndex.init(frame(0 until 100), "vec_id", "embedding", centroids, co,
      pqM = 4, pqK = 16, storeRaw = false)
    IvfIndex.init(frame(0 until 100), "vec_id", "embedding", centroids, raw,
      pqM = 4, pqK = 16)
    IvfIndex.applyBatch(frame(100 until 200), "vec_id", "embedding", co, 0L,
      retain = 10)
    IvfIndex.applyBatch(frame(100 until 200), "vec_id", "embedding", raw, 0L,
      retain = 10)
    // the stored postings carry NO raw vectors
    val all = IvfIndex.currentAll(spark, co)
    assert(!all.columns.contains("embedding"), all.columns.mkString(","))
    assert(all.count() == 200)
    // ADC-only serving == the raw twin's ADC pass (same codes, same
    // table, same (adc_u, vec_id) order)
    val q = frame(Seq(0)).select(col("embedding").as("qvec"))
    val adcCo = IvfIndex.probeTopK(spark, co, q, k = 5, nprobe = 2,
      IvfIndex.Adc(0)).collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(3)))
    val adcRaw = IvfIndex.probeTopK(spark, raw, q, k = 5, nprobe = 2,
      IvfIndex.Adc(0)).collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(3)))
    assert(adcCo.toSeq == adcRaw.toSeq)
    assert(adcCo.length == 5)
    val qs = frame(Seq(0, 7)).select(col("vec_id").as("qid"),
      col("embedding").as("qvec"))
    val b = IvfIndex.probeTopKBatch(spark, co, qs, k = 3, nprobe = 2,
      IvfIndex.Adc(0))
    assert(b.columns.toSeq == Seq("qid", "rank", "vec_id", "list", "adc_u"))
    assert(b.count() == 6)
    // every raw-needing op rejects loudly, naming the remedy
    def loud(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains("code-only"), e.getMessage)
    }
    loud(IvfIndex.probeTopK(spark, co, q, k = 5, nprobe = 2))
    loud(IvfIndex.probeTopKBatch(spark, co, qs, k = 5, nprobe = 2))
    loud(IvfIndex.probeTopK(spark, co, q, k = 5, nprobe = 2, IvfIndex.Adc(10)))
    loud(IvfIndex.probeTopKBatch(spark, co, qs, k = 3, nprobe = 2,
      IvfIndex.Adc(10)))
    loud(IvfIndex.rebuild(spark, co, centroids))
    // compaction works on code-only segments (schema-driven merge)
    assert(IvfIndex.compact(spark, co, retain = 10) == 1)
    assert(IvfIndex.currentAll(spark, co).count() == 200)
    IvfIndex.destroy(co); IvfIndex.destroy(raw)
  }

  test("IVF kernel memory guard: an over-bound centroid matrix fails at build, loudly") {
    import spark.implicits._
    import graft.pipeline.IvfIndex
    val root = tmpDir("graft_ivfmg_").toString + "/ivf"
    val centroids = Seq((0, Array(10.0, 0.0)), (1, Array(0.0, 10.0)))
      .toDF("list", "cvec")
    val emb = Seq((0L, Array(10f, 0f)), (1L, Array(0f, 10f)))
      .toDF("vec_id", "embedding")
    spark.conf.set("spark.graft.ivf.maxCentroidMatrixBytes", "16")
    try {
      val e = intercept[IllegalArgumentException] {
        IvfIndex.init(emb, "vec_id", "embedding", centroids, root)
      }
      assert(e.getMessage.contains("maxCentroidMatrixBytes"), e.getMessage)
      assert(e.getMessage.contains("useKernel"), e.getMessage)
    } finally spark.conf.unset("spark.graft.ivf.maxCentroidMatrixBytes")
    // and with the default bound the same init sails through
    IvfIndex.init(emb, "vec_id", "embedding", centroids, root)
    assert(IvfIndex.currentAll(spark, root).count() == 2)
    IvfIndex.destroy(root)
  }

  test("PQ k=256 (byte codewords): kernel == interpreted Column, training runs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.pipeline.IvfIndex
    // FAISS's default codeword count: 8-bit codes. 300 vectors, dim 16,
    // m=2 subspaces x k=256 codewords — the interpreted pqCodeCol builds
    // 256 candidate structs per subspace, the kernel one JIT loop; both
    // must agree bit-for-bit (same encode rule, ties to the lowest j).
    val dim = 16
    def vec(id: Int): Array[Float] =
      Array.tabulate(dim)(j => ((id * 131 + j * 37) % 997) * 0.01f)
    val emb = (0 until 300).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding").localCheckpoint(true)
    val seeds = IvfIndex.sampledCodebook(emb, "vec_id", "embedding",
      pqM = 2, pqK = 256)
    val trained = IvfIndex.trainCodebook(emb, "embedding", seeds, iters = 1)
    assert(trained.length == 2 && trained(0).length == 256,
      "training must keep the codebook rectangular at k=256")
    for (cb <- Seq(seeds, trained)) {
      import org.apache.spark.sql.graft.ColumnBridge
      val both = emb
        .withColumn("k", ColumnBridge.column(
          graft.functions.IvfKernels.PqEncodeCodes(
            ColumnBridge.expression(col("embedding")), cb)))
        .withColumn("h", IvfIndex.pqCodeCol(col("embedding"), cb))
      assert(both.filter(not(col("k") === col("h"))).count() == 0,
        "kernel and interpreted codes diverge at k=256")
    }
  }

  test("SQ8 tier: codes replace raw, decoded re-rank, clamp, rebuild carries codes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.pipeline.IvfIndex
    val dim = 8
    def vec(id: Int): Array[Float] = {
      val c = id % 4
      Array.tabulate(dim)(j =>
        (if (j == c * 2) 10f else 0f) + ((id * 31 + j * 7) % 10) * 0.01f)
    }
    def frame(ids: Seq[Int]) =
      ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val centroids = (0 until 4).map(c =>
      (c, Array.tabulate(dim)(j => if (j == c * 2) 10.0 else 0.0)))
      .toDF("list", "cvec")
    val sq = tmpDir("graft_ivfsq_").toString + "/ivf"
    val raw = tmpDir("graft_ivfsq_raw_").toString + "/ivf"
    intercept[IllegalArgumentException] { // sq8 excludes code-only
      IvfIndex.init(frame(0 until 100), "vec_id", "embedding", centroids,
        sq, pqM = 4, storeRaw = false, sq8 = true)
    }
    IvfIndex.init(frame(0 until 100), "vec_id", "embedding", centroids, sq,
      pqM = 4, pqK = 16, sq8 = true)
    IvfIndex.init(frame(0 until 100), "vec_id", "embedding", centroids, raw,
      pqM = 4, pqK = 16)
    IvfIndex.applyBatch(frame(100 until 200), "vec_id", "embedding", sq, 0L,
      retain = 10)
    IvfIndex.applyBatch(frame(100 until 200), "vec_id", "embedding", raw, 0L,
      retain = 10)
    val all = IvfIndex.currentAll(spark, sq)
    assert(!all.columns.contains("embedding") && all.columns.contains("sq_code"),
      all.columns.mkString(","))
    assert(all.count() == 200)
    // kernel == interpreted witness on the stored grid
    val conf = spark.sparkContext.hadoopConfiguration
    val (lo, hi) = IvfIndex.readSqBounds(spark, sq, conf).get
    assert(lo.length == dim)
    val wit = frame(0 until 200)
      .withColumn("h", IvfIndex.sqCodeCol(col("embedding"), lo, hi))
      .select(col("vec_id"), col("h"))
    assert(all.join(wit, "vec_id").filter(not(col("sq_code") === col("h")))
      .count() == 0, "SQ8 kernel and interpreted witness diverge")
    // reconstruction error bounded by span/510 per dimension (micro-units)
    val maxSpan = lo.indices.map(i => hi(i) - lo(i)).max
    val dec = all.withColumn("demb", IvfIndex.sqDecodeCol(col("sq_code"), lo, hi))
      .join(frame(0 until 200), "vec_id")
      .select(aggregate(zip_with(col("demb"), col("embedding"),
        (a, b) => abs(a - b.cast("double"))), lit(0.0),
        (acc, v) => greatest(acc, v)).as("emax"))
      .agg(max(col("emax"))).head().getDouble(0)
    // + ~1.5 micro-units of grid rounding (vq floor + decode floor)
    assert(dec <= maxSpan / 510.0 / 1e6 + 2e-6,
      s"reconstruction error $dec exceeds span/510 bound")
    // out-of-bounds batch CLAMPS (codes pinned at init)
    val far = Seq((9000L, Array.fill(dim)(99f)), (9001L, Array.fill(dim)(-99f)))
      .toDF("vec_id", "embedding")
    IvfIndex.applyBatch(far, "vec_id", "embedding", sq, 1L, retain = 10)
    val clamped = IvfIndex.currentAll(spark, sq)
      .filter(col("vec_id") >= 9000L)
      .select(explode(col("sq_code")).as("c"))
      .agg(min(col("c")), max(col("c"))).head()
    assert(clamped.getInt(0) == 0 && clamped.getInt(1) == 255)
    // ADC pass identical to the raw twin (PQ codes encode from RAW at
    // ingest on both tiers)
    val q = frame(Seq(0)).select(col("embedding").as("qvec"))
    val a1 = IvfIndex.probeTopK(spark, sq, q, k = 5, nprobe = 2,
      IvfIndex.Adc(0)).collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(3)))
    val a2 = IvfIndex.probeTopK(spark, raw, q, k = 5, nprobe = 2,
      IvfIndex.Adc(0)).collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(3)))
    assert(a1.toSeq == a2.toSeq, "SQ8 ADC pass diverged from raw twin")
    // decoded re-rank == a manual decode + integer-grid cosine top-5
    val got = IvfIndex.probeTopK(spark, sq, q, k = 5, nprobe = 2,
      IvfIndex.Adc(50)).collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val pr = IvfIndex.probeTopK(spark, sq, q, k = 5, nprobe = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val manual = IvfIndex.currentAll(spark, sq)
      .withColumn("demb", IvfIndex.sqDecodeCol(col("sq_code"), lo, hi))
      .crossJoin(broadcast(q))
      .withColumn("cosine", graft.pipeline.Similarity
        .cosineQuantized(col("demb"), col("qvec").cast("array<double>")))
      .orderBy(col("cosine").desc, col("vec_id")).limit(5)
      .collect().map(_.getLong(0)).toSeq
    assert(pr.map(_._2) == manual,
      s"decoded probeTopK != manual decode+cosine: $pr vs $manual")
    assert(got.map(_._2).toSet.subsetOf(
      IvfIndex.currentAll(spark, sq).select("vec_id").as[Long]
        .collect().toSet), "rerank produced unknown ids")
    // rebuild: decoded re-assignment CARRIES the codes; maintenance
    // version; retraining rejects
    val codesBefore = IvfIndex.currentAll(spark, sq)
      .select(col("vec_id"), col("sq_code"), col("pq_code"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toList,
        r.getSeq[Int](2).toList)).toSet
    val e = intercept[IllegalArgumentException] {
      IvfIndex.rebuild(spark, sq, centroids, pqTrainIters = 1)
    }
    assert(e.getMessage.contains("retraining"), e.getMessage)
    val pBefore = IvfIndex.readPointer(sq).get
    IvfIndex.rebuild(spark, sq, centroids, retain = 10)
    val p = IvfIndex.readPointer(sq).get
    assert(p.version == pBefore.version + 1 &&
      p.lastBatch == pBefore.lastBatch && p.gen == 1, s"$p")
    val codesAfter = IvfIndex.currentAll(spark, sq)
      .select(col("vec_id"), col("sq_code"), col("pq_code"))
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1).toList,
        r.getSeq[Int](2).toList)).toSet
    assert(codesAfter == codesBefore, "rebuild changed stored codes")
    // bounds carried to gen 1; ingest continues
    val (lo2, hi2) = IvfIndex.readSqBounds(spark, sq, conf).get
    assert(lo2.toSeq == lo.toSeq && hi2.toSeq == hi.toSeq)
    IvfIndex.applyBatch(frame(200 until 210), "vec_id", "embedding", sq, 2L,
      retain = 10)
    assert(IvfIndex.currentAll(spark, sq).count() == 212)
    IvfIndex.destroy(sq); IvfIndex.destroy(raw)
  }

  test("IVF pinned-metadata caches: cold == warm probes, re-init invalidates") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.pipeline.IvfIndex
    // r17 optimization pins: (1) the warm probe path (driver-side list
    // selection off the cached quantizer + local query relation) is
    // bit-identical to the cold path (fresh JVM: every artifact re-read,
    // probe lists via the distributed job); (2) re-init on the same root
    // invalidates every cache, so probes/commits see the NEW generation.
    val dim = 8
    def vec(id: Int): Array[Float] = {
      val c = id % 3
      Array.tabulate(dim)(j =>
        (if (j == c * 2) 10f else 0f) + ((id * 17 + j * 5) % 13) * 0.01f)
    }
    def frame(ids: Seq[Int]) =
      ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val centroids = (0 until 3).map(c =>
      (c, Array.tabulate(dim)(j => if (j == c * 2) 10.0 else 0.0)))
      .toDF("list", "cvec")
    val root = tmpDir("graft_ivfcache_").toString + "/ivf"
    IvfIndex.init(frame(0 until 60), "vec_id", "embedding", centroids, root,
      pqM = 4, pqK = 8)
    IvfIndex.applyBatch(frame(60 until 120), "vec_id", "embedding", root, 0L,
      retain = 10)
    val q = frame(Seq(7)).select(col("embedding").as("qvec"))
    def runAll(): (Seq[String], Seq[String], Seq[String]) = (
      IvfIndex.probeTopK(spark, root, q, k = 5, nprobe = 2)
        .collect().map(_.toString).toSeq,
      IvfIndex.probeTopK(spark, root, q, k = 5, nprobe = 2, IvfIndex.Adc(10))
        .collect().map(_.toString).toSeq,
      IvfIndex.probeTopKBatch(spark, root,
          frame(Seq(7, 11)).select(col("vec_id").as("qid"),
            col("embedding").as("qvec")), k = 3, nprobe = 2)
        .collect().map(_.toString).sorted.toSeq)
    val warm = runAll() // quantizer + codebook + schemas resident (ingest built them)
    graft.core.SessionState.evict(root) // a fresh serving JVM
    val cold = runAll()
    assert(warm == cold, s"cold probe path diverged from warm:\n$warm\n$cold")
    // re-init with SHIFTED centroids on the SAME root: caches must not
    // leak the old generation into assignments or probes
    val shifted = (0 until 3).map(c =>
      (c, Array.tabulate(dim)(j => if (j == ((c + 1) % 3) * 2) 10.0 else 0.0)))
      .toDF("list", "cvec")
    IvfIndex.init(frame(0 until 60), "vec_id", "embedding", shifted, root,
      pqM = 4, pqK = 8)
    IvfIndex.applyBatch(frame(60 until 120), "vec_id", "embedding", root, 0L,
      retain = 10)
    // under the shifted centroids, cluster c's vectors assign to c-1
    val lists = IvfIndex.currentAll(spark, root)
      .select(col("vec_id"), col("list")).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(lists.length == 120 && lists.forall { case (id, l) =>
      l == (((id % 3) + 2) % 3).toInt },
      "stale cached centroids leaked through a re-init")
    val twin = tmpDir("graft_ivfcache_tw_").toString + "/ivf"
    IvfIndex.init(frame(0 until 60), "vec_id", "embedding", shifted, twin,
      pqM = 4, pqK = 8)
    IvfIndex.applyBatch(frame(60 until 120), "vec_id", "embedding", twin, 0L,
      retain = 10)
    val pr = IvfIndex.probeTopK(spark, root, q, k = 5, nprobe = 2,
      IvfIndex.Adc(10)).collect().map(_.toString).toSeq
    val pt = IvfIndex.probeTopK(spark, twin, q, k = 5, nprobe = 2,
      IvfIndex.Adc(10)).collect().map(_.toString).toSeq
    assert(pr == pt, "re-init'd index diverged from a fresh-root twin")
    // empty batch: pointer-only bump, NO new manifest version — the r17
    // removal of the per-commit isEmpty pre-scan (emptiness now detected
    // from the write's observed count) must preserve the contract
    val pEmptyBefore = IvfIndex.readPointer(root).get
    IvfIndex.applyBatch(frame(Seq.empty[Int]), "vec_id", "embedding", root,
      9L, retain = 10)
    val pEmptyAfter = IvfIndex.readPointer(root).get
    assert(pEmptyAfter.version == pEmptyBefore.version &&
      pEmptyAfter.lastBatch == 9L, s"$pEmptyBefore -> $pEmptyAfter")
    assert(IvfIndex.currentAll(spark, root).count() == 120)
    IvfIndex.destroy(root); IvfIndex.destroy(twin)
  }

  test("tumblingAgg removes its staging directory and leaves the table intact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmpDir("graft_tumbling_").toPath
    // events.parquet as one file, the layout the stream stages a link to
    val written = dir.resolve("written").toString
    Seq(("2024-01-01 00:10:00", "a", 1.0), ("2024-01-01 01:00:00", "a", 2.0),
        ("2024-01-01 07:00:00", "b", 4.0))
      .toDF("ts", "event_type", "value")
      .withColumn("ts", to_timestamp(col("ts")))
      .coalesce(1).write.parquet(written)
    val table = dir.resolve("events.parquet")
    java.nio.file.Files.move(new java.io.File(written).listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath, table)
    val bytes = java.nio.file.Files.readAllBytes(table)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def staged = tmp.list().filter(_.startsWith("graft_stream_")).toSet
    val before = staged
    val out = graft.streaming.Streams.tumblingAgg(spark, dir.toString, "6 hours",
      "tumbling_cleanup").orderBy("w_start", "event_type").collect()
    assert(out.map(r => (r.getString(1), r.getLong(2))).toSeq ==
      Seq(("a", 2L), ("b", 1L)))
    assert((staged -- before).isEmpty, s"left behind: ${staged -- before}")
    assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(table), bytes))
    graft.sources.FsIo.delete(spark.sparkContext.hadoopConfiguration, dir.toString)
  }

  test("lake sinks run each micro-batch's jobs under the stream's own session") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    import graft.pipeline.IvfIndex
    import graft.sources.VersionedLake
    import graft.streaming.Streams
    // a pass-through filter that records its task's context class loader:
    // each session's tasks run under an executor class loader of its own
    val seen = udf { (_: Long) =>
      SinkLoaders.seen.add(Thread.currentThread.getContextClassLoader); true
    }.asNondeterministic()
    def loaders(f: => Unit): Set[ClassLoader] = {
      SinkLoaders.seen.clear()
      f
      SinkLoaders.seen.toArray(Array.empty[ClassLoader]).toSet
    }
    val home = loaders(spark.range(8).filter(seen(col("id"))).count())
    assert(home.size == 1)
    val base = tmpDir("graft_rehome_").toString
    def run(in: String, sink: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row],
        idCol: String): Set[ClassLoader] = loaders {
      val rows = spark.readStream.schema(spark.read.parquet(in).schema).parquet(in)
      val q = sink(rows.filter(seen(col(idCol))))
        .option("checkpointLocation", s"$in-ckpt")
        .trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
    }
    // versioned MERGE sink
    val root = s"$base/versioned"
    val table = s"rehome_snap_${System.nanoTime()}"
    VersionedLake.init((1L to 20L).map(k => (k, k * 1.0)).toDF("k", "v"),
      root, table, "k", 4)
    (15L to 30L).map(k => (k, "insert", k * 2.0)).toDF("k", "op", "v")
      .write.parquet(s"$base/changes")
    val merge = run(s"$base/changes",
      Streams.mergeSinkVersioned(_, root, table, "k", 4), "k")
    assert(merge == home, "the MERGE sink's jobs ran outside the stream's session")
    assert(VersionedLake.current(spark, root, table).count() == 30)
    // IVF sink
    val ivf = s"$base/ivf"
    def vec(id: Long) = Array.tabulate(4)(j => if (j == id % 4) 1f else 0f)
    IvfIndex.init((0L until 20L).map(i => (i, vec(i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding",
      (0 until 4).map(c => (c, Array.tabulate(4)(j => if (j == c) 1.0 else 0.0)))
        .toDF("list", "cvec"), ivf)
    (20L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
      .write.parquet(s"$base/vectors")
    val index = run(s"$base/vectors",
      Streams.ivfSinkVersioned(_, ivf, "vec_id", "embedding"), "vec_id")
    assert(index == home, "the IVF sink's jobs ran outside the stream's session")
    assert(IvfIndex.currentAll(spark, ivf).count() == 40)
    VersionedLake.destroy(spark, root, table)
    IvfIndex.destroy(ivf)
    graft.sources.FsIo.delete(spark.sparkContext.hadoopConfiguration, base)
  }
}

/** The class loaders a filter saw in its tasks (one JVM in `local[N]`). */
object SinkLoaders {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[ClassLoader]
}
