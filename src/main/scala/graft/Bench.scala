package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: a full JSON line with per-query wall-clock seconds
  * (also written to bench_full_latest.json), then a compact summary line
  * sized to survive the driver's ~2 KB stdout-tail capture.
  * Queries are materialised through the `noop` sink so every output column
  * is actually computed (a bare `count()` lets Catalyst prune the
  * projections being measured). A warm-up pass touches each table once so
  * the first measured query isn't charged JVM/JIT/page-cache startup.
  *
  * Failure-honest: a query that throws (analysis or runtime) is recorded
  * with `status=error` + the exception head, and is EXCLUDED from every
  * total and from the per-query timing maps — an analysis failure takes
  * ~50 ms and would otherwise masquerade as a 10-50× speedup. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    Seq("lineitem", "orders", "customer", "documents", "embeddings").foreach { tb =>
      try graft.sources.Tables.table(spark, sfDir, tb).count()
      catch { case _: Throwable => }
    }
    try graft.sources.Tables.events(spark, sfDir).count()
    catch { case _: Throwable => }

    // optional comma-separated query filter for targeted scale rehearsals
    // (dev only — the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val todo = SparkEntry.queries.toSeq.sortBy(_._1) // pinned run order
      .filter(kv => only.forall(_.contains(kv._1)))
    // name -> (seconds, error-head if the query threw)
    def pass(): Seq[(String, Double, Option[String])] = todo.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case e: Throwable =>
          Some((Option(e.getMessage).getOrElse(e.getClass.getName))
            .linesIterator.take(1).mkString.take(160))
        }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }
    // Three passes: the first ("cold") is dominated by per-query Catalyst
    // analysis + whole-stage-codegen compilation (3-4 s of one-time cost on
    // the deepest plans — q_rain_season measured 4.25 s cold vs 1.0 s warm
    // at sf0.1), which made round-over-round per-query deltas mostly
    // JIT/janino noise. The canonical per-query number is the MIN of two
    // warm passes (each re-executes end to end through the noop sink, and
    // data is re-read and re-shuffled — except the four shared views that
    // queries.Shared persists once per session, `dailyTotals`, `climateDaily`,
    // `docComponents` and `winnowFps`: the queries that read them scan the
    // cached view in warm passes, and the view's build is paid in the cold
    // pass only; scheduling noise is one-sided additive, so min-of-k
    // estimates the true cost). The cold pass is kept in the JSON so
    // plan-cost regressions stay visible too.
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
                  case c if c < ' ' => " "; case c => c.toString }
    def toJson(r: Seq[(String, Double)]): String =
      r.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val cold = pass()
    val warm1 = pass().map { case (k, v, e) => k -> ((v, e)) }.toMap
    val warm2 = pass()
    // warm status is authoritative for the warm totals: a query whose two
    // warm passes both succeeded stays in `queries`/`value` even if the
    // cold pass failed transiently (otherwise a one-off cold failure
    // silently shrinks the warm denominator and totals stop being
    // comparable across rounds); the cold failure is still surfaced in
    // `cold_errors` and excluded from the cold totals.
    val merged = warm2.map { case (k, v2, e2) =>
      val (v1, e1) = warm1(k)
      (k, math.min(v1, v2), e2.orElse(e1))
    }
    val ok = merged.collect { case (k, v, None) => k -> v }
    val bad = merged.collect { case (k, _, Some(e)) => k -> e }
    val coldErrs = cold.collect { case (k, _, Some(e)) => k -> e }
    val coldOk = cold.collect { case (k, v, None) if !bad.exists(_._1 == k) => k -> v }
    val statuses = merged.map { case (k, _, e) =>
      "\"" + k + "\":\"" + (if (e.isDefined) "error" else "ok") + "\"" }
      .mkString("{", ",", "}")
    val errors = bad.map { case (k, e) => "\"" + k + "\":\"" + esc(e) + "\"" }
      .mkString("{", ",", "}")
    val coldErrors = coldErrs.map { case (k, e) => "\"" + k + "\":\"" + esc(e) + "\"" }
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":${ok.map(_._2).sum},"unit":"sec",""" +
      s""""n_ok":${ok.size},"n_error":${bad.size},""" +
      s""""queries":${toJson(ok)},"status":$statuses,"errors":$errors,""" +
      s""""cold_errors":$coldErrors,""" +
      s""""mode":"warm-min2","total_cold":${coldOk.map(_._2).sum},""" +
      s""""queries_cold":${toJson(coldOk)},"sf":"$sfDir"}"""
    println(line)
    // The driver captures stdout with a tail limit, which truncated the
    // per-query map to ~1/3 of the queries in past rounds — so the FULL
    // line is ALWAYS also written to a file (bench_full_latest.json in the
    // cwd unless SPARK_GRAFT_BENCH_OUT overrides; committed per round as
    // bench_full_r{N}.json) for untruncated regression tracking.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full_latest.json")
    val w = new java.io.PrintWriter(outPath)
    try w.println(line) finally w.close()
    // LAST line is a compact (<1.9 KB) self-contained summary: the driver
    // stores only the final ~2 KB of stdout, so the full line above has
    // never survived intact (BENCH_r*.json: parsed=null every round, tail
    // cut mid-map at an arbitrary key of the COLD map). This line carries
    // the totals plus the slowest warm queries, fits the tail whole, and
    // is valid JSON on its own; the full per-query maps live in the big
    // line and in bench_full_latest.json.
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val slow = ok.sortBy(-_._2).take(32).map { case (k, v) => k -> r3(v) }
    val line2 = s"""{"metric":"bench_total_warm","value":${r3(ok.map(_._2).sum)},""" +
      s""""unit":"sec","mode":"warm-min2","n_ok":${ok.size},"n_error":${bad.size},""" +
      s""""total_cold_sec":${r3(coldOk.map(_._2).sum)},""" +
      s""""queries":${toJson(slow)},""" +
      s""""note":"slowest 32 of ${ok.size}; full maps in bench_full_latest.json",""" +
      s""""sf":"$sfDir"}"""
    println(line2)
    spark.stop()
  }
}
