package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** RFC 9309 Robots Exclusion Protocol — the crawl-politeness filter in
  * front of every fetch list: parse per-host `robots.txt` bodies into
  * rule groups and keep only the URLs the selected user-agent may fetch.
  *
  * Decision semantics per the RFC: the group(s) whose `User-agent` line
  * matches the crawler exactly (case-insensitive) govern; absent any,
  * the `*` groups do. Among matching rules the LONGEST pattern wins;
  * an allow/disallow tie at equal length resolves to allow; no matching
  * rule means allowed. Patterns are anchored prefixes with `*` and `$`
  * ([[graft.functions.RobotsMatch]]).
  *
  * Scale shape: [[filterAllowed]] aggregates the rule table to one
  * (host, rules-array) row per host and LEFT-JOINs the URL frame to it
  * on the canonical host — broadcast-hinted, since per-host rule groups
  * are tiny relative to any crawl frontier, and a broadcast relation
  * (unlike a plan-embedded literal) streams, spills, and ships once per
  * executor even at millions of hosts. The per-URL decision then runs
  * inside the join output with no further shuffle: filter the host's
  * rules by match, take the lexicographic max of (plen, allow). If the
  * host table outgrows broadcast (hundreds of millions of hosts), drop
  * the hint at the call site by pre-joining yourself; the decision
  * columns are unchanged.
  *
  * Lenient parse per RFC §2.2: unknown fields and malformed lines are
  * ignored, field names are case-insensitive, `#` starts a comment,
  * empty Disallow means "allow all" (no rule emitted).
  */
object Robots {

  /** One robots.txt body → (agent, allow, pattern) rules. */
  def parseRules(body: String): Seq[(String, Boolean, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, String)]
    var agents = List.empty[String]
    var inGroup = false // false while still collecting user-agent lines
    body.linesIterator.foreach { raw =>
      val line = raw.indexOf('#') match {
        case -1 => raw.trim
        case h  => raw.substring(0, h).trim
      }
      line.split(":", 2) match {
        case Array(k, v) =>
          val key = k.trim.toLowerCase
          val value = v.trim
          key match {
            case "user-agent" =>
              if (inGroup) { agents = Nil; inGroup = false }
              if (value.nonEmpty) agents ::= value.toLowerCase
            case "allow" | "disallow" =>
              inGroup = true
              if (value.nonEmpty && agents.nonEmpty)
                agents.foreach(a => out += ((a, key == "allow", value)))
            case _ => inGroup = agents.nonEmpty // sitemap etc.: ignored
          }
        case _ => // blank/malformed line: ignored
      }
    }
    out.toSeq
  }

  /** One robots.txt body → (agent, crawl-delay seconds) pairs — the
    * de-facto `Crawl-delay` extension (honored by Bing/Yandex; Google
    * ignores it, so callers always pass their own default). Same group
    * state machine and leniency as [[parseRules]]; unparseable values
    * are ignored. */
  def parseCrawlDelays(body: String): Seq[(String, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var agents = List.empty[String]
    var inGroup = false
    body.linesIterator.foreach { raw =>
      val line = raw.indexOf('#') match {
        case -1 => raw.trim
        case h  => raw.substring(0, h).trim
      }
      line.split(":", 2) match {
        case Array(k, v) =>
          val key = k.trim.toLowerCase
          val value = v.trim
          key match {
            case "user-agent" =>
              if (inGroup) { agents = Nil; inGroup = false }
              if (value.nonEmpty) agents ::= value.toLowerCase
            case "crawl-delay" =>
              inGroup = true
              value.toDoubleOption.filter(d => d >= 0 && d.isFinite)
                .foreach(d => agents.foreach(a => out += ((a, d))))
            case _ => inGroup = agents.nonEmpty
          }
        case _ =>
      }
    }
    out.toSeq
  }

  /** (host, body) robots table → one (host, delay_s) row per host that
    * states a delay for `agent` (exact-agent groups govern when any
    * exist, else `*`; several applicable delays take the MAX — the
    * conservative read). Hosts without a delay are absent — the
    * scheduler's default covers them. */
  def crawlDelays(robots: DataFrame, agent: String): DataFrame = {
    val spark = robots.sparkSession
    import spark.implicits._
    val a = agent.toLowerCase
    robots.select(col("host"), col("body")).as[(String, String)]
      .flatMap { case (host, body) =>
        parseCrawlDelays(Option(body).getOrElse(""))
          .filter(r => r._1 == a || r._1 == "*")
          .map { case (ag, d) => (host, ag == a, d) }
      }.toDF("host", "exact", "delay_s")
      .withColumn("_any_exact", max(when(col("exact"), 1).otherwise(0))
        .over(Window.partitionBy(col("host"))))
      .filter(col("exact") === (col("_any_exact") === 1))
      .groupBy(col("host")).agg(max(col("delay_s")).as("delay_s"))
  }

  /** Politeness SCHEDULER: assign every frontier URL its per-host fetch
    * slot (FIFO by `priorityCol` — ties must be impossible, use a
    * unique id) and the earliest allowed fetch time
    * `startMs + slot·delay·1000`. Emitting times instead of sleeping
    * keeps the schedule a plain column a fetch executor consumes; the
    * one shuffle is the frontier keyed by host, which ANY per-host
    * politeness scheme pays. Hosts outside `delays` get
    * `defaultDelayS`. */
  def schedule(urls: DataFrame, hostCol: Column, priorityCol: Column,
               delays: DataFrame, startMs: Long,
               defaultDelayS: Double = 1.0): DataFrame = {
    for (c <- Seq("_sched_host", "slot", "fetch_at_ms"))
      require(!urls.columns.contains(c),
        s"schedule reserves column name '$c'")
    val w = Window.partitionBy(col("_sched_host")).orderBy(priorityCol)
    urls.withColumn("_sched_host", hostCol)
      .join(broadcast(delays.select(col("host").as("_sched_host"),
        col("delay_s"))), Seq("_sched_host"), "left_outer")
      .withColumn("slot", (row_number().over(w) - 1).cast("long"))
      // floor(x+0.5), not a bare long cast: Spark's double→long
      // truncates where DuckDB's rounds — the grid makes fractional
      // delays engine-exact too (house rule, see queries.Shared.uq)
      .withColumn("fetch_at_ms", lit(startMs) +
        floor(col("slot") * coalesce(col("delay_s"), lit(defaultDelayS))
          * 1000.0 + 0.5).cast("long"))
      .drop("_sched_host", "delay_s")
  }

  /** (host, body) robots table → (host, allow, pattern, plen) rules for
    * `agent`, applying the RFC group-selection rule per host: the
    * exact-agent groups when any exist, else the `*` groups. */
  def rulesFor(robots: DataFrame, agent: String): DataFrame = {
    val spark = robots.sparkSession
    import spark.implicits._
    val a = agent.toLowerCase
    val parsed = robots.select(col("host"), col("body")).as[(String, String)]
      .flatMap { case (host, body) =>
        parseRules(Option(body).getOrElse(""))
          .filter(r => r._1 == a || r._1 == "*")
          .map { case (ag, allow, pat) => (host, ag == a, allow, pat) }
      }.toDF("host", "exact", "allow", "pattern")
    parsed
      .withColumn("_any_exact", max(when(col("exact"), 1).otherwise(0))
        .over(Window.partitionBy(col("host"))))
      .filter(col("exact") === (col("_any_exact") === 1))
      .select(col("host"), col("allow"), col("pattern"),
        length(col("pattern")).as("plen"))
  }

  /** Keep the rows of `urls` whose `urlCol` the rules permit. The URL is
    * canonicalized first so rule matching sees the dedup-normal form.
    * `rules` must be (host, allow, pattern, plen); it is aggregated to
    * one row per host and broadcast-joined to the URL frame — the URL
    * side never shuffles and never widens (one array column in, dropped
    * on the way out). */
  def filterAllowed(urls: DataFrame, urlCol: Column, rules: DataFrame): DataFrame = {
    for (c <- Seq("_robots_host", "_robots_rules"))
      require(!urls.columns.contains(c),
        s"Robots.filterAllowed: input already has a column named '$c' " +
          "(reserved as join scratch — rename it before filtering)")
    val perHost = rules
      .groupBy(col("host").as("_robots_host"))
      .agg(collect_list(struct(col("plen").cast("int").as("plen"),
        col("allow").as("allow"), col("pattern").as("pattern"))).as("_robots_rules"))
    val u = graft.functions.UrlNormalize.urlNormalize(urlCol)
    val hostRe = "^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)"
    val path = regexp_replace(u, "^[a-z][a-z0-9+.-]*://[^/]*", "")
    val joined = urls
      .withColumn("_robots_host", regexp_extract(u, hostRe, 1))
      .join(broadcast(perHost), Seq("_robots_host"), "left")
    val matched = filter(col("_robots_rules"),
      r => graft.functions.RobotsMatch.robotsMatch(path, r.getField("pattern")))
    // array_max orders structs field-by-field: longest plen first, allow
    // beating disallow on equal length; empty/missing → null → allowed
    joined.filter(coalesce(array_max(matched).getField("allow"), lit(true)))
      .drop("_robots_host", "_robots_rules")
  }
}
