package graft
package queries

import graft.core.SessionState
import graft.pipeline.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What every query family shares: table resolution, the four session
  * views, the engine-exact quantizers with their SQL spellings, and the
  * fixture-store helpers. */
private[queries] object Shared {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") graft.sources.Tables.events(s, dir)
    else graft.sources.Tables.table(s, dir, name)

  /** A shared view: `plan` persisted once per (session, dir), held in
    * [[graft.core.SessionState]] under `dir/#name` and bound to the
    * session, so a stopped session's view is dropped on the next
    * lookup. */
  def view(s: SparkSession, dir: String, name: String)(
      plan: => DataFrame): DataFrame =
    SessionState(s"$dir/#$name", Some(s))(plan.persist())

  /** Per-user daily totals — the engine's canonical "daily climate series"
    * shape derived from the raw event stream. A [[view]], persisted once
    * per session: ~25 queries share this exact subplan, so the scan and
    * shuffle are paid once per run (the materialized-view pattern a lake
    * would use at scale). */
  def dailyTotals(s: SparkSession, dir: String): DataFrame =
    view(s, dir, "dailyTotals")(
      t(s, dir, "events")
        .groupBy(col("user_id"), date_trunc("DAY", col("ts")).cast("date").as("d"))
        .agg(sum(col("value")).as("total"), count(lit(1)).as("n_events")))

  val dailySql =
    """select user_id, cast(date_trunc('day', ts) as date) d,
      | sum(value) total, count(*) n_events from events group by 1, 2""".stripMargin

  /** Engine-exact 6-decimal quantization: floor(x·1e6 + 0.5)/1e6 uses only
    * IEEE-exact operations (multiply, add, floor, long→double cast, divide
    * by a power of ten), so every engine and library version computes
    * identical bits from identical input bits — unlike `round(x, 6)`,
    * which flipped five r8 queries on the driver's DuckDB build while
    * passing locally. `round(x)` to an INTEGER remains portable (HALF_UP
    * and half-away-from-zero agree on every representable tie) and stays
    * in use for intermediate micro-unit casts. Ties round toward +∞ for
    * negatives — consistently in both engines, which is what matters.
    * VALID RANGE |x| < 9.2e12: Spark's floor(double) returns LongType and
    * saturates at ±2^63 where DuckDB's floor stays in double, so the two
    * engines diverge beyond x·1e6 ≈ 2^63 (and the +0.5 is already
    * meaningless past 2^53). Every current q6 call site is a p-value,
    * z-score, variance or ratio far inside the range; check before
    * quantizing anything n³-shaped at larger n. */
  def q6(c: Column): Column =
    floor(c * lit(1e6) + lit(0.5)).cast("double") / lit(1e6)

  /** [[q6]] at scale k — `round(x, k)` made engine-portable: the floor
    * grid floor(x·10^k + 0.5)/10^k, ties toward +∞ in both engines (the
    * oracle spells the identical expression inline). The r11 GateSpec
    * shrink migrates legacy raw-float `round(,k)` finals here. */
  def qk(c: Column, k: Int): Column = {
    val s = math.pow(10.0, k.toDouble)
    floor(c * lit(s) + lit(0.5)).cast("double") / lit(s)
  }

  /** Micro-unit quantization to exact int64: `floor(x·s + 0.5)` — same
    * grid as `round(x·s).cast(long)` but ~2× faster on the hot path
    * (measured r10: Spark's Round over DoubleType allocates a
    * java.math.BigDecimal PER ROW inside codegen; floor is a bare
    * Math.floor). For x ≥ 0 it equals the oracle's half-away-from-zero
    * `round(x*s)` bit-for-bit, so positive money/count sites keep their
    * round() oracle SQL; sign-indefinite inputs must spell
    * floor(...+0.5) on BOTH sides (ties round toward +∞). */
  def uq(c: Column, s: Double): Column = floor(c * lit(s) + lit(0.5))

  /** libm ln/exp/pow are not correctly rounded and differ across builds
    * (JVM vs whatever libm the driver's DuckDB links); quantizing the
    * transcendental's OUTPUT onto the 1e-6 grid before any further
    * arithmetic makes everything downstream engine-exact (flip risk
    * ulp/quantum ≈ 1e-9 per call, vs certain failure at version-dependent
    * round() boundaries). Costs 6 decimals of precision — document at the
    * call site when the output is a sum of many quantized terms. The
    * oracle SQL spells the same grid inline as floor(ln(x)*1e6+0.5)/1e6
    * (plain string literals; keep the two spellings in sync). */
  def qln(c: Column): Column = q6(log(c))

  /** Build a fixture STORE directory once, ATOMICALLY: the Zarr writers
    * emit metadata before chunk data, so a bare existence probe can see
    * a half-written store from a concurrent bench/verify JVM. The build
    * runs in a pid-suffixed staging dir renamed into place when complete
    * (same-directory rename = atomic on POSIX); a concurrent loser just
    * deletes its staging copy. `probe` is the file whose presence marks
    * a finished store; "" when the store is that single file. */
  private def buildStoreOnce(dir: java.io.File, probe: String)
                    (build: java.io.File => Unit): Unit = {
    if (new java.io.File(dir, probe).isFile) return
    val staging = new java.io.File(dir.getParentFile,
      dir.getName + "_build_" + ProcessHandle.current().pid())
    build(staging)
    if (!staging.renameTo(dir)) deleteTree(staging) // another process won the race
  }

  /** Deletes `f` and, unless it is a symlink, everything below it. */
  private def deleteTree(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Runs a stateful fixture in a fresh temp root named after `prefix` and
    * deletes the whole root afterwards, also when the fixture throws. The
    * fixture still calls its format's own `destroy`, which also evicts the
    * root's [[graft.core.SessionState]] entries. */
  def withFixtureRoot[A](prefix: String)(fixture: String => A): A = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toFile
    try fixture(root.getPath) finally deleteTree(root)
  }

  /** DuckDB twin of [[graft.pipeline.Similarity.dotQuantized]] over
    * 64-dim lists: per-element products on the 1e-12 floor grid summed
    * as integers (fold-order-free), cast to double (exact below 2^53). */
  def dotQSql(a: String, b: String): String =
    s"cast(list_sum(list_transform(range(1,65), i -> " +
      s"cast(floor(cast($a[i] as double) * cast($b[i] as double) * 1e12 + 0.5) " +
      s"as bigint))) as double)"

  /** DuckDB twin of `Similarity.cosineQuantized` — every op after the
    * integer dots is a single IEEE correctly-rounded double op, so the
    * result is bit-identical to Spark's. */
  def cosQSql(a: String, b: String): String =
    s"(${dotQSql(a, b)} / sqrt(${dotQSql(a, a)} * ${dotQSql(b, b)}))"

  /** Near-dup components over `documents` — a [[view]] persisted once
    * per session like [[dailyTotals]]: the LSH + verify +
    * iterative-propagation pipeline is shared by the clustering and
    * keep-step queries, so the candidate generation and component rounds
    * are paid once per run. */
  def docComponents(s: SparkSession, dir: String): DataFrame =
    view(s, dir, "docComponents")(
      // exact-collapse composition: LSH runs over distinct contents only;
      // provably identical output to components over the raw pair list
      // (Dedup.nearDupComponents doc) — the duplicate-heavy-corpus path
      Dedup.nearDupComponents(t(s, dir, "documents"), "doc_id", "text",
        ngram = 3, threshold = 0.7, numHashes = 16, bands = 16))

  /** DuckDB H&F quantile over a sorted list column `a` with count `n`
    * (type 8 at alpha=beta=1/3) — expression mirror of
    * `Stats.hfQuantileOfSorted`. */
  def hfSql(p: Double): String = {
    val h = s"greatest(1.0, least((n - 1.0/3.0 - 1.0/3.0 + 1.0)*$p + 1.0/3.0, n))"
    s"""case when n < 1 then null else
       |  a[cast(floor($h) as int)]
       |  + ($h - floor($h))
       |    * (a[least(cast(floor($h) as int) + 1, cast(n as int))]
       |       - a[cast(floor($h) as int)]) end""".stripMargin
  }

  /** Multi-year daily climate series derived deterministically from
    * lineitem (7 years of l_shipdate, 3 entities = l_returnflag): daily
    * precipitation [mm], mean temperature [degC] and a per-entity latitude.
    * Aggregates are quantized to 2 decimals BEFORE the nonlinear solar/PET
    * chains so Spark and the oracle cannot diverge on summation order.
    *
    * A [[view]] persisted once per session like [[dailyTotals]]: ~25
    * queries share this exact scan+agg subplan, its output is O(entities
    * × days) ≈ 7.5k rows at ANY scale factor, and un-shared it
    * re-attributed the lineitem scan cost to whichever consumer ran first
    * in a bench pass (the r5 `q_winter_rain_ratio` ×2.95 "regression" —
    * PLANS §36). */
  def climateDaily(s: SparkSession, dir: String): DataFrame =
    view(s, dir, "climateDaily")(climateDailyPlan(s, dir))

  private def climateDailyPlan(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag").as("k"), col("l_shipdate").cast("date").as("d"))
      // prices summed as exact integer cents (l_extendedprice has 2
      // decimals; a float avg lands exactly ON .005 rounding boundaries,
      // where engine summation order flips the rounded value — integer
      // summation is order-free), quantities are integer-valued -> exact
      .agg(sum(uq(col("l_extendedprice"), 100)).as("epc"),
        count(lit(1)).as("nli"),
        sum(col("l_quantity")).as("prsum"))
      .select(col("k"), col("d"),
        (ascii(col("k")) - 70).cast("double").as("lat"),
        (col("prsum") / 25.0).as("pr"),
        (col("epc").cast("double") / col("nli") / 200000.0 - 10.0).as("tas"))

  /** Oracle twin of [[climateDaily]] (CTE body). */
  val climSql =
    """clim as (
      |  select l_returnflag k, cast(l_shipdate as date) d,
      |    cast(ascii(l_returnflag) - 70 as double) lat,
      |    cast(sum(l_quantity) as double)/25.0 pr,
      |    cast(cast(sum(cast(round(l_extendedprice*100) as bigint)) as bigint) as double)
      |      /count(*)/200000.0 - 10.0 tas
      |  from lineitem group by 1, 2
      |)""".stripMargin

  /** Spencer solar-geometry CTE chain over a source CTE exposing (d, lat):
    * day angle, declination, eccentricity, sunset hour angle, and daily
    * extraterrestrial radiation `ra` [J m-2 d-1] at the 1361 W/m2 solar
    * constant (helpers.py:119/:195/:400 twins). */
  def solarSql(src: String): String =
    s"""sol as (
       |  select *,
       |    2.0*pi()*(cast(dayofyear(d) as double) - 1.0)
       |      /cast(dayofyear(make_date(year(d), 12, 31)) as double) da,
       |    radians(lat) latr
       |  from $src
       |),
       |dec_ as (
       |  select *,
       |    0.006918 - 0.399912*cos(da) + 0.070257*sin(da) - 0.006758*cos(2*da)
       |      + 0.000907*sin(2*da) - 0.002697*cos(3*da) + 0.001480*sin(3*da) decl,
       |    1.0001100 + 0.034221*cos(da) + 0.001280*sin(da) + 0.000719*cos(2*da)
       |      + 0.000077*sin(2*da) ecc
       |  from sol
       |),
       |hs_ as (
       |  select *, acos(greatest(-1.0, least(1.0, -tan(latr)*tan(decl)))) hss
       |  from dec_
       |),
       |ra_ as (
       |  select *,
       |    1361.0*86400.0/pi()*ecc*(hss*sin(latr)*sin(decl)
       |      + cos(latr)*cos(decl)*sin(hss)) ra
       |  from hs_
       |)""".stripMargin

  /** Acklam inverse-normal-CDF rational approximation as a SQL CASE over a
    * probability-valued column expression (mirrors `SpecialMath.probit`). */
  def probitSql(p: String): String = {
    def horner(cs: Seq[Double], x: String): String =
      cs.tail.foldLeft(cs.head.toString)((acc, ci) => s"($acc*$x + $ci)")
    val a = Seq(-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
      1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Seq(-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
      6.680131188771972e+01, -1.328068155288572e+01)
    val c = Seq(-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
      -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00)
    val d = Seq(7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
      3.754408661907416e+00)
    val qLo = s"sqrt(-2.0*ln($p))"
    val qHi = s"sqrt(-2.0*ln(1.0 - $p))"
    def tailExpr(q: String): String =
      s"(${horner(c, q)}) / ((${horner(d, q)})*$q + 1.0)"
    val centerQ = s"($p - 0.5)"
    val centerR = s"($centerQ*$centerQ)"
    s"""case when $p < 0.02425 then ${tailExpr(qLo)}
       | when $p <= 0.97575 then
       |   (${horner(a, centerR)})*$centerQ / ((${horner(b, centerR)})*$centerR + 1.0)
       | else -${tailExpr(qHi)} end""".stripMargin
  }

  /** Winnowed (k=5, w=8) fingerprints of `documents` — a [[view]]
    * persisted once per session like [[climateDaily]]: the hash+window
    * pass feeds both winnow queries, so it is paid once per run
    * (PLANS §39). */
  def winnowFps(s: SparkSession, dir: String): DataFrame =
    view(s, dir, "winnowFps")(
      graft.pipeline.TextStats.winnowFingerprints(
        t(s, dir, "documents"), "doc_id", "text", k = 5, w = 8))

  val winnowSql: String =
    """norm as (select doc_id, regexp_replace(lower(trim(text)), '[^a-z0-9 ]', '', 'g') t
      |  from documents),
      |wp as (select doc_id, t, unnest(range(1, cast(len(t) as bigint) - 3)) p from norm),
      |wh as (select doc_id, p,
      |  ((((((((cast(ascii(t[p]) as bigint) % 2147483647)*257 + ascii(t[p+1])) % 2147483647)*257
      |    + ascii(t[p+2])) % 2147483647)*257 + ascii(t[p+3])) % 2147483647)*257
      |    + ascii(t[p+4])) % 2147483647 h
      |  from wp),
      |wk as (select doc_id, p, h*1048576 + (1048575 - p) kk from wh),
      |ws as (select doc_id,
      |  min(kk) over (partition by doc_id order by p
      |    rows between current row and 7 following) selkey,
      |  count(*) over (partition by doc_id order by p
      |    rows between current row and 7 following) nw
      |  from wk),
      |wd as (select distinct doc_id, selkey from ws where nw = 8),
      |wfp as (select doc_id, cast(1048575 - (selkey % 1048576) as int) pos,
      |  selkey // 1048576 fp from wd)""".stripMargin

  /** Per-language corpus checksum: counts, char mass, md5-prefix content
    * sums (32-bit prefixes — sums stay far below int64 even at 1e9
    * docs/lang), id span. Order-free, integer-only: engine-exact. */
  def docChecksum(back: DataFrame): DataFrame =
    back.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
          .as("text_sum"),
        sum(conv(substring(md5(col("source")), 1, 8), 16, 10).cast("long"))
          .as("source_sum"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))

  val docChecksumSql: String =
    """select lang, cast(count(*) as bigint) n_docs,
      | cast(sum(n_chars) as bigint) sum_chars,
      | cast(sum(cast(concat('0x', substr(md5(text), 1, 8)) as ubigint))
      |   as bigint) text_sum,
      | cast(sum(cast(concat('0x', substr(md5(source), 1, 8)) as ubigint))
      |   as bigint) source_sum,
      | min(doc_id) min_id, max(doc_id) max_id
      |from documents""".stripMargin

  private def tmpFile(name: String): java.io.File =
    new java.io.File(System.getProperty("java.io.tmpdir"), name)

  /** The fixture store `name` under the JVM tmpdir, built once through
    * [[buildStoreOnce]]: `build` writes it at the staging path it is
    * given. Returns the store's path. */
  def fixtureStore(name: String, probe: String)(build: String => Unit): String = {
    val store = tmpFile(name)
    buildStoreOnce(store, probe)(staging => build(staging.getPath))
    store.getPath
  }

  /** Per-(sf dir, format) fixture path under the JVM tmpdir. */
  def rtDir(dir: String, tag: String): String =
    tmpFile(s"graft_rt_${tag}_${java.lang.Integer.toHexString(dir.hashCode)}").getPath
}
