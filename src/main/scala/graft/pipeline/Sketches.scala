package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed cardinality sketches with ENGINE-EXACT outputs.
  *
  * HyperLogLog (Flajolet et al. 2007, AofA — the estimator every engine
  * ships as `approx_count_distinct`) is, unlike most sketches,
  * order-FREE: a register is `max(rho)` over the bucket's hashes, and
  * max commutes with any aggregation tree. Pinning the hash
  * (md5-derived, available in every engine) therefore makes the whole
  * register table — and the estimate computed from it — bit-identical
  * across engines, partitionings and merge orders. That is the
  * property Spark's own `approx_count_distinct` does NOT give an
  * external verifier (xxhash64 seed + private register layout), and
  * why this implementation exists beside it.
  *
  * 100 TB shape: map-side partial `max` per (group, bucket) collapses
  * the shuffle to ≤ m rows per group (m = 2^b, 256 here) no matter how
  * many input rows — the sketch IS the aggregation state. Contrast the
  * exact `count(distinct)`: a full shuffle of every distinct value.
  *
  * Numeric discipline (per queries.Shared.q6's rules): the indicator sum
  * `Z^-1 = Σ 2^-r` is kept as the exact int64 `S = Σ 2^(53-r)`
  * (≤ 2^61, order-free); the estimate is then ONE float division of
  * exact integers (raw branch) or a micro-grid `ln` (linear-counting
  * branch) — engine-exact either way.
  */
object Sketches {

  /** 60-bit md5-derived hash — positive, identical in any engine with
    * md5 + hex parsing (15 hex chars < 2^63, no sign pitfalls). */
  def hash60(v: Column): Column =
    conv(substring(md5(v), 1, 15), 16, 10).cast("long")

  /** HLL register table: one row per (group, bucket) with register
    * value r = max over hashes of (leading-zero count of the 52-bit
    * suffix + 1) ∈ [1, 53]. b = index bits (m = 2^b buckets). */
  def hllRegisters(df: DataFrame, grpCol: String, valCol: String,
                   b: Int = 8): DataFrame = {
    require(b >= 4 && b <= 16, s"index bits out of range: $b")
    val hv = hash60(col(valCol))
    val w = shiftright(hv, b) // (60-b)-bit suffix
    val suffixBits = 60 - b
    df.select(col(grpCol).as("grp"),
        pmod(hv, lit(1 << b)).as("bucket"),
        when(w === 0, lit(suffixBits + 1))
          .otherwise(lit(suffixBits + 1) - length(bin(w))).as("rho"))
      .groupBy(col("grp"), col("bucket"))
      .agg(max(col("rho")).cast("long").as("r"),
        count(lit(1)).as("n_vals")) // input rows per bucket — free here;
        // = the exact distinct count per bucket when df is pre-deduped
  }

  /** Collapse registers to per-group evidence + the HLL estimate with
    * the standard small-range linear-counting switch. Emits the exact
    * integer evidence (nz, reg_sum, s_int) beside the float estimate
    * so external engines can verify the sketch state itself. */
  def hllEstimate(registers: DataFrame, b: Int = 8): DataFrame = {
    val m = 1 << b
    val suffixBits = 60 - b
    val two53 = math.pow(2, suffixBits + 1) // 2^(suffixBits+1), exact
    val alphaMM = (0.7213 / (1.0 + 1.079 / m)) * m * m
    // when the register table carries n_vals, roll it up too — with a
    // pre-deduped input that yields the EXACT distinct count in the same
    // single aggregation chain (no separate countDistinct pass)
    val baseAggs = Seq(count(lit(1)).as("nz"),
      sum(col("r")).as("reg_sum"),
      sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST(${suffixBits + 1} - r AS INT))"))
        .as("s_int"))
    val aggs = if (registers.columns.contains("n_vals"))
      baseAggs :+ sum(col("n_vals")).as("n_input") else baseAggs
    val agg = registers.groupBy(col("grp")).agg(aggs.head, aggs.tail: _*)
    val zeros = lit(m) - col("nz")
    val raw = (lit(alphaMM) * lit(two53)) /
      (col("s_int") + zeros * lit(two53.toLong)).cast("double")
    // micro-grid ln (see queries.Shared.qln): portable across libm builds
    val lnArg = lit(m).cast("double") / zeros.cast("double")
    val lc = lit(m) * (floor(log(lnArg) * lit(1e6) + lit(0.5)) / lit(1e6))
    val outCols = Seq(col("grp"), col("nz"), col("reg_sum"), col("s_int"),
      when(col("nz") < m && raw <= lit(2.5 * m), lc).otherwise(raw).as("est"),
      when(col("nz") < m && raw <= lit(2.5 * m), lit(1)).otherwise(lit(0))
        .as("small_range")) ++
      (if (agg.columns.contains("n_input")) Seq(col("n_input")) else Nil)
    agg.select(outCols: _*)
  }

  /** Merge two register tables — max per (grp, bucket). THE lake-
    * maintenance property: sketch each partition/day at write time,
    * merge sketches at query time, never re-touch raw data. Exactly
    * equals the sketch of the concatenated inputs (max is associative,
    * commutative, idempotent), pinned by CorpusOpsR10Spec. n_vals does
    * not survive a merge (the halves may share values), so the merged
    * table carries registers only. */
  def hllMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("grp"), col("bucket"), col("r"))
      .unionByName(b.select(col("grp"), col("bucket"), col("r")))
      .groupBy(col("grp"), col("bucket")).agg(max(col("r")).as("r"))

  // ---- Count-Min sketch (Cormode & Muthukrishnan 2005, J.Alg) ------
  //
  // The other order-free sketch: counters are plain integer SUMS, so a
  // pinned hash makes the full d×w state — and every point estimate —
  // bit-identical across engines and merge orders. Fixed-size frequency
  // state at any input scale: the shuffle after the map-side partial
  // agg is bounded by d·w·groups rows per partition, never by the
  // corpus.

  /** CMS counter table: one row per (group, d, idx) with the exact
    * occurrence sum. Depth-d hashes derive from the same md5 family as
    * [[hash60]], salted by the row index. */
  def cmsCounters(df: DataFrame, grpCol: String, valCol: String,
                  depth: Int = 4, width: Int = 1024): DataFrame = {
    require(depth >= 1 && depth <= 8 && width >= 16,
      s"bad CMS shape $depth x $width")
    df.select(col(grpCol).as("grp"), explode(array((0 until depth).map { d =>
        struct(lit(d).as("d"),
          pmod(hash60(concat(lit(s"$d:"), col(valCol))), lit(width)).as("idx"))
      }: _*)).as("h"))
      .groupBy(col("grp"), col("h.d").as("d"), col("h.idx").as("idx"))
      .agg(count(lit(1)).as("counter"))
  }

  /** Point-frequency estimates for `probes`: min over the d counters a
    * probe hashes to (the classic CMS upper bound; counts 0 for cells
    * never touched). Probes ride a tiny broadcast cross join against
    * the distinct groups — output is |groups|·|probes| rows. */
  def cmsEstimate(counters: DataFrame, probes: Seq[String],
                  depth: Int = 4, width: Int = 1024): DataFrame = {
    val spark = counters.sparkSession
    import spark.implicits._
    val probeRows = counters.select(col("grp")).distinct()
      .crossJoin(broadcast(probes.toDF("probe")))
      .select(col("grp"), col("probe"),
        explode(array((0 until depth).map { d =>
          struct(lit(d).as("d"),
            pmod(hash60(concat(lit(s"$d:"), col("probe"))), lit(width))
              .as("idx"))
        }: _*)).as("h"))
      .select(col("grp"), col("probe"), col("h.d").as("d"),
        col("h.idx").as("idx"))
    probeRows.join(counters, Seq("grp", "d", "idx"), "left_outer")
      .groupBy(col("grp"), col("probe"))
      .agg(min(coalesce(col("counter"), lit(0L))).as("cms_est"))
  }

  /** Merge two CMS counter tables — counter sums are linear, so the
    * merge is a plain re-aggregation and equals the sketch of the
    * concatenated inputs. */
  def cmsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("grp"), col("d"), col("idx"))
      .agg(sum(col("counter")).as("counter"))

  // ---- KMV / bottom-k sketch (Bar-Yossef et al. 2002; Beyer et al.
  // SIGMOD 2007 for the unbiased estimator and set operations) -------
  //
  // The third order-free sketch: the k smallest hash values of a set
  // are ORDER STATISTICS of the pinned hash — engine-exact like the
  // HLL registers, but closed under set operations: merging two
  // sketches' values and re-taking the bottom k IS the union's sketch,
  // which gives cross-corpus overlap (Jaccard / intersection size)
  // without comparing a single element pair. That is the planning
  // primitive for cross-source dedup at 100 TB: estimate |A ∩ B| from
  // two k-row sketches before paying for the real join.

  /** Bottom-k sketch per group: the k smallest distinct 60-bit hashes.
    * One (grp, hv) dedup shuffle, then a HIERARCHICAL top-k: bottom-k
    * within (grp, hv mod 32) sub-buckets first — 32 parallel sorted
    * windows per group instead of one task sorting the group's whole
    * distinct set (group count is tiny, so the flat window serialized
    * each group through one reducer; measured 2.3 s → sub-second on
    * 5 × ~1M-hash groups) — then bottom-k of the ≤ 32k survivors.
    * Exact: every member of the global bottom-k is inside its own
    * sub-bucket's bottom-k. */
  def kmvMins(df: DataFrame, grpCol: String, valCol: String,
              k: Int = 128): DataFrame = {
    val sub = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"), col("_b")).orderBy(col("hv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("hv"))
    df.select(col(grpCol).as("grp"), hash60(col(valCol)).as("hv")).distinct()
      .withColumn("_b", pmod(col("hv"), lit(32)))
      .withColumn("_srk", row_number().over(sub)).filter(col("_srk") <= k)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("grp"), col("hv"))
  }

  /** Merge two bottom-k sketches — dedup the union of values and
    * re-take the bottom k per group; equals the sketch of the
    * concatenated inputs (bottom-k of a union is the bottom-k of the
    * two bottom-k sets). */
  def kmvMerge(a: DataFrame, b: DataFrame, k: Int = 128): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("hv"))
    a.select(col("grp"), col("hv")).unionByName(b.select(col("grp"), col("hv")))
      .distinct()
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("grp"), col("hv"))
  }

  // ---- DDSketch log-bucket quantile histogram (Masson, Lee & Rim,
  // VLDB 2019 — the relative-error quantile sketch DataDog/OpenTelemetry
  // standardized) ----------------------------------------------------
  //
  // The fourth order-free sketch, and the one that closes the quantile
  // gap: HLL/KMV answer "how many distinct", CMS answers "how often",
  // this answers "what value at rank q" with bounded RELATIVE error —
  // the only quantile state that is (a) fixed-size (≤ a few hundred
  // buckets across 300 orders of magnitude), (b) mergeable by plain
  // counter addition (merge == whole, like CMS), and (c) engine-exact
  // here because the bucket index is INTEGER math end to end:
  //
  //   L = floor(ln|x|·1e6 + 0.5)              (the qln micro-grid, int64)
  //   bucket = (L - pmod(L, G)) / G           (floor division, exact)
  //
  // with G = floor(ln γ·1e6 + 0.5) pinned as an integer CONSTANT, so
  // both engines derive identical buckets from identical input bits
  // (the division is exact: the numerator is a multiple of G and both
  // operands sit far inside 2^53). Counter sums are exact int64 —
  // fold-order-free — so the merged table equals the whole-input table
  // bit for bit, and a DuckDB oracle replays the entire sketch.
  //
  // 100 TB shape: map-side partial sum per (group, sign, bucket)
  // collapses the shuffle to ≤ a few hundred rows per group regardless
  // of input size — sketch each partition/day at write time, add
  // counters at query time, never re-touch raw data. Contrast exact
  // percentiles: a full sort or a full collect_list per group.

  /** Default γ ≈ e^0.019803 ≈ 1.02 — ≤ 2% relative error, ~580 buckets
    * from 1e-3 to 1e5. The constant is the INTEGER micro-grid ln so the
    * oracle can spell the same literal. */
  val ddDefaultG: Long = 19803L

  /** DDSketch bucket table: one row per (group, sign, bucket) with the
    * exact occurrence count. sign ∈ {-1, 0, 1} (zero values get their
    * own counter, negatives bucket by |x| — the standard two-store +
    * zero-counter layout); bucket b covers |x| ∈ [γ^b, γ^(b+1)). */
  def ddHistogram(df: DataFrame, grpCol: String, valCol: String,
                  g: Long = ddDefaultG): DataFrame = {
    require(g >= 100L && g <= 1000000L, s"ln-gamma micro-units out of range: $g")
    val x = col(valCol).cast("double")
    val sign = when(x > 0, lit(1)).when(x < 0, lit(-1)).otherwise(lit(0))
    val l = floor(log(abs(x)) * lit(1e6) + lit(0.5)).cast("long")
    // exact floor division: numerator is a multiple of g, both < 2^53
    val bucket = ((l - pmod(l, lit(g))) / lit(g)).cast("long")
    // NULL/NaN/±Inf rows drop (they carry no rank; NaN/null would
    // otherwise silently land in the zero counter via three-valued
    // logic) — the oracle mirrors with `isfinite(x)`
    df.filter(x.isNotNull && !isnan(x) && abs(x) < lit(Double.PositiveInfinity))
      .select(col(grpCol).as("grp"), sign.as("sign"),
        when(sign === 0, lit(0L)).otherwise(bucket).as("bucket"))
      .groupBy(col("grp"), col("sign"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Merge two bucket tables — counter sums are linear, so the merge is
    * a plain re-aggregation and equals the sketch of the concatenated
    * inputs (the lake-maintenance property, same as [[cmsMerge]]). */
  def ddMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("grp"), col("sign"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Quantile reads from a bucket table: for each group and each q in
    * `qs`, the bucket holding rank floor(q·(n−1)) in value order
    * (sign asc, sign·bucket asc — monotone in x across the negative
    * store, the zero counter and the positive store) and its lower-edge
    * estimate sign·γ^bucket, underestimating |x| by at most the γ−1
    * relative width. All evidence columns (n, rank, sign, bucket,
    * cum) are exact integers; the estimate is ONE micro-grid exp —
    * engine-exact per the qln/q6 discipline. */
  def ddQuantiles(hist: DataFrame, qs: Seq[Double],
                  g: Long = ddDefaultG): DataFrame = {
    val spark = hist.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp"))
      .orderBy(col("sign"), (col("sign") * col("bucket")).as("ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = org.apache.spark.sql.expressions.Window.partitionBy(col("grp"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(wn))
    // rank falls inside this bucket: cum−cnt ≤ floor(q(n−1)) < cum.
    // q·(n−1): one IEEE multiply of exact ints — deterministic.
    cum.join(broadcast(qs.toDF("q")),
        (col("cum") - col("cnt")) <= floor(col("q") * (col("n") - 1)) &&
          floor(col("q") * (col("n") - 1)) < col("cum"))
      .select(col("grp"), col("q"), col("n"), col("sign"), col("bucket"),
        col("cum"),
        when(col("sign") === 0, lit(0.0)).otherwise(
          col("sign") * (floor(
            exp((col("bucket") * lit(g)) / lit(1e6)) * lit(1e6) + lit(0.5))
            / lit(1e6))).as("est"))
  }

  private val Window = org.apache.spark.sql.expressions.Window

  // ---- Bloom filter as a DISTRIBUTED sketch table (Bloom 1970,
  // CACM) --------------------------------------------------------------
  //
  // Set-membership completes the sketch algebra: HLL answers distinct
  // counts, CMS frequencies, KMV overlaps, DDSketch quantiles — Bloom
  // answers "have we seen this exact value" with zero false negatives.
  // [[graft.pipeline.Dedup.decontaminateBloom]] already builds a
  // DRIVER-collected bloom (a broadcast literal — right for filters up
  // to a few MB). This is the TABLE form for the sizes that idiom
  // cannot reach: (grp, word, bits) rows hold m past driver/broadcast
  // limits (2^33 bits = 1 GB/group is just 2^28 rows), membership is a
  // hash-partitioned equi-join instead of a literal scan, and the merge
  // is bitwise OR per word — order-free, idempotent, merge == whole,
  // the same lake-maintenance contract as the other four sketches.
  //
  // 32-bit words (bits value < 2^31, always positive) sidestep both
  // engines' 1<<63 sign/overflow traps; hashes are the pinned md5
  // family, so an external engine replays the full bit table.

  /** Column-valued shift count (the functions API only takes Int
    * literals). */
  private def shl(e: Column, cnt: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(org.apache.spark.sql.catalyst.expressions.ShiftLeft(
      ColumnBridge.expression(e), ColumnBridge.expression(cnt)))
  }

  /** The k bit positions of a value: four 32-bit chunks per md5 (one
    * md5 digest is 32 hex chars — 4× fewer digest computations than a
    * salted md5 per position; the shingle hot path measured 4.2 s →
    * see q_bloom_membership), blocks beyond the first salted `b<j>:`.
    * External replay: `substr(md5(...), 1+8·d, 8)` hex-parsed, mod m. */
  private def bloomPositions(v: Column, mBits: Long, k: Int): Seq[Column] =
    (0 until k).map { d =>
      val block = d / 4
      val digest =
        if (block == 0) md5(v) else md5(concat(lit(s"b$block:"), v))
      pmod(conv(substring(digest, 1 + 8 * (d % 4), 8), 16, 10).cast("long"),
        lit(mBits))
    }

  /** Bloom bit table: one row per (group, word) with the OR of all
    * 32-bit masks that any of the k per-value hashes set. Absent words
    * are all-zero (never materialized). Values dedupe per group BEFORE
    * the k-way hash expansion — a bloom is a set, OR is idempotent, and
    * the partial-aggregating dedup shuffle of (grp, value) rows is far
    * cheaper than k digest computations per duplicate occurrence (the
    * same reasoning as the oracle's `select distinct`). */
  def bloomBits(df: DataFrame, grpCol: String, valCol: String,
                mBits: Long = 1L << 20, k: Int = 4): DataFrame = {
    require(mBits >= 64 && mBits % 32 == 0, s"mBits multiple of 32: $mBits")
    require(k >= 1 && k <= 8, s"k hashes in [1,8], got $k")
    df.select(col(grpCol).as("grp"), col(valCol).as("v")).distinct()
      .select(col("grp"),
        explode(array(bloomPositions(col("v"), mBits, k): _*)).as("bit"))
      .select(col("grp"), shiftright(col("bit"), 5).as("word"),
        shl(lit(1L), pmod(col("bit"), lit(32L)).cast("int")).as("mask"))
      .groupBy(col("grp"), col("word"))
      .agg(expr("bit_or(mask)").as("bits"))
  }

  /** Merge two bit tables — OR per (grp, word); equals the sketch of
    * the concatenated inputs (OR is associative, commutative,
    * idempotent — re-adding a partition is harmless, unlike CMS). */
  def bloomMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("grp"), col("word"))
      .agg(expr("bit_or(bits)").as("bits"))

  /** Membership probes: for each (group, probe), true iff ALL k hash
    * bits are set. Probes explode to their (word, needed-mask) rows
    * (two hashes can share a word — OR them first), left-join the bit
    * table on (grp, word), and AND the per-word checks; a missing word
    * row is an unset bit. Zero false negatives by construction; false
    * positives at the standard (1−e^{−kn/m})^k rate. */
  def bloomContains(bloom: DataFrame, probes: Seq[String],
                    mBits: Long = 1L << 20, k: Int = 4): DataFrame = {
    val spark = bloom.sparkSession
    import spark.implicits._
    val need = bloom.select(col("grp")).distinct()
      .crossJoin(broadcast(probes.toDF("probe")))
      .select(col("grp"), col("probe"),
        explode(array(bloomPositions(col("probe"), mBits, k): _*)).as("bit"))
      .select(col("grp"), col("probe"), shiftright(col("bit"), 5).as("word"),
        shl(lit(1L), pmod(col("bit"), lit(32L)).cast("int")).as("mask"))
      .groupBy(col("grp"), col("probe"), col("word"))
      .agg(expr("bit_or(mask)").as("need"))
    need.join(bloom, Seq("grp", "word"), "left_outer")
      .select(col("grp"), col("probe"),
        (coalesce(col("bits"), lit(0L)).bitwiseAND(col("need"))
          === col("need")).as("hit"))
      .groupBy(col("grp"), col("probe"))
      .agg(expr("bool_and(hit)").as("present"),
        count(lit(1)).as("n_words"))
  }

  /** Pairwise overlap estimates from bottom-k sketches: for each
    * (pa, pb) pair, merge the two sketches, keep the union's bottom k,
    * and read off Jaccard = |both| / |kept| plus the KMV cardinality
    * estimate (kept−1)·2^60 / kth-min — every evidence column an exact
    * integer, the estimates single divisions of exact ints. */
  def kmvOverlap(mins: DataFrame, pairs: Seq[(String, String)],
                 k: Int = 128): DataFrame = {
    val spark = mins.sparkSession
    import spark.implicits._
    val two60 = math.pow(2, 60)
    val pdf = broadcast(pairs.toDF("pa", "pb"))
    // both pair sides consume the sketch — checkpoint so the dedup +
    // window top-k runs once, not once per side (house pattern, see
    // SparkEntry's lag-join queries)
    val mem = mins.localCheckpoint(false)
    val a = mem.join(pdf, col("grp") === col("pa"))
      .select(col("pa"), col("pb"), col("hv"),
        lit(1).as("ina"), lit(0).as("inb"))
    val b = mem.join(pdf, col("grp") === col("pb"))
      .select(col("pa"), col("pb"), col("hv"),
        lit(0).as("ina"), lit(1).as("inb"))
    val merged = a.unionByName(b)
      .groupBy(col("pa"), col("pb"), col("hv"))
      .agg(max(col("ina")).as("ina"), max(col("inb")).as("inb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pa"), col("pb")).orderBy(col("hv"))
    merged.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("n_kept"), max(col("hv")).as("union_kth"),
        sum((col("ina") * col("inb")).cast("long")).as("n_common"))
      .select(col("pa"), col("pb"), col("n_kept"), col("union_kth"),
        col("n_common"),
        (col("n_common").cast("double") / col("n_kept")).as("jaccard"),
        ((col("n_kept") - 1).cast("double") * lit(two60)
          / col("union_kth").cast("double")).as("union_est"))
      .withColumn("inter_est", col("jaccard") * col("union_est"))
  }
}
