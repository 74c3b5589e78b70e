package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

/** r9 engine-exactness gate. r8 shipped five queries whose `round(x, 6)`
  * finals matched the LOCAL DuckDB build and not the driver's: `round`
  * with a positive scale is engine- AND version-dependent (Spark rounds
  * the exact binary expansion via BigDecimal HALF_UP; DuckDB rounds a
  * scaled double and its algorithm has changed across releases), and libm
  * exp/ln/pow differ across builds by an ulp. The portable discipline is
  * floor(x·10^k + 0.5) over IEEE-exact inputs (queries.Shared.q6/qln).
  *
  * This gate freezes the pre-r9 `round(,s>0)`-over-raw-float emitters as
  * a LEGACY set (each passed the driver's oracle for multiple rounds on
  * the fixed testdata, so their values sit off-boundary; rewriting all at
  * once would risk more than it buys) and fails any query OUTSIDE that set
  * that introduces a raw-float positive-scale round — new queries must
  * quantize first. Shrink the legacy list over time; NEVER add to it.
  * r10 shrink (119 → 88): exact-int ratios dropped round() entirely
  * (spearman, kendall, langid, doc_stats, the three jaccard emitters),
  * float means/sums micro-quantize before aggregation (type_ratio,
  * ntile_deciles, max_run_sum, centroid_dims), transcendental finals
  * route through the floor-grid (pmi_bigrams, embedding_quantize); the
  * TPC-H money family (revenue joins/rollups/resamples, pricing summary,
  * rolling means) rides exact cent/1e-4-unit int64 sums, raw DATA
  * values (topk price, zone min/max) emit unrounded, and windowed daily
  * totals (between-dates, 3-day max, warmest-window argmax, sessionize)
  * follow the cent discipline. Late-r10 shrink (88 → 85): q_json_props,
  * q_find_events, q_image_decode_stats — all three finals were exact
  * int64s through ONE IEEE division (avg of json ints; event_sum/25;
  * channel_sum/192), so the round was pure risk and is gone from both
  * engines.
  *
  * r11 shrink (85 → 39): 46 simple-final emitters moved to the qk floor
  * grid in BOTH engines (queries.Shared.qk; oracle spells
  * floor(x·10^k+0.5)/10^k inline) — the analog metrics pair, hydrology
  * ratios (bfi/rbi/runoff), detrend slopes, sdii/sea-ice/degree-day
  * sums, snowfall approximations, uncertainty partitions, ensemble
  * stats/percentiles, robustness fractions, moment fits, H&F-8 and
  * doy percentiles, KS/Brown-Forsythe statistics, CUSUM's FINAL stat
  * (its per-step 8-digit HALF_UP quantization stays round(,8) in the
  * oracle — it mirrors the kernel's BigDecimal HALF_UP, which is not
  * the floor grid).
  *
  * r13 shrink (16 → 10): the five float dot products moved to the
  * INTEGER-GRID cosine (Similarity.cosineQuantized / queries.Shared.cosQSql
  * — per-element products on the 1e-12 floor grid summed as int64, so
  * the fold order cannot move an ulp and the final sqrt/divide are
  * single correctly-rounded IEEE ops: the emitted doubles are
  * bit-identical across engines, rounds gone, ranks exact). The
  * migration also surfaced and fixed a LATENT phase mismatch the old
  * round(4) masked: Spark 4's lateral-column-alias resolution binds a
  * transform lambda's col("vec_id") to a same-select alias while DuckDB
  * lambdas see the input column — planted-copy perturbations now use
  * distinct names on both sides. q_snowpack_flow_lag dropped its round
  * outright (exact-integer avg inputs).
  *
  * r17 shrink #2 (4 → 3): q_pet_thornthwaite — quantize=6 had already
  * gridded every interior transcendental and mean since its r-early
  * build, making pet_mm = 16·dl_m·powq two IEEE multiplies of grid
  * doubles; the final round(,4) was pure vestige and moved to the qk
  * floor grid on both sides. What remains (3) is the sequential
  * recursions: chill portions and FWI (plus overwintering-DC, which
  * consumes FWI's dc) — per-step libm transcendentals inside
  * round8-quantized state, where §81 demands an integer-grid redesign
  * of the recursion itself, not a bulk rewrite.
  *
  * r17 shrink (5 → 4): q_griffiths_ffdi migrated — the recursion it
  * rides (KBDI) was already exact-state since r15, so the remaining
  * ulp surfaces were the drought factor's float event-rain fold (now
  * the exact 1e-4 integer grid) and four libm transcendentals
  * (pow(n,1.3), the smd exponential, FFDI's pow and exp — each now q6
  * floor-grid before further arithmetic); df emits its 8-decimal
  * HALF_UP state unrounded and ffdi is ONE IEEE multiply of two grid
  * doubles, so both finals dropped round(,4) entirely.
  *
  * r16 shrink (6 → 5): q_api_recursive migrated per the same playbook —
  * the gap decay became STEPWISE multiplication by the same parsed 0.9
  * (never pow(0.9, gap), whose last ulp is libm-dependent), the oracle
  * replays the dense per-day recursion step-identically (recursive CTE,
  * one IEEE multiply + add per day), and the final lands on the qk 1e6
  * grid instead of round(,3) over the raw float tail.
  *
  * r15 shrink (7 → 6): q_kbdi_recursive migrated to the floor grid on
  * both sides — pa sums the exact 1e4-integer rain grid (order-free,
  * no round), the kbdi FINAL quantizes floor-grid (qk / floor·1e4 —
  * cross-engine deterministic on identical doubles, which the per-step
  * 8-decimal state quantization guarantees). The per-step recursion
  * itself is untouched (§81: state redesigns only, never bulk).
  *
  * r14 shrink (10 → 7): q_tx90p_bootstrap emits the exact-integer
  * replica-count SUM (value·n_replicas, scale-0 round only) instead of
  * the rounded float average; q_data_flags_battery's climatology flag
  * compares both operands on the 1e-6 INTEGER grid
  * (DataFlags.outsideClimatology, floor(x·1e6+0.5) as long — the q6
  * discipline, bit-identical across engines); q_fire_season turned out
  * to carry no flagged round at all (stale entry from the r9 audit).
  *
  * What remains (7) is NOT the mechanical class above: (a)
  * builtin-vs-builtin comparisons where the two engines legitimately
  * evaluate DIFFERENT expression trees (quantile_cont/regr_slope/stddev
  * vs our window forms — round is what makes the comparison well-posed);
  * (b) transcendental-dense converter chains (esat/UTCI/PET/fire) where
  * the oracle replays the formula but libm differs per call — migrating
  * means a q6 after EVERY transcendental, a per-query rewrite; (c) the
  * sequential recursions (FWI/KBDI/chill/API/DC), which per the PLANS
  * §81 lesson migrate only with an integer-grid REDESIGN of the
  * recursion state itself. Shrink opportunistically when touching one;
  * don't bulk-rewrite — the round is load-bearing for comparison there,
  * not a portability bug in the engine output.
  */
class GateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  /** Queries with pre-r9 raw-float round(,s>0) finals, grandfathered.
    * Frozen at the r9 audit (tools.RoundScan) — additions are a gate
    * failure by design. */
  private val legacyRawRound: Set[String] = Set(
    "q_chill_portions",
    "q_fwi_codes",
    "q_overwintering_dc")

  test("no NEW query uses round(,s>0) over raw float math") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) if !legacyRawRound.contains(name) =>
        val plan =
          try fn(spark, sfDir).queryExecution.analyzed
          catch { case e: Throwable => fail(s"$name failed to analyze: $e") }
        val raw = plan.collect { case p =>
          p.expressions.flatMap(_.collect {
            case Round(c, Literal(s: Int, _), _)
                if s > 0 && c.dataType == DoubleType &&
                  !graft.tools.RoundScan.gridAligned(c, s) =>
              s"$name: round(${c.simpleString(40)}, $s)"
          })
        }.flatten
        raw
      case _ => Nil
    }
    assert(offenders.isEmpty,
      "raw-float round(,s>0) in a non-legacy query — use queries.Shared.q6/" +
        "qln (floor(x*1e6+0.5) discipline) instead:\n" +
        offenders.mkString("\n"))
  }

  test("MannKendallS kernel equals the pair-cloud S on tied series") {
    import spark.implicits._
    val rng = new scala.util.Random(20260814)
    for (trial <- 1 to 10) {
      val n = 3 + rng.nextInt(80)
      // coarse grid forces plenty of exact ties
      val xs = Seq.fill(n)((rng.nextInt(8) * 0.5) - 1.0)
      val brute = (for {
        i <- 0 until n; j <- (i + 1) until n
      } yield math.signum(xs(j) - xs(i)).toLong).sum
      val got = xs.zipWithIndex.map { case (x, t) => (1L, t, x) }
        .toDF("id", "t", "x")
        .groupBy(col("id"))
        .agg(graft.functions.MannKendallS.mannKendallS(
          transform(array_sort(collect_list(struct(col("t"), col("x")))),
            s => s.getField("x"))).as("s"))
        .collect()(0).getAs[Long]("s")
      assert(got == brute, s"trial $trial xs=$xs")
    }
  }

  test("KendallCmd Knight kernel equals the pair cloud on tied pairs") {
    import spark.implicits._
    val rng = new scala.util.Random(20260815)
    for (trial <- 1 to 10) {
      val n = 3 + rng.nextInt(60)
      // coarse grids on BOTH margins force x-ties, y-ties and joint ties
      val xs = Seq.fill(n)((rng.nextInt(5) * 0.5) - 1.0)
      val ys = Seq.fill(n)(rng.nextInt(4).toDouble)
      val brute = (for {
        i <- 0 until n; j <- (i + 1) until n
      } yield (math.signum(xs(j) - xs(i)) *
        math.signum(ys(j) - ys(i))).toLong).sum
      val bn1 = xs.groupBy(identity).values.map(g =>
        g.size.toLong * (g.size - 1) / 2).sum
      val bn2 = ys.groupBy(identity).values.map(g =>
        g.size.toLong * (g.size - 1) / 2).sum
      val row = xs.zip(ys).map { case (x, y) => (1L, x, y) }
        .toDF("id", "x", "y")
        .groupBy(col("id"))
        .agg(graft.functions.MannKendallS.kendallCmd(
          collect_list(struct(col("x"), col("y")))).as("kt"))
        .select(col("kt.cmd"), col("kt.n1"), col("kt.n2"))
        .collect()(0)
      assert(row.getAs[Long]("cmd") == brute, s"trial $trial cmd")
      assert(row.getAs[Long]("n1") == bn1, s"trial $trial n1")
      assert(row.getAs[Long]("n2") == bn2, s"trial $trial n2")
    }
  }

  test("rank-based Pettitt s_t equals the pair-cloud sign sum on ties") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val n = 60
    val xs = Seq.fill(n)((rng.nextInt(6) * 0.25) - 0.5)
    val df = xs.zipWithIndex.map { case (x, t) => (1L, t, x) }.toDF("id", "t", "x")
    // pair cloud: s_t = sum_{j != t} sign(x_t - x_j)
    val a = df.alias("a"); val b = df.alias("b")
    val cloud = a.join(b, col("a.id") === col("b.id") && col("a.t") =!= col("b.t"))
      .groupBy(col("a.t").as("t"))
      .agg(sum(signum(col("a.x") - col("b.x"))).cast("long").as("s_cloud"))
    // rank form: s_t = 2*rank + tk - n - 2 (midranks)
    import org.apache.spark.sql.expressions.Window
    val ranked = df
      .withColumn("rnk", rank().over(
        Window.partitionBy(col("id")).orderBy(col("x"))).cast("long"))
      .withColumn("tk", count(lit(1)).over(
        Window.partitionBy(col("id"), col("x"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("id"))))
      .select(col("t"),
        (lit(2L) * col("rnk") + col("tk") - col("n") - lit(2L)).as("s_rank"))
    val joined = cloud.join(ranked, "t")
      .filter(col("s_cloud") =!= col("s_rank")).count()
    assert(joined == 0L)
  }
}
