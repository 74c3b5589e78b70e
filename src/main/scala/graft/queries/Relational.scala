package graft
package queries

import graft.core.Time
import graft.indices.Generic
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Shared._

/** Driver queries over the TPC-H-ish star schema (`lineitem`, `orders`,
  * `customer`, `nation`, `region`). */
private[graft] object Relational {

  val queries: Seq[Query] = Seq(

    Query("q_agg_pricing_summary", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        // quantities are integral and prices exactly 2-decimal in this
        // schema: integral-double sums stay exact below 2^53, cent/1e-4
        // sums are exact int64 (order-free), and each final is one IEEE
        // division — engine-exact with no round()
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          (sum(uq(col("l_extendedprice"), 100))
            .cast("double") / lit(100.0)).as("sum_base_price"),
          (sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 1e4).cast("long")).cast("double") / lit(1e4)).as("sum_disc_price"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (sum(uq(col("l_extendedprice"), 100)).cast("double")
            / count(lit(1)) / lit(100.0)).as("avg_price"),
          count(lit(1)).as("count_order"))
    },
      """select l_returnflag, l_linestatus,
        | sum(l_quantity) sum_qty,
        | cast(sum(cast(round(l_extendedprice*100) as bigint)) as double)
        |   / 100.0 sum_base_price,
        | cast(sum(cast(round(l_extendedprice*(1-l_discount)*1e4) as bigint))
        |   as double) / 1e4 sum_disc_price,
        | sum(l_quantity) / count(*) avg_qty,
        | cast(sum(cast(round(l_extendedprice*100) as bigint)) as double)
        |   / count(*) / 100.0 avg_price,
        | count(*) count_order
        |from lineitem where l_shipdate <= timestamp '1998-09-02'
        |group by 1,2""".stripMargin),

    Query("q_join_revenue_by_nation", (s, dir) => {
      // star join: fact lineitem -> orders -> customer, broadcast dims
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        // revenue terms are exactly 4-decimal (2-dec price × 2-dec disc):
        // quantize each row to an exact int64 BEFORE the sum (order-free)
        // and divide once — engine-exact, no round()
        .agg((sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 1e4).cast("long")).cast("double") / lit(1e4)).as("revenue"),
          count(lit(1)).as("n_lines"))
    },
      """select r_name, n_name,
        | cast(sum(cast(round(l_extendedprice*(1-l_discount)*1e4) as bigint))
        |   as double) / 1e4 revenue, count(*) n_lines
        |from lineitem
        | join orders on l_orderkey = o_orderkey
        | join customer on o_custkey = c_custkey
        | join nation on c_nationkey = n_nationkey
        | join region on n_regionkey = r_regionkey
        |group by 1,2""".stripMargin),

    Query("q_topk_orders_per_segment", (s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        // o_totalprice is a raw DATA value — identical parquet bits in
        // both engines, no round needed
        .select(col("c_mktsegment"), col("rk"), col("o_orderkey"),
          col("o_totalprice"))
    },
      """select c_mktsegment, rk, o_orderkey, o_totalprice
        |from (select c_mktsegment, o_orderkey, o_totalprice,
        |  row_number() over (partition by c_mktsegment
        |    order by o_totalprice desc, o_orderkey) rk
        | from orders join customer on o_custkey = c_custkey) t
        |where rk <= 3""".stripMargin),

    Query("q_anti_join_customers_no_orders", (s, dir) => {
      // customers with no URGENT order (non-empty on this data, unlike the
      // no-orders-at-all variant which is vacuously 0 rows)
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o.filter(col("o_orderpriority") === "1-URGENT"),
          c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
    },
      """select c_mktsegment, count(*) n_customers from customer
        |where not exists (select 1 from orders
        |  where o_custkey = c_custkey and o_orderpriority = '1-URGENT')
        |group by 1""".stripMargin),

    Query("q_distinct_custs_per_priority", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_custs"),
          count(lit(1)).as("n_orders"))
    },
      """select o_orderpriority, count(distinct o_custkey) n_custs,
        | count(*) n_orders from orders group by 1""".stripMargin),

    Query("q_resample_ys_jul_lineitem", (s, dir) => {
      // quantities integral → the double sum is exact; raw, no round
      Generic.resampleOp(t(s, dir, "lineitem"), Seq("l_returnflag"), col("l_shipdate"), "YS-JUL",
        Seq(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_lines")))
    },
      """select l_returnflag,
        | cast(make_timestamp(case when month(l_shipdate) >= 7 then year(l_shipdate)
        |   else year(l_shipdate)-1 end, 7, 1, 0, 0, 0.0) as timestamp) period,
        | sum(l_quantity) sum_qty, count(*) n_lines
        |from lineitem group by 1,2""".stripMargin),

    Query("q_resample_qs_dec_orders", (s, dir) => {
      // cent-exact int64 sum + one division — order-free, engine-exact
      Generic.resampleOp(t(s, dir, "orders"), Seq.empty, col("o_orderdate"), "QS-DEC",
        Seq((sum(uq(col("o_totalprice"), 100)).cast("double")
          / lit(100.0)).as("sum_price"), count(lit(1)).as("n_orders")))
    },
      """with b as (select o_totalprice,
        |  year(o_orderdate)*12 + (month(o_orderdate)-1) - 11 rel from orders)
        |select cast(make_timestamp(((cast(floor(rel/3.0)*3 as int) + 11) // 12),
        |  ((cast(floor(rel/3.0)*3 as int) + 11) % 12) + 1, 1, 0, 0, 0.0) as timestamp) period,
        | cast(sum(cast(round(o_totalprice*100) as bigint)) as double)
        |   / 100.0 sum_price, count(*) n_orders
        |from b group by 1""".stripMargin),

    Query("q_running_monthly_revenue", (s, dir) => {
      // exact-cents discipline end to end: monthly totals are int64
      // 1e-4-unit sums (order-free), the running total sums those exact
      // ints in the window, and both emit one trailing division
      val monthly = Generic.resampleOp(t(s, dir, "lineitem"), Seq("l_returnflag"),
        col("l_shipdate"), "MS",
        Seq(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 1e4).cast("long")).as("_ru")))
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("period"))
        .rowsBetween(Window.unboundedPreceding, 0)
      monthly
        .withColumn("cum_revenue", sum(col("_ru")).over(w).cast("double") / lit(1e4))
        .select(col("l_returnflag"), col("period"),
          (col("_ru").cast("double") / lit(1e4)).as("revenue"), col("cum_revenue"))
    },
      """with monthly as (select l_returnflag,
        |  cast(date_trunc('month', l_shipdate) as timestamp) period,
        |  cast(sum(cast(round(l_extendedprice*(1-l_discount)*1e4) as bigint))
        |    as bigint) ru
        | from lineitem group by 1,2)
        |select l_returnflag, period, cast(ru as double) / 1e4 revenue,
        | cast(sum(ru) over (partition by l_returnflag order by period
        |   rows between unbounded preceding and current row) as double)
        |   / 1e4 cum_revenue
        |from monthly""".stripMargin),

    Query("q_time_bnds", (s, dir) => {
      t(s, dir, "orders")
        .select(Time.resamplePeriod(col("o_orderdate"), "MS").as("period"))
        .distinct()
        .withColumn("period_end", Time.periodEnd(col("period"), "MS"))
        .withColumn("n_days", Time.expectedDays(col("period"), "MS"))
    },
      """select distinct cast(date_trunc('month', o_orderdate) as timestamp) period,
        | cast(date_trunc('month', o_orderdate) + interval 1 month as timestamp) period_end,
        | cast(date_diff('day', cast(date_trunc('month', o_orderdate) as date),
        |   cast(date_trunc('month', o_orderdate) + interval 1 month as date)) as int) n_days
        |from orders""".stripMargin),

    Query("q_zones_totalprice", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(Generic.zones(col("o_totalprice"), 50000.0).as("bin"))
        // min/max are DATA values — raw, no round needed
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
    },
      """select cast(floor(o_totalprice/50000) as int) bin, count(*) n,
        | min(o_totalprice) min_price, max(o_totalprice) max_price
        |from orders group by 1""".stripMargin),

    Query("q_rollup_revenue", (s, dir) => {
      // hierarchical subtotals (grouping-sets family)
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        // same exact-cents discipline as q_join_revenue_by_nation
        .agg((sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 1e4).cast("long")).cast("double") / lit(1e4)).as("revenue"))
    },
      """select r_name, n_name,
        | cast(sum(cast(round(l_extendedprice*(1-l_discount)*1e4) as bigint))
        |   as double) / 1e4 revenue
        |from lineitem
        | join orders on l_orderkey = o_orderkey
        | join customer on o_custkey = c_custkey
        | join nation on c_nationkey = n_nationkey
        | join region on n_regionkey = r_regionkey
        |group by rollup(r_name, n_name)""".stripMargin),

    Query("q_small_quantity_revenue", (s, dir) => {
      // TPC-H Q17 shape: correlated per-part average via self-agg join
      val li = t(s, dir, "lineitem")
      val avgs = li.groupBy(col("l_partkey").as("pk"))
        .agg(avg(col("l_quantity")).as("avg_qty"))
      li.join(avgs, col("l_partkey") === col("pk"))
        .filter(col("l_quantity") < col("avg_qty") * 0.5)
        // prices are exactly 2-decimal: cent-quantized int64 sum, one
        // division by 700 (= ·1/7 ÷ 100) — engine-exact
        .agg((sum(uq(col("l_extendedprice"), 100))
            .cast("double") / lit(700.0)).as("avg_yearly"),
          count(lit(1)).as("n_lines"))
    },
      """with avgs as (select l_partkey pk, avg(l_quantity) avg_qty
        | from lineitem group by 1)
        |select cast(sum(cast(round(l_extendedprice*100) as bigint)) as double)
        |   / 700.0 avg_yearly,
        | count(*) n_lines
        |from lineitem join avgs on l_partkey = pk
        |where l_quantity < avg_qty * 0.5""".stripMargin),

    Query("q_bootstrap_percentile", (s, dir) => {
      // Zhang-2005 percentile bootstrap (core.Bootstrap): p90 of l_quantity
      // per returnflag, recomputed under each in-base year replacement
      // (1995-1997) as ONE unioned plan, then replica-averaged
      val base = t(s, dir, "lineitem")
        .filter(year(col("l_shipdate")).between(1995, 1997))
        .select(col("l_returnflag"), col("l_quantity"),
          year(col("l_shipdate")).as("yr"))
      val reps = graft.core.Bootstrap.replicas(base, col("yr"), Seq(1995, 1996, 1997))
      val perReplica = reps.groupBy(col("l_returnflag"), col("bootstrap_id"))
        .agg(percentile(col("l_quantity"), lit(0.9)).as("p90"))
      perReplica.groupBy(col("l_returnflag"))
        .agg(qk(avg(col("p90")), 6).as("p90_bootstrap"),
          count(lit(1)).as("n_replicas"))
    },
      """with base as (select l_returnflag, l_quantity, year(l_shipdate) yr
        | from lineitem where year(l_shipdate) between 1995 and 1997),
        |pairs as (select a.y y_out, b.y y_in
        | from (values (1995),(1996),(1997)) a(y), (values (1995),(1996),(1997)) b(y)
        | where a.y <> b.y),
        |reps as (
        | select l_returnflag, l_quantity,
        |  cast(y_out as varchar) || '<-' || cast(y_in as varchar) bootstrap_id
        | from base join pairs on yr <> y_out
        | union all
        | select l_returnflag, l_quantity,
        |  cast(y_out as varchar) || '<-' || cast(y_in as varchar) bootstrap_id
        | from base join pairs on yr = y_in),
        |per as (select l_returnflag, bootstrap_id,
        |  quantile_cont(l_quantity, 0.9) p90 from reps group by 1,2)
        |select l_returnflag,
        | floor((avg(p90))*1e6 + 0.5)/1e6 p90_bootstrap,
        | count(*) n_replicas
        |from per group by 1""".stripMargin),

    Query("q_percentile_doy", (s, dir) => {
      // true percentile_doy (calendar.py:396-494): same day-of-year pooled
      // ACROSS YEARS +-2 days with wraparound, H&F type-8 — lineitem spans
      // 7 years so this exercises the multi-year semantics
      graft.indices.Season.doyPercentile(
          t(s, dir, "lineitem"), Seq("l_returnflag"), "l_shipdate", "l_quantity",
          halfWindow = 2, p = 0.9)
        .select(col("l_returnflag"), col("doy"),
          qk(col("doy_pct"), 6).as("p90"))
    },
      s"""with base as (
         |  select l_returnflag k, cast(dayofyear(l_shipdate) as int) doy, l_quantity v
         |  from lineitem
         |),
         |contrib as (
         |  select k, ((doy - 1 + off + 365) % 365) + 1 doy2, v
         |  from base, unnest(generate_series(-2, 2)) as u(off)
         |),
         |s as (select k, doy2 doy, list_sort(list(v)) a, cast(count(v) as double) n
         |      from contrib group by 1, 2)
         |select k l_returnflag, doy,
         |  floor((${hfSql(0.9)})*1e6 + 0.5)/1e6 p90
         |from s""".stripMargin),

    Query("q_tx90p", (s, dir) => {
      // tx90p shape (_multivariate.py:1300): occurrences above the doy-p90
      // climatology per year — multi-year percentile join + resample count
      graft.indices.PercentileIndicators.doyExceedance(
          t(s, dir, "lineitem"), Seq("l_returnflag"), "l_shipdate", "l_quantity",
          p = 0.9, op = ">", halfWindow = 2, freq = "YS")
        .select(col("l_returnflag"), col("period"), col("value").as("n_over"))
    },
      s"""with base as (
         |  select l_returnflag k, cast(dayofyear(l_shipdate) as int) doy,
         |    l_quantity v, l_shipdate
         |  from lineitem
         |),
         |contrib as (
         |  select k, ((doy - 1 + off + 365) % 365) + 1 doy2, v
         |  from base, unnest(generate_series(-2, 2)) as u(off)
         |),
         |s as (select k, doy2 doy, list_sort(list(v)) a, cast(count(v) as double) n
         |      from contrib group by 1, 2),
         |pctl as (select k, doy, ${hfSql(0.9)} pct from s)
         |select b.k l_returnflag,
         |  cast(make_timestamp(year(b.l_shipdate), 1, 1, 0, 0, 0.0) as timestamp) period,
         |  cast(coalesce(sum(case when b.v > p.pct then 1 end), 0) as bigint) n_over
         |from base b join pctl p on p.k = b.k and p.doy = ((b.doy - 1) % 365) + 1
         |group by 1, 2""".stripMargin),

    Query("q_stratified_sample", (s, dir) => {
      // Deterministic stratified sample: exactly 5 rows per l_returnflag
      // stratum by hash rank (window sort spills -> stratum size never
      // bounds executor memory).
      graft.pipeline.Sampling.stratifiedSample(
          t(s, dir, "lineitem")
            .withColumn("sid", col("l_orderkey") * 10 + col("l_linenumber")),
          Seq("l_returnflag"), col("sid"), k = 5)
        .select(col("l_returnflag"), col("sid"))
    },
      """with li as (select l_returnflag, l_orderkey*10 + l_linenumber sid from lineitem),
        |h as (select l_returnflag, sid,
        |  cast(cast(concat('0x', substr(md5(concat(cast(sid as varchar), 'graft')), 1, 13))
        |    as ubigint) as double)/4503599627370496.0 f
        | from li),
        |r as (select l_returnflag, sid,
        |  row_number() over (partition by l_returnflag order by f, sid) rk from h)
        |select l_returnflag, sid from r where rk <= 5""".stripMargin),

    Query("q_tx90p_bootstrap", (s, dir) => {
      // tx90p with @percentile_bootstrap (Zhang 2005): in-base years
      // 1995-1997, each year scored against its 2 replica climatologies
      // (H&F-8 doy pools +-2) and averaged.
      graft.indices.PercentileIndicators.doyExceedanceBootstrap(
          t(s, dir, "lineitem").select(col("l_returnflag"),
            col("l_shipdate").as("d"), col("l_quantity").cast("double").as("v")),
          Seq("l_returnflag"), "d", "v", p = 0.9, op = ">", halfWindow = 2,
          baseYears = Seq(1995, 1996, 1997))
        .select(col("l_returnflag"), col("y"),
          // exact-integer evidence: value = avg over replicas of integer
          // exceedance counts, so value·n_replicas is the total count —
          // scale-0 round only absorbs a possible 1-ulp division residue
          round(col("value") * col("n_replicas")).cast("long")
            .as("n_over_sum"),
          col("n_replicas"))
    },
      s"""with base as (
         |  select l_returnflag k, l_shipdate d, cast(l_quantity as double) v,
         |    year(l_shipdate) y, cast(dayofyear(l_shipdate) as int) doy
         |  from lineitem where year(l_shipdate) between 1995 and 1997
         |),
         |pairs as (
         |  select a.y y_out, b.y y_in
         |  from (select distinct y from base) a
         |  join (select distinct y from base) b on b.y <> a.y
         |),
         |reps as (
         |  select p.y_out, p.y_in, b.* from pairs p join base b on b.y <> p.y_out
         |  union all
         |  select p.y_out, p.y_in, b.* from pairs p join base b on b.y = p.y_in
         |),
         |contrib as (
         |  select k, y_out, y_in, ((doy - 1 + off + 365) % 365) + 1 doy2, v
         |  from reps, unnest(generate_series(-2, 2)) as u(off)
         |),
         |s as (select k, y_out, y_in, doy2, list_sort(list(v)) a,
         |  cast(count(v) as double) n from contrib group by 1, 2, 3, 4),
         |pctl as (select k, y_out, y_in, doy2, ${hfSql(0.9)} pct from s),
         |cnt as (
         |  select b.k, b.y, p.y_in,
         |    coalesce(sum(case when b.v > p.pct then 1 end), 0) c
         |  from base b join pctl p
         |    on p.k = b.k and p.y_out = b.y and p.doy2 = ((b.doy - 1) % 365) + 1
         |  group by 1, 2, 3
         |)
         |select k l_returnflag, y,
         |  cast(sum(c) as bigint) n_over_sum,
         |  count(*) n_replicas
         |from cnt group by 1, 2""".stripMargin),

    Query("q_dd_quantiles", (s, dir) => {
      // DDSketch log-bucket quantiles (Sketches.ddHistogram/ddQuantiles,
      // Masson et al. VLDB'19): per return flag, the price distribution
      // collapses to ≤ ~600 integer-keyed buckets (map-side partial
      // sums — the shuffle is sketch-sized at any corpus scale), then
      // six quantile reads walk the cumulative counts. Bucket index is
      // integer math over the qln micro-grid, counts exact int64, so
      // the oracle replays the whole sketch bit-for-bit; the estimate
      // is ONE micro-grid exp per output row.
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_extendedprice").as("px"))
      val hist = pipeline.Sketches.ddHistogram(li, "flag", "px")
      pipeline.Sketches
        .ddQuantiles(hist, Seq(0.01, 0.25, 0.5, 0.75, 0.9, 0.99))
        .select(col("grp").as("flag"), col("q"), col("n"), col("sign"),
          col("bucket"), col("cum"), col("est"))
    },
      // the full DDSketch replayed in SQL: same qln micro-grid, same
      // integer floor-division bucket, same cumulative-rank walk, same
      // single micro-grid exp for the estimate (ln(1) guards the x=0
      // branch — Spark's log returns NULL there, DuckDB's ln would -inf)
      """with v as (select l_returnflag flag, cast(l_extendedprice as double) x
        |  from lineitem
        |  where l_extendedprice is not null and isfinite(l_extendedprice)),
        |lv as (select flag, x,
        |    cast(floor(ln(case when x = 0 then 1 else abs(x) end)
        |         * 1e6 + 0.5) as bigint) l from v),
        |b as (select flag,
        |    case when x > 0 then 1 when x < 0 then -1 else 0 end sign,
        |    case when x = 0 then 0
        |      else cast((l - ((l % 19803 + 19803) % 19803)) / 19803 as bigint)
        |    end bucket
        |  from lv),
        |h as (select flag, sign, bucket, cast(count(*) as bigint) cnt
        |  from b group by 1, 2, 3),
        |c as (select flag, sign, bucket, cnt,
        |    cast(sum(cnt) over (partition by flag
        |      order by sign, sign * bucket
        |      rows between unbounded preceding and current row) as bigint) cum,
        |    cast(sum(cnt) over (partition by flag) as bigint) n from h),
        |qs as (select cast(q as double) q from (values (0.01), (0.25),
        |   (0.5), (0.75), (0.9), (0.99)) qv(q))
        |select flag, q, n, sign, bucket, cum,
        |  case when sign = 0 then 0.0 else
        |    sign * (floor(exp((bucket * 19803) / 1e6) * 1e6 + 0.5) / 1e6)
        |  end est
        |from c join qs on (cum - cnt) <= floor(q * (n - 1))
        |  and floor(q * (n - 1)) < cum""".stripMargin)
  )
}
