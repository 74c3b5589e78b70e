package graft
package queries

import graft.core.{Runs, Stats}
import graft.indices.Generic
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Shared._

/** Driver queries over the raw `events` stream: resampling, rolling
  * windows, sessions, converters, fits and the other per-row climate
  * operators. */
private[graft] object Events {

  val queries: Seq[Query] = Seq(

    Query("q_resample_daily_by_type", (s, dir) => {
      Generic.resampleOp(t(s, dir, "events"), Seq("event_type"), col("ts"), "D",
        Seq(count(lit(1)).as("n"), qk(sum(col("value")), 6).as("total")))
    },
      """select event_type, cast(date_trunc('day', ts) as timestamp) period,
        | count(*) n, floor((sum(value))*1e6 + 0.5)/1e6 total from events group by 1,2""".stripMargin),

    Query("q_resample_7d_events", (s, dir) => {
      Generic.resampleOp(t(s, dir, "events"), Seq.empty, col("ts"), "7D",
        Seq(count(lit(1)).as("n"),
          (sum(uq(col("value"), 100)).cast("double")
            / count(lit(1)) / lit(100.0)).as("avg_value")))
    },
      """select cast(date '1970-01-01' + to_days(cast(floor(
        |  date_diff('day', date '1970-01-01', ts)/7.0)*7 as int)) as timestamp) period,
        | count(*) n, cast(sum(cast(round(value*100) as bigint)) as double)
        |   / count(*) / 100.0 avg_value
        |from events group by 1""".stripMargin),

    Query("q_rolling_mean_7", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        // full 7-row windows only (rn >= 7): cent-exact int64 window sum,
        // /7/100 in a fixed order — engine-exact, no round
        .withColumn("rmean",
          sum(uq(col("value"), 100))
            .over(w.rowsBetween(-6, 0)).cast("double") / lit(7.0) / lit(100.0))
        .filter(col("rn") >= 7)
        .select(col("user_id"), col("event_id"), col("rmean"))
    },
      """select user_id, event_id, rmean from (
        | select user_id, event_id,
        |  row_number() over (partition by user_id order by ts) rn,
        |  cast(sum(cast(round(value*100) as bigint)) over (
        |    partition by user_id order by ts
        |    rows between 6 preceding and current row) as double)
        |    / 7.0 / 100.0 rmean
        | from events) t where rn >= 7""".stripMargin),

    Query("q_first_occurrence_over_300", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(min(when(col("value") > 300, col("ts"))).as("first_ts"))
    },
      """select user_id, min(case when value > 300 then ts end) first_ts
        |from events group by 1""".stripMargin),

    Query("q_suspicious_repeats", (s, dir) => {
      // QA flag: >= 4 consecutive events of the same type per user
      Runs.suspiciousRuns(t(s, dir, "events"), Seq("user_id"), col("ts"),
          col("event_type"), 4)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_suspicious"), max(col("repeat_len")).as("max_repeat"))
    },
      """with lagged as (select user_id, ts, event_type,
        |  (event_type = lag(event_type) over (partition by user_id order by ts)) same
        | from events),
        |flagged as (select user_id, ts,
        |  case when coalesce(same, false) then 1 else 0 end c from lagged),
        |runs as (select user_id, grp, count(*) + 1 repeat_len from (
        |  select user_id, ts, c,
        |   sum(1 - c) over (partition by user_id order by ts
        |     rows between unbounded preceding and current row) grp
        |  from flagged) t where c = 1 group by 1,2)
        |select user_id, count(*) n_suspicious, max(repeat_len) max_repeat
        |from runs where repeat_len >= 4 group by 1""".stripMargin),

    Query("q_percentile_by_type", (s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(qk(percentile(col("value"), lit(0.9)), 6).as("p90"),
          qk(percentile(col("value"), lit(0.5)), 6).as("p50"))
    },
      """select event_type, floor((quantile_cont(value, 0.9))*1e6 + 0.5)/1e6 p90,
        | floor((quantile_cont(value, 0.5))*1e6 + 0.5)/1e6 p50 from events group by 1""".stripMargin),

    Query("q_sessionize", (s, dir) => {
      // session = events separated by <= 30 min per user
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val wAll = w.rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "events")
        .withColumn("gap", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("new_sess", when(col("gap").isNull || col("gap") > 1800L * 1000000L, 1L).otherwise(0L))
        .withColumn("sess_id", sum(col("new_sess")).over(wAll))
        .groupBy(col("user_id"), col("sess_id"))
        .agg(count(lit(1)).as("n_events"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          // exact int ratio — raw division, no round
          (sum(col("n_events")).cast("double") / count(lit(1))).as("avg_events"),
          max(col("n_events")).as("max_events"))
    },
      """with e as (select user_id, ts,
        |  epoch_us(ts) - lag(epoch_us(ts)) over (partition by user_id order by ts) gap
        | from events),
        |s1 as (select user_id, ts,
        |  case when gap is null or gap > 1800000000 then 1 else 0 end ns from e),
        |s2 as (select user_id, sum(ns) over (partition by user_id order by ts
        |  rows between unbounded preceding and current row) sess_id from s1),
        |sess as (select user_id, sess_id, count(*) n_events from s2 group by 1,2)
        |select user_id, count(*) n_sessions,
        | cast(sum(n_events) as double) / count(*) avg_events,
        | cast(max(n_events) as bigint) max_events
        |from sess group by 1""".stripMargin),

    Query("q_asof_last_error", (s, dir) => {
      // as-of self join: for each purchase, the user's latest strictly-prior error
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, dir, "events")
        .withColumn("last_error_ts",
          last(when(col("event_type") === "error", col("ts")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("last_error_ts"))
    },
      """select user_id, event_id, last_error_ts from (
        | select user_id, event_id, event_type,
        |  last_value(case when event_type='error' then ts end ignore nulls) over
        |   (partition by user_id order by ts
        |    rows between unbounded preceding and 1 preceding) last_error_ts
        | from events) t where event_type = 'purchase'""".stripMargin),

    Query("q_pivot_user_type", (s, dir) => {
      val e = t(s, dir, "events")
      def cnt(tp: String) = coalesce(sum(when(col("event_type") === tp, 1L)), lit(0L))
      e.groupBy(col("user_id")).agg(
        cnt("view").as("n_view"), cnt("click").as("n_click"),
        cnt("purchase").as("n_purchase"), cnt("signup").as("n_signup"),
        cnt("error").as("n_error"))
    },
      """select user_id,
        | cast(coalesce(sum(case when event_type='view' then 1 end),0) as bigint) n_view,
        | cast(coalesce(sum(case when event_type='click' then 1 end),0) as bigint) n_click,
        | cast(coalesce(sum(case when event_type='purchase' then 1 end),0) as bigint) n_purchase,
        | cast(coalesce(sum(case when event_type='signup' then 1 end),0) as bigint) n_signup,
        | cast(coalesce(sum(case when event_type='error' then 1 end),0) as bigint) n_error
        |from events group by 1""".stripMargin),

    Query("q_converters_bioclim", (s, dir) => {
      // physics converters on synthesised inputs: tas degC, dewpoint, wind km/h
      import graft.indices.Converters._
      val e = t(s, dir, "events")
        .withColumn("tas", col("value") / 10.0 - 10.0)
        .withColumn("tdps", col("value") / 10.0 - 15.0)
        .withColumn("wind", col("value") / 10.0 + 5.0)
      e.select(col("event_id"),
        qk(humidex(col("tas"), col("tdps")), 6).as("humidex"),
        qk(relativeHumidity(col("tas"), col("tdps")), 6).as("hurs"),
        qk(windChill(col("tas"), col("wind")), 6).as("wind_chill"),
        qk(dayLength(col("user_id") - lit(60.0), dayofyear(col("ts"))), 6).as("day_len"))
    },
      """with e as (select event_id, user_id, ts,
        |  value/10.0 - 10.0 tas, value/10.0 - 15.0 tdps, value/10.0 + 5.0 wind
        | from events),
        |f as (select event_id,
        |  tas + (5.0/9.0) * (6.112 * exp(17.62 * tdps / (243.12 + tdps)) - 10.0) humidex,
        |  100.0 * (6.112 * exp(17.62 * tdps / (243.12 + tdps)))
        |       / (6.112 * exp(17.62 * tas / (243.12 + tas))) hurs,
        |  13.12 + 0.6215 * tas - 11.37 * pow(wind, 0.16)
        |       + 0.3965 * tas * pow(wind, 0.16) wind_chill,
        |  (24.0/pi()) * acos(greatest(-1.0, least(1.0,
        |    -tan(radians(user_id - 60.0)) *
        |     tan(0.409 * sin(2.0*pi()/365.0 * dayofyear(ts) - 1.39))))) day_len
        | from e)
        |select event_id,
        | floor((humidex)*1e6 + 0.5)/1e6 humidex,
        | floor((hurs)*1e6 + 0.5)/1e6 hurs,
        | floor((wind_chill)*1e6 + 0.5)/1e6 wind_chill,
        | floor((day_len)*1e6 + 0.5)/1e6 day_len
        |from f""".stripMargin),

    Query("q_heat_index", (s, dir) => {
      import graft.indices.Converters._
      val e = t(s, dir, "events")
        .withColumn("tas", col("value") / 12.0 + 26.0)
        .withColumn("hurs", pmod(col("value"), lit(60.0)) + 40.0)
      e.select(col("event_id"), qk(heatIndex(col("tas"), col("hurs")), 6).as("heat_index"))
    },
      """with e as (select event_id, value/12.0 + 26.0 tas, (value % 60.0) + 40.0 hurs
        | from events),
        |f as (select event_id, tas * 1.8 + 32.0 tf, hurs from e),
        |g as (select event_id,
        |  -42.379 + 2.04901523*tf + 10.14333127*hurs - 0.22475541*tf*hurs
        |  - 6.83783e-3*tf*tf - 5.481717e-2*hurs*hurs + 1.22874e-3*tf*tf*hurs
        |  + 8.5282e-4*tf*hurs*hurs - 1.99e-6*tf*tf*hurs*hurs hif
        | from f)
        |select event_id, floor(((hif - 32.0) / 1.8)*1e6 + 0.5)/1e6 heat_index
        |from g""".stripMargin),

    Query("q_fit_gamma_mm", (s, dir) => {
      // stats.fit, method-of-moments gamma: alpha = mean^2/var, scale = var/mean
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          qk(pow(avg(col("value")), 2) / var_pop(col("value")), 6).as("alpha"),
          qk(var_pop(col("value")) / avg(col("value")), 6).as("scale"))
    },
      """select event_type, count(*) n,
        | floor((pow(avg(value), 2) / var_pop(value))*1e6 + 0.5)/1e6 alpha,
        | floor((var_pop(value) / avg(value))*1e6 + 0.5)/1e6 scale
        |from events group by 1""".stripMargin),

    Query("q_parametric_quantile_normal", (s, dir) => {
      // parametric_quantile: normal ppf at p=0.9 from fitted (mean, std)
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(qk(avg(col("value")) + lit(1.2815515655446004) * stddev_samp(col("value")), 6)
          .as("q90_normal"))
    },
      """select event_type,
        | floor((avg(value) + 1.2815515655446004 * stddev_samp(value)
        |)*1e6 + 0.5)/1e6 q90_normal
        |from events group by 1""".stripMargin),

    Query("q_lmoments", (s, dir) => {
      // L-moment sample statistics (PWM basis of stats.fit)
      val sorted = t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(sort_array(collect_list(col("value"))).as("arr"))
      val (l1, l2, t3) = Stats.lMoments(col("arr"))
      sorted.select(col("event_type"), qk(l1, 6).as("l1"),
        qk(l2, 6).as("l2"), qk(t3, 6).as("t3"))
    },
      """with r as (select event_type, value v,
        |  row_number() over (partition by event_type order by value) rk,
        |  count(*) over (partition by event_type) n from events),
        |b as (select event_type,
        |  avg(v) b0,
        |  sum(v * (rk - 1.0) / (n - 1.0)) / any_value(n) b1,
        |  sum(v * (rk - 1.0) * (rk - 2.0) / ((n - 1.0) * (n - 2.0))) / any_value(n) b2
        | from r group by 1)
        |select event_type,
        | floor((b0)*1e6 + 0.5)/1e6 l1,
        | floor((2*b1 - b0)*1e6 + 0.5)/1e6 l2,
        | floor(((6*b2 - 6*b1 + b0) / (2*b1 - b0))*1e6 + 0.5)/1e6 t3
        |from b""".stripMargin),

    Query("q_robustness_fractions", (s, dir) => {
      // ensembles.robustness_fractions: users = members, Jan 1-15 ref vs 16-31 fut
      val e = t(s, dir, "events")
        .withColumn("fut", col("ts").cast("date") >= lit("2024-01-16"))
      val per = e.groupBy(col("event_type"), col("user_id")).agg(
        avg(when(!col("fut"), col("value"))).as("m1"),
        var_samp(when(!col("fut"), col("value"))).as("v1"),
        count(when(!col("fut"), 1)).as("n1"),
        avg(when(col("fut"), col("value"))).as("m2"),
        var_samp(when(col("fut"), col("value"))).as("v2"),
        count(when(col("fut"), 1)).as("n2"))
      val tstat = Stats.welchT(col("m2"), col("v2"), col("n2"), col("m1"), col("v1"), col("n1"))
      per.withColumn("tv", tstat)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_members"),
          qk(avg(when(col("m2") > col("m1"), 1.0).otherwise(0.0)), 6).as("frac_pos"),
          qk(avg(when(abs(col("tv")) > 1.96, 1.0).otherwise(0.0)), 6).as("frac_sig"))
    },
      """with per as (select event_type, user_id,
        |  avg(case when cast(ts as date) < date '2024-01-16' then value end) m1,
        |  var_samp(case when cast(ts as date) < date '2024-01-16' then value end) v1,
        |  count(case when cast(ts as date) < date '2024-01-16' then 1 end) n1,
        |  avg(case when cast(ts as date) >= date '2024-01-16' then value end) m2,
        |  var_samp(case when cast(ts as date) >= date '2024-01-16' then value end) v2,
        |  count(case when cast(ts as date) >= date '2024-01-16' then 1 end) n2
        | from events group by 1,2),
        |w as (select event_type, m1, m2,
        |  (m2 - m1) / sqrt(v2/n2 + v1/n1) tv from per)
        |select event_type, count(*) n_members,
        | floor((avg(case when m2 > m1 then 1.0 else 0.0 end))*1e6 + 0.5)/1e6 frac_pos,
        | floor((avg(case when abs(tv) > 1.96 then 1.0 else 0.0 end))*1e6 + 0.5)/1e6 frac_sig
        |from w group by 1""".stripMargin),

    Query("q_ks_analog", (s, dir) => {
      // spatial_analogs with kolmogorov_smirnov metric: each type vs 'view'
      val e = t(s, dir, "events")
      graft.analog.Analog.ksStatistic(
          e.select(col("event_type"), col("value")), "event_type", "value",
          e.filter(col("event_type") === "view").select(col("value")))
        .select(col("event_type"), qk(col("ks"), 6).as("ks"))
    },
      """with g as (select distinct event_type from events),
        |u as (select event_type, value v, 1 a, 0 b from events
        |      union all
        |      select g.event_type, e.value v, 0 a, 1 b
        |      from events e cross join g where e.event_type = 'view'),
        |c as (select event_type, v,
        |  sum(a) over (partition by event_type order by v
        |    range between unbounded preceding and current row) ca,
        |  sum(b) over (partition by event_type order by v
        |    range between unbounded preceding and current row) cb,
        |  sum(a) over (partition by event_type) na,
        |  sum(b) over (partition by event_type) nb
        | from u)
        |select event_type,
        | floor((max(abs(cast(ca as double)/na - cast(cb as double)/nb))
        |)*1e6 + 0.5)/1e6 ks
        |from c group by 1""".stripMargin),

    Query("q_data_flags", (s, dir) => {
      // dataflags battery: negative values, > mean+3sigma, < p01 per type
      val e = t(s, dir, "events")
      val stats = e.groupBy(col("event_type").as("et")).agg(
        (avg(col("value")) + lit(3.0) * stddev_samp(col("value"))).as("hi"),
        percentile(col("value"), lit(0.01)).as("lo"))
      e.join(broadcast(stats), col("event_type") === col("et"))
        .groupBy(col("event_type"))
        .agg(coalesce(sum(when(col("value") <= 0, 1L)), lit(0L)).as("n_neg"),
          coalesce(sum(when(col("value") > col("hi"), 1L)), lit(0L)).as("n_hi"),
          coalesce(sum(when(col("value") < col("lo"), 1L)), lit(0L)).as("n_lo"))
    },
      """with st as (select event_type et,
        |  avg(value) + 3.0 * stddev_samp(value) hi,
        |  quantile_cont(value, 0.01) lo
        | from events group by 1)
        |select event_type,
        | cast(coalesce(sum(case when value <= 0 then 1 end),0) as bigint) n_neg,
        | cast(coalesce(sum(case when value > hi then 1 end),0) as bigint) n_hi,
        | cast(coalesce(sum(case when value < lo then 1 end),0) as bigint) n_lo
        |from events join st on event_type = et group by 1""".stripMargin),

    Query("q_json_props", (s, dir) => {
      // semi-structured sidecar column: extract props.k per event
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(coalesce(sum(col("k")), lit(0L)).as("k_sum"),
          countDistinct(col("k")).as("k_distinct"),
          // exact int64 sum / exact count: ONE correctly-rounded IEEE
          // division — engine-exact without any rounding step
          (sum(col("k")).cast("double") / count(col("k"))).as("k_avg"))
    },
      """select event_type,
        | cast(coalesce(sum(cast(json_extract_string(props, '$.k') as bigint)), 0) as bigint) k_sum,
        | count(distinct cast(json_extract_string(props, '$.k') as bigint)) k_distinct,
        | cast(sum(cast(json_extract_string(props, '$.k') as bigint)) as double)
        |   / count(cast(json_extract_string(props, '$.k') as bigint)) k_avg
        |from events group by 1""".stripMargin),

    Query("q_level_crossings", (s, dir) => {
      // count_level_crossings (generic.py:914): days whose min crosses below
      // and max crosses above the level
      t(s, dir, "events")
        .groupBy(col("user_id"), date_trunc("DAY", col("ts")).cast("date").as("d"))
        .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
        .groupBy(col("user_id"))
        .agg(coalesce(sum(when(col("lo") < 50.0 && col("hi") >= 50.0, 1L)), lit(0L))
          .as("crossing_days"))
    },
      """with daily as (select user_id, cast(date_trunc('day', ts) as date) d,
        |  min(value) lo, max(value) hi from events group by 1, 2)
        |select user_id,
        | cast(coalesce(sum(case when lo < 50.0 and hi >= 50.0 then 1 end), 0)
        |   as bigint) crossing_days
        |from daily group by 1""".stripMargin),

    Query("q_type_ratio", (s, dir) => {
      // liquid_precip_ratio family (_multivariate.py:871): phase-partitioned
      // share of the total, per entity
      // r10 allowlist shrink: values micro-quantize to exact int64 BEFORE
      // the sums (order-free on any partitioning), so the ratio is one
      // IEEE division of exact ints — bit-identical in both engines
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg((sum(when(col("event_type") === "purchase",
            uq(col("value"), 1e6)).otherwise(0L)).cast("double")
          / sum(uq(col("value"), 1e6)).cast("double"))
          .as("purchase_ratio"))
    },
      """select user_id,
        | cast(sum(case when event_type = 'purchase'
        |     then cast(round(value * 1e6) as bigint) else 0 end) as double)
        |   / cast(sum(cast(round(value * 1e6) as bigint)) as double)
        |   purchase_ratio
        |from events group by 1""".stripMargin),

    Query("q_ntile_deciles", (s, dir) => {
      // rank-family ops (basis of Mann-Whitney robustness tests): decile
      // assignment with deterministic tie-break, per event type
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      t(s, dir, "events")
        .withColumn("decile", ntile(10).over(w))
        .groupBy(col("event_type"), col("decile"))
        // micro-quantized mean (r10): exact int64 sum, two IEEE divisions
        // in a fixed order — order-free and engine-exact, unlike the old
        // round(avg(value), 6) whose sum order decided boundary ties
        .agg(count(lit(1)).as("n"),
          (sum(uq(col("value"), 1e6)).cast("double")
            / count(lit(1)) / lit(1e6)).as("decile_mean"))
    },
      """with r as (select event_type, event_id, value,
        |  ntile(10) over (partition by event_type
        |    order by value, event_id) decile
        | from events)
        |select event_type, cast(decile as int) decile, count(*) n,
        | cast(sum(cast(round(value * 1e6) as bigint)) as double)
        |   / count(*) / 1e6 decile_mean
        |from r group by 1,2""".stripMargin),

    Query("q_uncertainty_partition", (s, dir) => {
      // hawkins_sutton (_partitioning.py:57): event_type plays the model
      // dim; per-day variance split via the law of total variance
      graft.ensembles.Partitioning.hawkinsSutton(
          t(s, dir, "events")
            .withColumn("d", date_trunc("DAY", col("ts")).cast("date")),
          "d", "event_type", "value")
        .select(col("d"),
          qk(col("model_uncertainty"), 6).as("model_uncertainty"),
          qk(col("internal_uncertainty"), 6).as("internal_uncertainty"),
          qk(col("total_uncertainty"), 6).as("total_uncertainty"))
    },
      """with pm as (select cast(date_trunc('day', ts) as date) d, event_type,
        |  avg(value) m, var_pop(value) v from events group by 1,2),
        |agg as (select d, var_pop(m) mu, avg(v) iu from pm group by 1)
        |select d,
        | floor((mu)*1e6 + 0.5)/1e6 model_uncertainty,
        | floor((iu)*1e6 + 0.5)/1e6 internal_uncertainty,
        | floor((mu + iu)*1e6 + 0.5)/1e6 total_uncertainty
        |from agg""".stripMargin),

    Query("q_mannwhitney_u", (s, dir) => {
      // Mann-Whitney U (robustness test "mannwhitney-utest",
      // _robustness.py:585): pooled ranking per type, U for the fut half;
      // deterministic tie-break on event_id (values are continuous)
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      t(s, dir, "events")
        .withColumn("fut", col("ts").cast("date") >= lit("2024-01-16"))
        .withColumn("rk", row_number().over(w))
        .groupBy(col("event_type"))
        .agg((sum(when(col("fut"), col("rk").cast("long")))
            - (sum(when(col("fut"), 1L)) * (sum(when(col("fut"), 1L)) + 1L)) / 2L)
          .cast("long").as("u_stat"),
          sum(when(col("fut"), 1L)).as("n_fut"),
          sum(when(!col("fut"), 1L)).as("n_ref"))
    },
      """with r as (select event_type,
        |  cast(ts as date) >= date '2024-01-16' fut,
        |  row_number() over (partition by event_type order by value, event_id) rk
        | from events)
        |select event_type,
        | cast(sum(case when fut then rk end)
        |   - (sum(case when fut then 1 end) * (sum(case when fut then 1 end) + 1)) // 2
        |   as bigint) u_stat,
        | cast(sum(case when fut then 1 end) as bigint) n_fut,
        | cast(sum(case when not fut then 1 end) as bigint) n_ref
        |from r group by 1""".stripMargin),

    Query("q_robustness_categories", (s, dir) => {
      // robustness_categories (_robustness.py:336): IPCC-style advice labels
      // from the (significance, agreement) fractions
      val e = t(s, dir, "events")
        .withColumn("fut", col("ts").cast("date") >= lit("2024-01-16"))
      val per = e.groupBy(col("event_type"), col("user_id")).agg(
        avg(when(!col("fut"), col("value"))).as("m1"),
        var_samp(when(!col("fut"), col("value"))).as("v1"),
        count(when(!col("fut"), 1)).as("n1"),
        avg(when(col("fut"), col("value"))).as("m2"),
        var_samp(when(col("fut"), col("value"))).as("v2"),
        count(when(col("fut"), 1)).as("n2"))
      val tstat = (col("m2") - col("m1")) / sqrt(col("v2") / col("n2") + col("v1") / col("n1"))
      per.withColumn("tv", tstat)
        .groupBy(col("event_type"))
        .agg(qk(avg(when(abs(col("tv")) > 1.96, 1.0).otherwise(0.0)), 6).as("frac_sig"),
          qk(avg(when(col("m2") > col("m1"), 1.0).otherwise(0.0)), 6).as("frac_pos"))
        .withColumn("category",
          when(col("frac_sig") < 0.66, "low agreement on significance")
            .when(col("frac_pos") >= 0.8 || col("frac_pos") <= 0.2, "robust signal")
            .otherwise("conflicting signal"))
    },
      """with per as (select event_type, user_id,
        |  avg(case when cast(ts as date) < date '2024-01-16' then value end) m1,
        |  var_samp(case when cast(ts as date) < date '2024-01-16' then value end) v1,
        |  count(case when cast(ts as date) < date '2024-01-16' then 1 end) n1,
        |  avg(case when cast(ts as date) >= date '2024-01-16' then value end) m2,
        |  var_samp(case when cast(ts as date) >= date '2024-01-16' then value end) v2,
        |  count(case when cast(ts as date) >= date '2024-01-16' then 1 end) n2
        | from events group by 1,2),
        |w as (select event_type, m1, m2,
        |  (m2 - m1) / sqrt(v2/n2 + v1/n1) tv from per),
        |f as (select event_type,
        |  floor((avg(case when abs(tv) > 1.96 then 1.0 else 0.0 end)
        |)*1e6 + 0.5)/1e6 frac_sig,
        |  floor((avg(case when m2 > m1 then 1.0 else 0.0 end)
        |)*1e6 + 0.5)/1e6 frac_pos
        | from w group by 1)
        |select event_type, frac_sig, frac_pos,
        | case when frac_sig < 0.66 then 'low agreement on significance'
        |      when frac_pos >= 0.8 or frac_pos <= 0.2 then 'robust signal'
        |      else 'conflicting signal' end category
        |from f""".stripMargin),

    Query("q_energy_analog", (s, dir) => {
      // Szekely-Rizzo energy distance per candidate event type vs the
      // 'view' distribution (analog.sampleMetrics mapGroups kernel);
      // 1-D feature = value/100, deterministic subsample (event_id mod 7)
      // bounds the O(n^2) kernel; oracle = double self-join pair means.
      // (NN purity + Friedman-Rafsky stay kernel-only: unit-tested.)
      val e = t(s, dir, "events").filter(pmod(col("event_id"), lit(7)) === 0)
      val target = e.filter(col("event_type") === "view")
        .select((col("value") / 100.0).as("f"))
        .collect().map(r => Array(r.getDouble(0)))
      graft.analog.Analog.sampleMetrics(
          e.select(col("event_type"), array(col("value") / 100.0).as("features")),
          "event_type", "features", target,
          maxPerGroup = 4000, withGraphStats = false)
        .select(col("event_type"), qk(col("energy_distance"), 6).as("energy_distance"))
    },
      """with e as (select event_type, value/100.0 f from events where event_id % 7 = 0),
        |tgt as (select f from e where event_type = 'view'),
        |dxy as (select c.event_type, sum(abs(c.f - t.f))/count(*) m
        |        from e c cross join tgt t group by 1),
        |wx as (select a.event_type, sum(abs(a.f - b.f))/count(*) m
        |       from e a join e b on a.event_type = b.event_type group by 1),
        |wy as (select sum(abs(a.f - b.f))/count(*) m from tgt a cross join tgt b)
        |select d.event_type,
        |  floor((2.0*d.m - x.m - y.m)*1e6 + 0.5)/1e6 energy_distance
        |from dxy d join wx x on x.event_type = d.event_type cross join wy y""".stripMargin),

    Query("q_hf8_percentile", (s, dir) => {
      // Hyndman-Fan type-8 percentile (the reference's percentile_doy
      // default; alpha=beta=1/3) — on the AT-SCALE exact plan: whole-column
      // groups (a handful of event types over the full table) are exactly
      // the unbounded-group regime where collect_list state grows with the
      // data, so this query routes through Stats.hfQuantilesScale (range
      // sort + two-pass rank selection, O(1) task memory) and still
      // hash-matches the exact list-based H&F-8 oracle bit for bit.
      Stats.hfQuantilesScale(t(s, dir, "events"), Seq("event_type"), "value",
          Seq("p90_hf8" -> 0.9, "p10_hf8" -> 0.1))
        .select(col("event_type"), qk(col("p90_hf8"), 6).as("p90_hf8"),
          qk(col("p10_hf8"), 6).as("p10_hf8"))
    },
      s"""with s as (select event_type, list_sort(list(value)) a,
         |           cast(count(value) as double) n from events group by 1)
         |select event_type,
         |  floor((${hfSql(0.9)})*1e6 + 0.5)/1e6 p90_hf8,
         |  floor((${hfSql(0.1)})*1e6 + 0.5)/1e6 p10_hf8
         |from s""".stripMargin),

    Query("q_sea_ice", (s, dir) => {
      // sea_ice_area/extent (_threshold.py:3058,:3097): weighted spatial
      // aggregation, cells = users, concentration/area synthesized.
      val e = t(s, dir, "events").select(
        date_trunc("DAY", col("ts")).cast("date").as("d"),
        ((col("value") % 100.0) / 100.0).as("siconc"),
        ((col("user_id") % 50) + 1).cast("double").as("cell_area"))
      graft.indices.SeaIce.seaIce(e, Seq("d"), col("siconc"), col("cell_area"))
        .select(col("d"), qk(col("sea_ice_area"), 6).as("sea_ice_area"),
          qk(col("sea_ice_extent"), 6).as("sea_ice_extent"))
    },
      """with e as (select cast(date_trunc('day', ts) as date) d,
        |  (value % 100.0)/100.0 siconc,
        |  cast((user_id % 50) + 1 as double) cell_area from events)
        |select d,
        | floor((coalesce(sum(case when siconc >= 0.15 then siconc*cell_area end), 0.0)
        |)*1e6 + 0.5)/1e6 sea_ice_area,
        | floor((coalesce(sum(case when siconc >= 0.15 then cell_area end), 0.0)
        |)*1e6 + 0.5)/1e6 sea_ice_extent
        |from e group by 1""".stripMargin),

    Query("q_salted_hot_key", (s, dir) => {
      // Two-phase salted aggregation (core.Skew.saltedAgg) over the
      // genuinely hot event_type key (5 values x 100k+ rows): phase 1
      // spreads each hot key over 16 salt reducers, phase 2 combines the
      // algebraic partials — result identical to the direct groupBy the
      // oracle runs. Value sums stay in integer cents so the two-phase
      // summation order cannot differ from the oracle's.
      graft.core.Skew.saltedAgg(
          t(s, dir, "events")
            .withColumn("cents", uq(col("value"), 100)),
          Seq("event_type"), salt = 16,
          Map("n" -> ("count", lit(1)), "total_cents" -> ("sum", col("cents")),
            "max_cents" -> ("max", col("cents"))))
        .select(col("event_type"), col("n"),
          (col("total_cents").cast("double") / 100.0).as("total"),
          (col("max_cents").cast("double") / 100.0).as("max_value"))
    },
      """select event_type, count(*) n,
        | cast(sum(cast(round(value*100) as bigint)) as double)/100.0 total,
        | cast(max(cast(round(value*100) as bigint)) as double)/100.0 max_value
        |from events group by 1""".stripMargin),

    Query("q_snowfall_methods", (s, dir) => {
      // snowfall_approximation (converters.py:1097): ALL five published
      // phase-partition methods side by side — binary / brown / auer step
      // or polynomial ramps plus the Dai (2008) tanh forms dai_annual and
      // dai_seasonal (converters.py:1197, land coefficients; seasonal picks
      // DJF/MAM/JJA/SON by month), the clip_temp rescale variant, and the
      // dai rain-side twin (rain_approximation, converters.py:1320).
      import graft.indices.Converters
      val e = t(s, dir, "events").select(col("event_id"), month(col("ts")).as("m"),
        (col("value") / 40.0 - 8.0).as("tas"), (col("value") / 25.0).as("pr"))
      e.select(col("event_id"),
        qk(Converters.snowfallApproximation(col("pr"), col("tas"), "binary"), 6).as("prsn_binary"),
        qk(Converters.snowfallApproximation(col("pr"), col("tas"), "brown"), 6).as("prsn_brown"),
        qk(Converters.snowfallApproximation(col("pr"), col("tas"), "auer"), 6).as("prsn_auer"),
        qk(col("pr") * Converters.snowfallFractionDai(col("tas"), "dai_annual"), 6)
          .as("prsn_dai_annual"),
        qk(col("pr") * Converters.snowfallFractionDai(col("tas"), "dai_seasonal",
          monthCol = col("m")), 6).as("prsn_dai_seasonal"),
        qk(col("pr") * Converters.snowfallFractionDai(col("tas"), "dai_annual",
          clipTempC = Some(2.0)), 6).as("prsn_dai_clip"),
        qk(col("pr") * Converters.rainFractionDai(col("tas"), "dai_annual"), 6)
          .as("prra_dai_annual"))
    },
      """with e as (select event_id, month(ts) m, value/40.0 - 8.0 tas, value/25.0 pr
        |  from events),
        |sc as (select *,
        |  case when m in (12,1,2) then -48.2372 when m between 3 and 5 then -48.2493
        |       when m between 6 and 8 then -46.4000 else -48.3251 end sa,
        |  case when m in (12,1,2) then 0.7449 when m between 3 and 5 then 0.6634
        |       when m between 6 and 8 then 0.7013 else 0.7798 end sb,
        |  case when m in (12,1,2) then 1.0919 when m between 3 and 5 then 1.3388
        |       when m between 6 and 8 then 0.8362 else 1.1502 end sc_,
        |  case when m in (12,1,2) then 1.0209 when m between 3 and 5 then 1.0270
        |       when m between 6 and 8 then 1.0217 else 1.0180 end sd
        | from e),
        |f as (select *,
        |  -48.2292*((1.0 - 2.0/(exp(2.0*(0.7205*(tas - 1.1662))) + 1.0)) - 1.0223)/100.0 f_ann,
        |  -48.2292*((1.0 - 2.0/(exp(2.0*(0.7205*(2.0 - 1.1662))) + 1.0)) - 1.0223)/100.0 f_clip_lo,
        |  -48.2292*((1.0 - 2.0/(exp(2.0*(0.7205*(-2.0 - 1.1662))) + 1.0)) - 1.0223)/100.0 f_clip_hi,
        |  sa*((1.0 - 2.0/(exp(2.0*(sb*(tas - sc_))) + 1.0)) - sd)/100.0 f_sea,
        |  -47.8337*((1.0 - 2.0/(exp(2.0*(-0.6866*(tas - 1.4913))) + 1.0)) - 1.0420)/100.0 f_rain
        | from sc)
        |select event_id,
        | floor((case when tas < 0.0 then pr else 0.0 end)*1e6 + 0.5)/1e6 prsn_binary,
        | floor((pr*greatest(0.0, least(1.0, 1.0 - tas/2.0)))*1e6 + 0.5)/1e6 prsn_brown,
        | floor((pr*(case when tas < 0.0 then 1.0 when tas >= 6.0 then 0.0
        |   else greatest(0.0, least(100.0, 100.0 + 4.6664*tas - 15.038*tas*tas
        |     - 1.5089*tas*tas*tas + 2.0399*tas*tas*tas*tas
        |     - 0.366*tas*tas*tas*tas*tas + 0.0202*tas*tas*tas*tas*tas*tas))/100.0 end)
        |)*1e6 + 0.5)/1e6 prsn_auer,
        | floor((pr*greatest(0.0, least(1.0, f_ann)))*1e6 + 0.5)/1e6 prsn_dai_annual,
        | floor((pr*greatest(0.0, least(1.0, f_sea)))*1e6 + 0.5)/1e6 prsn_dai_seasonal,
        | floor((pr*greatest(0.0, least(1.0,
        |   (f_ann - f_clip_lo)/(f_clip_hi - f_clip_lo))))*1e6 + 0.5)/1e6 prsn_dai_clip,
        | floor((pr*greatest(0.0, least(1.0, f_rain)))*1e6 + 0.5)/1e6 prra_dai_annual
        |from f""".stripMargin),

    Query("q_esat_methods", (s, dir) => {
      // saturation_vapor_pressure (converters.py:340): all 7 published
      // formulations + the ice-phase interp dispatch, one projection.
      import graft.indices.Converters.{saturationVaporPressureMethod, relativeHumidityBohren98}
      val e = t(s, dir, "events")
        .select(col("event_id"), (col("value") / 8.0 + 230.0).as("tk"),
          (col("value") / 8.0 + 230.0 - pmod(col("value"), lit(12.0))).as("td"))
      def m(name: String) = qk(saturationVaporPressureMethod(col("tk"), name), 4)
      e.select(col("event_id"),
        m("tetens30").as("esat_tetens30"), m("wmo08").as("esat_wmo08"),
        m("buck81").as("esat_buck81"), m("aerk96").as("esat_aerk96"),
        m("sonntag90").as("esat_sonntag90"), m("goffgratch46").as("esat_goffgratch46"),
        m("its90").as("esat_its90"),
        qk(saturationVaporPressureMethod(col("tk"), "wmo08",
          iceThreshK = Some(273.16), interpPower = Some(2)), 4).as("esat_mixed"),
        // relative_humidity method "bohren98" (converters.py:810): the one
        // RH path that bypasses e_sat entirely
        qk(relativeHumidityBohren98(col("tk"), col("td")), 4).as("hurs_bohren98"))
    },
      """with e as (select event_id, value/8.0 + 230.0 tk,
        |  value/8.0 + 230.0 - mod(value, 12.0) td from events),
        |f as (select event_id, tk, td,
        |  610.78*exp(17.269388*(tk - 273.16)/(tk - 35.86)) tet,
        |  611.2*exp(17.62*(tk - 273.16)/(tk - 30.04)) wmo,
        |  611.21*exp(17.502*(tk - 273.16)/(tk - 32.19)) buck,
        |  610.94*exp(17.625*(tk - 273.16)/(tk - 30.12)) aerk,
        |  100.0*exp(-6096.9385/tk + 16.635794 - 2.711193e-2*tk
        |    + 1.673952e-5*tk*tk + 2.433502*ln(tk)) son,
        |  101325.0*pow(10.0, -7.90298*(373.16/tk - 1.0) + 5.02808*log10(373.16/tk)
        |    - 1.3817e-7*(pow(10.0, 11.344*(1.0 - tk/373.16)) - 1.0)
        |    + 8.1328e-3*(pow(10.0, -3.49149*(373.16/tk - 1.0)) - 1.0)) gg,
        |  exp(-2836.5744/(tk*tk) - 6028.076559/tk + 19.54263612
        |    - 2.737830188e-2*tk + 1.6261698e-5*tk*tk + 7.0229056e-10*tk*tk*tk
        |    - 1.8680009e-13*tk*tk*tk*tk + 2.7150305*ln(tk)) its,
        |  611.2*exp(22.46*(tk - 273.16)/(tk - 0.54)) wmo_ice,
        |  pow(greatest(0.0, least((tk - (273.16 - 23.15))/23.15, 1.0)), 2) frac
        | from e)
        |select event_id,
        | floor((tet)*1e4 + 0.5)/1e4 esat_tetens30,
        | floor((wmo)*1e4 + 0.5)/1e4 esat_wmo08,
        | floor((buck)*1e4 + 0.5)/1e4 esat_buck81,
        | floor((aerk)*1e4 + 0.5)/1e4 esat_aerk96,
        | floor((son)*1e4 + 0.5)/1e4 esat_sonntag90,
        | floor((gg)*1e4 + 0.5)/1e4 esat_goffgratch46,
        | floor((its)*1e4 + 0.5)/1e4 esat_its90,
        | floor((frac*wmo + (1.0 - frac)*wmo_ice)*1e4 + 0.5)/1e4 esat_mixed,
        | floor((greatest(0.0, least(100.0,
        |   100.0*exp(-2.501e6*(tk - td)/(461.5*tk*td)))))*1e4 + 0.5)/1e4 hurs_bohren98
        |from f""".stripMargin),

    Query("q_dist_cdfs", (s, dir) => {
      // dist_method / parametric_cdf (stats.py:221,:506) for the round-2
      // distributions: Gumbel, GEV and fisk CDFs at fixed fitted params.
      import graft.indices.Distributions
      val e = t(s, dir, "events").select(col("event_id"), (col("value") / 50.0).as("x"))
      e.select(col("event_id"),
        qk(Distributions.distMethod("cdf", "gumbel_r", col("x"),
          Map("scale" -> lit(2.0), "loc" -> lit(3.0))), 6).as("cdf_gumbel"),
        qk(Distributions.distMethod("cdf", "genextreme", col("x"),
          Map("shape" -> lit(0.1), "scale" -> lit(2.0), "loc" -> lit(3.0))), 6).as("cdf_gev"),
        qk(Distributions.distMethod("cdf", "fisk", col("x") + 0.1,
          Map("c" -> lit(3.0), "scale" -> lit(4.0))), 6).as("cdf_fisk"))
    },
      """with e as (select event_id, value/50.0 x from events)
        |select event_id,
        | floor((exp(-exp(-(x - 3.0)/2.0)))*1e6 + 0.5)/1e6 cdf_gumbel,
        | floor((case when 1.0 - 0.1*(x - 3.0)/2.0 > 0.0
        |   then exp(-pow(1.0 - 0.1*(x - 3.0)/2.0, 1.0/0.1)) else 1.0 end
        |  )*1e6 + 0.5)/1e6 cdf_gev,
        | floor((1.0/(1.0 + pow((x + 0.1)/4.0, -3.0)))*1e6 + 0.5)/1e6 cdf_fisk
        |from e""".stripMargin),

    Query("q_converters_extended", (s, dir) => {
      // specific_humidity (+from_dewpoint, +inverse), Clausius-Clapeyron
      // scaling, wind_power_potential, prsn<->prsnd, rain_approximation
      // (converters.py:847-2804) — one codegen'd projection.
      import graft.indices.Converters
      val e = t(s, dir, "events").select(col("event_id"), col("value"),
        (col("value") / 10.0 - 10.0).as("tas"),
        (((col("value") % 60.0) + 30.0) / 100.0).as("hurs"),
        (lit(101325.0) - col("value") * 5.0).as("ps"),
        (col("value") / 15.0).as("wind"),
        (col("value") / 10.0 - 13.0).as("tdps"),
        (lit(0.004) + col("value") / 1e5).as("huss"),
        (col("value") / 25.0).as("pr"))
      e.select(col("event_id"),
        qk(Converters.specificHumidity(col("tas"), col("hurs"), col("ps")), 8).as("huss_wmo"),
        qk(Converters.specificHumidityFromDewpoint(col("tdps"), col("ps")), 8).as("huss_td"),
        qk(Converters.dewpointFromSpecificHumidity(col("huss"), col("ps")), 5).as("td_back"),
        qk(Converters.clausiusClapeyronScaledPrecipitation(
          col("pr"), pmod(col("value"), lit(10.0)) - 5.0), 5).as("pr_cc"),
        qk(Converters.windPowerPotential(col("wind")), 6).as("wind_power"),
        qk(Converters.prsnToPrsnd(col("pr") / 1000.0), 9).as("prsnd"),
        qk(Converters.rainApproximation(col("pr"), col("tas")), 5).as("rain_liquid"))
    },
      """with e as (select event_id, value,
        |  value/10.0 - 10.0 tas, ((value % 60.0) + 30.0)/100.0 hurs,
        |  101325.0 - value*5.0 ps, value/15.0 wind, value/10.0 - 13.0 tdps,
        |  0.004 + value/1e5 huss, value/25.0 pr
        | from events),
        |f as (select *,
        |  6.112*exp(17.62*tas/(243.12 + tas))*100.0 esat,
        |  6.112*exp(17.62*tdps/(243.12 + tdps))*100.0 etd
        | from e),
        |g as (select *,
        |  0.62198*esat/(ps - esat) wsat,
        |  0.62198*etd/(ps - etd*(1.0 - 0.62198)) q_td,
        |  huss*ps/(0.62198 + huss*(1.0 - 0.62198)) einv
        | from f)
        |select event_id,
        | floor((wsat*hurs/(1.0 + wsat*hurs))*1e8 + 0.5)/1e8 huss_wmo,
        | floor((q_td)*1e8 + 0.5)/1e8 huss_td,
        | floor((243.12*ln(einv/611.2)/(17.62 - ln(einv/611.2)))*1e5 + 0.5)/1e5 td_back,
        | floor((pr*pow(1.07, (value % 10.0) - 5.0))*1e5 + 0.5)/1e5 pr_cc,
        | floor((case when wind < 3.5 then 0.0
        |   when wind < 13.0 then (pow(wind, 3.0) - 42.875)/(2197.0 - 42.875)
        |   when wind < 25.0 then 1.0 else 0.0 end)*1e6 + 0.5)/1e6 wind_power,
        | floor((pr/1000.0/100.0)*1e9 + 0.5)/1e9 prsnd,
        | floor((case when tas >= 0.0 then pr else 0.0 end)*1e5 + 0.5)/1e5 rain_liquid
        |from g""".stripMargin),

    Query("q_brownforsythe", (s, dir) => {
      // Brown-Forsythe change test (_robustness.py:614): Levene W with
      // median centering between the Jan 1-15 and Jan 16-31 samples.
      val e = t(s, dir, "events")
        .withColumn("fut", col("ts").cast("date") >= lit("2024-01-16"))
      graft.ensembles.Ensembles.brownForsythe(e, Seq("event_type"), col("fut"),
          col("value"))
        .select(col("event_type"), qk(col("bf_w"), 6).as("bf_w"), col("changed"))
    },
      """with e as (select event_type,
        |  cast(ts as date) >= date '2024-01-16' fut, value from events),
        |g as (select event_type, case when fut then 1 else 0 end g, value v from e),
        |r as (select *, row_number() over (partition by event_type, g order by v) rn,
        |  count(*) over (partition by event_type, g) n from g),
        |med as (select event_type, g, min(case when rn = cast(ceil(n/2.0) as int)
        |  then v end) md from r group by 1, 2),
        |z as (select g.event_type, g.g, abs(g.v - m.md) z
        |  from g join med m on m.event_type = g.event_type and m.g = g.g),
        |per as (select event_type, g, avg(z) zm, count(*) n, sum(z*z) zss
        |  from z group by 1, 2),
        |agg as (select event_type, sum(n) nt,
        |  sum(n*zm*zm) nzm2, sum(zss - n*zm*zm) ssw, sum(n*zm) nzm
        | from per group by 1)
        |select event_type,
        |  floor(((nt - 2)*(nzm2 - nzm*nzm/nt)/ssw)*1e6 + 0.5)/1e6 bf_w,
        |  (nt - 2)*(nzm2 - nzm*nzm/nt)/ssw > 3.84 changed
        |from agg""".stripMargin),

    Query("q_robustness_coeff", (s, dir) => {
      // robustness_coefficient (_robustness.py:430, Knutti-Sedlacek):
      // R = 1 - A1/A2 from exact squared-area CDF integrals (window plan).
      val e = t(s, dir, "events")
        .withColumn("day", dayofmonth(col("ts")))
        .withColumn("rz", pmod(col("user_id"), lit(5)))
      val fut = e.filter(col("day") >= 16)
        .groupBy(col("event_type"), col("rz"), col("day"))
        .agg(qk(avg(col("value")), 6).as("v"))
      val ref = e.filter(col("day") <= 15)
        .groupBy(col("event_type"), col("day"))
        .agg(qk(avg(col("value")), 6).as("v"))
      graft.ensembles.Ensembles.robustnessCoefficient(
          fut, Seq("event_type"), "rz", "day", "v", ref.drop("day"))
        .select(col("event_type"), qk(col("robustness"), 6).as("robustness"))
    },
      """with e as (select event_type, user_id % 5 rz, dayofmonth(ts) d_, value
        | from events),
        |fut as (select event_type, rz, d_,
        |  floor((avg(value))*1e6 + 0.5)/1e6 v
        | from e where d_ >= 16 group by 1, 2, 3),
        |refs as (select event_type,
        |  floor((avg(value))*1e6 + 0.5)/1e6 v
        | from e where d_ <= 15 group by event_type, d_),
        |mp as (select event_type, d_, avg(v) v from fut group by 1, 2),
        |u1 as (
        |  select event_type, rz, v, 1 a, 0 b from fut
        |  union all
        |  select m.event_type, r.rz, m.v, 0, 1
        |  from mp m join (select distinct event_type, rz from fut) r
        |    on r.event_type = m.event_type),
        |w1 as (select *, sum(a) over w ca, sum(b) over w cb,
        |  sum(a) over (partition by event_type, rz) na,
        |  sum(b) over (partition by event_type, rz) nb,
        |  lead(v) over w - v dx
        | from u1 window w as (partition by event_type, rz order by v, a
        |   rows between unbounded preceding and current row)),
        |a1 as (select event_type, avg(sq) a1 from (
        |  select event_type, rz, coalesce(sum(
        |    (ca*1.0/na - cb*1.0/nb)*(ca*1.0/na - cb*1.0/nb)*dx), 0.0) sq
        |  from w1 group by 1, 2) t group by 1),
        |u2 as (
        |  select event_type, v, 1 a, 0 b from refs
        |  union all select event_type, v, 0, 1 from mp),
        |w2 as (select *, sum(a) over w ca, sum(b) over w cb,
        |  sum(a) over (partition by event_type) na,
        |  sum(b) over (partition by event_type) nb,
        |  lead(v) over w - v dx
        | from u2 window w as (partition by event_type order by v, a
        |   rows between unbounded preceding and current row)),
        |a2 as (select event_type, coalesce(sum(
        |    (ca*1.0/na - cb*1.0/nb)*(ca*1.0/na - cb*1.0/nb)*dx), 0.0) a2
        |  from w2 group by 1)
        |select a1.event_type,
        |  floor((1.0 - a1.a1/a2.a2)*1e6 + 0.5)/1e6 robustness
        |from a1 join a2 on a2.event_type = a1.event_type""".stripMargin),

    Query("q_analog_metrics", (s, dir) => {
      // zech_aslan (analog.py:255), kldiv k=1 (:499) and mahalanobis (:591)
      // per candidate type vs the 'view' sample: 2-D features, id-jittered
      // so kNN distances never hit the r=0 pole. Target-side NN/std/cov
      // precomputed once; one mapGroups kernel per group (O(n m + n^2)
      // bounded by the subsample, like the reference).
      val e = t(s, dir, "events").filter(pmod(col("event_id"), lit(7)) === 0)
        .select(col("event_id"), col("event_type"),
          (col("value") / 100.0 + pmod(col("event_id"), lit(997)) / 1e7).as("f1"),
          (pmod(col("value"), lit(50.0)) / 10.0 + pmod(col("event_id"), lit(991)) / 1e7).as("f2"))
      val target = e.filter(col("event_type") === "view")
        .select(col("f1"), col("f2")).collect()
        .map(r => Array(r.getDouble(0), r.getDouble(1)))
      graft.analog.Analog.extendedMetrics(
          e.filter(col("event_type") =!= "view")
            .select(col("event_type"), array(col("f1"), col("f2")).as("features")),
          "event_type", "features", target, maxPerGroup = 4000)
        .select(col("event_type"), qk(col("zech_aslan"), 5).as("zech_aslan"),
          qk(col("kldiv"), 5).as("kldiv"),
          qk(col("mahalanobis"), 5).as("mahalanobis"))
    },
      """with e as (select event_id, event_type,
        |  value/100.0 + (event_id % 997)/1e7 f1,
        |  (value % 50.0)/10.0 + (event_id % 991)/1e7 f2
        | from events where event_id % 7 = 0),
        |tgt as (select * from e where event_type = 'view'),
        |cand as (select * from e where event_type <> 'view'),
        |ts as (select stddev_samp(f1) s1, stddev_samp(f2) s2,
        |  avg(f1) m1, avg(f2) m2, var_samp(f1) c11, covar_samp(f1, f2) c12,
        |  var_samp(f2) c22, count(*) m from tgt),
        |gs as (select event_type, stddev_samp(f1) s1, stddev_samp(f2) s2,
        |  avg(f1) m1, avg(f2) m2, count(*) n from cand group by 1),
        |vv as (select g.event_type, g.n, g.m1 gm1, g.m2 gm2,
        |  g.s1*t.s1 v1, g.s2*t.s2 v2, t.m, t.m1 tm1, t.m2 tm2,
        |  t.c11, t.c12, t.c22 from gs g cross join ts t),
        |pxx as (select v.event_type,
        |  sum(-ln(greatest(sqrt((a.f1-b.f1)*(a.f1-b.f1)/v.v1
        |    + (a.f2-b.f2)*(a.f2-b.f2)/v.v2), 1e-12)))/v.n/v.n s
        | from vv v join cand a on a.event_type = v.event_type
        |  join cand b on b.event_type = v.event_type and a.event_id < b.event_id
        | group by v.event_type, v.n),
        |pyy as (select v.event_type,
        |  sum(-ln(greatest(sqrt((a.f1-b.f1)*(a.f1-b.f1)/v.v1
        |    + (a.f2-b.f2)*(a.f2-b.f2)/v.v2), 1e-12)))/v.m/v.m s
        | from vv v cross join tgt a join tgt b on a.event_id < b.event_id
        | group by v.event_type, v.m),
        |pxy as (select v.event_type,
        |  sum(-ln(greatest(sqrt((a.f1-b.f1)*(a.f1-b.f1)/v.v1
        |    + (a.f2-b.f2)*(a.f2-b.f2)/v.v2), 1e-12)))/v.n/v.m s
        | from vv v join cand a on a.event_type = v.event_type cross join tgt b
        | where b.event_type = 'view'
        | group by v.event_type, v.n, v.m),
        |tnn as (select a.event_id,
        |  min(sqrt((a.f1-b.f1)*(a.f1-b.f1) + (a.f2-b.f2)*(a.f2-b.f2))) r1
        | from tgt a join tgt b on a.event_id <> b.event_id group by 1),
        |snn as (select v.event_type, a.event_id,
        |  min(sqrt((a.f1-b.f1)*(a.f1-b.f1) + (a.f2-b.f2)*(a.f2-b.f2))) s1
        | from vv v cross join tgt a join cand b on b.event_type = v.event_type
        | where a.event_type = 'view'
        | group by 1, 2),
        |kl as (select s.event_type,
        |  2.0/any_value(v.m)*sum(ln(t.r1/s.s1))
        |    + ln(any_value(v.n)*1.0/(any_value(v.m) - 1)) kldiv
        | from snn s join tnn t on t.event_id = s.event_id
        |  join vv v on v.event_type = s.event_type
        | group by 1),
        |mh as (select event_type,
        |  sqrt(((gm1-tm1)*(gm1-tm1)*c22 - 2*(gm1-tm1)*(gm2-tm2)*c12
        |    + (gm2-tm2)*(gm2-tm2)*c11)/(c11*c22 - c12*c12)) md
        | from vv)
        |select x.event_type,
        | floor((x.s + y.s - z.s)*1e5 + 0.5)/1e5 zech_aslan,
        | floor((k.kldiv)*1e5 + 0.5)/1e5 kldiv,
        | floor((m.md)*1e5 + 0.5)/1e5 mahalanobis
        |from pxx x join pyy y on y.event_type = x.event_type
        | join pxy z on z.event_type = x.event_type
        | join kl k on k.event_type = x.event_type
        | join mh m on m.event_type = x.event_type""".stripMargin),

    Query("q_utci", (s, dir) => {
      // universal_thermal_climate_index (converters.py:2389): the 210-term
      // Broede polynomial over synthesized (tas, hurs, wind, mrt), with the
      // reference's validity mask (null outside it). Pure projection.
      import graft.indices.Utci
      val e = t(s, dir, "events").select(col("event_id"),
        (col("value") / 12.0 - 20.0).as("tas"),
        ((col("value") % 60.0) + 30.0).as("hurs_pct"),
        ((col("value") % 16.0) + 0.4).as("wind"),
        (col("value") / 12.0 - 20.0 + (col("value") % 50.0) / 2.0 - 12.5).as("mrt"))
      e.select(col("event_id"), qk(col("tas"), 6).as("tas"),
        qk(Utci.utci(col("tas"), col("hurs_pct") / 100.0, col("wind"), col("mrt")), 4)
          .as("utci"))
    },
      {
      val poly = graft.indices.Utci.utciPolySql("tas", "wind", "dt", "pa")
      val esat = graft.indices.Utci.satVpIts90Sql("(tas + 273.15)")
      s"""with e as (
         |  select event_id, value/12.0 - 20.0 tas,
         |    (value % 60.0) + 30.0 hurs_pct,
         |    (value % 16.0) + 0.4 wind,
         |    value/12.0 - 20.0 + (value % 50.0)/2.0 - 12.5 mrt
         |  from events
         |),
         |f as (
         |  select event_id, tas, wind, mrt - tas dt,
         |    $esat/1000.0*(hurs_pct/100.0) pa
         |  from e
         |)
         |select event_id,
         |  floor((tas)*1e6 + 0.5)/1e6 tas,
         |  floor((case when tas > -50.0 and tas < 50.0 and dt > -30.0
         |    and dt < 30.0 and wind >= 0.5 and wind < 17.0
         |    then $poly end)*1e4 + 0.5)/1e4 utci
         |from f""".stripMargin
    }),

    Query("q_mrt", (s, dir) => {
      // mean_radiant_temperature (converters.py:2538): direct/diffuse split
      // of shortwave via the fdir ratio, fp beam projection, SB inversion;
      // csza = daily sunlit average from the Spencer solar chain.
      import graft.indices.Utci
      val e = t(s, dir, "events").select(col("event_id"),
        col("ts").cast("date").as("d"),
        (col("user_id") - 60.0).cast("double").as("lat"),
        col("value").as("rsds"),
        (col("value") * 0.15).as("rsus"),
        (lit(300.0) + col("value") / 10.0).as("rlds"),
        (lit(350.0) + col("value") / 8.0).as("rlus"))
      Utci.withMeanRadiantTemperature(e, col("rsds"), col("rsus"), col("rlds"),
          col("rlus"), col("lat"), col("d"), "_mrt")
        .select(col("event_id"), qk(col("_mrt"), 4).as("mrt_k"))
    },
      s"""with e0 as (
         |  select event_id, cast(ts as date) d,
         |    cast(user_id - 60.0 as double) lat,
         |    value rsds, value*0.15 rsus,
         |    300.0 + value/10.0 rlds, 350.0 + value/8.0 rlus
         |  from events
         |),
         |${solarSql("e0")},
         |cz as (
         |  select *, case when hss > 0.0
         |    then (hss*sin(latr)*sin(decl) + cos(latr)*cos(decl)*sin(hss))/hss
         |    else 0.0 end csza
         |  from ra_
         |),
         |fd as (
         |  select *, least(rsds/(1367.0*csza*ecc), 0.85) sstar from cz
         |),
         |fr as (
         |  select *, case when least(exp(3.0 - 1.34*sstar - 1.65/sstar), 0.9) <= 0.0
         |      or csza <= cos(89.5/180.0*pi()) or rsds <= 0.0 then 0.0
         |    else least(exp(3.0 - 1.34*sstar - 1.65/sstar), 0.9) end fdir
         |  from fd
         |),
         |mr as (
         |  select event_id,
         |    rsds - fdir*rsds rsds_diffuse, fdir*rsds rsds_direct,
         |    asin(csza) gam, csza, rsus, rlds, rlus
         |  from fr
         |)
         |select event_id,
         |  floor(pow((1.0/5.67e-8)*(0.5*rlds + 0.5*rlus
         |    + (0.7/0.97)*(0.5*rsds_diffuse + 0.5*rsus
         |      + (0.308*cos(gam*0.988 - gam*gam/50000.0))
         |        *(case when csza > 0.001 then rsds_direct/csza else 0.0 end))),
         |    0.25)*1e4 + 0.5)/1e4 mrt_k
         |from mr""".stripMargin),

    Query("q_lognorm_quantiles", (s, dir) => {
      // fit(dist="lognorm", method="ML", floc=0) + parametric_quantile:
      // closed-form mu/sigma of ln x — two partial-aggregable scalars, no
      // collected sample at any scale.
      import graft.indices.Distributions
      val e = t(s, dir, "events").filter(col("value") > 0)
      val (sig, mu) = Distributions.lognormMl(col("value"))
      e.groupBy(col("event_type"))
        .agg(qk(sig, 6).as("sigma"), qk(mu, 6).as("mu"))
        .select(col("event_type"), col("sigma"), col("mu"),
          qk(Distributions.lognormQuantile(lit(0.9), col("sigma"), col("mu")), 4)
            .as("q90_lognorm"))
    },
      s"""with f as (
         |  select event_type,
         |    floor((stddev_pop(ln(value)))*1e6 + 0.5)/1e6 sigma,
         |    floor((avg(ln(value)))*1e6 + 0.5)/1e6 mu
         |  from events where value > 0 group by 1
         |)
         |select event_type, sigma, mu,
         |  floor((exp(mu + sigma*(${probitSql("cast(0.9 as double)")})))*1e4 + 0.5)/1e4 q90_lognorm
         |from f""".stripMargin),

    Query("q_calendar_360day", (s, dir) => {
      // SURVEY §7 hard-part #1 demonstrated against an independent engine:
      // a 360_day-calendar time axis carried as companion (year, doy)
      // integer columns (core/Calendars.scala — Spark date functions are
      // never touched), run through an anchored YS-JUL resample, 30-day
      // month extraction and a doy conversion to the noleap calendar, all
      // pure integer/Column math the oracle reproduces without date types.
      import graft.core.Calendars
      val e = t(s, dir, "events").select(col("event_id"), col("event_type"),
        (col("value") / 40.0 - 8.0).as("tas"),
        (lit(2001) + ((col("event_id") % 7200) / lit(360)).cast("int")).as("yr"),
        (pmod(col("event_id"), lit(7200)) % 360 + 1).cast("int").as("doy"))
      val cal = e
        .withColumn("m360", Calendars.monthFromDoy(Calendars.Day360, col("doy"), col("yr")))
        .withColumn("ys_jul", Calendars.anchoredYearNonStandard(
          Calendars.Day360, col("yr"), col("doy"), anchorMonth = 7))
        .withColumn("doy_noleap", Calendars.convertDoy(
          col("doy"), col("yr"), Calendars.Day360, Calendars.NoLeap))
      // mean over micro-quantized values: round(tas·1e6) is an exact long,
      // so the group sum is order-independent and the oracle's differently-
      // ordered summation cannot straddle a rounding boundary
      cal.groupBy(col("event_type"), col("ys_jul"), col("m360"))
        .agg(count(lit(1)).as("n_days"),
          sum(uq(col("tas"), 1e6)).as("_sm"),
          max(col("doy_noleap")).as("max_doy_noleap"),
          min(col("doy_noleap")).as("min_doy_noleap"))
        .select(col("event_type"), col("ys_jul"), col("m360"), col("n_days"),
          (round(col("_sm").cast("double") / col("n_days")) / 1e6).as("mean_tas"),
          col("max_doy_noleap"), col("min_doy_noleap"))
    },
      """with e as (select event_id, event_type, value/40.0 - 8.0 tas,
        |  cast(2001 + ((event_id % 7200) // 360) as int) yr,
        |  cast(((event_id % 7200) % 360) + 1 as int) doy
        | from events),
        |cal as (select *, cast(((doy - 1) // 30) + 1 as int) m360 from e),
        |cal2 as (select *,
        |  cast(case when m360 >= 7 then yr else yr - 1 end as int) ys_jul,
        |  cast(least(greatest(cast(round((doy - 0.5)/360.0*365.0 + 0.5) as int), 1), 365)
        |    as int) doy_noleap
        | from cal)
        |select event_type, ys_jul, m360, count(*) n_days,
        | round(cast(sum(cast(floor(tas*1e6 + 0.5) as bigint)) as double)/count(*))/1e6 mean_tas,
        | max(doy_noleap) max_doy_noleap, min(doy_noleap) min_doy_noleap
        |from cal2 group by 1, 2, 3""".stripMargin),

    Query("q_calendar_noleap_percentile", (s, dir) => {
      // noleap-calendar doy percentile across years — the non-standard twin
      // of percentile_doy: every year contributes exactly one value per doy
      // (no Feb-29 hole handling needed, that is the calendar's point), the
      // per-doy p90 is taken across years, plus the doy mapped into the
      // 360_day calendar (convert_doy, calendar.py:264).
      import graft.core.Calendars
      val e = t(s, dir, "events").select(
        (col("value") / 40.0 - 8.0).as("tas"),
        (lit(1991) + (pmod(col("event_id"), lit(3650)) / lit(365)).cast("int")).as("yr"),
        (pmod(col("event_id"), lit(3650)) % 365 + 1).cast("int").as("doy"))
      e.groupBy(col("doy"))
        .agg(count(lit(1)).as("n_years"),
          qk(percentile(col("tas"), lit(0.9)), 6).as("p90_tas"))
        .withColumn("doy_360", Calendars.convertDoy(
          col("doy"), lit(1991), Calendars.NoLeap, Calendars.Day360))
        .select(col("doy"), col("n_years"), col("p90_tas"), col("doy_360"))
    },
      """with e as (select value/40.0 - 8.0 tas,
        |  cast((event_id % 3650) % 365 + 1 as int) doy from events),
        |g as (select doy, count(*) n_years,
        |  floor((quantile_cont(tas, 0.9))*1e6 + 0.5)/1e6 p90_tas
        | from e group by doy)
        |select doy, n_years, p90_tas,
        | cast(least(greatest(cast(round((doy - 0.5)/365.0*360.0 + 0.5) as int), 1), 360)
        |   as int) doy_360
        |from g""".stripMargin),

    Query("q_kkz_selection", (s, dir) => {
      // KKZ greedy max-min ensemble reduction (_reduce.py:104): the
      // distributed part builds the (members × criteria) matrix; the
      // bounded driver-side greedy is hash-checked against a
      // recursive-CTE replay of the same argmax chain. Integer-valued
      // criteria make every distance comparison exact in both engines
      // (sums of integers are order-independent); ties break by member
      // id (collectCriteria sorts, the CTE orders by (dist, m)).
      import graft.ensembles.Reduce
      val crit = t(s, dir, "events")
        .groupBy((col("user_id") % 40).cast("int").as("m"))
        .agg(count(lit(1)).cast("double").as("c1"),
          sum(floor(col("value") / 7.0)).cast("double").as("c2"))
      val sel = Reduce.kkz(Reduce.collectCriteria(crit, "m", Seq("c1", "c2")), 4)
      import s.implicits._
      sel.zipWithIndex.map { case (m, i) => (i + 1, m) }.toDF("rank", "member")
    },
      """with recursive crit as (
        |  select cast(user_id % 40 as int) m,
        |    cast(count(*) as double) c1, cast(sum(floor(value/7.0)) as double) c2
        |  from events group by 1),
        |cent as (select avg(c1) a1, avg(c2) a2 from crit),
        |sel(n, ms) as (
        |  select 1, [(select m from crit, cent
        |              order by (c1-a1)*(c1-a1) + (c2-a2)*(c2-a2), m limit 1)]
        |  union all
        |  select n+1, list_append(ms, (
        |    select c.m from crit c where not list_contains(ms, c.m)
        |    order by (select min((c.c1-t.c1)*(c.c1-t.c1) + (c.c2-t.c2)*(c.c2-t.c2))
        |              from crit t where list_contains(ms, t.m)) desc, c.m
        |    limit 1))
        |  from sel where n < 4)
        |select cast(t.i as int) "rank", cast(ms[t.i] as int) member
        |from (select ms from sel where n = 4), range(1, 5) t(i)""".stripMargin),

    Query("q_kmeans_selection", (s, dir) => {
      // kmeans_reduce_ensemble (_reduce.py:177): Lloyd iterations from KKZ
      // seeds (fully deterministic — same seeds, same tie-breaks), then the
      // member nearest each final centroid. The oracle replays all 50
      // update steps as a single-row recursive CTE whose new centroids are
      // correlated aggregates over the criteria table; a converged fixed
      // point is exact (rational centroids), so extra replay steps are
      // no-ops and early Scala termination cannot diverge.
      import graft.ensembles.Reduce
      val crit = t(s, dir, "events")
        .groupBy((col("user_id") % 40).cast("int").as("m"))
        .agg(count(lit(1)).cast("double").as("c1"),
          sum(floor(col("value") / 7.0)).cast("double").as("c2"))
      val sel = Reduce.kmeansSelect(Reduce.collectCriteria(crit, "m", Seq("c1", "c2")), 3)
      import s.implicits._
      sel.zipWithIndex.map { case (m, i) => (i + 1, m) }.toDF("rank", "member")
    },
      {
      // distances from a crit row c to current centroid i (correlated on
      // the single-row recursive relation l)
      def d(i: Int) = s"(c.c1-l.x$i)*(c.c1-l.x$i)+(c.c2-l.y$i)*(c.c2-l.y$i)"
      // Lloyd assignment predicates with the Scala minBy tie-break
      // (lowest centroid index wins ties)
      val in1 = s"${d(1)} <= ${d(2)} and ${d(1)} <= ${d(3)}"
      val in2 = s"not ($in1) and ${d(2)} <= ${d(3)}"
      val in3 = s"not ($in1) and not (${d(2)} <= ${d(3)})"
      def upd(pred: String, cCol: String, keep: String) =
        s"coalesce((select avg(c.$cCol) from crit c where $pred), l.$keep)"
      s"""with recursive crit as (
         |  select cast(user_id % 40 as int) m,
         |    cast(count(*) as double) c1, cast(sum(floor(value/7.0)) as double) c2
         |  from events group by 1),
         |cent as (select avg(c1) a1, avg(c2) a2 from crit),
         |kkzsel(n, ms) as (
         |  select 1, [(select m from crit, cent
         |              order by (c1-a1)*(c1-a1) + (c2-a2)*(c2-a2), m limit 1)]
         |  union all
         |  select n+1, list_append(ms, (
         |    select c.m from crit c where not list_contains(ms, c.m)
         |    order by (select min((c.c1-t.c1)*(c.c1-t.c1) + (c.c2-t.c2)*(c.c2-t.c2))
         |              from crit t where list_contains(ms, t.m)) desc, c.m
         |    limit 1))
         |  from kkzsel where n < 3),
         |s0 as (select
         |  (select c1 from crit where m = ms[1]) x1, (select c2 from crit where m = ms[1]) y1,
         |  (select c1 from crit where m = ms[2]) x2, (select c2 from crit where m = ms[2]) y2,
         |  (select c1 from crit where m = ms[3]) x3, (select c2 from crit where m = ms[3]) y3
         | from (select ms from kkzsel where n = 3)),
         |lloyd(it, x1, y1, x2, y2, x3, y3) as (
         |  select 0, x1, y1, x2, y2, x3, y3 from s0
         |  union all
         |  select it + 1,
         |    ${upd(in1, "c1", "x1")}, ${upd(in1, "c2", "y1")},
         |    ${upd(in2, "c1", "x2")}, ${upd(in2, "c2", "y2")},
         |    ${upd(in3, "c1", "x3")}, ${upd(in3, "c2", "y3")}
         |  from lloyd l where it < 50),
         |lf as (select * from lloyd where it = 50),
         |picks as (
         |  select 1 j, (select m from crit order by (c1-x1)*(c1-x1)+(c2-y1)*(c2-y1), m limit 1) mem from lf
         |  union all
         |  select 2, (select m from crit order by (c1-x2)*(c1-x2)+(c2-y2)*(c2-y2), m limit 1) from lf
         |  union all
         |  select 3, (select m from crit order by (c1-x3)*(c1-x3)+(c2-y3)*(c2-y3), m limit 1) from lf),
         |ded as (select mem, min(j) mj from picks group by mem)
         |select cast(row_number() over (order by mj) as int) "rank", cast(mem as int) member
         |from ded""".stripMargin
    }),

    Query("q_rate_amount_conversions", (s, dir) => {
      // The units.py converter-verb family (rate2amount :854, amount2rate
      // :941, rate2flux :1109, amount2lwethickness :995) on a NON-UNIFORM
      // time axis — the interesting path: each step's duration comes from
      // the irregular event timestamps (lead diff, final step ffilled from
      // the previous one). Both engines run the identical IEEE double
      // sequence (rate = value/1000; x step_us/1e6), so no rounding is
      // needed for hash parity.
      import graft.core.Units
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val e = t(s, dir, "events").filter(col("user_id") % 50 === 0)
        .withColumn("rate", col("value") / 1000.0)
        .withColumn("step_s", Units.stepSeconds(unix_micros(col("ts")), w))
        .filter(col("step_s").isNotNull && col("step_s") > 0)
      e.select(col("user_id"), col("event_id"), col("step_s"),
          Units.rate2amount(col("rate"), col("step_s")).as("amount"),
          Units.rate2flux(col("rate"), 312.0).as("flux"),
          Units.amount2lwethickness(
            Units.rate2amount(col("rate"), col("step_s"))).as("lwe_mm"),
          Units.amount2rate(
            Units.rate2amount(col("rate"), col("step_s")), col("step_s")).as("rate_rt"))
    },
      """with e as (select user_id, event_id, value/1000.0 rate, epoch_us(ts) us
        |  from events where user_id % 50 = 0),
        |s as (select user_id, event_id, rate,
        |    coalesce(lead(us) over w - us, us - lag(us) over w) step_us
        |  from e window w as (partition by user_id order by us, event_id)),
        |f as (select *, step_us/1e6 step_s from s
        |      where step_us is not null and step_us > 0)
        |select user_id, event_id, step_s,
        |  rate*step_s amount, rate*312.0 flux, rate*step_s lwe_mm,
        |  (rate*step_s)/step_s rate_rt
        |from f""".stripMargin),

    Query("q_unit_conversions", (s, dir) => {
      // convert_units_to (units.py:334) promoted from lib-only to
      // oracle-checked: the driver resolves each (from, to) pair to a
      // (factor, offset) literal — offset temperatures, compound-symbol
      // factors, and the hydro-context bridge (mm/d ↔ kg m-2 s-1 via
      // water density) — applied as codegen'd scalar arithmetic. The
      // oracle spells out the same literal expressions, so both engines
      // run identical IEEE sequences (no rounding needed).
      import graft.core.Units
      t(s, dir, "events").select(col("event_id"),
        Units.convert(col("value"), "degC", "K").as("t_k"),
        Units.convert(col("value"), "degF", "degC").as("f_c"),
        Units.convert(col("value"), "km/h", "m/s").as("wind_ms"),
        Units.convert(col("value"), "mm/d", "kg m-2 s-1").as("pr_flux"),
        Units.convert(col("value"), "hPa", "Pa").as("p_pa"))
    },
      """select event_id,
        |  value + 273.15 t_k,
        |  value * (5.0/9.0) + (cast(255.372222222222 as double)
        |    - cast(273.15 as double)) f_c,
        |  value * (1000.0/3600.0) wind_ms,
        |  value * ((0.001/86400.0) * 1000.0) pr_flux,
        |  value * 100.0 p_pa
        |from events""".stripMargin),

    Query("q_winsorize", (s, dir) => {
      // Winsorized per-type value stats: clip to the DISCRETE p05/p95
      // order statistics (rank ceil(q·n) — interpolated quantiles
      // diverge between engines in the last ulp, order statistics are
      // data values and exact). The window sort spills, so group size
      // never bounds executor memory; the clipped mean goes through one
      // micro-quantized integer sum (order-free).
      val ev = t(s, dir, "events").select(col("event_type"), col("value"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      val wAll = Window.partitionBy(col("event_type"))
      val ranked = ev.withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("lo_i", ceil(col("n") * 0.05).cast("int"))
        .withColumn("hi_i", ceil(col("n") * 0.95).cast("int"))
      val bounds = ranked
        .filter(col("rk") === col("lo_i") || col("rk") === col("hi_i"))
        .groupBy(col("event_type"))
        .agg(min(when(col("rk") === col("lo_i"), col("value"))).as("lo"),
          max(when(col("rk") === col("hi_i"), col("value"))).as("hi"))
      ev.join(bounds, "event_type")
        .withColumn("cv", least(greatest(col("value"), col("lo")), col("hi")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
          sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
          min(col("lo")).as("_lo"), min(col("hi")).as("_hi"),
          sum(uq(col("cv"), 1e6)).as("_su"))
        .select(col("event_type"), col("n"), col("n_clip_lo"), col("n_clip_hi"),
          // p05/p95 are DATA values (identical parquet doubles in both
          // engines) — emit raw; round(,6) was the only portability risk
          col("_lo").as("p05"), col("_hi").as("p95"),
          (round(col("_su").cast("double") / col("n")) / 1e6).as("mean_winsor"))
    },
      """with r as (select event_type, value,
        |   row_number() over (partition by event_type order by value) rk,
        |   count(*) over (partition by event_type) n from events),
        |ix as (select event_type, value, rk,
        |   cast(ceil(n * 0.05) as int) lo_i,
        |   cast(ceil(n * 0.95) as int) hi_i from r),
        |b as (select event_type,
        |   min(case when rk = lo_i then value end) lo,
        |   max(case when rk = hi_i then value end) hi
        | from ix where rk = lo_i or rk = hi_i group by 1),
        |c as (select e.event_type, e.value,
        |   least(greatest(e.value, b.lo), b.hi) cv, b.lo, b.hi
        | from events e join b using (event_type))
        |select event_type, count(*) n,
        |  cast(sum(case when value < lo then 1 else 0 end) as bigint) n_clip_lo,
        |  cast(sum(case when value > hi then 1 else 0 end) as bigint) n_clip_hi,
        |  min(lo) p05, min(hi) p95,
        |  round(cast(sum(cast(round(cv * 1e6) as bigint)) as double)
        |    / count(*)) / 1e6 mean_winsor
        |from c group by 1""".stripMargin),

    Query("q_interval_overlap", (s, dir) => {
      // Banded interval-overlap join (core.Intervals.overlapJoin — the
      // range join Spark lacks natively): each event becomes a
      // [ts, ts + (1 + event_id%600) s) interval; even-id intervals
      // overlap-join odd-id intervals WITHIN each user through 256 s
      // bins — the only shuffle is the (user, bin) equi-join, the
      // canonical-bin filter keeps each pair exactly once with no
      // distinct, and the oracle states the same pairs via a direct
      // inequality join (tiny at gate scale, impossible at 100 TB —
      // which is the point of the banding).
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("s0"))
        .withColumn("e0",
          col("s0") + (pmod(col("event_id"), lit(600L)) + 1) * 1000000L)
      val A = ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .select(col("user_id"), col("event_id"), col("s0"), col("e0"))
      val B = ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .select(col("user_id"), col("event_id"), col("s0"), col("e0"))
      graft.core.Intervals
        .overlapJoin(A, B, Seq("user_id"), "s0", "e0", 256L * 1000000L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("a_event_id")).as("a_id_sum"),
          sum(col("b_event_id")).as("b_id_sum"),
          sum(col("overlap_len")).as("overlap_us"))
    },
      // the truth the banding must reproduce: a direct inequality join
      """with ev as (select event_id, user_id, epoch_us(ts) s0,
        |    epoch_us(ts) + ((event_id % 600) + 1) * 1000000 e0
        |  from events),
        |a as (select * from ev where event_id % 2 = 0),
        |b as (select * from ev where event_id % 2 = 1),
        |p as (select a.user_id, a.event_id a_id, b.event_id b_id,
        |    least(a.e0, b.e0) - greatest(a.s0, b.s0) ov
        |  from a join b on a.user_id = b.user_id
        |    and a.s0 < b.e0 and b.s0 < a.e0)
        |select user_id, count(*) n_pairs,
        |  cast(sum(a_id) as bigint) a_id_sum,
        |  cast(sum(b_id) as bigint) b_id_sum,
        |  cast(sum(ov) as bigint) overlap_us
        |from p group by user_id""".stripMargin)
  )
}
