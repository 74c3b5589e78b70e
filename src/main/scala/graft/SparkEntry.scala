package graft

import graft.queries.{DailySeries, Events, Formats, Lakes, Query, Relational, TextPipeline, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — maps the engine's operator inventory (SURVEY.md §2)
  * onto the driver's testdata so every operator has a DuckDB-checkable
  * oracle. Time-series operators (resample / runs / rolling / percentile)
  * run over `events` (user_id = entity key, ts = time); relational operators
  * over the TPC-H-ish star schema; LLM-pipeline operators over
  * `documents` / `embeddings`. Each query is declared once, plan beside
  * oracle, as a [[graft.queries.Query]] in the object of its family under
  * `graft.queries`.
  *
  * Numeric-output discipline (r9): float sums quantize to exact int64
  * micro-units BEFORE aggregation (order-free), and final float columns
  * are either (exact long)/10^k or pure-IEEE functions of exact inputs —
  * never `round(x, d>0)`, whose tie algorithm is engine-dependent. See
  * [[graft.queries.Shared.q6]]/[[graft.queries.Shared.qln]].
  *
  * ORACLE OUTPUT TYPES (r10, the ACTUAL r8/r9 hash-fail mechanism): in
  * DuckDB, `sum(BIGINT)` — plain or windowed — returns HUGEINT (int128),
  * and a HUGEINT result column converts to float64 via pandas / to
  * decimal128 via arrow, so the driver's hash of the oracle side can never
  * equal Spark's int64 even when every value is identical (45 vs 45.0).
  * The five r8/r9 red queries were EXACTLY the five oracles emitting a
  * top-level uncast sum — the doubles were never wrong. Rule: every
  * emitted aggregate in oracle SQL must be cast to its Spark output type
  * (`cast(sum(x) as bigint)` / `as double`); `tools/check.py` now fails
  * any oracle whose result schema contains HUGEINT/DECIMAL.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_pricing_summary")(spark, "/root/testdata/sf0.001")

  private val registry: Map[String, Query] = Query.registry(
    Relational.queries ++ Events.queries ++ DailySeries.queries ++
      TextPipeline.queries ++ Vectors.queries ++ Lakes.queries ++ Formats.queries)

  /** Query registry: one entry per implemented operator (SURVEY.md §2). */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) => name -> q.plan }

  /** DuckDB oracles (column names/types must match the Spark results). */
  val oracleSql: Map[String, String] =
    registry.map { case (name, q) => name -> q.oracle }
}
