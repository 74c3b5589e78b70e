package graftbench

import scala.collection.mutable

import graft.SparkEntry
import graft.sources.Tables

/** The stateless-query workloads: each block is one pass over a fixed
  * query list in a seeded order; each operation is one registry query,
  * from the `SparkEntry.queries` call until the `noop` sink returns. */
final class QueryWorkload(ctx: Ctx, names: Seq[String]) extends Workload {
  import ctx._

  private val dumped = mutable.Set.empty[String]

  /** First table touch: resolve every base table (listing and footers). */
  def setup(): Unit = Queries.tables.foreach { t =>
    tracer.span("tables.resolve") {
      if (t == "events") Tables.events(spark, dataDir) else Tables.table(spark, dataDir, t)
    }
  }

  def block(k: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + k).shuffle(names)
      .map(q => Op("query", q, () => run(q)))

  /** A query's first run (in the first warm-up pass) writes its result
    * as parquet for the output check; every later run writes to `noop`. */
  private def run(q: String): Long = {
    val df = tracer.span("entry.build")(SparkEntry.queries(q)(spark, dataDir))
    // the query is analysed while it is built, so the listener's record of
    // the sink's execution shows no analysis; the query's own tracker does
    if (tracer.enabled) probe.record(df.queryExecution, Set("analysis"))
    if (dumped.add(q)) df.coalesce(1).write.parquet(s"$tmp/check/$q")
    else tracer.span("sink.noop")(df.write.format("noop").mode("overwrite").save())
    -1L
  }

  /** Each query's dumped result beside its oracle SQL; the DuckDB
    * comparison runs outside the JVM. */
  def check(): Seq[Check] = {
    val oracles = SparkEntry.oracleSql
    names.map { q =>
      val dir = s"$tmp/check/$q"
      oracles.get(q) match {
        case None => Check(q, Seq(q), Some(false), "no oracle SQL")
        case Some(_) if !new java.io.File(dir, "_SUCCESS").isFile =>
          Check(q, Seq(q), Some(false), "no result written")
        case Some(sql) => Check(q, Seq(q), None, "", dir, sql)
      }
    }
  }

  def cleanup(): Unit = ()
}
