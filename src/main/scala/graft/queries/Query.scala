package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query, declared once: the Spark plan over an sf dir and the
  * DuckDB SQL whose result it must hash-match. */
final case class Query(
    name: String,
    plan: (SparkSession, String) => DataFrame,
    oracle: String)

object Query {

  /** Name → declaration. A name declared twice is an error rather than a
    * silent shadow. */
  def registry(decls: Seq[Query]): Map[String, Query] = {
    val repeated = decls.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(repeated.isEmpty,
      s"query declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    decls.map(q => q.name -> q).toMap
  }
}
