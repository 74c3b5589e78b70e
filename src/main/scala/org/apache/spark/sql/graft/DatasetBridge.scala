package org.apache.spark.sql.graft

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Bridge to Spark 4's `private[sql]` `Dataset.ofRows`, `LogicalRDD` and
  * the classic `queryExecution`: moving a plan into another session,
  * freezing a frame into a scan of its own RDD (the form a streaming sink
  * gets its micro-batch in), folding a frame's rows per partition, and
  * collecting without a generated deserializer. */
object DatasetBridge {

  /** The same plan as a frame of `home`, whose conf, catalog and job
    * artifacts (the executor class loader of its tasks) its actions use. */
  def rehome(home: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(home.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)

  /** `df.isEmpty`. A frame that is a scan of an RDD (a micro-batch, an
    * [[rddScan]]) asks the RDD, in a SQL execution of `df`, which runs
    * the plan that RDD already carries instead of planning a new one. */
  def isEmpty(df: DataFrame): Boolean = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.logicalPlan match {
      case r: LogicalRDD =>
        SQLExecution.withNewExecutionId(ds.queryExecution, Some("isEmpty"))(r.rdd.isEmpty())
      case _ => df.isEmpty
    }
  }

  /** `df` as a scan of the RDD its plan executes to, as `foreachBatch`
    * hands a micro-batch over; a frame that already is one passes
    * unchanged. Plans built on it no longer see into `df`'s plan. */
  def rddScan(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    ds.logicalPlan match {
      case _: LogicalRDD => df
      case _ => classic.Dataset.ofRows(ds.sparkSession,
        LogicalRDD.fromDataset(ds.queryExecution.toRdd, ds, isStreaming = false))
    }
  }

  /** `f` over each partition of `df`'s rows, in one Spark job with no
    * shuffle, run as a SQL execution of `df` the way an action is (its
    * session's conf and job artifacts apply). The rows are Spark's
    * internal ones and may be reused between `next` calls. */
  def foldPartitions[A: ClassTag](df: DataFrame)(f: Iterator[InternalRow] => A): Array[A] = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some("foldPartitions")) {
      qe.toRdd.mapPartitions(rows => Iterator.single(f(rows))).collect()
    }
  }

  /** `df.collect()` for small driver-side frames, converted to `Row`s by
    * Spark's interpreted converters: `collect` compiles a deserializer
    * class per schema, one more class for a cache that evicts. */
  def collectRows(df: DataFrame): Array[Row] = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
    SQLExecution.withNewExecutionId(qe, Some("collectRows")) {
      qe.executedPlan.executeCollect()
    }.map(r => toRow(r).asInstanceOf[Row])
  }
}
