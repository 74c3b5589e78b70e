package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is package-private to Spark; the harness drains it
  * before reading what its listeners recorded. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
