package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a block submits, counted by a listener. The listener
  * bus is package-private to Spark, so the count drains it here before
  * and after the block. */
object JobCount {
  def apply[T](sc: SparkContext)(f: => T): (T, Int) = {
    sc.listenerBus.waitUntilEmpty(60000L)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val out = f
      sc.listenerBus.waitUntilEmpty(60000L)
      (out, n.get)
    } finally sc.removeSparkListener(l)
  }
}
