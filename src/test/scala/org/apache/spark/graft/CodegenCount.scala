package org.apache.spark.graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** The classes a block compiles: Janino compiles once per miss of Spark's
  * codegen cache, keyed by (context class loader, generated source), and
  * every compile lands in the compilation-time histogram. In `local[N]` a
  * whole-stage class counts twice, on the driver and in the tasks. */
object CodegenCount {
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** What `f` compiles on top of what the cache already holds. */
  def apply[T](f: => T): (T, Long) = {
    val n0 = compiles
    val out = f
    (out, compiles - n0)
  }

  /** What `f` compiles into an emptied cache. */
  def cold[T](f: => T): (T, Long) = {
    // the cache is private to CodeGenerator's companion
    val m = CodeGenerator.getClass.getDeclaredMethod("cache")
    m.setAccessible(true)
    val cache = m.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    apply(f)
  }
}
