package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One time base for everything the harness records: epoch milliseconds
  * as a double, read through the monotonic clock (Spark's own event
  * times are epoch milliseconds too, so spans, jobs and planning phases
  * line up). */
object Clock {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(id: Long, parent: Long, op: Int, name: String,
                      t0: Double, t1: Double)

/** Spans around the harness's calls into each layer. Disabled, `span`
  * is a plain call. Enabled, each call records (id, parent, op, name,
  * start, end) in memory, and the innermost span id rides along as a
  * Spark local property so the jobs a call submits name their parent. */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  var op: Int = -1
  private var stack: List[Long] = Nil
  private var nextId = 1L
  val spans = mutable.ArrayBuffer.empty[Span]

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = Clock.nowMs
      try f
      finally {
        val t1 = Clock.nowMs
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.toString).orNull)
        spans += Span(id, parent, op, name, t0, t1)
      }
    }
}

object Tracer { val SpanProp = "graftbench.span" }

/** What one Spark job did, summed over its tasks. */
final class JobRec(val id: Int, val group: String, val span: Long, val t0: Long) {
  var t1 = -1L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inBytes = 0L
  var inRecords = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** Scheduler and planner observer: a SparkListener for jobs, stages and
  * tasks, and a QueryExecutionListener for each finished query's
  * planning phases. Installed only while a traced block runs. */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  /** (phase, start ms, end ms) of every finished query execution. */
  val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val span = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = new JobRec(e.jobId, group, span, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1 = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.inBytes += m.inputMetrics.bytesRead
        j.inRecords += m.inputMetrics.recordsRead
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
      }
    }
  }

  /** The planning phases of `qe` (those named in `only`, if given). */
  def record(qe: QueryExecution, only: Set[String] = Set.empty): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      if (only.isEmpty || only(name)) phases += ((name, p.startTimeMs, p.endTimeMs))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)
}

/** CPU time of the engine's threads: every live JVM thread (the JIT
  * compiler and collector threads are not among them) — the driver
  * thread, task threads, the stream's execution thread, Spark's event
  * loops. Kept per thread, so a thread that ends between two looks drops
  * out instead of taking its history with it. */
object ThreadCpu {
  private val mx = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def sample(): Map[Long, Long] = {
    val ids = mx.getAllThreadIds
    ids.iterator.zip(mx.getThreadCpuTime(ids).iterator).filter(_._2 >= 0).toMap
  }

  /** CPU milliseconds the threads alive at `after` used since `before`. */
  def ms(before: Map[Long, Long], after: Map[Long, Long]): Double =
    after.iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e6
}

/** A fixed piece of pure-JVM work (fill and sort 1 MB of longs) run on
  * every core at once, between operations. The engine's code takes no
  * part in it, so its time follows how fast the host runs the JVM at that
  * moment: CPU stolen by other guests, neighbours' load, the JVM's own
  * background threads. */
final class HostGauge(threads: Int) {
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "host-gauge")
    t.setDaemon(true)
    t
  })
  private val arrays = Array.fill(threads)(new Array[Long](1 << 17))

  /** Milliseconds this thread takes for one piece of the work. */
  private def work(a: Array[Long]): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < a.length) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; a(i) = x; i += 1 }
    java.util.Arrays.sort(a)
    (System.nanoTime() - t0) / 1e6
  }

  /** One round: the median of the threads' times, so one thread held up
    * by a background thread on its core does not set the round. */
  def ms(): Double = {
    val times = arrays.map(a => pool.submit(() => work(a))).map(_.get()).sorted
    val n = times.length
    (times((n - 1) / 2) + times(n / 2)) / 2
  }

  def stop(): Unit = pool.shutdownNow()
}

/** Process-wide counters read at operation boundaries. */
object Samplers {
  private val MB = 1024.0 * 1024.0

  /** Files the session's file indexes have listed so far (Spark's
    * catalog metrics): what table resolution cost in listing. */
  def filesListed: Long =
    org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / MB

  /** (total compile nanoseconds, compilations) of generated code. */
  def codegen: (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** (MB of persisted and checkpointed blocks in memory and on disk,
    * RDDs with cached partitions). */
  def storage(sc: SparkContext): (Double, Int) = {
    val infos = sc.getRDDStorageInfo
    (infos.map(i => i.memSize + i.diskSize).sum / MB, infos.count(_.numCachedPartitions > 0))
  }
}

/** Files under a set of roots, seen from outside: what appeared since the
  * last look, what is there now, and how often a `_current` pointer
  * changed (one change = one committed version). */
final class FsWatch(roots: () => Seq[java.io.File]) {
  private var seen = Map.empty[String, Long]
  private var pointers = Map.empty[String, String]
  var versions = 0L

  private def walk(f: java.io.File): Iterator[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).iterator.flatMap(_.iterator).flatMap(walk)
    else if (f.isFile) Iterator(f)
    else Iterator.empty

  def files: Map[String, Long] =
    roots().iterator.flatMap(walk).map(f => f.getPath -> f.length()).toMap

  def totalBytes: Long = files.values.sum

  /** Look again; returns (bytes, files) that appeared since the last look. */
  def observe(): (Long, Long) = {
    val now = files
    val fresh = now.filter { case (p, n) => !seen.get(p).contains(n) }
    seen = now
    val ptrs = now.keys.filter(_.endsWith("/_current")).map { p =>
      p -> new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
    }.toMap
    versions += ptrs.count { case (p, v) => pointers.get(p).exists(_ != v) }
    pointers = ptrs
    (fresh.values.sum, fresh.size.toLong)
  }
}
