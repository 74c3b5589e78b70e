package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One operation of the closed loop; `run` returns the rows it produced
  * (or -1 when it produces none). */
final case class Op(kind: String, name: String, run: () => Long)

/** What one executed operation took and left behind. */
final class OpRec(val id: Int, val kind: String, val name: String,
                  val block: Int, val phase: String, val traced: Boolean,
                  val t0: Double, val t1: Double, val rows: Long,
                  val err: String) {
  var storageMb = 0.0
  var cachedRdds = 0
  var fsBytes = 0L
  var fsFiles = 0L
  /** CPU milliseconds of the engine's threads (`ThreadCpu`). */
  var cpuMs = 0.0
  /** One `HostGauge` round right after the operation. */
  var gaugeMs = 0.0
  var filesListed = 0L
  def ms: Double = t1 - t0
}

/** An output check. `covers` names the operations whose outputs it
  * vouches for. Oracle checks leave `resultDir` + `sql` for the DuckDB
  * comparison outside the JVM; lake checks carry their verdict. */
final case class Check(name: String, covers: Seq[String], ok: Option[Boolean],
                       detail: String, resultDir: String = null,
                       sql: String = null)

trait Workload {
  /** First table touch and everything the first block needs; the lake
    * workload also initialises its formats here. */
  def setup(): Unit
  /** The operations of block `k`: one pass over the query list, or one
    * ingest cycle. The run seed and `k` fix them. */
  def block(k: Int): Seq[Op]
  /** Called after every operation, outside its timing. */
  def afterOp(rec: OpRec): Unit = ()
  /** Most warm-up passes the run budget allows. */
  def maxWarm: Int = Harness.MaxWarm
  /** Output checks, once, after the timed region. */
  def check(): Seq[Check]
  /** Workload-specific raw figures for the result file (lake sizes). */
  def extra: Seq[(String, String)] = Nil
  def cleanup(): Unit
}

/** The benchmark's JVM side: builds the session, sets up and warms the
  * workload until its pass time levels off, runs the closed loop for the
  * given seconds, runs the output checks, and writes every raw record
  * (operations, spans, jobs, planning phases, samples) as one JSON file.
  * `perfbench/run.py` turns that file into metrics.
  *
  * Args: --workload W --seed S --seconds T --trace 0|1 --data DIR
  *       --tmp DIR --out FILE --cores N
  */
object Harness {
  /** Warm-up stops once a pass is less than this much faster than the
    * one before, or after MaxWarm passes. */
  val LevelOff = 0.10
  val MinWarm = 2
  val MaxWarm = 6
  /** The timed region runs at least this many blocks. */
  val MinTimed = 2

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val tmp = a("tmp")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$tmp/java/hadoop")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val tracer = new Tracer(sc)
    val probe = new SparkProbe
    val ctx = Ctx(spark, a("data"), tmp, seed, tracer, probe)
    val wl: Workload = workload match {
      case "query_mix" => new QueryWorkload(ctx, Queries.mix)
      case "scan_heavy" => new QueryWorkload(ctx, Queries.heavy)
      case "lake_ingest" => new LakeWorkload(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val gauge = new HostGauge(cores)
    var installed = false
    def install(on: Boolean): Unit = if (on != installed) {
      if (installed) {
        org.apache.spark.graftbench.BusAccess.drain(sc)
        sc.removeSparkListener(probe)
        spark.listenerManager.unregister(probe)
      } else {
        sc.addSparkListener(probe)
        spark.listenerManager.register(probe)
      }
      installed = on
    }

    val ops = mutable.ArrayBuffer.empty[OpRec]
    var nextOp = 0
    def runOp(op: Op, block: Int, phase: String, traced: Boolean): OpRec = {
      val id = nextOp
      nextOp += 1
      sc.setJobGroup(s"op-$id", s"${op.kind}:${op.name}", interruptOnCancel = false)
      tracer.op = id
      tracer.enabled = traced
      val listed0 = Samplers.filesListed
      val cpu0 = ThreadCpu.sample()
      val t0 = Clock.nowMs
      var err: String = null
      var rows = -1L
      try rows = tracer.span("op:" + op.kind)(op.run())
      catch { case e: Exception => err = errorHead(e) }
      val t1 = Clock.nowMs
      val cpu1 = ThreadCpu.sample()
      tracer.enabled = false
      sc.clearJobGroup()
      val rec = new OpRec(id, op.kind, op.name, block, phase, traced, t0, t1, rows, err)
      val (mb, rdds) = Samplers.storage(sc)
      rec.storageMb = mb
      rec.cachedRdds = rdds
      rec.cpuMs = ThreadCpu.ms(cpu0, cpu1)
      // every phase, so the gauge's own code is compiled before it counts;
      // in the timed region the median of three rounds
      rec.gaugeMs =
        if (phase == "timed") Seq.fill(3)(gauge.ms()).sorted.apply(1) else gauge.ms()
      rec.filesListed = Samplers.filesListed - listed0
      wl.afterOp(rec)
      ops += rec
      println(f"[harness] $phase op $id ${op.name} ${rec.ms}%.1f ms" +
        Option(err).map(" error: " + _).getOrElse(""))
      rec
    }

    val harnessStart = Clock.nowMs
    val setupSpans = mutable.ArrayBuffer.empty[(String, Double, Double)]
    def timedSetup[T](name: String)(f: => T): T = {
      val t0 = Clock.nowMs
      try f finally setupSpans += ((name, t0, Clock.nowMs))
    }
    // set-up calls into the layers are traced too: first table touch and
    // lake init are the cold half of what the per-layer numbers show
    tracer.enabled = trace
    timedSetup("setup")(wl.setup())
    tracer.enabled = false
    // warm-up pass i runs block i: the same operation kinds as the timed
    // region, whose blocks are numbered from 0 again
    val warm = mutable.ArrayBuffer.empty[Double]
    def leveled = warm.size >= MinWarm && warm.last >= (1 - LevelOff) * warm(warm.size - 2)
    timedSetup("warmup") {
      while (!leveled && warm.size < wl.maxWarm)
        warm += wl.block(warm.size).map(runOp(_, warm.size, "warm", traced = false)).map(_.ms).sum
    }

    System.gc()
    Samplers.resetHeapPeak()
    val gcStart = Samplers.gcMs
    val start = Clock.nowMs
    val deadline = start + seconds * 1000
    // Whole blocks only, at least MinTimed of them (two lake cycles run
    // every operation kind), numbered from 0 again. A traced run times
    // block 0 once untraced before tracing: the untraced twin of traced
    // block 0 gives the tracing overhead within the same run and seed.
    var b = 0
    if (trace) wl.block(0).foreach(runOp(_, 0, "timed", traced = false))
    install(trace)
    while (b < MinTimed || Clock.nowMs < deadline) {
      wl.block(b).foreach(runOp(_, b, "timed", trace))
      b += 1
    }
    val end = Clock.nowMs
    install(false)
    val gcTimed = Samplers.gcMs - gcStart
    val heapPeak = Samplers.heapPeakMb
    val (codegenNs, compiles) = Samplers.codegen

    val checks = timedSetup("check")(wl.check())
    val extra = timedSetup("extra")(wl.extra)
    timedSetup("cleanup")(wl.cleanup())

    val rt = Runtime.getRuntime
    val facts = Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "traced" -> trace.toString,
      "cores" -> cores.toString,
      "jvm_processors" -> rt.availableProcessors.toString,
      "default_parallelism" -> sc.defaultParallelism.toString,
      "shuffle_partitions" -> Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "heap_max_mb" -> (rt.maxMemory / (1024 * 1024)).toString,
      "jdk" -> Json.str(s"${sys.props("java.vm.name")} ${sys.props("java.version")}"),
      "spark" -> Json.str(spark.version),
      "data_dir" -> Json.str(ctx.dataDir))
    val out = new StringBuilder
    out ++= Json.obj(
      "facts" -> Json.obj(facts: _*),
      "harness_start_ms" -> Json.num(harnessStart),
      "setup_spans" -> Json.arr(setupSpans.map { case (n, a0, a1) =>
        Json.obj("name" -> Json.str(n), "t0" -> Json.num(a0), "t1" -> Json.num(a1)) }),
      "warm_passes_ms" -> Json.arr(warm.map(Json.num)),
      "timed_start_ms" -> Json.num(start),
      "timed_end_ms" -> Json.num(end),
      "timed_gc_ms" -> gcTimed.toString,
      "timed_heap_peak_mb" -> Json.num(heapPeak),
      "codegen_total_ns" -> codegenNs.toString,
      "codegen_total_compiles" -> compiles.toString,
      "ops" -> Json.arr(ops.map(r => Json.obj(
        "id" -> r.id.toString, "kind" -> Json.str(r.kind), "name" -> Json.str(r.name),
        "block" -> r.block.toString, "phase" -> Json.str(r.phase),
        "traced" -> r.traced.toString, "t0" -> Json.num(r.t0), "t1" -> Json.num(r.t1),
        "rows" -> r.rows.toString, "err" -> Option(r.err).map(Json.str).getOrElse("null"),
        "storage_mb" -> Json.num(r.storageMb),
        "cached_rdds" -> r.cachedRdds.toString, "fs_bytes" -> r.fsBytes.toString,
        "fs_files" -> r.fsFiles.toString, "cpu_ms" -> Json.num(r.cpuMs), "gauge_ms" -> Json.num(r.gaugeMs),
        "files_listed" -> r.filesListed.toString))),
      "spans" -> Json.arr(tracer.spans.map(s => Json.obj(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "name" -> Json.str(s.name), "t0" -> Json.num(s.t0), "t1" -> Json.num(s.t1)))),
      "jobs" -> Json.arr(probe.jobs.values.map(j => Json.obj(
        "id" -> j.id.toString, "group" -> Json.str(j.group), "span" -> j.span.toString,
        "t0" -> j.t0.toString, "t1" -> j.t1.toString, "stages" -> j.stages.toString,
        "tasks" -> j.tasks.toString, "run_ms" -> j.runMs.toString,
        "cpu_ns" -> j.cpuNs.toString, "gc_ms" -> j.gcMs.toString,
        "input_bytes" -> j.inBytes.toString, "input_records" -> j.inRecords.toString,
        "shuffle_read" -> j.shuffleRead.toString, "shuffle_write" -> j.shuffleWrite.toString,
        "spill" -> j.spill.toString))),
      "phases" -> Json.arr(probe.phases.map { case (n, a0, a1) =>
        Json.obj("name" -> Json.str(n), "t0" -> a0.toString, "t1" -> a1.toString) }),
      "checks" -> Json.arr(checks.map(c => Json.obj(
        "name" -> Json.str(c.name), "covers" -> Json.arr(c.covers.map(Json.str)),
        "ok" -> c.ok.map(_.toString).getOrElse("null"), "detail" -> Json.str(c.detail),
        "result_dir" -> Option(c.resultDir).map(Json.str).getOrElse("null"),
        "sql" -> Option(c.sql).map(Json.str).getOrElse("null")))),
      "extra" -> Json.obj(extra: _*))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), out.toString)
    gauge.stop()
    spark.stop()
  }

  def errorHead(e: Throwable): String =
    (Option(e.getMessage).getOrElse(e.getClass.getName)).linesIterator
      .take(1).mkString.take(200)
}

final case class Ctx(spark: SparkSession, dataDir: String, tmp: String,
                     seed: Long, tracer: Tracer, probe: SparkProbe)

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
