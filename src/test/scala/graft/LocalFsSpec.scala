package graft

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.IvfIndex
import graft.sources.{LocalFs, VersionedLake, ZOrderLake}
import graft.streaming.Streams

/** The table formats' writes on a machine without libhadoop: they start
  * no process, and [[LocalFs]] writes the files the stock local
  * filesystem writes, with the same modes. */
class LocalFsSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The command line of every process this JVM starts during `body`,
    * apart from Spark's page-size probe, which the first metrics
    * heartbeat of a context runs 10-20 s after its start. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val f = tmpDir("graft_localfs_jfr_").toPath.resolve("starts.jfr")
    rec.dump(f)
    rec.close()
    jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
      .filterNot(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
        _.getMethod.getType.getName.startsWith("org.apache.spark.executor.ProcfsMetricsGetter"))))
      .map(_.getString("command"))
  }

  test("lake and index writes and a stream trigger start no process") {
    import spark.implicits._
    val base = tmpDir("graft_localfs_forks_").toString
    val table = s"localfs_vl_${System.nanoTime()}"
    val streamTable = s"localfs_vs_${System.nanoTime()}"
    val rows = (1L to 200L).map(k => (k, s"s$k", k * 1.0)).toDF("k", "s", "v")
    val changes = Seq((5L, "update", "U5", 50.0), (900L, "insert", "N900", 9.0))
      .toDF("k", "op", "s", "v")
    val points = (0 until 2000).map(i => ((i * 37) % 400L, (i * 101) % 400L, i.toLong))
      .toDF("x", "y", "pay")
    def vectors(ids: Range) = ids.map(i =>
      (i.toLong, Array.tabulate(4)(j => (if (j == (i % 2) * 2) 10f else 0f) + (i % 7) * 0.01f)))
      .toDF("vec_id", "embedding")
    val centroids = (0 until 2).map(c =>
      (c, Array.tabulate(4)(j => if (j == c * 2) 10.0 else 0.0))).toDF("list", "cvec")
    val streamIn = s"$base/stream_in"
    Files.createDirectories(JPath.of(streamIn))
    changes.coalesce(1).write.parquet(s"$base/stage")
    val staged = new java.io.File(s"$base/stage").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    var trigger: org.apache.spark.sql.streaming.StreamingQuery = null
    val starts = processStarts {
      VersionedLake.init(rows, s"$base/vl", table, "k", 4)
      VersionedLake.applyBatch(changes, s"$base/vl", table, "k", 4, 0L)
      ZOrderLake.init(points, s"$base/zo", "x", "y", 500)
      ZOrderLake.applyBatch(points.limit(300), s"$base/zo", 500, 0L)
      ZOrderLake.compact(spark, s"$base/zo", 500)
      ZOrderLake.rebuild(spark, s"$base/zo", 500)
      IvfIndex.init(vectors(0 until 100), "vec_id", "embedding", centroids, s"$base/ivf")
      IvfIndex.applyBatch(vectors(100 until 150), "vec_id", "embedding", s"$base/ivf", 0L)
      IvfIndex.compact(spark, s"$base/ivf")
      IvfIndex.rebuild(spark, s"$base/ivf", centroids)
      VersionedLake.init(rows, s"$base/vs", streamTable, "k", 4)
      Files.move(staged.toPath, JPath.of(streamIn, "batch_0.parquet"))
      trigger = Streams.mergeSinkVersioned(
          spark.readStream.schema(changes.schema).parquet(streamIn), s"$base/vs", streamTable, "k", 4)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$base/ckpt").start()
      trigger.processAllAvailable()
      trigger.stop()
    }
    assert(trigger.exception.isEmpty)
    assert(VersionedLake.readPointer(s"$base/vs").get.lastBatch == 0L)
    assert(starts.isEmpty,
      starts.groupBy(_.split(" ").take(2).mkString(" ")).map { case (c, n) => s"${n.size} x $c" })
    VersionedLake.destroy(spark, s"$base/vl", table)
    VersionedLake.destroy(spark, s"$base/vs", streamTable)
    ZOrderLake.destroy(s"$base/zo")
    IvfIndex.destroy(s"$base/ivf")
  }

  /** Relative name (write UUID masked) -> (size, POSIX mode) of every
    * file and directory under `root`. */
  private def tree(root: String): Map[String, (Long, String)] = {
    val r = JPath.of(root)
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    Files.walk(r).iterator().asScala.map { p =>
      r.relativize(p).toString.replaceAll(uuid, "UUID") -> ((
        if (Files.isDirectory(p)) -1L else Files.size(p),
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))))
    }.toMap
  }

  test("a partitioned write under LocalFs leaves the files, sizes, sidecars and modes of the stock filesystem") {
    val stock = spark.newSession()
    val local = spark.newSession()
    LocalFs.setup(local)
    assert(local.conf.get("fs.file.impl") == classOf[LocalFs.Checksummed].getName)
    assert(stock.conf.getOption("fs.file.impl").isEmpty)
    def write(s: SparkSession, dir: String): Map[String, (Long, String)] = {
      import s.implicits._
      (0 until 500).map(i => (i % 3, i.toLong, s"v$i")).toDF("part", "id", "s")
        .repartition(2).write.partitionBy("part").parquet(dir)
      tree(dir)
    }
    val base = tmpDir("graft_localfs_same_").toString
    val a = write(stock, s"$base/stock")
    val b = write(local, s"$base/local")
    assert(a.keySet.exists(_.endsWith(".crc")))
    assert(a.keySet.filter(_.endsWith(".crc")) == b.keySet.filter(_.endsWith(".crc")))
    assert(a == b)
  }

  test("a session that names its own file: filesystem keeps it") {
    val own = spark.newSession()
    own.conf.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    LocalFs.setup(own)
    assert(own.conf.get("fs.file.impl") == classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    assert(own.conf.getOption("fs.AbstractFileSystem.file.impl").isEmpty)
    assert(own.conf.getOption("fs.file.impl.disable.cache").isEmpty)
  }
}
