package graft

import org.apache.spark.graft.CodegenCount
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{VersionedLake, ZOrderLake}
import graft.streaming.Streams

/** How many generated classes the lake formats compile. Spark's codegen
  * cache holds 100 classes; an ingest cycle that needs more recompiles
  * on every cycle what the last one compiled. These pins hold the
  * operations' class counts, and that operations doing the same work
  * share their classes. */
class CodegenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `df` written to parquet under `dir` and read back, as ingest sees a
    * batch (nullable columns, a file scan). */
  private def staged(df: DataFrame, dir: String): DataFrame = {
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("z-order apply, rebuild and box reads: class counts, shared writer") {
    import spark.implicits._
    val base = tmp("graft_cg_zorder_")
    val root = s"$base/lake"
    val rnd = new scala.util.Random(11)
    def rows(n: Int, from: Long) = (0 until n).map(i =>
      (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong, from + i))
      .toDF("x", "y", "pay")
    ZOrderLake.init(rows(400, 0L), root, "x", "y", targetRows = 100)
    ZOrderLake.applyBatch(staged(rows(40, 1000L), s"$base/b0"), root, 100L, 0L, 10)
    val (_, apply) = CodegenCount.cold(
      ZOrderLake.applyBatch(staged(rows(40, 2000L), s"$base/b1"), root, 100L, 1L, 10))
    info(s"applyBatch into a cold cache: $apply classes")
    // the rebuild writes through the apply's writer and scans the lake
    // with the apply's batch pass
    val (_, rebuild) = CodegenCount(ZOrderLake.rebuild(spark, root, 100L, 10))
    info(s"rebuild after an apply: $rebuild new classes")
    ZOrderLake.readBox(spark, root, Seq(0L, 0L), Seq(30000L, 30000L)).collect()
    val (_, box) = CodegenCount(
      ZOrderLake.readBox(spark, root, Seq(1000L, 5000L), Seq(40000L, 9000L)).collect())
    info(s"a second box: $box new classes")
    assert(apply <= 20, s"z-order applyBatch compiled $apply classes")
    assert(rebuild <= 4, s"z-order rebuild compiled $rebuild new classes")
    assert(box == 0, s"a box read with new bounds compiled $box classes")
    assert(ZOrderLake.current(spark, root).count() == 480)
    ZOrderLake.destroy(root)
    graft.sources.FsIo.delete(spark.sparkContext.hadoopConfiguration, base)
  }

  test("a streamed versioned commit compiles only its input after a direct one") {
    import spark.implicits._
    val base = tmp("graft_cg_versioned_")
    def changes(ks: Seq[Long], op: String) =
      ks.map(k => (k, op, s"v$k", k * 0.5)).toDF("k", "op", "s", "v")
    val initial = staged(changes(1L to 200L, "insert"), s"$base/init").drop("op")
    // two lakes of one schema: the stream's batch ids restart at 0
    val (direct, streamed) = (s"$base/direct", s"$base/streamed")
    val (dt, st) = (s"cg_direct_${System.nanoTime()}", s"cg_streamed_${System.nanoTime()}")
    VersionedLake.init(initial, direct, dt, "k", 4)
    VersionedLake.init(initial, streamed, st, "k", 4)
    val (_, first) = CodegenCount.cold(VersionedLake.applyBatch(
      staged(changes(190L to 260L, "update"), s"$base/b0"), direct, dt, "k", 4, 0L))
    info(s"direct applyBatch into a cold cache: $first classes")
    val in = s"$base/in"
    changes(250L to 300L, "insert").write.parquet(in)
    val (_, trigger) = CodegenCount {
      val q = Streams.mergeSinkVersioned(
          spark.readStream.schema(spark.read.parquet(in).schema).parquet(in),
          streamed, st, "k", 4)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
    }
    info(s"a streamed commit after it: $trigger new classes")
    assert(VersionedLake.readPointer(streamed).get.version == 1)
    assert(VersionedLake.current(spark, streamed, st).count() == 251)
    // the stream's own file scan, on the driver and in the tasks
    assert(trigger <= 2, s"the streamed commit compiled $trigger new classes")
    VersionedLake.destroy(spark, direct, dt)
    VersionedLake.destroy(spark, streamed, st)
    graft.sources.FsIo.delete(spark.sparkContext.hadoopConfiguration, base)
  }
}
