package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Union}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.SessionState
import graft.pipeline.{IvfIndex, Similarity}

/** The one IVF probe path: every query shape and scorer keeps its
  * result columns and types when no probed list holds a posting; the
  * driver-side list selection returns the distributed path's rows; the
  * candidates are one file scan; a batch probe's Spark jobs are
  * pinned; one batch written twice gives the same segment bytes. */
class IvfProbeSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dim = 8
  private def vec(id: Int): Array[Float] =
    Array.tabulate(dim)(j =>
      (if (j == (id % 2) * 4) 10f else 0f) + ((id * 11 + j * 5) % 9) * 0.01f)
  private def centroids = {
    import spark.implicits._
    (0 until 2).map(c =>
      (c, Array.tabulate(dim)(j => if (j == c * 4) 10.0 else 0.0)))
      .toDF("list", "cvec")
  }
  /** A PQ index of two posting segments, each holding both lists. */
  private def twoSegments(prefix: String): String = {
    import spark.implicits._
    val root = tmpDir(prefix).toString + "/ivf"
    IvfIndex.init((0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", centroids, root, pqM = 2, pqK = 4)
    IvfIndex.applyBatch((40 until 80).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root, 0L)
    root
  }
  private def queries: DataFrame = {
    import spark.implicits._
    // qid 3 is equidistant from both centroids: with nprobe = 1 the
    // (d2, list) tie order alone picks its list
    val tie = Array.tabulate(dim)(j => if (j == 0 || j == 4) 5f else 0f)
    (Seq((0L, vec(0)), (1L, vec(1)), (2L, vec(7))) :+ ((3L, tie))).toDF("qid", "qvec")
  }
  private def driverSide(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect { case l: LocalRelation => l }
      .exists(_.output.exists(_.name == "probe_lists"))

  test("IVF probes over empty lists keep the non-empty schema for every shape and scorer") {
    import spark.implicits._
    val frame = (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val root = tmpDir("graft_ivfempty_").toString + "/ivf"
    IvfIndex.init(frame, "vec_id", "embedding", centroids, root, pqM = 2, pqK = 4)
    val q = Seq(Tuple1(vec(0))).toDF("qvec")
    val qs = Seq((0L, vec(0)), (1L, vec(1))).toDF("qid", "qvec")
    val k = 3
    val probes: Seq[(String, () => DataFrame)] = for {
      scorer <- Seq(IvfIndex.Cosine, IvfIndex.Adc(0), IvfIndex.Adc(k))
      (shape, run) <- Seq[(String, () => DataFrame)](
        "one" -> (() => IvfIndex.probeTopK(spark, root, q, k, nprobe = 2, scorer)),
        "batch" -> (() => IvfIndex.probeTopKBatch(spark, root, qs, k, nprobe = 2, scorer)))
    } yield (s"$shape $scorer", run)
    def typed(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    val full = probes.map { case (name, run) =>
      val df = run()
      assert(df.count() > 0, name)
      name -> typed(df)
    }.toMap
    IvfIndex.applyDeleteBatch(frame.select("vec_id"), "vec_id", root, 0L, retain = 10)
    assert(IvfIndex.compact(spark, root, retain = 10) == 1)
    probes.foreach { case (name, run) =>
      val df = run()
      assert(df.count() == 0, name)
      assert(typed(df) == full(name), name)
    }
    IvfIndex.destroy(root)
  }

  test("driver-side list selection returns the distributed path's rows for every scorer") {
    val root = twoSegments("graft_ivfsel_")
    val k = 4
    val scorers = Seq(IvfIndex.Cosine, IvfIndex.Adc(0), IvfIndex.Adc(k))
    def run(scorer: IvfIndex.Scorer, nprobe: Int): (Boolean, Seq[Row]) = {
      val df = IvfIndex.probeTopKBatch(spark, root, queries, k, nprobe, scorer)
      (driverSide(df), df.orderBy("qid", "rank").collect().toSeq)
    }
    val cases = for (s <- scorers; n <- Seq(1, 2)) yield (s, n)
    val warm = cases.map { case (s, n) => run(s, n) }
    SessionState.evict(root)
    val cold = cases.map { case (s, n) => run(s, n) }
    cases.zip(warm.zip(cold)).foreach { case ((s, n), ((wLocal, w), (cLocal, c))) =>
      assert(wLocal && !cLocal, s"$s nprobe $n: paths not as forced")
      assert(w.map(_.getLong(0)).distinct == Seq(0L, 1L, 2L, 3L), s"$s nprobe $n")
      assert(w == c, s"$s nprobe $n")
    }
    IvfIndex.destroy(root)
  }

  test("IVF candidates are one file scan, and a zero-row segment still reads") {
    import spark.implicits._
    val root = twoSegments("graft_ivfscan_")
    val probe = IvfIndex.probeTopKBatch(spark, root, queries, 5, nprobe = 2)
    val plan = probe.queryExecution.optimizedPlan
    assert(plan.collect { case r: LogicalRelation => r }.size == 1, plan.treeString)
    assert(plan.collect { case u: Union => u }.isEmpty, plan.treeString)
    assert(probe.count() == 4 * 5)
    // delete everything, compact to one zero-row segment, append on top
    IvfIndex.applyDeleteBatch(IvfIndex.currentAll(spark, root).select("vec_id"),
      "vec_id", root, 1L, retain = 10)
    assert(IvfIndex.compact(spark, root, retain = 10) == 1)
    val fresh = (100 until 120).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    IvfIndex.applyBatch(fresh, "vec_id", "embedding", root, 2L, retain = 10)
    val all = IvfIndex.currentAll(spark, root)
    assert(all.select("vec_id").as[Long].collect().sorted.toSeq == (100L until 120L))
    val q = Seq(Tuple1(vec(3))).toDF("qvec")
    val top = IvfIndex.probeTopK(spark, root, q, k = 5, nprobe = 2)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    val brute = all.crossJoin(q)
      .withColumn("cosine", Similarity.cosineQuantized(col("embedding"), col("qvec")))
      .orderBy(col("cosine").desc, col("vec_id")).limit(5)
      .select("vec_id").as[Long].collect().toSeq
    assert(top == brute)
    IvfIndex.destroy(root)
  }

  test("a segment written twice from one parquet-backed batch is byte-identical") {
    import spark.implicits._
    val base = tmpDir("graft_ivfbytes_").toString
    (0 until 2000).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
      .repartition(8).write.parquet(s"$base/batch")
    val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
    def segment(root: String): Map[String, Seq[Byte]] = {
      IvfIndex.init(spark.read.parquet(s"$base/batch"), "vec_id", "embedding", centroids, root)
      val seg = java.nio.file.Path.of(s"$root/seg/s00000")
      val files = java.nio.file.Files.walk(seg).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
      files.map(f => seg.relativize(f).toString.replaceAll(uuid, "UUID") ->
        java.nio.file.Files.readAllBytes(f).toSeq).toMap
    }
    val a = segment(s"$base/a")
    val b = segment(s"$base/b")
    assert(a.size == 2)
    assert(a.keySet == b.keySet)
    a.foreach { case (name, bytes) => assert(bytes == b(name), name) }
    Seq("a", "b").foreach(r => IvfIndex.destroy(s"$base/$r"))
  }

  test("a 4-query probe with the pinned quantizer runs at most 4 Spark jobs") {
    val root = twoSegments("graft_ivfjobs_")
    IvfIndex.probeTopKBatch(spark, root, queries, 5, nprobe = 2).collect() // warm
    val (rows, jobs) = JobCount(spark.sparkContext)(
      IvfIndex.probeTopKBatch(spark, root, queries, 5, nprobe = 2).collect())
    assert(rows.length == 4 * 5)
    assert(jobs <= 4, s"probe ran $jobs jobs")
    IvfIndex.destroy(root)
  }
}
