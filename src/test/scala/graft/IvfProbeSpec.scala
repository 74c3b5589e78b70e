package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.IvfIndex

/** The one IVF probe path: every query shape and scorer keeps its
  * result columns and types when no probed list holds a posting. */
class IvfProbeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("IVF probes over empty lists keep the non-empty schema for every shape and scorer") {
    import spark.implicits._
    val dim = 8
    def vec(id: Int): Array[Float] =
      Array.tabulate(dim)(j =>
        (if (j == (id % 2) * 4) 10f else 0f) + ((id * 11 + j * 5) % 9) * 0.01f)
    val frame = (0 until 40).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val centroids = (0 until 2).map(c =>
      (c, Array.tabulate(dim)(j => if (j == c * 4) 10.0 else 0.0)))
      .toDF("list", "cvec")
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivfempty_").toString + "/ivf"
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
}
