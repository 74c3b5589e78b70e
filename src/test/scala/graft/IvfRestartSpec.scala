package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.SessionState
import graft.pipeline.{IvfIndex, Similarity}
import graft.sources.Tables

/** A session restart in one JVM: the IVF index caches its quantizer
  * broadcast per centroid generation, and that broadcast belongs to the
  * context that built it. After `stop()` and a new `getOrCreate()` the
  * next ingest and probe must rebuild it instead of serving the dead
  * one, dropping the dead entry must not destroy a live broadcast that
  * reuses its id, and the table relation cache must let go of the
  * stopped session. The spec leaves the new session live for the suites
  * after it. */
class IvfRestartSpec extends AnyFunSuite {

  private def session(): SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dim = 4
  private def vec(id: Int): Array[Float] =
    Array.tabulate(dim)(j =>
      (if (j == (id % 2) * 2) 10f else 0f) + ((id * 13 + j * 3) % 7) * 0.01f)
  // a parquet-backed batch, as ingest sees it: over a local Seq the
  // optimizer would run the assignment kernel on the driver, where a
  // dead broadcast still answers from its cached value
  private def batch(s: SparkSession, dir: String, ids: Range): DataFrame = {
    import s.implicits._
    val path = s"$dir/batch_${ids.start}.parquet"
    ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
      .write.parquet(path)
    s.read.parquet(path)
  }

  test("IVF ingest and probe survive a same-JVM session restart") {
    val a = session()
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfrestart_").toString
    val root = s"$dir/ivf"
    val centroids = {
      import a.implicits._
      (0 until 2).map(c =>
        (c, Array.tabulate(dim)(j => if (j == c * 2) 10.0 else 0.0)))
        .toDF("list", "cvec")
    }
    IvfIndex.init(batch(a, dir, 0 until 40), "vec_id", "embedding", centroids, root)
    IvfIndex.applyBatch(batch(a, dir, 40 until 80), "vec_id", "embedding", root, 0L)
    Tables.table(a, dir, "batch_0")
    a.stop()

    val b = session()
    assert(!(b.sparkContext eq a.sparkContext), "getOrCreate reused the stopped context")
    Tables.table(b, dir, "batch_0")
    assert(!SessionState.keys.exists(_._2.exists(_ eq a)), "stopped session still cached")
    assert(SessionState.keys.exists(_._2.exists(_ eq b)))
    IvfIndex.applyBatch(batch(b, dir, 80 until 120), "vec_id", "embedding", root, 1L)
    val all = IvfIndex.currentAll(b, root)
    assert(all.count() == 120)
    import b.implicits._
    val q = Seq(Tuple1(vec(3))).toDF("qvec")
    // nprobe covers both lists, so the probe must equal brute force
    val top = IvfIndex.probeTopK(b, root, q, k = 5, nprobe = 2)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    val brute = all.crossJoin(q)
      .withColumn("cosine", Similarity.cosineQuantized(col("embedding"), col("qvec")))
      .orderBy(col("cosine").desc, col("vec_id")).limit(5)
      .select("vec_id").as[Long].collect().toSeq
    assert(top == brute)
    IvfIndex.destroy(root)
    graft.sources.FsIo.delete(b.sparkContext.hadoopConfiguration, dir)
  }

  test("destroying an index after a restart leaves the new context's broadcasts alone") {
    val a = session()
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfbcast_").toString
    val root = s"$dir/ivf"
    val centroids = {
      import a.implicits._
      (0 until 2).map(c =>
        (c, Array.tabulate(dim)(j => if (j == c * 2) 10.0 else 0.0)))
        .toDF("list", "cvec")
    }
    // init caches the quantizer broadcast; every broadcast `a` made has
    // an id below this one
    IvfIndex.init(batch(a, dir, 0 until 40), "vec_id", "embedding", centroids, root)
    val bound = a.sparkContext.broadcast(0L).id
    a.stop()

    // broadcast ids restart at 0: hold a live broadcast on every id `a` used
    val b = session()
    val live = scala.collection.mutable.ArrayBuffer(b.sparkContext.broadcast(1L))
    while (live.last.id < bound) live += b.sparkContext.broadcast(1L)
    IvfIndex.destroy(root)
    val held = live.toSeq
    val read = b.sparkContext.parallelize(Seq(0), 1)
      .map(_ => held.map(_.value).sum).collect().head
    assert(read == held.size)
    graft.sources.FsIo.delete(b.sparkContext.hadoopConfiguration, dir)
  }
}
