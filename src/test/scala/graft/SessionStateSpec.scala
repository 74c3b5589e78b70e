package graft

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.SessionState
import graft.pipeline.IvfIndex
import graft.sources.{Tables, ZOrderLake}

/** The session-state registry: a session restart in one JVM leaves no
  * entry bound to the stopped session (relations, the persisted shared
  * views, the IVF quantizer and centroid table) and rebuilds what the
  * new session reads; a rebuild of a PQ+SQ8 index evicts the superseded
  * generation's metadata and holds the new generation's quantizer,
  * codebook and SQ8 bounds. The spec leaves its last session live for
  * the suites after it. */
class SessionStateSpec extends AnyFunSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def session(): SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dim = 8
  private def vec(id: Int): Array[Float] =
    Array.tabulate(dim)(j =>
      (if (j == (id % 4) * 2) 10f else 0f) + ((id * 31 + j * 7) % 10) * 0.01f)
  private def frame(s: SparkSession, ids: Range): DataFrame = {
    import s.implicits._
    ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
  }
  private def centroids(s: SparkSession, shift: Int): DataFrame = {
    import s.implicits._
    (0 until 4).map(c =>
      (c, Array.tabulate(dim)(j => if (j == ((c + shift) % 4) * 2) 10.0 else 0.0)))
      .toDF("list", "cvec")
  }
  private def owns(o: Option[AnyRef], s: SparkSession): Boolean =
    o.exists(x => (x eq s) || (x eq s.sparkContext))

  test("a session restart leaves no registry entry bound to the stopped session") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sessionstate_").toString
    // one dailyTotals view, one climateDaily view, a relation and the
    // index and lake metadata, each rebuilt from scratch per session
    def touch(s: SparkSession, tag: String): Seq[Seq[String]] = {
      val rows = Seq("q_threshold_wet_days", "q_huglin").map(q =>
        SparkEntry.queries(q)(s, sfDir).collect().map(_.toString).sorted.toSeq)
      Tables.table(s, sfDir, "lineitem")
      IvfIndex.init(frame(s, 0 until 60), "vec_id", "embedding",
        centroids(s, 0), s"$dir/ivf_$tag", pqM = 4, pqK = 8)
      IvfIndex.probeTopK(s, s"$dir/ivf_$tag",
        frame(s, 7 until 8).select("embedding").toDF("qvec"), k = 3, nprobe = 2)
        .collect()
      ZOrderLake.init(Tables.table(s, sfDir, "lineitem")
          .select("l_orderkey", "l_partkey", "l_quantity"),
        s"$dir/zorder_$tag", Seq("l_orderkey", "l_partkey"), targetRows = 2000L)
      rows
    }
    val a = session()
    val before = touch(a, "a")
    assert(SessionState.keys.exists(k => owns(k._2, a)))
    a.stop()

    val b = session()
    assert(!(b.sparkContext eq a.sparkContext), "getOrCreate reused the stopped context")
    val after = touch(b, "b")
    val held = SessionState.keys
    assert(!held.exists(k => owns(k._2, a)),
      s"entries bound to the stopped session: ${held.filter(k => owns(k._2, a)).map(_._1)}")
    Seq("dailyTotals", "climateDaily").foreach(v =>
      assert(held.exists(k => k._1 == s"$sfDir/#$v" && owns(k._2, b)), v))
    assert(after == before)
    Seq("a", "b").foreach { t =>
      IvfIndex.destroy(s"$dir/ivf_$t")
      ZOrderLake.destroy(s"$dir/zorder_$t")
    }
    graft.sources.FsIo.delete(b.sparkContext.hadoopConfiguration, dir)
  }

  test("an IVF rebuild evicts the superseded generation and keeps the new one's quantizer") {
    val s = session()
    val sc = s.sparkContext
    val root = java.nio.file.Files.createTempDirectory("graft_ivfgen_").toString + "/ivf"
    def append(ids: Range, batchId: Long): Int = JobCount(sc)(
      IvfIndex.applyBatch(frame(s, ids), "vec_id", "embedding", root, batchId))._2
    IvfIndex.init(frame(s, 0 until 100), "vec_id", "embedding", centroids(s, 0),
      root, pqM = 4, pqK = 16, sq8 = true)
    // init holds the quantizer, codebook, SQ8 bounds, centroid schema
    // and segment schema it wrote, so its first append is already warm
    val cold = append(100 until 140, 0L)
    val warm = append(140 until 180, 1L)
    assert(cold == warm, s"first append after init ran $cold Spark jobs, $warm warm")
    val gen0 = Seq("_centroids", "_codebook", "_sq_bounds").map(f => s"$root/$f")
    def under(k: String, p: String) = k == p || k.startsWith(s"$p/")
    assert(gen0.forall(p => SessionState.keys.exists(k => under(k._1, p))))
    IvfIndex.rebuild(s, root, centroids(s, 1))
    val stale = SessionState.keys.map(_._1).filter(k => gen0.exists(under(k, _)))
    assert(stale.isEmpty, s"superseded generation still held: $stale")
    assert(SessionState.keys.exists(k =>
      under(k._1, IvfIndex.centroidsPath(root, 1)) && k._2.exists(_ eq sc)))
    // the rebuild holds the new generation's quantizer, codebook, SQ8
    // bounds and centroid schema, and keeps the segment schema: the next
    // append is warm
    val next = append(180 until 220, 2L)
    assert(next == warm, s"first append after the rebuild ran $next Spark jobs, $warm warm")
    // the held schemas are the ones a read infers
    assert(IvfIndex.readCentroids(s, root).schema ==
      s.read.parquet(IvfIndex.centroidsPath(root, 1)).schema)
    val again = append(220 until 260, 3L)
    assert(again <= warm, s"second append after the rebuild ran $again Spark jobs, $warm before it")
    assert(IvfIndex.currentAll(s, root).count() == 260)
    IvfIndex.destroy(root)
  }
}
