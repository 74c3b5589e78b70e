package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{FsIo, Ledger}

/** The commit protocol the three table formats share: concurrent
  * pointer swaps stay whole, and a commit that dies between its data
  * write and its pointer swap heals on replay. */
class LedgerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_ledger_$tag").toString

  test("two threads swapping one root's pointer never throw or tear it") {
    val root = tmp("swap")
    val conf = new org.apache.hadoop.conf.Configuration()
    val first = Ledger.Pointer(0, -1L)
    Ledger.writePointer(root, first, conf)
    val swaps = 200
    def written(t: Int, i: Int) = Ledger.Pointer(i, t.toLong, t)
    val start = new java.util.concurrent.CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[Option[Ledger.Pointer]]()
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        start.await()
        try (1 to swaps).foreach { i =>
          Ledger.writePointer(root, written(t, i), conf)
          reads.add(Ledger.readPointer(root, conf))
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    assert(errors.isEmpty, s"swap threw: ${errors.toArray.take(3).mkString("; ")}")
    val valid = (for (t <- 0 until 2; i <- 1 to swaps) yield written(t, i)).toSet
    assert(reads.size == 2 * swaps)
    reads.forEach(r => assert(r.exists(valid.contains), s"read $r"))
    // every temp file was renamed into place: nothing but the pointer left
    assert(new java.io.File(root).list().toSeq == Seq("_current"))
  }

  test("IVF index crash before the pointer swap heals on replay") {
    import spark.implicits._
    import graft.pipeline.IvfIndex
    val root = tmp("ivf") + "/ivf"
    val conf = spark.sparkContext.hadoopConfiguration
    val dim = 8
    def vec(id: Int): Array[Float] =
      Array.tabulate(dim)(j => (if (j == (id % 2) * 4) 10f else 0f) + id * 0.001f)
    def frame(ids: Range) =
      ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val centroids = (0 until 2).map(c =>
      (c, Array.tabulate(dim)(j => if (j == c * 4) 10.0 else 0.0)))
      .toDF("list", "cvec")
    IvfIndex.init(frame(0 until 60), "vec_id", "embedding", centroids, root)
    IvfIndex.applyBatch(frame(60 until 80), "vec_id", "embedding", root, 0L)
    val before = IvfIndex.readPointer(root).get
    IvfIndex.applyBatch(frame(80 until 100), "vec_id", "embedding", root, 1L)
    val p = IvfIndex.readPointer(root).get
    assert(p == IvfIndex.Pointer(2, 1L))
    def rows() = IvfIndex.currentAll(spark, root)
      .select(col("vec_id"), col("list")).as[(Long, Int)].collect().toSet
    val expect = rows()
    assert(expect.size == 100)
    // un-swap: segment and manifest v2 are on disk, the pointer is back
    // at v1 as if the commit died before its rename; the replayed batch
    // must re-derive the same v2
    Ledger.writePointer(root, before, conf)
    assert(rows().size == 80)
    IvfIndex.applyBatch(frame(80 until 100), "vec_id", "embedding", root, 1L)
    assert(IvfIndex.readPointer(root).get == p)
    assert(rows() == expect)
    // the next commit's sweep leaves no segment directory that no
    // retained manifest references
    IvfIndex.applyBatch(frame(100 until 110), "vec_id", "embedding", root, 2L,
      retain = 0)
    val live = IvfIndex.readManifest(root, IvfIndex.readPointer(root).get.version)
      .map(_.dir.split('/').last).toSet
    assert(FsIo.listDirNames(conf, s"$root/seg").toSet == live)
    assert(rows().size == 110)
    IvfIndex.destroy(root)
  }
}
