package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Export sinks AND ingest readers through the Hadoop FileSystem layer
  * (FsIo): every sink and every scientific-format reader (Zarr, HDF5,
  * NetCDF classic) must accept an explicit `file:///` URI (proving the
  * I/O goes through `org.apache.hadoop.fs.FileSystem`, the layer that
  * makes `hdfs://`/`s3a://` work on a real cluster), an unknown scheme
  * must fail LOUDLY at metadata parse (Zarr's absent-chunk→fill_value
  * contract makes a silently unreadable path indistinguishable from an
  * all-fill array), local writes must not leave `.crc` checksum
  * sidecars inside self-describing store layouts, and the one
  * seek-WRITE format (NetCDF classic) must loud-reject a non-POSIX
  * target instead of silently scattering partial files. */
class FsIoSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(tag: String): String =
    tmpDir(s"graft_fsio_$tag").toString

  test("local metadata I/O: listFilesRecursive lists what Hadoop's listFiles lists; writeBytes makes parents and overwrites") {
    import graft.sources.FsIo
    val conf = spark.sparkContext.hadoopConfiguration
    val base = tmp("walk")
    Seq(("plain", base), ("uri", s"file://$base")).foreach { case (tag, root) =>
      val tree = s"$root/$tag"
      // every parent is missing: writeBytes creates them
      FsIo.writeBytes(conf, s"$tree/seg/list=0/part-0.parquet", Array[Byte](1, 2))
      FsIo.writeBytes(conf, s"$tree/seg/list=0/.part-0.parquet.crc", Array[Byte](3))
      FsIo.writeBytes(conf, s"$tree/seg/list=1/part-1.parquet", Array[Byte](4))
      FsIo.writeBytes(conf, s"$tree/seg/_SUCCESS", Array.emptyByteArray)
      FsIo.writeBytes(conf, s"$tree/top.bin", "first, longer".getBytes("UTF-8"))
      FsIo.mkdirs(conf, s"$tree/empty/nested")
      def hadoop(p: String): Seq[String] = {
        val it = FsIo.fs(conf, p).listFiles(new org.apache.hadoop.fs.Path(p), true)
        val out = Seq.newBuilder[String]
        while (it.hasNext) out += it.next().getPath.toString
        out.result()
      }
      Seq(tree, s"$tree/seg", s"$tree/seg/list=1/part-1.parquet").foreach { p =>
        assert(FsIo.listFilesRecursive(conf, p).toSeq == hadoop(p), s"$tag: $p")
      }
      assert(hadoop(tree).size == 5, s"$tag: ${hadoop(tree)}")
      assert(FsIo.listFilesRecursive(conf, s"$tree/absent").isEmpty, tag)
      FsIo.writeBytes(conf, s"$tree/top.bin", "second".getBytes("UTF-8"))
      assert(new String(FsIo.readBytes(conf, s"$tree/top.bin"), "UTF-8") == "second", tag)
    }
    FsIo.delete(conf, base)
  }

  test("TFRecord shards write through an explicit file:/// URI") {
    import spark.implicits._
    val local = tmp("tfr")
    val df = (1 to 500).map(i => s"rec-$i").toDF("s")
      .select(col("s").cast("binary").as("p")).repartition(3)
    graft.sources.TfRecord.write(df, "p", s"file://$local")
    val files = new java.io.File(local).listFiles().map(_.getName).toSeq
    assert(files.count(_.endsWith(".tfrecord")) == 3, files.toString)
    assert(!files.exists(_.endsWith(".crc")),
      s"checksum sidecars polluted the shard directory: $files")
    val back = graft.sources.TfRecord.read(spark, local + "/*.tfrecord")
      .select(col("payload").cast("string")).as[String].collect().sorted
    assert(back.toSeq === (1 to 500).map(i => s"rec-$i").sorted)
  }

  test("WARC shards write through an explicit file:/// URI") {
    import spark.implicits._
    val local = tmp("warc")
    val df = (1 to 40).map(i => (s"https://ex.org/p$i", s"<html>$i</html>"))
      .toDF("uri", "body0")
      .select(col("uri"), col("body0").cast("binary").as("body"),
        lit("text/html").as("http_content_type"))
      .repartition(2)
    graft.sources.Warc.write(df, s"file://$local")
    val files = new java.io.File(local).listFiles().map(_.getName).toSeq
    assert(files.count(_.endsWith(".warc.gz")) == 2, files.toString)
    assert(!files.exists(_.endsWith(".crc")), files.toString)
    val back = graft.sources.Warc.read(spark, local + "/*.warc.gz")
    assert(back.count() == 40)
  }

  test("Zarr v2 + v3 array exports write through an explicit file:/// URI") {
    import spark.implicits._
    val local = tmp("zarr")
    val df = (0 until 200).map(i => (i, i * 0.5)).toDF("t", "value")
    graft.sources.Zarr.writeArray(df, s"file://$local", "tas",
      targetChunkElems = 64)
    // metadata + chunks landed as plain files, no checksum sidecars
    val arrDir = new java.io.File(local, "tas")
    val names = arrDir.listFiles().map(_.getName).toSeq
    assert(names.contains(".zarray") && names.contains("0"), names.toString)
    assert(!names.exists(_.endsWith(".crc")), names.toString)
    // the Hadoop-FS read side sees exactly what the Hadoop write side wrote
    val back = graft.sources.Zarr.readVariable(spark, local, "tas")
    assert(back.count() == 200)
    assert(back.agg(sum("value")).head.getDouble(0) === (0 until 200).map(_ * 0.5).sum)
    graft.sources.Zarr.writeArrayV3(df, s"file://$local", "tas3",
      targetChunkElems = 64)
    val v3names = new java.io.File(local, "tas3").listFiles().map(_.getName).toSeq
    assert(v3names.contains("zarr.json") && v3names.contains("c"), v3names.toString)
    val backV3 = graft.sources.Zarr.readVariable(spark, local, "tas3")
    assert(backV3.agg(sum("value")).head.getDouble(0) ===
      (0 until 200).map(_ * 0.5).sum)
  }

  test("NetCDF classic write accepts file:/// and loud-rejects hdfs://") {
    import spark.implicits._
    val dir = tmp("nc")
    val df = (0 until 24).map(i => (i, 10.0 + i)).toDF("time", "value")
    val h = graft.sources.NetCDF.writeClassic(spark, s"file://$dir/t.nc",
      Seq(("time", 24)), Seq(graft.sources.NetCDF.WriteVar("tas", Seq("time"), df)))
    assert(h.vars.exists(_.name == "tas"))
    val back = graft.sources.NetCDF.readVariable(spark, s"$dir/t.nc", "tas")
    assert(back.count() == 24)
    val e = intercept[IllegalArgumentException] {
      graft.sources.NetCDF.writeClassic(spark, "hdfs://nn.invalid:8020/t.nc",
        Seq(("time", 24)), Seq(graft.sources.NetCDF.WriteVar("tas", Seq("time"), df)))
    }
    assert(e.getMessage.contains("POSIX"), e.getMessage)
  }

  test("z-order lake metadata round-trips through an explicit file:/// root") {
    import spark.implicits._
    import graft.sources.ZOrderLake
    val local = tmp("zolake")
    val root = s"file://$local/zo"
    val df = (0 until 5000).map(i =>
      ((i % 100).toLong, (i / 100).toLong, i.toLong)).toDF("x", "y", "pay")
    ZOrderLake.init(df, root, Seq("x", "y"), targetRows = 1000)
    // pointer/manifest/bounds landed as plain files through the Hadoop
    // layer, no .crc sidecars
    val zo = new java.io.File(local, "zo")
    assert(new java.io.File(zo, "_current").isFile)
    assert(new java.io.File(zo, "_bounds").isFile)
    assert(!zo.listFiles().exists(_.getName.endsWith(".crc")),
      zo.listFiles().map(_.getName).mkString(","))
    // append + read back through the same URI root
    ZOrderLake.applyBatch((0 until 500).map(i =>
        ((i % 10).toLong, (i / 10).toLong, (9000 + i).toLong))
        .toDF("x", "y", "pay"),
      root, targetRows = 1000, batchId = 0L)
    assert(ZOrderLake.readPointer(root).get.version == 1)
    assert(ZOrderLake.current(spark, root).count() == 5500)
    val box = ZOrderLake.readBox(spark, root, Seq(0L, 0L), Seq(9L, 9L))
    assert(box.count() ==
      ZOrderLake.current(spark, root)
        .filter(col("x") <= 9 && col("y") <= 9).count())
    ZOrderLake.destroy(root)
    assert(!zo.exists())
  }

  test("Zarr store READS through an explicit file:/// URI; unknown schemes loud-reject") {
    val local = tmp("zread")
    graft.sources.Zarr.plantedStore(local)
    val plain = graft.sources.Zarr.readVariable(spark, local, "tas")
      .collect().map(_.toSeq).toSet
    val viaUri = graft.sources.Zarr.readVariable(spark, s"file://$local", "tas")
      .collect().map(_.toSeq).toSet
    assert(plain.nonEmpty && viaUri == plain)
    assert(graft.sources.Zarr.readMeta(s"file://$local").map(_.name) ==
      graft.sources.Zarr.readMeta(local).map(_.name))
    // a scheme no FileSystem serves fails LOUDLY at metadata parse —
    // never the absent-chunk→fill_value path (silent all-fill data)
    intercept[Exception] {
      graft.sources.Zarr.readVariable(spark, s"bogus:/$local", "tas")
    }
  }

  test("HDF5 READS through an explicit file:/// URI; unknown schemes loud-reject") {
    val f = new java.io.File(tmpDir("graft_fsio_h5_"), "planted.h5")
    graft.sources.Hdf5PlantedNbit.write(f.getPath)
    val uri = s"file://${f.getPath}"
    assert(graft.sources.Hdf5.readMeta(uri).map(_.name) ==
      graft.sources.Hdf5.readMeta(f.getPath).map(_.name))
    val rows = graft.sources.Hdf5.readVariable(spark, uri, "sensor")
      .orderBy("i0").collect()
    assert(rows.map(r => (r.getInt(0), r.getDouble(1))).toSeq ==
      (0 until 48).map(t => (t, graft.sources.Hdf5PlantedNbit.value(t).toDouble)))
    intercept[Exception] {
      graft.sources.Hdf5.readMeta(s"bogus:/${f.getPath}")
    }
  }

  test("NetCDF classic READS through an explicit file:/// URI") {
    import spark.implicits._
    val dir = tmp("ncread")
    val df = (0 until 24).map(i => (i, 10.0 + i)).toDF("time", "value")
    graft.sources.NetCDF.writeClassic(spark, s"$dir/t.nc",
      Seq(("time", 24)), Seq(graft.sources.NetCDF.WriteVar("tas", Seq("time"), df)))
    val back = graft.sources.NetCDF.readVariable(spark, s"file://$dir/t.nc", "tas")
      .orderBy("time").collect()
    assert(back.map(_.getDouble(1)).toSeq == (0 until 24).map(10.0 + _))
  }

  test("SeekableData: window-buffered positioned reads match the file bytes") {
    import graft.sources.FsIo
    val p = tmp("seek") + "/blob.bin"
    val bytes = Array.tabulate(20000)(i => ((i * 31 + 7) % 251).toByte)
    FsIo.writeBytes(FsIo.driverConf(), p, bytes)
    val sd = FsIo.openSeekable(FsIo.driverConf(), p)
    try {
      assert(sd.length == 20000)
      // byte cursor across a window boundary (window is 8 KiB)
      sd.seek(8190)
      assert((0 until 6).map(_ => sd.readUnsignedByte()) ==
        (8190 until 8196).map(bytes(_) & 0xFF))
      // bulk read larger than the window bypasses it
      val big = new Array[Byte](10000)
      sd.seek(123); sd.readFully(big)
      assert(big.toSeq == bytes.slice(123, 10123).toSeq)
      // seek-back inside the window re-serves without I/O; values agree
      sd.seek(8191)
      assert(sd.readUnsignedByte() == (bytes(8191) & 0xFF))
      // big-endian DataInput semantics match RandomAccessFile's
      sd.seek(100)
      val bb = java.nio.ByteBuffer.wrap(bytes, 100, 12)
      assert(sd.readInt() == bb.getInt && sd.readLong() == bb.getLong)
      // reads past EOF throw instead of returning garbage
      sd.seek(19998)
      intercept[java.io.EOFException] { sd.readFully(new Array[Byte](3)) }
    } finally sd.close()
  }

  test("IVF index metadata round-trips through an explicit file:/// root") {
    import spark.implicits._
    import graft.pipeline.IvfIndex
    val local = tmp("ivf")
    val root = s"file://$local/ivf"
    val dim = 8
    def vec(id: Int): Array[Float] =
      Array.tabulate(dim)(j => (if (j == (id % 2) * 4) 10f else 0f) + id * 0.001f)
    val centroids = (0 until 2).map(c =>
      (c, Array.tabulate(dim)(j => if (j == c * 4) 10.0 else 0.0)))
      .toDF("list", "cvec")
    IvfIndex.init((0 until 60).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", centroids, root)
    IvfIndex.applyBatch(
      (60 until 100).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", root, batchId = 0L)
    IvfIndex.applyDeleteBatch(Seq(2L, 4L).toDF("vec_id"), "vec_id", root, 1L)
    // pointer + manifests landed as plain files through the Hadoop
    // layer — no .crc sidecars among the FsIo-written METADATA (the
    // parquet segment dirs are Spark's own writer; its sidecars there
    // are stock behavior, same as the z-order lake's slab dirs)
    val rootDir = new java.io.File(local, "ivf")
    assert(new java.io.File(rootDir, "_current").isFile)
    val metaFiles = rootDir.listFiles().filter(_.isFile).map(_.getName) ++
      new java.io.File(rootDir, "_manifests").listFiles().map(_.getName)
    assert(!metaFiles.exists(_.endsWith(".crc")),
      s"checksum sidecars polluted the index metadata: ${metaFiles.toSeq}")
    assert(IvfIndex.readPointer(root).get == IvfIndex.Pointer(2, 1L))
    assert(IvfIndex.currentAll(spark, root).count() == 98)
    val q = Seq(Tuple1(vec(1))).toDF("qvec")
    val top = IvfIndex.probeTopK(spark, root, q, k = 3, nprobe = 1)
    assert(top.count() == 3)
    assert(IvfIndex.compact(spark, root) == 1)
    assert(IvfIndex.currentAll(spark, root).count() == 98)
    IvfIndex.destroy(root)
    assert(!rootDir.exists())
  }

  test("versioned lake pointer resolves through the session's Hadoop conf") {
    import spark.implicits._
    import graft.sources.VersionedLake
    // a scheme only this session's Hadoop conf knows, under both the
    // FileSystem and the AbstractFileSystem (FileContext) keys; uncached,
    // so a stock Configuration cannot borrow the session's instance
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.sessionfs.impl", classOf[FsIoSpec.SessionFs].getName)
    hc.setBoolean("fs.sessionfs.impl.disable.cache", true)
    hc.set("fs.AbstractFileSystem.sessionfs.impl",
      classOf[FsIoSpec.SessionAfs].getName)
    val root = s"sessionfs://${tmp("vlake")}/vl"
    val table = s"vlake_sessionfs_${System.nanoTime()}"
    val initial = (1L to 20L).map(k => (k, s"s$k", k * 1.0)).toDF("k", "s", "v")
    VersionedLake.init(initial, root, table, "k", 4)
    VersionedLake.applyBatch(
      Seq((21L, "insert", "n21", 21.0)).toDF("k", "op", "s", "v"),
      root, table, "k", 4, batchId = 0L)
    assert(VersionedLake.readPointer(root, hc).get == VersionedLake.Pointer(1, 0L))
    assert(VersionedLake.current(spark, root, table).count() == 21)
    assert(VersionedLake.asOf(spark, root, table, 0).count() == 20)
    // a stock Configuration cannot resolve the root: the reads above
    // went through the session's conf
    intercept[java.io.IOException](VersionedLake.readPointer(root))
    VersionedLake.destroy(spark, root, table)
    assert(VersionedLake.readPointer(root, hc).isEmpty)
  }

  test("ConfSnapshot rebuilds a usable Configuration after serialization") {
    val snap = graft.sources.FsIo.snapshot(spark)
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(snap); oos.close()
    val ois = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
    val back = ois.readObject().asInstanceOf[graft.sources.FsIo.ConfSnapshot]
    val p = tmp("conf") + "/x.bin"
    graft.sources.FsIo.writeBytes(back.value, p, Array[Byte](1, 2, 3))
    assert(graft.sources.FsIo.readBytes(back.value, p).toSeq == Seq[Byte](1, 2, 3))
  }
}

object FsIoSpec {
  /** The local filesystem under the `sessionfs` scheme. */
  class SessionFs extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("sessionfs:///")
    override def getScheme: String = "sessionfs"
  }

  /** [[SessionFs]] for FileContext. */
  class SessionAfs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
      extends org.apache.hadoop.fs.DelegateToFileSystem(
        uri, new SessionFs, conf, "sessionfs", false)
}
