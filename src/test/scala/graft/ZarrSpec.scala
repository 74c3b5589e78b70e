package graft

import graft.sources.Zarr
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.io.{File, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.Deflater

/** Byte-level Zarr v2 fixtures (no zarr library in the container — the
  * store is written from the public spec, like NetCDFSpec/Hdf5Spec):
  * chunk grid with partial edge chunks, zlib/gzip/raw/blosc-memcpy
  * codecs, an absent chunk (= fill_value), CF attrs, F-order, big-endian
  * and integer dtypes. */
class ZarrSpec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def write(f: File, bytes: Array[Byte]): Unit = {
    f.getParentFile.mkdirs()
    val out = new FileOutputStream(f)
    try out.write(bytes) finally out.close()
  }

  private def writeText(f: File, s: String): Unit =
    write(f, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def zlib(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(raw); d.finish()
    val out = new Array[Byte](raw.length + 64)
    val n = d.deflate(out)
    d.end()
    out.take(n)
  }

  private def gzip(raw: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(raw); gz.close()
    bos.toByteArray
  }

  // c-blosc memcpy mode is flags bit 0x2 (0x4 is the bit-shuffle filter)
  private def bloscMemcpy(raw: Array[Byte], typesize: Int): Array[Byte] =
    BloscTestEnc.memcpy(raw, typesize)

  private def doubles(vals: Seq[Double], little: Boolean = true): Array[Byte] = {
    val bb = ByteBuffer.allocate(vals.length * 8)
      .order(if (little) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    vals.foreach(bb.putDouble)
    bb.array()
  }

  private def crc32c(b: Array[Byte]): Array[Byte] = {
    val c = new java.util.zip.CRC32C()
    c.update(b, 0, b.length)
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(c.getValue.toInt).array()
  }

  /** tas: double[5,4] chunked [2,3] zlib, C-order, v(y,x) = 10y + x;
    * chunk (2,0) ABSENT → fill_value -999 → NULL after CF masking;
    * scale_factor 0.5, add_offset 100, dims named (y, x). */
  private def writeTas(root: File): Unit = {
    val dir = new File(root, "tas")
    writeText(new File(dir, ".zarray"),
      """{"zarr_format": 2, "shape": [5, 4], "chunks": [2, 3],
        | "dtype": "<f8", "compressor": {"id": "zlib", "level": 1},
        | "fill_value": -999.0, "filters": null, "order": "C"}""".stripMargin)
    writeText(new File(dir, ".zattrs"),
      """{"_ARRAY_DIMENSIONS": ["y", "x"], "_FillValue": -999.0,
        | "scale_factor": 0.5, "add_offset": 100.0, "units": "K"}""".stripMargin)
    // chunk grid: 3 x 2 chunks of [2,3]; chunk (cy,cx) covers y in
    // [2cy,2cy+2), x in [3cx,3cx+3); stored full-size, C-order
    for (cy <- 0 until 3; cx <- 0 until 2; if !(cy == 2 && cx == 0)) {
      val vals = for (ly <- 0 until 2; lx <- 0 until 3) yield {
        val (y, x) = (cy * 2 + ly, cx * 3 + lx)
        if (y < 5 && x < 4) 10.0 * y + x else 7777.0 // out-of-bounds filler
      }
      write(new File(dir, s"$cy.$cx"), zlib(doubles(vals)))
    }
  }

  test("zlib C-order store with absent chunk, CF unpack, named dims") {
    val root = tmpDir("zarr_")
    writeTas(root)
    val df = Zarr.readVariable(spark, root.getPath, "tas")
    assert(df.columns.toSeq == Seq("y", "x", "value"))
    val got = df.collect().map(r => (r.getInt(0), r.getInt(1),
      if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    val expected = (for (y <- 0 until 5; x <- 0 until 4) yield {
      // chunk (2,0) covers y=4, x in 0..2 → absent → fill → NULL
      if (y == 4 && x <= 2) (y, x, null)
      else (y, x, (10.0 * y + x) * 0.5 + 100.0)
    }).toSet
    assert(got == expected)
  }

  test("gzip, raw and blosc-memcpy codecs round-trip; F-order; big-endian; ints") {
    val root = tmpDir("zarr_")
    // gz: double[4] chunked [4] gzip, one chunk
    val gzDir = new File(root, "gz")
    writeText(new File(gzDir, ".zarray"),
      """{"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<f8",
        | "compressor": {"id": "gzip", "level": 1}, "fill_value": null,
        | "filters": null, "order": "C"}""".stripMargin)
    write(new File(gzDir, "0"), gzip(doubles(Seq(1.5, 2.5, 3.5, 4.5))))
    assert(Zarr.readVariable(spark, root.getPath, "gz").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSet ==
      Set((0, 1.5), (1, 2.5), (2, 3.5), (3, 4.5)))
    // fo: double[2,2] single chunk, F-ORDER (column-major), raw codec,
    // big-endian: stored [a00, a10, a01, a11]
    val foDir = new File(root, "fo")
    writeText(new File(foDir, ".zarray"),
      """{"zarr_format": 2, "shape": [2, 2], "chunks": [2, 2], "dtype": ">f8",
        | "compressor": null, "fill_value": null, "filters": null,
        | "order": "F"}""".stripMargin)
    write(new File(foDir, "0.0"), doubles(Seq(11.0, 21.0, 12.0, 22.0), little = false))
    assert(Zarr.readVariable(spark, root.getPath, "fo").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet ==
      Set((0, 0, 11.0), (1, 0, 21.0), (0, 1, 12.0), (1, 1, 22.0)))
    // bi: int16[3] blosc-memcpy with a "/" dimension separator
    val biDir = new File(root, "bi")
    writeText(new File(biDir, ".zarray"),
      """{"zarr_format": 2, "shape": [3], "chunks": [3], "dtype": "<i2",
        | "compressor": {"id": "blosc", "cname": "lz4", "clevel": 0,
        |   "shuffle": 0}, "fill_value": 0, "filters": null, "order": "C",
        | "dimension_separator": "/"}""".stripMargin)
    val i16 = ByteBuffer.allocate(6).order(ByteOrder.LITTLE_ENDIAN)
    Seq(-5, 0, 300).foreach(v => i16.putShort(v.toShort))
    write(new File(biDir, "0"), bloscMemcpy(i16.array(), 2))
    // fill_value 0 is the missing sentinel (xarray mask_and_scale
    // semantics): the stored 0 masks to NULL
    assert(Zarr.readVariable(spark, root.getPath, "bi").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getDouble(1))).toSet ==
      Set((0, -5.0), (1, null), (2, 300.0)))
  }

  test("NaN fill_value masks to NULL; blosc-lz4 compressed store reads; bit-shuffle rejected") {
    val root = tmpDir("zarr_")
    val nanDir = new File(root, "nv")
    writeText(new File(nanDir, ".zarray"),
      """{"zarr_format": 2, "shape": [3], "chunks": [3], "dtype": "<f8",
        | "compressor": null, "fill_value": "NaN", "filters": null,
        | "order": "C"}""".stripMargin)
    write(new File(nanDir, "0"), doubles(Seq(1.0, Double.NaN, 3.0)))
    val got = Zarr.readVariable(spark, root.getPath, "nv").collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getDouble(1))).toSet
    assert(got == Set((0, 1.0), (1, null), (2, 3.0)))
    // the xarray `to_zarr` default shape: blosc/lz4, shuffle=1, split —
    // double[7,64] chunked [4,64], partial edge chunk, 2 blocks per chunk
    val cDir = new File(root, "cb")
    writeText(new File(cDir, ".zarray"),
      """{"zarr_format": 2, "shape": [7, 64], "chunks": [4, 64], "dtype": "<f8",
        | "compressor": {"id": "blosc", "cname": "lz4", "clevel": 5,
        |   "shuffle": 1, "blocksize": 0}, "fill_value": null, "filters": null,
        | "order": "C"}""".stripMargin)
    for (ct <- 0 until 2) {
      val vals = for (lt <- 0 until 4; x <- 0 until 64)
        yield (ct * 4 + lt) * 100.0 + x * 0.5
      write(new File(cDir, s"$ct.0"), BloscTestEnc.chunk(doubles(vals),
        typesize = 8, blocksize = 1024, codec = 1, shuffle = true, split = true))
    }
    val cb = Zarr.readVariable(spark, root.getPath, "cb").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(cb.size == 7 * 64)
    for (t <- 0 until 7; x <- 0 until 64)
      assert(cb((t, x)) == t * 100.0 + x * 0.5)
    // bit-shuffle (flags 0x4) — Blosc(shuffle=BITSHUFFLE) stores — decodes
    val bsDir = new File(root, "bs")
    writeText(new File(bsDir, ".zarray"),
      """{"zarr_format": 2, "shape": [24], "chunks": [24], "dtype": "<f8",
        | "compressor": {"id": "blosc", "cname": "zstd", "clevel": 5,
        |   "shuffle": 2}, "fill_value": null, "filters": null,
        | "order": "C"}""".stripMargin)
    val bsVals = (0 until 24).map(i => 7.0 + i * 0.125)
    write(new File(bsDir, "0"), BloscTestEnc.chunkM(doubles(bsVals),
      typesize = 8, blocksize = 64, codec = 5, shuffleMode = 2, split = false))
    val bs = Zarr.readVariable(spark, root.getPath, "bs").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toMap
    assert(bs.size == 24 && (0 until 24).forall(i => bs(i) == 7.0 + i * 0.125))
  }

  test("consolidated .zmetadata lists arrays; corrupt chunks fail cleanly") {
    val root = tmpDir("zarr_")
    writeTas(root)
    val pDir = new File(root, "aux")
    writeText(new File(pDir, ".zarray"),
      """{"zarr_format": 2, "shape": [2], "chunks": [2], "dtype": "<f8",
        | "compressor": {"id": "zlib", "level": 1}, "fill_value": null,
        | "filters": null, "order": "C"}""".stripMargin)
    write(new File(pDir, "0"), zlib(doubles(Seq(1.0, 2.0))))
    // real consolidation embeds the per-array documents VERBATIM —
    // readMeta parses the arrays from the one consolidated document
    // (xarray's consolidated=True semantics), no per-array reads
    Zarr.consolidate(root.getPath)
    assert(Zarr.readMeta(root.getPath).map(_.name) == Seq("aux", "tas"))
    // the single-document property, pinned: with the per-array metadata
    // files GONE (only .zmetadata + chunks left), readMeta still
    // resolves every array — on an object store this is 1 GET total
    // instead of 3 round trips per array
    val spare = tmpDir("zarr_cm_")
    org.apache.commons.io.FileUtils.copyDirectory(root, spare)
    val before = Zarr.readMeta(spare.getPath)
    new File(new File(spare, "tas"), ".zarray").delete()
    new File(new File(spare, "tas"), ".zattrs").delete()
    new File(new File(spare, "aux"), ".zarray").delete()
    val after = Zarr.readMeta(spare.getPath)
    assert(after == before, "consolidated readMeta touched per-array files")
    // truncated zlib chunk -> clean IOException through the inflate guard
    val full = zlib(doubles(Seq(1.0, 2.0)))
    write(new File(pDir, "0"), full.take(full.length / 2))
    val exZ = intercept[org.apache.spark.SparkException] {
      Zarr.readVariable(spark, root.getPath, "aux").collect()
    }
    assert(exZ.getMessage.contains("corrupt deflate chunk") || exZ.getCause != null)
    // truncated gzip chunk -> clean IOException too
    val gDir = new File(root, "gzc")
    writeText(new File(gDir, ".zarray"),
      """{"zarr_format": 2, "shape": [2], "chunks": [2], "dtype": "<f8",
        | "compressor": {"id": "gzip", "level": 1}, "fill_value": null,
        | "filters": null, "order": "C"}""".stripMargin)
    val gz = gzip(doubles(Seq(1.0, 2.0)))
    write(new File(gDir, "0"), gz.take(gz.length / 2)) // cuts into the deflate body
    val exG = intercept[org.apache.spark.SparkException] {
      Zarr.readVariable(spark, root.getPath, "gzc").collect()
    }
    assert(exG.getMessage.contains("gzip") || exG.getCause != null)
  }

  test("write round trip: lake -> Zarr store -> lake, nulls and absent chunks") {
    import spark.implicits._
    // (t, y) grid with holes: absent positions and a null value both come
    // back as NULL through the NaN fill
    val rows = for (t <- 0 until 7; y <- 0 until 3
                    if !(t == 5 && y == 1)) yield
      (t, y, if (t == 2 && y == 0) null else java.lang.Double.valueOf(t * 10.0 + y))
    val df = rows.toDF("time", "y", "value")
    val store = tmpDir("zarr_w_").toString
    // tiny chunk target forces several leading-dim chunks (3 elems/chunk row)
    Zarr.writeArray(df, store, "tas", targetChunkElems = 6)
    val meta = Zarr.readArrayMeta(store, "tas")
    assert(meta.shape == Seq(7L, 3L) && meta.chunks == Seq(2L, 3L))
    assert(meta.dimNames == Seq("time", "y"))
    val back = Zarr.readVariable(spark, store, "tas").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), if (r.isNullAt(2)) null else r.getDouble(2)))
      .toMap
    val expected = (for (t <- 0 until 7; y <- 0 until 3) yield
      (t, y) -> (if ((t == 5 && y == 1) || (t == 2 && y == 0)) null
        else t * 10.0 + y)).toMap
    assert(back == expected)
  }

  test("zarr store through the indicator pipeline end to end") {
    // the reference's user journey — xr.open_dataset(store) then an
    // indicator — as: Zarr read -> long frame -> registry indicator
    import org.apache.spark.sql.functions._
    val root = tmpDir("zarr_")
    graft.sources.Zarr.plantedStore(root.getPath) // tas double[6,5,4], CF-unpacked
    graft.indicator.Registry.registerBuiltins()
    val daily = graft.sources.Zarr.readVariable(spark, root.getPath, "tas")
      .groupBy(col("y") * 4 + col("x")).agg(avg(col("value")))
      .toDF("location_id", "value")
      .withColumn("time", to_timestamp(lit("2001-07-01")))
      .select(col("location_id").cast("long"), col("time"), col("value") - 273.15)
      .toDF("location_id", "time", "value")
    val out = graft.indicator.Registry("tg_mean")(daily, "YS")
    assert(out.count() == 20) // 5x4 grid cells, one annual row each
    assert(out.columns.contains("value"))
  }

  test("store-level readMeta + parquet-lake conversion") {
    val root = tmpDir("zarr_")
    writeTas(root)
    val pDir = new File(root, "pr")
    writeText(new File(pDir, ".zarray"),
      """{"zarr_format": 2, "shape": [3], "chunks": [2], "dtype": "<f4",
        | "compressor": null, "fill_value": null, "filters": null,
        | "order": "C"}""".stripMargin)
    val f32 = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    f32.putFloat(0.5f).putFloat(1.5f)
    write(new File(pDir, "0"), f32.array())
    val f32b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    f32b.putFloat(2.5f).putFloat(9999f) // second slot clipped (edge chunk)
    write(new File(pDir, "1"), f32b.array())
    assert(Zarr.readMeta(root.getPath).map(_.name) == Seq("pr", "tas"))
    val out = tmpDir("zarr_lake_").toString
    assert(Zarr.toParquetLake(spark, root.getPath, out).toSet == Set("pr", "tas"))
    assert(spark.read.parquet(s"$out/pr").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSet ==
      Set((0, 0.5), (1, 1.5), (2, 2.5)))
    assert(spark.read.parquet(s"$out/tas").count() == 20)
  }

  /** v3 twin of [[writeTas]]: group-rooted store, array `tas`
    * double[5,4] chunked [2,3] gzip, DEFAULT chunk-key encoding
    * (`c/cy/cx` keys), dimension_names, CF attributes, chunk (2,0)
    * absent → fill -999 → NULL after masking. */
  private def writeTasV3(root: File): Unit = {
    writeText(new File(root, "zarr.json"),
      """{"zarr_format": 3, "node_type": "group", "attributes": {}}""")
    val dir = new File(root, "tas")
    writeText(new File(dir, "zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [5, 4],
        | "data_type": "float64",
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2, 3]}},
        | "chunk_key_encoding": {"name": "default", "configuration": {"separator": "/"}},
        | "fill_value": -999.0,
        | "codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
        |            {"name": "gzip", "configuration": {"level": 1}}],
        | "dimension_names": ["y", "x"],
        | "attributes": {"_FillValue": -999.0, "scale_factor": 0.5,
        |                "add_offset": 100.0, "units": "K"}}""".stripMargin)
    for (cy <- 0 until 3; cx <- 0 until 2; if !(cy == 2 && cx == 0)) {
      val vals = for (ly <- 0 until 2; lx <- 0 until 3) yield {
        val (y, x) = (cy * 2 + ly, cx * 3 + lx)
        if (y < 5 && x < 4) 10.0 * y + x else 7777.0
      }
      write(new File(dir, s"c/$cy/$cx"), gzip(doubles(vals)))
    }
  }

  test("v3 store: default chunk keys, gzip codec, absent chunk, CF unpack, group discovery") {
    val root = tmpDir("zarr3_")
    writeTasV3(root)
    val df = Zarr.readVariable(spark, root.getPath, "tas")
    assert(df.columns.toSeq == Seq("y", "x", "value"))
    val got = df.collect().map(r => (r.getInt(0), r.getInt(1),
      if (r.isNullAt(2)) null else r.getDouble(2))).toSet
    val expected = (for (y <- 0 until 5; x <- 0 until 4) yield {
      if (y == 4 && x <= 2) (y, x, null)
      else (y, x, (10.0 * y + x) * 0.5 + 100.0)
    }).toSet
    assert(got == expected)
    // group-level discovery + lake conversion runs through the same path
    assert(Zarr.readMeta(root.getPath).map(_.name) == Seq("tas"))
    val out = tmpDir("zarr3_lake_").toString
    assert(Zarr.toParquetLake(spark, root.getPath, out) == Seq("tas"))
    assert(spark.read.parquet(s"$out/tas").count() == 20)
  }

  test("v3 codecs: zstd + crc32c, v2-style keys, big-endian int32, transpose reverse") {
    val root = tmpDir("zarr3c_")
    writeText(new File(root, "zarr.json"),
      """{"zarr_format": 3, "node_type": "group"}""")
    // zs: float64[4] chunked [2], zstd frames with trailing crc32c,
    // v2-style chunk keys ("0", "1")
    val zs = new File(root, "zs")
    writeText(new File(zs, "zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [4],
        | "data_type": "float64",
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2]}},
        | "chunk_key_encoding": {"name": "v2", "configuration": {"separator": "."}},
        | "fill_value": 0.0,
        | "codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
        |            {"name": "zstd", "configuration": {"level": 3}},
        |            {"name": "crc32c"}]}""".stripMargin)
    def zstdCrc(raw: Array[Byte]): Array[Byte] = {
      val z = com.github.luben.zstd.Zstd.compress(raw)
      z ++ crc32c(z) // the reader verifies the checksum before decoding
    }
    write(new File(zs, "0"), zstdCrc(doubles(Seq(1.5, 2.5))))
    write(new File(zs, "1"), zstdCrc(doubles(Seq(3.5, 4.5))))
    val zsGot = Zarr.readVariable(spark, root.getPath, "zs").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSet
    assert(zsGot == Set((0, 1.5), (1, 2.5), (2, 3.5), (3, 4.5)))
    // ib: int32[2,2] big-endian, raw (bytes codec only), transpose
    // full-reverse = F order, default keys with "." separator
    val ib = new File(root, "ib")
    writeText(new File(ib, "zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [2, 2],
        | "data_type": "int32",
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [2, 2]}},
        | "chunk_key_encoding": {"name": "default", "configuration": {"separator": "."}},
        | "fill_value": 0,
        | "codecs": [{"name": "transpose", "configuration": {"order": [1, 0]}},
        |            {"name": "bytes", "configuration": {"endian": "big"}}]}""".stripMargin)
    val bb = ByteBuffer.allocate(16).order(ByteOrder.BIG_ENDIAN)
    // F-order: (0,0), (1,0), (0,1), (1,1) with v(r,c) = 10r + c + 1
    // (no cell equals fill_value 0, which would mask to NULL)
    bb.putInt(1).putInt(11).putInt(2).putInt(12)
    write(new File(ib, "c.0.0"), bb.array())
    val ibGot = Zarr.readVariable(spark, root.getPath, "ib").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
    assert(ibGot == Set((0, 0, 1.0), (0, 1, 2.0), (1, 0, 11.0), (1, 1, 12.0)))
    assert(Zarr.readMeta(root.getPath).map(_.name) == Seq("ib", "zs"))
  }

  test("v3 sharding_indexed: footer index, out-of-order bodies, missing inner " +
    "chunks, edge shard clipping") {
    val root = tmpDir("zarr3s_")
    writeText(new File(root, "zarr.json"),
      """{"zarr_format": 3, "node_type": "group"}""")
    // sv: float64[6,4], shard (chunk-grid) [4,4], inner chunks [2,2] →
    // 2×2 inner grid per shard; inner codecs bytes+gzip, footer index
    // bytes+crc32c. v(r,c) = 10r + c + 1 (never the fill 0.0).
    val sv = new File(root, "sv")
    writeText(new File(sv, "zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [6, 4],
        | "data_type": "float64", "fill_value": 0.0,
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4, 4]}},
        | "dimension_names": ["r", "c"],
        | "codecs": [{"name": "sharding_indexed", "configuration": {
        |   "chunk_shape": [2, 2],
        |   "codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
        |              {"name": "gzip", "configuration": {"level": 5}}],
        |   "index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
        |                    {"name": "crc32c"}],
        |   "index_location": "end"}}]}""".stripMargin)
    def v(r: Int, c: Int): Double = (10 * r + c + 1).toDouble
    def body(r0: Int, c0: Int): Array[Byte] =
      gzip(doubles(Seq(v(r0, c0), v(r0, c0 + 1), v(r0 + 1, c0), v(r0 + 1, c0 + 1))))
    // shard file: inner-chunk bodies written in REVERSE index order (so the
    // reader must honor the index offsets, not assume layout order), then
    // the (offset, nbytes) uint64-LE index + crc32c at the end
    def shard(entries: Seq[Option[Array[Byte]]]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val offs = Array.fill[Option[(Long, Long)]](entries.length)(None)
      entries.zipWithIndex.reverse.foreach { case (e, i) =>
        e.foreach { b => offs(i) = Some((bos.size().toLong, b.length.toLong)); bos.write(b) }
      }
      val ib = ByteBuffer.allocate(entries.length * 16).order(ByteOrder.LITTLE_ENDIAN)
      offs.foreach {
        case Some((o, n)) => ib.putLong(o).putLong(n)
        case None         => ib.putLong(-1L).putLong(-1L)
      }
      val idx = ib.array()
      bos.write(idx); bos.write(crc32c(idx))
      bos.toByteArray
    }
    // shard (0,0) rows 0-3: inner (1,1) [rows 2-3, cols 2-3] missing → fill;
    // shard (1,0) rows 4-5: inner row-1 chunks entirely past the array edge
    write(new File(sv, "c/0/0"), shard(Seq(
      Some(body(0, 0)), Some(body(0, 2)), Some(body(2, 0)), None)))
    write(new File(sv, "c/1/0"), shard(Seq(
      Some(body(4, 0)), Some(body(4, 2)), None, None)))
    val got = Zarr.readVariable(spark, root.getPath, "sv").collect()
      .map(r => (r.getInt(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    val expected = (for (r <- 0 until 6; c <- 0 until 4) yield
      (r, c, if (r >= 2 && r <= 3 && c >= 2) None else Some(v(r, c)))).toSet
    assert(got == expected)
  }

  test("v3 sharding: index at start, default index_codecs, raw inner codec, " +
    "corrupt index crc rejected") {
    val root = tmpDir("zarr3t_")
    val ss = new File(root, "ss")
    writeText(new File(ss, "zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [4],
        | "data_type": "float64", "fill_value": 0.0,
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},
        | "codecs": [{"name": "sharding_indexed", "configuration": {
        |   "chunk_shape": [2],
        |   "codecs": [{"name": "bytes", "configuration": {"endian": "little"}}],
        |   "index_location": "start"}}]}""".stripMargin)
    // index (2×16 B + crc32c = 36 B) FIRST, then the single present body
    val ib = ByteBuffer.allocate(32).order(ByteOrder.LITTLE_ENDIAN)
      .putLong(36L).putLong(16L).putLong(-1L).putLong(-1L)
    val idx = ib.array()
    val file = idx ++ crc32c(idx) ++ doubles(Seq(1.5, 2.5))
    write(new File(ss, "c/0"), file)
    val got = Zarr.readVariable(spark, root.getPath, "ss").collect()
      .map(r => (r.getInt(0),
        if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSet
    assert(got == Set((0, Some(1.5)), (1, Some(2.5)), (2, None), (3, None)))
    // flip one index byte → verified crc32c must reject, not decode garbage
    val bad = file.clone(); bad(3) = (bad(3) ^ 0x40).toByte
    write(new File(ss, "c/0"), bad)
    val e = intercept[Exception] {
      Zarr.readVariable(spark, root.getPath, "ss").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("crc32c mismatch") ||
      Option(e.getCause).exists(_.getMessage.contains("crc32c mismatch")))
  }

  test("v3 nested sharding and unknown codecs rejected loudly") {
    val root = tmpDir("zarr3r_")
    val sh = new File(root, "sh")
    writeText(new File(sh, "zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [4],
        | "data_type": "float64",
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},
        | "fill_value": 0.0,
        | "codecs": [{"name": "sharding_indexed", "configuration": {
        |   "chunk_shape": [2],
        |   "codecs": [{"name": "sharding_indexed", "configuration": {
        |     "chunk_shape": [1], "codecs": [{"name": "bytes"}]}}]}}]}""".stripMargin)
    val e = intercept[UnsupportedOperationException] {
      Zarr.readArrayMeta(root.getPath, "sh")
    }
    assert(e.getMessage.contains("nested"))
    val uk = new File(root, "uk")
    writeText(new File(uk, "zarr.json"),
      """{"zarr_format": 3, "node_type": "array", "shape": [4],
        | "data_type": "float64",
        | "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": [4]}},
        | "fill_value": 0.0,
        | "codecs": [{"name": "bytes"}, {"name": "vlen-utf8"}]}""".stripMargin)
    val e2 = intercept[IllegalArgumentException] {
      Zarr.readArrayMeta(root.getPath, "uk")
    }
    assert(e2.getMessage.contains("vlen-utf8"))
  }

  private def longsLE(vals: Seq[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(vals.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    vals.foreach(bb.putLong); bb.array()
  }
  private def intsLE(vals: Seq[Int]): Array[Byte] = {
    val bb = ByteBuffer.allocate(vals.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    vals.foreach(bb.putInt); bb.array()
  }
  private def shortsLE(vals: Seq[Short]): Array[Byte] = {
    val bb = ByteBuffer.allocate(vals.length * 2).order(ByteOrder.LITTLE_ENDIAN)
    vals.foreach(bb.putShort); bb.array()
  }

  test("v2 numcodecs Delta filter: per-chunk int64 cumsum, exact beyond 2^53") {
    // xarray encoding={"v": {"filters": [Delta(dtype="<i8")]}} — ns-epoch
    // timestamps: base 1.7e18 exceeds 2^53, so a double cumsum would be
    // off; the Long path must reproduce every value exactly
    val root = tmpDir("zarrf_")
    val dir = new File(root, "t")
    writeText(new File(dir, ".zarray"),
      """{"zarr_format": 2, "shape": [6], "chunks": [4], "dtype": "<i8",
        | "compressor": {"id": "zlib", "level": 1},
        | "filters": [{"id": "delta", "dtype": "<i8", "astype": "<i8"}],
        | "fill_value": 0, "order": "C"}""".stripMargin)
    val v = (0 until 6).map(i => 1_700_000_000_000_000_000L + 1000L * i * i)
    // Delta encodes each CHUNK independently: enc[0]=v[0], enc[i]=v[i]-v[i-1]
    def deltaEnc(chunk: Seq[Long]): Seq[Long] =
      chunk.head +: chunk.sliding(2).map(p => p(1) - p(0)).toSeq
    write(new File(dir, "0"), zlib(longsLE(deltaEnc(v.slice(0, 4)))))
    write(new File(dir, "1"), zlib(longsLE(deltaEnc(v.slice(4, 6) ++ Seq(0L, 0L)))))
    val got = Zarr.readVariable(spark, root.getPath, "t")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
    assert(got.length == 6)
    got.foreach { case (i, x) => assert(x == v(i).toDouble, s"at $i") }
  }

  test("v2 numcodecs FixedScaleOffset filter: f8 stored as scaled i2") {
    // xarray encoding FixedScaleOffset(offset=1000, scale=100, dtype="<f8",
    // astype="<i2"): enc = round((v-offset)*scale) i2; dec = enc/scale+offset
    val root = tmpDir("zarrf_")
    val dir = new File(root, "p")
    writeText(new File(dir, ".zarray"),
      """{"zarr_format": 2, "shape": [2, 3], "chunks": [2, 3], "dtype": "<f8",
        | "compressor": null,
        | "filters": [{"id": "fixedscaleoffset", "offset": 1000.0,
        |   "scale": 100.0, "dtype": "<f8", "astype": "<i2"}],
        | "fill_value": null, "order": "C"}""".stripMargin)
    val enc = Seq[Short](0, 13, -250, 777, 5, -1)
    write(new File(dir, "0.0"), shortsLE(enc))
    val got = Zarr.readVariable(spark, root.getPath, "p")
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    for (y <- 0 until 2; x <- 0 until 3)
      assert(got((y, x)) == enc(y * 3 + x) / 100.0 + 1000.0)
  }

  test("v2 filters CHAIN [fixedscaleoffset, delta] + zlib; unknown filter rejected") {
    // encode order: FSO (f8 -> i8 ints), then Delta (i8 -> i4 diffs), then
    // zlib; decode must reverse: inflate -> un-delta (cumsum in i8) ->
    // un-FSO (enc/scale + offset)
    val root = tmpDir("zarrf_")
    val dir = new File(root, "c")
    writeText(new File(dir, ".zarray"),
      """{"zarr_format": 2, "shape": [5], "chunks": [5], "dtype": "<f8",
        | "compressor": {"id": "zlib", "level": 1},
        | "filters": [
        |  {"id": "fixedscaleoffset", "offset": 20.0, "scale": 10.0,
        |   "dtype": "<f8", "astype": "<i8"},
        |  {"id": "delta", "dtype": "<i8", "astype": "<i4"}],
        | "fill_value": null, "order": "C"}""".stripMargin)
    val v = Seq(20.0, 22.5, 21.7, 19.9, 25.0)
    val ints = v.map(x => math.round((x - 20.0) * 10.0)) // FSO encode
    val diffs = ints.head +: ints.sliding(2).map(p => p(1) - p(0)).toSeq
    write(new File(dir, "0"), zlib(intsLE(diffs.map(_.toInt))))
    val got = Zarr.readVariable(spark, root.getPath, "c")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).map(_._2)
    val expected = ints.map(_.toDouble / 10.0 + 20.0)
    assert(got.toSeq == expected)
    // unknown filters still rejected loudly
    val bad = new File(root, "bad")
    writeText(new File(bad, ".zarray"),
      """{"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<f8",
        | "compressor": null,
        | "filters": [{"id": "packbits", "dtype": "|b1"}],
        | "fill_value": null, "order": "C"}""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      Zarr.readArrayMeta(root.getPath, "bad")
    }
    assert(e.getMessage.contains("packbits"))
  }

  // numcodecs Quantize encode: np.around(x * 10^digits) / 10^digits in the
  // dtype's precision (around = round-half-even, rint here)
  private def quantizeEnc(v: Double, digits: Int): Double = {
    val scale = math.pow(10.0, digits)
    math.rint(v * scale) / scale
  }

  // numcodecs BitRound encode for float64: add the rounding increment
  // (round-half-even on the dropped mantissa bits) then mask them to zero
  private def bitRoundEnc64(v: Double, keepbits: Int): Double = {
    val maskbits = 52 - keepbits
    var b = java.lang.Double.doubleToRawLongBits(v)
    val mask = (-1L >>> maskbits) << maskbits
    val halfQuantum1 = (1L << (maskbits - 1)) - 1L
    b += ((b >>> maskbits) & 1L) + halfQuantum1
    b &= mask
    java.lang.Double.longBitsToDouble(b)
  }

  test("v2 zstd compressor: numcodecs Zstd bare frames, plain and with Delta") {
    val root = tmpDir("zarrz_")
    val dir = new File(root, "z")
    writeText(new File(dir, ".zarray"),
      """{"zarr_format": 2, "shape": [5], "chunks": [5], "dtype": "<f8",
        | "compressor": {"id": "zstd", "level": 3},
        | "fill_value": null, "filters": null, "order": "C"}""".stripMargin)
    val v = Seq(1.5, -2.25, 1e300, 0.0, 42.0)
    write(new File(dir, "0"), com.github.luben.zstd.Zstd.compress(doublesLE(v)))
    val got = Zarr.readVariable(spark, root.getPath, "z")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).map(_._2)
    assert(got.toSeq == v)
    // zstd composes with a filters chain exactly like zlib
    val dir2 = new File(root, "zd")
    writeText(new File(dir2, ".zarray"),
      """{"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<i8",
        | "compressor": {"id": "zstd", "level": 1},
        | "filters": [{"id": "delta", "dtype": "<i8", "astype": "<i8"}],
        | "fill_value": 0, "order": "C"}""".stripMargin)
    val ints = Seq(1_000_000_000_000L, 1_000_000_001_000L, 1_000_000_001_500L,
      1_000_000_003_000L)
    val diffs = ints.head +: ints.sliding(2).map(p => p(1) - p(0)).toSeq
    write(new File(dir2, "0"), com.github.luben.zstd.Zstd.compress(longsLE(diffs)))
    val got2 = Zarr.readVariable(spark, root.getPath, "zd")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).map(_._2)
    assert(got2.toSeq == ints.map(_.toDouble))
  }

  test("v2 numcodecs Quantize filter: decode is identity over encode-rounded values") {
    // xarray encoding={"v": Quantize(digits=2, dtype="<f8")}: the store
    // holds np.around(v*100)/100; decode must hand those values back
    // EXACTLY (no further transform) — the reader treats the filter as a
    // dtype view
    val root = tmpDir("zarrq_")
    val dir = new File(root, "q")
    writeText(new File(dir, ".zarray"),
      """{"zarr_format": 2, "shape": [5], "chunks": [5], "dtype": "<f8",
        | "compressor": {"id": "zlib", "level": 1},
        | "filters": [{"id": "quantize", "digits": 2, "dtype": "<f8"}],
        | "fill_value": null, "order": "C"}""".stripMargin)
    val v = Seq(1.23456, -0.005, 2.675, 1e-8, 1234.56789)
    val enc = v.map(quantizeEnc(_, 2))
    write(new File(dir, "0"), zlib(doublesLE(enc)))
    val got = Zarr.readVariable(spark, root.getPath, "q")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).map(_._2)
    assert(got.toSeq == enc)
    assert(got(2) == 2.68 || got(2) == 2.67) // half-even landed on a grid point
  }

  test("v2 numcodecs Quantize with f4 astype + trailing shuffle chain") {
    // Quantize(digits=1, dtype="<f8", astype="<f4") then Shuffle(4):
    // stored stream is byte-transposed float32; decode un-shuffles, views
    // f4, widens to f8 — values are the f4-rounded quantized grid
    val root = tmpDir("zarrq_")
    val dir = new File(root, "qf")
    writeText(new File(dir, ".zarray"),
      """{"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<f8",
        | "compressor": null,
        | "filters": [
        |  {"id": "quantize", "digits": 1, "dtype": "<f8", "astype": "<f4"},
        |  {"id": "shuffle", "elementsize": 4}],
        | "fill_value": null, "order": "C"}""".stripMargin)
    val v = Seq(3.14159, -2.71828, 0.05, 99.95)
    val encF4 = v.map(x => quantizeEnc(x, 1).toFloat)
    val bb = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    encF4.foreach(bb.putFloat)
    write(new File(dir, "0"), shuffleEnc(bb.array(), 4))
    val got = Zarr.readVariable(spark, root.getPath, "qf")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).map(_._2)
    assert(got.toSeq == encF4.map(_.toDouble))
  }

  test("v2 numcodecs BitRound filter: mantissa-rounded doubles read back exactly") {
    val root = tmpDir("zarrb_")
    val dir = new File(root, "b")
    writeText(new File(dir, ".zarray"),
      """{"zarr_format": 2, "shape": [6], "chunks": [6], "dtype": "<f8",
        | "compressor": {"id": "zlib", "level": 1},
        | "filters": [{"id": "bitround", "keepbits": 6, "dtype": "<f8"}],
        | "fill_value": null, "order": "C"}""".stripMargin)
    val v = Seq(1.0, 3.14159265358979, -273.15, 1e-12, 6.02214076e23, -0.0)
    val enc = v.map(bitRoundEnc64(_, 6))
    write(new File(dir, "0"), zlib(doublesLE(enc)))
    val got = Zarr.readVariable(spark, root.getPath, "b")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).map(_._2)
    assert(got.toSeq == enc)
    // rounding really dropped mantissa bits but stayed within half a quantum
    enc.zip(v).foreach { case (e, x) =>
      if (x != 0.0) {
        assert((java.lang.Double.doubleToRawLongBits(e) & ((1L << 46) - 1)) == 0L)
        assert(math.abs(e - x) <= math.abs(x) / 32.0)
      }
    }
    // integer dtype rejected loudly
    val bad = new File(root, "badb")
    writeText(new File(bad, ".zarray"),
      """{"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<i4",
        | "compressor": null,
        | "filters": [{"id": "bitround", "keepbits": 3, "dtype": "<i4"}],
        | "fill_value": null, "order": "C"}""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      Zarr.readArrayMeta(root.getPath, "badb")
    }
    assert(e.getMessage.contains("float dtype"))
  }

  private def doublesLE(vals: Seq[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(vals.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    vals.foreach(bb.putDouble); bb.array()
  }

  // numcodecs Shuffle encode: element bytes scatter into esz byte streams
  // (identical transpose to HDF5's shuffle filter); tail bytes pass through
  private def shuffleEnc(raw: Array[Byte], esz: Int): Array[Byte] = {
    val count = raw.length / esz
    val out = new Array[Byte](raw.length)
    for (i <- 0 until count; j <- 0 until esz) out(j * count + i) = raw(i * esz + j)
    for (t <- count * esz until raw.length) out(t) = raw(t)
    out
  }

  test("v2 numcodecs Shuffle filter: trailing byte transpose, alone and after Delta") {
    val root = tmpDir("zarrf_")
    // shuffle-only chain over f8 + zlib
    val dir = new File(root, "s")
    writeText(new File(dir, ".zarray"),
      """{"zarr_format": 2, "shape": [5], "chunks": [5], "dtype": "<f8",
        | "compressor": {"id": "zlib", "level": 1},
        | "filters": [{"id": "shuffle", "elementsize": 8}],
        | "fill_value": null, "order": "C"}""".stripMargin)
    val v = Seq(1.5, -2.25, 3.75, 1e300, -0.0)
    write(new File(dir, "0"), zlib(shuffleEnc(doublesLE(v), 8)))
    val got = Zarr.readVariable(spark, root.getPath, "s")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).map(_._2)
    assert(got.toSeq == v)
    // [delta <i8] then trailing shuffle(8), then zlib: decode must
    // inflate -> unshuffle -> cumsum
    val dir2 = new File(root, "ds")
    writeText(new File(dir2, ".zarray"),
      """{"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<i8",
        | "compressor": {"id": "zlib", "level": 1},
        | "filters": [{"id": "delta", "dtype": "<i8", "astype": "<i8"},
        |             {"id": "shuffle", "elementsize": 8}],
        | "fill_value": 0, "order": "C"}""".stripMargin)
    val w = Seq(1_700_000_000_000_000_000L, 1_700_000_000_000_001_000L,
      1_700_000_000_000_001_500L, 1_700_000_000_000_009_000L)
    val diffs = w.head +: w.sliding(2).map(p => p(1) - p(0)).toSeq
    write(new File(dir2, "0"), zlib(shuffleEnc(longsLE(diffs), 8)))
    val got2 = Zarr.readVariable(spark, root.getPath, "ds")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).map(_._2)
    assert(got2.toSeq == w.map(_.toDouble))
    // a NON-trailing shuffle is rejected loudly, never misread
    val bad = new File(root, "sbad")
    writeText(new File(bad, ".zarray"),
      """{"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<i8",
        | "compressor": null,
        | "filters": [{"id": "shuffle", "elementsize": 8},
        |             {"id": "delta", "dtype": "<i8", "astype": "<i8"}],
        | "fill_value": 0, "order": "C"}""".stripMargin)
    write(new File(bad, "0"), longsLE(Seq(1L, 2L, 3L, 4L)))
    val e2 = intercept[Exception] {
      Zarr.readVariable(spark, root.getPath, "sbad").collect()
    }
    assert(e2.getMessage != null)
  }

  test("readStrings: |O vlen-utf8, |S8 fixed bytes with absent chunk, >U5 UCS-4") {
    val root = new File(tmpDir("zstr"), "store")
    root.mkdirs()
    Zarr.plantedStringStore(root.getPath)
    // |O + vlen-utf8 + zlib, multi-byte UTF-8, named dim
    val labels = Zarr.readStrings(spark, root.getPath, "labels")
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(labels.toSeq == (0 until 6).map(i => (i, s"doc_${i}_αβ")))
    // |S8 zlib: edge chunks clip, NUL padding trims, absent chunk -> NULL
    val tags = Zarr.readStrings(spark, root.getPath, "tags")
      .collect().map(r => ((r.getInt(0), r.getInt(1)),
        if (r.isNullAt(2)) null else r.getString(2))).toMap
    assert(tags.size == 15)
    for (r <- 0 until 5; c <- 0 until 3) {
      if (r == 4 && c == 2) assert(tags((r, c)) == null, s"($r,$c)")
      else assert(tags((r, c)) == s"s${r}_$c", s"($r,$c)")
    }
    // >U5 big-endian UCS-4, zero-padding trims, non-ASCII code point
    val names = Zarr.readStrings(spark, root.getPath, "names")
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(names.toSeq == (0 until 4).map(i => (i, s"n${i}é")))
  }

  test("readStrings rejects wrong dtypes, codecs and malformed vlen payloads") {
    val root = tmpDir("zstrbad")
    // numeric array through readStrings / string array through readVariable
    val num = new File(root, "num")
    writeText(new File(num, ".zarray"),
      """{"zarr_format": 2, "shape": [2], "chunks": [2], "dtype": "<f8",
        | "compressor": null, "fill_value": 0, "filters": null,
        | "order": "C"}""".stripMargin)
    write(new File(num, "0"), new Array[Byte](16))
    assert(intercept[Exception] {
      Zarr.readStrings(spark, root.getPath, "num")
    }.getMessage.contains("readVariable"))
    val obj = new File(root, "obj")
    writeText(new File(obj, ".zarray"),
      """{"zarr_format": 2, "shape": [2], "chunks": [2], "dtype": "|O",
        | "compressor": null, "fill_value": 0,
        | "filters": [{"id": "vlen-utf8"}], "order": "C"}""".stripMargin)
    assert(intercept[Exception] {
      Zarr.readVariable(spark, root.getPath, "obj").collect()
    }.getMessage.contains("readStrings"))
    // |O without the object codec
    val noc = new File(root, "noc")
    writeText(new File(noc, ".zarray"),
      """{"zarr_format": 2, "shape": [2], "chunks": [2], "dtype": "|O",
        | "compressor": null, "fill_value": 0, "filters": null,
        | "order": "C"}""".stripMargin)
    assert(intercept[Exception] {
      Zarr.readStrings(spark, root.getPath, "noc")
    }.getMessage.contains("vlen-utf8"))
    // item count mismatch and truncated payload fail loudly
    val bb = ByteBuffer.allocate(9).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(2).putInt(5).put('a'.toByte) // item 0 says 5 bytes, has 1
    write(new File(obj, "0"), bb.array())
    assert(intercept[Exception] {
      Zarr.readStrings(spark, root.getPath, "obj").collect()
    }.getMessage.contains("runs past"))
    val bb2 = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
    bb2.putInt(7) // 7 items claimed, grid needs 2
    write(new File(obj, "0"), bb2.array())
    assert(intercept[Exception] {
      Zarr.readStrings(spark, root.getPath, "obj").collect()
    }.getMessage.contains("chunk grid needs"))
  }

  test("vlen-bytes object array reads BINARY; blosc-delta ints decode (planted store)") {
    val root = tmpDir("zarr_bytes_")
    Zarr.plantedBytesStore(root.getPath)
    val pay = Zarr.readBinary(spark, root.getPath, "payloads").collect()
      .map(r => (r.getInt(0), Option(r.get(1)).map(_.asInstanceOf[Array[Byte]]
        .toSeq))).toMap
    assert(pay.size == 7)
    for (g <- 0 until 7) {
      if (g >= 3 && g <= 5) assert(pay(g).isEmpty, s"absent chunk elem $g")
      else assert(pay(g).contains(Zarr.plantedPayload(g).toSeq), s"elem $g")
    }
    // default posture: the unverified blosc-delta layout is REJECTED at
    // the reader level, never silently decoded (r12 gate)
    val rejected = intercept[org.apache.spark.SparkException](
      Zarr.readVariable(spark, root.getPath, "counts").collect())
    assert(rejected.getMessage.contains("allowUnverifiedDelta") ||
      Option(rejected.getCause).exists(_.getMessage.contains("allowUnverifiedDelta")))
    spark.conf.set("spark.graft.blosc.allowUnverifiedDelta", "true")
    val counts = try {
      Zarr.readVariable(spark, root.getPath, "counts")
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toMap
    } finally spark.conf.unset("spark.graft.blosc.allowUnverifiedDelta")
    for (i <- 0 until 24)
      assert(counts(i) == ((7L * i * i + 3 * i) % 1000 - 137).toDouble, s"i=$i")
    // readBinary refuses text arrays and vice versa
    intercept[IllegalArgumentException](
      Zarr.readBinary(spark, root.getPath, "counts"))
    intercept[IllegalArgumentException](
      Zarr.readStrings(spark, root.getPath, "payloads"))
  }

  test("v3 string/bytes data types: plain, sharded, vlen+zstd+crc32c (planted store)") {
    val root = tmpDir("zarr_v3str_")
    Zarr.plantedStringStoreV3(root.getPath)
    // labels: vlen-utf8 + gzip, chunk 1 absent → NULLs at 3..5
    val labels = Zarr.readStrings(spark, root.getPath, "labels").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toMap
    assert(labels.size == 7)
    for (i <- 0 until 7) {
      if (i >= 3 && i <= 5) assert(labels(i).isEmpty, s"absent chunk elem $i")
      else assert(labels(i).contains(s"v3_${i}_λ"), s"elem $i: ${labels(i)}")
    }
    // tags: SHARDED vlen-utf8 + zstd, crc32c'd index; missing inner
    // chunk → NULLs at 6,7
    val tags = Zarr.readStrings(spark, root.getPath, "tags").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toMap
    assert(tags.size == 8)
    for (i <- 0 until 8) {
      if (i >= 6) assert(tags(i).isEmpty, s"missing inner chunk elem $i")
      else assert(tags(i).contains(s"t${i}é"), s"elem $i: ${tags(i)}")
    }
    // blobs: v3 bytes data type, vlen-bytes + zstd + crc32c
    val blobs = Zarr.readBinary(spark, root.getPath, "blobs").collect()
      .map(r => (r.getInt(0), r.get(1).asInstanceOf[Array[Byte]].toSeq)).toMap
    assert(blobs.size == 5)
    for (i <- 0 until 5)
      assert(blobs(i) == Zarr.plantedPayload(i + 7).toSeq, s"elem $i")
    // wrong-vlen pairings reject loudly
    intercept[IllegalArgumentException](
      Zarr.readBinary(spark, root.getPath, "labels"))
    intercept[IllegalArgumentException](
      Zarr.readStrings(spark, root.getPath, "blobs"))
    // a corrupted blobs chunk fails its crc32c instead of decoding garbage
    val chunk = new java.io.File(root, "blobs/c/0")
    val bytes = java.nio.file.Files.readAllBytes(chunk.toPath)
    bytes(2) = (bytes(2) ^ 0x40).toByte
    java.nio.file.Files.write(chunk.toPath, bytes)
    val err = intercept[org.apache.spark.SparkException](
      Zarr.readBinary(spark, root.getPath, "blobs").collect())
    assert(err.getMessage.contains("crc32c") ||
      Option(err.getCause).exists(_.getMessage.contains("crc32c")))
  }

  test("writeStrings: corpus round trip through |O vlen-utf8, absent chunks, nulls") {
    import spark.implicits._
    // rows 4..7 entirely missing → chunk 1 (lead=4) never written →
    // reads back NULL; the null at 2 encodes as "" (the numcodecs
    // VLenUTF8 None convention)
    val df = Seq(
      (0, "s0_β"), (1, "s1_β"), (2, null), (3, "s3_β"),
      (8, "s8_β"), (9, "s9_β")
    ).toDF("doc", "value")
    val store = tmpDir("zarr_wstr_").toString
    Zarr.writeStrings(df, store, "labels", targetChunkElems = 4)
    val back = Zarr.readStrings(spark, store, "labels").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toMap
    assert(back.size == 10)
    for (i <- Seq(0, 1, 3, 8, 9)) assert(back(i).contains(s"s${i}_β"), s"elem $i")
    assert(back(2).contains("")) // in-chunk null → ""
    for (i <- 4 to 7) assert(back(i).isEmpty, s"absent chunk elem $i")
    // the store is plain v2: dtype |O, vlen-utf8 filter, zlib chunks
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(store, "labels", ".zarray")), "UTF-8")
    assert(meta.contains("\"|O\"") && meta.contains("vlen-utf8"))
    // fromParquetLake dispatches on the value dtype: string → vlen-utf8,
    // numeric → <f8
    val lake = tmpDir("zarr_wlake_").toString
    df.write.parquet(s"$lake/tags")
    Seq((0, 1.5), (1, 2.5)).toDF("doc", "value").write.parquet(s"$lake/vals")
    val store2 = tmpDir("zarr_wstore2_").toString
    assert(Zarr.fromParquetLake(spark, lake, store2) == Seq("tags", "vals"))
    assert(Zarr.readStrings(spark, store2, "tags").count() == 10)
    val vals = Zarr.readVariable(spark, store2, "vals").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toMap
    assert(vals(0) == 1.5 && vals(1) == 2.5)
    // v2 export now ships .zgroup + consolidated .zmetadata, and readMeta
    // discovers the arrays through it (single-GET discovery)
    val zm = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(store2, ".zmetadata")), "UTF-8")
    assert(zm.contains("\"zarr_consolidated_format\": 1") &&
      zm.contains("tags/.zarray") && zm.contains("vals/.zarray"))
    assert(Zarr.readMeta(store2).map(_.name).sorted == Seq("tags", "vals"))
    // v3 lake export: root group zarr.json + v3 arrays, group discovery
    val store3 = tmpDir("zarr_wstore3_").toString
    assert(Zarr.fromParquetLake(spark, lake, store3, zarrFormat = 3)
      == Seq("tags", "vals"))
    assert(Zarr.readMeta(store3).map(_.name).sorted == Seq("tags", "vals"))
    assert(Zarr.readStrings(spark, store3, "tags").count() == 10)
    assert(Zarr.readVariable(spark, store3, "vals").collect()
      .map(_.getDouble(1)).sorted.toSeq == Seq(1.5, 2.5))
    // toParquetLake dispatches back: string arrays land as STRING columns
    val lake2 = tmpDir("zarr_wlake2_").toString
    assert(Zarr.toParquetLake(spark, store2, lake2).sorted == Seq("tags", "vals"))
    val tagsBack = spark.read.parquet(s"$lake2/tags")
    assert(tagsBack.schema("value").dataType ==
      org.apache.spark.sql.types.StringType)
    // one chunk covers all 10 positions, so in-chunk gaps (4..7) and the
    // null at 2 all round-trip as "" — nothing is NULL
    assert(tagsBack.where("value is not null").count() == 10)
    assert(tagsBack.where("value = ''").count() == 5)
  }

  test("v3 writers: float64 and string round trips through the v3 reader") {
    import spark.implicits._
    // float64: values exact binary quarters; rows 4..5 missing → their
    // chunk (lead=2) absent → NULL on read
    val nums = Seq((0, 0.25), (1, 0.5), (2, 2.75), (3, -1.25), (6, 7.0), (7, 8.5))
      .toDF("t", "value")
    val store = tmpDir("zarr_v3w_").toString
    Zarr.writeArrayV3(nums, store, "vals", targetChunkElems = 2)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(store, "vals", "zarr.json")), "UTF-8")
    assert(meta.contains("\"zarr_format\": 3") && meta.contains("float64"))
    assert(new java.io.File(store, "vals/c/0").isFile) // default key encoding (1-D)
    val back = Zarr.readVariable(spark, store, "vals").collect()
      .map(r => (r.getInt(0), Option(r.get(1)).map(_.asInstanceOf[Double]))).toMap
    assert(back.size == 8)
    assert(back(0).contains(0.25) && back(3).contains(-1.25) && back(7).contains(8.5))
    assert(back(4).isEmpty && back(5).isEmpty)
    // string: null at 2 → "", rows 4..7 absent chunk → NULL
    val strs = Seq((0, "v0_π"), (1, "v1_π"), (2, null), (3, "v3_π"),
      (8, "v8_π"), (9, "v9_π")).toDF("doc", "value")
    Zarr.writeStringsV3(strs, store, "labels", targetChunkElems = 4)
    val sback = Zarr.readStrings(spark, store, "labels").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toMap
    assert(sback.size == 10)
    for (i <- Seq(0, 1, 3, 8, 9)) assert(sback(i).contains(s"v${i}_π"), s"elem $i")
    assert(sback(2).contains("") && (4 to 7).forall(sback(_).isEmpty))
  }

  test("writers escape dim names in their metadata JSON") {
    import spark.implicits._
    val store = tmpDir("zarr_dimq_").toString
    val df = Seq((0, 1.5), (1, 2.5)).toDF("la\"t", "value")
    Zarr.writeArray(df, store, "v2")
    Zarr.writeArrayV3(df, store, "v3")
    for (a <- Seq("v2", "v3"))
      assert(Zarr.readVariable(spark, store, a).columns.toSeq == Seq("la\"t", "value"), a)
  }

  test("msgpack2/json2 object codecs: strings, None, bin payloads (planted store)") {
    val root = tmpDir("zarr_msgpack_")
    Zarr.plantedMsgpackStore(root.getPath)
    // mlabels: msgpack2 + zlib; absent chunk → 3..5 NULL, elem 2 = None
    val m = Zarr.readStrings(spark, root.getPath, "mlabels").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toMap
    assert(m.size == 7)
    for (i <- 0 until 7) {
      if (i == 2 || (i >= 3 && i <= 5)) assert(m(i).isEmpty, s"elem $i")
      else assert(m(i).contains(s"m${i}_π"), s"elem $i: ${m(i)}")
    }
    // jlabels: json2 + gzip with \" and é escapes in the stored text
    val j = Zarr.readStrings(spark, root.getPath, "jlabels").collect()
      .map(r => (r.getInt(0), r.getString(1))).toMap
    assert(j.size == 5)
    assert(j(0) == "j0_é" && j(1) == "a\"b" && j(4) == "j4_é")
    // mblobs: msgpack bin8 payloads, not valid UTF-8
    val b = Zarr.readBinary(spark, root.getPath, "mblobs").collect()
      .map(r => (r.getInt(0), r.get(1).asInstanceOf[Array[Byte]].toSeq)).toMap
    for (i <- 0 until 5)
      assert(b(i) == Zarr.plantedPayload(i + 11).toSeq, s"elem $i")
    // json2 cannot carry bytes — readBinary rejects it loudly
    intercept[IllegalArgumentException](
      Zarr.readBinary(spark, root.getPath, "jlabels"))
    // a string reader over bin payloads is a loud error, not a stringify
    val e = intercept[org.apache.spark.SparkException](
      Zarr.readStrings(spark, root.getPath, "mblobs").collect())
    assert(e.getMessage.contains("not a string") ||
      Option(e.getCause).exists(_.getMessage.contains("not a string")))
  }

  test("datetime64 arrays read as TIMESTAMP: ns with NaT + absent chunk, >M8[s]") {
    val root = tmpDir("zarr_dt_")
    // t: <M8[ns], shape [7] chunks [3], chunk 1 absent → NULL at 3..5;
    // element 2 = NaT; values 2001-02-03T04:05:06.123456789 + i days
    val base = java.time.Instant.parse("2001-02-03T04:05:06.123456789Z")
    val tDir = new File(root, "t"); tDir.mkdirs()
    writeText(new File(tDir, ".zarray"),
      """{"zarr_format": 2, "shape": [7], "chunks": [3], "dtype": "<M8[ns]",
        | "compressor": null, "fill_value": null, "filters": null,
        | "order": "C"}""".stripMargin)
    writeText(new File(tDir, ".zattrs"), """{"_ARRAY_DIMENSIONS": ["i"]}""")
    def nsOf(i: Int): Long =
      Math.addExact(Math.multiplyExact(base.getEpochSecond + i * 86400L, 1000000000L),
        base.getNano.toLong)
    for (c <- Seq(0, 2)) {
      val bb = ByteBuffer.allocate(3 * 8).order(ByteOrder.LITTLE_ENDIAN)
      (0 until 3).foreach { j =>
        val g = c * 3 + j
        bb.putLong(if (g == 2) Long.MinValue else if (g >= 7) 0L else nsOf(g))
      }
      write(new File(tDir, s"$c"), bb.array())
    }
    val got = Zarr.readDatetimes(spark, root.getPath, "t").collect()
      .map(r => (r.getInt(0), Option(r.getTimestamp(1)))).toMap
    assert(got.size == 7)
    for (i <- Seq(0, 1, 6)) {
      val exp = java.sql.Timestamp.from(
        base.plusSeconds(i * 86400L).truncatedTo(java.time.temporal.ChronoUnit.MICROS))
      assert(got(i).contains(exp), s"elem $i: ${got(i)} vs $exp")
    }
    assert(got(2).isEmpty, "NaT must read NULL")
    for (i <- 3 to 5) assert(got(i).isEmpty, s"absent chunk elem $i")
    // big-endian seconds variant
    val sDir = new File(root, "ts"); sDir.mkdirs()
    writeText(new File(sDir, ".zarray"),
      """{"zarr_format": 2, "shape": [2], "chunks": [2], "dtype": ">M8[s]",
        | "compressor": null, "fill_value": null, "filters": null,
        | "order": "C"}""".stripMargin)
    val sb = ByteBuffer.allocate(16).order(ByteOrder.BIG_ENDIAN)
    sb.putLong(0L); sb.putLong(-1L) // epoch and one second before it
    write(new File(sDir, "0"), sb.array())
    val gs = Zarr.readDatetimes(spark, root.getPath, "ts").collect()
      .map(r => (r.getInt(0), r.getTimestamp(1).toInstant)).toMap
    assert(gs(0) == java.time.Instant.EPOCH &&
      gs(1) == java.time.Instant.EPOCH.minusSeconds(1))
    // numeric reader refuses the M kind loudly
    intercept[IllegalArgumentException](
      Zarr.readVariable(spark, root.getPath, "t"))
  }

  test("r13 temporal tier: Delta-filtered + sharded datetime64, timedelta64 → INTERVAL") {
    val root = tmpDir("zarr_temporal_")
    Zarr.plantedTemporalStore(root.getPath)
    // tf: <M8[s] + Delta(i8) + zlib; NaT at 7 (delta wraps through the
    // sentinel); chunk 2 absent → NULL at 8..9
    val tf = Zarr.readDatetimes(spark, root.getPath, "tf").collect()
      .map(r => (r.getInt(0), Option(r.getTimestamp(1)))).toMap
    assert(tf.size == 10)
    val fBase = java.time.Instant.parse("2003-05-07T08:09:10Z")
    for (g <- 0 to 6)
      assert(tf(g).contains(java.sql.Timestamp.from(fBase.plusSeconds(g * 3600L))),
        s"tf $g: ${tf(g)}")
    for (g <- 7 to 9) assert(tf(g).isEmpty, s"tf $g")
    // tsh: v3 SHARDED numpy.datetime64[us] — missing inner chunk (2,3),
    // NaT at 9, past-the-edge inner chunks clipped
    val ts = Zarr.readDatetimes(spark, root.getPath, "tsh").collect()
      .map(r => (r.getInt(0), Option(r.getTimestamp(1)))).toMap
    assert(ts.size == 12)
    val sBase = java.time.Instant.parse("1999-12-31T23:59:58Z")
    for (i <- Seq(0, 1, 4, 5, 6, 7, 8, 10, 11))
      assert(ts(i).contains(java.sql.Timestamp.from(
        sBase.plusSeconds(i).plusNanos(i * 1000L))), s"tsh $i: ${ts(i)}")
    for (i <- Seq(2, 3, 9)) assert(ts(i).isEmpty, s"tsh $i")
    // td: <m8[ms] → DayTimeIntervalType; NaT → NULL; negatives exact
    val tdDf = Zarr.readTimedeltas(spark, root.getPath, "td")
    assert(tdDf.schema("value").dataType
      .isInstanceOf[org.apache.spark.sql.types.DayTimeIntervalType])
    val td = tdDf.collect()
      .map(r => (r.getInt(0), Option(r.get(1)).map(_.asInstanceOf[java.time.Duration])))
      .toMap
    assert(td(0).contains(java.time.Duration.ZERO))
    assert(td(1).contains(java.time.Duration.ofMillis(1)))
    assert(td(2).contains(java.time.Duration.ofMillis(-1)))
    assert(td(3).contains(java.time.Duration.ofMillis(90061123L)))
    assert(td(4).isEmpty, "NaT must read NULL")
    assert(td(5).contains(java.time.Duration.ofMillis(-90061123L)))
    // tdm: the minutes unit + an edge chunk whose pad slot is clipped
    val tdm = Zarr.readTimedeltas(spark, root.getPath, "tdm").collect()
      .map(r => (r.getInt(0), Option(r.get(1)).map(_.asInstanceOf[java.time.Duration])))
      .toMap
    assert(tdm.size == 3)
    assert(tdm(0).contains(java.time.Duration.ofMinutes(90)))
    assert(tdm(1).isEmpty)
    assert(tdm(2).contains(java.time.Duration.ofMinutes(-90)))
    // float filter steps on epoch arrays reject loudly (2^53 rounding)
    val qDir = new File(root, "tq"); qDir.mkdirs()
    writeText(new File(qDir, ".zarray"),
      """{"zarr_format": 2, "shape": [2], "chunks": [2], "dtype": "<M8[s]",
        | "compressor": null, "fill_value": null,
        | "filters": [{"id": "quantize", "digits": 2, "dtype": "<f8"}],
        | "order": "C"}""".stripMargin)
    val qb = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
    qb.putDouble(1.0); qb.putDouble(2.0)
    write(new File(qDir, "0"), qb.array())
    val e = intercept[Exception](
      Zarr.readDatetimes(spark, root.getPath, "tq").collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("stay integer")), msgs(e).mkString(" | "))
    // the timedelta reader refuses datetime kinds and vice versa
    intercept[IllegalArgumentException](
      Zarr.readTimedeltas(spark, root.getPath, "tf"))
    intercept[IllegalArgumentException](
      Zarr.readDatetimes(spark, root.getPath, "td"))
  }

  test("r13 store-level temporal round trip: lake <-> Zarr for M8/m8 arrays") {
    val store1 = tmpDir("zarr_tmp1_")
    Zarr.plantedTemporalStore(store1.getPath)
    val lake = tmpDir("zarr_tmp_lake_")
    // toParquetLake must dispatch M -> readDatetimes, m -> readTimedeltas
    // (intervals DO survive parquet: Spark round-trips DayTimeIntervalType,
    // DuckDB reads the physical int64 micros) and discover the v3 tsh
    // child in this mixed v2/v3 store
    val vars = Zarr.toParquetLake(spark, store1.getPath, lake.getPath)
    assert(vars.toSet == Set("tf", "tsh", "td", "tdm"), vars.mkString(","))
    val store2 = tmpDir("zarr_tmp2_")
    // fromParquetLake must route temporal value dtypes to the exact-Long
    // writers, never the double writer (2^53 silent rounding)
    Zarr.fromParquetLake(spark, lake.getPath, store2.getPath)
    for (arr <- Seq("tf", "tsh")) {
      val orig = Zarr.readDatetimes(spark, store1.getPath, arr).collect()
        .map(r => (r.getInt(0), Option(r.getTimestamp(1)))).toSet
      val back = Zarr.readDatetimes(spark, store2.getPath, arr).collect()
        .map(r => (r.getInt(0), Option(r.getTimestamp(1)))).toSet
      assert(back === orig, arr)
    }
    for (arr <- Seq("td", "tdm")) {
      val orig = Zarr.readTimedeltas(spark, store1.getPath, arr).collect()
        .map(r => (r.getInt(0), Option(r.get(1)))).toSet
      val back = Zarr.readTimedeltas(spark, store2.getPath, arr).collect()
        .map(r => (r.getInt(0), Option(r.get(1)))).toSet
      assert(back === orig, arr)
    }
    // v3 temporal export has no pinned writer vector — loud reject
    val store3 = tmpDir("zarr_tmp3_")
    intercept[IllegalArgumentException](
      Zarr.fromParquetLake(spark, lake.getPath, store3.getPath, zarrFormat = 3))
  }

  test("r13 readVectors: whole-vector rows, absent chunk -> NULL, guards") {
    val root = tmpDir("zarr_vec_")
    // 2-D <f8 store, shape [5,3], chunks [2,3]; chunk 1 (rows 2..3) ABSENT
    val mDir = new File(root, "m"); mDir.mkdirs()
    writeText(new File(mDir, ".zarray"),
      """{"zarr_format": 2, "shape": [5, 3], "chunks": [2, 3], "dtype": "<f8",
        | "compressor": null, "fill_value": null, "filters": null,
        | "order": "C"}""".stripMargin)
    writeText(new File(mDir, ".zattrs"), """{"_ARRAY_DIMENSIONS": ["vec_id", "pos"]}""")
    def chunk(rows: Seq[Int]): Array[Byte] = {
      val bb = ByteBuffer.allocate(2 * 3 * 8).order(ByteOrder.LITTLE_ENDIAN)
      rows.foreach(i => (0 until 3).foreach(j => bb.putDouble(i * 10.0 + j)))
      bb.array()
    }
    write(new File(mDir, "0.0"), chunk(Seq(0, 1)))
    write(new File(mDir, "2.0"), chunk(Seq(4, 99))) // row 5 = edge pad, clipped
    val got = Zarr.readVectors(spark, root.getPath, "m").collect()
      .map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[scala.collection.Seq[Double]].toSeq)))
      .toMap
    assert(got.size == 5)
    assert(got(0L).contains(Seq(0.0, 1.0, 2.0)) && got(1L).contains(Seq(10.0, 11.0, 12.0)))
    assert(got(4L).contains(Seq(40.0, 41.0, 42.0)))
    assert(got(2L).isEmpty && got(3L).isEmpty, "absent chunk must read NULL vectors")
    // guards: chunked trailing dim, F order, wrong rank, CF attrs
    val bad1 = new File(root, "b1"); bad1.mkdirs()
    writeText(new File(bad1, ".zarray"),
      """{"zarr_format": 2, "shape": [4, 4], "chunks": [2, 2], "dtype": "<f8",
        | "compressor": null, "fill_value": null, "filters": null,
        | "order": "C"}""".stripMargin)
    intercept[IllegalArgumentException](Zarr.readVectors(spark, root.getPath, "b1"))
    val bad2 = new File(root, "b2"); bad2.mkdirs()
    writeText(new File(bad2, ".zarray"),
      """{"zarr_format": 2, "shape": [4], "chunks": [4], "dtype": "<f8",
        | "compressor": null, "fill_value": null, "filters": null,
        | "order": "C"}""".stripMargin)
    intercept[IllegalArgumentException](Zarr.readVectors(spark, root.getPath, "b2"))
    val bad3 = new File(root, "b3"); bad3.mkdirs()
    writeText(new File(bad3, ".zarray"),
      """{"zarr_format": 2, "shape": [4, 2], "chunks": [2, 2], "dtype": "<f8",
        | "compressor": null, "fill_value": null, "filters": null,
        | "order": "F"}""".stripMargin)
    intercept[IllegalArgumentException](Zarr.readVectors(spark, root.getPath, "b3"))
    val bad4 = new File(root, "b4"); bad4.mkdirs()
    writeText(new File(bad4, ".zarray"),
      """{"zarr_format": 2, "shape": [4, 2], "chunks": [2, 2], "dtype": "<f8",
        | "compressor": null, "fill_value": null, "filters": null,
        | "order": "C"}""".stripMargin)
    writeText(new File(bad4, ".zattrs"), """{"scale_factor": 0.5}""")
    intercept[IllegalArgumentException](Zarr.readVectors(spark, root.getPath, "b4"))
  }

  test("F-order object chunks: string and binary arrays unravel column-major") {
    val root = tmpDir("zarr_forder_")
    // 2x3 |O vlen-utf8 array, order F: payload items run (0,0),(1,0),
    // (0,1),(1,1),(0,2),(1,2)
    val sDir = new File(root, "s"); sDir.mkdirs()
    writeText(new File(sDir, ".zarray"),
      """{"zarr_format": 2, "shape": [2, 3], "chunks": [2, 3], "dtype": "|O",
        | "compressor": null, "fill_value": null,
        | "filters": [{"id": "vlen-utf8"}], "order": "F"}""".stripMargin)
    val items = for (c <- 0 until 3; r <- 0 until 2) yield s"f$r$c"
    val total = 4 + items.map(4 + _.getBytes("UTF-8").length).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(items.length)
    items.foreach { s => val b = s.getBytes("UTF-8"); bb.putInt(b.length); bb.put(b) }
    write(new File(sDir, "0.0"), bb.array())
    val got = Zarr.readStrings(spark, root.getPath, "s").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getString(2))).toMap
    for (r <- 0 until 2; c <- 0 until 3)
      assert(got((r, c)) == s"f$r$c", s"($r,$c)")
    // same layout through readBinary (vlen-bytes, F order)
    val bDir = new File(root, "b"); bDir.mkdirs()
    writeText(new File(bDir, ".zarray"),
      """{"zarr_format": 2, "shape": [2, 3], "chunks": [2, 3], "dtype": "|O",
        | "compressor": null, "fill_value": null,
        | "filters": [{"id": "vlen-bytes"}], "order": "F"}""".stripMargin)
    val bItems = for (c <- 0 until 3; r <- 0 until 2)
      yield Array((10 * r + c).toByte, 0xFF.toByte)
    val bTotal = 4 + bItems.map(4 + _.length).sum
    val bbb = ByteBuffer.allocate(bTotal).order(ByteOrder.LITTLE_ENDIAN)
    bbb.putInt(bItems.length)
    bItems.foreach { b => bbb.putInt(b.length); bbb.put(b) }
    write(new File(bDir, "0.0"), bbb.array())
    val gotB = Zarr.readBinary(spark, root.getPath, "b").collect()
      .map(r => ((r.getInt(0), r.getInt(1)),
        r.get(2).asInstanceOf[Array[Byte]].toSeq)).toMap
    for (r <- 0 until 2; c <- 0 until 3)
      assert(gotB((r, c)) == Seq((10 * r + c).toByte, 0xFF.toByte), s"bin ($r,$c)")
  }

  test("msgpack2 decode pins to HAND-AUTHORED spec bytes, not the repo encoder") {
    // chunk bytes written from the MessagePack spec by hand:
    // fixarray(4) [ fixstr(3)"hé", nil, fixstr(2)"|O", fixarray(1)[2] ]
    val handVector = Array[Int](
      0x94, 0xA3, 0x68, 0xC3, 0xA9, 0xC0, 0xA2, 0x7C, 0x4F, 0x91, 0x02
    ).map(_.toByte)
    val root = tmpDir("zarr_msgpack_hand_")
    val dir = new File(root, "hand"); dir.mkdirs()
    writeText(new File(dir, ".zarray"),
      """{"zarr_format": 2, "shape": [2], "chunks": [2], "dtype": "|O",
        | "compressor": null, "fill_value": null,
        | "filters": [{"id": "msgpack2"}], "order": "C"}""".stripMargin)
    writeText(new File(dir, ".zattrs"), """{"_ARRAY_DIMENSIONS": ["doc"]}""")
    write(new File(dir, "0"), handVector)
    val rows = Zarr.readStrings(spark, root.getPath, "hand").collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toMap
    assert(rows(0).contains("hé") && rows(1).isEmpty)
    // wide-format coverage, still hand-authored: array16 header, str8,
    // uint16, negative fixint, float64, bin8 — decoded values pinned
    import graft.sources.Msgpack
    val wide = Array[Int](
      0xDC, 0x00, 0x06,             // array16, 6 items
      0xD9, 0x03, 0x61, 0x62, 0x63, // str8 "abc"
      0xCD, 0x01, 0x00,             // uint16 256
      0xE0,                         // negative fixint -32
      0xCB, 0x3F, 0xF8, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, // float64 1.5
      0xC4, 0x02, 0xFF, 0x00,       // bin8 [0xFF, 0x00]
      0xC3                          // true
    ).map(_.toByte)
    Msgpack.decode(wide, "wide") match {
      case Msgpack.MArr(Vector(Msgpack.MStr("abc"), Msgpack.MLong(256),
          Msgpack.MLong(-32), Msgpack.MDouble(1.5), Msgpack.MBin(bin),
          Msgpack.MBool(true))) => assert(bin.toSeq == Seq(0xFF.toByte, 0x00.toByte))
      case other => fail(s"wide vector decoded to $other")
    }
    // maps are a loud reject (never appear in numcodecs chunks)
    val mapChunk = Array[Int](0x81, 0xA1, 0x61, 0x01).map(_.toByte) // {"a": 1}
    val em = intercept[IllegalArgumentException](Msgpack.decode(mapChunk, "map"))
    assert(em.getMessage.contains("0x81"))
    // trailing bytes are a loud reject
    val trailing = Array[Int](0xC0, 0x00).map(_.toByte)
    assert(intercept[IllegalArgumentException](Msgpack.decode(trailing, "t"))
      .getMessage.contains("trailing"))
    // structural guards: wrong dtype slot and wrong shape product
    val badDtype = Msgpack.encode(Msgpack.MArr(Vector(
      Msgpack.MStr("x"), Msgpack.MStr("y"), Msgpack.MStr("<f8"),
      Msgpack.MArr(Vector(Msgpack.MLong(2))))))
    write(new File(dir, "0"), badDtype)
    val e1 = intercept[org.apache.spark.SparkException](
      Zarr.readStrings(spark, root.getPath, "hand").collect())
    assert(e1.getMessage.contains("|O") ||
      Option(e1.getCause).exists(_.getMessage.contains("|O")))
    val badShape = Msgpack.encode(Msgpack.MArr(Vector(
      Msgpack.MStr("x"), Msgpack.MStr("y"), Msgpack.MStr("|O"),
      Msgpack.MArr(Vector(Msgpack.MLong(3))))))
    write(new File(dir, "0"), badShape)
    val e2 = intercept[org.apache.spark.SparkException](
      Zarr.readStrings(spark, root.getPath, "hand").collect())
    assert(e2.getMessage.contains("chunk grid") ||
      Option(e2.getCause).exists(_.getMessage.contains("chunk grid")))
  }

  /** SHA-256 over every file below `root`: (relative path, NUL, length,
    * bytes) in path order. */
  private def treeDigest(root: java.nio.file.Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.filter(java.nio.file.Files.isRegularFile(_)).toArray
      .map(_.asInstanceOf[java.nio.file.Path]) finally walk.close()
    files.map(p => root.relativize(p).toString.replace('\\', '/') -> p).sortBy(_._1)
      .foreach { case (rel, p) =>
        val b = java.nio.file.Files.readAllBytes(p)
        md.update(rel.getBytes("UTF-8")); md.update(0.toByte)
        md.update(ByteBuffer.allocate(8).putLong(b.length.toLong).array())
        md.update(b)
      }
    md.digest().map("%02x".format(_)).mkString
  }

  test("planted stores keep their pinned bytes") {
    // Shared.fixtureStore builds a store only when none of that name is
    // under java.io.tmpdir, so a store written by an earlier JVM is reused:
    // a writer change that alters the bytes must also rename its store, or
    // the oracle gate keeps reading the old bytes. These digests make such
    // a change fail here.
    val pinned = Seq[(String, String => Unit, String)](
      ("plantedStore", Zarr.plantedStore,
        "23540290030fd5f3637b53faf855971d34aa02399c148123ab948a2eae4cf239"),
      ("plantedStringStore", Zarr.plantedStringStore,
        "fe1cddb2c6edc28d3100be761fb958435dce31e78d37cf8fbb936be47fdaf30d"),
      ("plantedBytesStore", Zarr.plantedBytesStore,
        "67577c84d4dd081be3f39e408ed6aaaf9e8d5e9386a95f69958a864cc69ca728"),
      ("plantedDatetimeStore", Zarr.plantedDatetimeStore,
        "f13d0dd89e74d8e0bf7ef1e9407f7248c256adea34ab0a0f05f180a63edcb5c6"),
      ("plantedMsgpackStore", Zarr.plantedMsgpackStore,
        "6c67f77e60ca92907abdee0983790934063850c7c1746a4cfa7c683dc85bfbeb"),
      ("plantedStringStoreV3", Zarr.plantedStringStoreV3,
        "dccf76ee92066b605e3d0d653a4939a5a7a072b0275dc46480cb4c5733a2a25c"),
      ("plantedTemporalStore", Zarr.plantedTemporalStore,
        "cc234fddbd21120486014bf58a009b7a65b50e80bd55a857a1c712f7d4d0d5b6"),
      ("plantedCfTimeStore", Zarr.plantedCfTimeStore,
        "e64ec09c7f62baebd3bae1e31c65eb64a5a557ff08efd3d502d02d06ccde7438"),
      ("plantedCfPipeStore", Zarr.plantedCfPipeStore,
        "5a63015fd582939f7b0013ec0e673872e478924d4bc21f2d0ed332e30b99a713"))
    for ((name, plant, want) <- pinned) {
      val root = tmpDir("zarr_pin_")
      plant(root.getPath)
      assert(treeDigest(root.toPath) == want, name)
    }
  }
}
