package graft

import graft.sources.Hdf5
import graft.sources.Hdf5Bytes._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.Deflater

/** Minimal-HDF5 reader spec: a superblock-v0 file with symbol-table
  * groups, one contiguous and one chunked+deflated dataset is written
  * byte-by-byte from the public HDF5 File Format Specification, then
  * parsed and read back through the executor-parallel path. Chunk dims
  * (1×2) over a 2×3 dataspace exercise partial edge chunks. */
class Hdf5Spec extends AnyFunSuite with TempDirs {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Undef = -1L

  /** A fresh `.h5` path inside a temp directory of this case. */
  private def h5File(prefix: String): java.io.File = new java.io.File(tmpDir(prefix), "f.h5")

  private def deflateBytes(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(raw); d.finish()
    val out = new Array[Byte](256)
    val n = d.deflate(out)
    d.end()
    out.take(n)
  }

  private def doubleBytes(values: Array[Double]): Array[Byte] = {
    val raw = ByteBuffer.allocate(values.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    values.foreach(raw.putDouble)
    raw.array()
  }

  private def deflate(values: Array[Double]): Array[Byte] =
    deflateBytes(doubleBytes(values))

  /** The HDF5 shuffle filter's WRITE side (byte-plane transposition),
    * independent of the reader's unshuffle. */
  private def shuffleBytes(raw: Array[Byte], size: Int): Array[Byte] = {
    val n = raw.length / size
    val out = new Array[Byte](raw.length)
    for (i <- 0 until n; j <- 0 until size) out(j * n + i) = raw(i * size + j)
    for (t <- n * size until raw.length) out(t) = raw(t) // pass-through tail
    out
  }

  /** The fletcher32 filter's WRITE side: append the checksum little-endian. */
  private def withFletcher(b: Array[Byte]): Array[Byte] = {
    val c = Hdf5.fletcher32(b, b.length)
    b ++ Array[Byte]((c & 0xFF).toByte, ((c >> 8) & 0xFF).toByte,
      ((c >> 16) & 0xFF).toByte, ((c >> 24) & 0xFF).toByte)
  }

  private def shuffleDeflate(values: Array[Double]): Array[Byte] =
    deflateBytes(shuffleBytes(doubleBytes(values), 8))

  /** dims: temp double[2,3] chunked (1,2) deflated = {{1,2,3},{4,5,-999}}
    * with _FillValue=-999 and scale_factor=0.5 attributes;
    * x double[3] contiguous = {10,20,30}.
    *
    * `filterMode` picks temp's pipeline: 0 = deflate only (the original
    * fixture), 1 = fletcher32→shuffle→deflate in write order (what
    * netcdf-c emits for `fletcher32=True` — checksum over the raw
    * data), 2 = shuffle→deflate→fletcher32 (h5py's property order —
    * checksum over the compressed bytes). */
  private def writeSample(path: String, filterMode: Int = 0): Unit = {
    val chunks = Seq( // (rowOff, colOff, values incl. edge padding)
      (0L, 0L, Array(1.0, 2.0)), (0L, 2L, Array(3.0, 0.0)),
      (1L, 0L, Array(4.0, 5.0)), (1L, 2L, Array(-999.0, 0.0)))
    case class Filt(id: Int, nVals: Int)
    val pipelineFilters = filterMode match {
      case 0 => Seq(Filt(1, 1))
      case 1 => Seq(Filt(3, 0), Filt(2, 0), Filt(1, 1))
      case 2 => Seq(Filt(2, 0), Filt(1, 1), Filt(3, 0))
    }
    val filterBody = 8 + pipelineFilters
      .map(f => 8 + 4 * f.nVals + (if (f.nVals % 2 == 1) 4 else 0)).sum
    def pack(v: Array[Double]): Array[Byte] = filterMode match {
      case 0 => deflate(v)
      case 1 => deflateBytes(shuffleBytes(withFletcher(doubleBytes(v)), 8))
      case 2 => withFletcher(deflateBytes(shuffleBytes(doubleBytes(v), 8)))
    }
    val packed = chunks.map { case (r, c, v) => (r, c, pack(v)) }

    val bos = new ByteArrayOutputStream()
    def le(n: Int, bytes: Int): Unit = {
      var v = n.toLong
      (0 until bytes).foreach { _ => bos.write((v & 0xFF).toInt); v >>= 8 }
    }
    def le64(n: Long): Unit = { var v = n; (0 until 8).foreach { _ => bos.write((v & 0xFF).toInt); v >>= 8 } }
    def ascii(s: String): Unit = bos.write(s.getBytes("ASCII"))
    def at(pos: Int): Unit = assert(bos.size() == pos, s"layout drift: at ${bos.size()}, expected $pos")

    // addresses (fixed-size metadata laid out back to back; only the temp
    // object header's size varies, with the filter-pipeline message)
    val (rootOH, gBtree, heap, heapData, snod, xOH, tempOH) =
      (96L, 136L, 184L, 216L, 240L, 328L, 432L)
    val msgBytes = 248 + filterBody // 6 msg headers + dataspace/dtype/layout/attrs
    val cBtree = tempOH + 16 + msgBytes
    val dataStart = cBtree + 24 + 4 * 40 + 32 // v1 btree header + 4 keys + final
    val chunkAddrs = packed.scanLeft(dataStart) { case (a, (_, _, b)) => a + b.length }
    val xData = chunkAddrs.last
    val eof = xData + 24

    // --- superblock v0
    Seq(0x89, 'H'.toInt, 'D'.toInt, 'F'.toInt, 0x0D, 0x0A, 0x1A, 0x0A).foreach(bos.write)
    Seq(0, 0, 0, 0, 0, 8, 8, 0).foreach(bos.write) // versions, 8-byte offsets/lengths
    le(4, 2); le(16, 2); le(0, 4) // leaf k, internal k, flags
    le64(0L); le64(Undef); le64(eof); le64(Undef)
    le64(0L); le64(rootOH); le(1, 4); le(0, 4); le64(gBtree); le64(heap)
    at(96)

    // --- root object header: one symbol-table message
    def ohPrefix(nMsgs: Int, msgBytes: Int): Unit = {
      bos.write(1); bos.write(0); le(nMsgs, 2); le(1, 4); le(msgBytes, 4); le(0, 4)
    }
    def msg(t: Int, size: Int)(body: => Unit): Unit = {
      le(t, 2); le(size, 2); bos.write(0); le(0, 3)
      val before = bos.size(); body
      while (bos.size() < before + size) bos.write(0) // pad to declared size
    }
    ohPrefix(1, 24)
    msg(0x0011, 16) { le64(gBtree); le64(heap) }
    at(136)

    // --- group B-tree (v1, type 0): one SNOD child
    ascii("TREE"); bos.write(0); bos.write(0); le(1, 2)
    le64(Undef); le64(Undef)
    le64(0L); le64(snod); le64(0L) // key0, child0, key1
    at(184)

    // --- local heap: "" at 0, "temp" at 8, "x" at 16
    ascii("HEAP"); bos.write(0); le(0, 3)
    le64(24L); le64(Undef); le64(heapData)
    at(216)
    bos.write(0); le(0, 7) // ""
    ascii("temp"); le(0, 4)
    ascii("x"); le(0, 7)
    at(240)

    // --- SNOD: temp, x (name order)
    ascii("SNOD"); bos.write(1); bos.write(0); le(2, 2)
    le64(8L); le64(tempOH); le(0, 4); le(0, 4); (0 until 16).foreach(_ => bos.write(0))
    le64(16L); le64(xOH); le(0, 4); le(0, 4); (0 until 16).foreach(_ => bos.write(0))
    at(328)

    def doubleType(): Unit = { // IEEE 64-bit little-endian
      bos.write(0x11); bos.write(0); bos.write(0x20); bos.write(0) // class bits: mantissa norm
      le(8, 4)
      le(0, 2); le(64, 2) // bit offset, precision
      bos.write(52); bos.write(11); bos.write(0); bos.write(52) // exp loc/size, mant loc/size
      le(1023, 4)
    }

    // --- x object header: dataspace[3] + datatype + contiguous layout
    ohPrefix(3, 88)
    msg(0x0001, 16) { bos.write(1); bos.write(1); bos.write(0); le(0, 5); le64(3L) }
    msg(0x0003, 24) { doubleType() }
    msg(0x0008, 24) { bos.write(3); bos.write(1); le64(xData); le64(24L) }
    at(432)

    // scalar-double attribute message (v1): name sizes include the null
    // terminator; datatype/dataspace blocks pad to 8
    def attr(name: String, value: Double): Unit = {
      val nameLen = name.length + 1
      val namePad = (nameLen + 7) & ~7
      msg(0x000C, 8 + namePad + 24 + 8 + 8) {
        bos.write(1); bos.write(0)
        le(nameLen, 2); le(20, 2); le(8, 2) // name/datatype/dataspace sizes
        ascii(name); (0 until namePad - name.length).foreach(_ => bos.write(0))
        doubleType(); le(0, 4) // datatype (20B) padded to 24
        bos.write(1); bos.write(0); bos.write(0); le(0, 5) // scalar dataspace
        val vb = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
        vb.putDouble(value); bos.write(vb.array())
      }
    }

    // --- temp object header: dataspace[2,3] + datatype + chunked layout +
    //     deflate + CF attributes
    ohPrefix(6, msgBytes)
    msg(0x0001, 24) { bos.write(1); bos.write(2); bos.write(0); le(0, 5); le64(2L); le64(3L) }
    msg(0x0003, 24) { doubleType() }
    msg(0x0008, 24) { bos.write(3); bos.write(2); bos.write(3) // v3, chunked, rank+1
      le64(cBtree); le(1, 4); le(2, 4); le(8, 4) }
    msg(0x000B, filterBody) { bos.write(1); bos.write(pipelineFilters.length); le(0, 6) // v1
      pipelineFilters.foreach { f =>
        le(f.id, 2); le(0, 2); le(1, 2); le(f.nVals, 2) // id, no name, optional flag
        (0 until f.nVals).foreach(_ => le(6, 4))
        if (f.nVals % 2 == 1) le(0, 4) // v1 pads odd value counts
      } }
    attr("_FillValue", -999.0)
    attr("scale_factor", 0.5)
    at(cBtree.toInt)

    // --- chunk B-tree (v1, type 1): 4 entries, keys carry (size, mask, offsets)
    ascii("TREE"); bos.write(1); bos.write(0); le(4, 2)
    le64(Undef); le64(Undef)
    packed.zipWithIndex.foreach { case ((r, c, b), i) =>
      le(b.length, 4); le(0, 4); le64(r); le64(c); le64(0L)
      le64(chunkAddrs(i))
    }
    le(0, 4); le(0, 4); le64(2L); le64(3L); le64(0L) // final key
    at(dataStart.toInt)
    packed.foreach { case (_, _, b) => bos.write(b) }
    assert(bos.size() == xData)
    val xb = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
    Seq(10.0, 20.0, 30.0).foreach(xb.putDouble)
    bos.write(xb.array())
    assert(bos.size() == eof)

    val f = new FileOutputStream(path)
    try f.write(bos.toByteArray) finally f.close()
  }

  test("unshuffle inverts the shuffle byte-transposition, remainder intact") {
    val rnd = new scala.util.Random(7)
    for (size <- Seq(2, 4, 8); n <- Seq(1, 5, 64)) {
      val raw = Array.fill[Byte](n * size)(rnd.nextInt().toByte)
      assert(Hdf5.unshuffle(shuffleBytes(raw, size), size).toSeq == raw.toSeq)
    }
    // size 1 and a non-multiple tail pass through untouched
    val odd = Array[Byte](1, 2, 3, 4, 5)
    assert(Hdf5.unshuffle(odd, 1).toSeq == odd.toSeq)
  }

  test("truncated deflate chunk fails the read instead of hanging") {
    val values = Array.tabulate(16)(_.toDouble)
    val full = deflate(values)
    // cut the compressed stream short: the inflater stalls (returns 0,
    // finished() never true) — must surface as an IOException, not a spin
    val truncated = full.take(full.length / 2)
    val ex = intercept[java.io.IOException] {
      Hdf5.inflate(truncated, values.length * 8)
    }
    assert(ex.getMessage.contains("corrupt deflate chunk"))
  }

  test("metadata parse: superblock, symbol table, layouts, deflate flag") {
    val f = h5File("graft")
    writeSample(f.getPath)
    val meta = Hdf5.readMeta(f.getPath).sortBy(_.name)
    assert(meta.map(_.name) == Seq("temp", "x"))
    val temp = meta.head; val x = meta(1)
    assert(temp.dims == Seq(2L, 3L) && temp.layoutClass == 2 && temp.gzip)
    assert(temp.chunkDims == Seq(1L, 2L, 8L))
    assert(temp.attrs == Map("_FillValue" -> -999.0, "scale_factor" -> 0.5))
    assert(x.dims == Seq(3L) && x.layoutClass == 1 && !x.gzip)
    val chunks = Hdf5.chunkTable(f.getPath, temp)
    assert(chunks.length == 4 && chunks.map(_.offsets.take(2)).toSet ==
      Set(Seq(0L, 0L), Seq(0L, 2L), Seq(1L, 0L), Seq(1L, 2L)))
  }

  test("chunked dataset reads chunk-parallel, inflates, unpacks CF attrs") {
    val f = h5File("graft")
    writeSample(f.getPath)
    val rows = Hdf5.readVariable(spark, f.getPath, "temp")
      .orderBy("i0", "i1").collect()
    assert(rows.length == 6) // edge-chunk padding elements dropped
    // scale_factor applied, _FillValue -> NULL
    assert(rows.map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2))).toSeq ==
      Seq(Some(0.5), Some(1.0), Some(1.5), Some(2.0), Some(2.5), None))
    assert(rows.map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((0, 0), (0, 1), (0, 2), (1, 0), (1, 1), (1, 2)))
  }

  test("fletcher32 round-trip, odd lengths, and loud corruption") {
    val rnd = new scala.util.Random(3)
    for (len <- Seq(1, 2, 7, 16, 720, 721, 4096)) { // >360 words folds the sums
      val b = Array.fill[Byte](len)(rnd.nextInt().toByte)
      assert(Hdf5.stripFletcher32(withFletcher(b)).toSeq == b.toSeq, s"len $len")
      // pre-1.6.3 files store the checksum byte-reversed; accepted too
      val fwd = withFletcher(b)
      val rev = b ++ fwd.takeRight(4).reverse
      assert(Hdf5.stripFletcher32(rev).toSeq == b.toSeq, s"len $len reversed")
    }
    val good = withFletcher(Array.tabulate[Byte](32)(_.toByte))
    good(5) = (good(5) ^ 0x40).toByte
    val ex = intercept[java.io.IOException] { Hdf5.stripFletcher32(good) }
    assert(ex.getMessage.contains("fletcher32 checksum mismatch"))
  }

  test("fletcher32 -> shuffle -> deflate pipeline (netCDF4 order) reads verified") {
    val f = h5File("graft")
    writeSample(f.getPath, filterMode = 1)
    val temp = Hdf5.readMeta(f.getPath).find(_.name == "temp").get
    assert(temp.filters == Seq(3, 2, 1) && temp.gzip)
    val rows = Hdf5.readVariable(spark, f.getPath, "temp")
      .orderBy("i0", "i1").collect()
    assert(rows.map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2))).toSeq ==
      Seq(Some(0.5), Some(1.0), Some(1.5), Some(2.0), Some(2.5), None))
  }

  test("shuffle -> deflate -> fletcher32 pipeline (h5py order) reads verified") {
    val f = h5File("graft")
    writeSample(f.getPath, filterMode = 2)
    val temp = Hdf5.readMeta(f.getPath).find(_.name == "temp").get
    assert(temp.filters == Seq(2, 1, 3))
    val rows = Hdf5.readVariable(spark, f.getPath, "temp")
      .orderBy("i0", "i1").collect()
    assert(rows.map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2))).toSeq ==
      Seq(Some(0.5), Some(1.0), Some(1.5), Some(2.0), Some(2.5), None))
  }

  test("corrupted fletcher32 chunk fails the read, never a silent misread") {
    val f = h5File("graft")
    writeSample(f.getPath, filterMode = 2)
    // flip one bit in the FIRST chunk's stored bytes (checksum covers the
    // compressed payload in mode 2, so corruption must trip the verify)
    val temp = Hdf5.readMeta(f.getPath).find(_.name == "temp").get
    val chunk = Hdf5.chunkTable(f.getPath, temp).minBy(_.address)
    val raf = new java.io.RandomAccessFile(f, "rw")
    raf.seek(chunk.address)
    val b0 = raf.readByte()
    raf.seek(chunk.address); raf.writeByte(b0 ^ 0x01)
    raf.close()
    val ex = intercept[org.apache.spark.SparkException] {
      Hdf5.readVariable(spark, f.getPath, "temp").collect()
    }
    assert(ex.getCause != null &&
      (ex.getCause.getMessage.contains("fletcher32") ||
        ex.getMessage.contains("fletcher32")))
  }

  test("contiguous dataset reads via pure offset math") {
    val f = h5File("graft")
    writeSample(f.getPath)
    val rows = Hdf5.readVariable(spark, f.getPath, "x").orderBy("i0").collect()
    assert(rows.map(_.getDouble(1)).toSeq == Seq(10.0, 20.0, 30.0))
  }

  test("parquet-lake conversion emits every dataset") {
    val f = h5File("graft")
    writeSample(f.getPath)
    val outDir = tmpDir("graft_h5lake").toString
    val vars = Hdf5.toParquetLake(spark, f.getPath, outDir)
    assert(vars.toSet == Set("temp", "x"))
    val lake = spark.read.parquet(s"$outDir/temp")
    assert(lake.count() == 6 && lake.where("i0 = 1 and i1 = 2").head.isNullAt(2))
    assert(lake.where("i0 = 1 and i1 = 1").head.getAs[Double]("value") == 2.5)
  }

  test("szip-filtered chunk decodes through the planted single-chunk file") {
    val f = h5File("graft_szip")
    graft.sources.Hdf5PlantedSzip.write(f.getPath)
    val ds = Hdf5.readMeta(f.getPath).find(_.name == "counts").get
    assert(ds.filters == Seq(Hdf5.FilterSzip))
    val rows = Hdf5.readVariable(spark, f.getPath, "counts").orderBy("i0").collect()
    assert(rows.length == 48)
    // byte-for-byte: every decoded value equals the planted closed form
    assert(rows.map(r => (r.getInt(0), r.getDouble(1))).toSeq ==
      (0 until 48).map(t => (t, graft.sources.Hdf5PlantedSzip.value(t).toDouble)))
  }

  test("nbit-filtered chunk decodes through the planted single-chunk file") {
    val f = h5File("graft_nbit")
    graft.sources.Hdf5PlantedNbit.write(f.getPath)
    val ds = Hdf5.readMeta(f.getPath).find(_.name == "sensor").get
    assert(ds.filters == Seq(Hdf5.FilterNbit) && ds.dtSize == 2)
    val rows = Hdf5.readVariable(spark, f.getPath, "sensor").orderBy("i0").collect()
    assert(rows.length == 48)
    // byte-for-byte: every decoded value equals the planted closed form
    assert(rows.map(r => (r.getInt(0), r.getDouble(1))).toSeq ==
      (0 until 48).map(t => (t, graft.sources.Hdf5PlantedNbit.value(t).toDouble)))
  }

  // ------------- "latest" on-disk generation (superblock v3) -------------

  /** Build the same logical file in the "latest" format: superblock v3,
    * v2 (OHDR) object headers, compact link-message root group, layout v4
    * with a fixed-array chunk index for the deflated 2-D dataset, an
    * IMPLICIT chunk index for an unfiltered 1-D dataset, v3 packed
    * attributes, v2 filter pipeline. Written byte-by-byte from the public
    * format spec, with every metadata checksum computed for real (the
    * reader verifies them all). */
  private def writeLatest(path: String): Unit = {
    val packed = Seq( // row-major fixed-array order, incl. edge padding
      Array(1.0, 2.0), Array(3.0, 0.0), Array(4.0, 5.0), Array(-999.0, 0.0)).map(shuffleDeflate)
    assemble(path) { at =>
      val fadbBytes = {
        val b = buf(14 + packed.length * 16 + 4)
        b.put(ascii("FADB")).put(0.toByte).put(1.toByte).putLong(at("fahd"))
        packed.indices.foreach { i => // addr, stored size, mask
          b.putLong(at(s"chunk$i")).putInt(packed(i).length).putInt(0)
        }
        ck(b.putInt(0).array()) // checksum
      }
      val fahdBytes = ck(buf(28).put(ascii("FAHD")).put(0.toByte)
        .put(1.toByte).put(16.toByte).put(10.toByte) // filtered client, 16B entries
        .putLong(packed.length).putLong(at("fadb")).putInt(0).array())
      numbered("chunk", packed) ++ Seq("fadb" -> fadbBytes, "fahd" -> fahdBytes,
        "x" -> f64s(10.0, 20.0, 30.0),
        "y" -> f64s(1.0, 2.0, 3.0, 4.0, 5.0, 0.0), // 3 implicit chunks of 2; last padded
        // fixed-array index (2^10 page); shuffle (elem size 8) THEN
        // deflate — the netCDF4-python default pairing; the reader must
        // invert both, in reverse order
        "temp.oh" -> dataset(dataspace(2L, 3L), float64,
          chunked(Seq(1, 2), 3, Array[Byte](10), at("fahd")),
          message(0x0B, filters(2 -> Seq(8), 1 -> Seq(6))),
          attribute("_FillValue", float64, f64s(-999.0)),
          attribute("scale_factor", float64, f64s(0.5))),
        "x.oh" -> dataset(dataspace(3L), float64, contiguous(at("x"), 24L)),
        "y.oh" -> dataset(dataspace(5L), float64, implicitChunks(Seq(2), at("y"))),
        "root" -> group("temp" -> at("temp.oh"), "x" -> at("x.oh"), "y" -> at("y.oh")))
    }
  }

  // ------- unlimited-dimension ("latest") chunk indexes: EA + v2 B-tree -------

  /** A "latest" file with the two unlimited-dimension chunk indexes:
    *  - `ts`: 1-D double[11] maxdims unlimited, chunks [2], deflated,
    *    EXTENSIBLE-ARRAY index (EAHD/EAIB/EADB, client 1) with small
    *    creation params so elements span the index block AND two data
    *    blocks from different superblocks; the last chunk is
    *    UNALLOCATED (address 0xFF..) as an appendable series leaves it.
    *  - `grid`: 2-D double[3,4], chunks [2,2], unfiltered, V2-B-TREE
    *    index (BTHD/BTLF, record type 10, depth 0) with scaled offsets.
    *  - `deep`: 2-D double[2,12], chunks [1,2], unfiltered, v2 B-tree
    *    DEPTH 1 (BTIN root, two BTLF leaves).
    * Byte-by-byte from the public spec; checksums zeroed (unverified). */
  private def writeUnlimited(path: String): Unit = {
    // --- ts: values i*1.5, chunks of 2, chunk 5 unallocated
    val tsChunks = (0 until 5).map(c => deflate(Array(c * 3.0, c * 3.0 + 1.5)))
    val elemSize = 14 // addr(8) + stored size(2) + filter mask(4)
    val arrOffSize = (16 + 7) / 8 // max nelmts bits = 16
    def eaElem(b: ByteBuffer, addr: Long, size: Int): Unit = {
      b.putLong(addr); b.putShort(size.toShort); b.putInt(0)
    }
    // --- grid: v(r,c) = 10r + c, 2x2 grid of [2,2] chunks, row-major raw
    def gridChunk(r0: Int, c0: Int): Array[Byte] = {
      val b = buf(32)
      for (r <- r0 until r0 + 2; c <- c0 until c0 + 2)
        b.putDouble(if (r < 3 && c < 4) 10.0 * r + c else 7777.0)
      b.array()
    }
    val gridChunks = Seq((0, 0), (0, 2), (2, 0), (2, 2)).map { case (r, c) => gridChunk(r, c) }
    // --- deep: v(r,c) = 100r + c over [2,12], [1,2] chunks -> 12 chunks
    def deepChunk(r0: Int, c0: Int): Array[Byte] = {
      val b = buf(16)
      for (c <- c0 until c0 + 2) b.putDouble(100.0 * r0 + c)
      b.array()
    }
    val deepCoords = for (r <- 0 until 2; c <- 0 until 6) yield (r, c * 2)
    val deepChunks = deepCoords.map { case (r, c) => deepChunk(r, c) }

    assemble(path) { at =>
      val tsAddrs = tsChunks.indices.map(i => at(s"ts$i"))
      val gAddrs = gridChunks.indices.map(i => at(s"grid$i"))
      val dAddrs = deepChunks.indices.map(i => at(s"deep$i"))
      val (eadbA, eadbB, eahd) = (at("eadbA"), at("eadbB"), at("eahd"))
      // EA data blocks: A = chunks 2,3 (superblock 0); B = chunks 4,5
      // (superblock 1; chunk 5 unallocated)
      def eadb(selfHdr: Long, elems: Seq[(Long, Int)]): Array[Byte] = {
        val b = buf(4 + 1 + 1 + 8 + arrOffSize + elems.length * elemSize + 4)
        b.put(ascii("EADB")).put(0.toByte).put(1.toByte).putLong(selfHdr)
        b.putShort(0) // block offset (2-byte arr-off)
        elems.foreach { case (a, s) => eaElem(b, a, s) }
        ck(b.putInt(0).array())
      }
      val eadbABytes = eadb(eahd, Seq((tsAddrs(2), tsChunks(2).length),
        (tsAddrs(3), tsChunks(3).length)))
      // superblock 1's data block holds minElmts*2^((1+1)/2) = 4 element
      // slots; chunks 4 (real), 5 (unallocated) fill the first two
      val eadbBBytes = eadb(eahd, Seq((tsAddrs(4), tsChunks(4).length),
        (-1L, 0), (-1L, 0), (-1L, 0)))
      val eaibBytes = {
        // geometry for (minPtrs=4, maxBits=16, minElmts=2): 6 data-block
        // slots + 4 secondary-block slots in the index block
        val b = buf(4 + 1 + 1 + 8 + 2 * elemSize + 6 * 8 + 4 * 8 + 4)
        b.put(ascii("EAIB")).put(0.toByte).put(1.toByte).putLong(eahd)
        eaElem(b, tsAddrs(0), tsChunks(0).length)
        eaElem(b, tsAddrs(1), tsChunks(1).length)
        b.putLong(eadbA).putLong(eadbB)
        (0 until 4).foreach(_ => b.putLong(-1L)) // unused data-block slots
        (0 until 4).foreach(_ => b.putLong(-1L)) // unused secondary slots
        ck(b.putInt(0).array())
      }
      val eahdBytes = {
        val b = buf(4 + 2 + 6 + 6 * 8 + 8 + 4)
        b.put(ascii("EAHD")).put(0.toByte).put(1.toByte)
        b.put(elemSize.toByte).put(16.toByte).put(2.toByte) // elem size, max bits, idx elmts
        b.put(2.toByte).put(4.toByte).put(10.toByte) // min elmts, min ptrs, page bits
        (0 until 6).foreach(_ => b.putLong(0L)) // stats
        ck(b.putLong(at("eaib")).putInt(0).array())
      }
      // grid: depth-0 v2 B-tree, record type 10 (addr + 2 scaled offsets)
      val gLeafBytes = {
        val b = buf(6 + 4 * 24 + 4)
        b.put(ascii("BTLF")).put(0.toByte).put(10.toByte)
        Seq((0, 0), (0, 1), (1, 0), (1, 1)).zip(gAddrs).foreach { case ((sr, sc), a) =>
          b.putLong(a).putLong(sr.toLong).putLong(sc.toLong)
        }
        ck(b.putInt(0).array())
      }
      val gHdBytes = {
        val b = buf(4 + 2 + 4 + 2 + 2 + 2 + 8 + 2 + 8 + 4)
        b.put(ascii("BTHD")).put(0.toByte).put(10.toByte)
        b.putInt(512).putShort(24).putShort(0).put(100.toByte).put(40.toByte)
        b.putLong(at("gLeaf")).putShort(4).putLong(4L).putInt(0)
        ck(b.array())
      }
      // deep: depth-1 tree — leaf A (5 records), root record, leaf B (6)
      def dLeaf(recs: Seq[((Int, Int), Long)]): Array[Byte] = {
        val b = buf(6 + recs.length * 24 + 4)
        b.put(ascii("BTLF")).put(0.toByte).put(10.toByte)
        recs.foreach { case ((sr, sc), a) =>
          b.putLong(a).putLong(sr.toLong).putLong(sc.toLong)
        }
        ck(b.putInt(0).array())
      }
      val deepRecs = deepCoords.map { case (r, c) => (r, c / 2) }.zip(dAddrs)
      val dLeafABytes = dLeaf(deepRecs.slice(0, 5))
      val dRootRec = deepRecs(5)
      val dLeafBBytes = dLeaf(deepRecs.slice(6, 12))
      val dInBytes = {
        // leaf capacity (512-10)/24 = 20 -> 1-byte record counts
        val b = buf(6 + 24 + 2 * (8 + 1) + 4)
        b.put(ascii("BTIN")).put(0.toByte).put(10.toByte)
        b.putLong(dRootRec._2).putLong(dRootRec._1._1.toLong).putLong(dRootRec._1._2.toLong)
        b.putLong(at("dLeafA")).put(5.toByte)
        b.putLong(at("dLeafB")).put(6.toByte)
        ck(b.putInt(0).array())
      }
      val dHdBytes = {
        val b = buf(4 + 2 + 4 + 2 + 2 + 2 + 8 + 2 + 8 + 4)
        b.put(ascii("BTHD")).put(0.toByte).put(10.toByte)
        b.putInt(512).putShort(24).putShort(1).put(100.toByte).put(40.toByte)
        b.putLong(at("dIn")).putShort(1).putLong(12L).putInt(0)
        ck(b.array())
      }
      numbered("ts", tsChunks) ++ Seq("eadbA" -> eadbABytes, "eadbB" -> eadbBBytes,
        "eaib" -> eaibBytes, "eahd" -> eahdBytes) ++
        numbered("grid", gridChunks) ++ Seq("gLeaf" -> gLeafBytes, "gHd" -> gHdBytes) ++
        numbered("deep", deepChunks) ++ Seq("dLeafA" -> dLeafABytes, "dLeafB" -> dLeafBBytes,
          "dIn" -> dInBytes, "dHd" -> dHdBytes,
          // creation params (repeated in EAHD): max bits, idx elmts, min
          // ptrs, min elmts, page bits
          "ts.oh" -> dataset(dataspaceUnlimited(11L), float64,
            earrayChunks(Seq(2), Seq(16, 2, 4, 2, 10), eahd), message(0x0B, filters(1 -> Seq(6)))),
          "grid.oh" -> dataset(dataspaceUnlimited(3L, 4L), float64,
            btreeChunks(Seq(2, 2), 512, at("gHd"))),
          "deep.oh" -> dataset(dataspaceUnlimited(2L, 12L), float64,
            btreeChunks(Seq(1, 2), 512, at("dHd"))),
          "root" -> group("deep" -> at("deep.oh"), "grid" -> at("grid.oh"), "ts" -> at("ts.oh")))
    }
  }

  /** Parameterised 1-D extensible-array file: double[2*nChunks] chunked
    * [2], UNFILTERED (client 0), value v(i) = i + 0.25, with EA creation
    * params (maxBits 16, idxElmts 2, minPtrs 4, minElmts 2) whose
    * geometry crosses from index-block elements (2) through the six
    * direct data blocks (superblocks 0-3, 30 elements) into SECONDARY
    * blocks (superblocks 4+, 4 data blocks of 8 then 16 elements) as
    * nChunks grows — the full addressing scheme of the spec appendix.
    *
    * `pageBits` < the largest data-block size exercises PAGED data
    * blocks: header-only EADB followed by full pages of `2^pageBits`
    * elements + 4-byte page checksums, and page-init bitmaps ahead of
    * the addresses in owning secondary blocks. */
  private def writeEaN(path: String, nChunks: Int, pageBits: Int = 10): Unit = {
    // EA geometry for (maxBits=16, idxElmts=2, minPtrs=4, minElmts=2)
    val (idxE, minE, minP, maxBits) = (2, 2, 4, 16)
    val iblkNsblks = 4          // 2 * log2(minPtrs)
    val nsblksHdr = 1 + (maxBits - 1) / 2 // log2(minElmts) = 1 -> 8
    val ndblkAddrsIblk = 2 * (minP - 1)   // 6
    val nsblkAddrs = nsblksHdr - iblkNsblks
    def ndblks(s: Int): Int = 1 << (s / 2)
    def dblkNelmts(s: Int): Int = minE << ((s + 1) / 2)
    val arrOff = (maxBits + 7) / 8

    // assign chunk indices to blocks
    val direct = math.min(idxE, nChunks)
    case class Blk(sblk: Int, elems: Seq[Int]) // chunk indices
    val blocks = scala.collection.mutable.ArrayBuffer.empty[Blk]
    var idx = idxE
    var s = 0
    while (idx < nChunks) {
      for (_ <- 0 until ndblks(s) if idx < nChunks) {
        val n = dblkNelmts(s)
        blocks += Blk(s, (idx until math.min(idx + n, nChunks)))
        idx += n
      }
      s += 1
    }
    val chunkData = (0 until nChunks).map(c => f64s(2 * c + 0.25, 2 * c + 1.25)) // [2] doubles
    assemble(path) { at =>
      val eahd = at("eahd")
      val pageN = 1 << pageBits
      val dblkBytes = blocks.map { blk =>
        val n = dblkNelmts(blk.sblk)
        def addrAt(i: Int): Long =
          if (i < blk.elems.length) at(s"chunk${blk.elems(i)}") else -1L
        if (n <= pageN) {
          val b = buf(4 + 2 + 8 + arrOff + n * 8 + 4)
          b.put(ascii("EADB")).put(0.toByte).put(0.toByte).putLong(eahd)
          b.putShort(0) // block offset
          (0 until n).foreach(i => b.putLong(addrAt(i)))
          ck(b.putInt(0).array())
        } else {
          // PAGED: header-only block (checksum right after block offset),
          // then full pages of pageN addresses + 4-byte page checksum
          val npages = n / pageN
          val hdrSize = 4 + 2 + 8 + arrOff + 4
          val b = buf(hdrSize + npages * (pageN * 8 + 4))
          b.put(ascii("EADB")).put(0.toByte).put(0.toByte).putLong(eahd)
          b.putShort(0).putInt(0) // block offset, header checksum
          for (j <- 0 until npages) {
            (0 until pageN).foreach(i => b.putLong(addrAt(j * pageN + i)))
            b.putInt(0) // page checksum
          }
          val img = b.array()
          ckAt(img, hdrSize - 4, hdrSize - 4) // header checksum
          for (j <- 0 until npages) { // page checksum: that page's elements
            val ps = hdrSize + j * (pageN * 8 + 4)
            ckAt(img, ps + pageN * 8, pageN * 8, from = ps)
          }
          img
        }
      }
      // secondary blocks: superblocks >= iblkNsblks, each holding its
      // data-block addresses (absent data blocks = -1), preceded by
      // page-init bitmaps when this superblock's data blocks are paged
      val secSblks = blocks.map(_.sblk).filter(_ >= iblkNsblks).distinct.sorted
      val sblkBytes = secSblks.map { sb =>
        val nd = ndblks(sb)
        val dnel = dblkNelmts(sb)
        val bitmapBytes = if (dnel > pageN) nd * ((dnel / pageN + 7) / 8) else 0
        val b = buf(4 + 2 + 8 + arrOff + bitmapBytes + nd * 8 + 4)
        b.put(ascii("EASB")).put(0.toByte).put(0.toByte).putLong(eahd)
        b.putShort(0)
        (0 until bitmapBytes).foreach(_ => b.put(0xFF.toByte)) // all pages init
        val mine = blocks.zipWithIndex.filter(_._1.sblk == sb)
        (0 until nd).foreach { i =>
          b.putLong(if (i < mine.length) at(s"dblk${mine(i)._2}") else -1L)
        }
        ck(b.putInt(0).array())
      }
      val eaibBytes = {
        val b = buf(4 + 2 + 8 + idxE * 8 + ndblkAddrsIblk * 8 + nsblkAddrs * 8 + 4)
        b.put(ascii("EAIB")).put(0.toByte).put(0.toByte).putLong(eahd)
        (0 until idxE).foreach(i => b.putLong(if (i < direct) at(s"chunk$i") else -1L))
        val directBlks = blocks.zipWithIndex.filter(_._1.sblk < iblkNsblks)
        (0 until ndblkAddrsIblk).foreach { i =>
          b.putLong(if (i < directBlks.length) at(s"dblk${directBlks(i)._2}") else -1L)
        }
        (0 until nsblkAddrs).foreach { i =>
          b.putLong(if (i < secSblks.length) at(s"sblk$i") else -1L)
        }
        ck(b.putInt(0).array())
      }
      val eahdBytes = {
        val b = buf(4 + 2 + 6 + 6 * 8 + 8 + 4)
        b.put(ascii("EAHD")).put(0.toByte).put(0.toByte)
        b.put(8.toByte).put(maxBits.toByte).put(idxE.toByte)
        b.put(minE.toByte).put(minP.toByte).put(pageBits.toByte)
        (0 until 6).foreach(_ => b.putLong(0L))
        ck(b.putLong(at("eaib")).putInt(0).array())
      }
      numbered("chunk", chunkData) ++ numbered("dblk", dblkBytes.toSeq) ++
        numbered("sblk", sblkBytes.toSeq) ++ Seq("eaib" -> eaibBytes, "eahd" -> eahdBytes,
          "ds" -> dataset(dataspaceUnlimited(2L * nChunks), float64,
            earrayChunks(Seq(2), Seq(maxBits, idxE, minP, minE, pageBits), eahd)),
          "root" -> group("ea" -> at("ds")))
    }
  }

  test("extensible array: geometry sweep across index block, data blocks, secondary blocks") {
    for (nChunks <- Seq(1, 2, 3, 9, 16, 33, 60, 120)) {
      val f = h5File(s"graft_ea${nChunks}_")
      writeEaN(f.getPath, nChunks)
      val got = Hdf5.readVariable(spark, f.getPath, "ea").collect()
        .map(r => (r.getInt(0), r.getDouble(1))).toMap
      val expected = (0 until 2 * nChunks).map(i => i -> (i + 0.25)).toMap
      assert(got == expected, s"nChunks=$nChunks")
      f.delete()
    }
  }

  test("extensible array: PAGED data blocks, direct and secondary, with page-init bitmaps") {
    // pageBits=2 (4 elements/page) pages the 8-element blocks of
    // superblock 3 (index-block-referenced) and the 8/16-element blocks
    // of superblocks 4-6 (secondary-block-referenced, bitmap-prefixed) —
    // the on-disk shapes a >=10^5-chunk dataset produces, at sweep size
    for (nChunks <- Seq(9, 16, 33, 60, 120)) {
      val f = h5File(s"graft_eapg${nChunks}_")
      writeEaN(f.getPath, nChunks, pageBits = 2)
      val got = Hdf5.readVariable(spark, f.getPath, "ea").collect()
        .map(r => (r.getInt(0), r.getDouble(1))).toMap
      val expected = (0 until 2 * nChunks).map(i => i -> (i + 0.25)).toMap
      assert(got == expected, s"nChunks=$nChunks pageBits=2")
      f.delete()
    }
  }

  /** Parameterised v2-B-tree file: double[2, nChunks] chunked [2,1]
    * (scaled offsets (0, c)), unfiltered records (type 10), v(r,c) =
    * 100r + c. Depth 0 while records fit one leaf
    * ((nodeSize-10)/recSize = 20 at nodeSize 512); above that a depth-1
    * tree with evenly split leaves — exercising the child-pointer
    * record-count width math across leaf counts. */
  private def writeBt2N(path: String, nChunks: Int): Unit = {
    val nodeSize = 512
    val recSize = 8 + 16 // address + 2 scaled offsets
    val leafCap = (nodeSize - 10) / recSize // 20
    // split records into leaves: depth 0 if they fit, else depth 1
    val leaves: Seq[Seq[Int]] =
      if (nChunks <= leafCap) Seq((0 until nChunks))
      else {
        val nLeaves = (nChunks + leafCap) / (leafCap + 1) + 1 // leaves + root recs <= total
        val per = (nChunks - (nLeaves - 1)) / nLeaves
        val extra = (nChunks - (nLeaves - 1)) % nLeaves
        var at = 0
        (0 until nLeaves).map { i =>
          val take = per + (if (i < extra) 1 else 0)
          val s = (at until at + take); at += take + 1; s // +1 skips the root record
        }
      }
    val rootRecs: Seq[Int] =
      if (leaves.length == 1) Nil
      else leaves.dropRight(1).map(l => l.last + 1)
    val chunkData = (0 until nChunks).map(c => f64s(c.toDouble, 100.0 + c))
    assemble(path) { at =>
      def rec(b: ByteBuffer, c: Int): Unit = {
        b.putLong(at(s"chunk$c")); b.putLong(0L); b.putLong(c.toLong)
      }
      val leafBytes = leaves.map { rs =>
        val b = buf(6 + rs.length * recSize + 4)
        b.put(ascii("BTLF")).put(0.toByte).put(10.toByte)
        rs.foreach(rec(b, _))
        ck(b.putInt(0).array())
      }
      // internal root: records, then child pointers with 1-byte counts
      val internal = if (leaves.length == 1) Nil else Seq("internal" -> {
        val b = buf(6 + rootRecs.length * recSize + leaves.length * (8 + 1) + 4)
        b.put(ascii("BTIN")).put(0.toByte).put(10.toByte)
        rootRecs.foreach(rec(b, _))
        leaves.zipWithIndex.foreach { case (l, i) =>
          b.putLong(at(s"leaf$i")); b.put(l.length.toByte)
        }
        ck(b.putInt(0).array())
      })
      val hdBytes = {
        val b = buf(4 + 2 + 4 + 2 + 2 + 2 + 8 + 2 + 8 + 4)
        b.put(ascii("BTHD")).put(0.toByte).put(10.toByte)
        b.putInt(nodeSize).putShort(recSize.toShort)
          .putShort(if (leaves.length == 1) 0 else 1)
          .put(100.toByte).put(40.toByte)
        b.putLong(at(if (leaves.length == 1) "leaf0" else "internal"))
          .putShort((if (leaves.length == 1) nChunks else rootRecs.length).toShort)
        b.putLong(nChunks.toLong).putInt(0)
        ck(b.array())
      }
      numbered("chunk", chunkData) ++ numbered("leaf", leafBytes) ++ internal ++
        Seq("hd" -> hdBytes,
          "ds" -> dataset(dataspaceUnlimited(2L, nChunks.toLong), float64,
            btreeChunks(Seq(2, 1), nodeSize, at("hd"))),
          "root" -> group("bt" -> at("ds")))
    }
  }

  test("v2 B-tree: record-count sweep across depth-0 and depth-1 trees") {
    for (nChunks <- Seq(1, 5, 20, 21, 45, 100)) {
      val f = h5File(s"graft_bt${nChunks}_")
      writeBt2N(f.getPath, nChunks)
      val got = Hdf5.readVariable(spark, f.getPath, "bt").collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
      val expected = (for (r <- 0 until 2; c <- 0 until nChunks)
        yield (r, c) -> (100.0 * r + c)).toMap
      assert(got == expected, s"nChunks=$nChunks")
      f.delete()
    }
  }

  /** Arbitrary-DEPTH v2-B-tree file: same dataset shape as [[writeBt2N]]
    * (double[2, nChunks] chunked [2,1], type-10 records, v(r,c) = 100r+c)
    * but with nodeSize 96 so the H5B2 capacity recurrence bites at tens
    * of records: leafCap = (96-10)/24 = 3, internal cap = 2 at every
    * depth, cumulative capacities 3 / 11 / 35 / 107 — a 40-chunk file is
    * already depth 3, standing in for the >=10^5-chunk archive shape.
    * Child pointers carry 1-byte record counts (encBytes(3)) and, at
    * depth > 1, 1-byte total-records-below fields (encBytes(cumCap)). */
  private def writeBt2Deep(path: String, nChunks: Int): Unit = {
    val nodeSize = 96
    val recSize = 8 + 16
    // H5B2 capacity recurrence at this geometry (all widths 1 byte)
    def capAt(d: Int): Int = if (d == 0) (nodeSize - 10) / recSize else {
      val ptr = 8 + 1 + (if (d > 1) 1 else 0)
      (nodeSize - 10 - ptr) / (recSize + ptr)
    }
    lazy val cumCap: Int => Long = {
      val memo = scala.collection.mutable.Map.empty[Int, Long]
      d => memo.getOrElseUpdate(d,
        if (d == 0) capAt(0).toLong else (capAt(d) + 1) * cumCap(d - 1) + capAt(d))
    }
    val depth = Iterator.from(0).find(d => nChunks <= cumCap(d)).get

    sealed trait Node { def recs: Seq[Int] }
    case class Leaf(recs: Seq[Int]) extends Node
    case class Internal(recs: Seq[Int], children: Seq[Node]) extends Node
    def buildTree(ids: Seq[Int], d: Int): Node =
      if (d == 0) Leaf(ids)
      else {
        val sub = cumCap(d - 1)
        val k = math.max(2, math.ceil((ids.length + 1).toDouble / (sub + 1)).toInt)
        val childTotal = ids.length - (k - 1)
        val base = childTotal / k; val extra = childTotal % k
        var at = 0
        val parts = (0 until k).map { i =>
          val take = base + (if (i < extra) 1 else 0)
          val ch = ids.slice(at, at + take); at += take
          val sep = if (i < k - 1) { val s = ids(at); at += 1; Some(s) } else None
          (ch, sep)
        }
        Internal(parts.flatMap(_._2), parts.map(p => buildTree(p._1, d - 1)))
      }
    val tree = buildTree(0 until nChunks, depth)
    // postorder (children before parents) with each node's depth
    def flatten(n: Node, d: Int): Seq[(Node, Int)] = n match {
      case l: Leaf => Seq((l, 0))
      case i: Internal => i.children.flatMap(c => flatten(c, d - 1)) :+ ((i, d))
    }
    val nodes = flatten(tree, depth)
    val nodeIndex = nodes.map(_._1).zipWithIndex.toMap
    def totalRecs(n: Node): Long = n match {
      case Leaf(rs) => rs.length
      case Internal(rs, ch) => rs.length + ch.map(totalRecs).sum
    }
    def nodeBytes(n: Node, d: Int): Int = n match {
      case Leaf(rs) => 6 + rs.length * recSize + 4
      case Internal(rs, ch) =>
        6 + rs.length * recSize + ch.length * (8 + 1 + (if (d > 1) 1 else 0)) + 4
    }
    val chunkData = (0 until nChunks).map(c => f64s(c.toDouble, 100.0 + c))
    assemble(path) { at =>
      def nodeAddr(n: Node): Long = at(s"node${nodeIndex(n)}")
      def rec(b: ByteBuffer, c: Int): Unit = {
        b.putLong(at(s"chunk$c")); b.putLong(0L); b.putLong(c.toLong)
      }
      val nodeBufs = nodes.map {
        case (l @ Leaf(rs), _) =>
          val b = buf(nodeBytes(l, 0))
          b.put(ascii("BTLF")).put(0.toByte).put(10.toByte)
          rs.foreach(rec(b, _)); ck(b.putInt(0).array())
        case (n @ Internal(rs, ch), d) =>
          val b = buf(nodeBytes(n, d))
          b.put(ascii("BTIN")).put(0.toByte).put(10.toByte)
          rs.foreach(rec(b, _))
          ch.foreach { c =>
            b.putLong(nodeAddr(c)).put(c.recs.length.toByte)
            if (d > 1) b.put(totalRecs(c).toByte)
          }
          ck(b.putInt(0).array())
      }
      val hdBytes = {
        val b = buf(4 + 2 + 4 + 2 + 2 + 2 + 8 + 2 + 8 + 4)
        b.put(ascii("BTHD")).put(0.toByte).put(10.toByte)
        b.putInt(nodeSize).putShort(recSize.toShort).putShort(depth.toShort)
          .put(100.toByte).put(40.toByte)
        b.putLong(nodeAddr(tree)).putShort(tree.recs.length.toShort)
        b.putLong(nChunks.toLong).putInt(0)
        ck(b.array())
      }
      numbered("chunk", chunkData) ++ numbered("node", nodeBufs) ++
        Seq("hd" -> hdBytes,
          "ds" -> dataset(dataspaceUnlimited(2L, nChunks.toLong), float64,
            btreeChunks(Seq(2, 1), nodeSize, at("hd"))),
          "root" -> group("bt" -> at("ds")))
    }
  }

  test("v2 B-tree: depth sweep 0/1/2/3 via small node size") {
    // cumulative capacities at nodeSize 96: 3 / 11 / 35 / 107
    for ((nChunks, wantDepth) <- Seq(3 -> 0, 4 -> 1, 11 -> 1, 12 -> 2,
                                     35 -> 2, 36 -> 3, 80 -> 3, 107 -> 3)) {
      val f = h5File(s"graft_btd${nChunks}_")
      writeBt2Deep(f.getPath, nChunks)
      val got = Hdf5.readVariable(spark, f.getPath, "bt").collect()
        .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
      val expected = (for (r <- 0 until 2; c <- 0 until nChunks)
        yield (r, c) -> (100.0 * r + c)).toMap
      assert(got == expected, s"nChunks=$nChunks (expected depth $wantDepth)")
      f.delete()
    }
  }

  test("unlimited dims: extensible-array index (filtered, unallocated tail chunk)") {
    val f = h5File("graft_ul_")
    writeUnlimited(f.getPath)
    val meta = Hdf5.readMeta(f.getPath)
    assert(meta.map(_.name).sorted == Seq("deep", "grid", "ts"))
    val ts = meta.find(_.name == "ts").get
    assert(ts.chunkIndex == 4 && ts.gzip)
    val got = Hdf5.readVariable(spark, f.getPath, "ts").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toMap
    // chunk 5 (index 10) is unallocated -> absent; others exact
    assert(got == (0 until 10).map(i => i -> i * 1.5).toMap)
  }

  test("unlimited dims: v2 B-tree index, depths 0 and 1, scaled offsets") {
    val f = h5File("graft_ul_")
    writeUnlimited(f.getPath)
    val grid = Hdf5.readVariable(spark, f.getPath, "grid").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(grid == (for (r <- 0 until 3; c <- 0 until 4)
      yield (r, c) -> (10.0 * r + c)).toMap)
    val deep = Hdf5.readVariable(spark, f.getPath, "deep").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    assert(deep == (for (r <- 0 until 2; c <- 0 until 12)
      yield (r, c) -> (100.0 * r + c)).toMap)
  }

  test("latest format: superblock v3, OHDR links, fixed-array + implicit chunks") {
    val f = h5File("graft_latest")
    writeLatest(f.getPath)
    val meta = Hdf5.readMeta(f.getPath).sortBy(_.name)
    assert(meta.map(_.name) == Seq("temp", "x", "y"))
    val temp = meta.head
    assert(temp.dims == Seq(2L, 3L) && temp.layoutClass == 2 && temp.gzip)
    assert(temp.shuffled) // value asserts below pin the unshuffle itself
    assert(temp.chunkIndex == 3 && temp.chunkDims == Seq(1L, 2L, 8L))
    assert(temp.attrs == Map("_FillValue" -> -999.0, "scale_factor" -> 0.5))
    val chunks = Hdf5.chunkTable(f.getPath, temp)
    assert(chunks.length == 4 && chunks.map(_.offsets).toSet ==
      Set(Seq(0L, 0L), Seq(0L, 2L), Seq(1L, 0L), Seq(1L, 2L)))
    // identical logical content to the v0 file: CF-unpacked values match
    val rows = Hdf5.readVariable(spark, f.getPath, "temp").orderBy("i0", "i1").collect()
    assert(rows.map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2))).toSeq ==
      Seq(Some(0.5), Some(1.0), Some(1.5), Some(2.0), Some(2.5), None))
    // v4 contiguous
    val x = Hdf5.readVariable(spark, f.getPath, "x").orderBy("i0").collect()
    assert(x.map(_.getDouble(1)).toSeq == Seq(10.0, 20.0, 30.0))
    // implicit chunk index: grid addresses are pure offset math; the
    // edge-chunk padding element is dropped by the dataspace bound
    val y = Hdf5.readVariable(spark, f.getPath, "y").orderBy("i0").collect()
    assert(y.map(_.getDouble(1)).toSeq == Seq(1.0, 2.0, 3.0, 4.0, 5.0))
  }

  // ------- dense (fractal-heap) groups: the "latest" storage past ~8 links -------

  /** A "latest" file whose root group is DENSE: link bodies are managed
    * objects in a fractal heap (FRHP; single root direct block, or a
    * root indirect block over a doubling table of direct blocks once one
    * fills), indexed by a name v2 B-tree (type-5 records {hash, heap
    * ID}; depth 0, or depth 1 past one leaf's capacity). `n` contiguous
    * double[2] datasets v000..; geometry mirrors the library defaults
    * scaled down: width 4, 512-byte starting blocks, 64 KiB max direct,
    * 32-bit heap offsets, 7-byte heap IDs. */
  private def writeDenseN(path: String, n: Int): Unit =
    writeDenseTree(path, n, maxDirect = 65536, nameLen = 4, filtered = false)

  /** Generalized dense-group writer behind [[writeDenseN]]: a small
    * `maxDirect` pushes the doubling table into indirect ROWS whose
    * entries are NESTED indirect blocks (a child in row r spans that
    * row's block size and has r−log2(width) rows of its own), padded
    * link names fill heap space with few B-tree records, and `filtered`
    * stores every direct block deflated — per-block stored sizes ride
    * the indirect-block entries, or the FRHP header when the root is
    * the lone direct block. Dataset i holds double[2] = [i, i+0.5]. */
  private def writeDenseTree(path: String, n: Int, maxDirect: Int,
                             nameLen: Int, filtered: Boolean,
                             checksummed: Boolean = true): Unit = {
    def deflateFull(raw: Array[Byte]): Array[Byte] = {
      val d = new Deflater()
      d.setInput(raw); d.finish()
      val out = new ByteArrayOutputStream()
      val tmp = new Array[Byte](4096)
      while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
      d.end(); out.toByteArray
    }

    // ---- heap geometry (library defaults, scaled-down start size)
    val width = 4; val logW = 2; val startSize = 512
    // sig+ver+heapHdr+4B offset (+ embedded checksum when flag bit 1 set —
    // the library default; computed over the whole image, field zeroed)
    val fhdbHdr = 17 + (if (checksummed) 4 else 0)
    val mdr = (63 - java.lang.Long.numberOfLeadingZeros(maxDirect.toLong)) - 9 + 2
    def rowSize(row: Int): Int = if (row < 2) startSize else startSize << (row - 1)

    val names = (0 until n).map(i => ("v%03d".format(i) + "x" * nameLen).take(nameLen))
    val bodySize = 3 + nameLen + 8

    // ---- pack bodies into direct blocks along the pre-order heap walk
    // (root rows ascending; an indirect row's entries each recurse into
    // a child's own rows — heap offsets stay contiguous in this order)
    def subSizes(nrows: Int): Iterator[Int] =
      (0 until nrows).iterator.flatMap { row =>
        if (row < mdr) Iterator.fill(width)(rowSize(row))
        else Iterator.range(0, width).flatMap(_ => subSizes(row - logW))
      }
    val heapWalk: Iterator[Int] = Iterator.from(0).flatMap { row =>
      if (row < mdr) Iterator.fill(width)(rowSize(row))
      else Iterator.range(0, width).flatMap(_ => subSizes(row - logW))
    }
    val blkSizes = scala.collection.mutable.ArrayBuffer[Int](heapWalk.next())
    var off = fhdbHdr
    val placed = (0 until n).map { _ =>
      if (off + bodySize > blkSizes.last) { blkSizes += heapWalk.next(); off = fhdbHdr }
      val p = (blkSizes.length - 1, off); off += bodySize; p
    }
    val nBlocks = blkSizes.length
    val blockHeapOff = blkSizes.scanLeft(0L)(_ + _)

    // ---- block tree: direct blocks assigned pre-order, matching the walk
    sealed trait Node
    final case class DN(b: Int) extends Node
    final class IN(val nrows: Int, val entries: Vector[Option[Node]]) extends Node
    var nextB = 0
    def mkEntry(row: Int): Option[Node] =
      if (nextB >= nBlocks) None
      else if (row < mdr) {
        assert(blkSizes(nextB) == rowSize(row), s"slot/pack drift at block $nextB")
        val d = DN(nextB); nextB += 1; Some(d)
      } else Some(mkI(row - logW))
    def mkI(nrows: Int): IN =
      new IN(nrows, (for (row <- 0 until nrows; _ <- 0 until width) yield mkEntry(row)).toVector)
    val root: Option[IN] =
      if (nBlocks == 1) None
      else {
        val es = Vector.newBuilder[Option[Node]]
        var row = 0
        while (nextB < nBlocks) { (0 until width).foreach(_ => es += mkEntry(row)); row += 1 }
        Some(new IN(row, es.result()))
      }
    val curRows = root.map(_.nrows).getOrElse(0)

    // pre-order FHIB list with heap-space base offsets
    val fhibs = scala.collection.mutable.ArrayBuffer.empty[(IN, Long)]
    def collectI(nd: IN, base: Long): Unit = {
      fhibs += ((nd, base))
      var ho = base; var i = 0
      (0 until nd.nrows).foreach { row =>
        (0 until width).foreach { _ =>
          nd.entries(i) match { case Some(ch: IN) => collectI(ch, ho); case _ => () }
          ho += rowSize(row); i += 1
        }
      }
    }
    root.foreach(collectI(_, 0L))

    // ---- addresses: every part before the FHDBs has a content-free size,
    // so deflated block sizes (which need frhpA/ohA in their plaintext)
    // resolve in one forward pass — no fix-point
    val sbSize = SuperblockSize; val dataSize = 16
    def ohPart(dataAddr: Long) = dataset(dataspace(2L), float64, contiguous(dataAddr, 16L))
    val ohPartSize = ohPart(0L).length
    val dataA = (0 until n).map(i => sbSize + i.toLong * dataSize)
    val ohA = (0 until n).map(i => sbSize + n.toLong * dataSize + i.toLong * ohPartSize)
    val frhpA = sbSize + n.toLong * (dataSize + ohPartSize)
    val filterMsg: Array[Byte] = // deflate, aggression level 6
      if (!filtered) Array.empty[Byte] else filters(1 -> Seq(6))
    val frhpSize = 146 + (if (filtered) (if (nBlocks == 1) 12 else 0) + filterMsg.length else 0)
    def fhibSize(nd: IN): Int =
      17 + (0 until nd.nrows).map(r =>
        width * (if (r < mdr) 8 + (if (filtered) 12 else 0) else 8)).sum + 4
    val fhibAddrs = fhibs.map { case (nd, _) => fhibSize(nd).toLong }
      .scanLeft(frhpA + frhpSize)(_ + _)
    def fhibAddrOf(nd: IN): Long = fhibAddrs(fhibs.indexWhere(_._1 eq nd))

    val fhdbPlain = (0 until nBlocks).map { b =>
      val bb = buf(blkSizes(b))
      bb.put(ascii("FHDB")).put(0.toByte).putLong(frhpA)
        .putInt(blockHeapOff(b).toInt)
      placed.zipWithIndex.foreach { case ((pb, po), i) =>
        if (pb == b) { bb.position(po); bb.put(link(names(i), ohA(i))) }
      }
      val img = bb.array()
      if (checksummed) ckAt(img, 17, img.length) // field is zero while hashing
      img
    }
    val fhdbStored = if (filtered) fhdbPlain.map(deflateFull) else fhdbPlain
    val fhdbAddrs = fhdbStored.map(_.length.toLong).scanLeft(fhibAddrs.last)(_ + _)

    // ---- name-index v2 B-tree shape: 512-byte nodes, 11-byte records
    val leafCap = (512 - 10) / 11 // 45
    val recIdx = names.indices
    val (leafIdx, sepIdx): (Seq[Seq[Int]], Seq[Int]) =
      if (n <= leafCap) (Seq(recIdx), Nil)
      else {
        val ls = scala.collection.mutable.Buffer.empty[Seq[Int]]
        val ss = scala.collection.mutable.Buffer.empty[Int]
        var rem = recIdx: Seq[Int]
        while (rem.nonEmpty) {
          val take = math.min(30, rem.length)
          ls += rem.take(take); rem = rem.drop(take)
          if (rem.nonEmpty) { ss += rem.head; rem = rem.tail }
        }
        if (ls.length == ss.length) ls += Seq.empty // separator count = children - 1
        (ls.toSeq, ss.toSeq)
      }
    val depth = if (sepIdx.isEmpty) 0 else 1
    // 7-byte managed heap IDs: flags, 32-bit heap offset, 16-bit length
    val heapIds: Seq[Array[Byte]] = placed.map { case (b, o) =>
      buf(7).put(0.toByte).putInt((blockHeapOff(b) + o).toInt).putShort(bodySize.toShort).array()
    }
    val leafAddrs = leafIdx.map(idxs => (6 + 11 * idxs.length + 4).toLong)
      .scanLeft(fhdbAddrs.last)(_ + _)
    val btinSize = if (depth == 0) 0 else 6 + 11 * sepIdx.length + leafIdx.length * 9 + 4
    val btinA = leafAddrs.last
    val bthdA = btinA + btinSize
    val rootA = bthdA + 38

    // ---- assemble
    val dataParts = (0 until n).map(i => f64s(i * 1.0, i + 0.5))
    val ohParts = (0 until n).map(i => ohPart(dataA(i)))
    val frhpPart = {
      val bb = buf(frhpSize)
      bb.put(ascii("FRHP")).put(0.toByte)
        .putShort(7).putShort(filterMsg.length.toShort)
        .put((if (checksummed) 2 else 0).toByte).putInt(4096) // idLen, filters, flags, maxManSize
        .putLong(0L).putLong(-1L)   // next huge id, huge B-tree
        .putLong(0L).putLong(-1L)   // free space, free-space manager
        .putLong(blockHeapOff(nBlocks)).putLong(blockHeapOff(nBlocks)) // managed, allocated
        .putLong(blockHeapOff(nBlocks)).putLong(n.toLong) // iterator offset, managed count
        .putLong(0L).putLong(0L).putLong(0L).putLong(0L) // huge/tiny sizes+counts
        .putShort(width.toShort).putLong(startSize.toLong).putLong(maxDirect.toLong)
        .putShort(32).putShort(4) // max heap bits, starting rows
        .putLong(if (curRows == 0) fhdbAddrs(0) else fhibAddrs(0)).putShort(curRows.toShort)
      if (filtered && nBlocks == 1) { bb.putLong(fhdbStored(0).length.toLong); bb.putInt(0) }
      if (filtered) bb.put(filterMsg)
      ck(bb.putInt(0).array()) // checksum
    }
    val fhibParts = fhibs.map { case (nd, base) =>
      val bb = buf(fhibSize(nd))
      bb.put(ascii("FHIB")).put(0.toByte).putLong(frhpA).putInt(base.toInt)
      var i = 0
      (0 until nd.nrows).foreach { row =>
        (0 until width).foreach { _ =>
          nd.entries(i) match {
            case Some(DN(b)) =>
              bb.putLong(fhdbAddrs(b))
              if (filtered) { bb.putLong(fhdbStored(b).length.toLong); bb.putInt(0) }
            case Some(ch: IN) => bb.putLong(fhibAddrOf(ch))
            case None =>
              bb.putLong(-1L)
              if (filtered && row < mdr) { bb.putLong(0L); bb.putInt(0) }
          }
          i += 1
        }
      }
      ck(bb.putInt(0).array()) // checksum
    }
    def rec(bb: ByteBuffer, i: Int): Unit = {
      bb.putInt(i * 0x61C88647) // stand-in for the Jenkins name hash (skipped on read)
      bb.put(heapIds(i))
    }
    val leafParts = leafIdx.map { idxs =>
      val bb = buf(6 + 11 * idxs.length + 4)
      bb.put(ascii("BTLF")).put(0.toByte).put(5.toByte)
      idxs.foreach(rec(bb, _)); ck(bb.putInt(0).array())
    }
    val btinPart =
      if (depth == 0) Array.empty[Byte]
      else {
        val bb = buf(btinSize)
        bb.put(ascii("BTIN")).put(0.toByte).put(5.toByte)
        sepIdx.foreach(rec(bb, _))
        leafIdx.zipWithIndex.foreach { case (idxs, li) =>
          bb.putLong(leafAddrs(li)).put(idxs.length.toByte) // nrec width 1 (cap 45)
        }
        ck(bb.putInt(0).array())
      }
    val bthdPart = {
      val bb = buf(38)
      bb.put(ascii("BTHD")).put(0.toByte).put(5.toByte)
        .putInt(512).putShort(11)
        .putShort(depth.toShort).put(100.toByte).put(40.toByte)
        .putLong(if (depth == 0) leafAddrs(0) else btinA)
        .putShort((if (depth == 0) n else sepIdx.length).toShort)
        .putLong(n.toLong).putInt(0)
      ck(bb.array())
    }
    val rootPart = objectHeader( // link info: fractal heap + name index
      message(0x02, buf(18).put(0.toByte).put(0.toByte).putLong(frhpA).putLong(bthdA).array()))

    val parts = Seq(superblock(rootA, rootA + rootPart.length)) ++ dataParts ++ ohParts ++ Seq(frhpPart) ++
      fhibParts ++ fhdbStored ++ leafParts ++ Seq(btinPart, bthdPart, rootPart)
    assert(parts.map(_.length.toLong).sum == rootA + rootPart.length, "layout drift")
    writeAll(path, parts)
  }

  // ------- typed datasets: fixed strings, VLEN strings, compounds -------

  /** superblock-v3 file with three contiguous datasets:
    *  - `code`:    fixed string[4], size 4, null-padded
    *  - `names`:   VLEN string[3] whose descriptors point INTO one GCOL
    *    with out-of-index-order objects (resolution must go through the
    *    heap index, not file order)
    *  - `station`: compound[2] (id int32 @0, lat float64 @8,
    *    tag string8 @16, total 24 — v1 member encoding) */
  private def writeTyped(path: String): Unit = {
    val int32 = signed(4, 32)
    // one GCOL holding VLEN strings AND numeric/string sequence payloads
    val heapObjs: Seq[(Int, Array[Byte])] = Seq(
      1 -> ascii("b"), 2 -> ascii("alpha"), 3 -> ascii("gamma!"),
      4 -> i32s(1, 2, 3), 5 -> i32s(40, 50),
      6 -> f64s(0.5), 7 -> f64s(2.5, -1.25, 8.0),
      8 -> fixedStrings(6, "red", "blue!2"), 9 -> fixedStrings(6, "x"))
    val stationData = {
      val b = buf(48)
      def row(id: Int, lat: Double, tag: String): Unit = {
        b.putInt(id).putInt(0) // 4 bytes padding to offset 8
        b.putDouble(lat)
        val t = new Array[Byte](8); tag.getBytes("ASCII").copyToArray(t); b.put(t)
      }
      row(7, 1.5, "AB"); row(-3, -2.25, "ZQX")
      b.array()
    }
    assemble(path) { at =>
      val g = at("gcol")
      Seq("code" -> fixedStrings(4, "AB", "CDEF", "", "XY"),
        "gcol" -> globalHeap(heapObjs),
        "names" -> vlenRefs(g, (5, 2), (1, 1), (6, 3)),
        "station" -> stationData,
        "runs" -> vlenRefs(g, (3, 4), (0, 0), (2, 5)),  // [1,2,3], [], [40,50]
        "weights" -> vlenRefs(g, (1, 6), (3, 7)),        // [0.5], [2.5,-1.25,8.0]
        "tags" -> vlenRefs(g, (2, 8), (0, 0), (1, 9)),   // [red,blue!2], [], [x]
        "code.oh" -> dataset(dataspace(4L), fixedString(4), contiguous(at("code"), 16L)),
        "names.oh" -> dataset(dataspace(3L), vlenString, contiguous(at("names"), 48L)),
        "station.oh" -> dataset(dataspace(2L),
          compound(24, ("id", 0, int32), ("lat", 8, float64), ("tag", 16, fixedString(8))),
          contiguous(at("station"), 48L)),
        "runs.oh" -> dataset(dataspace(3L), vlenSequence(int32), contiguous(at("runs"), 48L)),
        "weights.oh" -> dataset(dataspace(2L), vlenSequence(float64),
          contiguous(at("weights"), 32L)),
        "tags.oh" -> dataset(dataspace(3L), vlenSequence(fixedString(6)),
          contiguous(at("tags"), 48L)),
        "root" -> group("code" -> at("code.oh"), "names" -> at("names.oh"),
          "station" -> at("station.oh"), "runs" -> at("runs.oh"),
          "weights" -> at("weights.oh"), "tags" -> at("tags.oh")))
    }
  }

  test("typed datasets: fixed strings, VLEN strings via GCOL, compounds") {
    val f = h5File("graft_typed_")
    writeTyped(f.getPath)
    val meta = Hdf5.readMeta(f.getPath).sortBy(_.name)
    assert(meta.map(_.name) ==
      Seq("code", "names", "runs", "station", "tags", "weights"))
    assert(meta.find(_.name == "names").get.vlenStr)
    val runsMeta = meta.find(_.name == "runs").get
    assert(!runsMeta.vlenStr &&
      runsMeta.vlenBase.map(b => (b.cls, b.size)) == Some((0, 4)))
    assert(meta.find(_.name == "weights").get
      .vlenBase.map(b => (b.cls, b.size)) == Some((1, 8)))
    val stn = meta.find(_.name == "station").get
    assert(stn.dtClass == 6 && stn.members.map(m => (m.name, m.offset, m.cls, m.size)) ==
      Seq(("id", 0, 0, 4), ("lat", 8, 1, 8), ("tag", 16, 3, 8)))
    val code = Hdf5.readStrings(spark, f.getPath, "code").orderBy("i0").collect()
    assert(code.map(_.getString(1)).toSeq == Seq("AB", "CDEF", "", "XY"))
    val names = Hdf5.readStrings(spark, f.getPath, "names").orderBy("i0").collect()
    assert(names.map(_.getString(1)).toSeq == Seq("alpha", "b", "gamma!"))
    val rows = Hdf5.readCompound(spark, f.getPath, "station").orderBy("i0").collect()
    assert(rows.map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSeq ==
      Seq((0, 7L, 1.5, "AB"), (1, -3L, -2.25, "ZQX")))
    // VLEN numeric sequences: int32 -> ARRAY<LONG> (with a null-descriptor
    // empty cell), float64 -> ARRAY<DOUBLE>, both through the shared GCOL
    val runs = Hdf5.readVlen(spark, f.getPath, "runs").orderBy("i0").collect()
    assert(runs.map(_.getSeq[Long](1).toList).toList ==
      List(List(1L, 2L, 3L), Nil, List(40L, 50L)))
    val wts = Hdf5.readVlen(spark, f.getPath, "weights").orderBy("i0").collect()
    assert(wts.map(_.getSeq[Double](1).toList).toList ==
      List(List(0.5), List(2.5, -1.25, 8.0)))
    // VLEN over a FIXED-STRING base -> ARRAY<STRING>, padding stripped
    val tags = Hdf5.readVlen(spark, f.getPath, "tags").orderBy("i0").collect()
    assert(tags.map(_.getSeq[String](1).toList).toList ==
      List(List("red", "blue!2"), Nil, List("x")))
    // numeric read of a string dataset fails loudly, not garbage
    intercept[Exception] { Hdf5.readStrings(spark, f.getPath, "nope") }
    // a VLEN STRING dataset through the sequence reader fails loudly too
    intercept[Exception] { Hdf5.readVlen(spark, f.getPath, "names") }
    f.delete()
  }

  test("dense groups: fractal-heap links via the name-index v2 B-tree") {
    // 1/9/45: root direct block, depth-0 name index (45 = one full leaf);
    // 46: depth-1 index; 300: doubling-table indirect block (3 rows, one
    // 1024-byte block, 3 unallocated tail entries) + multi-leaf index
    for (n <- Seq(1, 9, 45, 46, 300)) {
      val f = h5File(s"graft_dense${n}_")
      writeDenseN(f.getPath, n)
      val meta = Hdf5.readMeta(f.getPath)
      assert(meta.map(_.name).sorted == (0 until n).map(i => f"v$i%03d"), s"n=$n")
      for (i <- Seq(0, n / 2, n - 1).distinct) {
        val rows = Hdf5.readVariable(spark, f.getPath, f"v$i%03d").orderBy("i0").collect()
        assert(rows.map(_.getDouble(1)).toSeq == Seq(i * 1.0, i + 0.5), s"n=$n v=$i")
      }
      f.delete()
    }
  }

  test("dense groups: nested fractal-heap indirect blocks (depth 2)") {
    // maxDirect 1024 caps direct rows at 3; 211-byte link bodies push 300
    // links past root rows 0-5 (256 bodies) into row 6, whose child has
    // 4 rows > maxDirectRows — its own row 3 holds GRANDchild indirect
    // blocks: root FHIB -> child FHIB -> grandchild FHIB -> FHDB.
    val f = h5File("graft_dense_nested_")
    writeDenseTree(f.getPath, 300, maxDirect = 1024, nameLen = 200, filtered = false)
    val meta = Hdf5.readMeta(f.getPath)
    assert(meta.length == 300)
    assert(meta.map(_.name).sorted == (0 until 300)
      .map(i => ("v%03d".format(i) + "x" * 200).take(200)).sorted)
    for (i <- Seq(0, 150, 256, 299)) { // 256+ live under the nested rows
      val nm = ("v%03d".format(i) + "x" * 200).take(200)
      val rows = Hdf5.readVariable(spark, f.getPath, nm).orderBy("i0").collect()
      assert(rows.map(_.getDouble(1)).toSeq == Seq(i * 1.0, i + 0.5), s"v=$i")
    }
    f.delete()
  }

  test("dense groups: filtered fractal heap, root direct block") {
    // one deflated direct block: its stored size + filter mask live in
    // the FRHP header (no indirect entry to carry them)
    val f = h5File("graft_dense_filt1_")
    writeDenseTree(f.getPath, 5, maxDirect = 65536, nameLen = 4, filtered = true)
    val meta = Hdf5.readMeta(f.getPath)
    assert(meta.map(_.name).sorted == (0 until 5).map(i => f"v$i%03d"))
    for (i <- 0 until 5) {
      val rows = Hdf5.readVariable(spark, f.getPath, f"v$i%03d").orderBy("i0").collect()
      assert(rows.map(_.getDouble(1)).toSeq == Seq(i * 1.0, i + 0.5), s"v=$i")
    }
    f.delete()
  }

  test("dense groups: filtered fractal heap across indirect-block entries") {
    // several deflated direct blocks: per-block stored sizes + masks ride
    // the root indirect block's direct entries
    val f = h5File("graft_dense_filtN_")
    writeDenseTree(f.getPath, 300, maxDirect = 65536, nameLen = 4, filtered = true)
    val meta = Hdf5.readMeta(f.getPath)
    assert(meta.map(_.name).sorted == (0 until 300).map(i => f"v$i%03d"))
    for (i <- Seq(0, 150, 299)) {
      val rows = Hdf5.readVariable(spark, f.getPath, f"v$i%03d").orderBy("i0").collect()
      assert(rows.map(_.getDouble(1)).toSeq == Seq(i * 1.0, i + 0.5), s"v=$i")
    }
    f.delete()
  }

  test("dense groups: filtered AND nested fractal heap") {
    val f = h5File("graft_dense_filtnest_")
    writeDenseTree(f.getPath, 300, maxDirect = 1024, nameLen = 200, filtered = true)
    val meta = Hdf5.readMeta(f.getPath)
    assert(meta.length == 300)
    for (i <- Seq(0, 256, 299)) {
      val nm = ("v%03d".format(i) + "x" * 200).take(200)
      val rows = Hdf5.readVariable(spark, f.getPath, nm).orderBy("i0").collect()
      assert(rows.map(_.getDouble(1)).toSeq == Seq(i * 1.0, i + 0.5), s"v=$i")
    }
    f.delete()
  }

  // ------- metadata checksums (Jenkins lookup3) -------

  test("lookup3 matches the published hashlittle self-test vectors") {
    // vectors from the public-domain lookup3.c driver comments
    def h(s: String, init: Int) = Hdf5.lookup3(s.getBytes("ASCII"), 0, s.length, init)
    assert(h("", 0) == 0xdeadbeef)
    assert(h("", 0xdeadbeef) == 0xbd5b7dde)
    assert(h("Four score and seven years ago", 0) == 0x17770551)
    assert(h("Four score and seven years ago", 1) == 0xcd628161)
  }

  test("dense groups: unchecksummed direct blocks (heap flags 0) still read") {
    val f = h5File("graft_dense_nock_")
    writeDenseTree(f.getPath, 20, maxDirect = 65536, nameLen = 4,
      filtered = false, checksummed = false)
    val meta = Hdf5.readMeta(f.getPath)
    assert(meta.map(_.name).sorted == (0 until 20).map(i => f"v$i%03d"))
    val rows = Hdf5.readVariable(spark, f.getPath, "v007").orderBy("i0").collect()
    assert(rows.map(_.getDouble(1)).toSeq == Seq(7.0, 7.5))
    f.delete()
  }

  test("metadata corruption is a loud checksum error, not a misread") {
    // flip one byte inside the root OHDR's message region — the chunk-0
    // checksum must catch it before any link is followed
    val f = h5File("graft_meta_corrupt_")
    writeLatest(f.getPath)
    val clean = java.nio.file.Files.readAllBytes(f.toPath)
    // locate the LAST "OHDR" signature (the root group header)
    val sig = "OHDR".getBytes("ASCII")
    val at = clean.length - 4 to 0 by -1
    val rootAt = at.find(i => i + 4 <= clean.length &&
      clean.slice(i, i + 4).sameElements(sig)).get
    clean(rootAt + 10) = (clean(rootAt + 10) ^ 0x01).toByte
    java.nio.file.Files.write(f.toPath, clean)
    val e = intercept[java.io.IOException](Hdf5.readMeta(f.getPath))
    assert(e.getMessage.contains("checksum mismatch"), e.getMessage)
    f.delete()
  }

  test("compound datasets: nested compound and array members decode recursively") {
    val f = h5File("graft_nested_cmp_")
    graft.sources.Hdf5Planted.write(f.getPath)
    val df = Hdf5.readCompound(spark, f.getPath, "track")
    assert(df.schema("pos").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    assert(df.schema("v").dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
    val rows = df.orderBy("i0").collect()
    assert(rows.length == 6)
    for (t <- 0 until 6) {
      val r = rows(t)
      assert(r.getLong(1) == 3 * t + 2, s"id at t=$t")
      val pos = r.getStruct(2)
      assert(pos.getDouble(0) == t * 1.5 && pos.getDouble(1) == 10.0 - t, s"pos at t=$t")
      assert(r.getSeq[Double](3) == Seq.tabulate(3)(k => t + 0.125 * k), s"v at t=$t")
    }
    f.delete()
  }

  test("corrupted superblock checksum is rejected") {
    val f = h5File("graft_sb_corrupt_")
    writeLatest(f.getPath)
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    bytes(20) = (bytes(20) ^ 0x40).toByte // inside the v3 superblock body
    java.nio.file.Files.write(f.toPath, bytes)
    val e = intercept[java.io.IOException](Hdf5.readMeta(f.getPath))
    assert(e.getMessage.contains("superblock metadata checksum"), e.getMessage)
    f.delete()
  }

  test("planted files keep their bytes: SHA-256 per writer") {
    // `Shared.fixtureStore` reuses an existing store by name across JVMs,
    // so a writer change that alters these bytes must also rename the
    // store its query reads, or a stale file keeps being served.
    val pinned = Seq[(String => Unit, String)](
      (graft.sources.Hdf5Planted.write,
        "94d45e48969669e00f8f09446ecbce34913e65a961c86e2d020d05e5ca4279aa"),
      (graft.sources.Hdf5PlantedNbit.write,
        "035ebb9f165175215193ac2324f3e3326fad57afb7e831c9c705cabfbfeb007a"),
      (graft.sources.Hdf5PlantedSzip.write,
        "f01695ef520a9794976a259e8d5aa143cf96ba3f0ae0488d9e841b7c4f9f93a4"),
      (graft.sources.Hdf5PlantedScaleoffset.write,
        "6614873548698290af468f5c8c998dabf89fc6b2612fbd9336295169021e64ad"),
      (graft.sources.Hdf5PlantedNestedVlen.write,
        "25b0e05f0c64855196f15be850150d43b34bf39526d9cb6332a74c80fdd8edf6"))
    val dir = tmpDir("graft_planted_sha").toPath
    for (((write, sha), i) <- pinned.zipWithIndex) {
      val f = dir.resolve(s"planted$i.h5")
      write(f.toString)
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(java.nio.file.Files.readAllBytes(f))
      assert(digest.map("%02x".format(_)).mkString == sha, s"planted writer $i")
      java.nio.file.Files.delete(f)
    }
    java.nio.file.Files.delete(dir)
  }

  test("nested VLEN bases: vlen-of-vlen-strings and vlen-of-vlen-int32") {
    val f = h5File("graft_nested_vlen_")
    graft.sources.Hdf5PlantedNestedVlen.write(f.getPath)
    val meta = Hdf5.readMeta(f.getPath)
    val lm = meta.find(_.name == "lists").get
    assert(lm.dtClass == 9 && !lm.vlenStr &&
      lm.vlenBase.exists(b => b.cls == 9 && b.children.head.cls == 3))
    // lists: ragged lists of vlen strings -> ARRAY<STRING>
    val lists = Hdf5.readVlen(spark, f.getPath, "lists").orderBy("i0").collect()
    assert(lists(0).getSeq[String](1) == Seq("aa", "b"))
    assert(lists(1).getSeq[String](1) == Nil) // empty outer cell
    assert(lists(2).getSeq[String](1) == Seq("cde", "", "f")) // empty inner string
    // mats: ragged lists of ragged int rows -> ARRAY<ARRAY<LONG>>
    val mats = Hdf5.readVlen(spark, f.getPath, "mats").orderBy("i0").collect()
    assert(mats(0).getSeq[Seq[Long]](1) == Seq(Seq(1L, 2L), Seq(3L)))
    assert(mats(1).getSeq[Seq[Long]](1) == Seq(Nil, Seq(-7L, 8L, 9L)))
    f.delete()
  }

  // ------- the cell walk: compact and contiguous layouts, dataset lookup -------

  /** Compact layout (class 0), version 4: the raw data sits in the
    * layout message itself. */
  private def compact(data: Array[Byte]): Array[Byte] =
    message(0x08, cat(buf(4).put(4.toByte).put(0.toByte)
      .putShort(data.length.toShort).array(), data))

  test("compact layout (class 0): float64 and fixed strings read in place") {
    val f = h5File("graft_compact_")
    assemble(f.getPath) { at =>
      Seq("v.oh" -> dataset(dataspace(2L, 3L), float64,
          compact(f64s(0.5, 1.5, 2.5, 3.5, 4.5, 5.5))),
        "s.oh" -> dataset(dataspace(3L), fixedString(5),
          compact(fixedStrings(5, "ab", "cdefg", ""))),
        "root" -> group("v" -> at("v.oh"), "s" -> at("s.oh")))
    }
    assert(Hdf5.readMeta(f.getPath).map(_.layoutClass) == Seq(0, 0))
    val v = Hdf5.readVariable(spark, f.getPath, "v").orderBy("i0", "i1").collect()
    assert(v.map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSeq ==
      (for (i <- 0 until 2; j <- 0 until 3) yield (i, j, 3 * i + j + 0.5)))
    val s = Hdf5.readStrings(spark, f.getPath, "s").orderBy("i0").collect()
    assert(s.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((0, "ab"), (1, "cdefg"), (2, "")))
  }

  test("contiguous float64 and compound data stream across partitions and 8 KiB windows") {
    // 200x200 float64 (320 KB) and 10,000 24-byte compounds (240 KB): each
    // of the 8 range partitions at local[4] spans more than three windows
    val (nr, nc, n) = (200, 200, 10000)
    def v(r: Int, c: Int): Double = r * 1000.0 + c * 0.5
    def tag(i: Int): String = s"t${i % 97}"
    val recs = buf(24 * n)
    for (i <- 0 until n) {
      recs.putInt(3 * i - 7).putInt(0).putDouble(i * 0.125)
      val t = new Array[Byte](8); ascii(tag(i)).copyToArray(t); recs.put(t)
    }
    val f = h5File("graft_contig_")
    assemble(f.getPath) { at =>
      Seq("grid" -> f64s((for (r <- 0 until nr; c <- 0 until nc) yield v(r, c)): _*),
        "recs" -> recs.array(),
        "grid.oh" -> dataset(dataspace(nr.toLong, nc.toLong), float64,
          contiguous(at("grid"), 8L * nr * nc)),
        "recs.oh" -> dataset(dataspace(n.toLong),
          compound(24, ("id", 0, signed(4, 32)), ("x", 8, float64), ("tag", 16, fixedString(8))),
          contiguous(at("recs"), 24L * n)),
        "root" -> group("grid" -> at("grid.oh"), "recs" -> at("recs.oh")))
    }
    val grid = Hdf5.readVariable(spark, f.getPath, "grid")
    assert(grid.rdd.getNumPartitions > 1)
    val cells = grid.collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2)))
    assert(cells.length == nr * nc && cells.toMap ==
      (for (r <- 0 until nr; c <- 0 until nc) yield (r, c) -> v(r, c)).toMap)
    val cmp = Hdf5.readCompound(spark, f.getPath, "recs")
    assert(cmp.rdd.getNumPartitions > 1)
    assert(cmp.orderBy("i0").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSeq ==
      (0 until n).map(i => (i, 3L * i - 7, i * 0.125, tag(i))))
  }

  test("every reader rejects a missing name alike, listing the datasets present") {
    val f = h5File("graft_missing_")
    writeSample(f.getPath)
    val readers = Seq[(SparkSession, String, String) => Any](Hdf5.readVariable,
      Hdf5.readStrings, Hdf5.readVlen, Hdf5.readCompound, Hdf5.readTimeCoordinate)
    for (read <- readers) {
      val e = intercept[NoSuchElementException](read(spark, f.getPath, "nope"))
      assert(e.getMessage.contains("'nope'") && e.getMessage.contains("have: temp, x"),
        e.getMessage)
    }
  }
}
