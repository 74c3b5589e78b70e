package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.{DataInputStream, EOFException, RandomAccessFile}

/** NetCDF classic-format (CDF-1 / CDF-2) reader + Parquet-lake converter —
  * the ingestion utility SURVEY §2.6 promises (the reference's I/O surface
  * is xarray's NetCDF open, `cli.py:54-88`; Spark has no NetCDF connector).
  *
  * Format parsed from the public NetCDF classic specification: header =
  * `magic numrecs dim_list gatt_list var_list`; fixed-size variable data at
  * `begin`; record variables interleaved per record at
  * `begin + rec * recsize`.
  *
  * Scale design: the header is tiny and driver-parsed once; every value's
  * byte offset is then a pure function of its indices, so record ranges are
  * handed to executors (`spark.range(numrecs)` → `mapPartitions`, each task
  * seeking directly to its slice on a shared filesystem). No driver-side
  * materialisation of data, no scan of the whole file by one process —
  * ingestion parallelism is bounded only by the record count and the
  * filesystem, which is the right contract for a 100 TB lake backfill.
  * CDF-5's widened counts and extended integer types are
  * supported; HDF5-backed NetCDF-4 files are handled by [[Hdf5]].
  */
object NetCDF {

  final case class NcDim(name: String, length: Int) {
    def isRecord: Boolean = length == 0
  }
  final case class NcAttr(name: String, values: Any)
  final case class NcVar(name: String, dimIds: Seq[Int], attrs: Seq[NcAttr],
                         ncType: Int, vsize: Long, begin: Long) {
    def isRecord(dims: Seq[NcDim]): Boolean =
      dimIds.headOption.exists(dims(_).isRecord)
  }
  final case class NcHeader(version: Int, numRecs: Int, dims: Seq[NcDim],
                            gattrs: Seq[NcAttr], vars: Seq[NcVar]) {
    /** Bytes of one record slab (sum of record-var vsizes; a single record
      * variable is NOT padded per the spec's special case — vsize already
      * carries the padding in the multi-var case). */
    lazy val recSize: Long = vars.filter(_.isRecord(dims)).map(_.vsize).sum
    def variable(name: String): NcVar = vars.find(_.name == name)
      .getOrElse(throw new NoSuchElementException(
        s"no variable '$name'; have: ${vars.map(_.name).mkString(", ")}"))
  }

  private val TypeSizes = Map(1 -> 1, 2 -> 1, 3 -> 2, 4 -> 4, 5 -> 4, 6 -> 8,
    // CDF-5 extended types: ubyte, ushort, uint, int64, uint64
    7 -> 1, 8 -> 2, 9 -> 4, 10 -> 8, 11 -> 8)

  /** Parse the header (driver-side, reads only the header bytes). */
  def readHeader(path: String): NcHeader = {
    val in = new DataInputStream(new java.io.BufferedInputStream(
      FsIo.fs(FsIo.driverConf(), path).open(new org.apache.hadoop.fs.Path(path))))
    try {
      val magic = Array.fill(4)(in.readByte())
      require(magic(0) == 'C' && magic(1) == 'D' && magic(2) == 'F',
        s"$path is not a NetCDF classic file")
      val version = magic(3).toInt
      require(version == 1 || version == 2 || version == 5,
        s"unsupported NetCDF variant $version (CDF-1/2/5 only)")
      // CDF-5 widens every count/length field to 64 bits
      def readSize(): Long = if (version == 5) in.readLong() else in.readInt().toLong
      val numRecs = readSize().toInt

      def readName(): String = {
        val n = readSize().toInt
        val bytes = Array.fill(n)(in.readByte())
        val pad = (4 - n % 4) % 4
        (0 until pad).foreach(_ => in.readByte())
        new String(bytes, "UTF-8")
      }
      def readAttrValues(ncType: Int, n: Int): Any = {
        val v: Any = ncType match {
          case 1 | 7  => Array.fill(n)(in.readByte())
          case 2      => new String(Array.fill(n)(in.readByte()), "UTF-8")
          case 3 | 8  => Array.fill(n)(in.readShort())
          case 4 | 9  => Array.fill(n)(in.readInt())
          case 5      => Array.fill(n)(in.readFloat())
          case 6      => Array.fill(n)(in.readDouble())
          case 10 | 11 => Array.fill(n)(in.readLong())
        }
        val pad = (4 - (n * TypeSizes(ncType)) % 4) % 4
        (0 until pad).foreach(_ => in.readByte())
        v
      }
      def readAttrList(): Seq[NcAttr] = {
        val tag = in.readInt(); val n = readSize().toInt
        require(tag == 0x0C || (tag == 0 && n == 0), s"bad att_list tag $tag")
        (0 until n).map { _ =>
          val name = readName()
          val t = in.readInt(); val cnt = readSize().toInt
          NcAttr(name, readAttrValues(t, cnt))
        }
      }

      val dimTag = in.readInt(); val nDims = readSize().toInt
      require(dimTag == 0x0A || (dimTag == 0 && nDims == 0), s"bad dim_list tag $dimTag")
      val dims = (0 until nDims).map(_ => NcDim(readName(), readSize().toInt))
      val gattrs = readAttrList()
      val varTag = in.readInt(); val nVars = readSize().toInt
      require(varTag == 0x0B || (varTag == 0 && nVars == 0), s"bad var_list tag $varTag")
      val vars = (0 until nVars).map { _ =>
        val name = readName()
        val nd = readSize().toInt
        val dimIds = (0 until nd).map(_ => in.readInt())
        val attrs = readAttrList()
        val ncType = in.readInt()
        val vsize = if (version == 5) in.readLong() else in.readInt().toLong & 0xFFFFFFFFL
        val begin = if (version == 1) in.readInt().toLong & 0xFFFFFFFFL else in.readLong()
        NcVar(name, dimIds, attrs, ncType, vsize, begin)
      }
      NcHeader(version, numRecs, dims, gattrs, vars)
    } finally in.close()
  }

  private def readValue(raf: FsIo.SeekableData, ncType: Int): Double = ncType match {
    case 1 => raf.readByte().toDouble
    case 2 => raf.readByte().toDouble // char read numerically
    case 3 => raf.readShort().toDouble
    case 4 => raf.readInt().toDouble
    case 5 => raf.readFloat().toDouble
    case 6 => raf.readDouble()
    case 7 => (raf.readByte() & 0xFF).toDouble        // CDF-5 ubyte
    case 8 => (raf.readShort() & 0xFFFF).toDouble     // ushort
    case 9 => (raf.readInt().toLong & 0xFFFFFFFFL).toDouble // uint
    case 10 => raf.readLong().toDouble                // int64
    case 11 => raf.readLong().toDouble                // uint64 (< 2^63 assumed)
  }

  /** A CF-ENCODED time coordinate variable (`units` "<step> since
    * <epoch>" + optional `calendar` NC_CHAR attrs — the netCDF-classic
    * time encoding) decoded through [[CfTime.decode]]: TIMESTAMP for
    * standard calendars, (year, doy, us_of_day) companion columns for
    * noleap/all_leap/360_day. The Zarr twin is
    * [[Zarr.readTimeCoordinate]]. */
  def readTimeCoordinate(spark: SparkSession, path: String, varName: String): DataFrame = {
    val v = readHeader(path).variable(varName)
    val units = v.attrs.collectFirst { case NcAttr("units", s: String) => s }
      .getOrElse(throw new IllegalArgumentException(
        s"$varName: no 'units' attribute — not a CF time coordinate"))
    val calendar = v.attrs.collectFirst { case NcAttr("calendar", s: String) => s }
      .getOrElse("standard")
    CfTime.decode(readVariable(spark, path, varName), "value", units, calendar)
  }

  /** One variable as a long-format DataFrame: one INT index column per
    * dimension (named after the dimension) + `value` DOUBLE. Record
    * variables are read record-parallel across executors; fixed variables
    * are split on their leading dimension. `_FillValue`/`missing_value`
    * become NULLs, `scale_factor`/`add_offset` are applied (CF packing). */
  def readVariable(spark: SparkSession, path: String, varName: String): DataFrame = {
    val h = readHeader(path)
    val v = h.variable(varName)
    val dims = v.dimIds.map(h.dims)
    val record = v.isRecord(h.dims)
    val innerDims = if (record) dims.tail else dims
    val innerCount = innerDims.map(_.length.toLong).product max 1L
    val tsize = TypeSizes(v.ncType)
    val (outerN, strideBytes) =
      if (record) (h.numRecs.toLong, h.recSize)
      else (dims.headOption.map(_.length.toLong).getOrElse(1L),
        if (dims.isEmpty) 0L else dims.tail.map(_.length.toLong).product * tsize)
    val innerPerOuter = if (record) innerCount
      else if (dims.isEmpty) 1L else innerCount / dims.head.length
    val begin = v.begin; val ncType = v.ncType
    val dimNames = dims.map(_.name)
    val innerSizes = (if (record || dims.isEmpty) innerDims else dims.tail)
      .map(_.length.toLong).toArray

    val fill = v.attrs.collectFirst {
      case NcAttr("_FillValue" | "missing_value", arr: Array[_]) if arr.nonEmpty =>
        arr(0).toString.toDouble
    }
    val scale = v.attrs.collectFirst {
      case NcAttr("scale_factor", arr: Array[_]) if arr.nonEmpty => arr(0).toString.toDouble
    }.getOrElse(1.0)
    val offset = v.attrs.collectFirst {
      case NcAttr("add_offset", arr: Array[_]) if arr.nonEmpty => arr(0).toString.toDouble
    }.getOrElse(0.0)

    import spark.implicits._
    val snap = FsIo.snapshot(spark) // executor reads go through Hadoop FS
    val raw = spark.range(0, outerN)
      .mapPartitions { outers =>
        val raf = FsIo.openSeekable(snap.value, path)
        val it = outers.flatMap { outerBoxed =>
          val outer: Long = outerBoxed
          raf.seek(begin + outer * strideBytes)
          (0L until innerPerOuter).map { flat =>
            // unravel flat index into per-dim indices (row-major)
            var rem = flat; val idx = new Array[Long](innerSizes.length)
            var i = innerSizes.length - 1
            while (i >= 0) { idx(i) = rem % innerSizes(i); rem /= innerSizes(i); i -= 1 }
            (outer, idx, readValue(raf, ncType))
          }
        }
        new Iterator[(Long, Array[Long], Double)] {
          def hasNext: Boolean = { val h = it.hasNext; if (!h) raf.close(); h }
          def next(): (Long, Array[Long], Double) = it.next()
        }
      }
    val cols =
      if (dims.isEmpty) Seq(col("_3").as("value"))
      else col("_1").cast("int").as(dimNames.head) +:
        dimNames.tail.zipWithIndex.map { case (n, i) => col("_2")(i).cast("int").as(n) } :+
        col("_3").as("value")
    cfUnpack(raw.toDF().select(cols: _*), fill, scale, offset)
  }

  /** CF unpacking of a reader's `value` column, shared by the NetCDF,
    * HDF5 and Zarr readers: `fill` → NULL, then `scale`/`offset` as one
    * codegen'd projection on the scan output. */
  private[sources] def cfUnpack(df: DataFrame, fill: Option[Double], scale: Double,
                                offset: Double): DataFrame = fill match {
    case Some(f) => df.withColumn("value",
      when(col("value") === f, lit(null)).otherwise(col("value") * scale + offset))
    case None if scale != 1.0 || offset != 0.0 =>
      df.withColumn("value", col("value") * scale + offset)
    case None => df
  }

  /** Convert every non-coordinate data variable to a long-format Parquet
    * lake: `outDir/<var>/` with dimension-index columns joined to their
    * coordinate variable's values where one exists (CF convention: a 1-D
    * variable named after its dimension). The `time` coordinate stays
    * numeric + its `units` attr is stamped in column metadata — calendar
    * decode is `core.Calendars`' job, not the reader's. */
  def toParquetLake(spark: SparkSession, ncPath: String, outDir: String,
                    decodeTimes: Boolean = false): Seq[String] = {
    val h = readHeader(ncPath)
    val coordNames = h.dims.map(_.name).toSet
    val dataVars = h.vars.filter(v => !coordNames.contains(v.name))
    // a coordinate decodes as CF time iff asked to AND it carries the
    // "<step> since <epoch>" units attr (xarray's decode_cf behavior)
    def isCfTime(name: String): Boolean = decodeTimes &&
      h.vars.find(_.name == name).exists(_.attrs.exists {
        case NcAttr("units", s: String) => s.contains(" since ")
        case _                          => false
      })
    dataVars.map { v =>
      var df = readVariable(spark, ncPath, v.name)
      for (d <- v.dimIds.map(h.dims) if h.vars.exists(_.name == d.name)) {
        val coord =
          if (isCfTime(d.name)) {
            val t = readTimeCoordinate(spark, ncPath, d.name)
            // standard calendars emit `time`; fixed-length calendars emit
            // year/doy/us_of_day — suffix all of them as <dim>_coord*
            val idxCol = if (t.columns.contains(s"${d.name}_idx"))
              s"${d.name}_idx" else d.name
            t.select(col(idxCol).as(s"_${d.name}_idx") +:
              t.columns.filter(_ != idxCol).map(c =>
                col(c).as(s"${d.name}_coord_$c")): _*)
          } else readVariable(spark, ncPath, d.name)
            .select(col(d.name).as(s"_${d.name}_idx"),
              col("value").as(s"${d.name}_coord"))
        df = df.join(broadcast(coord), col(d.name) === col(s"_${d.name}_idx"))
          .drop(s"_${d.name}_idx")
      }
      df.write.mode("overwrite").parquet(s"$outDir/${v.name}")
      v.name
    }
  }

  // ------------------------------------------------------------------
  // Writer: the inverse of the reader — same header layout, same pure
  // offset functions (the reference CLI round-trips NetCDF→NetCDF,
  // cli.py:76-88; here the lake is the middle step).
  // ------------------------------------------------------------------

  /** One variable to write: `df` in the reader's long format — one INT
    * index column per dimension (named after the dim, 0-based, row-major)
    * plus a `value` DOUBLE column. */
  final case class WriteVar(name: String, dims: Seq[String], df: DataFrame,
                            attrs: Seq[NcAttr] = Nil)

  /** A CF-ENCODED time coordinate [[WriteVar]] — the NetCDF leg of the
    * CF time export half ([[Zarr.writeCfTime]] is the Zarr leg, reverse
    * of [[readTimeCoordinate]]): TIMESTAMP values encode to
    * `"<step> since <epoch>"` numerics via [[CfTime.encodeStandard]]
    * (exact integer step arithmetic; non-whole steps reject loudly) and
    * the `units` + `calendar` attributes ride the classic header, so
    * `--decode-times` (and xarray's `decode_cf`) round-trips the axis.
    * Fixed-length/julian calendars pre-encode through
    * [[CfTime.encodeNonStandard]] and pass LONG offsets here. Both
    * units and calendar validate up front — a typo'd calendar written
    * into the header would otherwise only fail at read time. */
  def cfTimeVar(dim: String, df: DataFrame, idxCol: String, valueCol: String,
                units: String, calendar: String = "standard"): WriteVar = {
    CfTime.parseUnits(units)
    CfTime.validateCalendar(calendar)
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val vt = df.schema.fields.find(_.name == valueCol).map(_.dataType)
      .getOrElse(throw new IllegalArgumentException(s"$dim: no column '$valueCol'"))
    val encoded = vt match {
      case TimestampType | TimestampNTZType =>
        require(CfTime.isStandardCalendar(calendar),
          s"TIMESTAMP values encode under standard calendars only — " +
            s"pre-encode '$calendar' companions via CfTime.encodeNonStandard")
        CfTime.encodeStandard(col(valueCol), units)
      case LongType =>
        // classic format has no int64 value type: offsets serialize as
        // NC_DOUBLE, exact only below 2^53. Beyond that (sub-second
        // units over long horizons) the cast would SILENTLY lose
        // precision while the Zarr leg (writeCfTime, <i8) stays exact —
        // fail loudly at write time instead (assert_true, the
        // fail-at-commit convention). Explicit two-sided bound, never
        // abs() (abs(Long.MinValue) wraps negative and would slip the
        // guard); NULL offsets pass per the coalesce-to-true convention
        // (Lake/CfTime guards) and serialize as the fill path does.
        when(assert_true(coalesce(
            col(valueCol) > lit(-(1L << 53)) &&
              col(valueCol) < lit(1L << 53), lit(true)),
            lit(s"$dim: pre-encoded offset exceeds 2^53 — not exactly " +
              "representable as the classic format's NC_DOUBLE; " +
              "re-encode with coarser units")).isNull,
          col(valueCol))
      case other => throw new IllegalArgumentException(
        s"$dim: value must be TIMESTAMP (encode here) or LONG " +
          s"(pre-encoded offsets), got $other")
    }
    WriteVar(dim, Seq(dim),
      df.select(col(idxCol).cast("int").as(dim),
        encoded.cast("double").as("value")),
      attrs = Seq(NcAttr("units", units), NcAttr("calendar", calendar)))
  }

  private def pad4(n: Long): Long = (n + 3) & ~3L

  /** Serialise a classic header (driver-side; CDF-1 when `version`=1,
    * CDF-2 when 2, CDF-5 when 5 — 64-bit counts everywhere, mirroring
    * [[readHeader]]'s `readSize`). Returns (headerBytes, begins, recSize).
    * Every variable is written as NC_DOUBLE — the lake's value type.
    * `recordDim` (length written as 0) must be each record var's FIRST
    * dim, per the spec. */
  private def buildHeader(version: Int, dims: Seq[NcDim], numRecs: Long,
                          vars: Seq[WriteVar], gattrs: Seq[NcAttr]): (Array[Byte], Map[String, Long], Long) = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    // CDF-5 widens every count/length field to 64 bits (same dual as the
    // reader's readSize)
    def writeSize(n: Long): Unit =
      if (version == 5) out.writeLong(n) else out.writeInt(n.toInt)
    def writeName(s: String): Unit = {
      val b = s.getBytes("UTF-8")
      writeSize(b.length.toLong); out.write(b)
      (0 until ((4 - b.length % 4) % 4)).foreach(_ => out.writeByte(0))
    }
    def writeAttrs(attrs: Seq[NcAttr]): Unit =
      if (attrs.isEmpty) { out.writeInt(0); writeSize(0L) }
      else {
        out.writeInt(0x0C); writeSize(attrs.size.toLong)
        attrs.foreach { a =>
          writeName(a.name)
          a.values match {
            case s: String =>
              out.writeInt(2); writeSize(s.length.toLong); out.write(s.getBytes("UTF-8"))
              (0 until ((4 - s.length % 4) % 4)).foreach(_ => out.writeByte(0))
            case d: Array[Double] =>
              out.writeInt(6); writeSize(d.length.toLong); d.foreach(out.writeDouble)
            case i: Array[Int] =>
              out.writeInt(4); writeSize(i.length.toLong); i.foreach(out.writeInt)
            case other => throw new IllegalArgumentException(s"attr type: $other")
          }
        }
      }

    val dimIdx = dims.map(_.name).zipWithIndex.toMap
    val isRec = dims.filter(_.isRecord).map(_.name).toSet
    def vsizeOf(v: WriteVar): Long =
      pad4(v.dims.filterNot(isRec).map(n => dims(dimIdx(n)).length.toLong).product * 8L)

    def emitPreamble(): Unit = {
      out.write(Array[Byte]('C', 'D', 'F', version.toByte))
      writeSize(numRecs)
      if (dims.isEmpty) { out.writeInt(0); writeSize(0L) }
      else {
        out.writeInt(0x0A); writeSize(dims.size.toLong)
        dims.foreach { d => writeName(d.name); writeSize(d.length.toLong) }
      }
      writeAttrs(gattrs)
    }
    // var_list with a two-pass begin computation: header size depends on
    // itself only through the fixed-width begin fields, so write a first
    // pass with zero begins to learn the length, then re-emit.
    def emitVars(begins: Map[String, Long]): Unit = {
      if (vars.isEmpty) { out.writeInt(0); writeSize(0L) }
      else {
        out.writeInt(0x0B); writeSize(vars.size.toLong)
        vars.foreach { v =>
          writeName(v.name)
          writeSize(v.dims.size.toLong)
          v.dims.foreach(n => out.writeInt(dimIdx(n)))
          writeAttrs(v.attrs)
          out.writeInt(6) // NC_DOUBLE
          writeSize(vsizeOf(v))
          if (version == 1) out.writeInt(begins.getOrElse(v.name, 0L).toInt)
          else out.writeLong(begins.getOrElse(v.name, 0L))
        }
      }
    }
    emitPreamble()
    emitVars(Map.empty)
    val headerLen = pad4(bos.size().toLong)

    // fixed vars first, then the record section, every begin 4-aligned
    var off = headerLen
    val (fixedVars, recVars) = vars.partition(v => !v.dims.headOption.exists(isRec))
    val begins = scala.collection.mutable.Map.empty[String, Long]
    fixedVars.foreach { v => begins(v.name) = off; off += vsizeOf(v) }
    recVars.foreach { v => begins(v.name) = off; off += vsizeOf(v) }

    bos.reset()
    emitPreamble()
    emitVars(begins.toMap)
    while (bos.size() < headerLen) out.writeByte(0)

    val recSize = recVars.map(vsizeOf).sum
    (bos.toByteArray, begins.toMap, recSize)
  }

  /** Write a classic NetCDF file (CDF-1/2/5) from long-format DataFrames.
    *
    * Scale design mirrors the reader: the driver writes only the tiny
    * header and pre-sizes the file; every VALUE's byte offset is a pure
    * function of its dim indices, so each partition seek-writes its own
    * rows directly into the shared-filesystem file (`foreachPartition`,
    * non-overlapping ranges, no shuffle, no driver materialisation).
    * Dims with name == `recordDim` get length 0 (the unlimited dim);
    * `dimLengths` fixes every other dim's extent.
    *
    * The seek-write pattern is valid ONLY on a POSIX filesystem every
    * executor mounts (local mode, NFS) — HDFS is append-only and object
    * stores have no partial PUT, so a non-`file:` target is rejected
    * loudly up front ([[FsIo.requireLocalPath]]) instead of silently
    * scattering partial files; distributed stores should export Zarr
    * (whole-chunk objects) instead. */
  def writeClassic(spark: SparkSession, path0: String, dimLengths: Seq[(String, Int)],
                   vars: Seq[WriteVar], recordDim: Option[String] = None,
                   numRecs: Long = -1L, gattrs: Seq[NcAttr] = Nil,
                   version: Int = 1): NcHeader = {
    require(version == 1 || version == 2 || version == 5,
      s"unsupported NetCDF write variant $version (CDF-1/2/5)")
    val path = FsIo.requireLocalPath(spark.sparkContext.hadoopConfiguration,
      path0, "NetCDF classic write (a seek-write format)")
    // classic-format constraint: the unlimited dim may only be a record
    // var's OUTERMOST (first) dimension
    recordDim.foreach { rd =>
      vars.foreach { v =>
        require(!v.dims.drop(1).contains(rd),
          s"record dim '$rd' must be the FIRST dim of variable '${v.name}'")
      }
    }
    val nRecs: Long = recordDim match {
      case None => 0L
      case Some(rd) =>
        if (numRecs >= 0) numRecs
        else vars.filter(_.dims.headOption.contains(rd))
          .map(_.df.agg(max(col(rd))).head.getInt(0).toLong + 1L)
          .foldLeft(0L)(math.max)
    }
    val dims = dimLengths.map { case (n, len) =>
      NcDim(n, if (recordDim.contains(n)) 0 else len)
    }
    val (header, begins, recSize) = buildHeader(version, dims, nRecs, vars, gattrs)

    val dimLen = dimLengths.toMap
    val isRec = (n: String) => recordDim.contains(n)
    // pre-size: fixed section ends at max begin+vsize; record section
    // spans numRecs slabs
    val fileLen = {
      val fixedEnd = vars.filter(v => !v.dims.headOption.exists(isRec))
        .map(v => begins(v.name) + pad4(v.dims.map(dimLen(_).toLong).product * 8L))
      val recBegin = vars.filter(v => v.dims.headOption.exists(isRec))
        .map(v => begins(v.name)).minOption
      val recEnd = recBegin.map(_ + nRecs * recSize)
      (fixedEnd ++ recEnd ++ Seq(header.length.toLong)).max
    }
    val raf = new RandomAccessFile(path, "rw")
    try { raf.setLength(0); raf.setLength(fileLen); raf.write(header) }
    finally raf.close()

    vars.foreach { v =>
      val record = v.dims.headOption.exists(isRec)
      val innerDims = if (record) v.dims.tail else v.dims
      val innerSizes = innerDims.map(dimLen(_).toLong).toArray
      val begin = begins(v.name)
      val stride = if (record) recSize else 8L // fixed vars are contiguous
      val dimCols = v.dims
      val rows = v.df.select((dimCols.map(col) :+ col("value").cast("double")): _*)
      rows.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        val out = new RandomAccessFile(path, "rw")
        try it.foreach { r =>
          var flat = 0L
          var i = 0
          while (i < innerSizes.length) {
            val idx = r.getInt(if (record) i + 1 else i)
            flat = flat * innerSizes(i) + idx
            i += 1
          }
          val offset =
            if (record) begin + r.getInt(0).toLong * stride + flat * 8L
            else begin + flat * 8L
          out.seek(offset)
          out.writeDouble(if (r.isNullAt(dimCols.length)) Double.NaN
            else r.getDouble(dimCols.length))
        } finally out.close()
      }
    }
    readHeader(path)
  }

  /** Reverse of [[toParquetLake]]: re-emit a long-format lake directory
    * (`lakeDir/<var>/` with dim-index columns + value) as one classic
    * NetCDF file. Dim extents are inferred (max index + 1); `recordDim`
    * (default "time" when present) becomes the unlimited dimension.
    * `*_coord` join columns from the forward conversion are dropped —
    * coordinate variables round-trip as plain 1-D vars when present as
    * their own subdirectories. */
  def fromParquetLake(spark: SparkSession, lakeDir: String, ncPath: String,
                      recordDim: Option[String] = None, version: Int = 1): NcHeader = {
    val varDirs =
      FsIo.listDirNames(spark.sparkContext.hadoopConfiguration, lakeDir)
    require(varDirs.nonEmpty, s"no variable directories under $lakeDir")
    val frames = varDirs.map { v =>
      val df = spark.read.parquet(s"$lakeDir/$v")
      val dimCols = df.columns.filter(c => c != "value" && !c.endsWith("_coord")).toSeq
      (v, dimCols, df.select((dimCols.map(c => col(c).cast("int").as(c)) :+ col("value")): _*))
    }
    val rd = recordDim.orElse(
      if (frames.exists(_._2.headOption.contains("time"))) Some("time") else None)
    val dimLengths = frames.flatMap { case (_, dimCols, df) =>
      if (dimCols.isEmpty) Nil
      else df.agg(dimCols.map(c => max(col(c)).as(c)).head,
        dimCols.map(c => max(col(c)).as(c)).tail: _*)
        .head.toSeq.zip(dimCols).map { case (m, c) => (c, m.asInstanceOf[Int] + 1) }
    }.groupBy(_._1).map { case (n, xs) => (n, xs.map(_._2).max) }.toSeq.sortBy(_._1)
    writeClassic(spark, ncPath, dimLengths,
      frames.map { case (v, dimCols, df) => WriteVar(v, dimCols, df) }.toSeq,
      recordDim = rd, version = version)
  }
}
