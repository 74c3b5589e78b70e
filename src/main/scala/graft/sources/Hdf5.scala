package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.util.zip.Inflater

/** Minimal HDF5 reader for NetCDF-4 ingestion — the subset of the public
  * HDF5 File Format Specification that NetCDF-4 files actually exercise,
  * in BOTH on-disk generations:
  *
  *  - classic: superblock v0, old-style (symbol-table) groups, v1 object
  *    headers, chunked data behind v1 B-trees (netcdf-c default output);
  *  - "latest": superblock v2/v3, v2 ("OHDR") object headers with compact
  *    link-message groups, v2/v3 packed attributes, layout v4 with
  *    single-chunk / implicit / fixed-array / extensible-array /
  *    v2-B-tree chunk indexes (libver=latest producers, h5py/netcdf-c
  *    with H5Pset_libver_bounds; the last two are the unlimited-dimension
  *    indexes that appendable time series produce).
  *
  * Plus, in both: simple dataspaces, fixed-point/IEEE-float datatypes,
  * contiguous layouts, and the shuffle + deflate + fletcher32 filter
  * pipeline in write order (`java.util.zip.Inflater` + a byte-transpose +
  * a checksum verify-and-strip — no native codecs; covers netCDF4-python's
  * `zlib=True, shuffle=True` default and its one-flag `fletcher32=True`,
  * in either checksum position: netcdf-c checksums raw data, h5py's
  * pipeline order checksums the compressed bytes).
  *
  * Scale design mirrors `NetCDF` and `Zarr`: the driver parses only the
  * metadata (superblock → group links → object headers, a few KB), and
  * every element reader runs one executor-side cell walk (`cellWalk`),
  * passing only a block decoder. Contiguous and compact data stream
  * through range partitions of the flat cell index; chunked data reads
  * the records of one chunk-record source (`chunkRdd`: computed on
  * executors for implicit and fixed-array indexes, driver-parsed for the
  * irregular B-tree and extensible-array ones), de-filters each chunk and
  * unravels it, so ingestion parallelism is bounded by chunk count, not
  * by a driver scan.
  *
  * "Latest" groups are read in BOTH storage phases: compact (link
  * messages in the group header) and dense (link bodies in a fractal
  * heap behind the name-index v2 B-tree — what the library switches to
  * past ~8 links, i.e. any real multi-variable file). The fractal-heap
  * walk recurses through indirect blocks at any depth and de-filters
  * FILTERED heaps (per-block stored sizes from the indirect entries or
  * the header) with the same pipeline machinery the chunks use.
  *
  * Chunk indexes scale to archive-size datasets: v2 B-trees are walked
  * at ANY depth (the child-pointer widths follow the public H5B2
  * capacity recurrence) and extensible-array data blocks are read in
  * both plain and PAGED form (element pages + per-page checksums
  * directly after the block header; secondary-block page-init bitmaps
  * skipped) — the shapes that appear past ~10^5 chunks per dataset.
  *
  * Typed data beyond numerics: fixed-length strings, variable-length
  * strings and variable-length NUMERIC SEQUENCES (descriptors resolved
  * through global-heap collections, executor-side with per-partition
  * caching; sequences land as ARRAY<LONG>/ARRAY<DOUBLE>) and compound
  * datasets (atomic int/float/fixed-string members at any padding, plus
  * NESTED compound members — Spark STRUCT columns — and ARRAY members
  * flattened row-major; offsets come from the member tables, recursing
  * per the datatype message spec) via `readStrings` / `readVlen` /
  * `readCompound`; `toParquetLake` routes each dataset by class.
  *
  * Every checksum the format carries is verified: fletcher32 on data
  * chunks, and the Jenkins-lookup3 metadata checksum each
  * "latest"-format structure trails (superblock v2/v3, OHDR chunks and
  * continuations, fractal heap header/indirect/direct blocks,
  * fixed/extensible-array blocks and pages, v2 B-tree nodes) —
  * corruption is a loud IOException, never a misread.
  *
  * szip (filter 4) decodes through [[Szip]] — the CCSDS 121.0 coder in
  * H5Zszip's raw framing (r9; unblocks NASA granules) — and nbit
  * (filter 5) through [[Nbit]], the bit-packed reduced-precision stream
  * for atomic types (r10), and scaleoffset (filter 6) through
  * [[Scaleoffset]] — integer and float-D-scale variants, the netCDF-4
  * `least_significant_digit` packing (r11). Out of scope (documented):
  * nested VLEN bases (vlen-of-vlen-strings; atomic numerics and
  * fixed-string bases read), nbit over array/compound bases, and
  * scaleoffset E-scaling (never implemented by the HDF5 library
  * itself).
  */
object Hdf5 {

  private val Undef = -1L // 0xFFFF.. addresses parse to -1

  /** `chunkIndex`: how chunk addresses are found — 0 = v1 B-tree (classic
    * files), 1 = single chunk, 2 = implicit (contiguous grid), 3 = fixed
    * array (fixed-size "latest" datasets), 4 = extensible array (one
    * unlimited dim), 5 = v2 B-tree (several unlimited dims).
    * `chunkBtree` holds the index structure's address for every kind.
    * `filters` is the filter pipeline in WRITE order. */
  final case class Dataset(name: String, dims: Seq[Long], dtClass: Int,
                           dtSize: Int, littleEndian: Boolean,
                           layoutClass: Int, dataAddress: Long, dataSize: Long,
                           chunkDims: Seq[Long], chunkBtree: Long,
                           attrs: Map[String, Double] = Map.empty,
                           chunkIndex: Int = 0,
                           members: Seq[Member] = Nil, vlenStr: Boolean = false,
                           filters: Seq[Int] = Nil,
                           vlenBase: Option[Member] = None,
                           szipCd: Option[Seq[Int]] = None,
                           nbitCd: Option[Seq[Int]] = None,
                           soCd: Option[Seq[Int]] = None,
                           strAttrs: Map[String, String] = Map.empty) {
    def gzip: Boolean = filters.contains(FilterDeflate)
    def shuffled: Boolean = filters.contains(FilterShuffle)
  }
  /** One compound-datatype member. Atomic classes (0 fixed-point, 1 IEEE
    * float, 3 fixed string) stand alone; class 6 (NESTED compound)
    * carries its own member table in `children` (offsets relative to the
    * nested struct's start), and class 10 (ARRAY) carries its base type
    * as `children.head` with `arrayDims` repeats, flattened row-major. */
  final case class Member(name: String, offset: Int, cls: Int, size: Int,
                          little: Boolean,
                          children: Seq[Member] = Nil,
                          arrayDims: Seq[Int] = Nil)
  final case class Chunk(address: Long, storedSize: Long, offsets: Seq[Long])

  // ---------------- driver-side metadata parse ----------------

  private class Reader(val raf: FsIo.SeekableData) extends AutoCloseable {
    // Hadoop-FS random-access cursor (FsIo.SeekableData): file://, hdfs://
    // and s3a:// HDF5 files parse identically, and byte-cursor reads serve
    // from SeekableData's window instead of a syscall/GET per byte
    def this(conf: Configuration, path: String) = this(FsIo.openSeekable(conf, path))
    def close(): Unit = raf.close()
    def seek(p: Long): Unit = raf.seek(p)
    def u8(): Int = raf.readUnsignedByte()
    def u16(): Int = { val a = u8(); val b = u8(); a | (b << 8) } // little-endian
    def u32(): Long = { val a = u16().toLong; val b = u16().toLong; a | (b << 16) }
    def u64(): Long = {
      val a = u32(); val b = u32(); a | (b << 32)
    }
    def bytes(n: Int): Array[Byte] = { val b = new Array[Byte](n); raf.readFully(b); b }
    def skip(n: Int): Unit = raf.seek(raf.getFilePointer + n)
    def pos: Long = raf.getFilePointer
  }

  /** Little-endian cursor over an in-memory byte array — same read
    * surface as [[Reader]], for structures that live inside decoded
    * (possibly de-filtered) blocks rather than directly in the file. */
  private final class Buf(a: Array[Byte], var p: Int) {
    def u8(): Int = { val v = a(p) & 0xFF; p += 1; v }
    def u16(): Int = u8() | (u8() << 8)
    def u32(): Long = u16().toLong | (u16().toLong << 16)
    def u64(): Long = u32() | (u32() << 32)
    def bytes(n: Int): Array[Byte] = {
      val b = java.util.Arrays.copyOfRange(a, p, p + n); p += n; b
    }
    def skip(n: Int): Unit = p += n
  }

  /** Parse all datasets reachable from the root group (flat — netCDF-4
    * classic-model files keep everything in the root group). Handles both
    * generations of the public format: superblock v0 with old-style
    * symbol-table groups, and superblock v2/v3 ("latest") with v2 object
    * headers and compact link-message groups. */
  def readMeta(path: String): Seq[Dataset] = {
    val r = new Reader(FsIo.driverConf(), path)
    try {
      val sig = r.bytes(8)
      require(sig.map(_ & 0xFF).sameElements(Seq(0x89, 'H', 'D', 'F', 0x0D, 0x0A, 0x1A, 0x0A)),
        s"$path is not an HDF5 file")
      val sbVersion = r.u8()
      require(sbVersion == 0 || sbVersion == 2 || sbVersion == 3,
        s"unsupported superblock version $sbVersion")
      val out = scala.collection.mutable.ArrayBuffer.empty[Dataset]
      if (sbVersion == 0) {
        r.skip(1 + 1 + 1 + 1) // freespace ver, root sym ver, reserved, shared msg ver
        val offSize = r.u8(); val lenSize = r.u8()
        require(offSize == 8 && lenSize == 8, s"only 8-byte offsets/lengths (got $offSize/$lenSize)")
        r.skip(1) // reserved
        r.skip(2 + 2 + 4) // group leaf k, internal k, consistency flags
        r.skip(8 * 4) // base, free space, end of file, driver info
        // root group symbol table entry
        r.skip(8) // link name offset
        val rootOH = r.u64()
        r.skip(4 + 4 + 16)
        // root object header → symbol table message → btree + heap
        val (btreeAddr, heapAddr) = rootSymbolTable(r, rootOH)
        val heapData = localHeapData(r, heapAddr)
        groupEntries(r, btreeAddr).foreach { case (nameOff, ohAddr) =>
          val name = cString(heapData, nameOff.toInt)
          parseDataset(r, name, ohAddr).foreach(out += _)
        }
      } else {
        // superblock v2/v3: offsets/lengths sizes, flags, then 4 addresses
        val offSize = r.u8(); val lenSize = r.u8()
        require(offSize == 8 && lenSize == 8, s"only 8-byte offsets/lengths (got $offSize/$lenSize)")
        r.skip(1) // file consistency flags
        r.skip(8 + 8 + 8) // base, superblock extension, EOF
        val rootOH = r.u64()
        checkMeta(r, 0L, "superblock")
        linkEntries(r, rootOH).foreach { case (name, ohAddr) =>
          parseDataset(r, name, ohAddr).foreach(out += _)
        }
      }
      out.toSeq
    } finally r.close()
  }

  /** Collect (link name, object header address) pairs from a "latest"
    * group — compact (hard-link messages 0x0006 stored directly in the
    * group's v2 object header) and dense (link bodies in a fractal heap,
    * reached through the Link Info message; the storage the library
    * switches to past ~8 links, i.e. any real multi-variable file). */
  private def linkEntries(r: Reader, ohAddr: Long): Seq[(String, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var fheap = Undef; var nameBt = Undef
    foreachMessage(r, ohAddr) { (t, sz, body) =>
      if (t == 0x0006) {
        r.seek(body)
        parseLinkBody(new Buf(r.bytes(sz), 0)).foreach(out += _)
      } else if (t == 0x0002) { // link info: dense storage location
        r.seek(body)
        r.u8(); val flags = r.u8()
        if ((flags & 0x01) != 0) r.skip(8) // max creation index
        fheap = r.u64()
        nameBt = r.u64()
      }
    }
    if (fheap != Undef) out ++= denseLinks(r, fheap, nameBt)
    out.toSeq
  }

  /** Link message body, shared by compact messages and dense heap
    * objects (identical encoding per the spec). Returns None for
    * soft/external links (never produced for netCDF-4 variables). */
  private def parseLinkBody(r: Buf): Option[(String, Long)] = {
    val v = r.u8(); require(v == 1, s"link message v$v")
    val flags = r.u8()
    val linkType = if ((flags & 0x08) != 0) r.u8() else 0
    if ((flags & 0x04) != 0) r.skip(8) // creation order
    if ((flags & 0x10) != 0) r.skip(1) // charset
    val nameLen = (flags & 0x03) match {
      case 0 => r.u8().toLong
      case 1 => r.u16().toLong
      case 2 => r.u32()
      case _ => r.u64()
    }
    val name = new String(r.bytes(nameLen.toInt), "UTF-8")
    if (linkType == 0) Some((name, r.u64())) else None // hard link: OH address
  }

  /** Dense group storage: link-message bodies live as MANAGED objects in
    * a fractal heap ("FRHP" header, "FHDB" direct / "FHIB" indirect
    * blocks) and are located via the name-index v2 B-tree (record type 5
    * = {name hash, heap ID}). Every record is visited, so the hash — a
    * lookup aid — is skipped, and record order is irrelevant.
    *
    * A managed heap ID is (flags, heap offset, object length); the
    * offset is in HEAP space, which linearizes the doubling table's
    * blocks including their headers, so a block with offset `bo` holds
    * heap offset `o` at byte `o - bo` of the (de-filtered) block image.
    * Direct block sizes start at `startSize` (rows 0-1 of the table) and
    * double each row after, up to `maxDirectSize`; rows past the direct
    * limit hold INDIRECT children, each spanning that row's block size —
    * a child in row `r` has `r - log2(width)` rows of its own (the
    * doubling-table recurrence: an n-row block spans width·start·2^(n-1))
    * — and the walk recurses to ANY depth. FILTERED heaps store each
    * direct block's image through the heap's I/O pipeline (encoded in
    * the header; per-block stored sizes ride the indirect-block entries,
    * or the header when the root is the lone direct block) and are
    * de-filtered with the shared chunk machinery. Huge/tiny heap IDs
    * are rejected, not misread (link bodies never take those routes). */
  private def denseLinks(r: Reader, fheapAddr: Long, nameBtAddr: Long): Seq[(String, Long)] = {
    // fractal heap header → doubling-table geometry
    r.seek(fheapAddr)
    require(new String(r.bytes(4), "ASCII") == "FRHP", "bad fractal heap signature")
    require(r.u8() == 0, "fractal heap version")
    val idLen = r.u16()
    val filterLen = r.u16() // I/O filter info length; >0 = filtered heap
    val heapFlags = r.u8()  // bit 1 = direct blocks carry embedded checksums
    val maxManSize = r.u32()
    r.skip(8 + 8)         // next huge id, huge-object v2 B-tree
    r.skip(8 + 8)         // free space, free-space manager
    r.skip(8 + 8 + 8 + 8) // managed space, allocated space, iterator offset, managed count
    r.skip(8 + 8 + 8 + 8) // huge size, huge count, tiny size, tiny count
    val tableWidth = r.u16()
    val startSize = r.u64()
    val maxDirectSize = r.u64()
    val maxHeapBits = r.u16()
    r.skip(2) // starting rows in root indirect block
    val rootAddr = r.u64()
    val curRows = r.u16()
    val hdrFixedEnd = r.pos
    // filtered heaps: the root direct block's stored size + filter mask
    // sit in the header (there is no indirect entry to carry them), then
    // the encoded pipeline message in write order
    var rootStoredSize = Undef
    var filters: Seq[Int] = Nil
    if (filterLen > 0) {
      if (curRows == 0) { rootStoredSize = r.u64(); r.skip(4) }
      val pl = parsePipeline(r, "fractal heap")
      require(pl.szipCd.isEmpty, "szip-filtered fractal heap unsupported")
      require(pl.nbitCd.isEmpty, "nbit-filtered fractal heap unsupported")
      require(pl.soCd.isEmpty, "scaleoffset-filtered fractal heap unsupported")
      filters = pl.ids
    }
    // trailing header checksum: fixed fields + the optional filtered-root
    // size/mask + the declared filter-info length (authoritative over
    // however many bytes parsePipeline consumed)
    r.seek(hdrFixedEnd +
      (if (filterLen > 0) (if (curRows == 0) 12 else 0) + filterLen else 0))
    checkMeta(r, fheapAddr, "fractal heap header")
    // heap ID field widths, as the library computes them (H5HF hdr):
    // offset = bytes for the heap-space address width; length = bytes for
    // an offset inside the largest direct block, capped by the bytes the
    // max managed object size needs.
    val offSize = (maxHeapBits + 7) / 8
    val lenSize = math.min(log2Floor(maxDirectSize) / 8 + (if (log2Floor(maxDirectSize) % 8 == 0) 0 else 1),
                           log2Floor(math.max(maxManSize, 1)) / 8 + 1)
    require(1 + offSize + lenSize <= idLen, s"heap ID geometry ($idLen vs $offSize/$lenSize)")
    val logW = log2Floor(tableWidth)
    require((1L << logW) == tableWidth, s"table width $tableWidth not a power of 2")
    val maxDirectRows = log2Floor(maxDirectSize) - log2Floor(startSize) + 2

    // direct-block map: (heap-space offset, size, file address, stored size)
    val rowSize = (row: Int) => if (row < 2) startSize else startSize << (row - 1)
    val blocks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    def walkIndirect(addr: Long, heapBase: Long, nrows: Int): Unit = {
      r.seek(addr)
      require(new String(r.bytes(4), "ASCII") == "FHIB", "bad fractal heap indirect block")
      require(r.u8() == 0, "indirect block version")
      r.skip(8 + offSize) // heap header address, block offset
      // read this node's entries fully before recursing (recursion re-seeks)
      var heapOff = heapBase
      val children = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
      var row = 0
      while (row < nrows) {
        var col = 0
        while (col < tableWidth) {
          if (row < maxDirectRows) {
            val a = r.u64()
            val stored = if (filterLen > 0) { val s = r.u64(); r.skip(4); s } else Undef
            if (a != Undef) blocks += ((heapOff, rowSize(row), a, stored))
          } else {
            val a = r.u64()
            if (a != Undef) children += ((a, heapOff, row - logW))
          }
          heapOff += rowSize(row)
          col += 1
        }
        row += 1
      }
      checkMeta(r, addr, "fractal heap indirect block")
      children.foreach { case (a, hb, nr) => walkIndirect(a, hb, nr) }
    }
    if (curRows == 0) blocks += ((0L, startSize, rootAddr, rootStoredSize))
    else walkIndirect(rootAddr, 0L, curRows)

    // block images load on demand (a touched block is read — and for
    // filtered heaps de-filtered — once; untouched blocks never load)
    val images = scala.collection.mutable.HashMap.empty[Long, Array[Byte]]
    def resolve(off: Long): Buf = {
      val (bo, sz, addr, stored) = blocks
        .find { case (bo, sz, _, _) => off >= bo && off < bo + sz }
        .getOrElse(throw new IllegalArgumentException(s"heap offset $off outside allocated blocks"))
      val img = images.getOrElseUpdate(bo, {
        r.seek(addr)
        val raw = if (filterLen == 0) r.bytes(sz.toInt)
                  else defilter(r.bytes(stored.toInt), filters, sz.toInt, 1)
        // heap flag bit 1: direct blocks embed a checksum after the block
        // offset, computed over the WHOLE (de-filtered) image with the
        // field zeroed — filters run over the image checksum included
        if ((heapFlags & 0x02) != 0) {
          val chkOff = 4 + 1 + 8 + offSize
          val storedCk = (raw(chkOff) & 0xFF) | ((raw(chkOff + 1) & 0xFF) << 8) |
            ((raw(chkOff + 2) & 0xFF) << 16) | ((raw(chkOff + 3) & 0xFF) << 24)
          val save = java.util.Arrays.copyOfRange(raw, chkOff, chkOff + 4)
          raw(chkOff) = 0; raw(chkOff + 1) = 0; raw(chkOff + 2) = 0; raw(chkOff + 3) = 0
          val computed = lookup3(raw, 0, raw.length, 0)
          System.arraycopy(save, 0, raw, chkOff, 4)
          if (storedCk != computed) throw new java.io.IOException(
            f"fractal heap direct block checksum mismatch: stored 0x$storedCk%08x, computed 0x$computed%08x")
        }
        raw
      })
      new Buf(img, (off - bo).toInt)
    }

    // name-index v2 B-tree records → heap IDs → link bodies
    val ids = v2BtreeAll(r, nameBtAddr, _ == 5) { (_, recSize) => () =>
      r.skip(4) // name hash
      r.bytes(recSize - 4)
    }
    ids.flatMap { id =>
      require((id(0) & 0xF0) == 0, s"non-managed heap ID (flags ${id(0)})")
      var off = 0L
      (0 until offSize).foreach(i => off |= (id(1 + i) & 0xFFL) << (8 * i))
      parseLinkBody(resolve(off))
    }
  }

  private def rootSymbolTable(r: Reader, ohAddr: Long): (Long, Long) = {
    var res: (Long, Long) = (Undef, Undef)
    foreachMessage(r, ohAddr) { (msgType, _, bodyPos) =>
      if (msgType == 0x0011) { r.seek(bodyPos); res = (r.u64(), r.u64()) }
    }
    require(res._1 != Undef, "root group has no symbol table message")
    res
  }

  private def localHeapData(r: Reader, heapAddr: Long): Array[Byte] = {
    r.seek(heapAddr)
    require(new String(r.bytes(4), "ASCII") == "HEAP", "bad local heap signature")
    r.skip(1 + 3) // version + reserved
    val dataSize = r.u64()
    r.skip(8) // free list head
    val dataAddr = r.u64()
    r.seek(dataAddr)
    r.bytes(dataSize.toInt)
  }

  private def cString(heap: Array[Byte], off: Int): String = {
    var end = off
    while (end < heap.length && heap(end) != 0) end += 1
    new String(heap, off, end - off, "UTF-8")
  }

  /** Walk a v1 group B-tree (leaf level only needs SNOD children; internal
    * nodes recurse). Returns (heap name offset, object header address). */
  private def groupEntries(r: Reader, btreeAddr: Long): Seq[(Long, Long)] = {
    r.seek(btreeAddr)
    require(new String(r.bytes(4), "ASCII") == "TREE", "bad group B-tree signature")
    val nodeType = r.u8(); val level = r.u8()
    require(nodeType == 0, s"expected group B-tree (type 0), got $nodeType")
    val used = r.u16()
    r.skip(8 + 8) // siblings
    // keys/children interleaved: key0 child0 key1 child1 ... keyN
    val children = (0 until used).map { _ => r.skip(8); r.u64() } // skip key, read child
    if (level > 0) children.flatMap(groupEntries(r, _))
    else children.flatMap(snodEntries(r, _))
  }

  private def snodEntries(r: Reader, snodAddr: Long): Seq[(Long, Long)] = {
    r.seek(snodAddr)
    require(new String(r.bytes(4), "ASCII") == "SNOD", "bad symbol node signature")
    r.skip(1 + 1) // version + reserved
    val n = r.u16()
    (0 until n).map { _ =>
      val nameOff = r.u64(); val oh = r.u64()
      r.skip(4 + 4 + 16)
      (nameOff, oh)
    }
  }

  /** Iterate object-header messages, v1 (version byte 1) or v2 ("OHDR"
    * signature), handling continuation blocks of the matching generation.
    * The callback receives (message type, declared size, body position). */
  private def foreachMessage(r: Reader, ohAddr: Long)(f: (Int, Int, Long) => Unit): Unit = {
    r.seek(ohAddr)
    val first = r.u8()
    if (first == 'O'.toInt) foreachMessageV2(r, ohAddr)(f)
    else {
      require(first == 1, s"unsupported object header version $first")
      r.skip(1)
      val nMsgs = r.u16()
      r.skip(4) // ref count
      val headerSize = r.u32()
      r.skip(4) // padding to 8-byte alignment
      var blocks = List((r.pos, headerSize))
      var seen = 0
      while (blocks.nonEmpty && seen < nMsgs) {
        val (start, size) = blocks.head
        blocks = blocks.tail
        var p = start
        val end = start + size
        while (p + 8 <= end && seen < nMsgs) {
          r.seek(p)
          val t = r.u16(); val sz = r.u16()
          r.skip(1 + 3) // flags + reserved
          val bodyPos = r.pos
          if (t == 0x0010) { // continuation
            r.seek(bodyPos); val addr = r.u64(); val len = r.u64()
            blocks = blocks :+ (addr, len)
          } else f(t, sz, bodyPos)
          seen += 1
          p = bodyPos + sz
        }
      }
    }
  }

  /** v2 ("latest") object header: "OHDR" + flags-driven optional fields,
    * 1-byte message types, optional per-message creation order, "OCHK"
    * continuation blocks (chunk and continuation checksums verified). */
  private def foreachMessageV2(r: Reader, ohAddr: Long)(f: (Int, Int, Long) => Unit): Unit = {
    r.seek(ohAddr)
    require(new String(r.bytes(4), "ASCII") == "OHDR", "bad v2 object header signature")
    val version = r.u8()
    require(version == 2, s"object header v$version")
    val flags = r.u8()
    if ((flags & 0x20) != 0) r.skip(16) // access/mod/change/birth times
    if ((flags & 0x10) != 0) r.skip(4)  // attr storage phase-change bounds
    val chunk0Size = (flags & 0x03) match {
      case 0 => r.u8().toLong
      case 1 => r.u16().toLong
      case 2 => r.u32()
      case _ => r.u64()
    }
    val trackOrder = (flags & 0x04) != 0
    val msgPrefix = if (trackOrder) 6 else 4 // type+size+flags(+order)
    // chunk 0's trailing checksum covers everything from the OHDR
    // signature through the last message/gap byte
    val msgStart = r.pos
    r.seek(msgStart + chunk0Size)
    checkMeta(r, ohAddr, "object header")
    var blocks = List((msgStart, chunk0Size))
    while (blocks.nonEmpty) {
      val (start, size) = blocks.head
      blocks = blocks.tail
      var p = start
      val end = start + size
      while (p + msgPrefix <= end) {
        r.seek(p)
        val t = r.u8(); val sz = r.u16()
        r.skip(1) // message flags
        if (trackOrder) r.skip(2)
        val bodyPos = r.pos
        if (t == 0x10) { // continuation: "OCHK" + messages + checksum
          r.seek(bodyPos); val addr = r.u64(); val len = r.u64()
          r.seek(addr)
          require(new String(r.bytes(4), "ASCII") == "OCHK", "bad continuation signature")
          r.seek(addr + len - 4)
          checkMeta(r, addr, "object header continuation")
          blocks = blocks :+ ((addr + 4, len - 8)) // strip signature + checksum
        } else f(t, sz, bodyPos)
        p = bodyPos + sz
      }
    }
  }

  /** Parse one dataset's object header into a [[Dataset]]; None for
    * non-dataset objects (sub-groups, named types). */
  private def parseDataset(r: Reader, name: String, ohAddr: Long): Option[Dataset] = {
    var dims: Seq[Long] = null
    var dtClass = -1; var dtSize = 0; var little = true
    var layoutClass = -1; var dataAddr = Undef; var dataSize = 0L
    var chunkDims: Seq[Long] = Nil; var chunkBtree = Undef
    var szipCd: Option[Seq[Int]] = None
    var nbitCd: Option[Seq[Int]] = None
    var soCd: Option[Seq[Int]] = None
    val filterIds = scala.collection.mutable.ArrayBuffer.empty[Int]
    var members: Seq[Member] = Nil; var vlenStr = false
    var vlenBase: Option[Member] = None
    var chunkIndexKind = 0    // 0 = v1 btree; see Dataset.chunkIndex
    var chunkDimsNeedElem = false // layout v4 dims exclude the element size
    val attrs = scala.collection.mutable.Map.empty[String, Double]
    val strAttrs = scala.collection.mutable.Map.empty[String, String]
    def pad8(n: Int): Int = (n + 7) & ~7
    foreachMessage(r, ohAddr) { (t, sz, body) =>
      t match {
        case 0x0001 => // dataspace
          r.seek(body)
          val v = r.u8(); val rank = r.u8()
          r.skip(1 + (if (v == 1) 5 else 1)) // flags, then v1 reserved / v2 type
          dims = (0 until rank).map(_ => r.u64())
        case 0x0003 => // datatype
          r.seek(body)
          val cv = r.u8()
          dtClass = cv & 0x0F
          val bits0 = r.u8(); val bits1 = r.u8(); r.skip(1)
          dtSize = r.u32().toInt
          // bit 0 of the class bit field is endianness ONLY for atomic
          // classes — for compound it's the member count's low bit, for
          // VLEN the sequence/string discriminator. Non-atomic data
          // (VLEN descriptors) is file-metadata byte order (little).
          little = dtClass match {
            case 6 | 9 => true
            case _     => (bits0 & 1) == 0
          }
          dtClass match {
            case 6 => // compound: member table follows the 8-byte header
              members = parseCompoundMembers(r, cv >> 4, bits0 | (bits1 << 8),
                dtSize)
            case 9 => // variable-length: low 4 bits of bits0 = 1 for string;
              // the base datatype message follows (class 3 for strings —
              // skipped, resolution is length-driven; atomic numerics for
              // SEQUENCES, whose class/size/order the element decode
              // needs). A NESTED VLEN base (class 9: ragged lists of
              // vlen strings or of numeric sequences — one level) keeps
              // its own base as a child Member; deeper nesting is the
              // caller's loud reject.
              vlenStr = (bits0 & 0x0F) == 1
              if (!vlenStr) {
                val bcv = r.u8(); val bBits0 = r.u8(); r.skip(2)
                val bSize = r.u32().toInt
                val bCls = bcv & 0x0F
                vlenBase = Some(
                  if (bCls != 9) Member("", 0, bCls, bSize, (bBits0 & 1) == 0)
                  else if ((bBits0 & 0x0F) == 1) // inner vlen STRING
                    Member("", 0, 9, bSize, little = true,
                      children = Seq(Member("", 0, 3, 0, little = true)))
                  else { // inner vlen SEQUENCE: its base header follows
                    val icv = r.u8(); val iBits0 = r.u8(); r.skip(2)
                    val iSize = r.u32().toInt
                    Member("", 0, 9, bSize, little = true,
                      children = Seq(Member("", 0, icv & 0x0F, iSize,
                        (iBits0 & 1) == 0)))
                  })
              }
            case _ =>
          }
        case 0x0008 => // data layout v3 / v4
          r.seek(body)
          val v = r.u8()
          require(v == 3 || v == 4, s"only layout v3/v4 (got $v)")
          layoutClass = r.u8()
          (layoutClass, v) match {
            case (1, _) => // contiguous (same body in v3 and v4)
              dataAddr = r.u64(); dataSize = r.u64()
            case (2, 3) => // chunked, v1-btree index
              val rank = r.u8()
              chunkBtree = r.u64()
              chunkDims = (0 until rank).map(_ => r.u32())
            case (2, 4) => // chunked, "latest" index variants
              val lflags = r.u8()
              val rank = r.u8()
              val encLen = r.u8()
              chunkDims = (0 until rank).map { _ =>
                encLen match {
                  case 1 => r.u8().toLong
                  case 2 => r.u16().toLong
                  case 4 => r.u32()
                  case 8 => r.u64()
                  case o => throw new IllegalArgumentException(s"dim size width $o")
                }
              }
              chunkDimsNeedElem = true // v4 omits the trailing element size
              val idxType = r.u8()
              idxType match {
                case 1 => // single chunk
                  if ((lflags & 0x02) != 0) { dataSize = r.u64(); r.skip(4) } // filtered size + mask
                  chunkBtree = r.u64(); chunkIndexKind = 1
                case 2 => // implicit: contiguous chunk grid
                  chunkBtree = r.u64(); chunkIndexKind = 2
                case 3 => // fixed array
                  r.skip(1) // page bits
                  chunkBtree = r.u64(); chunkIndexKind = 3
                case 4 => // extensible array (unlimited dims, appendable)
                  // creation params (max bits, index elmts, min ptrs, min
                  // elmts, page bits — five u8s) are repeated in the EAHD
                  // header, which is what the chunk walk reads — skip here
                  r.skip(5)
                  chunkBtree = r.u64(); chunkIndexKind = 4
                case 5 => // version-2 B-tree (>1 unlimited dim)
                  r.skip(4 + 1 + 1) // node size, split %, merge % (also in BTHD)
                  chunkBtree = r.u64(); chunkIndexKind = 5
                case other => throw new IllegalArgumentException(
                  s"chunk index type $other")
              }
            case (0, _) => // compact
              dataSize = r.u16().toLong; dataAddr = r.pos
            case (other, _) => throw new IllegalArgumentException(s"layout class $other")
          }
        case 0x000B => // filter pipeline
          r.seek(body)
          val pl = parsePipeline(r, name)
          filterIds ++= pl.ids
          szipCd = pl.szipCd
          nbitCd = pl.nbitCd
          soCd = pl.soCd
        case 0x000C => // attribute v1/v2/v3: CF scalars (_FillValue, scale, offset)
          r.seek(body)
          val v = r.u8()
          // v1 pads name/datatype/dataspace to 8; v2/v3 pack them (v3 adds
          // a name-charset byte). Shared-datatype/-dataspace attrs skipped.
          val aflags = if (v == 1) { r.skip(1); 0 } else r.u8()
          if (v <= 3 && (aflags & 0x03) == 0) {
            val nameSize = r.u16(); val adtSize = r.u16(); val adsSize = r.u16()
            if (v == 3) r.skip(1) // name character-set encoding
            val aName = fixedStr(r.bytes(nameSize), 0, nameSize)
            if (v == 1) r.skip(pad8(nameSize) - nameSize)
            val dtStart = r.pos
            val cv = r.u8(); val aCls = cv & 0x0F
            val aBits0 = r.u8(); val aLittle = (aBits0 & 1) == 0; r.skip(2)
            val aSize = r.u32().toInt
            r.seek(dtStart + (if (v == 1) pad8(adtSize) else adtSize))
            val dsStart = r.pos
            val dsVer = r.u8()
            val aRank = r.u8()
            r.skip(1) // flags
            r.skip(if (dsVer == 1) 5 else 1) // v1 reserved / v2 type byte
            val aCount = (0 until aRank).map(_ => r.u64()).product max 1L
            r.seek(dsStart + (if (v == 1) pad8(adsSize) else adsSize))
            // scalar attributes: numeric (CF fill/scale/offset), fixed
            // string, and VLEN string (the netCDF-4/h5py default text
            // encoding — a 16-byte global-heap descriptor, r13 for the
            // CF time units/calendar attrs); arrays are skipped
            if ((aCls == 0 || aCls == 1) && aCount == 1 &&
                (aSize == 1 || aSize == 2 || aSize == 4 || aSize == 8))
              attrs(aName) = decode(r.bytes(aSize), aCls, aSize, aLittle, 1)(0)
            else if (aCls == 3 && aCount == 1)
              strAttrs(aName) = fixedStr(r.bytes(aSize), 0, aSize)
            else if (aCls == 9 && (aBits0 & 0x0F) == 1 && aCount == 1) {
              val ref = vlenRef(java.nio.ByteBuffer.wrap(r.bytes(16))
                .order(java.nio.ByteOrder.LITTLE_ENDIAN), 0)
              if (ref.addr != Undef && ref.len > 0) {
                val save = r.pos
                strAttrs(aName) = vlenString(readGcol(r, ref.addr)(ref.idx), ref.len)
                r.seek(save)
              }
            }
          }
        case _ => ()
      }
    }
    if (dims == null || dtClass < 0 || layoutClass < 0) None
    else {
      // normalise v4 chunk dims to the v3 convention (trailing element size)
      val cd = if (chunkDimsNeedElem) chunkDims :+ dtSize.toLong else chunkDims
      Some(Dataset(name, dims, dtClass, dtSize, little, layoutClass,
        dataAddr, dataSize, cd, chunkBtree, attrs.toMap, chunkIndexKind,
        members, vlenStr, filterIds.toSeq, vlenBase, szipCd,
        nbitCd, soCd, strAttrs.toMap))
    }
  }

  /** Chunk table (driver-side; a few bytes per chunk) from whichever index
    * the layout message declared: v1 B-tree (classic), single chunk, fixed
    * array, extensible array or v2 B-tree ("latest"). An implicit index
    * (kind 2) has no records to parse; [[chunkRdd]] computes them. */
  def chunkTable(path: String, ds: Dataset): Seq[Chunk] = {
    val r = new Reader(FsIo.driverConf(), path)
    try ds.chunkIndex match {
      case 0 => collectChunks(r, ds.chunkBtree, ds.chunkDims.length)
      case 1 => // single chunk: whole dataspace in one chunk at the address
        val stored =
          if (ds.filters.nonEmpty) ds.dataSize // filtered size recorded in the layout msg
          else ds.chunkDims.product // dims × element size (element incl.)
        Seq(Chunk(ds.chunkBtree, stored, ds.chunkDims.dropRight(1).map(_ => 0L)))
      case 3 => fixedArrayChunks(r, ds)
      case 4 => extensibleArrayChunks(r, ds)
      case 5 => v2BtreeChunks(r, ds)
      case other => throw new IllegalArgumentException(s"chunk index kind $other")
    } finally r.close()
  }

  /** The one source of chunk records under [[cellWalk]], computed on
    * executors where the index is a REGULAR GRID — the 100 TB ingest path
    * (r13, mirroring Zarr's range-based chunk walk):
    *
    *   - implicit index (kind 2): address = base + flat·chunkBytes is
    *     pure math — `spark.range` + [[chunkGrid]], zero driver state;
    *   - fixed array (kind 3): the driver parses ONLY the ~30-byte FAHD
    *     header; each range partition reads its own contiguous entry span
    *     ([[fixedArrayEntries]], one seek per task). The whole-block
    *     checksum is NOT verified on this path (a 10^8-entry block can't
    *     be driver-verified anyway; [[chunkTable]] verifies it); per-chunk
    *     decode errors still fail loudly downstream.
    *   - everything else (v1/v2 B-trees, extensible arrays, single
    *     chunk): genuinely irregular records from [[chunkTable]], shipped
    *     via `parallelize`.
    */
  private def chunkRdd(spark: SparkSession, path: String, ds: Dataset)
      : org.apache.spark.rdd.RDD[Chunk] = {
    val (nChunks, origin) = chunkGrid(ds)
    val chunkBytes = ds.chunkDims.product
    def slices(n: Long): Int = math.max(1L, math.min(n,
      math.max(64, spark.sparkContext.defaultParallelism * 2).toLong)).toInt
    def flats = spark.sparkContext.range(0L, nChunks, numSlices = slices(nChunks))
    ds.chunkIndex match {
      case 2 => // implicit: unfiltered grid row-major from the base address
        val base = ds.chunkBtree
        flats.map(flat => Chunk(base + flat * chunkBytes, chunkBytes, origin(flat)))
      case 3 => // fixed array: executors range-read their FADB entry spans
        val r = new Reader(FsIo.driverConf(), path)
        val fa = try fixedArrayMeta(r, ds, nChunks) finally r.close()
        val snap = FsIo.snapshot(spark) // executor reads go through Hadoop FS
        flats.mapPartitions { it =>
          if (!it.hasNext) Iterator.empty
          else {
            val first = it.next() // one range partition = contiguous span
            val n = 1 + it.length
            val raf = FsIo.openSeekable(snap.value, path)
            try {
              // structural prefix check per task (6 bytes): the driver
              // does not read the block, so a dangling data-block address
              // must still fail loudly HERE, not as a confusing EOF deep
              // in chunk decode
              raf.seek(fa.dataBlock)
              val pre = new Array[Byte](6)
              raf.readFully(pre)
              require(new String(pre, 0, 4, "ASCII") == "FADB" &&
                  pre(4) == 0 && (pre(5) & 0xFF) == fa.clientId,
                s"bad fixed-array data block at ${fa.dataBlock}")
              fixedArrayEntries(raf, fa, first, n, chunkBytes, origin).iterator
            } finally raf.close()
          }
        }
      case _ => // irregular records: driver-parsed, shipped to executors
        val chunks = chunkTable(path, ds)
        spark.sparkContext.parallelize(chunks, slices(chunks.size.toLong))
    }
  }

  /** Row-major indices of cell `flat` in a grid of shape `shape`. */
  private def unravel(flat: Long, shape: Array[Long]): Array[Long] = {
    val idx = new Array[Long](shape.length)
    var rem = flat; var i = shape.length - 1
    while (i >= 0) { idx(i) = rem % shape(i); rem /= shape(i); i -= 1 }
    idx
  }

  /** A chunked dataset's chunk grid: its chunk count, and chunk `flat`'s
    * element offsets (row-major over the grid). */
  private def chunkGrid(ds: Dataset): (Long, Long => Seq[Long]) = {
    val cdims = ds.chunkDims.dropRight(1).toArray // last entry = element size
    val counts = ds.dims.toArray.zip(cdims).map { case (d, c) => (d + c - 1) / c }
    (counts.product,
      flat => unravel(flat, counts).zip(cdims).map { case (i, c) => i * c }.toSeq)
  }

  private final case class FixedArrayMeta(clientId: Int, entrySize: Int, dataBlock: Long)

  /** Parse ONLY the FAHD header (checksummed, ~30 bytes) — the entry
    * data block is left for executors ([[chunkRdd]]) or the driver
    * ([[fixedArrayChunks]]) to read. */
  private def fixedArrayMeta(r: Reader, ds: Dataset, nChunks: Long): FixedArrayMeta = {
    r.seek(ds.chunkBtree)
    require(new String(r.bytes(4), "ASCII") == "FAHD", "bad fixed-array header")
    val ver = r.u8(); require(ver == 0, s"fixed array v$ver")
    val clientId = r.u8()
    require(clientId == 0 || clientId == 1, s"fixed-array client $clientId")
    val entrySize = r.u8()
    val pageBits = r.u8()
    val maxEntries = r.u64()
    val dataBlock = r.u64()
    checkMeta(r, ds.chunkBtree, "fixed-array header")
    require(maxEntries <= (1L << pageBits),
      s"paged fixed-array data blocks not supported ($maxEntries entries)")
    require(if (clientId == 1) Set(13, 14, 16, 20)(entrySize) else entrySize == 8,
      s"fixed-array entry size $entrySize for client $clientId")
    require(maxEntries == nChunks, s"fixed-array entries $maxEntries != grid $nChunks")
    FixedArrayMeta(clientId, entrySize, dataBlock)
  }

  /** Fixed Array chunk index ("FAHD" header → "FADB" data block): the
    * "latest"-format index for datasets with fixed maximum dims, read
    * whole on the driver with the block checksum verified. Single-page
    * data blocks only (pages appear above 2^pageBits entries). */
  private def fixedArrayChunks(r: Reader, ds: Dataset): Seq[Chunk] = {
    val (nChunks, origin) = chunkGrid(ds)
    val fa = fixedArrayMeta(r, ds, nChunks)
    r.seek(fa.dataBlock)
    require(new String(r.bytes(4), "ASCII") == "FADB", "bad fixed-array data block")
    val dver = r.u8(); require(dver == 0, s"fixed array data block v$dver")
    val out = fixedArrayEntries(r.raf, fa, 0L, nChunks.toInt, ds.chunkDims.product, origin)
    checkMeta(r, fa.dataBlock, "fixed-array data block")
    out.toSeq
  }

  /** Fixed-array entries `from until from + n`, read as one span of the
    * FADB entry list (after its 14-byte prefix: signature, version,
    * client id, header address). Entries are per-chunk addresses in
    * row-major grid order; filtered entries (client 1) add the stored
    * size, in the entry's remaining width, and a 4-byte filter mask. */
  private def fixedArrayEntries(raf: FsIo.SeekableData, fa: FixedArrayMeta, from: Long,
                                n: Int, chunkBytes: Long,
                                origin: Long => Seq[Long]): Array[Chunk] = {
    raf.seek(fa.dataBlock + 14 + from * fa.entrySize)
    val buf = new Array[Byte](n * fa.entrySize)
    raf.readFully(buf)
    val bb = java.nio.ByteBuffer.wrap(buf).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.tabulate(n) { i =>
      val p = i * fa.entrySize
      val stored =
        if (fa.clientId == 0) chunkBytes
        else (fa.entrySize - 8 - 4) match {
          case 1 => (bb.get(p + 8) & 0xFF).toLong
          case 2 => (bb.getShort(p + 8) & 0xFFFF).toLong
          case 4 => bb.getInt(p + 8).toLong & 0xFFFFFFFFL
          case 8 => bb.getLong(p + 8)
          case o => throw new IllegalArgumentException(s"stored-size width $o")
        }
      Chunk(bb.getLong(p), stored, origin(from + i))
    }
  }

  private def log2Floor(x: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(x)

  /** Parsed filter pipeline: ids in WRITE order plus szip's client data
    * (options mask, bits/pixel, pixels/block, pixels/scanline) when
    * present. */
  private[graft] final case class Pipeline(ids: Seq[Int],
                                           szipCd: Option[Seq[Int]],
                                           nbitCd: Option[Seq[Int]],
                                           soCd: Option[Seq[Int]] = None)

  /** Decode a filter-pipeline message body (object-header message 0x000B;
    * a filtered fractal heap embeds the same encoding in its header) at
    * the reader's position: returns the WRITE-order filter ids (and szip
    * parameters), throwing on filters the pure-JVM pipeline cannot
    * reverse. */
  private def parsePipeline(r: Reader, what: String): Pipeline = {
    val v = r.u8(); val n = r.u8()
    r.skip(if (v == 1) 6 else 0)
    val ids = scala.collection.mutable.ArrayBuffer.empty[Int]
    var szipCd: Option[Seq[Int]] = None
    var nbitCd: Option[Seq[Int]] = None
    var soCd: Option[Seq[Int]] = None
    var i = 0
    while (i < n) {
      val id = r.u16()
      val nameLen = if (v == 1 || id >= 256) r.u16() else 0
      r.skip(2) // flags
      val nVals = r.u16()
      r.skip(nameLen)
      if (id == FilterSzip) {
        require(nVals >= 4, s"szip filter in $what carries $nVals client values")
        szipCd = Some((0 until nVals).map(_ => r.u32().toInt))
        if (v == 1 && nVals % 2 == 1) r.skip(4)
      } else if (id == FilterNbit) {
        require(nVals >= 4, s"nbit filter in $what carries $nVals client values")
        nbitCd = Some((0 until nVals).map(_ => r.u32().toInt))
        if (v == 1 && nVals % 2 == 1) r.skip(4)
      } else if (id == FilterScaleoffset) {
        require(nVals >= 8,
          s"scaleoffset filter in $what carries $nVals client values")
        soCd = Some((0 until nVals).map(_ => r.u32().toInt))
        if (v == 1 && nVals % 2 == 1) r.skip(4)
      } else
        r.skip(4 * nVals + (if (v == 1 && nVals % 2 == 1) 4 else 0))
      require(id == FilterDeflate || id == FilterShuffle ||
          id == FilterFletcher32 || id == FilterSzip || id == FilterNbit ||
          id == FilterScaleoffset,
        s"unsupported filter $id in pipeline for $what " +
          "(only shuffle+deflate+fletcher32+szip+nbit+scaleoffset)")
      ids += id
      i += 1
    }
    Pipeline(ids.toSeq, szipCd, nbitCd, soCd)
  }

  /** Extensible Array chunk index ("EAHD" → "EAIB" index block →
    * "EASB"/"EADB" blocks) — the "latest"-format index for ONE unlimited
    * (appendable/record) dimension, netcdf-4/h5py's shape for growing
    * time series. Elements are per-chunk addresses in row-major grid
    * order, split across the index block (first `idxBlkElmts`), data
    * blocks of doubling sizes, and secondary blocks of data-block
    * pointers, per the superblock doubling scheme in the public spec's
    * extensible-array appendix: superblock `s` holds `2^(s/2)` data
    * blocks of `minElmts * 2^((s+1)/2)` elements each (so the first
    * `2*log2(minPtrs)` superblocks' blocks exactly fill the index
    * block's `2*(minPtrs-1)` direct address slots). Client 0 = plain
    * addresses; client 1 (filtered chunks) adds stored size + filter
    * mask per element. Data blocks beyond `2^pageBits` elements are
    * PAGED — header-only block followed by full element pages with
    * per-page checksums, with page-init bitmaps in the owning
    * secondary block. Every block's (and page's) checksum is verified. */
  private def extensibleArrayChunks(r: Reader, ds: Dataset): Seq[Chunk] = {
    r.seek(ds.chunkBtree)
    require(new String(r.bytes(4), "ASCII") == "EAHD", "bad extensible-array header")
    require(r.u8() == 0, "extensible array version")
    val clientId = r.u8()
    require(clientId == 0 || clientId == 1, s"extensible-array client $clientId")
    val elemSize = r.u8()
    val maxNelmtsBits = r.u8()
    val idxBlkElmts = r.u8()
    val minElmts = r.u8()      // data block min elements
    val minPtrs = r.u8()       // secondary block min data pointers
    val pageBits = r.u8()      // max data-block page elements (log2)
    r.skip(6 * 8)              // stats: nsblks, sblk size, ndblks, dblk size, max idx, nelmts
    val iblockAddr = r.u64()
    checkMeta(r, ds.chunkBtree, "extensible-array header")
    val arrOffSize = (maxNelmtsBits + 7) / 8
    // derived geometry (spec appendix / public H5EA layout)
    val nsblksHdr = 1 + (maxNelmtsBits - log2Floor(minElmts)) / 2
    val iblkNsblks = 2 * log2Floor(minPtrs)            // superblocks resolved via the index block
    val ndblkAddrsIblk = 2 * (minPtrs - 1)             // their data-block pointers
    val nsblkAddrs = nsblksHdr - iblkNsblks
    def ndblks(s: Int): Int = 1 << (s / 2)
    def dblkNelmts(s: Int): Long = minElmts.toLong << ((s + 1) / 2)

    val (gridChunks, origin) = chunkGrid(ds)
    val nChunks = gridChunks.toInt
    val chunkBytes = ds.chunkDims.product

    // index block: direct elements + data block addrs + secondary blk addrs
    r.seek(iblockAddr)
    require(new String(r.bytes(4), "ASCII") == "EAIB", "bad extensible-array index block")
    require(r.u8() == 0, "index block version")
    r.skip(1 + 8) // client id + header address
    def readElement(): Chunk = { // offsets patched by caller
      val addr = r.u64()
      if (clientId == 1) {
        val szWidth = elemSize - 8 - 4
        val stored = szWidth match {
          case 1 => r.u8().toLong
          case 2 => r.u16().toLong
          case 4 => r.u32()
          case 8 => r.u64()
          case o => throw new IllegalArgumentException(s"chunk-size width $o")
        }
        r.skip(4) // filter mask
        Chunk(addr, stored, Nil)
      } else Chunk(addr, chunkBytes, Nil)
    }
    val directElems = (0 until math.min(idxBlkElmts, nChunks)).map(_ => readElement())
    r.seek(iblockAddr + 4 + 1 + 1 + 8 + idxBlkElmts.toLong * elemSize)
    val dblkAddrs = (0 until ndblkAddrsIblk).map(_ => r.u64())
    val sblkAddrs = (0 until nsblkAddrs).map(_ => r.u64())
    checkMeta(r, iblockAddr, "extensible-array index block")

    // walk data blocks on demand, caching each once
    val dblkCache = scala.collection.mutable.Map.empty[Long, IndexedSeq[Chunk]]
    val sblkCache = scala.collection.mutable.Map.empty[Long, IndexedSeq[Long]]
    val pageNelmts = 1L << pageBits
    def readDataBlock(addr: Long, nelmts: Long): IndexedSeq[Chunk] =
      dblkCache.getOrElseUpdate(addr, {
        r.seek(addr)
        require(new String(r.bytes(4), "ASCII") == "EADB", "bad extensible-array data block")
        require(r.u8() == 0, "data block version")
        r.skip(1 + 8 + arrOffSize) // client id, header address, block offset
        if (nelmts <= pageNelmts) {
          val elems = (0L until nelmts).map(_ => readElement()).toIndexedSeq
          checkMeta(r, addr, "extensible-array data block")
          elems
        } else {
          // PAGED data block (the ≳10^5-chunk shape): the block proper is
          // just the header + checksum, and the elements live in pages of
          // `pageNelmts` elements + a 4-byte checksum each (over that
          // page's elements only), laid out directly after the block.
          // Both counts are powers of two, so every page is full-size.
          checkMeta(r, addr, "extensible-array paged data-block header")
          val hdrSize = 4 + 1 + 1 + 8 + arrOffSize + 4
          val pageSize = pageNelmts * elemSize + 4
          val npages = ((nelmts + pageNelmts - 1) / pageNelmts).toInt
          (0 until npages).iterator.flatMap { j =>
            val pageStart = addr + hdrSize + j.toLong * pageSize
            r.seek(pageStart)
            val inPage = math.min(pageNelmts, nelmts - j.toLong * pageNelmts)
            val elems = (0L until inPage).map(_ => readElement()).toIndexedSeq
            checkMeta(r, pageStart, "extensible-array data-block page")
            elems
          }.toIndexedSeq
        }
      })
    def readSecondaryBlock(addr: Long, s: Int): IndexedSeq[Long] =
      sblkCache.getOrElseUpdate(addr, {
        r.seek(addr)
        require(new String(r.bytes(4), "ASCII") == "EASB", "bad extensible-array secondary block")
        require(r.u8() == 0, "secondary block version")
        r.skip(1 + 8 + arrOffSize) // client id, header address, block offset
        // when this superblock's data blocks are paged, per-block
        // page-init bitmaps (one bit per page) precede the addresses
        val dnel = dblkNelmts(s)
        if (dnel > pageNelmts) {
          val npages = ((dnel + pageNelmts - 1) / pageNelmts).toInt
          r.skip(ndblks(s) * ((npages + 7) / 8))
        }
        val addrs = (0 until ndblks(s)).map(_ => r.u64()).toIndexedSeq
        checkMeta(r, addr, "extensible-array secondary block")
        addrs
      })

    (0 until nChunks).flatMap { idx =>
      val c =
        if (idx < idxBlkElmts) directElems(idx)
        else {
          val u = idx.toLong - idxBlkElmts
          val sblk = log2Floor(u / minElmts + 1)
          val within = u - minElmts.toLong * ((1L << sblk) - 1)
          val dnel = dblkNelmts(sblk)
          val dblkIdx = (within / dnel).toInt
          val withinD = (within % dnel).toInt
          val dblkAddr =
            if (sblk < iblkNsblks) {
              val pos = (0 until sblk).map(ndblks).sum + dblkIdx
              dblkAddrs(pos)
            } else {
              readSecondaryBlock(sblkAddrs(sblk - iblkNsblks), sblk)(dblkIdx)
            }
          readDataBlock(dblkAddr, dnel)(withinD)
        }
      // address 0xFFFF.. (-1) = chunk not yet allocated -> all fill; skip
      if (c.address == Undef) None else Some(Chunk(c.address, c.storedSize, origin(idx.toLong)))
    }
  }

  /** Version-2 B-tree chunk index ("BTHD" header → "BTIN"/"BTLF" nodes,
    * record types 10/11) — the "latest"-format index for datasets with
    * MORE than one unlimited dimension. Records carry the chunk address
    * plus SCALED offsets (grid coordinates, multiplied back to element
    * offsets here); type 11 adds stored size + filter mask for filtered
    * chunks. Any tree depth (see [[v2BtreeAll]]). */
  private def v2BtreeChunks(r: Reader, ds: Dataset): Seq[Chunk] = {
    val rank = ds.chunkDims.length - 1 // chunkDims carries trailing elem size
    val cdims = ds.chunkDims.dropRight(1)
    val chunkBytes = ds.chunkDims.product
    v2BtreeAll(r, ds.chunkBtree, t => t == 10 || t == 11) { (btType, recSize) => () =>
      val addr = r.u64()
      val stored =
        if (btType == 11) {
          val szWidth = recSize - 8 - 4 - 8 * rank
          val sz = szWidth match {
            case 1 => r.u8().toLong
            case 2 => r.u16().toLong
            case 3 => r.u16().toLong | (r.u8().toLong << 16)
            case 4 => r.u32()
            case 8 => r.u64()
            case o => throw new IllegalArgumentException(s"chunk-size width $o")
          }
          r.skip(4) // filter mask
          sz
        } else chunkBytes
      val offs = (0 until rank).map(i => r.u64() * cdims(i))
      Chunk(addr, stored, offs)
    }
  }

  /** Generic v2-B-tree record walk ("BTHD" header → "BTIN"/"BTLF"
    * nodes), shared by the chunk indexes (types 10/11) and the dense-
    * group name index (type 5). `mk(btType, recSize)` builds the
    * per-record reader, invoked with `r` positioned at each record;
    * leaf records and internal-node separator records are all returned
    * (order unspecified).
    *
    * ANY tree depth is walked. Child-pointer field widths follow the
    * public H5B2 capacity recurrence: the child record count is always
    * `encBytes(leafCapacity)` wide (the leaf is the widest node), and a
    * node at depth d > 1 adds a total-records-below field per child,
    * `encBytes(cumCapacity(d-1))` wide, where `cumCapacity(d) =
    * (cap(d)+1)*cumCapacity(d-1) + cap(d)` and `cap(d)` shrinks as the
    * pointers widen: `cap(d) = (nodeSize - 10 - ptr(d)) / (recSize +
    * ptr(d))`, `ptr(d) = 8 + encBytes(leafCap) + (d>1 ?
    * encBytes(cumCapacity(d-1)) : 0)`. Node checksums are verified. */
  private def v2BtreeAll[A](r: Reader, hdrAddr: Long, typeOk: Int => Boolean)
                           (mk: (Int, Int) => () => A): Seq[A] = {
    r.seek(hdrAddr)
    require(new String(r.bytes(4), "ASCII") == "BTHD", "bad v2 B-tree header")
    require(r.u8() == 0, "v2 B-tree version")
    val btType = r.u8()
    require(typeOk(btType), s"unexpected v2 B-tree type $btType")
    val nodeSize = r.u32()
    val recSize = r.u16()
    val depth = r.u16()
    r.skip(1 + 1) // split / merge percent
    val rootAddr = r.u64()
    val rootNrec = r.u16()
    r.skip(8) // total records in tree
    checkMeta(r, hdrAddr, "v2 B-tree header")

    def encBytes(x: Long): Int = math.max(1, (log2Floor(math.max(x, 1)) + 8) / 8)
    val leafCapacity = (nodeSize - 10) / recSize // sig+ver+type+checksum = 10
    val nrecWidth = encBytes(leafCapacity)
    // cumulative subtree capacities -> total-field widths per child depth
    val cumNrecSize = new Array[Int](depth + 1)
    var cumCap = leafCapacity.toLong
    for (d <- 1 to depth) {
      val ptr = 8 + nrecWidth + (if (d > 1) cumNrecSize(d - 1) else 0)
      val cap = (nodeSize - 10 - ptr) / (recSize + ptr)
      cumCap = (cap + 1).toLong * cumCap + cap
      cumNrecSize(d) = encBytes(cumCap)
    }
    val readRecord = mk(btType, recSize)
    def readVar(w: Int): Long =
      (0 until w).foldLeft((0L, 0)) { case ((acc, sh), _) =>
        (acc | (r.u8().toLong << sh), sh + 8)
      }._1

    def readLeaf(addr: Long, nrec: Int): Seq[A] = {
      r.seek(addr)
      require(new String(r.bytes(4), "ASCII") == "BTLF", "bad v2 B-tree leaf")
      require(r.u8() == 0, "leaf version")
      require(r.u8() == btType, "leaf type mismatch")
      val recs = (0 until nrec).map(_ => readRecord())
      checkMeta(r, addr, "v2 B-tree leaf")
      recs
    }
    def readNode(addr: Long, nrec: Int, d: Int): Seq[A] =
      if (d == 0) readLeaf(addr, nrec)
      else {
        r.seek(addr)
        require(new String(r.bytes(4), "ASCII") == "BTIN", "bad v2 B-tree internal node")
        require(r.u8() == 0, "internal version")
        require(r.u8() == btType, "internal type mismatch")
        // read this node fully before recursing (recursion re-seeks r)
        val records = (0 until nrec).map(_ => readRecord())
        val children = (0 to nrec).map { _ =>
          val a = r.u64()
          val n = readVar(nrecWidth).toInt
          if (d > 1) readVar(cumNrecSize(d - 1)) // total below; not needed
          (a, n)
        }
        checkMeta(r, addr, "v2 B-tree internal node")
        children.zipWithIndex.flatMap { case ((a, n), i) =>
          readNode(a, n, d - 1) ++ (if (i < records.size) Seq(records(i)) else Nil)
        }
      }
    readNode(rootAddr, rootNrec, depth)
  }

  private def collectChunks(r: Reader, addr: Long, rank: Int): Seq[Chunk] = {
    r.seek(addr)
    require(new String(r.bytes(4), "ASCII") == "TREE", "bad chunk B-tree signature")
    val nodeType = r.u8(); val level = r.u8()
    require(nodeType == 1, s"expected chunk B-tree (type 1), got $nodeType")
    val used = r.u16()
    r.skip(8 + 8)
    (0 until used).flatMap { _ =>
      val storedSize = r.u32()
      r.skip(4) // filter mask
      val offs = (0 until rank).map(_ => r.u64())
      val child = r.u64()
      val here = r.pos
      val res =
        if (level > 0) collectChunks(r, child, rank)
        else Seq(Chunk(child, storedSize, offs))
      r.seek(here)
      res
    }
  }

  // ---------------- executor-parallel data read ----------------

  private def decode(bytes: Array[Byte], dtClass: Int, dtSize: Int,
                     little: Boolean, n: Int): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(byteOrder(little))
    Array.tabulate(n) { i =>
      (dtClass, dtSize) match {
        case (1, 8) => bb.getDouble(i * 8)
        case (1, 4) => bb.getFloat(i * 4).toDouble
        case (0, 8) => bb.getLong(i * 8).toDouble
        case (0, 4) => bb.getInt(i * 4).toDouble
        case (0, 2) => bb.getShort(i * 2).toDouble
        case (0, 1) => bb.get(i).toDouble
        case other  => throw new IllegalArgumentException(s"datatype $other")
      }
    }
  }

  /** Compound (class 6) member table, datatype-message versions 1-3:
    * v1/v2 names are null-terminated and padded to 8, v3 names are
    * packed; v1 carries 32 bytes of array-member fields (skipped); v3
    * stores the byte offset in the fewest bytes that hold the compound
    * size. Atomic members only — fixed-point, IEEE float, fixed-length
    * string; anything else fails loudly rather than misreads. */
  private def parseCompoundMembers(r: Reader, version: Int, n: Int,
                                   compoundSize: Int): Seq[Member] = {
    def cstr(padTo8: Boolean): String = {
      val sb = new StringBuilder
      var c = r.u8(); var len = 1
      while (c != 0) { sb.append(c.toChar); c = r.u8(); len += 1 }
      if (padTo8 && len % 8 != 0) r.skip(8 - len % 8)
      sb.toString
    }
    val offBytes =
      if (compoundSize < 256) 1
      else if (compoundSize < 65536) 2
      else if (compoundSize < (1 << 24)) 3 else 4
    (0 until n).map { _ =>
      val name = cstr(padTo8 = version < 3)
      val off =
        if (version == 3) {
          var acc = 0L; var sh = 0
          (0 until offBytes).foreach { _ => acc |= r.u8().toLong << sh; sh += 8 }
          acc.toInt
        } else r.u32().toInt
      if (version == 1) r.skip(1 + 3 + 4 + 4 + 16) // array-member fields
      parseMemberType(r, name, off)
    }
  }

  /** One member's datatype message at the cursor — atomic (fixed-point /
    * float / fixed string), NESTED compound (class 6: the member table
    * recurses with the nested type's own version), or ARRAY (class 10:
    * v2 carries reserved bytes and permutation indices the library always
    * writes as identity; v3 is just ndims + dims; the base datatype
    * message follows and may itself be compound or array). */
  private def parseMemberType(r: Reader, name: String, off: Int): Member = {
    val cv = r.u8(); val cls = cv & 0x0F; val ver = cv >> 4
    val b0 = r.u8(); val b1 = r.u8(); r.skip(1)
    val sz = r.u32().toInt
    cls match {
      case 0 => r.skip(4); Member(name, off, 0, sz, (b0 & 1) == 0)  // bit offset + precision
      case 1 => r.skip(12); Member(name, off, 1, sz, (b0 & 1) == 0) // bit/exp/mant layout, bias
      case 3 => Member(name, off, 3, sz, little = true)             // string: no properties
      case 6 =>
        val kids = parseCompoundMembers(r, ver, b0 | (b1 << 8), sz)
        Member(name, off, 6, sz, little = true, children = kids)
      case 10 =>
        val ndims = r.u8()
        if (ver == 2) r.skip(3) // reserved
        val dims = (0 until ndims).map(_ => r.u32().toInt)
        if (ver == 2) r.skip(4 * ndims) // permutation indices (identity)
        val base = parseMemberType(r, "", 0)
        Member(name, off, 10, sz, little = true, children = Seq(base),
          arrayDims = dims)
      case other => throw new IllegalArgumentException(
        s"unsupported compound member class $other")
    }
  }

  // ---------------- executor-side cell walk and the element readers ----------------

  /** The dataset `name` in `path`; a missing name lists the ones present. */
  private def dataset(path: String, name: String): Dataset = {
    val all = readMeta(path)
    all.find(_.name == name).getOrElse(throw new NoSuchElementException(
      s"no dataset '$name' in $path; have: ${all.map(_.name).mkString(", ")}"))
  }

  /** The executor-side cell walk every element reader shares: each
    * in-bounds cell as (indices, value), where `block` turns the raw bytes
    * of consecutive cells into a cell-index → value function. Contiguous
    * and compact data (layouts 1 and 0) are range-partitioned over the
    * flat cell index; a partition seeks once and reads its cells one after
    * another through `SeekableData`'s window, one cell per block, so it
    * streams in bounded memory. Chunked data (layout 2) takes each record
    * of [[chunkRdd]]: stored bytes, [[defilter]], one block per chunk,
    * unraveled row-major, offset to global indices and clipped past the
    * dataspace edge (edge chunks store a full grid). */
  private def cellWalk[T](spark: SparkSession, path: String, ds: Dataset)
                         (block: Array[Byte] => Int => T)
      : org.apache.spark.rdd.RDD[(Array[Long], T)] = {
    val snap = FsIo.snapshot(spark) // executor reads go through Hadoop FS
    val dims = ds.dims.toArray
    val esz = ds.dtSize
    ds.layoutClass match {
      case 0 | 1 =>
        val addr = ds.dataAddress
        val total = dims.product
        val slices = math.max(1L, math.min(total,
          spark.sparkContext.defaultParallelism.toLong * 2)).toInt
        spark.sparkContext.range(0L, total, numSlices = slices).mapPartitions { it =>
          if (!it.hasNext) Iterator.empty
          else {
            val cells = it.buffered
            val raf = FsIo.openSeekable(snap.value, path)
            raf.seek(addr + cells.head * esz)
            closing(raf)(cells.map { flat =>
              val b = new Array[Byte](esz)
              raf.readFully(b)
              (unravel(flat, dims), block(b)(0))
            })
          }
        }
      case 2 =>
        val cdims = ds.chunkDims.dropRight(1).toArray // last entry = element size
        val chunkElems = cdims.product.toInt
        val (filters, szipCd, nbitCd, soCd) = (ds.filters, ds.szipCd, ds.nbitCd, ds.soCd)
        chunkRdd(spark, path, ds).flatMap { c =>
          val raf = FsIo.openSeekable(snap.value, path)
          val stored = try {
            raf.seek(c.address)
            val b = new Array[Byte](c.storedSize.toInt)
            raf.readFully(b)
            b
          } finally raf.close()
          val value = block(defilter(stored, filters, chunkElems * esz, esz,
            szipCd, nbitCd, soCd))
          (0 until chunkElems).iterator.flatMap { flat =>
            val idx = unravel(flat.toLong, cdims)
            var inBounds = true
            var j = 0
            while (j < idx.length) {
              idx(j) += c.offsets(j)
              if (idx(j) >= dims(j)) inBounds = false
              j += 1
            }
            if (inBounds) Some((idx, value(flat))) else None
          }
        }
      case other => throw new IllegalArgumentException(s"layout class $other")
    }
  }

  /** `it`, closing `c` once it is exhausted. */
  private def closing[A](c: AutoCloseable)(it: Iterator[A]): Iterator[A] = new Iterator[A] {
    def hasNext: Boolean = { val h = it.hasNext; if (!h) c.close(); h }
    def next(): A = it.next()
  }

  /** A walked reader's (i0…, value) projection of `_1`'s indices and `_2`. */
  private def cellFrame(raw: DataFrame, rank: Int): DataFrame =
    raw.select((0 until rank).map(i => col("_1")(i).cast("int").as(s"i$i")) :+
      col("_2").as("value"): _*)

  private def byteOrder(little: Boolean): java.nio.ByteOrder =
    if (little) java.nio.ByteOrder.LITTLE_ENDIAN else java.nio.ByteOrder.BIG_ENDIAN

  /** A 16-byte variable-length descriptor (hvl_t): element count, global
    * heap collection address, object index. A 0-length cell has a null
    * descriptor and no heap object. */
  private final case class VlenRef(len: Int, addr: Long, idx: Int)

  private def vlenRef(bb: java.nio.ByteBuffer, at: Int): VlenRef =
    VlenRef(bb.getInt(at), bb.getLong(at + 4), bb.getInt(at + 12))

  /** Block decoder of back-to-back descriptors in byte order `little`. */
  private def vlenRefs(little: Boolean): Array[Byte] => Int => VlenRef = { b =>
    val bb = java.nio.ByteBuffer.wrap(b).order(byteOrder(little))
    i => vlenRef(bb, i * 16)
  }

  private def vlenString(obj: Array[Byte], len: Int): String =
    new String(obj, 0, math.min(len, obj.length), java.nio.charset.StandardCharsets.UTF_8)

  /** One partition's global-heap resolver: each collection (GCOL) is read
    * once, through one handle opened on first use. */
  private final class Heap(conf: Configuration, path: String) extends AutoCloseable {
    private var r: Reader = null
    private val cols = scala.collection.mutable.Map.empty[Long, Map[Int, Array[Byte]]]
    def apply(ref: VlenRef): Array[Byte] = {
      if (r == null) r = new Reader(conf, path)
      cols.getOrElseUpdate(ref.addr, readGcol(r, ref.addr)).getOrElse(ref.idx,
        throw new IllegalArgumentException(
          s"global heap object ${ref.idx} missing in collection at ${ref.addr}"))
    }
    /** A VLEN string's text ("" for the null descriptor). */
    def string(ref: VlenRef): String = if (ref.len == 0) "" else vlenString(apply(ref), ref.len)
    def close(): Unit = if (r != null) r.close()
  }

  /** `cells` mapped through `f` with one [[Heap]] per partition, closed
    * when the partition is exhausted. */
  private def withHeap[A, B: scala.reflect.ClassTag](spark: SparkSession, path: String,
                                                     cells: org.apache.spark.rdd.RDD[A])
                                                    (f: (Heap, A) => B)
      : org.apache.spark.rdd.RDD[B] = {
    val snap = FsIo.snapshot(spark) // executor heap reads go through Hadoop FS
    cells.mapPartitions { it =>
      val heap = new Heap(snap.value, path)
      closing(heap)(it.map(f(heap, _)))
    }
  }

  /** One global-heap collection (GCOL) as index → object bytes. */
  private def readGcol(r: Reader, addr: Long): Map[Int, Array[Byte]] = {
    r.seek(addr)
    require(new String(r.bytes(4), "ASCII") == "GCOL", s"no GCOL at $addr")
    require(r.u8() == 1, "global heap version")
    r.skip(3)
    val size = r.u64()
    var off = 16L
    val out = scala.collection.mutable.Map.empty[Int, Array[Byte]]
    var done = false
    while (!done && off + 16 <= size) {
      val idx = r.u16()
      r.skip(6) // ref count + reserved
      val osz = r.u64()
      if (idx == 0) done = true // free-space object: rest of collection
      else {
        out(idx) = r.bytes(osz.toInt)
        val pad = ((8 - osz % 8) % 8).toInt
        r.skip(pad)
        off += 16 + osz + pad
      }
    }
    out.toMap
  }

  /** A fixed-length string: `n` bytes at `off`, cut at the first NUL. */
  private def fixedStr(b: Array[Byte], off: Int, n: Int): String = {
    var e = off
    while (e < off + n && b(e) != 0) e += 1
    new String(b, off, e - off, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Fixed-length (class 3) and variable-length string (class 9 over
    * strings) datasets as (i0…, value STRING). VLEN elements are
    * descriptors resolved through the partition's [[Heap]], so the driver
    * still touches only metadata. */
  def readStrings(spark: SparkSession, path: String, name: String): DataFrame = {
    val ds = dataset(path, name)
    require(ds.dtClass == 3 || (ds.dtClass == 9 && ds.vlenStr),
      s"$name is class ${ds.dtClass}, not a string dataset")
    val esz = ds.dtSize
    val rdd =
      if (ds.dtClass == 3) cellWalk(spark, path, ds)(b => i => fixedStr(b, i * esz, esz))
      else withHeap(spark, path, cellWalk(spark, path, ds)(vlenRefs(ds.littleEndian))) {
        case (heap, (idx, ref)) => (idx, heap.string(ref))
      }
    import spark.implicits._
    cellFrame(rdd.toDS().toDF(), ds.dims.length)
  }

  /** Variable-length SEQUENCE (class 9 over a numeric or fixed-string
    * base) datasets as (i0…, value ARRAY): integer bases become
    * ARRAY<LONG>, float bases ARRAY<DOUBLE>, fixed-string bases
    * ARRAY<STRING> (null-padding stripped — the `vlen_dtype(S n)` shape
    * a list-of-tags column serialises to). Each cell is the same
    * 16-byte descriptor VLEN strings use; the heap object holds `length`
    * base elements back to back, and a 0-length cell has a null
    * descriptor (no heap object). Collections are read executor-side
    * through the partition's [[Heap]], so the driver still touches only
    * metadata.
    *
    * NESTED VLEN bases (r12, one level): a base of class 9 makes each
    * cell a ragged list whose heap object holds `length` 16-byte INNER
    * descriptors (same hvl_t layout as the cell's own). An inner
    * vlen-STRING base reads as ARRAY<STRING> (each inner object is the
    * string's bytes — h5py's `vlen=str` list columns); an inner vlen
    * SEQUENCE over an atomic base reads as ARRAY<ARRAY<LONG|DOUBLE>>.
    * Deeper nesting is rejected loudly. */
  def readVlen(spark: SparkSession, path: String, name: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val ds = dataset(path, name)
    require(ds.dtClass == 9 && !ds.vlenStr,
      s"$name is not a VLEN sequence dataset (class ${ds.dtClass})")
    val base = ds.vlenBase.getOrElse(
      throw new IllegalArgumentException(s"$name has no parsed VLEN base type"))
    val nested = base.cls == 9
    // the element-decode target: the base itself, or for nested VLEN the
    // inner base (class 3 with size 0 marks an inner vlen STRING)
    val elemT = if (nested) base.children.headOption.getOrElse(
      throw new IllegalArgumentException(s"$name: nested VLEN base has no inner type"))
    else base
    require(elemT.cls == 0 || elemT.cls == 1 || elemT.cls == 3,
      s"VLEN ${if (nested) "inner " else ""}base class ${elemT.cls} unsupported " +
        "(atomic int/float/fixed-string only; deeper VLEN nesting out of scope)")
    val innerVlenStr = nested && elemT.cls == 3 && elemT.size == 0
    require(innerVlenStr || (
        if (elemT.cls == 3) elemT.size >= 1
        else Set(1, 2, 4, 8).contains(elemT.size) && (elemT.cls == 0 || elemT.size >= 4)),
      s"VLEN base size ${elemT.size} unsupported for class ${elemT.cls}")
    require(!nested || base.size == 16,
      s"$name: nested VLEN descriptor size ${base.size}, expected 16")
    val descriptors = vlenRefs(ds.littleEndian) // file metadata order: little
    // one FLAT sequence of `len` atomic/fixed-string elements
    def decodeSeq(data: Array[Byte], len: Int): Seq[Any] = {
      require(data.length >= len * elemT.size,
        s"heap object holds ${data.length} bytes for $len x ${elemT.size}-byte elements")
      val bb = java.nio.ByteBuffer.wrap(data)
      (0 until len).map(i => decodeMember(data, bb, elemT, i * elemT.size))
    }
    val rows = withHeap(spark, path, cellWalk(spark, path, ds)(descriptors)) {
      case (heap, (idx, ref)) =>
        val elems: Seq[Any] =
          if (ref.len == 0) Nil
          else if (!nested) decodeSeq(heap(ref), ref.len)
          else {
            // outer object = len inner descriptors
            val outer = heap(ref)
            require(outer.length >= ref.len * 16,
              s"nested VLEN object holds ${outer.length} bytes for ${ref.len} descriptors")
            val inner = descriptors(outer)
            (0 until ref.len).map { i =>
              val in = inner(i)
              if (innerVlenStr) heap.string(in)
              else if (in.len == 0) Nil
              else decodeSeq(heap(in), in.len)
            }
          }
        Row.fromSeq(idx.map(_.toInt).toSeq :+ elems)
    }
    val elemType: DataType =
      if (elemT.cls == 3) StringType else if (elemT.cls == 1) DoubleType else LongType
    val valueType: DataType =
      if (!nested) ArrayType(elemType)
      else if (innerVlenStr) ArrayType(StringType)
      else ArrayType(ArrayType(elemType))
    val schema = StructType(
      (0 until ds.dims.length).map(i => StructField(s"i$i", IntegerType, nullable = false)) :+
        StructField("value", valueType))
    spark.createDataFrame(rows, schema)
  }

  /** Compound (class 6) datasets as (i0…, one column per member):
    * fixed-point members become LONG, floats DOUBLE, fixed strings
    * STRING — the member offsets come straight from the datatype
    * message, so padding/packing is irrelevant. */
  def readCompound(spark: SparkSession, path: String, name: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val ds = dataset(path, name)
    require(ds.dtClass == 6 && ds.members.nonEmpty,
      s"$name is class ${ds.dtClass}, not a compound dataset")
    val members = ds.members
    val esz = ds.dtSize
    val rows = cellWalk(spark, path, ds) { b =>
      val bb = java.nio.ByteBuffer.wrap(b)
      i => members.map(m => decodeMember(b, bb, m, i * esz + m.offset))
    }.map { case (idx, vs) => Row.fromSeq(idx.map(_.toInt).toSeq ++ vs) }
    val schema = StructType(
      (0 until ds.dims.length).map(i => StructField(s"i$i", IntegerType, nullable = false)) ++
      members.map(m => StructField(m.name, memberDataType(m), nullable = false)))
    spark.createDataFrame(rows, schema)
  }

  /** Recursive member decode (executor-side, object-level so RDD closures
    * capture nothing beyond the member tree): nested-compound offsets are
    * relative to their struct's start (`at` accumulates them); arrays
    * flatten their base type row-major at stride base.size. */
  private def decodeMember(b: Array[Byte], bb: java.nio.ByteBuffer,
                           m: Member, at: Int): Any = {
    import org.apache.spark.sql.Row
    bb.order(byteOrder(m.little))
    (m.cls, m.size) match {
      case (1, 8) => bb.getDouble(at)
      case (1, 4) => bb.getFloat(at).toDouble
      case (0, 8) => bb.getLong(at)
      case (0, 4) => bb.getInt(at).toLong
      case (0, 2) => bb.getShort(at).toLong
      case (0, 1) => bb.get(at).toLong
      case (3, n) => fixedStr(b, at, n)
      case (6, _) =>
        Row.fromSeq(m.children.map(k => decodeMember(b, bb, k, at + k.offset)))
      case (10, _) =>
        val base = m.children.head
        val n = m.arrayDims.product
        (0 until n).map(i => decodeMember(b, bb, base, at + i * base.size))
      case other => throw new IllegalArgumentException(s"member type $other")
    }
  }

  private def memberDataType(m: Member): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    m.cls match {
      case 0 => LongType
      case 1 => DoubleType
      case 3 => StringType
      case 6 => StructType(m.children.map(k =>
        StructField(k.name, memberDataType(k), nullable = false)))
      case 10 => ArrayType(memberDataType(m.children.head), containsNull = false)
      case other => throw new IllegalArgumentException(s"member class $other")
    }
  }

  /** Jenkins lookup3 "hashlittle" (Bob Jenkins 2006, public domain) — the
    * metadata checksum of every "latest"-format HDF5 structure
    * (H5_checksum_metadata: hashlittle over the structure's bytes with
    * initval 0, stored little-endian). 12-byte blocks consumed as three
    * little-endian 32-bit words through the mix rounds; the 1–12-byte
    * tail accumulates byte-by-byte and runs the final rounds, except an
    * empty tail, which returns `c` unmixed — exactly the published
    * reference behavior (pinned by its self-test vectors in Hdf5Spec). */
  private[graft] def lookup3(buf: Array[Byte], off: Int, len: Int, init: Int): Int = {
    @inline def rot(x: Int, k: Int) = Integer.rotateLeft(x, k)
    @inline def u(i: Int) = buf(i) & 0xFF
    var a = 0xdeadbeef + len + init
    var b = a; var c = a
    var p = off; var rem = len
    while (rem > 12) {
      a += u(p) | (u(p + 1) << 8) | (u(p + 2) << 16) | (u(p + 3) << 24)
      b += u(p + 4) | (u(p + 5) << 8) | (u(p + 6) << 16) | (u(p + 7) << 24)
      c += u(p + 8) | (u(p + 9) << 8) | (u(p + 10) << 16) | (u(p + 11) << 24)
      a -= c; a ^= rot(c, 4); c += b
      b -= a; b ^= rot(a, 6); a += c
      c -= b; c ^= rot(b, 8); b += a
      a -= c; a ^= rot(c, 16); c += b
      b -= a; b ^= rot(a, 19); a += c
      c -= b; c ^= rot(b, 4); b += a
      p += 12; rem -= 12
    }
    if (rem == 0) return c
    if (rem >= 12) c += u(p + 11) << 24
    if (rem >= 11) c += u(p + 10) << 16
    if (rem >= 10) c += u(p + 9) << 8
    if (rem >= 9) c += u(p + 8)
    if (rem >= 8) b += u(p + 7) << 24
    if (rem >= 7) b += u(p + 6) << 16
    if (rem >= 6) b += u(p + 5) << 8
    if (rem >= 5) b += u(p + 4)
    if (rem >= 4) a += u(p + 3) << 24
    if (rem >= 3) a += u(p + 2) << 16
    if (rem >= 2) a += u(p + 1) << 8
    a += u(p)
    c ^= b; c -= rot(b, 14)
    a ^= c; a -= rot(c, 11)
    b ^= a; b -= rot(a, 25)
    c ^= b; c -= rot(b, 16)
    a ^= c; a -= rot(c, 4)
    b ^= a; b -= rot(a, 14)
    c ^= b; c -= rot(b, 24)
    c
  }

  /** Verify the trailing 4-byte lookup3 checksum of a "latest"-format
    * metadata structure. Call with the cursor AT the checksum field;
    * `start` is the structure's first byte (its signature). Corruption is
    * loud, never a misread; leaves the cursor just past the field. */
  private def checkMeta(r: Reader, start: Long, what: String): Unit = {
    val end = r.pos
    val stored = r.u32().toInt
    val after = r.pos
    r.seek(start)
    val img = r.bytes((end - start).toInt)
    val computed = lookup3(img, 0, img.length, 0)
    if (stored != computed) throw new java.io.IOException(
      f"$what metadata checksum mismatch: stored 0x$stored%08x, computed 0x$computed%08x")
    r.seek(after)
  }

  /** Fletcher-32 checksum as HDF5 computes it (H5_checksum_fletcher32 in
    * the public source): data consumed as BIG-endian 16-bit words, running
    * 32-bit sums folded every 360 words to avoid overflow, an odd trailing
    * byte treated as the high byte of a final word, result
    * (sum2 << 16) | sum1. */
  private[graft] def fletcher32(data: Array[Byte], len: Int): Int = {
    var sum1 = 0L; var sum2 = 0L
    var i = 0
    val pairs = len / 2
    var remaining = pairs
    while (remaining > 0) {
      var tlen = math.min(remaining, 360)
      remaining -= tlen
      while (tlen > 0) {
        sum1 += ((data(i) & 0xFF) << 8) | (data(i + 1) & 0xFF)
        sum2 += sum1
        i += 2; tlen -= 1
      }
      sum1 = (sum1 & 0xFFFF) + (sum1 >>> 16)
      sum2 = (sum2 & 0xFFFF) + (sum2 >>> 16)
    }
    if (len % 2 == 1) {
      sum1 += (data(len - 1) & 0xFF) << 8
      sum2 += sum1
      sum1 = (sum1 & 0xFFFF) + (sum1 >>> 16)
      sum2 = (sum2 & 0xFFFF) + (sum2 >>> 16)
    }
    sum1 = (sum1 & 0xFFFF) + (sum1 >>> 16)
    sum2 = (sum2 & 0xFFFF) + (sum2 >>> 16)
    ((sum2 << 16) | sum1).toInt
  }

  /** Verify and strip the fletcher32 trailer (4 bytes after the data).
    * The checksum is stored little-endian; pre-1.6.3 libraries wrote it
    * byte-reversed, so (as the HDF5 filter itself does) the reversed order
    * is accepted too. Corruption is a loud IOException, never a misread. */
  private[graft] def stripFletcher32(buf: Array[Byte]): Array[Byte] = {
    require(buf.length >= 4, s"fletcher32 chunk shorter than its checksum (${buf.length}B)")
    val n = buf.length - 4
    val stored = (buf(n) & 0xFF) | ((buf(n + 1) & 0xFF) << 8) |
      ((buf(n + 2) & 0xFF) << 16) | ((buf(n + 3) & 0xFF) << 24)
    val swapped = Integer.reverseBytes(stored)
    val computed = fletcher32(buf, n)
    if (computed != stored && computed != swapped)
      throw new java.io.IOException(
        f"fletcher32 checksum mismatch: stored 0x$stored%08x, computed 0x$computed%08x")
    java.util.Arrays.copyOfRange(buf, 0, n)
  }

  private[graft] val FilterDeflate = 1
  private[graft] val FilterShuffle = 2
  private[graft] val FilterFletcher32 = 3
  private[graft] val FilterSzip = 4
  private[graft] val FilterNbit = 5
  private[graft] val FilterScaleoffset = 6

  /** Reverse a chunk's filter pipeline: `filters` is the WRITE-order list
    * from the pipeline message; reading applies the inverses back-to-front.
    * Each fletcher32 that ran EARLIER in write order than a deflate leaves
    * its 4-byte trailer inside that deflate's payload, so the inflate
    * target length accounts for the trailers still buried beneath it —
    * this handles both pipelines in the wild: netCDF4-python's
    * [fletcher32, shuffle, deflate] (checksum over raw data) and h5py's
    * [shuffle, deflate, fletcher32] (checksum over compressed bytes). */
  private[graft] def defilter(stored: Array[Byte], filters: Seq[Int],
                              rawLen: Int, esz: Int,
                              szipCd: Option[Seq[Int]] = None,
                              nbitCd: Option[Seq[Int]] = None,
                              soCd: Option[Seq[Int]] = None): Array[Byte] = {
    var buf = stored
    var i = filters.length - 1
    while (i >= 0) {
      filters(i) match {
        case FilterDeflate =>
          val buried = filters.take(i).count(_ == FilterFletcher32)
          buf = inflate(buf, rawLen + 4 * buried)
        case FilterShuffle =>
          // shuffle transposed whatever it was handed — including a buried
          // checksum trailer, whose 4 bytes join the element grid when esz
          // divides them and ride the pass-through tail otherwise; the
          // length-generic unshuffle reverses both cases exactly
          buf = unshuffle(buf, esz)
        case FilterFletcher32 =>
          buf = stripFletcher32(buf)
        case FilterSzip =>
          // H5Zszip framing: [u32 LE original byte count][raw CCSDS-121
          // stream]; parameters ride the pipeline message client data
          buf = Szip.decodeHdf5Chunk(buf, szipCd.getOrElse(
            throw new IllegalArgumentException(
              "szip filter without client-data parameters")))
        case FilterNbit =>
          // bit-packed reduced-precision elements; all parameters ride the
          // pipeline message client data, the chunk is pure bitstream
          buf = Nbit.decode(buf, nbitCd.getOrElse(
            throw new IllegalArgumentException(
              "nbit filter without client-data parameters")), rawLen)
        case FilterScaleoffset =>
          // 13-byte (minbits, minval) header + MSB-first packed codes;
          // datatype/scale/fill parameters ride the client data
          buf = Scaleoffset.decode(buf, soCd.getOrElse(
            throw new IllegalArgumentException(
              "scaleoffset filter without client-data parameters")), rawLen)
        case other =>
          throw new IllegalArgumentException(s"unsupported filter id $other")
      }
      i -= 1
    }
    buf
  }

  /** Undo the HDF5 shuffle filter (id 2): stored layout is
    * [all 1st bytes][all 2nd bytes]… of each `size`-byte element, a
    * transposition that helps deflate find runs (the same transposition
    * as Blosc's byte shuffle, whose kernel this runs). netCDF4-python's
    * `zlib=True, shuffle=True` default pairing makes this the single
    * most common filter pipeline in the wild. */
  private[graft] def unshuffle(in: Array[Byte], size: Int): Array[Byte] =
    if (size <= 1) in
    else {
      val out = new Array[Byte](in.length)
      Blosc.unshuffle(size, in, out, 0, in.length)
      out
    }

  private[graft] def inflate(in: Array[Byte], outLen: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(in)
    val out = new Array[Byte](outLen)
    var off = 0
    // A truncated/corrupt chunk makes Inflater return 0 with finished()
    // still false and no more input to give — without the check the task
    // would spin forever instead of failing.
    while (off < outLen && !inf.finished()) {
      val n = inf.inflate(out, off, outLen - off)
      if (n == 0) {
        inf.end()
        throw new java.io.IOException(
          s"corrupt deflate chunk: inflater stalled at $off/$outLen bytes " +
            s"(needsInput=${inf.needsInput()}, needsDictionary=${inf.needsDictionary()})")
      }
      off += n
    }
    inf.end()
    out
  }

  /** One dataset as a long-format DataFrame: one INT column per dimension
    * (`i0`, `i1`, …) + `value` DOUBLE, read through [[cellWalk]] and
    * CF-unpacked (fill → NULL, then scale/offset) with the same contract
    * as [[NetCDF.readVariable]]. */
  def readVariable(spark: SparkSession, path: String, name: String): DataFrame = {
    val ds = dataset(path, name)
    import spark.implicits._
    val (dtClass, dtSize, little) = (ds.dtClass, ds.dtSize, ds.littleEndian)
    val raw: org.apache.spark.sql.Dataset[(Array[Long], Double)] =
      cellWalk(spark, path, ds) { b =>
        val vals = decode(b, dtClass, dtSize, little, b.length / dtSize)
        vals(_)
      }.toDS()
    NetCDF.cfUnpack(cellFrame(raw.toDF(), ds.dims.length),
      ds.attrs.get("_FillValue").orElse(ds.attrs.get("missing_value")),
      ds.attrs.getOrElse("scale_factor", 1.0), ds.attrs.getOrElse("add_offset", 0.0))
  }

  /** Convert every dataset to a long-format parquet lake (the NetCDF-4
    * twin of `NetCDF.toParquetLake`; dimension identity is by dataset
    * name, as in netCDF-4's dimension-scale convention). */
  def toParquetLake(spark: SparkSession, h5Path: String, outDir: String,
                    decodeTimes: Boolean = false): Seq[String] = {
    readMeta(h5Path).map { ds =>
      val df = ds.dtClass match {
        case 3            => readStrings(spark, h5Path, ds.name)
        case 9 if ds.vlenStr => readStrings(spark, h5Path, ds.name)
        case 9            => readVlen(spark, h5Path, ds.name)
        case 6            => readCompound(spark, h5Path, ds.name)
        case _ if decodeTimes &&
            ds.strAttrs.get("units").exists(_.contains(" since ")) =>
          readTimeCoordinate(spark, h5Path, ds.name)
        case _            => readVariable(spark, h5Path, ds.name)
      }
      df.write.mode("overwrite").parquet(s"$outDir/${ds.name}")
      ds.name
    }
  }

  /** A CF-ENCODED time coordinate in an HDF5-backed (netCDF-4) file —
    * `units`/`calendar` read from the dataset's STRING attributes, which
    * netCDF-4 stores as vlen global-heap text (h5py's default) or fixed
    * width; decode per [[CfTime.decode]]. Twin of
    * [[NetCDF.readTimeCoordinate]] / [[Zarr.readTimeCoordinate]]. */
  def readTimeCoordinate(spark: SparkSession, path: String, name: String): DataFrame = {
    val ds = dataset(path, name)
    val units = ds.strAttrs.getOrElse("units", throw new IllegalArgumentException(
      s"$name: no 'units' string attribute — not a CF time coordinate"))
    CfTime.decode(readVariable(spark, path, name), "value", units,
      ds.strAttrs.getOrElse("calendar", "standard"))
  }
}
