package graft.sources

import java.io.FileOutputStream
import java.nio.{ByteBuffer, ByteOrder}

/** The byte encodings of HDF5's "latest" file generation (superblock v3,
  * OHDR v2 object headers, v3 attributes, layout v4, v2 filter
  * pipelines), written from the public format specification, for the
  * planted query fixtures (`Hdf5Planted*`) and the reader's spec
  * fixtures.
  *
  * Scope: only that generation, and only the structures that two or
  * more of those fixtures build; it is not a general HDF5 writer. A
  * structure one fixture builds (extensible-array, v2 B-tree and
  * fractal-heap blocks, one-off datatypes) stays in that fixture.
  *
  * The reader [[Hdf5]] must not call this object: its tests check it
  * against bytes encoded apart from the code that decodes them, so a
  * misreading of the specification is not mirrored on both sides.
  *
  * Datatype, dataspace, link and filter-pipeline functions return a
  * message BODY, because bodies also nest inside other structures;
  * [[message]] adds the v2 message header. Layout and attribute
  * functions return whole messages. */
private[graft] object Hdf5Bytes {

  def buf(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
  def cat(parts: Array[Byte]*): Array[Byte] = parts.flatten.toArray
  def ascii(s: String): Array[Byte] = s.getBytes("ASCII")

  def f64s(vs: Double*): Array[Byte] = { val b = buf(8 * vs.length); vs.foreach(b.putDouble); b.array() }
  def i32s(vs: Int*): Array[Byte] = { val b = buf(4 * vs.length); vs.foreach(b.putInt); b.array() }
  /** Fixed-width, null-padded ASCII strings. */
  def fixedStrings(width: Int, ss: String*): Array[Byte] = cat(ss.map { s =>
    val b = new Array[Byte](width); ascii(s).copyToArray(b); b
  }: _*)

  /** Patch a structure's trailing 4-byte lookup3 metadata checksum,
    * computed over every byte before it (initval 0, little-endian); the
    * reader verifies it on every "latest" structure. */
  def ck(img: Array[Byte]): Array[Byte] = ckAt(img, img.length - 4, img.length - 4)

  /** The lookup3 checksum of `img[from, from + len)`, written at `off`. */
  def ckAt(img: Array[Byte], off: Int, len: Int, from: Int = 0): Array[Byte] = {
    val c = Hdf5.lookup3(img, from, len, 0)
    (0 until 4).foreach(i => img(off + i) = (c >> (8 * i)).toByte)
    img
  }

  // ---- object headers and messages

  /** A v2 object-header message: type, body size, flags 0, body. */
  def message(tpe: Int, body: Array[Byte]): Array[Byte] =
    buf(4 + body.length).put(tpe.toByte).putShort(body.length.toShort)
      .put(0.toByte).put(body).array()

  /** An OHDR v2 object header with one chunk (flags 0x01: 2-byte
    * size of chunk 0), checksummed. */
  def objectHeader(msgs: Array[Byte]*): Array[Byte] = {
    val content = cat(msgs: _*)
    ck(buf(8 + content.length + 4).put(ascii("OHDR")).put(2.toByte)
      .put(1.toByte).putShort(content.length.toShort).put(content).putInt(0).array())
  }

  /** A dataset's object header: dataspace, datatype and layout
    * messages, then `more` (filter pipeline, attributes). */
  def dataset(space: Array[Byte], dtype: Array[Byte], layout: Array[Byte],
              more: Array[Byte]*): Array[Byte] =
    objectHeader(Seq(message(0x01, space), message(0x03, dtype), layout) ++ more: _*)

  /** A compact group's object header: one link message per (name, object
    * header address), in the order given. */
  def group(links: (String, Long)*): Array[Byte] =
    objectHeader(links.map { case (name, addr) => message(0x06, link(name, addr)) }: _*)

  /** Link body, version 1, flags 0: a hard link with a 1-byte name size. */
  def link(name: String, addr: Long): Array[Byte] = {
    val nm = ascii(name)
    buf(3 + nm.length + 8).put(1.toByte).put(0.toByte)
      .put(nm.length.toByte).put(nm).putLong(addr).array()
  }

  /** Dataspace body, version 2: scalar when `dims` is empty, else simple. */
  def dataspace(dims: Long*): Array[Byte] = {
    val b = buf(4 + 8 * dims.length)
    b.put(2.toByte).put(dims.length.toByte).put(0.toByte)
      .put((if (dims.isEmpty) 0 else 1).toByte)
    dims.foreach(b.putLong); b.array()
  }

  /** Simple dataspace body, version 2, with every maximum dimension
    * stored as unlimited (0xFF..). */
  def dataspaceUnlimited(dims: Long*): Array[Byte] = {
    val b = buf(4 + 16 * dims.length)
    b.put(2.toByte).put(dims.length.toByte).put(1.toByte).put(1.toByte)
    dims.foreach(b.putLong)
    dims.foreach(_ => b.putLong(-1L))
    b.array()
  }

  /** Attribute message, version 3 (ASCII name), of one scalar value. */
  def attribute(name: String, dtype: Array[Byte], value: Array[Byte]): Array[Byte] = {
    val nm = ascii(name) :+ 0.toByte
    val ds = dataspace()
    message(0x0C, buf(9 + nm.length + dtype.length + ds.length + value.length)
      .put(3.toByte).put(0.toByte).putShort(nm.length.toShort)
      .putShort(dtype.length.toShort).putShort(ds.length.toShort)
      .put(0.toByte).put(nm).put(dtype).put(ds).put(value).array())
  }

  // ---- datatype bodies

  /** IEEE float64, little-endian. */
  def float64: Array[Byte] =
    buf(20).put(0x11.toByte).put(0.toByte).put(0x20.toByte).put(0.toByte)
      .putInt(8).putShort(0).putShort(64)
      .put(52.toByte).put(11.toByte).put(0.toByte).put(52.toByte)
      .putInt(1023).array()

  /** Signed little-endian fixed-point of `size` bytes and `precision`
    * bits; a precision below the container's bits is what the nbit
    * filter packs. */
  def signed(size: Int, precision: Int): Array[Byte] =
    buf(12).put(0x10.toByte).put(0x08.toByte).put(0.toByte).put(0.toByte)
      .putInt(size).putShort(0).putShort(precision.toShort).array()

  /** Fixed-length string (class 3, version 1), null-padded, ASCII. */
  def fixedString(size: Int): Array[Byte] =
    buf(8).put(0x13.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      .putInt(size).array()

  /** Variable-length sequence of `base` (class 9, version 1). */
  def vlenSequence(base: Array[Byte]): Array[Byte] = vlen(0, base)

  /** Variable-length string (class 9, version 1, over string(1)). */
  def vlenString: Array[Byte] = vlen(1, fixedString(1))

  private def vlen(kind: Int, base: Array[Byte]): Array[Byte] =
    cat(buf(8).put(0x19.toByte).put(kind.toByte).put(0.toByte).put(0.toByte)
      .putInt(16).array(), base)

  /** Compound datatype, version 1, of `size` bytes: (name, byte offset,
    * member type) per member. */
  def compound(size: Int, members: (String, Int, Array[Byte])*): Array[Byte] =
    cat(buf(8).put(0x16.toByte).put(members.length.toByte).put(0.toByte).put(0.toByte)
      .putInt(size).array() +: members.map { case (name, off, dt) =>
      val nm = ascii(name) :+ 0.toByte
      // name padded to 8, offset u32, then 28 zero bytes of v1
      // array-member fields (dimensionality, permutation, 4 dim sizes)
      cat(nm, new Array[Byte]((8 - nm.length % 8) % 8), buf(4).putInt(off).array(),
        new Array[Byte](28), dt)
    }: _*)

  // ---- layout v4 messages

  def contiguous(addr: Long, size: Long): Array[Byte] =
    message(0x08, buf(18).put(4.toByte).put(1.toByte).putLong(addr).putLong(size).array())

  /** Chunked layout: chunk dims encoded in `dimBytes` (1 or 2) bytes
    * each, then the chunk-index type (1 single chunk, 2 implicit, 3 fixed
    * array, 4 extensible array, 5 v2 B-tree), its `params` and the
    * index address. */
  def chunked(chunkDims: Seq[Int], index: Int, params: Array[Byte], addr: Long,
              flags: Int = 0, dimBytes: Int = 1): Array[Byte] = {
    val b = buf(5 + dimBytes * chunkDims.length + 1 + params.length + 8)
    b.put(4.toByte).put(2.toByte).put(flags.toByte)
      .put(chunkDims.length.toByte).put(dimBytes.toByte)
    chunkDims.foreach(d => if (dimBytes == 1) b.put(d.toByte) else b.putShort(d.toShort))
    message(0x08, b.put(index.toByte).put(params).putLong(addr).array())
  }

  /** Implicit index: chunk addresses are offset math from `addr`. */
  def implicitChunks(chunkDims: Seq[Int], addr: Long): Array[Byte] =
    chunked(chunkDims, 2, Array.emptyByteArray, addr)

  /** Single-chunk index of a 1-D filtered dataset (flags 0x02): the
    * chunk's stored size and filter mask 0 precede its address. */
  def singleChunk(chunkLen: Int, storedSize: Long, addr: Long): Array[Byte] =
    chunked(Seq(chunkLen), 1, buf(12).putLong(storedSize).putInt(0).array(), addr,
      flags = 0x02, dimBytes = 2)

  /** Extensible-array index; `params` = max bits, index elements, min
    * pointers, min elements, page bits (repeated in its EAHD). */
  def earrayChunks(chunkDims: Seq[Int], params: Seq[Int], addr: Long): Array[Byte] =
    chunked(chunkDims, 4, params.map(_.toByte).toArray, addr)

  /** v2 B-tree index: node size, split 100 %, merge 40 %. */
  def btreeChunks(chunkDims: Seq[Int], nodeSize: Int, addr: Long): Array[Byte] =
    chunked(chunkDims, 5, buf(6).putInt(nodeSize).put(100.toByte).put(40.toByte).array(), addr)

  /** Filter-pipeline body, version 2: (filter id, client data) per
    * filter in write order, flags 0, no names (ids < 256). */
  def filters(fs: (Int, Seq[Int])*): Array[Byte] = {
    val b = buf(2 + fs.map { case (_, cd) => 6 + 4 * cd.length }.sum)
    b.put(2.toByte).put(fs.length.toByte)
    fs.foreach { case (id, cd) =>
      b.putShort(id.toShort).putShort(0).putShort(cd.length.toShort)
      cd.foreach(b.putInt)
    }
    b.array()
  }

  // ---- global heap

  /** Global heap collection (GCOL, version 1): (heap index, data)
    * objects, each padded to 8 bytes, then the free-space object. */
  def globalHeap(objs: Seq[(Int, Array[Byte])]): Array[Byte] = {
    val body = cat(objs.map { case (idx, data) =>
      cat(buf(16).putShort(idx.toShort).putShort(1).putInt(0)
        .putLong(data.length.toLong).array(), data, new Array[Byte]((8 - data.length % 8) % 8))
    }: _*)
    cat(buf(16).put(ascii("GCOL")).put(1.toByte).put(new Array[Byte](3))
      .putLong(16L + body.length + 16).array(), body,
      buf(16).putShort(0).putShort(0).putInt(0).putLong(16L).array())
  }

  /** 16-byte variable-length descriptors (length, collection address,
    * heap index), one per (length, index); length 0 writes the null
    * descriptor of an empty cell. */
  def vlenRefs(gcolAddr: Long, cells: (Int, Int)*): Array[Byte] =
    cat(cells.map { case (len, idx) =>
      if (len == 0) new Array[Byte](16)
      else buf(16).putInt(len).putLong(gcolAddr).putInt(idx).array()
    }: _*)

  // ---- file assembly

  val SuperblockSize = 48

  /** Parts named `prefix0`, `prefix1`, … in order. */
  def numbered(prefix: String, parts: Seq[Array[Byte]]): Seq[(String, Array[Byte])] =
    parts.zipWithIndex.map { case (p, i) => s"$prefix$i" -> p }

  /** Superblock v3: 8-byte offsets and lengths, base address 0, no
    * superblock extension, checksummed. */
  def superblock(rootOH: Long, eof: Long): Array[Byte] = {
    val sb = buf(SuperblockSize)
    Seq(0x89, 'H'.toInt, 'D'.toInt, 'F'.toInt, 0x0D, 0x0A, 0x1A, 0x0A)
      .foreach(v => sb.put(v.toByte))
    sb.put(3.toByte).put(8.toByte).put(8.toByte).put(0.toByte)
    sb.putLong(0L).putLong(-1L)
    ck(sb.putLong(eof).putLong(rootOH).putInt(0).array())
  }

  /** Lay out named parts after a superblock and write the file. `parts`
    * is built twice: first with every address `at(name)` 0, to take the
    * part sizes (which must not depend on addresses), then with each
    * name's file offset. The last part is the root group's object
    * header, and the file ends with it. */
  def assemble(path: String)(parts: (String => Long) => Seq[(String, Array[Byte])]): Unit = {
    val sized = parts(_ => 0L)
    val starts = sized.map(_._2.length.toLong).scanLeft(SuperblockSize.toLong)(_ + _)
    val at = sized.map(_._1).zip(starts).toMap
    require(at.size == sized.length, "part names must be unique")
    val placed = parts(at).map(_._2)
    require(placed.map(_.length) == sized.map(_._2.length), "part sizes depend on addresses")
    writeAll(path, superblock(starts(starts.length - 2), starts.last) +: placed)
  }

  /** Write `parts` back to back as the file at `path`. */
  def writeAll(path: String, parts: Seq[Array[Byte]]): Unit = {
    val f = new FileOutputStream(path)
    try parts.foreach(f.write) finally f.close()
  }
}
