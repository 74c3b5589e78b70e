package graft.sources

import java.io.OutputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop-FileSystem write plumbing shared by the export sinks
  * (TFRecord / WARC / Zarr / NetCDF reverse). An executor-side
  * `java.io.FileOutputStream` against a driver-supplied path is correct
  * only when every executor sees the same mount (local mode, NFS); on a
  * real cluster with `hdfs://`/`s3a://` storage the same code silently
  * scatters shards across machines' local disks. Routing every sink
  * through `org.apache.hadoop.fs.FileSystem` makes `file://`, `hdfs://`
  * and `s3a://` uniform — the scheme picks the implementation, and a
  * scheme-less path resolves against `fs.defaultFS` exactly like every
  * stock Spark source.
  *
  * Two deliberate choices:
  *   - `Configuration` is not `Serializable`, and executors have no
  *     `SparkContext`, so the driver captures the session's Hadoop conf
  *     into a [[ConfSnapshot]] (plain key/value pairs) that task
  *     closures rebuild lazily — the same conf-shipping move Spark's own
  *     `SerializableConfiguration` makes, without reaching into a
  *     `private[spark]` class.
  *   - local writes unwrap [[ChecksumFileSystem]] to its raw form:
  *     export stores are self-describing directory formats (Zarr keys,
  *     TFRecord shards) and `.{name}.crc` sidecars are pure noise there;
  *     remote filesystems (HDFS/S3A) checksum internally and pass
  *     through untouched.
  */
object FsIo {

  /** Serializable snapshot of a Hadoop configuration; rebuilt lazily
    * once per task closure via [[value]]. */
  final class ConfSnapshot private[FsIo] (entries: Array[(String, String)])
      extends Serializable {
    @transient lazy val value: Configuration = {
      val c = new Configuration(false)
      entries.foreach { case (k, v) => c.set(k, v) }
      c
    }
  }

  /** Capture the session's Hadoop configuration for shipping into task
    * closures. Driver-side only. */
  def snapshot(spark: SparkSession): ConfSnapshot = {
    val conf = spark.sparkContext.hadoopConfiguration
    val it = conf.iterator()
    val buf = Array.newBuilder[(String, String)]
    while (it.hasNext) { val e = it.next(); buf += ((e.getKey, e.getValue)) }
    new ConfSnapshot(buf.result())
  }

  /** The path's FileSystem, with local checksum wrapping removed. */
  def fs(conf: Configuration, path: String): FileSystem =
    new Path(path).getFileSystem(conf) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other                 => other
    }

  /** Create (overwrite) `path`; parent directories are created
    * automatically (the Hadoop `create` contract). */
  def create(conf: Configuration, path: String): OutputStream = {
    val p = new Path(path)
    fs(conf, path).create(p, true)
  }

  /** One-shot small-file write (metadata documents, planted keys). */
  def writeBytes(conf: Configuration, path: String, bytes: Array[Byte]): Unit = {
    val out = create(conf, path)
    try out.write(bytes) finally out.close()
  }

  /** One-shot small-file read — the read half [[Zarr.consolidate]]-style
    * metadata passes need when the store is remote. */
  def readBytes(conf: Configuration, path: String): Array[Byte] = {
    val in = fs(conf, path).open(new Path(path))
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      bos.toByteArray
    } finally in.close()
  }

  /** The driver's Hadoop configuration: the active session's (so
    * `s3a://`/`hdfs://` credentials and endpoints apply) or, when no
    * session is up (metadata-only tools), a stock default that resolves
    * `file://` — mirrors how Spark's own sources pick up the conf for
    * driver-side listing. */
  def driverConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  def isFile(conf: Configuration, path: String): Boolean =
    try fs(conf, path).getFileStatus(new Path(path)).isFile
    catch { case _: java.io.FileNotFoundException => false }

  def isDirectory(conf: Configuration, path: String): Boolean =
    try fs(conf, path).getFileStatus(new Path(path)).isDirectory
    catch { case _: java.io.FileNotFoundException => false }

  /** Whole-file read, or None when the file is absent — ONE stat + one
    * open per call, the executor-side chunk-fetch primitive (Zarr's
    * absent-chunk→fill_value contract needs existence and content in a
    * single decision, and splitting them would double the object-store
    * round trips). */
  def readAllIfExists(conf: Configuration, path: String): Option[Array[Byte]] = {
    val f = fs(conf, path)
    val p = new Path(path)
    val st = try Some(f.getFileStatus(p))
             catch { case _: java.io.FileNotFoundException => None }
    st.collect { case s if s.isFile =>
      require(s.getLen <= Int.MaxValue, s"$path is ${s.getLen} bytes — too large for one buffer")
      val b = new Array[Byte](s.getLen.toInt)
      val in = f.open(p)
      try in.readFully(0L, b, 0, b.length) finally in.close()
      b
    }
  }

  /** Random-access read cursor over a Hadoop stream — the
    * `RandomAccessFile` subset the seek-read formats (HDF5 superblock
    * walks, Zarr shard indexes) consume, backed by POSITIONED reads
    * (`FSDataInputStream.readFully(pos, …)` — a ranged GET on object
    * stores) so `file://`, `hdfs://` and `s3a://` behave identically.
    * Small reads serve from an 8 KiB window around the cursor: metadata
    * parsers read byte-at-a-time, and a syscall (or GET) per byte is
    * wrong on every backend; bulk reads larger than the window bypass
    * it. Seeks only move the cursor — re-reads inside the window are
    * free. */
  final class SeekableData private[FsIo] (
      in: org.apache.hadoop.fs.FSDataInputStream, val length: Long)
      extends AutoCloseable {
    private var pos = 0L
    private val win = new Array[Byte](8192)
    private var winStart = 0L
    private var winLen = 0
    def seek(p: Long): Unit = pos = p
    def getFilePointer: Long = pos
    def skipBytes(n: Int): Unit = pos += n
    private def fill(need: Int): Unit = {
      val n = math.min(win.length.toLong, length - pos).toInt
      if (n < need) throw new java.io.EOFException(
        s"read of $need bytes at $pos past EOF ($length)")
      in.readFully(pos, win, 0, n)
      winStart = pos; winLen = n
    }
    def readUnsignedByte(): Int = {
      if (pos < winStart || pos >= winStart + winLen) fill(1)
      val v = win((pos - winStart).toInt) & 0xFF
      pos += 1
      v
    }
    // Big-endian DataInput-style reads (RandomAccessFile semantics) —
    // what the NetCDF classic record walk consumes; all window-served,
    // so sequential value reads cost one positioned read per 8 KiB
    def readByte(): Byte = readUnsignedByte().toByte
    def readShort(): Short = ((readUnsignedByte() << 8) | readUnsignedByte()).toShort
    def readInt(): Int =
      (readUnsignedByte() << 24) | (readUnsignedByte() << 16) |
        (readUnsignedByte() << 8) | readUnsignedByte()
    def readLong(): Long = (readInt().toLong << 32) | (readInt().toLong & 0xFFFFFFFFL)
    def readFloat(): Float = java.lang.Float.intBitsToFloat(readInt())
    def readDouble(): Double = java.lang.Double.longBitsToDouble(readLong())
    def readFully(b: Array[Byte]): Unit = readFully(b, 0, b.length)
    def readFully(b: Array[Byte], off: Int, len: Int): Unit = {
      if (len <= win.length) {
        if (pos < winStart || pos + len > winStart + winLen) fill(len)
        System.arraycopy(win, (pos - winStart).toInt, b, off, len)
      } else {
        if (pos + len > length) throw new java.io.EOFException(
          s"read of $len bytes at $pos past EOF ($length)")
        in.readFully(pos, b, off, len)
      }
      pos += len
    }
    def close(): Unit = in.close()
  }

  /** Open `path` for random-access reads (see [[SeekableData]]). */
  def openSeekable(conf: Configuration, path: String): SeekableData = {
    val f = fs(conf, path)
    val p = new Path(path)
    val len = f.getFileStatus(p).getLen
    new SeekableData(f.open(p), len)
  }

  def mkdirs(conf: Configuration, path: String): Unit = {
    fs(conf, path).mkdirs(new Path(path))
  }

  def exists(conf: Configuration, path: String): Boolean =
    fs(conf, path).exists(new Path(path))

  /** Immediate child directory names of `path`, sorted — the lake /
    * store discovery listing (one level, never recursive). */
  def listDirNames(conf: Configuration, path: String): Seq[String] =
    fs(conf, path).listStatus(new Path(path))
      .filter(_.isDirectory).map(_.getPath.getName).sorted.toSeq

  /** Recursive file listing (paths as strings); empty for absent dirs. */
  def listFilesRecursive(conf: Configuration, path: String): Seq[String] = {
    val f = fs(conf, path)
    val p = new Path(path)
    if (!f.exists(p)) Nil
    else {
      val out = Seq.newBuilder[String]
      val it = f.listFiles(p, true)
      while (it.hasNext) out += it.next().getPath.toString
      out.result()
    }
  }

  def delete(conf: Configuration, path: String): Unit = {
    val f = fs(conf, path)
    val p = new Path(path)
    if (f.exists(p)) f.delete(p, true)
  }

  /** Atomic replace of `dst` by `src` — the [[Ledger]]'s swap
    * primitive. A local filesystem renames with POSIX `rename(2)`:
    * Hadoop's local `rename(OVERWRITE)` deletes `dst` first, so a reader
    * could find no file and a concurrent swap could fail. Elsewhere
    * `FileContext.rename(OVERWRITE)`, atomic on HDFS. */
  def atomicReplace(conf: Configuration, src: String, dst: String): Unit =
    fs(conf, dst) match {
      case local: org.apache.hadoop.fs.RawLocalFileSystem =>
        java.nio.file.Files.move(local.pathToFile(new Path(src)).toPath,
          local.pathToFile(new Path(dst)).toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      case _ =>
        org.apache.hadoop.fs.FileContext.getFileContext(new Path(dst).toUri, conf)
          .rename(new Path(src), new Path(dst),
            org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }

  /** Loud guard for seek-write formats (NetCDF classic): random-access
    * writes exist only on POSIX filesystems — HDFS is append-only and
    * object stores have no partial PUT — so a non-local target must be
    * rejected, not silently scattered. Returns the plain local path
    * (scheme stripped) for `RandomAccessFile`. */
  def requireLocalPath(conf: Configuration, path: String, what: String): String = {
    val p = new Path(path)
    // scheme check BEFORE FileSystem.get — instantiating e.g. a DFS
    // client resolves hosts and would bury the real complaint
    val scheme = Option(p.toUri.getScheme)
      .orElse(Option(new Path(conf.get("fs.defaultFS", "file:///")).toUri.getScheme))
      .getOrElse("file")
    require(scheme == "file",
      s"$what requires a locally-mounted (POSIX) target: random-access " +
        s"writes cannot run against $scheme:// storage. Export " +
        "to Zarr (whole-chunk objects) for distributed stores.")
    val uriPath = p.toUri.getPath
    if (uriPath == null || uriPath.isEmpty) path else uriPath
  }
}
