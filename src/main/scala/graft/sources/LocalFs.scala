package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.SparkSession

/** The local filesystem under the table formats' Spark writes. Without
  * the native libhadoop, Hadoop's `RawLocalFileSystem` starts a `chmod`
  * process for every file and directory it creates (Spark's Parquet
  * writer, its commit protocol, the stream checkpoint) and a `readlink`
  * process for every `getFileLinkStatus` (each checkpoint rename). [[Raw]]
  * sets the same mode bits through `java.nio` and stats a path that is
  * not a symlink directly; sticky modes and real symlinks keep Hadoop's
  * code. It is wrapped as Hadoop's two local filesystems: a
  * [[LocalFileSystem]] (`FileSystem`, same `.crc` sidecars) and a
  * [[ChecksumFs]] (`AbstractFileSystem`, what `FileContext` uses). */
object LocalFs {

  private final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  final class Checksummed extends LocalFileSystem(new Raw)

  /** `org.apache.hadoop.fs.local.RawLocalFs` over [[Raw]]. */
  private final class Delegate(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** `org.apache.hadoop.fs.local.LocalFs` over [[Raw]]; `FileContext`
    * builds it through the (URI, Configuration) constructor. */
  final class Abstract(uri: URI, conf: Configuration) extends ChecksumFs(new Delegate(conf))

  private val FileImpl = "fs.file.impl"
  private val AbstractImpl = "fs.AbstractFileSystem.file.impl"

  /** Install [[Checksummed]] and [[Abstract]] for `file:` in the
    * session's runtime conf, which Spark copies into the Hadoop conf of
    * every write job and stream it starts afterwards. Hadoop caches one
    * `FileSystem` per scheme and user whatever the conf says, so the
    * session's local instances are uncached. A no-op when the native
    * library is loaded (the stock filesystem forks nothing then) and when
    * the session names its own `file:` implementation, which includes a
    * second call. */
  def setup(spark: SparkSession): Unit = {
    val hadoop = spark.sparkContext.hadoopConfiguration
    def named(key: String) = spark.conf.getOption(key).getOrElse(hadoop.getTrimmed(key, ""))
    if (!NativeIO.isAvailable && named(FileImpl).isEmpty &&
        named(AbstractImpl) == classOf[org.apache.hadoop.fs.local.LocalFs].getName) {
      spark.conf.set(FileImpl, classOf[Checksummed].getName)
      spark.conf.set(s"$FileImpl.disable.cache", "true")
      spark.conf.set(AbstractImpl, classOf[Abstract].getName)
    }
  }
}
