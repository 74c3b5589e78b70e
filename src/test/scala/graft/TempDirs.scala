package graft

import org.scalatest.{Outcome, TestSuite}

import java.io.File

/** Temp directories that a test case makes through [[tmpDir]] are deleted
  * when the case ends, whether it passed or failed, so a suite leaves
  * nothing behind in the JVM tmpdir. */
trait TempDirs extends TestSuite {
  private val tmpDirs = scala.collection.mutable.ListBuffer.empty[File]

  protected def tmpDir(prefix: String): File = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    tmpDirs += d
    d
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally { tmpDirs.foreach(TempDirs.deleteTree); tmpDirs.clear() }
}

object TempDirs {

  /** A temp directory that outlives the test cases, such as the
    * warehouse of a session that suites share: deleted when the JVM
    * exits. */
  def forJvm(prefix: String): File = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    sys.addShutdownHook(deleteTree(d))
    d
  }

  /** Deletes `f` and, unless it is a symlink, everything below it. */
  private def deleteTree(f: File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
