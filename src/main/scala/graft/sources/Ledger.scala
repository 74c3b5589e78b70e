package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration

/** The commit protocol of the three stateful table formats
  * ([[VersionedLake]], [[ZOrderLake]], [[graft.pipeline.IvfIndex]]),
  * written once. Each format keeps only its own data (snapshots, slabs
  * and grid epochs, segments and generations); every commit decision
  * lives here:
  *
  *   - the POINTER `root/_current` holds `version lastBatch gen` and is
  *     the one atomic commit point: data and manifest N+1 are durable
  *     before it swaps, so a crash between the two leaves orphans that
  *     the next sweep collects and the replayed batch re-derives N+1;
  *   - every swap is a temp-file write plus [[FsIo.atomicReplace]]
  *     ([[Ledger.atomicWrite]], shared with z-order's `_bounds`);
  *   - the REPLAY GATE ([[applyOnce]]) skips a batchId at or below
  *     the pointer's `lastBatch` — exactly-once contents under
  *     at-least-once delivery — and an empty batch moves only
  *     `lastBatch`, never the version;
  *   - MANIFEST formats ([[Ledger.Manifests]]) list each version's live
  *     files in `root/_manifests/vNNNNN`, one line per entry through a
  *     per-format codec; [[Ledger.Manifests.commit]] writes manifest
  *     N+1, swaps the pointer, drops manifests out of retention and
  *     hands the retained entries back for the format's own file sweep.
  *
  * Single writer per root: two writers are last-writer-wins.
  * The rename is atomic on POSIX and HDFS; an object store needs a
  * conditional PUT instead (`Main lake-info` tells operators). */
trait Ledger {

  type Pointer = Ledger.Pointer
  val Pointer: Ledger.Pointer.type = Ledger.Pointer

  /** How the not-initialized guard names this format. */
  protected def kind: String

  /** The pointer, or None when the root is uninitialized. Defaults to a
    * fresh Configuration (the deployment's core-site.xml) for
    * metadata-only callers; session entry points pass the session's
    * Hadoop conf. */
  def readPointer(root: String,
                  conf: Configuration = new Configuration()): Option[Pointer] =
    Ledger.readPointer(root, conf)

  /** The pointer of an initialized root; throws otherwise. */
  protected def pointer(root: String, conf: Configuration): Pointer =
    readPointer(root, conf).getOrElse(throw new IllegalStateException(
      s"$kind at $root not initialized — call init first"))

  /** The replay gate: unless `batchId` is already applied, run `commit`
    * on the current pointer. `commit` returns false for an empty batch,
    * which then moves only the pointer's `lastBatch`. */
  protected def applyOnce(root: String, batchId: Long, conf: Configuration)
                         (commit: Pointer => Boolean): Unit = {
    val p = pointer(root, conf)
    if (batchId > p.lastBatch && !commit(p))
      Ledger.writePointer(root, p.copy(lastBatch = batchId), conf)
  }

  /** TIME TRAVEL guard: the pointer, after rejecting a `version` never
    * written, or one whose `what` is no longer `retained`. */
  protected def pointerAsOf(root: String, version: Int, conf: Configuration,
                            what: String)(retained: => Boolean): Pointer = {
    val p = pointer(root, conf)
    require(version >= 0 && version <= p.version,
      s"version $version out of range [0, ${p.version}]")
    if (!retained)
      throw new IllegalStateException(
        s"$what v$version aged out of retention (current v${p.version}; " +
          "raise `retain` on the write path to keep deeper history)")
    p
  }
}

object Ledger {

  /** `gen` is IVF's centroid generation; the lakes keep it at 0.
    * Pointers written with two fields (`version lastBatch`) read as
    * gen 0. */
  final case class Pointer(version: Int, lastBatch: Long, gen: Int = 0)

  private def pointerPath(root: String) = s"$root/_current"

  private[graft] def readPointer(root: String,
                                 conf: Configuration): Option[Pointer] = {
    val p = pointerPath(root)
    if (!FsIo.exists(conf, p)) None
    else {
      val parts = new String(FsIo.readBytes(conf, p),
        StandardCharsets.UTF_8).trim.split("\\s+")
      require(parts.length == 2 || parts.length == 3,
        s"corrupt pointer file $p: '${parts.mkString(" ")}'")
      Some(Pointer(parts(0).toInt, parts(1).toLong,
        if (parts.length == 3) parts(2).toInt else 0))
    }
  }

  /** Swap the pointer: readers see the old or the new one, never a torn
    * write. */
  private[graft] def writePointer(root: String, p: Pointer,
                                  conf: Configuration): Unit =
    atomicWrite(conf, pointerPath(root), s"${p.version} ${p.lastBatch} ${p.gen}")

  /** Remove the pointer: the root reads as uninitialized again. */
  private[graft] def dropPointer(root: String, conf: Configuration): Unit =
    FsIo.delete(conf, pointerPath(root))

  /** Replace a small metadata file atomically: write a temp file, then
    * rename it over `path`. The temp name carries the pid and the thread
    * id, so concurrent writers never rename each other's temp file and a
    * crash leaves at most one residue per writer thread. */
  private[graft] def atomicWrite(conf: Configuration, path: String,
                                 body: String): Unit = {
    val tmp = s"${path}_${ProcessHandle.current().pid()}_" +
      s"${Thread.currentThread().getId}.tmp"
    FsIo.writeBytes(conf, tmp, body.getBytes(StandardCharsets.UTF_8))
    FsIo.atomicReplace(conf, tmp, path)
  }

  private def manifestPath(root: String, version: Int): String =
    f"$root/_manifests/v$version%05d"

  /** A [[Ledger]] whose versions each list their live files in a
    * manifest of `Entry` lines. */
  trait Manifests extends Ledger {

    type Entry

    /** One manifest line (tab-separated fields) for `e`. */
    protected def encode(e: Entry): String

    /** The entry of one manifest line, split on tabs. */
    protected def decode(fields: Array[String]): Entry

    def readManifest(root: String, version: Int,
                     conf: Configuration = new Configuration()): Seq[Entry] = {
      val p = manifestPath(root, version)
      require(FsIo.exists(conf, p), s"missing manifest v$version under $root")
      new String(FsIo.readBytes(conf, p), StandardCharsets.UTF_8)
        .split("\n").filter(_.nonEmpty).toSeq.map(l => decode(l.split("\t")))
    }

    /** Whether manifest `version` is still retained. */
    protected def hasManifest(root: String, version: Int,
                              conf: Configuration): Boolean =
      FsIo.exists(conf, manifestPath(root, version))

    /** Commit `next`: write its manifest, swap the pointer to it, drop
      * manifests more than `retain` versions back, and return the
      * entries of every retained manifest — files carry by reference
      * across versions, so these are what the format's sweep keeps. */
    protected def commit(root: String, next: Pointer, entries: Seq[Entry],
                         retain: Int, conf: Configuration): Seq[Entry] = {
      FsIo.writeBytes(conf, manifestPath(root, next.version),
        entries.map(encode).mkString("", "\n", "\n")
          .getBytes(StandardCharsets.UTF_8))
      writePointer(root, next, conf)
      val floor = next.version - retain
      (0 until floor).foreach(v => FsIo.delete(conf, manifestPath(root, v)))
      (math.max(0, floor) to next.version)
        .filter(hasManifest(root, _, conf))
        .flatMap(readManifest(root, _, conf))
    }
  }
}
