package graft.operators

import org.apache.hadoop.fs.{FileSystem, LocatedFileStatus, Path}
import org.apache.spark.sql.SparkSession

/** The ONE implementation of the crash-safe directory swap every
  * persisted artifact in this repo rotates through (ANN codes, media
  * hashes, HLL registers, histogram and digest sidecars, the sync
  * ledger, plain tables): write the replacement aside, move the live
  * dir out, move the replacement in, delete the old — with explicit
  * recovery semantics for every crash window:
  *
  *   - crash before the first rename: live untouched, `tmp` is
  *     garbage the next swap overwrites;
  *   - crash between rename-out and rename-in: live is MISSING but
  *     `old` holds everything — [[restoreIfInterrupted]] adopts it;
  *   - crash after rename-in: `old` is a stale leftover the next
  *     swap deletes.
  *
  * The rule: a WRITER adopts before it decides or writes. Every
  * writer goes through [[exists]] (adopt, then "is it there?" — the
  * question an appender asks before it bootstraps a fresh artifact),
  * [[rewrite]] (adopt, stage, swap) and [[delete]] (every name the
  * artifact can live under), so an append after a killed compaction
  * extends the stranded history instead of starting a one-batch
  * artifact beside it that the next swap's `_old` cleanup would
  * destroy. Plain READERS (index probes, `FileSink.append`,
  * `FileCatalog.tableExists`) do not adopt: a reader that renames
  * `_old` back can race a writer's rename-in, which is why the
  * connected-components store — the one caller still on the
  * primitives — recovers under its lock.
  */
object StagedSwap {

  def oldPath(live: Path) = new Path(live.toString + "_old")
  private[operators] def tmpPath(live: Path) = new Path(live.toString + "_staging")

  /** Pre-extraction suffix convention (the hand-rolled copies used
    * `__old`/`__compact`): an index compacted — and interrupted — by
    * an older build left its data under these names, which the
    * current restore must still adopt or the live dir stays missing
    * forever. Visible to the operator package so recovery FAST-PATHS
    * (which gate on "does any interrupted-swap evidence exist" before
    * taking a lock) can check the legacy name too — a gate that only
    * checks [[oldPath]] would leave a legacy-`__old` store
    * path-not-found forever (round-15 advice). */
  private[operators] def legacyOldPath(live: Path) = new Path(live.toString + "__old")
  private def legacyTmpPath(live: Path) = new Path(live.toString + "__compact")

  /** Adopt a completed-but-unswapped interruption: if the live dir is
    * missing and `old` exists, the process died mid-swap — move the
    * old data back. Also adopts the legacy `__old` naming, so a swap
    * interrupted under a pre-extraction build restores too. Returns
    * true when a restore happened. */
  private[operators] def restoreIfInterrupted(fs: FileSystem, live: Path): Boolean = {
    if (fs.exists(live)) false
    else Seq(oldPath(live), legacyOldPath(live)).find(fs.exists) match {
      case Some(src) =>
        if (!fs.rename(src, live))
          throw new java.io.IOException(
            s"staged swap: cannot restore $src after an interrupted swap")
        fs.delete(legacyTmpPath(live), true) // legacy staging garbage
        true
      case None => false
    }
  }

  /** Atomic small-sidecar write: content to a hidden tmp file, rename
    * into place (file renames are atomic on HDFS and local FS) — the
    * ONE implementation for every meta/marker/mode sidecar (review
    * finding: hand-rolled `fs.create(p, true)` writers leave a crash
    * window where the sidecar exists EMPTY, which reads as a corrupt
    * scheme/mode instead of a missing one). A crash BETWEEN the delete
    * and the rename leaves the sidecar MISSING rather than stale
    * (round-15 review) — every consumer must treat a missing sidecar
    * as "unknown", never as a semantic default, unless first-write
    * ordering guarantees the sidecar exists whenever the data does
    * (see [[graft.streaming.MediaIngest.buildIndexDir]]). */
  def writeSidecar(fs: FileSystem, target: Path, content: String): Unit =
    writeSidecarVia(fs, target, out =>
      out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  /** The same staged publish for BINARY sidecars (bloom bits, any
    * serialized sketch): the caller streams into the hidden tmp file,
    * the rename makes it visible whole-or-not-at-all — a crash
    * mid-write can no longer leave a truncated artifact that fails
    * every later read (round-15: the bloom-bits writer had exactly
    * that window). */
  def writeSidecarVia(fs: FileSystem, target: Path,
      fill: java.io.OutputStream => Unit): Unit = {
    val tmp = new Path(target.toString + "_tmp")
    val out = fs.create(tmp, true)
    try fill(out)
    finally out.close()
    fs.delete(target, false)
    if (!fs.rename(tmp, target))
      throw new java.io.IOException(s"staged swap: cannot publish sidecar $target")
  }

  def readSidecar(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Swap `tmp` (already fully written by the caller) into `live`.
    * On failure the live dir is restored — the artifact never
    * vanishes within the run; [[restoreIfInterrupted]] covers the
    * across-restart window. */
  private[operators] def swapIn(fs: FileSystem, live: Path, tmp: Path): Unit = {
    val old = oldPath(live)
    fs.delete(old, true)
    // One-time migration: stale legacy-suffix leftovers (a compact
    // that COMPLETED under the old naming never deleted them) would
    // otherwise sit beside the index forever.
    fs.delete(legacyOldPath(live), true)
    fs.delete(legacyTmpPath(live), true)
    if (fs.exists(live) && !fs.rename(live, old))
      throw new java.io.IOException(s"staged swap: cannot stage $live aside")
    if (!fs.rename(tmp, live)) {
      fs.rename(old, live) // restore; the artifact must never vanish
      throw new java.io.IOException(s"staged swap: cannot swap $tmp into place")
    }
    fs.delete(old, true)
    ()
  }

  private def resolve(spark: SparkSession, path: String): (FileSystem, Path) = {
    val live = new Path(path)
    (live.getFileSystem(spark.sessionState.newHadoopConf()), live)
  }

  /** Adopt an interrupted swap, then report whether the artifact at
    * `path` is there. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, live) = resolve(spark, path)
    restoreIfInterrupted(fs, live)
    fs.exists(live)
  }

  /** Adopt an interrupted swap, let `write` fill the staging dir (its
    * argument), then swap it in. `write` may read the live artifact:
    * it stays in place until the staging dir is complete. */
  def rewrite(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    val (fs, live) = resolve(spark, path)
    restoreIfInterrupted(fs, live)
    val tmp = tmpPath(live)
    write(tmp.toString)
    swapIn(fs, live, tmp)
  }

  /** Remove the artifact under every name it can live under — live,
    * staging, `_old` and the legacy `__old`/`__compact` — so no later
    * adoption can resurrect it. */
  def delete(spark: SparkSession, path: String): Unit = {
    val (fs, live) = resolve(spark, path)
    Seq(live, tmpPath(live), oldPath(live), legacyOldPath(live), legacyTmpPath(live))
      .foreach(fs.delete(_, true))
  }

  /** (files, bytes) of the data files under `path`, recursively: every
    * file but Hadoop's hidden `_`/`.`-prefixed markers. */
  def dataFiles(spark: SparkSession, path: String): (Long, Long) = {
    val files = listData(spark, path)
    (files.size.toLong, files.map(_.getLen).sum)
  }

  /** The number of data files in each directory under `path` that
    * holds any ([[dataFiles]]' rule). */
  def dataFilesByDir(spark: SparkSession, path: String): Map[Path, Long] =
    listData(spark, path).groupMapReduce(_.getPath.getParent)(_ => 1L)(_ + _)

  private def listData(spark: SparkSession, path: String): Seq[LocatedFileStatus] = {
    val (fs, live) = resolve(spark, path)
    val it = fs.listFiles(live, true)
    val files = Seq.newBuilder[LocatedFileStatus]
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) files += f
    }
    files.result()
  }
}
