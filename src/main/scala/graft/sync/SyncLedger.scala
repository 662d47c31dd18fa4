package graft.sync

import org.apache.spark.sql.SparkSession

import graft.operators.StagedSwap

/** Per-table completion ledger for RESUMABLE full sync — closes the
  * round-12 "what's missing #3": an interrupted plain `sync` used to
  * restart from zero (the reference shares this; its rerun recopies
  * everything, cmd/root.go:58-208). Each table that commits writes one
  * (table, rows) row here through [[graft.operators.StagedSwap]] (the
  * HistogramIngest ledger discipline: the live path is never
  * half-written, an interrupted swap restores), so a killed run's rerun
  * skips completed tables and re-runs only the interrupted one.
  *
  * Lifecycle: the ledger exists only while a run is IN PROGRESS. When
  * every table of a run reports ok, [[Sync.syncAll]] clears it — the
  * next `sync` is a fresh full load, matching truncate-load semantics
  * run-over-run. `--from-scratch` clears it up front.
  *
  * Concurrency: tables commit from [[Sync.parMap]]'s driver threads —
  * a JVM lock serializes those — and, since round 14, a filesystem
  * lock ([[withFsLock]]) serializes DIFFERENT drivers pointed at the
  * same ledger dir: two concurrent `sync --ledger` runs no longer
  * interleave the read-union-swap and lose each other's commits
  * (round-13 review). The critical section is a tables-sized parquet
  * write, so holding an FS lock across it costs microseconds relative
  * to the table syncs themselves.
  */
object SyncLedger {

  private val lock = new Object

  private def livePath(dir: String) = s"$dir/ledger"
  private def lockPath(dir: String) = new org.apache.hadoop.fs.Path(s"$dir/ledger_lock")

  /** Ledger lease sizing (round-16, the CC-store shape): the critical
    * section is a tables-sized parquet write — sub-second — so a
    * 3-minute staleness bound dominates any healthy holder, and the
    * contender timeout EXCEEDS staleMs so a driver queued behind a
    * CRASHED holder adopts the orphan and commits autonomously,
    * instead of failing at timeout with a locked-by error naming a
    * dead pid (FsLock's fail-fast defaults were adoption-unreachable
    * here — the trap its object doc now names; resumable sync runs
    * unattended, so self-healing wins over fail-fast). */
  private[sync] val LeaseStaleMs: Long = 3L * 60 * 1000
  private[sync] val LeaseTimeoutMs: Long = 5L * 60 * 1000

  /** Cross-process mutual exclusion for the ledger's read-union-swap —
    * [[graft.operators.FsLock]] (lease semantics, stale adoption,
    * ownership-checked release; see its doc, incl. why local-FS
    * acquisition goes through an atomic java.nio CREATE_NEW rather
    * than Hadoop's exists-then-create). The critical section here is
    * a tables-sized parquet write, so a healthy holder never ages
    * anywhere near `staleMs`. */
  private[sync] def withFsLock[T](
      spark: SparkSession, dir: String,
      staleMs: Long = LeaseStaleMs,
      timeoutMs: Long = LeaseTimeoutMs)(body: => T): T = {
    val lp = lockPath(dir)
    graft.operators.FsLock.withLock(
      lp.getFileSystem(spark.sessionState.newHadoopConf()), lp, s"ledger at $dir (sync --ledger)",
      staleMs, timeoutMs)(body)
  }

  private def completedUnlocked(
      spark: SparkSession, dir: String): Map[String, Long] =
    if (!StagedSwap.exists(spark, livePath(dir))) Map.empty
    else spark.read.parquet(livePath(dir))
      .collect()
      .map(r => r.getAs[String]("table") -> r.getAs[Long]("rows"))
      .toMap

  /** Tables already committed by the interrupted run (with their row
    * counts) — empty when no run is in progress. */
  def completed(spark: SparkSession, dir: String): Map[String, Long] =
    lock.synchronized {
      withFsLock(spark, dir)(completedUnlocked(spark, dir))
    }

  /** Record `table` as committed. Idempotent per table (last write
    * wins on rows). Serialized against every other ledger writer —
    * same-JVM threads by the object lock, other drivers by the FS
    * lock — so no interleaving can drop a committed table. */
  def markDone(spark: SparkSession, dir: String, table: String, rows: Long): Unit =
    lock.synchronized { markDoneFsLocked(spark, dir, table, rows) }

  /** [[markDone]] under the FS lock ONLY — the multi-driver shape
    * with no same-JVM serialization, split out so the contention
    * stress test can stand N threads in for N drivers (the JVM lock
    * would otherwise serialize them before the FS lock is ever
    * contended). Production callers go through [[markDone]]. */
  private[sync] def markDoneFsLocked(
      spark: SparkSession, dir: String, table: String, rows: Long): Unit =
    withFsLock(spark, dir) {
      val entries = (completedUnlocked(spark, dir) + (table -> rows)).toSeq
      import spark.implicits._
      StagedSwap.rewrite(spark, livePath(dir))(entries.toDF("table", "rows")
        .coalesce(1)
        .write.mode("overwrite").parquet)
    }

  /** Close the ledger (run complete, or `--from-scratch`). */
  def clear(spark: SparkSession, dir: String): Unit = lock.synchronized {
    withFsLock(spark, dir)(StagedSwap.delete(spark, livePath(dir)))
  }
}
