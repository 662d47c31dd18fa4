package graft.operators

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame

/** Lineage barrier for sketch tables that are about to be self-joined
  * (minhash signatures, simhash fingerprints, LSH bucket tables, CC
  * label frontiers): materialize once so the join lineage doesn't
  * recompute the sketch per candidate pair.
  *
  * Two implementations, selected by `spark.graft.checkpointDir`:
  *
  *   - unset (default): eager `localCheckpoint` — blocks live on the
  *     executors and are freed by the ContextCleaner when the result
  *     plan is dropped. Right for single-node / short-lived jobs, but
  *     the blocks have no replication: on a multi-node cluster a lost
  *     executor kills every dependent stage.
  *   - set: eager reliable `checkpoint()` into that directory (HDFS/
  *     object store on a real cluster) — survives executor loss, the
  *     right barrier for 1000-executor runs where losing one of the
  *     32+ hosts mid-LSH is routine, at the cost of a write+read
  *     round trip through the checkpoint store.
  *
  * Retention: checkpoint data is written under a per-application UUID
  * subdirectory of the configured base. Individual checkpoints are
  * reclaimed by the ContextCleaner when their RDD is GC'd
  * (`spark.cleaner.referenceTracking.cleanCheckpoints=true`, a
  * GraftSession default — it must be set at context construction, so
  * arm it yourself on hand-built sessions), and the whole UUID subdir
  * is deleted by a JVM shutdown hook as a backstop; without both, an
  * iterative caller (ConnectedComponents loops a Barrier per round)
  * would accumulate one full table copy per round forever.
  */
object Barrier {

  val ConfKey = "spark.graft.checkpointDir"

  /** Last-applied ConfKey VALUE — compared by equality, not by
    * substring of the resolved UUID path, so a config change between
    * dirs where one name prefixes the other still re-points the
    * checkpoint location. */
  private val applied = new AtomicReference[String](null)

  private val cleanupArmed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def apply(df: DataFrame): DataFrame = counting(df, None)._1

  /** Barrier whose materializing action ALSO returns a count — all
    * rows (`boolCol` None) or rows where the boolean column is true —
    * so an iterative caller's loop condition (CC convergence,
    * GraphExpand frontier drained) costs zero extra jobs instead of a
    * per-round re-scan of the frame the round just materialized. */
  def counting(df: DataFrame, boolCol: Option[String]): (DataFrame, Long) = {
    val spark = df.sparkSession
    val reliable = spark.conf.getOption(ConfKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // setCheckpointDir appends a fresh UUID subdir on every call —
        // only (re)apply when unset or the configured base changed
        if (applied.getAndSet(dir) != dir || sc.getCheckpointDir.isEmpty) {
          sc.setCheckpointDir(dir)
          armCleanup(sc)
        }
        true
      case None => false
    }
    org.apache.spark.sql.graftbridge.PlanBridge
      .checkpointCounting(df, reliable, boolCol)
  }

  /** Barrier `df` PRE-PARTITIONED by `cols`, with the partitioning
    * surfaced on the checkpoint leaf (r19 "not yet optimized" #2 /
    * r20 item 1: a plain checkpoint under AQE erases the layout, so
    * every keyed consumer re-paid an exchange). The repartition uses
    * an EXPLICIT partition count — AQE never coalesces user-numbered
    * repartitions, so the surfaced HashPartitioning is exact and a
    * later co-partitioned JOIN can elide its exchange too, which a
    * runtime-coalesced layout cannot promise. The count defaults to
    * the session's shuffle parallelism (scale-adaptive: the cluster
    * conf drives it, not a constant).
    *
    * Worth it only when the barriered frame has MULTIPLE consumers
    * keyed by `cols` (aggregations, joins, windows): the pre-key
    * exchange is paid once where each consumer used to shuffle the
    * stream itself. A single-consumer frame should keep its one
    * downstream exchange instead. */
  def keyed(df: DataFrame, cols: String*): DataFrame = {
    require(cols.nonEmpty, "Barrier.keyed needs at least one key column")
    // explicit count = the session's shuffle parallelism: what a
    // downstream exchange on these keys would have used, conf-driven
    // (scales with the cluster, stays comparable at local core
    // counts). A stats-derived count was measured and rejected: plan
    // statistics through checkpoint/join lineage here range from 170
    // KB to 10^201 "bytes" for same-magnitude frames, so the derived
    // n is noise, and an explicit-count repartition must never be
    // smaller than the work needs (it is exempt from AQE coalescing
    // by design — that exemption is what makes the surfaced
    // HashPartitioning exact).
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    apply(df.repartition(n, cols.map(org.apache.spark.sql.functions.col): _*))
  }

  /** Release a SUPERSEDED barriered frame mid-run: unpersist its
    * blocks (the localCheckpoint mode) and delete its
    * reliable-checkpoint files NOW (the checkpointDir mode). The
    * ContextCleaner only reclaims a reliable checkpoint when the
    * driver happens to GC its RDD, so an iterative operator
    * (ConnectedComponents' round loop, GraphExpand's hops) otherwise
    * accumulates one full table copy per round for the whole run —
    * at 1000× that fills the scratch disk before the job ends
    * (SCALE.md round-18: qp09/qp11 ENOSPC at ~75 GB with
    * accumulation as the named cause). The CALLER asserts the frame
    * is dead: round k+1 is materialized and nothing — no plan, no
    * retry — will read round k again. A deleted checkpoint that IS
    * read again fails the job with FileNotFoundException, so misuse
    * is loud, not wrong. */
  def release(df: DataFrame): Unit = {
    // local mode keeps the pre-release discipline: cache-manager
    // unpersist here, block reclaim by the ContextCleaner on GC —
    // force-unpersisting the locally-checkpointed leaf RDDs would work
    // too but logs a cannot-recompute WARN per round; the disk-leak
    // problem this method exists for is reliable-checkpoint FILES
    df.unpersist(blocking = false)
    val files = org.apache.spark.sql.graftbridge.PlanBridge.checkpointFiles(df)
    if (files.nonEmpty) {
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      files.foreach { f =>
        try {
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(conf).delete(p, true)
        } catch { case _: java.io.IOException => () } // cleaner's backstop
      }
    }
  }

  /** Delete this application's resolved UUID checkpoint subdir on JVM
    * exit — the backstop for checkpoints the ContextCleaner never got
    * to (e.g. still-referenced results at shutdown). */
  private def armCleanup(sc: SparkContext): Unit =
    sc.getCheckpointDir.foreach { resolved =>
      if (cleanupArmed.add(resolved)) {
        val conf = sc.hadoopConfiguration
        Runtime.getRuntime.addShutdownHook(new Thread(() => {
          try {
            val p = new org.apache.hadoop.fs.Path(resolved)
            p.getFileSystem(conf).delete(p, true)
          } catch { case _: Throwable => () }
        }))
      }
    }
}
