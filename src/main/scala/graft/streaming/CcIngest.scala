package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.dedup.{ConnectedComponents, MinHashLSH}

/** Streaming maintenance of the persisted duplicate-cluster label
  * store — the ingest-family face of `cc append` (round-13 advice #6's
  * batch machinery driven from foreachBatch): each micro-batch's
  * near-dup edges fold into the bucket-partitioned component store via
  * [[ConnectedComponents.appendComponentsStore]], so cluster labels
  * stay current as documents arrive instead of being recomputed
  * nightly from scratch.
  *
  * Edge sources per batch: pairs WITHIN the batch
  * ([[MinHashLSH.candidatePairs]]) plus pairs AGAINST the persisted
  * LSH index ([[MinHashLSH.pairsAgainstIndex]] — one broadcast scan,
  * the corpus is never re-signed), and the batch's novel signatures
  * fold into the index docs so LATER batches' cross edges see them —
  * without that fold, a near-duplicate arriving two batches after its
  * twin would never be linked and the stream would drift from the
  * one-shot build (spec-pinned equal).
  *
  * Replay idempotence (the VectorIngest/MediaIngest novelty
  * discipline, at-least-once foreachBatch is safe): ids already in the
  * store are not re-added as nodes, signatures already in the index
  * are not re-appended (both by anti-join), and a replayed batch's
  * edges all map onto single components — [[ConnectedComponents]]'
  * append algebra turns them into self-loops, so the store rewrites
  * ZERO buckets (untouched bucket files stay byte-identical,
  * spec-pinned). Ordering inside the fold: signatures commit BEFORE
  * the store — a crash between the two leaves ids out of the store, so
  * the rerun re-folds them (sig append skips, store append proceeds);
  * the reverse order would strand ids in the store with their
  * signatures lost forever.
  *
  * 100 TB shape: every shuffle is batch-sized or ids-only; the store
  * rewrite touches only gain/lose buckets (journaled, crash-safe); the
  * index scan streams once per batch with the batch broadcast.
  * Single-writer per store dir, like every persisted artifact here.
  */
object CcIngest {

  /** Fold one batch into the LSH index + label store. Returns the
    * number of store buckets rewritten (0 = replay or no novelty). */
  def foldBatch(
      spark: SparkSession,
      batch: DataFrame,
      text: Column,
      idCol: String,
      lshDir: String,
      storeDir: String,
      p: MinHashLSH.Params = MinHashLSH.Params()): Int = {
    // fail fast with the prerequisite named (review finding: a fresh
    // deployment otherwise dies inside foreachBatch with a raw
    // PATH_NOT_FOUND) — this fold MAINTAINS a store and an index, it
    // does not bootstrap them
    def exists(path: String): Boolean = {
      val hp = new org.apache.hadoop.fs.Path(path)
      hp.getFileSystem(spark.sessionState.newHadoopConf()).exists(hp)
    }
    require(exists(s"$lshDir/docs"),
      s"no LSH index at $lshDir — run `index build` (or " +
        "MinHashLSH.writeIndex) before streaming CC maintenance")
    require(exists(storeDir),
      s"no label store at $storeDir — run `cc build` (or " +
        "writeComponentsStore) before streaming CC maintenance")
    val lsh = MinHashLSH.readIndex(spark, lshDir)
    val storeIds = ConnectedComponents.readComponentsStore(spark, storeDir)
      .select(col(idCol))
    // novelty gate: rows whose id the store already labeled are a
    // replay — Barrier'd, three consumers below
    val novel = graft.operators.Barrier(
      batch.join(storeIds, Seq(idCol), "left_anti"))
    // 1. fold novel signatures into the index docs, gated on index
    //    membership (an interrupted run's rerun appends nothing twice)
    MinHashLSH.signatures(novel, text, col(idCol), p)
      .withColumn("bks", MinHashLSH.bandKeys(col("sig"), p.bands, p.rows))
      .join(lsh.docs.select(col("id")), Seq("id"), "left_anti")
      .write.mode("append").parquet(s"$lshDir/docs")
    // 2. edges: within-batch + novel-vs-corpus. The index snapshot was
    //    listed before the fold; even if a rerun sees its own
    //    signatures, self-pairs collapse to component self-loops.
    val within = MinHashLSH.candidatePairs(batch, text, col(idCol), p)
      .select(col("id_a"), col("id_b"))
    val cross = MinHashLSH.pairsAgainstIndex(lsh, novel, text, col(idCol), p)
      .select(col("id_new").as("id_a"), col("id_old").as("id_b"))
    ConnectedComponents.appendComponentsStore(
      spark, storeDir, within.unionByName(cross), "id_a", "id_b",
      novel.select(col(idCol)).distinct(), idCol)
  }

  /** Streaming wrapper: AvailableNow by default (drain-then-stop). */
  def ingest(
      stream: DataFrame,
      text: Column,
      idCol: String,
      lshDir: String,
      storeDir: String,
      checkpointDir: String,
      p: MinHashLSH.Params = MinHashLSH.Params(),
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatches.start(stream, checkpointDir, trigger) { (batch, _) =>
      foldBatch(batch.sparkSession, batch, text, idCol, lshDir, storeDir, p)
      ()
    }
}
