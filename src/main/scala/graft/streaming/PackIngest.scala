package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.text.SequencePack

/** Streaming sequence-packing maintenance — the fourth member of the
  * persisted-artifact maintenance family (VectorIngest = ANN index,
  * MediaIngest = perceptual index, CardinalityIngest = HLL sidecar):
  * a stream of curated documents appends into a persisted packing
  * ASSIGNMENT table per micro-batch, so "which training sequence does
  * this document ride in" is answered incrementally — never by
  * repacking the corpus.
  *
  * Correctness rests on [[SequencePack.appendAssign]]'s
  * prefix-stability (append == one-shot repack, spec-proven), which
  * requires each micro-batch's doc_ids to sort after everything
  * already packed in their shard — the append-only id convention
  * every increment path in this repo carries. Replays (foreachBatch
  * is at-least-once) are guarded exactly like [[VectorIngest]], by an
  * `ids.bloom` [[BloomSidecar]] over the assigned ids. The assignment
  * table itself is 4 longs per row — the bloom spares the scan, not a
  * shuffle; the table is never shuffled or broadcast.
  */
object PackIngest {

  private def asgPath(dir: String) = s"$dir/assignment"
  private def sidecar(spark: SparkSession, dir: String) =
    new BloomSidecar(spark, s"$dir/ids.bloom")
  private def docIds(spark: SparkSession, dir: String) =
    spark.read.parquet(asgPath(dir)).select("doc_id")

  /** One maintenance step, also usable for batch increments: dedup
    * within the batch, bloom-gate the replay check, fold the novel ids
    * into the bloom, then pack them as a prefix-stable continuation
    * and append. */
  def appendBatch(
      batch: DataFrame,
      text: Column,
      id: Column,
      dir: String,
      capacity: Int,
      shards: Int): Unit = {
    val spark = batch.sparkSession
    val rows = batch.select(id.as("doc_id"), text.as("__text"))
      .dropDuplicates("doc_id")
    val asg = new org.apache.hadoop.fs.Path(asgPath(dir))
    val fs = asg.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(asg)) {
      val first = SequencePack.assign(
        rows, col("__text"), col("doc_id"), capacity, shards)
      first.write.parquet(asgPath(dir))
      sidecar(spark, dir).rebuild(docIds(spark, dir))
      return
    }
    val bloom = sidecar(spark, dir)
    // barrier BEFORE anything re-reads `novel`: un-materialized
    // lineage would re-run the anti-join against an assignment that
    // may meanwhile contain these rows
    val novel = graft.operators.Barrier(bloom.novel(rows, "doc_id", docIds(spark, dir)))
    bloom.commit(novel.select("doc_id"), docIds(spark, dir)) {
      // the continuation's tail-state aggregate reads the SAME directory
      // the append writes into — materialize it first so the write
      // job's lineage never lists its own output
      val inc = graft.operators.Barrier(
        SequencePack.appendAssign(
          spark.read.parquet(asgPath(dir)), novel,
          col("__text"), col("doc_id"), capacity, shards))
      inc.write.mode("append").parquet(asgPath(dir))
    }
  }

  /** Maintain the assignment from a stream. AvailableNow by default —
    * drain what exists, then stop. */
  def ingest(
      stream: DataFrame,
      text: Column,
      id: Column,
      dir: String,
      checkpointDir: String,
      capacity: Int,
      shards: Int,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatches.start(stream, checkpointDir, trigger) { (batch, _) =>
      appendBatch(batch, text, id, dir, capacity, shards)
    }

  /** The maintained assignment, read back. */
  def assignment(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(asgPath(dir))
}
