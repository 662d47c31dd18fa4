package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.similarity.{IvfPq, ProductQuantizer}

/** Streaming ANN index maintenance: a stream of (id, embedding) rows
  * feeds the persisted IVF×PQ serving index ([[IvfPq.appendIndex]])
  * per micro-batch — the vector-side sibling of
  * [[IngestPipeline.curateIngest]]'s document path. foreachBatch for
  * the same reason as there: the append is a composed batch plan
  * (encode → dynamic-partition append), not a streaming-native sink.
  *
  * Exactly-once-by-idempotence (single writer): parquet appends under
  * foreachBatch are at-least-once on retry, so each batch anti-joins
  * the index's id column first — a replayed batch finds its ids
  * already present and appends nothing. The contract assumes ONE
  * writer owns the index directory (the streaming query's own retries
  * are serial, so they are safe); two concurrent appenders — a stream
  * plus an out-of-band `ann append`, or two CLI runs — can both pass
  * the novelty check before either writes and duplicate ids.
  * Within-batch duplicate ids collapse to one arbitrary row (Spark's
  * `dropDuplicates` keeps whichever row its scan sees first).
  *
  * The novelty check is gated by the `ids.bloom` [[BloomSidecar]]
  * `ann build` persists beside the codes: a batch whose ids are all
  * bloom-negative never reads the ids parquet, so at 10⁹ vectors a
  * novel stream costs bloom probes per row instead of a
  * full-index scan per micro-batch. Because cells and codebook are
  * frozen constants, the maintained index stays content-identical to a
  * full rebuild over everything ever ingested (the qs24 contract), and
  * probes keep file-level cell pruning throughout.
  */
object VectorIngest {

  private def sidecar(spark: SparkSession, indexDir: String) =
    new BloomSidecar(spark, s"$indexDir/ids.bloom")
  private def ids(spark: SparkSession, indexDir: String) =
    spark.read.parquet(s"$indexDir/codes").select("id")

  /** Append each micro-batch's novel vectors into `indexDir`.
    * AvailableNow by default: drain what exists, then stop — the batch
    * ingestion mode; pass a processing-time trigger for continuous. */
  def appendStream(
      stream: DataFrame,
      vec: Column,
      id: Column,
      indexDir: String,
      checkpointDir: String,
      cb: ProductQuantizer.Codebook = ProductQuantizer.DefaultCodebook,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatches.start(stream, checkpointDir, trigger) { (batch, _) =>
      appendBatch(batch, vec, id, indexDir, cb)
    }

  /** Build (or rebuild) the id bloom sidecar from the persisted codes —
    * called by `ann build` and by the first append into an empty dir. */
  def writeIdBloom(spark: SparkSession, indexDir: String): Unit =
    sidecar(spark, indexDir).rebuild(ids(spark, indexDir))

  /** One batch of the maintenance loop, also usable standalone for
    * batch increments: dedup within the batch, bloom-gate the novelty
    * check, fold the novel ids into the bloom, append their codes. */
  def appendBatch(
      batch: DataFrame,
      vec: Column,
      id: Column,
      indexDir: String,
      cb: ProductQuantizer.Codebook = ProductQuantizer.DefaultCodebook): Unit = {
    val spark = batch.sparkSession
    val rows = batch.select(id.as("id"), vec.as("v")).dropDuplicates("id")
    // the missing-path case is checked EXPLICITLY: any other failure
    // reading the index (schema mismatch, corrupt listing) must
    // propagate — swallowing it would skip the idempotence guard and
    // append duplicate ids. `exists` adopts a killed compaction's
    // `codes_old` first: a one-batch bootstrap beside it would be
    // deleted, with every pre-crash vector, by the next compaction
    if (!graft.operators.StagedSwap.exists(spark, s"$indexDir/codes")) {
      IvfPq.appendIndex(rows, col("v"), col("id"), indexDir, cb)
      writeIdBloom(spark, indexDir)
      return
    }
    val bloom = sidecar(spark, indexDir)
    // barrier BEFORE anything re-reads `novel` — un-materialized
    // lineage would re-run the anti-join against the index after it
    // gains these rows (yielding nothing to append)
    val novel = graft.operators.Barrier(bloom.novel(rows, "id", ids(spark, indexDir)))
    bloom.commit(novel.select("id"), ids(spark, indexDir)) {
      IvfPq.appendIndex(novel, col("v"), col("id"), indexDir, cb)
    }
  }
}
