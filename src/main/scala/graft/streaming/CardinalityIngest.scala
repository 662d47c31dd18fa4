package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.StagedSwap
import graft.operators.text.PortableHll

/** Streaming distinct-count maintenance: a document stream feeds the
  * persisted [[PortableHll]] register table per micro-batch, so "how
  * many distinct n-grams has this source ever produced" is answerable
  * at any moment WITHOUT scanning what was ingested — the
  * cardinality sibling of [[VectorIngest]] (ANN index) and
  * [[MediaIngest]] (perceptual index).
  *
  * Unlike those two, NO novelty guard is needed: the register fold is
  * `max`, which is idempotent and commutative, so a replayed
  * micro-batch (foreachBatch is at-least-once on retry) folds to the
  * exact same registers — exactly-once semantics come from the
  * algebra, not from anti-joins or blooms. That is also the 100 TB
  * shape: each executor's partial collapses to ≤ m rows per source
  * before the shuffle, the persisted sidecar is ≤ m rows per source
  * TOTAL (a few KB), and folding a batch in costs one sketch-sized
  * union — never a corpus scan, never growth in the state.
  *
  * The sidecar swap is staged exactly like `IvfPq.compactIndex`
  * (write aside → rename out → rename in → restore on failure): a
  * crash mid-fold leaves either the old or the new registers, never
  * neither. Single-writer contract as everywhere in this family.
  */
object CardinalityIngest {

  private def regsPath(dir: String) = s"$dir/registers"

  /** Fold one micro-batch of documents into the persisted registers.
    * Also usable standalone for batch increments. */
  def foldBatch(batch: DataFrame, text: Column, dir: String): Unit = {
    val spark = batch.sparkSession
    val terms = batch.select(
      col("source"), explode(PortableHll.grams(text)).as("term"))
    val batchRegs = PortableHll.registers(terms, col("term"), Seq("source"))
    // a crash between the swap's renames leaves the live dir missing
    // and the history in _old; WITHOUT the adoption in `exists` the
    // next fold would silently RESTART the sketch from one batch
    val merged =
      if (exists(spark, dir))
        PortableHll.mergeRegisters(
          spark.read.parquet(regsPath(dir)).unionByName(batchRegs),
          Seq("source"))
      else batchRegs
    // the merged plan READS the live registers, so it must materialize
    // into the staging dir before the live dir can move aside
    StagedSwap.rewrite(spark, regsPath(dir))(merged.write.mode("overwrite").parquet)
  }

  /** Maintain the registers from a stream. AvailableNow by default —
    * drain what exists, then stop. */
  def ingest(
      stream: DataFrame,
      text: Column,
      dir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatches.start(stream, checkpointDir, trigger) { (batch, _) =>
      foldBatch(batch, text, dir)
    }

  /** Does the registers sidecar exist? Hadoop-FS based (a
    * java.io.File check would always be false for hdfs:///s3a://
    * sidecars), adopting an interrupted swap first — mirrors
    * [[HistogramIngest.exists]] so the CLI can print a usage hint
    * instead of a raw AnalysisException. */
  def exists(spark: SparkSession, dir: String): Boolean =
    StagedSwap.exists(spark, regsPath(dir))

  /** Serve the current per-source estimates from the sidecar alone —
    * (source, s_scaled, zero_registers, raw_est), the qt48 columns,
    * with zero contact with the ingested corpus. */
  def estimates(spark: SparkSession, dir: String): DataFrame = {
    exists(spark, dir) // adopts an interrupted swap before the read
    PortableHll.estimate(
      spark.read.parquet(regsPath(dir)), Seq("source"))
  }
}
