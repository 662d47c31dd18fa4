package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{PortableHistogram, StagedSwap}

/** Streaming quantile-sketch maintenance: an event stream feeds the
  * persisted [[PortableHistogram]] bucket table per micro-batch, so
  * "what is p99 of everything ever ingested" is answerable at any
  * moment without scanning the ingested corpus — the quantile sibling
  * of [[CardinalityIngest]] (distinct counts).
  *
  * The exactly-once discipline here is the THIRD one in this family,
  * because the histogram fold is ADDITIVE, not idempotent:
  * CardinalityIngest needs nothing (max-fold algebra absorbs
  * replays), VectorIngest/MediaIngest drop replayed rows by identity
  * (bloom + anti-join), but a replayed micro-batch of COUNTS would
  * silently double-add. The sidecar therefore carries a BATCH LEDGER
  * in the same parquet table as the buckets — schema
  * (kind, key, n): kind='bucket' rows are the sketch, kind='batch'
  * rows record folded micro-batch ids — so ledger and counts commit
  * in ONE staged swap and can never disagree, crash anywhere
  * included. A replayed batchId is recognized from the ledger and
  * folded as a no-op.
  *
  * 100 TB shape: the batch pre-aggregates to bucket partials before
  * touching the sidecar (executor-side map combine), the persisted
  * state is domain-bounded (buckets) plus one row per micro-batch
  * ever folded, and a fold costs one sketch-sized union — never a
  * corpus scan. Serving reads the sidecar alone.
  */
object HistogramIngest {

  private def histPath(dir: String) = s"$dir/histogram"

  /** Fold one micro-batch of values into the persisted sketch; a
    * batchId already present in the ledger makes this a no-op (the
    * at-least-once replay case). */
  def foldBatch(
      batch: DataFrame, value: Column, dir: String, batchId: Long,
      p: Int = 3): Unit = {
    val spark = batch.sparkSession
    val existing =
      if (exists(spark, dir)) Some(spark.read.parquet(histPath(dir)))
      else None
    val replay = existing.exists(t =>
      !t.where(col("kind") === "batch" && col("key") === batchId).isEmpty)
    if (replay) return

    val batchRows = PortableHistogram.histogram(batch, value, p)
      .select(lit("bucket").as("kind"), col("bucket_lo").as("key"),
        col("n"))
      .unionByName(spark.range(1).select(
        lit("batch").as("kind"), lit(batchId).as("key"), lit(1L).as("n")))
    val merged = existing match {
      case Some(t) =>
        t.unionByName(batchRows)
          .groupBy("kind", "key").agg(sum("n").as("n"))
      case None => batchRows
    }
    StagedSwap.rewrite(spark, histPath(dir))(merged.write.mode("overwrite").parquet)
  }

  /** Maintain the sketch from a stream. AvailableNow by default. */
  def ingest(
      stream: DataFrame,
      value: Column,
      dir: String,
      checkpointDir: String,
      p: Int = 3,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatches.start(stream, checkpointDir, trigger) { (batch, batchId) =>
      foldBatch(batch, value, dir, batchId, p)
    }

  /** Does the sidecar exist? Hadoop-FS based like everything else in
    * this family (a java.io.File check would always be false for
    * hdfs:///s3a:// sidecars). */
  def exists(spark: SparkSession, dir: String): Boolean =
    StagedSwap.exists(spark, histPath(dir))

  /** Destroy the sidecar COMPLETELY — live dir, any stranded `_old` or
    * legacy `__old` from an interrupted swap, and any staging dir. A
    * wipe that left a stranded copy would let the next fold adopt it
    * and stack fresh counts on stale history (the exact corruption
    * rebuild exists to prevent). */
  def wipe(spark: SparkSession, dir: String): Unit =
    StagedSwap.delete(spark, histPath(dir))

  /** The next unused ledger batch id for BATCH (CLI) appends — drawn
    * from the NEGATIVE id space (-1, -2, …) so a manual fold can never
    * collide with a streaming checkpoint's non-negative batch ids:
    * with a shared positive space, a CLI append taking max+1 would
    * claim the id the stream's NEXT micro-batch is about to carry,
    * and that micro-batch would be dropped as a "replay" (data loss).
    * Fresh dir => -1. */
  def nextBatchId(spark: SparkSession, dir: String): Long = {
    if (!exists(spark, dir)) return -1L
    spark.read.parquet(histPath(dir))
      .where(col("kind") === "batch" && col("key") < 0)
      .agg(coalesce(min("key"), lit(0L)))
      .head().getLong(0) - 1L
  }

  /** The current sketch: (bucket_lo, n), served from the sidecar. */
  def sketch(spark: SparkSession, dir: String): DataFrame = {
    exists(spark, dir) // adopts an interrupted swap before the read
    spark.read.parquet(histPath(dir))
      .where(col("kind") === "bucket")
      .select(col("key").as("bucket_lo"), col("n"))
  }

  /** Serve quantile ESTIMATES from the sidecar alone — (q_permille,
    * n_rows, est_milli). No exact column: serving never rescans the
    * ingested corpus (that's [[PortableHistogram.quantileProfile]]'s
    * verification leg, available in batch). */
  def quantiles(
      spark: SparkSession, dir: String,
      qsPerMille: Seq[Int]): DataFrame = {
    require(qsPerMille.nonEmpty && qsPerMille.forall(q => q >= 1 && q <= 1000),
      s"bad quantiles $qsPerMille")
    import spark.implicits._
    val byBucket = org.apache.spark.sql.expressions.Window
      .orderBy("bucket_lo")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val hist = sketch(spark, dir)
      .withColumn("cum", sum("n").over(byBucket))
    val tot = hist.agg(sum("n").as("n_rows"))
    val ranks = qsPerMille.map(_.toLong).toDF("q_permille")
      .crossJoin(broadcast(tot))
      .withColumn("r", expr("(n_rows * q_permille + 999) div 1000"))
    ranks.join(hist, hist("cum") >= ranks("r"), "left")
      .groupBy("q_permille", "n_rows")
      .agg(min("bucket_lo").as("est_milli"))
      .select(
        col("q_permille").cast("bigint").as("q_permille"),
        col("n_rows").cast("bigint").as("n_rows"),
        col("est_milli").cast("bigint").as("est_milli"))
  }
}
