package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one stream driver, for the maintenance streams and the streaming
  * sync: every micro-batch goes, with its batch id, to `fold` through
  * foreachBatch (append mode, checkpointed source progress).
  * foreachBatch is at-least-once, so each `fold` must be safe to rerun. */
private[graft] object MicroBatches {

  def start(stream: DataFrame, checkpointDir: String, trigger: Trigger)(
      fold: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(fold)
      .trigger(trigger)
      .start()
}
