package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.PortableHistogram

class HistogramIngestSpec extends SparkSpec {
  import spark.implicits._

  private def vals(xs: Seq[Double]) = xs.toDF("value")

  private def bucketRows(dir: String) =
    HistogramIngest.sketch(spark, dir)
      .as[(Long, Long)].collect().toMap

  test("streamed folds converge to the one-shot histogram; replays are no-ops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val all = (1 to 400).map(i => (i % 53) * 2.5 + 0.01)
    val (first, second) = all.splitAt(200)
    val dir = java.nio.file.Files.createTempDirectory("graft_hi").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_hi_ck").toString
    val mem = MemoryStream[Double]
    val df = mem.toDF().toDF("value")

    def drain(): Unit = {
      val q = HistogramIngest.ingest(df, col("value"), dir, ckpt)
      q.awaitTermination()
    }
    mem.addData(first: _*)
    drain()
    mem.addData(second: _*)
    drain()

    val whole = PortableHistogram.histogram(vals(all), col("value"), 3)
      .as[(Long, Long)].collect().toMap
    assert(bucketRows(dir) == whole,
      "streamed buckets diverge from the one-shot histogram")
  }

  test("a replayed batchId folds as a no-op (additive state, ledger-guarded)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hi_r").toString
    val b = vals(Seq(1.0, 2.0, 3.0, 400.0))
    HistogramIngest.foldBatch(b, col("value"), dir, batchId = 0L)
    val once = bucketRows(dir)
    // at-least-once delivery: the SAME batch id arrives again — the
    // ledger must make the second fold invisible (a sum fold without
    // the guard would double every count)
    HistogramIngest.foldBatch(b, col("value"), dir, batchId = 0L)
    assert(bucketRows(dir) == once, "replay double-counted the sketch")
    // a genuinely new batch still folds
    HistogramIngest.foldBatch(vals(Seq(1.0)), col("value"), dir, batchId = 1L)
    val after = bucketRows(dir)
    assert(after(1000L) == once(1000L) + 1)
  }

  test("CLI appends draw from the negative id space — a resuming stream's next id still folds") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hi_n").toString
    // stream folds checkpoint batch 0
    HistogramIngest.foldBatch(vals(Seq(1.0)), col("value"), dir, batchId = 0L)
    // a manual CLI append between stream runs: must take -1, not 1
    val cid = HistogramIngest.nextBatchId(spark, dir)
    assert(cid == -1L, s"cid=$cid")
    HistogramIngest.foldBatch(vals(Seq(2.0)), col("value"), dir, cid)
    assert(HistogramIngest.nextBatchId(spark, dir) == -2L)
    // the stream resumes with checkpoint batch 1 — with a shared
    // positive space the CLI fold would have claimed id 1 and this
    // batch would be dropped as a replay (data loss)
    HistogramIngest.foldBatch(vals(Seq(3.0)), col("value"), dir, batchId = 1L)
    val got = bucketRows(dir)
    assert(got == Map(1000L -> 1L, 2000L -> 1L, 3000L -> 1L), got.toString)
  }

  test("an interrupted swap is adopted, never restarted from one batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hi_x").toString
    HistogramIngest.foldBatch(
      vals((1 to 300).map(_ * 0.7)), col("value"), dir, batchId = 0L)
    val full = bucketRows(dir)
    val live = new org.apache.hadoop.fs.Path(s"$dir/histogram")
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(live, graft.operators.StagedSwap.oldPath(live)))
    HistogramIngest.foldBatch(
      vals(Seq(0.9)), col("value"), dir, batchId = 1L)
    val after = bucketRows(dir)
    assert(after(900L) == full.getOrElse(900L, 0L) + 1,
      "interrupted swap lost the stranded history")
    assert((after.keySet -- full.keySet - 900L).isEmpty)
  }

  test("wipe destroys stranded _old history — a rebuild cannot resurrect it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hi_w").toString
    HistogramIngest.foldBatch(vals(Seq(1.0, 2.0)), col("value"), dir, 0L)
    // simulate a crash between the swap's renames: live moved aside
    val live = new org.apache.hadoop.fs.Path(s"$dir/histogram")
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(live, graft.operators.StagedSwap.oldPath(live)))
    // the rebuild path: wipe must remove the stranded _old too, or the
    // next fold's restoreIfInterrupted resurrects stale counts under
    // the fresh build
    HistogramIngest.wipe(spark, dir)
    HistogramIngest.foldBatch(vals(Seq(9.0)), col("value"), dir, 0L)
    assert(bucketRows(dir) == Map(9000L -> 1L),
      s"stale history resurrected: ${bucketRows(dir)}")
  }

  test("wipe destroys a stranded legacy __old too") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hi_wl").toString
    HistogramIngest.foldBatch(vals(Seq(1.0, 2.0)), col("value"), dir, 0L)
    // a swap interrupted under the pre-extraction `__old` naming
    val live = new org.apache.hadoop.fs.Path(s"$dir/histogram")
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(live, new org.apache.hadoop.fs.Path(s"$dir/histogram__old")))
    HistogramIngest.wipe(spark, dir)
    HistogramIngest.foldBatch(vals(Seq(9.0)), col("value"), dir, 0L)
    assert(bucketRows(dir) == Map(9000L -> 1L),
      s"stale history resurrected: ${bucketRows(dir)}")
  }

  test("served quantiles match the batch estimator on the same data") {
    val dir = java.nio.file.Files.createTempDirectory("graft_hi_q").toString
    val data = (1 to 1000).map(i => i * i * 0.003)
    HistogramIngest.foldBatch(vals(data), col("value"), dir, batchId = 0L)
    val served = HistogramIngest.quantiles(spark, dir, Seq(500, 900, 990))
      .select("q_permille", "est_milli").as[(Long, Long)].collect().toMap
    val batch = PortableHistogram.quantileProfile(
        vals(data), col("value"), 3, Seq(500, 900, 990))
      .select("q_permille", "est_milli").as[(Long, Long)].collect().toMap
    assert(served == batch, "sidecar estimates diverge from batch estimator")
  }
}
