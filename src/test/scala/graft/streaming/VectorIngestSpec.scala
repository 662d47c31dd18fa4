package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables
import graft.operators.similarity.IvfPq

class VectorIngestSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.load(spark, sf0001, "embeddings").cache()

  test("streamed appends converge to the full-rebuild index; replays are no-ops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    val all = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    val (first, second) = all.splitAt(all.size / 2)

    val dir = java.nio.file.Files.createTempDirectory("graft_vi").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_vi_ck").toString
    val mem = MemoryStream[(Long, Seq[Float])]
    val df = mem.toDF().toDF("vec_id", "embedding")

    def drain(): Unit = {
      val q = VectorIngest.appendStream(
        df, col("embedding"), col("vec_id"), dir, ckpt)
      q.awaitTermination()
    }
    mem.addData(first: _*)
    drain()
    // second batch overlaps the first (duplicate ids) — the anti-join
    // must drop the overlap, modeling an at-least-once replay
    mem.addData(second ++ first.take(10): _*)
    drain()

    val codes = spark.read.parquet(s"$dir/codes")
    assert(codes.count() === all.size.toLong, "replayed ids were re-appended")
    assert(codes.select("id").distinct().count() === all.size.toLong)

    // content-identical to a one-shot rebuild (the qs24 contract)
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_vi_r").toString
    IvfPq.writeIndex(emb, col("embedding"), col("vec_id"), rebuilt)
    val probe = emb.filter(col("vec_id") === 0)
      .select("embedding").as[Seq[Float]].head()
    val streamedTopK = IvfPq.topKIndexed(spark, dir, probe, 10, nprobe = 3)
      .as[(Long, Double)].collect().toSeq
    val rebuiltTopK = IvfPq.topKIndexed(spark, rebuilt, probe, 10, nprobe = 3)
      .as[(Long, Double)].collect().toSeq
    assert(streamedTopK === rebuiltTopK, "streamed index diverges from rebuild")
  }

  test("appendBatch is idempotent when re-run with the same rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vi_b").toString
    val half = emb.filter(col("vec_id") % 2 === 0)
    VectorIngest.appendBatch(half, col("embedding"), col("vec_id"), dir)
    val n1 = spark.read.parquet(s"$dir/codes").count()
    VectorIngest.appendBatch(half, col("embedding"), col("vec_id"), dir)
    assert(spark.read.parquet(s"$dir/codes").count() === n1,
      "re-running the same batch grew the index")
  }

  test("appendBatch adopts the id-bloom sidecar and folds novel ids forward") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vi_bl").toString
    // first batch on an empty dir creates codes AND the sidecar
    VectorIngest.appendBatch(emb.filter(col("vec_id") < 100),
      col("embedding"), col("vec_id"), dir)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/ids.bloom")),
      "build/first-append did not write the id bloom")
    // the fold: after a second append, the bloom must contain the new
    // ids (they'd be silently re-appendable otherwise)
    VectorIngest.appendBatch(
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 150),
      col("embedding"), col("vec_id"), dir)
    val bf = new BloomSidecar(spark, s"$dir/ids.bloom").bits.get
    (0 until 150).foreach(i =>
      assert(bf.mightContainString(i.toString), s"id $i missing from bloom"))
    assert(spark.read.parquet(s"$dir/codes").count() === 150L)
  }

  test("a commit whose bloom fold fails appends nothing; the rerun lands each id once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vi_fault").toString
    VectorIngest.appendBatch(emb.filter(col("vec_id") < 100),
      col("embedding"), col("vec_id"), dir)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    val meta = new org.apache.hadoop.fs.Path(s"$dir/ids.bloom.meta")
    val saved = graft.operators.StagedSwap.readSidecar(fs, meta)
    graft.operators.StagedSwap.writeSidecar(fs, meta, "unreadable")
    val batch = emb.filter(col("vec_id") >= 100 && col("vec_id") < 120)
    intercept[Exception](
      VectorIngest.appendBatch(batch, col("embedding"), col("vec_id"), dir))
    graft.operators.StagedSwap.writeSidecar(fs, meta, saved)
    VectorIngest.appendBatch(batch, col("embedding"), col("vec_id"), dir)
    val ids = spark.read.parquet(s"$dir/codes").select("id").as[Long].collect().toSeq
    assert(ids.size == 120 && ids.distinct.size == 120,
      s"${ids.size} rows, ${ids.distinct.size} distinct ids")
  }

  test("bloom-all-negative batch appends without reading the index's ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vi_neg").toString
    VectorIngest.appendBatch(emb.filter(col("vec_id") < 200),
      col("embedding"), col("vec_id"), dir)
    // capture every executed plan during the novel append; none may
    // scan the codes parquet (the bloom answered "definitely novel")
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val novel = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 1000001L).as("vec_id"), col("embedding"))
      VectorIngest.appendBatch(novel, col("embedding"), col("vec_id"), dir)
      Thread.sleep(2000) // listener bus is async
      // the append WRITES to the codes dir (InsertIntoHadoopFsRelation
      // names it as output) — only a READ scan of it is an offense
      val offenders = plans.synchronized {
        plans.filter(_.linesIterator.exists(l =>
          l.contains("FileScan") && l.contains(s"$dir/codes"))).toSeq
      }
      assert(offenders.isEmpty,
        s"all-negative batch read the index ids:\n${offenders.mkString("\n---\n")}")
    } finally spark.listenerManager.unregister(listener)
    assert(spark.read.parquet(s"$dir/codes").count() === 205L,
      "novel rows did not land")
  }

  test("an append after a compaction killed between its renames extends the stranded index") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vi_kill").toString
    VectorIngest.appendBatch(emb.filter(col("vec_id") < 100),
      col("embedding"), col("vec_id"), dir)
    // `ann compact` killed between its renames: the live codes sit in _old
    val live = new org.apache.hadoop.fs.Path(s"$dir/codes")
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(live, graft.operators.StagedSwap.oldPath(live)))
    // ids 90..99 are already indexed; 100..129 are new
    VectorIngest.appendBatch(emb.filter(col("vec_id") >= 90 && col("vec_id") < 130),
      col("embedding"), col("vec_id"), dir)
    def ids = spark.read.parquet(s"$dir/codes").select("id").as[Long].collect().toSeq.sorted
    assert(ids == (0L until 130L), s"${ids.size} rows, ${ids.distinct.size} distinct ids")
    val bf = new BloomSidecar(spark, s"$dir/ids.bloom").bits.get
    (0 until 100).foreach(i =>
      assert(bf.mightContainString(i.toString), s"pre-crash id $i missing from bloom"))
    // the next compaction keeps every pre-crash vector
    IvfPq.compactIndex(spark, dir)
    assert(ids == (0L until 130L), s"${ids.size} rows after compaction")
  }
}
