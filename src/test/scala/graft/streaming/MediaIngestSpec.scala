package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.multimodal.PerceptualHash

class MediaIngestSpec extends SparkSpec {
  import spark.implicits._

  /** Media frame of planted PNGs: ids 2k and 2k+1 share a pixel group
    * (near-identical, small Hamming); different groups are unrelated. */
  private def media(ids: Seq[Long]) =
    ids.toDF("id")
      .as[Long]
      .mapPartitions(_.map(id => (id, "image/png", PerceptualHash.plantedPng(id))))
      .toDF("id", "media_type", "content")

  test("appendBatch rejects exact replays and near-duplicate images") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mi").toString
    // corpus: even ids from three groups
    val first = MediaIngest.appendBatch(media(Seq(0L, 2L, 4L)), dir)
    assert(first.count() == 3)
    // increment: 1 near-dups 0 (same group), 0 replays exactly,
    // 100 is a novel group
    val admitted = MediaIngest.appendBatch(media(Seq(1L, 0L, 100L)), dir)
      .select("id").as[Long].collect().toSet
    assert(admitted == Set(100L),
      s"expected only the novel group to land, got $admitted")
    assert(spark.read.parquet(s"$dir/hashes").count() == 4)
    // replaying the increment appends nothing (idempotence by content)
    assert(MediaIngest.appendBatch(media(Seq(100L)), dir).count() == 0)
    assert(spark.read.parquet(s"$dir/hashes").count() == 4)
  }

  test("bloom-all-negative batch is admitted without scanning the index") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mi_neg").toString
    MediaIngest.buildIndexDir(media(Seq(0L, 2L, 4L)), dir)
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
      val n = MediaIngest.appendBatch(media(Seq(500L)), dir).count()
      assert(n == 1)
      Thread.sleep(2000) // listener bus is async
      val offenders = plans.synchronized {
        plans.filter(_.linesIterator.exists(l =>
          l.contains("FileScan") && l.contains(s"$dir/hashes"))).toSeq
      }
      assert(offenders.isEmpty,
        s"all-negative batch read the index:\n${offenders.mkString("\n---\n")}")
    } finally spark.listenerManager.unregister(listener)
    assert(spark.read.parquet(s"$dir/hashes").count() == 4)
  }

  test("a commit whose bloom fold fails appends nothing; the rerun lands each image once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mi_fault").toString
    MediaIngest.buildIndexDir(media(Seq(0L, 2L, 4L)), dir)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
    val meta = new org.apache.hadoop.fs.Path(s"$dir/bands.bloom.meta")
    val saved = graft.operators.StagedSwap.readSidecar(fs, meta)
    graft.operators.StagedSwap.writeSidecar(fs, meta, "unreadable")
    // image 500's band keys are all bloom-negative: the gate admits it
    // without a scan, so only the commit's order keeps a rerun honest
    intercept[Exception](MediaIngest.appendBatch(media(Seq(500L)), dir))
    graft.operators.StagedSwap.writeSidecar(fs, meta, saved)
    MediaIngest.appendBatch(media(Seq(500L)), dir)
    val ids = spark.read.parquet(s"$dir/hashes").select("id").as[Long].collect().toSeq
    assert(ids.sorted == Seq(0L, 2L, 4L, 500L), s"hashes hold ${ids.sorted.mkString(",")}")
  }

  test("compact collapses append-accumulated files; guard behavior unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mi_c").toString
    MediaIngest.buildIndexDir(media(Seq(0L, 2L)), dir)
    MediaIngest.appendBatch(media(Seq(10L)), dir)
    MediaIngest.appendBatch(media(Seq(20L)), dir)
    val before = spark.read.parquet(s"$dir/hashes").as[(Long, Long)]
      .collect().toSet
    val (bf, af) = MediaIngest.compactIndex(spark, dir)
    assert(af < bf, s"compact did not shrink files ($bf -> $af)")
    assert(spark.read.parquet(s"$dir/hashes").as[(Long, Long)]
      .collect().toSet == before, "compact changed index content")
    // one hash file already: a second compaction rewrites none
    def files = {
      val root = new org.apache.hadoop.fs.Path(s"$dir/hashes")
      val it = root.getFileSystem(spark.sessionState.newHadoopConf()).listFiles(root, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
    }
    val kept = files
    assert(af == 1L && MediaIngest.compactIndex(spark, dir) == ((1L, 1L)) && files == kept)
    // the rebuilt bloom + index still reject a replay and admit novelty
    assert(MediaIngest.appendBatch(media(Seq(10L)), dir).count() == 0)
    // pick a genuinely-far id (planted groups can collide in dHash)
    val existing = before.map(_._2)
    val novelId = (30L to 90L by 2).find { i =>
      val h = PerceptualHash.dHash64(PerceptualHash.plantedPng(i)).get
      existing.forall(e => java.lang.Long.bitCount(e ^ h) > 3)
    }.get
    assert(MediaIngest.appendBatch(media(Seq(novelId)), dir).count() == 1)
  }

  test("streamed ingest admits only perceptually-novel payloads to the sink") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_mi_s").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mi_ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft_mi_out").toString
    val sink = graft.sync.ParquetSink(out)

    val mem = MemoryStream[Long]
    val stream = mem.toDF().toDF("id").as[Long]
      .mapPartitions(_.map(id => (id, "image/png", PerceptualHash.plantedPng(id))))
      .toDF("id", "media_type", "content")
    def drain(): Unit =
      MediaIngest.ingest(stream, dir, sink, "imgs", ckpt).awaitTermination()

    mem.addData(0L, 2L)
    drain()
    // 3 near-dups 2; 6 novel; 0 replay
    mem.addData(3L, 6L, 0L)
    drain()
    val landed = sink.readBack(spark, "imgs").select("id").as[Long].collect().toSet
    assert(landed == Set(0L, 2L, 6L), s"sink holds $landed")
    // undecodable payloads drop out instead of crashing the batch
    val junk = Seq((900L, "image/png", Array[Byte](1, 2, 3)))
      .toDF("id", "media_type", "content")
    assert(MediaIngest.appendBatch(junk, dir).count() == 0)
  }

  test("streamed ingest honors a custom id column name") {
    // admitBatch decodes select("id", "content"); ingest must rename
    // the stream's key into place or a non-default idCol fails at
    // decode (round-10 advice item)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_mi_id").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mi_idck").toString
    val out = java.nio.file.Files.createTempDirectory("graft_mi_idout").toString
    val sink = graft.sync.ParquetSink(out)

    val mem = MemoryStream[Long]
    val stream = mem.toDF().toDF("k").as[Long]
      .mapPartitions(_.map(id => (id, PerceptualHash.plantedPng(id))))
      .toDF("media_id", "content")
    mem.addData(0L, 6L)
    MediaIngest.ingest(stream, dir, sink, "imgs", ckpt, idCol = "media_id")
      .awaitTermination()
    val landed = sink.readBack(spark, "imgs")
      .select("media_id").as[Long].collect().toSet
    assert(landed == Set(0L, 6L), s"sink holds $landed")
    // a near-dup of 0 under the custom key is still rejected
    mem.addData(1L)
    MediaIngest.ingest(stream, dir, sink, "imgs", ckpt, idCol = "media_id")
      .awaitTermination()
    assert(sink.readBack(spark, "imgs").count() == 2)
  }

  test("a build killed between mode and hashes reads as empty, never wrong-mode") {
    // buildIndexDir's crash ordering (round-15 review): old hashes
    // drop first, then the mode sidecar, then new hashes — so a torn
    // audio build is a mode-only dir, NOT audio hashes defaulting to
    // 'image'. Model the torn state directly and check both readers.
    val dir = java.nio.file.Files.createTempDirectory("graft_mi_torn").toString
    val p = new org.apache.hadoop.fs.Path(s"$dir/hash_mode")
    graft.operators.StagedSwap.writeSidecar(
      p.getFileSystem(spark.sessionState.newHadoopConf()), p, "audio")
    assert(MediaIngest.indexMode(spark, dir).contains("audio"))
    // an append against the torn dir bootstraps (no hashes) and its
    // commit rewrites the mode to its own kernel — no poisoning
    val admitted = MediaIngest.appendBatch(media(Seq(0L, 2L)), dir)
    assert(admitted.count() == 2)
    assert(MediaIngest.indexMode(spark, dir).contains("image"),
      "bootstrap commit did not claim the index for its own mode")
    // and a REBUILD to the other mode drops the old hashes before
    // anything else: after the build the mode matches the hashes
    val wavs = Seq(0L, 2L).toDF("id").as[Long]
      .mapPartitions(_.map(id => (id, "audio/wav",
        graft.operators.multimodal.PerceptualAudio.plantedWav(id))))
      .toDF("id", "media_type", "content")
    MediaIngest.buildIndexDir(wavs, dir, audio = true)
    assert(MediaIngest.indexMode(spark, dir).contains("audio"))
    val e = intercept[IllegalArgumentException] {
      MediaIngest.appendBatch(media(Seq(4L)), dir) // image op, audio index
    }
    assert(e.getMessage.contains("audio"), e.getMessage)
  }

  test("an append after a compaction killed between its renames still rejects near-duplicates") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mi_kill").toString
    MediaIngest.buildIndexDir(media(Seq(0L, 2L, 4L)), dir)
    // `media compact` killed between its renames: the live hashes sit in _old
    val live = new org.apache.hadoop.fs.Path(s"$dir/hashes")
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(live, graft.operators.StagedSwap.oldPath(live)))
    // 1 near-dups the pre-crash 0; 100 is a novel group
    val admitted = MediaIngest.appendBatch(media(Seq(1L, 100L)), dir)
      .select("id").as[Long].collect().toSet
    assert(admitted == Set(100L), s"expected only the novel group to land, got $admitted")
    assert(spark.read.parquet(s"$dir/hashes").count() == 4)
  }
}
