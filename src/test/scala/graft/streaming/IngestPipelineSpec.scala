package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.dedup.MinHashLSH
import graft.sync.ParquetSink

/** Streaming ingestion against an existing corpus: exact re-ingests
  * and near-duplicates must be rejected without re-processing the
  * corpus; novel documents land exactly once. */
class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private lazy val corpus = Seq(
    (2L, base),
    (4L, "completely different corpus content about spark partitions and shuffles")
  ).toDF("doc_id", "text")
  // stream: 2 re-ingests doc 2 exactly; 11 near-dups it; 13/15 novel;
  // 15 is re-delivered (same id+text twice)
  private lazy val arrivals = Seq(
    (2L, base),
    (11L, base + " tonight"),
    (13L, "a wholly new document with nothing in common with the corpus"),
    (15L, "another novel arrival about benchmarks and latencies only")
  ).toDF("doc_id", "text")

  private def stage(df: org.apache.spark.sql.DataFrame, twice: Boolean): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    df.write.mode("overwrite").parquet(s"$dir/a")
    if (twice) df.write.mode("append").parquet(s"$dir/b")
    dir
  }

  test("dedupIngest rejects corpus re-ingests and in-stream re-deliveries") {
    val dir = stage(arrivals.withColumn("ts", lit("2026-01-01 10:00:00").cast("timestamp")), twice = true)
    val fps = IngestPipeline.corpusFingerprints(corpus, col("text"))
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, ts TIMESTAMP"))
      .option("recursiveFileLookup", "true").parquet(dir)
    val q = IngestPipeline.dedupIngest(stream, col("text"), fps)
      .writeStream.outputMode("append")
      .format("memory").queryName("ingest_out")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("ingest_out").select("doc_id").as[Long]
      .collect().sorted
    // exact re-ingest (2) dropped; near-dup 11 SURVIVES the exact
    // filter (that is curateIngest's job); each survivor lands once
    assert(got.sameElements(Array(11L, 13L, 15L)), got.mkString(","))
  }

  test("a fingerprint set past the broadcast gate dedups identically, unhinted") {
    // round-18: the guard hint is size-gated (a 100 TB corpus's fp
    // set must not be collected to the driver per micro-batch); a
    // forced-zero ceiling exercises the unhinted stream-static
    // anti-join, which must admit exactly the same survivors
    val dir = stage(arrivals.withColumn("ts", lit("2026-01-01 10:00:00").cast("timestamp")), twice = true)
    val fps = IngestPipeline.corpusFingerprints(corpus, col("text"))
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, ts TIMESTAMP"))
      .option("recursiveFileLookup", "true").parquet(dir)
    val q = IngestPipeline.dedupIngest(stream, col("text"), fps,
        broadcastBytes = 0L)
      .writeStream.outputMode("append")
      .format("memory").queryName("ingest_out_gated")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("ingest_out_gated").select("doc_id").as[Long]
      .collect().sorted
    assert(got.sameElements(Array(11L, 13L, 15L)), got.mkString(","))
  }

  test("bloom-prefiltered streaming dedup lands on the identical survivor set") {
    val dir = stage(arrivals.withColumn("ts", lit("2026-01-01 10:00:00").cast("timestamp")), twice = true)
    val fps = IngestPipeline.corpusFingerprints(corpus, col("text"))
    val bf = fps.stat.bloomFilter("fp", 16L, 0.01)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, ts TIMESTAMP"))
      .option("recursiveFileLookup", "true").parquet(dir)
    val q = IngestPipeline.dedupIngest(stream, col("text"), fps, bloom = Some(bf))
      .writeStream.outputMode("append")
      .format("memory").queryName("ingest_out_bloom")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("ingest_out_bloom").select("doc_id").as[Long]
      .collect().sorted
    assert(got.sameElements(Array(11L, 13L, 15L)), got.mkString(","))
  }

  test("past the gate, dedupIngest auto-loads the bloom sidecar; under it, it doesn't") {
    // round-18 verdict item 4: a no-bloom caller past the broadcast
    // ceiling paid an unhinted corpus-fingerprint shuffle PER
    // MICRO-BATCH while the sidecar sat on disk — with bloomPath the
    // sidecar is wired in exactly when the fp relation exceeds the
    // gate, and the survivor set is unchanged.
    val dataDir = stage(arrivals.withColumn("ts",
      lit("2026-01-01 10:00:00").cast("timestamp")), twice = false)
    val idxDir = java.nio.file.Files.createTempDirectory("graft_idx_auto").toString
    IngestPipeline.buildIndexDir(corpus, col("text"), col("doc_id"), idxDir)
    val fps = spark.read.parquet(s"$idxDir/fps")
    def stream() = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, ts TIMESTAMP"))
      .option("recursiveFileLookup", "true").parquet(dataDir)
    // past the gate (forced-zero ceiling): the sidecar engages
    val past = IngestPipeline.dedupIngest(stream(), col("text"), fps,
      broadcastBytes = 0L, bloomPath = Some(s"$idxDir/bloom"))
    assert(past.queryExecution.analyzed.toString.contains("bloom_might_contain"),
      "past the gate the sidecar bloom must guard the anti-join")
    // under the gate: the fp set broadcasts; no bloom branch in the plan
    val under = IngestPipeline.dedupIngest(stream(), col("text"), fps,
      bloomPath = Some(s"$idxDir/bloom"))
    assert(!under.queryExecution.analyzed.toString.contains("bloom_might_contain"),
      "under the gate the broadcast set needs no bloom detour")
    val q = past.writeStream.outputMode("append")
      .format("memory").queryName("ingest_auto_bloom")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("ingest_auto_bloom").select("doc_id").as[Long]
      .collect().sorted
    assert(got.sameElements(Array(11L, 13L, 15L)), got.mkString(","))
  }

  test("with the sidecar, an all-negative batch never scans the fingerprint table") {
    // the MediaIngest admission discipline carried to the text path:
    // every arriving fingerprint bloom-negative (definitely novel)
    // means NO executed plan may read the fps table at all — at
    // 100 TB that is the difference between bloom-probe cost and a
    // corpus-fingerprint scan per batch.
    val idxDir = java.nio.file.Files.createTempDirectory("graft_idx_neg").toString
    IngestPipeline.buildIndexDir(corpus, col("text"), col("doc_id"), idxDir)
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_sink_neg").toString
    val sink = ParquetSink(sinkDir)
    val novelOnly = Seq(
      (21L, "a wholly new document with nothing in common with the corpus"),
      (23L, "another novel arrival about benchmarks and latencies only")
    ).toDF("doc_id", "text")
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
      val (in, kept) = IngestPipeline.ingestBatch(
        spark, idxDir, novelOnly, sink, "neg_docs", col("text"), "doc_id")
      assert(in == 2 && kept == 2, s"novel batch must land whole: $in/$kept")
      Thread.sleep(2000) // listener bus is async
      val offenders = plans.synchronized {
        plans.filter(_.linesIterator.exists(l =>
          l.contains("FileScan") && l.contains(s"$idxDir/fps"))).toSeq
      }
      assert(offenders.isEmpty,
        s"all-negative batch read the fingerprint table:\n${offenders.mkString("\n---\n")}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("rule cleaning composes into the stream ahead of stateful dedup") {
    // keepPredicate is one per-row expression (no join/state), so it
    // legally precedes the streaming dedup stages — the streaming
    // curation chain: rules -> exact dedup
    val junky = arrivals.withColumn("text",
      when(col("doc_id") === 13L,
        concat(col("text"), lit("\nplease enable javascript now ok.")))
        .otherwise(concat(col("text"), lit(" and it certainly ends well."))))
    val dir = stage(junky.withColumn("ts",
      lit("2026-01-01 10:00:00").cast("timestamp")), twice = false)
    val fps = IngestPipeline.corpusFingerprints(corpus, col("text"))
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING, ts TIMESTAMP"))
      .option("recursiveFileLookup", "true").parquet(dir)
    val cleaned = stream.filter(
      graft.operators.text.RuleClean.keepPredicate(col("text"), minWords = 3))
    val q = IngestPipeline.dedupIngest(cleaned, col("text"), fps)
      .writeStream.outputMode("append")
      .format("memory").queryName("ingest_rules")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("ingest_rules").select("doc_id").as[Long]
      .collect().sorted
    // 13 dies on the javascript line rule (its only punct line is
    // blacklisted); 2/11/15 survive rules (suffix makes them rule-ok);
    // 2 then dies as an exact corpus re-ingest... but the suffix made
    // it novel, so all of 2, 11, 15 land; 13 is the rules casualty
    assert(got.sameElements(Array(2L, 11L, 15L)), got.mkString(","))
  }

  test("curateIngest appends only novel documents to the sink") {
    val dir = stage(arrivals, twice = false)
    val p = MinHashLSH.Params(
      shingleSize = 5, numHashes = 48, bands = 12, threshold = 0.3)
    val index = MinHashLSH.buildIndex(corpus, col("text"), col("doc_id"), p)
    val fps = IngestPipeline.corpusFingerprints(corpus, col("text"))
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_ingest_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ingest_ckpt").toString
    val sink = ParquetSink(sinkDir)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING"))
      .option("recursiveFileLookup", "true").parquet(dir)
    val q = IngestPipeline.curateIngest(
      stream, sink, "docs", ckpt, index, fps, col("text"), "doc_id", p)
    q.awaitTermination(60000)
    val landed = sink.readBack(spark, "docs").select("doc_id").as[Long]
      .collect().sorted
    // 2 exact-dropped, 11 near-dup-dropped, 13/15 novel
    assert(landed.sameElements(Array(13L, 15L)), landed.mkString(","))
    // restart with no new data: idempotent (checkpointed progress)
    val q2 = IngestPipeline.curateIngest(
      stream, sink, "docs", ckpt, index, fps, col("text"), "doc_id", p)
    q2.awaitTermination(60000)
    assert(sink.readBack(spark, "docs").count() == 2)

    // a LATER micro-batch re-sending an already-ingested doc (13, not
    // in the original corpus) must be rejected by the sink-side guard
    Seq((99L, "a wholly new document with nothing in common with the corpus"))
      .toDF("doc_id", "text")
      .write.mode("append").parquet(s"$dir/late")
    val q3 = IngestPipeline.curateIngest(
      stream, sink, "docs", ckpt, index, fps, col("text"), "doc_id", p)
    q3.awaitTermination(60000)
    val after = sink.readBack(spark, "docs").select("doc_id").as[Long]
      .collect().sorted
    assert(after.sameElements(Array(13L, 15L)),
      s"cross-batch exact dup re-ingested: ${after.mkString(",")}")
  }

  test("with the index dir's bloom, a later micro-batch re-sending doc 13 as 99 is rejected") {
    // curate-stream wires the bloom buildIndexDir persists. It only
    // knows the corpus until each batch folds its novel fingerprints
    // in — without the fold, doc 99 (doc 13's text) passes the gate as
    // definitely novel and lands a second time
    val dir = stage(arrivals, twice = false)
    val p = MinHashLSH.Params(
      shingleSize = 5, numHashes = 48, bands = 12, threshold = 0.3)
    val idxDir = java.nio.file.Files.createTempDirectory("graft_ingest_idx").toString
    IngestPipeline.buildIndexDir(corpus, col("text"), col("doc_id"), idxDir, p)
    val index = MinHashLSH.readIndex(spark, idxDir)
    val fps = spark.read.parquet(s"$idxDir/fps")
    val sink = ParquetSink(
      java.nio.file.Files.createTempDirectory("graft_ingest_bsink").toString)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ingest_bckpt").toString
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING"))
      .option("recursiveFileLookup", "true").parquet(dir)
    // one sidecar per run, as each curate-stream invocation loads it
    def drain(): Unit = IngestPipeline.curateIngest(
      stream, sink, "docs", ckpt, index, fps, col("text"), "doc_id", p,
      bloom = Some(new BloomSidecar(spark, s"$idxDir/bloom"))).awaitTermination(60000)
    def landed = sink.readBack(spark, "docs").select("doc_id").as[Long]
      .collect().sorted.toSeq
    drain()
    assert(landed == Seq(13L, 15L), landed.mkString(","))
    Seq((99L, "a wholly new document with nothing in common with the corpus"))
      .toDF("doc_id", "text")
      .write.mode("append").parquet(s"$dir/late")
    drain()
    assert(landed == Seq(13L, 15L),
      s"cross-batch exact dup re-ingested past the bloom: ${landed.mkString(",")}")
  }

  test("benchmark gate quarantines near-dups of eval items at ingest") {
    val dir = stage(arrivals, twice = false)
    val p = MinHashLSH.Params(
      shingleSize = 5, numHashes = 48, bands = 12, threshold = 0.3)
    val index = MinHashLSH.buildIndex(corpus, col("text"), col("doc_id"), p)
    val fps = IngestPipeline.corpusFingerprints(corpus, col("text"))
    // the eval set contains a light paraphrase of arrival 15
    val bench = Seq(
      (1000L, "another novel arrival about benchmarks and latencies only!!"))
      .toDF("doc_id", "text")
    val benchIdx = MinHashLSH.buildIndex(bench, col("text"), col("doc_id"), p)
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_decon_sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_decon_ckpt").toString
    val sink = ParquetSink(sinkDir)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING"))
      .option("recursiveFileLookup", "true").parquet(dir)
    val q = IngestPipeline.curateIngest(
      stream, sink, "docs", ckpt, index, fps, col("text"), "doc_id", p,
      benchmark = Some(benchIdx))
    q.awaitTermination(60000)
    // 2 exact-dropped, 11 near-dup-dropped, 13 lands, 15 quarantined
    val landed = sink.readBack(spark, "docs").select("doc_id").as[Long]
      .collect().sorted
    assert(landed.sameElements(Array(13L)), landed.mkString(","))
    val held = sink.readBack(spark, "docs_quarantine").select("doc_id")
      .as[Long].collect().sorted
    assert(held.sameElements(Array(15L)), held.mkString(","))
    // the quarantined doc's fingerprint is recorded: a re-send is
    // rejected by the exact guard, not re-checked or re-quarantined
    Seq((15L, "another novel arrival about benchmarks and latencies only"))
      .toDF("doc_id", "text")
      .write.mode("append").parquet(s"$dir/late")
    val q2 = IngestPipeline.curateIngest(
      stream, sink, "docs", ckpt, index, fps, col("text"), "doc_id", p,
      benchmark = Some(benchIdx))
    q2.awaitTermination(60000)
    assert(sink.readBack(spark, "docs").count() == 1)
    assert(sink.readBack(spark, "docs_quarantine").count() == 1,
      "re-sent quarantined doc must not re-quarantine")
  }
}
