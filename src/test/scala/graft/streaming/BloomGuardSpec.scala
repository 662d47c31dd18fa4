package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.TextOps
import graft.operators.dedup.MinHashLSH
import graft.sync.ParquetSink

/** Bloom-guarded ingest: the prefilter must never lose a duplicate
  * (no false negatives) and must not change curation results. */
class BloomGuardSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private lazy val corpus = Seq(
    (2L, base),
    (4L, "completely different corpus content about spark partitions and shuffles"),
    (6L, "yet another unrelated document speaking of benchmarks and latencies")
  ).toDF("doc_id", "text")
  private lazy val increment = Seq(
    (11L, base + " tonight"),
    (13L, "a wholly new document with nothing in common with the corpus at all"),
    (2L, base)
  ).toDF("doc_id", "text")

  private val p = MinHashLSH.Params(
    shingleSize = 5, numHashes = 48, bands = 12, threshold = 0.3)

  /** A guard bloom over `fps`, persisted in a fresh directory. */
  private def sidecar(fps: org.apache.spark.sql.DataFrame): BloomSidecar = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bg_bloom").toString
    val bloom = new BloomSidecar(spark, s"$dir/bloom")
    bloom.rebuild(fps)
    bloom
  }

  test("no false negatives over the fixture corpus; fps bounded") {
    val docs = graft.Tables.load(spark, sf001, "documents")
    val fp = md5(TextOps.normalized(col("text")))
    val evens = docs.filter(col("doc_id") % 2 === 0).select(fp.as("fp"))
    val bf = evens.stat.bloomFilter("fp", math.max(evens.count(), 1L), 0.01)
    val probed = docs.select(col("doc_id"),
      graft.functions.BloomExprs.mightContain(bf, fp).as("hit"))
    val missed = probed.filter(col("doc_id") % 2 === 0 && !col("hit")).count()
    assert(missed == 0, s"$missed corpus fingerprints missed — false negatives!")
    val odd = probed.filter(col("doc_id") % 2 === 1)
    val fpRate = odd.filter(col("hit")).count().toDouble / odd.count()
    assert(fpRate <= 0.05, s"false-positive rate $fpRate above bound")
  }

  test("bloom-prefiltered curation lands on the identical novel set") {
    val index = MinHashLSH.buildIndex(corpus, col("text"), col("doc_id"), p)
    val fps = IngestPipeline.corpusFingerprints(corpus, col("text"))
    val bf = sidecar(fps)
    def run(bloom: Option[BloomSidecar]): Seq[Long] = {
      val dir = java.nio.file.Files.createTempDirectory("graft_bg").toString
      IngestPipeline
        .curateBatch(increment, ParquetSink(dir), "out", index, fps,
          col("text"), "doc_id", p, bloom)
        .select("doc_id").as[Long].collect().sorted.toSeq
    }
    val without = run(None)
    val withBloom = run(Some(bf))
    assert(without == withBloom, s"bloom changed results: $without vs $withBloom")
    assert(withBloom == Seq(13L), withBloom.mkString(","))
  }

  test("bloom mode confirms dups via semi-join — the guard side is never broadcast") {
    val fps = IngestPipeline.corpusFingerprints(corpus, col("text"))
    val bf = sidecar(fps)
    val dir = java.nio.file.Files.createTempDirectory("graft_bg_plan").toString
    val plan = IngestPipeline
      .exactGuard(increment, ParquetSink(dir), "out", fps,
        col("text"), "doc_id", Some(bf))
      .queryExecution.executedPlan.toString
    // the bloom_might_contain expression itself sits behind the
    // probe-side Barrier (a Scan ExistingRDD here), so the visible
    // contract is the join shape: the guard enters a LeftSemi against
    // the broadcast positives, never a broadcast of the guard itself
    assert(plan.contains("LeftSemi"),
      s"bloom mode must route through the positives semi-join:\n$plan")
  }

  test("ingestBatch keeps the persisted bloom complete across increments") {
    val idxDir = java.nio.file.Files.createTempDirectory("graft_bg_idx").toString + "/lsh"
    val outDir = java.nio.file.Files.createTempDirectory("graft_bg_out").toString
    IngestPipeline.buildIndexDir(corpus, col("text"), col("doc_id"), idxDir, p)
    assert(new BloomSidecar(spark, s"$idxDir/bloom").bits.nonEmpty,
      "build did not persist a bloom")
    val sink = ParquetSink(outDir)
    val (in1, kept1) = IngestPipeline.ingestBatch(
      spark, idxDir, increment, sink, "curated", col("text"), "doc_id", p)
    assert(in1 == 3 && kept1 == 1, s"first ingest: $in1/$kept1")
    // replaying the same increment: doc 13's fp is now IN the bloom
    // (the fold) and in the sink fps — nothing may land twice
    val (in2, kept2) = IngestPipeline.ingestBatch(
      spark, idxDir, increment, sink, "curated", col("text"), "doc_id", p)
    assert(in2 == 3 && kept2 == 0, s"replay not idempotent: $in2/$kept2")
  }
}
