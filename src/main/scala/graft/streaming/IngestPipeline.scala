package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.TextOps
import graft.operators.dedup.MinHashLSH
import graft.sync.Sink

/** Streaming corpus ingestion — the continuous form of the batch
  * curation pipeline: documents arrive as a stream and must not
  * re-enter the corpus when they already exist (exact) or
  * near-duplicate it (sketch index), without ever re-processing the
  * corpus itself. Pairs with [[MinHashLSH.buildIndex]]: the corpus is
  * signed once offline; the stream checks against it forever after.
  */
object IngestPipeline {

  /** The corpus's exact-dup guard: distinct md5 fingerprints of the
    * normalized text — one 32-char string per unique document, the
    * compact static side of the ingest anti-join. */
  def corpusFingerprints(corpus: DataFrame, text: Column): DataFrame =
    corpus.select(md5(TextOps.normalized(text)).as("fp")).distinct()

  /** Broadcast ceiling for the static fingerprint set (round 18 —
    * the incremental-miner lesson, [[MinHashLSH
    * .IncrementBroadcastBytes]], applied to the streaming guard): a
    * fingerprint set whose plan estimate exceeds this joins UNHINTED
    * (the stream shuffles per micro-batch) instead of being collected
    * to the driver and re-shipped to every executor per batch. A
    * 100 TB corpus's fp set is tens of GB — at that size pass `bloom`
    * so only positives ever reach the confirm join. */
  val FingerprintBroadcastBytes: Long = 128L << 20

  /** Exact ingest dedup, fully streaming: drop documents whose
    * fingerprint exists in the static corpus (stream-static broadcast
    * LEFT ANTI — stateless, evaluated per micro-batch), then drop
    * within-stream re-deliveries of the same fingerprint inside the
    * watermark horizon (keyed state bounded by horizon × arrival
    * rate). The stream side is never shuffled by the anti-join while
    * the fingerprint set fits under [[FingerprintBroadcastBytes]]
    * (the size-gated hint); past the gate the join goes unhinted.
    *
    * With `bloom` (built over the same fingerprint universe — see
    * [[exactGuard]]), bloom-negative rows bypass the anti-join as
    * definite novels (no false negatives) and only positives confirm
    * against the static set — the per-micro-batch join touches the
    * true-dup fraction plus ~fpp noise instead of every arriving row.
    *
    * When no explicit `bloom` is passed but `bloomPath` names the
    * index's persisted sidecar ([[buildIndexDir]] writes one), the
    * sidecar is AUTO-LOADED exactly when the fingerprint relation
    * exceeds the broadcast gate (round-18 verdict: past the ceiling a
    * no-bloom caller paid an unhinted corpus-fingerprint shuffle PER
    * MICRO-BATCH — the sidecar already existed, it just wasn't picked
    * up). Under the gate the set broadcasts anyway and the extra
    * bloom branch would only widen the plan.
    */
  def dedupIngest(
      stream: DataFrame,
      text: Column,
      fingerprints: DataFrame,
      eventTime: String = "ts",
      horizon: String = "2 hours",
      bloom: Option[org.apache.spark.util.sketch.BloomFilter] = None,
      broadcastBytes: Long = FingerprintBroadcastBytes,
      bloomPath: Option[String] = None): DataFrame = {
    val withFp = stream.withColumn("__fp", md5(TextOps.normalized(text)))
    val fpRel = fingerprints.select(col("fp").as("__fp"))
    val fits =
      graft.operators.similarity.ProbeBatch.fitsBroadcast(fpRel, broadcastBytes)
    val fpHinted = graft.operators.similarity.ProbeBatch.hinted(fpRel, fits)
    val effectiveBloom = bloom.orElse(
      if (fits) None
      else bloomPath.flatMap(new BloomSidecar(stream.sparkSession, _).bits))
    val guarded = effectiveBloom match {
      case Some(bf) =>
        // null __fp (null text) must route with the bloom-NEGATIVE
        // branch: the no-bloom anti-join keeps such rows (null keys
        // never match), and a raw `hit`/`!hit` split would drop them
        // from BOTH branches (three-valued logic) — the modes must
        // agree on null-text rows.
        val hit = coalesce(
          graft.functions.BloomExprs.mightContain(bf, col("__fp")), lit(false))
        withFp.filter(hit)
          .join(fpHinted, Seq("__fp"), "left_anti")
          .unionByName(withFp.filter(!hit))
      case None =>
        withFp.join(fpHinted, Seq("__fp"), "left_anti")
    }
    guarded
      .withWatermark(eventTime, horizon)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")
  }

  /** Full curation ingest: per micro-batch, exact-dedup against the
    * corpus fingerprints AND against everything this stream already
    * appended (the sink's own fingerprints, recomputed per batch, so
    * an exact duplicate arriving in a LATER micro-batch is rejected
    * too — the static set alone would only guard batch one), then
    * near-dup-dedup against the persisted LSH index
    * ([[MinHashLSH.dedupAgainstIndex]] — increment broadcasts, corpus
    * streams through one scan), then append survivors to the sink.
    * foreachBatch because the near-dup check is a composed batch plan,
    * not a single streaming-supported join; source progress is
    * checkpointed, the sink append is at-least-once on task retry
    * (pair with a keyed target, as in Sync.streamingSync). Within-batch
    * self-duplicates collapse via the exact fingerprint before the
    * index check.
    *
    * Guard freshness: the EXACT guard is complete (corpus ∪ ingested);
    * the NEAR-DUP guard is as fresh as the index — two novel
    * near-duplicates of each other arriving in different micro-batches
    * both land, until the corpus index is rebuilt out of band. Folding
    * every appended batch into a live LSH index is a compaction job,
    * not a per-batch plan.
    *
    * The ingested-side guard is maintained INCREMENTALLY: each batch
    * appends its novel fingerprints to `<table>_fps` through the same
    * sink, so later batches read 32-char digests instead of re-hashing
    * every previously ingested document — per-batch guard cost is one
    * narrow fingerprint-table read, not a full sink re-scan. With a
    * `bloom` sidecar, each batch's novel fingerprints fold into it
    * before anything is appended, so the gate in [[exactGuard]] never
    * calls an already-ingested document novel. */
  def curateIngest(
      stream: DataFrame,
      sink: Sink,
      table: String,
      checkpointDir: String,
      index: MinHashLSH.LshIndex,
      fingerprints: DataFrame,
      text: Column,
      idCol: String,
      p: MinHashLSH.Params = MinHashLSH.Params(),
      benchmark: Option[MinHashLSH.LshIndex] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      bloom: Option[BloomSidecar] = None): StreamingQuery =
    MicroBatches.start(stream, checkpointDir, trigger) { (batch, _) =>
      val novel =
        curateBatch(batch, sink, table, index, fingerprints, text, idCol, p, bloom)
      val (clean, dirty) = benchmark match {
        case Some(b) => deconSplit(novel, b, text, idCol, p)
        case None => (novel, novel.limit(0))
      }
      commit(bloom, novel, guardFps(sink, table, fingerprints)) {
        sink.append(clean.drop("__fp"), table)
        if (benchmark.isDefined)
          sink.append(dirty.drop("__fp"), s"${table}_quarantine")
        // fingerprints of EVERYTHING novel — including quarantined docs,
        // so a re-sent contaminated doc is rejected by the cheap exact
        // guard instead of re-running the benchmark check
        sink.append(novel.select(col("__fp").as("fp")).distinct(), s"${table}_fps")
      }
    }

  /** Fold the batch's novel fingerprints into the sidecar, if there is
    * one, then `append`. */
  private def commit(bloom: Option[BloomSidecar], novel: DataFrame,
      guard: => DataFrame)(append: => Unit): Unit =
    bloom.fold(append)(_.commit(novel.select("__fp"), guard)(append))

  /** Every fingerprint the exact guard rejects: the corpus's plus what
    * this sink already ingested into `<table>_fps`. */
  private def guardFps(sink: Sink, table: String, fingerprints: DataFrame): DataFrame = {
    val spark = fingerprints.sparkSession
    val fps = fingerprints.select("fp")
    if (sink.catalog.tableExists(s"${table}_fps"))
      fps.unionByName(sink.readBack(spark, s"${table}_fps").select("fp"))
    else fps
  }

  /** Benchmark-contamination gate at ingest — the streaming form of
    * fuzzy decontamination (qd34): documents that are near-duplicates
    * (est Jaccard >= p.threshold) of ANY benchmark item are routed to
    * `<table>_quarantine` instead of the corpus, so eval leaks never
    * ENTER the corpus rather than being scrubbed later. The benchmark
    * index is built once ([[MinHashLSH.buildIndex]] over the eval set —
    * small by assumption) and reused across every micro-batch; per
    * batch the check is [[MinHashLSH.pairsAgainstIndex]]'s shape: the
    * batch's banded signatures broadcast into ONE scan of the
    * benchmark's band table, ids-only. Returns (clean, quarantined) —
    * the dirty id set crosses a Barrier because both splits consume it. */
  private[graft] def deconSplit(
      novel: DataFrame,
      bench: MinHashLSH.LshIndex,
      text: Column,
      idCol: String,
      p: MinHashLSH.Params): (DataFrame, DataFrame) = {
    val dirtyIds = MinHashLSH
      .pairsAgainstIndex(bench, novel, text, col(idCol), p)
      .select(col("id_new").as(idCol))
      .distinct()
      .transform(graft.operators.Barrier.apply)
    (novel.join(dirtyIds, Seq(idCol), "left_anti"),
      novel.join(dirtyIds, Seq(idCol), "left_semi"))
  }

  /** The exact-dup guard stage of [[curateBatch]], pre-LSH and
    * pre-Barrier (so its join shape stays plan-inspectable): rows of
    * `batch` whose fingerprint is NOT in corpus ∪ already-ingested
    * fps, one representative per in-batch fingerprint.
    *
    * With a `bloom` sidecar over the same fingerprint universe as
    * `fingerprints` ∪ the sink's fp table, only bloom-positives probe
    * the guard ([[BloomSidecar.novel]]). That is the 100 TB shape: the
    * guard's raw fingerprints stop being broadcastable around 10⁹ rows
    * (~40 GB of md5 strings) while their bloom bits stay ~1.4 GB at
    * 1% fpp, and the positives (the true-dup fraction plus ~1% noise)
    * become the tiny join side. */
  private[graft] def exactGuard(
      batch: DataFrame,
      sink: Sink,
      table: String,
      fingerprints: DataFrame,
      text: Column,
      idCol: String,
      bloom: Option[BloomSidecar]): DataFrame = {
    val withFp = batch.withColumn("__fp", md5(TextOps.normalized(text)))
    def guard = guardFps(sink, table, fingerprints).select(col("fp").as("__fp"))
    (bloom match {
      case Some(b) => b.novel(withFp, "__fp", guard)
      // small-corpus mode: one guard broadcast, one anti-join
      case None => withFp.join(broadcast(guard), Seq("__fp"), "left_anti")
    })
      // keep one representative per in-batch fingerprint (lowest id)
      .withColumn("__rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("__fp").orderBy(col(idCol))))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  private[graft] def curateBatch(
      batch: DataFrame,
      sink: Sink,
      table: String,
      index: MinHashLSH.LshIndex,
      fingerprints: DataFrame,
      text: Column,
      idCol: String,
      p: MinHashLSH.Params,
      bloom: Option[BloomSidecar] = None): DataFrame =
    MinHashLSH
      .dedupAgainstIndex(
        index,
        exactGuard(batch, sink, table, fingerprints, text, idCol, bloom),
        text, idCol, p)
      .transform(graft.operators.Barrier.apply)

  /** Build the SELF-CONTAINED index directory the CLI lifecycle works
    * against: the [[MinHashLSH]] docs/hot layout plus the corpus exact
    * fingerprints under `fps` — everything an increment needs, so
    * `index append` never touches the corpus again. */
  def buildIndexDir(
      corpus: DataFrame,
      text: Column,
      id: Column,
      dir: String,
      p: MinHashLSH.Params = MinHashLSH.Params()): Unit = {
    MinHashLSH.writeIndex(MinHashLSH.buildIndex(corpus, text, id, p), dir)
    corpusFingerprints(corpus, text).write.mode("overwrite").parquet(s"$dir/fps")
    // the guard bloom: built from the persisted fps (one narrow read,
    // no corpus re-hash) so increments can reject definite-novels
    // without touching the raw fingerprint set
    val spark = corpus.sparkSession
    new BloomSidecar(spark, s"$dir/bloom")
      .rebuild(spark.read.parquet(s"$dir/fps"))
  }

  /** `graft index compact`: refresh the index dir's DERIVED artifacts
    * from its accumulated docs. [[ingestBatch]] folds signatures and
    * bloom bits forward, but the hot-bucket list stays as BUILT — an
    * increment-accumulated flood (the same boilerplate arriving every
    * day) never enters it, so every later append pays that bucket's
    * quadratic pair expansion. Compact recomputes `hot` over the full
    * docs set (build + every appended increment) and rebuilds the
    * guard bloom from the full fingerprint universe (corpus fps ∪ the
    * sink's ingested fps) with fresh 4× headroom — the periodic
    * out-of-band job the streaming doc calls out, as a CLI verb.
    * Returns (docs signed, hot buckets, fingerprints bloomed). */
  def compactIndexDir(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      ingestedFps: Option[DataFrame] = None,
      p: MinHashLSH.Params = MinHashLSH.Params()): (Long, Long, Long) = {
    // hot refresh: one aggregation over the accumulated docs — the
    // build-time cost, re-paid at compaction cadence, not per append
    val docs = spark.read.parquet(s"$indexDir/docs")
    val hot = docs
      .select(posexplode(col("bks")).as(Seq("band", "bh")))
      .groupBy("band", "bh")
      .count()
      .filter(col("count") > p.maxBucket)
      .select("band", "bh")
    // docs is a plain parquet scan and hot lands in a DIFFERENT subdir,
    // so the overwrite never reads what it replaces
    hot.write.mode("overwrite").parquet(s"$indexDir/hot")
    val allFps = ingestedFps
      .foldLeft(spark.read.parquet(s"$indexDir/fps").select("fp"))(
        (acc, more) => acc.unionByName(more.select("fp")))
      .distinct()
    val n = new BloomSidecar(spark, s"$indexDir/bloom").rebuild(allFps)
    (docs.count(), spark.read.parquet(s"$indexDir/hot").count(), n)
  }

  /** One BATCH increment through the full curation lifecycle — the
    * `graft index append` form of [[curateIngest]]: exact-dedup
    * against corpus + already-ingested fingerprints, near-dup-dedup
    * against the persisted index, append survivors to the sink, then
    * FOLD the survivors' signatures into the index's docs so the next
    * increment's near-dup guard sees them (the out-of-band compaction
    * the streaming doc calls out, done inline here — batch cadence can
    * afford it). The hot-bucket list refreshes only on a full rebuild.
    * Returns (incoming rows, survivors kept). */
  def ingestBatch(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String,
      increment: DataFrame,
      sink: Sink,
      table: String,
      text: Column,
      idCol: String,
      p: MinHashLSH.Params = MinHashLSH.Params()): (Long, Long) = {
    val index = MinHashLSH.readIndex(spark, indexDir)
    val fps = spark.read.parquet(s"$indexDir/fps")
    val bloom = Some(new BloomSidecar(spark, s"$indexDir/bloom"))
    val novel = curateBatch(increment, sink, table, index, fps, text, idCol, p, bloom)
    commit(bloom, novel, guardFps(sink, table, fps)) {
      sink.append(novel.drop("__fp"), table)
      sink.append(novel.select(col("__fp").as("fp")).distinct(), s"${table}_fps")
      MinHashLSH.signatures(novel, text, col(idCol), p)
        .withColumn("bks", MinHashLSH.bandKeys(col("sig"), p.bands, p.rows))
        .write.mode("append").parquet(s"$indexDir/docs")
    }
    (increment.count(), novel.count())
  }
}
