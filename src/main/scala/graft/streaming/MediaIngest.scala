package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.StagedSwap
import graft.operators.multimodal.PerceptualHash

/** Streaming MEDIA ingest with perceptual-duplicate rejection — the
  * image/audio sibling of [[IngestPipeline.curateIngest]] (text) and
  * [[VectorIngest]] (vectors): a stream of (id, content) payloads is
  * admitted only if its dHash is farther than `maxHamming` from every
  * hash already in the persisted index; survivors' hashes append so
  * later batches see them.
  *
  * Index layout: `dir/hashes` parquet (id, dhash) — 16 bytes a row;
  * payload bytes NEVER enter the index or any join.
  *
  * Novelty check shape (the 100 TB discipline): the banded-prefix
  * pigeonhole ([[PerceptualHash.pairs]]) says any pair within Hamming
  * `maxHamming <= bands-1` agrees on at least one whole band of the
  * 64-bit hash, so the check needs only band-key EQUALITY:
  *   1. BLOOM GATE — `build` persists a [[BloomSidecar]] over the index's
  *      "band:key" strings and every append folds its survivors
  *      forward; a batch whose band keys are ALL bloom-negative
  *      cannot collide on any band and is admitted without reading
  *      the index at all (exact duplicates share every band, so the
  *      gate covers them a fortiori).
  *   2. One columnar scan otherwise — the batch's (band, key, dhash)
  *      rows are tiny and BROADCAST into a single pass over the index
  *      hashes (band keys derived on the fly with bit arithmetic);
  *      popcount confirms candidates, confirmed-dup batch ids
  *      broadcast back for the final anti-join. The index is never
  *      shuffled or broadcast.
  *
  * Idempotence: a replayed batch carries identical bytes, hence
  * identical dHashes, hence exact (Hamming 0) collisions — replays
  * append nothing (at-least-once foreachBatch is safe; single-writer
  * assumption as in [[VectorIngest]]). Within-batch exact duplicates
  * collapse to one arbitrary representative per dhash; two NOVEL
  * near-duplicates arriving in the same batch both land (the same
  * guard-freshness caveat as the text path — a compaction job's
  * business, not a per-batch plan's). Undecodable payloads drop out:
  * they cannot be deduplicated and a quarantine sink is the caller's
  * policy decision.
  */
object MediaIngest {

  private def bloomPath(dir: String) = s"$dir/bands.bloom"
  private def sidecar(spark: SparkSession, dir: String) =
    new BloomSidecar(spark, bloomPath(dir))
  private def modePath(dir: String) = s"$dir/hash_mode"

  val DefaultBands = 4
  val DefaultMaxHamming = 3

  // ---- hash mode (round 14): one index, two perceptual kernels ----
  // "image" = PerceptualHash dHash over decoded pixels (the original
  // mode, and what a sidecar-less legacy index is assumed to be);
  // "audio" = PerceptualAudio gain-invariant loudness-contour hash
  // over WAV PCM16. The mode persists beside the index and every
  // later operation verifies it — appending image hashes into an
  // audio index would silently poison the novelty guard.

  private def modeName(audio: Boolean) = if (audio) "audio" else "image"

  private def writeMode(spark: SparkSession, dir: String, audio: Boolean): Unit = {
    val p = new org.apache.hadoop.fs.Path(modePath(dir))
    graft.operators.ArtifactMeta.write(
      p.getFileSystem(spark.sessionState.newHadoopConf()), p,
      Seq("mode" -> modeName(audio)))
  }

  /** The index's recorded hash mode; None = no sidecar (legacy index,
    * image mode by construction). Reads both the ArtifactMeta k=v
    * form and the pre-round-15 bare-value file. */
  def indexMode(spark: SparkSession, dir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(modePath(dir))
    graft.operators.ArtifactMeta.valueOrLegacy(
      p.getFileSystem(spark.sessionState.newHadoopConf()), p, "mode")
  }

  private def requireMode(spark: SparkSession, dir: String, audio: Boolean): Unit = {
    val stored = indexMode(spark, dir).getOrElse("image")
    require(stored == modeName(audio),
      s"media index at $dir was built in '$stored' mode; this operation " +
        s"requested '${modeName(audio)}' — pass the matching --audio flag " +
        "or rebuild the index")
  }

  /** "band:key" strings of a 64-bit hash column — the band width is
    * 64/bands bits; pure bit arithmetic, derivable on any scan. */
  private[streaming] def bandKeyCol(dh: Column, bands: Int): Column = {
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    array((0 until bands).map { b =>
      concat_ws(":", lit(b),
        shiftrightunsigned(dh, b * width).bitwiseAND(lit(mask)))
    }: _*)
  }

  /** (id, dhash) of decodable payloads, one representative per hash. */
  private def hashed(media: DataFrame, maxDecodeBytes: Int, audio: Boolean)(
      implicit spark: SparkSession): DataFrame =
    (if (audio)
      graft.operators.multimodal.PerceptualAudio.audioHashes(media, maxDecodeBytes)
    else PerceptualHash.dHashes(media, maxDecodeBytes))
      .filter(col("dhash").isNotNull)
      .dropDuplicates("dhash")

  /** Build (or rebuild) the index: old hashes dropped, then the
    * hash-mode sidecar, then hashes parquet + band-key bloom.
    * Drop-then-mode-then-hashes is the crash ordering that keeps the
    * sidecar's guarantee (round-15 review): the former hashes-first
    * order left a killed AUDIO build as hashes with no sidecar, which
    * every later operation defaulted to 'image' and silently poisoned;
    * mode-first alone still left a killed image→audio REBUILD as an
    * audio sidecar over the old image hashes. With the old hashes
    * deleted up front, every crash window reads as either an empty
    * index (re-run the build) or a consistent one — whenever hashes
    * exist, the mode beside them is the mode that produced them. */
  def buildIndexDir(
      media: DataFrame,
      dir: String,
      maxDecodeBytes: Int = 1 << 22,
      bands: Int = DefaultBands,
      audio: Boolean = false): Unit = {
    implicit val spark: SparkSession = media.sparkSession
    val hp = new org.apache.hadoop.fs.Path(s"$dir/hashes")
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(hp, true)
    // the OLD bloom goes with the old hashes (round-15 self-review): a
    // build killed before writeBandBloom would otherwise leave a stale
    // bloom over the new hashes, whose false NEGATIVES make the gate
    // admit near-duplicates without a scan; a MISSING bloom is the
    // conservative state — admitBatch falls back to the full scan and
    // the next commit adopts a fresh one
    sidecar(spark, dir).delete()
    writeMode(spark, dir, audio)
    hashed(media, maxDecodeBytes, audio)
      .write.mode("overwrite").parquet(s"$dir/hashes")
    writeBandBloom(spark, dir, bands)
  }

  /** The band keys of every persisted hash. */
  private def indexBandKeys(spark: SparkSession, dir: String, bands: Int) =
    spark.read.parquet(s"$dir/hashes")
      .select(explode(bandKeyCol(col("dhash"), bands)))

  /** Rebuild the band-key bloom from the persisted hashes. */
  def writeBandBloom(spark: SparkSession, dir: String,
      bands: Int = DefaultBands): Unit =
    sidecar(spark, dir).rebuild(indexBandKeys(spark, dir, bands))

  /** The admission decision split from its index commit: `admitted` is
    * the Barrier'd novel (id, dhash) set; `candidates` is the
    * Barrier'd DECODABLE distinct-hash set the guard evaluated (so
    * callers can report decode failures / within-batch exact-dup
    * collapse separately from perceptual rejections — they differ by
    * candidates − admitted); `commit()` folds the admitted hashes'
    * band keys into the bloom, then appends the hashes. Callers that also
    * persist PAYLOADS (the streaming sink, CLI append) must write
    * them BETWEEN the two — sink first, commit second — so an
    * at-least-once replay re-admits at worst a duplicate payload row
    * instead of finding its own hashes already indexed and dropping
    * the payload forever. */
  final case class Admission(admitted: DataFrame, candidates: DataFrame,
      commit: () => Unit)

  def admitBatch(
      batch: DataFrame,
      indexDir: String,
      maxHamming: Int = DefaultMaxHamming,
      bands: Int = DefaultBands,
      maxDecodeBytes: Int = 1 << 22,
      audio: Boolean = false): Admission = {
    require(64 % bands == 0, "bands must divide 64")
    require(maxHamming < bands,
      s"exact recall needs maxHamming < bands (got $maxHamming >= $bands)")
    implicit val spark: SparkSession = batch.sparkSession
    // mode guard BEFORE the decode (review finding: failing after
    // Barrier'd hashing pays the most expensive stage for nothing);
    // `exists` adopts a killed compaction's `_old` first, so the
    // pre-crash hashes keep guarding instead of a one-batch bootstrap
    val bootstrap = !StagedSwap.exists(spark, s"$indexDir/hashes")
    if (!bootstrap) requireMode(spark, indexDir, audio)
    // Barrier: the decode is the expensive stage and `rows` feeds the
    // gate probe, the key explode, the anti-join and the index append —
    // un-materialized lineage would re-decode the batch per consumer
    val rows = graft.operators.Barrier(hashed(batch, maxDecodeBytes, audio))
    // missing-path checked explicitly; any OTHER index read failure
    // propagates (swallowing it would drop the dedup guard entirely)
    if (bootstrap)
      return Admission(rows, rows, () => {
        // mode before hashes — the buildIndexDir crash ordering
        writeMode(spark, indexDir, audio)
        rows.write.mode("overwrite").parquet(s"$indexDir/hashes")
        writeBandBloom(spark, indexDir, bands)
      })
    val bloom = sidecar(spark, indexDir)
    val batchKeys = rows.select(col("dhash").as("dh_b"),
      explode(bandKeyCol(col("dhash"), bands)).as("bk"))
    val novel = bloom.bits match {
      case Some(bf) if rows
          // a row is a POSSIBLE collision if ANY of its band keys hits
          .filter(exists(bandKeyCol(col("dhash"), bands),
            k => graft.functions.BloomExprs.mightContain(bf, k))).isEmpty =>
        rows // every band key definitely absent: admit without a scan
      case _ =>
        // one columnar pass over the 16-byte hash rows: batch keys
        // broadcast in, candidates popcount-confirm, dup hashes
        // broadcast back for the anti-join
        val dupHashes = spark.read.parquet(s"$indexDir/hashes")
          .select(explode(bandKeyCol(col("dhash"), bands)).as("bk"),
            col("dhash").as("dh_i"))
          .join(broadcast(batchKeys), Seq("bk"))
          .filter(bit_count(col("dh_i").bitwiseXOR(col("dh_b"))) <= maxHamming)
          .select(col("dh_b").as("dhash")).distinct()
        rows.join(broadcast(dupHashes), Seq("dhash"), "left_anti")
    }
    val novelM = graft.operators.Barrier(novel)
    Admission(novelM, rows, () =>
      bloom.commit(novelM.select(explode(bandKeyCol(col("dhash"), bands))),
          indexBandKeys(spark, indexDir, bands)) {
        novelM.write.mode("append").parquet(s"$indexDir/hashes")
      })
  }

  /** Admission + immediate commit — the pure-index batch API (no
    * payload sink involved, so the ordering concern above is moot). */
  def appendBatch(
      batch: DataFrame,
      indexDir: String,
      maxHamming: Int = DefaultMaxHamming,
      bands: Int = DefaultBands,
      maxDecodeBytes: Int = 1 << 22,
      audio: Boolean = false): DataFrame = {
    val a = admitBatch(batch, indexDir, maxHamming, bands, maxDecodeBytes, audio)
    a.commit()
    a.admitted
  }

  /** Driver-side twin of [[bandKeyCol]] for one hash — the audit path
    * probes a SINGLE payload, so its band keys derive in plain Scala
    * and check against the bloom without any Spark job. */
  private[streaming] def bandKeys(h: Long, bands: Int): Seq[String] = {
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    (0 until bands).map(b => s"$b:${(h >>> (b * width)) & mask}")
  }

  /** Audit/debug probe for the admission index: decode ONE payload,
    * dHash it, and report every indexed neighbor within Hamming
    * `maxHamming` as (id, dhash, hamming), nearest first — the "why
    * was / wasn't this admitted" query every perceptual index needs.
    * None = undecodable payload. The same bloom gate as [[admitBatch]]
    * short-circuits a guaranteed miss without reading the index
    * (valid only while `maxHamming < bands`, the banded pigeonhole;
    * a wider audit radius skips the gate and scans — exact either
    * way, since the scan is a full popcount filter, not banded). */
  def searchIndex(spark: SparkSession, dir: String, payload: Array[Byte],
      maxHamming: Int = DefaultMaxHamming, bands: Int = DefaultBands,
      maxDecodeBytes: Int = 1 << 22, audio: Boolean = false): Option[DataFrame] = {
    import spark.implicits._
    requireMode(spark, dir, audio)
    val probeHash =
      if (audio)
        graft.operators.multimodal.PerceptualAudio.audioHash64(payload, maxDecodeBytes)
      else PerceptualHash.dHash64(payload, maxDecodeBytes)
    probeHash.map { h =>
      val gateMiss = maxHamming < bands &&
        sidecar(spark, dir).bits.exists(bf =>
          bandKeys(h, bands).forall(k => !bf.mightContainString(k)))
      if (gateMiss) Seq.empty[(Long, Long, Int)].toDF("id", "dhash", "hamming")
      else spark.read.parquet(s"$dir/hashes")
        .withColumn("hamming",
          bit_count(col("dhash").bitwiseXOR(lit(h))).cast("int"))
        .filter(col("hamming") <= maxHamming)
        .orderBy(col("hamming"), col("id"))
    }
  }

  /** Collapse append-accumulated small hash files and rebuild the
    * band bloom at fresh 4× headroom — the out-of-band maintenance a
    * long-lived admission index needs (the `ann compact` discipline).
    * Returns (files before, files after). Content is unchanged: the
    * rewrite is a coalesce of the same (id, dhash) rows, skipped when
    * the hashes are already one file; the bloom is rebuilt either way. */
  def compactIndex(spark: SparkSession, dir: String,
      bands: Int = DefaultBands): (Long, Long) = {
    val hashes = s"$dir/hashes"
    StagedSwap.exists(spark, hashes) // adopt before counting
    val before = StagedSwap.dataFiles(spark, hashes)._1
    if (before > 1) {
      val n = math.max(1L, spark.read.parquet(hashes).count() / 4000000L)
      StagedSwap.rewrite(spark, hashes)(spark.read.parquet(hashes)
        .coalesce(math.min(n, Int.MaxValue.toLong).toInt)
        .write.mode("overwrite").parquet)
    }
    writeBandBloom(spark, dir, bands)
    (before, StagedSwap.dataFiles(spark, hashes)._1)
  }

  /** Streaming wrapper: admitted payload rows append to `sink.table`;
    * AvailableNow by default (drain-then-stop). */
  def ingest(
      stream: DataFrame,
      indexDir: String,
      sink: graft.sync.Sink,
      table: String,
      checkpointDir: String,
      idCol: String = "id",
      maxHamming: Int = DefaultMaxHamming,
      bands: Int = DefaultBands,
      audio: Boolean = false,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatches.start(stream, checkpointDir, trigger) { (batch, _) =>
      // payloads FIRST, hash commit SECOND: a replay after a crash in
      // between re-admits the batch (its hashes are not yet indexed)
      // and re-appends at-least-once duplicates to the keyed sink —
      // never the reverse window, where already-indexed hashes would
      // reject the replay and drop the payloads forever
      // admitBatch decodes select("id", "content"), so a custom id
      // column is renamed into place first — without this the idCol
      // parameter would advertise support the decode step lacks. A
      // stray pre-existing "id" column is dropped before the rename
      // (the caller designated idCol as THE id; keeping both would
      // make the select ambiguous and fail every micro-batch)
      val keyed =
        if (idCol == "id") batch
        else batch.drop("id").withColumnRenamed(idCol, "id")
      val a = admitBatch(keyed, indexDir, maxHamming, bands,
        audio = audio)
      sink.append(
        batch.join(broadcast(a.admitted.select(col("id").as(idCol))),
          Seq(idCol), "left_semi"),
        table)
      a.commit()
    }
}
