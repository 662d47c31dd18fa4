package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.operators.{ArtifactMeta, Barrier, StagedSwap}

/** The persisted bloom an append-only ingest path keeps over its key
  * set — `bloom` (corpus fingerprints), `ids.bloom` (ANN ids, packed
  * doc ids), `bands.bloom` (media band keys) — with a `.meta` twin
  * recording the creation params. One class owns the protocol every
  * path shares:
  *
  *  - [[rebuild]]: the whole key set, 4× headroom so later folds have
  *    room before fpp decays;
  *  - [[novel]]: the replay gate. Bloom-negative keys are definitely
  *    new; the positives (true replays + ~fpp noise) broadcast into ONE
  *    scan of the persisted keys, which is never broadcast or shuffled,
  *    and a batch with no positive key never reads them at all;
  *  - [[commit]]: fold the batch's new keys in, executor-side, and only
  *    THEN run the caller's append. A crash between the two leaves keys
  *    in the bloom that the set lacks — a false positive the gate's
  *    confirm scan corrects. Append-first left the opposite window: a
  *    stale bloom called the appended keys novel and a rerun landed
  *    them again.
  *
  * Keys are the first column of the frames passed in, as strings; a
  * null key is never in the bloom, so it always counts as new. The bits
  * are read on first use and the instance tracks every later fold or
  * rebuild, so one instance can serve a whole stream. Single writer per
  * sidecar, like every persisted artifact in this package.
  */
final class BloomSidecar(spark: SparkSession, path: String) {
  import BloomSidecar._

  private val bitsPath = new Path(path)
  private val metaPath = new Path(s"$path.meta")
  private val fs = bitsPath.getFileSystem(spark.sessionState.newHadoopConf())

  private var loaded: Option[Option[BloomFilter]] = None // None: not read yet

  /** The current bits; None before the first build. */
  def bits: Option[BloomFilter] = loaded.getOrElse {
    val onDisk =
      if (!fs.exists(bitsPath)) None
      else {
        val in = fs.open(bitsPath)
        try Some(BloomFilter.readFrom(in))
        finally in.close()
      }
    loaded = Some(onDisk)
    onDisk
  }

  /** The creation params: a fold merges an increment filter that must
    * have the persisted numBits and numHashFunctions, which derive from
    * (expected items, fpp), so they must survive restarts. None means
    * they are lost, and only a rebuild can follow. */
  private def meta: Option[BloomMeta] = ArtifactMeta.read(fs, metaPath).map { m =>
    // the pre-round-15 meta is one bare "items fpp" value
    val legacy = m.get("value").fold(Array.empty[String])(_.split(" "))
    scala.util.Try(BloomMeta(
      m.get("items").orElse(legacy.headOption).get.toLong,
      m.get("fpp").orElse(legacy.lift(1)).get.toDouble)).getOrElse(
      throw new java.io.IOException(
        s"bloom meta at $metaPath is unreadable: $m — rebuild the bloom"))
  }

  private def publish(bf: BloomFilter, m: Option[BloomMeta]): Unit = {
    // staged: a torn write would leave bits that every later read dies on
    StagedSwap.writeSidecarVia(fs, bitsPath, bf.writeTo)
    m.foreach(m => ArtifactMeta.write(fs, metaPath,
      Seq("items" -> m.expectedItems.toString, "fpp" -> m.fpp.toString)))
    loaded = Some(Some(bf))
  }

  /** Delete bits and meta. A missing bloom is the conservative state:
    * the gate scans every batch and the next commit rebuilds. */
  def delete(): Unit = {
    Seq(bitsPath, metaPath).foreach(fs.delete(_, false))
    loaded = Some(None)
  }

  /** Rebuild from the full key set. Returns the number of keys. */
  def rebuild(keys: DataFrame): Long = rebuild(keys, DefaultFpp)

  private def rebuild(keys: DataFrame, fpp: Double): Long = {
    val ks = strings(keys)
    val count = ks.count()
    val n = math.max(count * 4, 4L)
    publish(ks.stat.bloomFilter(Key, n, fpp), Some(BloomMeta(n, fpp)))
    count
  }

  /** `rows` minus those whose `key` column is in `persisted` (a frame
    * with that column). Without bits the whole batch anti-joins it. */
  def novel(rows: DataFrame, key: String, persisted: => DataFrame): DataFrame =
    bits match {
      case Some(bf) =>
        val positives = rows
          .filter(graft.functions.BloomExprs.mightContain(bf, col(key).cast("string")))
          .select(key).distinct()
          .transform(Barrier.apply) // read by the emptiness probe and the join
        if (positives.isEmpty) rows
        else {
          val replays = persisted.select(key)
            .join(broadcast(positives), Seq(key), "left_semi")
          rows.join(broadcast(replays), Seq(key), "left_anti")
        }
      case None => rows.join(persisted.select(key), Seq(key), "left_anti")
    }

  /** Fold `newKeys` into the bits, then run `append`. A missing meta or
    * bits, or a filter past [[SaturatedFpp]], rebuilds from `persisted`
    * plus `newKeys` at the recorded fpp instead — still before the
    * append. No key reaches the driver: the increment filter aggregates
    * on executors with the persisted params and only the two filters'
    * bits meet. */
  def commit(newKeys: DataFrame, persisted: => DataFrame)(append: => Unit): Unit = {
    val keys = strings(newKeys)
    (bits, meta) match {
      case (Some(bf), Some(m)) =>
        // a zero-row aggregate yields no filter at all
        if (!keys.isEmpty)
          bf.mergeInPlace(keys.stat.bloomFilter(Key, m.expectedItems, m.fpp))
        if (bf.expectedFpp() <= SaturatedFpp) publish(bf, None)
        else rebuild(strings(persisted).unionByName(keys), m.fpp)
      case (_, m) =>
        rebuild(strings(persisted).unionByName(keys), m.fold(DefaultFpp)(_.fpp))
    }
    append
  }
}

object BloomSidecar {

  private val DefaultFpp = 0.01

  /** Past this estimated fpp a fold rebuilds: a fixed-size filter
    * saturates as folds accumulate, and at fpp → 1 every row would pay
    * the confirm scan again. */
  private val SaturatedFpp = 0.05

  private final case class BloomMeta(expectedItems: Long, fpp: Double)

  private val Key = "key"

  /** The first column as non-null strings named [[Key]]. */
  private def strings(df: DataFrame): DataFrame =
    df.select(col(df.columns.head).cast("string").as(Key)).filter(col(Key).isNotNull)
}
