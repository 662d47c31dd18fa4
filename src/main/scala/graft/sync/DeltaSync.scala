package graft.sync

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

import graft.catalog.Catalog
import graft.partition.KeyRangeSlicer

/** Checksum-diff repair sync — update-aware replication without CDC.
  *
  * `syncIncremental` (Sync.scala) only catches APPENDS: a row updated
  * in place behind the watermark is silently missed, and the
  * reference's answer is a full truncate-reload (cmd/root.go:280-288).
  * This operator closes that gap with the machinery already proven by
  * `Compare.contentChecksum` (q38): slice the key space, compare one
  * order-independent per-column checksum per slice across systems, and
  * re-copy ONLY the slices whose checksums disagree.
  *
  * Scale shape at 100 TB: one aggregation scan per side (k slice rows
  * cross the wire, not data), then the repair writes touch only the
  * changed ranges — a JDBC target DELETEs each range server-side over
  * its PK index and batch-appends the replacement. Against a mostly-
  * unchanged replica this beats truncate-reload by the write path (the
  * dominant cost) times the unchanged fraction; adjacent changed
  * slices merge into one repair range so hot update regions don't
  * fragment into per-slice statements. True row-level CDC (binlog
  * tailing) remains out of scope, as in the reference.
  */
object DeltaSync {

  final case class DeltaReport(
      table: String,
      slices: Int,
      changedSlices: Int,
      rowsCopied: Long,
      ok: Boolean,
      error: Option[String] = None)

  /** The slice key's column while checksumming. */
  private val KeyCol = "__sk"

  /** Slice id of a key under sorted cut values: the number of cuts at
    * or below it; NULL keys land in slice 0 (the unbounded-below
    * slice, same convention as KeyRangeSlicer.predicatesFromCuts). */
  private[sync] def sliceId(pk: Column, cuts: Seq[Long]): Column =
    cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(pk >= lit(c), 1).otherwise(0)
    }

  /** Per-slice row count + per-column content checksums — the grouped
    * form of [[Compare.contentChecksum]]: one aggregation pass, k rows
    * out. */
  private[sync] def rangeChecksums(
      df: DataFrame, pkCol: String, cuts: Seq[Long], cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n") +: Compare.checksumExprs(df, cols)
    df.groupBy(sliceId(col(pkCol), cuts).as("slice"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** The half-open bounds of slice `i` under `cuts` (k cuts → k+1
    * slices). */
  private def bounds(i: Int, cuts: Seq[Long]): (Option[Long], Option[Long]) =
    (if (i == 0) None else Some(cuts(i - 1)),
     if (i == cuts.length) None else Some(cuts(i)))

  /** Merge adjacent changed slice ids into maximal repair ranges. */
  private[sync] def mergeRanges(
      changed: Seq[Int], cuts: Seq[Long]): Seq[(Option[Long], Option[Long])] = {
    if (changed.isEmpty) return Seq.empty
    val sorted = changed.distinct.sorted
    val runs = sorted.foldLeft(List.empty[(Int, Int)]) {
      case ((s, e) :: rest, i) if i == e + 1 => (s, i) :: rest
      case (acc, i)                          => (i, i) :: acc
    }.reverse
    runs.map { case (s, e) => (bounds(s, cuts)._1, bounds(e, cuts)._2) }
  }

  /** Compare per-slice checksums between source and target and repair
    * only the slices that disagree. Numeric lead PKs slice on the key
    * itself; string/composite PKs slice on the 60-bit [[HashKey]] md5
    * space (fixed uniform cuts — no planning scan; MySQL repairs stay
    * server-side via the dialect md5). Falls back to a full
    * truncate-reload only when the target is verifiably missing, when
    * the table has no PK at all, or when the target is so diverged
    * that a full reload is cheaper (`maxChangedFraction`).
    */
  def syncDelta(
      spark: SparkSession,
      catalog: Catalog,
      sink: Sink,
      table: String,
      numSlices: Int = 64,
      maxChangedFraction: Double = 0.5,
      pageSize: Long = 100000L,
      maxSlices: Int = 60): DeltaReport = {
    try Jobs.tagged(spark, s"graft-delta-$table") {
      val pk = catalog.primaryKey(table)
      // ONE planning pass: JDBC sources derive cuts from pushed-down
      // histograms (the source DB computes them over its PK index) and
      // REUSE them as the read predicates, so delta planning costs the
      // same source-side aggregates as a plain partitioned read — no
      // Spark-side pre-scan, no second histogram pass
      val jdbcPlan = catalog match {
        case j: graft.catalog.JdbcCatalog =>
          PartitionedReader.readFixed(spark, j.endpoint, table, pk.headOption, numSlices)
        case _ => None
      }
      val src = jdbcPlan.fold(Normalize.lowercaseColumns(
        catalog.readPartitioned(spark, table, pageSize, maxSlices)))(_._1)
      val pks = pk.map(_.toLowerCase).filter(src.columns.contains)

      def fullLoad(): DeltaReport = {
        sink.overwrite(src, table)
        val n = sink.rowCount(spark, table).getOrElse(-1L)
        DeltaReport(table, 1, 1, n, ok = true)
      }

      if (!sink.exists(spark, table)) fullLoad()
      else if (pks.isEmpty) fullLoad() // nothing sliceable: behave like syncTable
      else {
        val dst = Normalize.lowercaseColumns(sink.readBack(spark, table))
        val cols = src.columns.sorted.toIndexedSeq
        val (key, cuts) =
          if (src.schema(pks.head).dataType.isInstanceOf[NumericType])
            // numeric lead PK: slice on the key itself (the range DELETE
            // rides the PK index on any dialect). Checksum slices = the
            // read slices when the pushed plan produced them (1:1
            // alignment — one planning pass covers both); file sources
            // estimate quantiles from the data
            (SliceKey.Lead(pks.head),
              jdbcPlan.fold(KeyRangeSlicer.quantileCuts(src, pks.head, numSlices))(_._2))
          else
            // string/composite PK: slice the 60-bit md5 key space of the
            // full PK tuple — uniform by construction, so the fixed cuts
            // balance with NO data scan
            (SliceKey.Hashed(pks), HashKey.cuts(numSlices))
        val k = cuts.length + 1
        def bySlice(d: DataFrame) =
          rangeChecksums(d.withColumn(KeyCol, key.column), KeyCol, cuts, cols).collect()
            .map(r => r.getInt(0) -> r.toSeq.drop(1)).toMap
        val s = bySlice(src)
        val d = bySlice(dst)
        val changed = (0 until k).filter(i => s.get(i) != d.get(i))
        if (changed.isEmpty)
          DeltaReport(table, k, 0, 0L, ok = true)
        else if (changed.size.toDouble / k > maxChangedFraction) fullLoad()
        else {
          mergeRanges(changed, cuts).foreach { case (lo, hi) =>
            sink.replaceRange(spark,
              src.filter(RangeBounds.column(key.column, lo, hi)), table, key, lo, hi)
          }
          val copied = changed.flatMap(i => s.get(i))
            .map(_.head.asInstanceOf[Long]).sum
          DeltaReport(table, k, changed.size, copied, ok = true)
        }
      }
    } catch {
      case e: Exception =>
        DeltaReport(table, 0, 0, 0L, ok = false, Some(e.getMessage))
    }
  }

  /** All tables, `maxParallel` at a time — the same bounded driver
    * pool as Sync.syncAll, so `sync --delta` honors the config's
    * parallelism exactly like plain sync. */
  def syncAllDelta(
      spark: SparkSession,
      catalog: Catalog,
      sink: Sink,
      config: graft.config.SyncConfig): Seq[DeltaReport] =
    Sync.parMap(catalog.listTables(config.exclude), config.maxParallel)(t =>
      syncDelta(spark, catalog, sink, t, pageSize = config.pageSize.toLong))
}
