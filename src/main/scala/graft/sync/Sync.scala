package graft.sync

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}

import graft.catalog.{Catalog, FileCatalog, JdbcCatalog}
import graft.config.{Endpoint, SyncConfig}
import graft.operators.StagedSwap

/** Column-name normalization, mirroring the reference's forced
  * lower-casing of every column (cmd/root.go:313-314). */
object Normalize {
  def lowercaseColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toLowerCase).toIndexedSeq: _*)
}

/** Where synced rows land. The reference only writes MySQL (batched
  * multi-row INSERT in a txn, cmd/root.go:375-507); Spark's JDBC writer
  * does the same prepared-batch-per-partition loop natively, and a
  * parquet sink covers the fixture/test path. A sink holds the writes;
  * every read of the destination goes through its [[catalog]].
  */
sealed trait Sink {
  /** The destination's read side. */
  def catalog: Catalog
  /** Truncate-and-load (reference S11: `truncate table` then insert). */
  def overwrite(df: DataFrame, table: String): Unit
  /** Append without truncation (incremental loads). */
  def append(df: DataFrame, table: String): Unit
  def readBack(spark: SparkSession, table: String): DataFrame
  /** Target row count, or None when the table is verifiably missing
    * ([[Catalog.tableExists]]); a count that fails on a table that
    * exists rethrows. The happy path is the catalog's one count. */
  final def rowCount(spark: SparkSession, table: String): Option[Long] =
    try Some(catalog.rowCount(spark, table))
    catch { case _: Exception if !catalog.tableExists(table) => None }
  /** Replace the target's rows in any of `ranges` (one table's changed
    * ranges, all at once) with `df`, already filtered to them — the
    * repair primitive of [[DeltaSync]]. JDBC sinks delete every range in
    * one server-side DELETE where the dialect can compute the key, then
    * run one batch append; file sinks rewrite once. */
  def replaceRange(spark: SparkSession, df: DataFrame, table: String, ranges: Seq[Slices.Range]): Unit
}

/** The delta-repair statements as PURE renderers, split out of the
  * JDBC choreography so every dialect branch is decidable by unit test
  * (`DeltaSyncSpec`): the live Derby specs exercise the server-side
  * numeric DELETE and the generic keyed DELETE end-to-end; no second
  * embedded JDBC engine ships with the build, so the MySQL hash-key
  * DELETE and the keyed DELETE's plain `k = ?` shape are pinned there
  * as strings. */
private[sync] object DeltaRepairSql {

  /** ONE server-side DELETE of every range (at least one) — the repair
    * ranges never leave the server. Several ranges are parenthesised
    * and OR-joined. None when the dialect cannot compute the key: the
    * caller takes the keyed branch below. */
  def rangeDelete(url: String, table: String, ranges: Slices.Range*): Option[String] =
    Some(ranges.flatMap(_.sql(url))).filter(_.size == ranges.size).map {
      case Seq(p) => s"DELETE FROM $table WHERE $p"
      case ps     => s"DELETE FROM $table WHERE " + ps.map(p => s"($p)").mkString(" OR ")
    }

  /** Generic branch: the one-row DELETE an executor batches for every
    * doomed key, its PK columns bound as parameters. */
  def keyedDelete(table: String, pkCols: Seq[String]): String =
    s"DELETE FROM $table WHERE " + pkCols.map(c => s"$c = ?").mkString(" AND ")
}

/** File-directory sink, one `<table>.<format>` dir per table.
  *
  * Format contract: parquet/orc embed their schema and support the
  * FULL Sink surface (round-trip reads, incremental watermarks,
  * `compare --content`, delta repair). csv/json are DELIVERY formats
  * (ship a curated corpus as JSON-lines or headers-on csv): reads back
  * through schema INFERENCE, so an empty table cannot be re-read
  * (inference has nothing to infer) and decimal/date types widen on a
  * round trip — point incremental/repair/compare pipelines at
  * parquet/orc, not at a delivery dir. */
final case class FileSink(dir: String, format: String = "parquet") extends Sink {
  val catalog: Catalog = new FileCatalog(dir, format)
  private def path(table: String) = s"$dir/$table.$format"
  // csv keeps headers both ways (the FileCatalog convention, so a sink
  // dir reads back as a source dir); json is JSON-lines — the standard
  // LLM-corpus delivery format
  private def writeOpts: Map[String, String] = format match {
    case "csv" => Map("header" -> "true")
    case _     => Map.empty
  }
  override def overwrite(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).options(writeOpts)
      .format(format).save(path(table))
  override def append(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Append).options(writeOpts)
      .format(format).save(path(table))
  override def readBack(spark: SparkSession, table: String): DataFrame =
    catalog.read(spark, table)
  /** Plain parquet has no row-level delete: keep-rows ∪ replacement is
    * materialized through a [[graft.operators.Barrier]] (the path being
    * overwritten cannot stay in the read lineage), then overwritten.
    * A table format with row-level ops (Iceberg/Delta) would replace
    * just the affected files; this sink is the fixture/test path. */
  override def replaceRange(
      spark: SparkSession, df: DataFrame, table: String, ranges: Seq[Slices.Range]): Unit = {
    val keep = readBack(spark, table).filter(!coalesce(Slices.column(ranges), lit(false)))
    val merged = graft.operators.Barrier(keep.unionByName(df))
    overwrite(merged, table)
  }

  /** Table maintenance: rewrite the table toward `targetBytes` per
    * data file — appends (incremental sync, curate increments) and
    * highly parallel writes accumulate small files, and at scale a
    * scan's task count is file-bound. Sized from the table's CURRENT
    * byte footprint, rewritten through the same staged swap as the
    * index compactions (write aside → rename out → rename in →
    * restore on failure): a crash leaves either the old or the new
    * table, never neither. Returns (files before, files after). */
  def compactTable(
      spark: SparkSession, table: String, targetBytes: Long): (Long, Long) = {
    require(StagedSwap.exists(spark, path(table)), s"no such table: ${path(table)}")
    val (before, bytes) = StagedSwap.dataFiles(spark, path(table))
    val parts = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // the rewrite lands in the staging dir while the live dir is still
    // in place, so the read lineage stays valid without a Barrier
    StagedSwap.rewrite(spark, path(table))(readBack(spark, table)
      .repartition(parts)
      .write.mode(SaveMode.Overwrite).options(writeOpts)
      .format(format).save)
    (before, StagedSwap.dataFiles(spark, path(table))._1)
  }
}

/** The fixture/test parquet sink — [[FileSink]] with its default
  * format, kept as a named constructor for the many call sites. */
object ParquetSink {
  def apply(dir: String): FileSink = FileSink(dir)
}

/** JDBC sink: truncate-overwrite with batched writes. `numPartitions`
  * caps concurrent connections (reference pool ceiling, cmd/app.go:74-76);
  * `batchsize` is its batchRowSize. `truncate=true` keeps the target
  * table's DDL (the reference never re-creates on data load either).
  */
final case class JdbcSink(
    endpoint: Endpoint,
    batchRowSize: Int = 1000,
    numPartitions: Int = 30)
    extends Sink {
  val catalog: Catalog = new JdbcCatalog(endpoint)
  private def props: java.util.Properties = {
    val p = endpoint.properties
    p.setProperty("batchsize", batchRowSize.toString)
    // the JDBC writer's own connection cap: it coalesces to at most
    // this many write partitions — the declarative form of a
    // `df.rdd.getNumPartitions` probe + manual coalesce, without
    // forcing an early plan-to-RDD conversion that bypasses AQE
    p.setProperty("numPartitions", numPartitions.toString)
    p
  }
  override def overwrite(df: DataFrame, table: String): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("truncate", "true")
      .jdbc(endpoint.url, table, props)
  override def append(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Append).jdbc(endpoint.url, table, props)
  override def readBack(spark: SparkSession, table: String): DataFrame =
    Normalize.lowercaseColumns(catalog.read(spark, table))
  /** Range repair. Where the dialect computes the key (a numeric PK
    * anywhere; the md5 [[HashKey]] on MySQL-wire) every range goes in
    * ONE server-side DELETE, its ranges OR-joined. Otherwise (a string
    * or composite PK on Derby, in tests) the target is read back and
    * filtered to the dirty ranges in Spark, and each partition of the
    * doomed KEYS runs one batched [[DeltaRepairSql.keyedDelete]] from
    * its executor, `batchRowSize` keys a batch — one Spark job, the
    * keys never visit the driver, and no table is created or dropped
    * on the replica. That read-back is one full target scan per
    * repaired table — the price of a dialect with no server-side md5.
    * The replacement rows are then batch-appended in one job. */
  override def replaceRange(
      spark: SparkSession, df: DataFrame, table: String, ranges: Seq[Slices.Range]): Unit = {
    DeltaRepairSql.rangeDelete(endpoint.url, table, ranges: _*) match {
      case Some(delete) =>
        endpoint.withConnection { conn =>
          val st = conn.createStatement()
          try st.executeUpdate(delete) finally st.close()
        }
      case None =>
        val pkCols = ranges.head.key.pkCols
        // locals, so the executor closure does not capture the sink
        val (ep, sql, batch) = (endpoint, DeltaRepairSql.keyedDelete(table, pkCols), batchRowSize)
        readBack(spark, table)
          .filter(Slices.column(ranges))
          .select(pkCols.map(col): _*)
          .foreachPartition { (keys: Iterator[org.apache.spark.sql.Row]) =>
            if (keys.hasNext) ep.withConnection { conn =>
              conn.setAutoCommit(false)
              val ps = conn.prepareStatement(sql)
              try {
                keys.grouped(batch).foreach { rows =>
                  rows.foreach { r =>
                    pkCols.indices.foreach(i => ps.setObject(i + 1, r.get(i)))
                    ps.addBatch()
                  }
                  ps.executeBatch()
                }
                conn.commit()
              } catch { case e: Throwable => conn.rollback(); throw e }
              finally ps.close()
            }
          }
    }
    append(df, table)
  }
}

final case class TableReport(
    table: String,
    rows: Long,
    elapsedMs: Long,
    ok: Boolean,
    error: Option[String] = None,
    skipped: Boolean = false)

/** The reference's full-migration pipeline (cmd/root.go:58-208),
  * Spark-shaped: discovery -> per-table [read, normalize, truncate-load]
  * -> report. Per-table concurrency (its maxParallel goroutine
  * semaphore, cmd/root.go:104-113) becomes a driver-side parallel
  * collection over tables; per-page concurrency is simply the source
  * DataFrame's partitioning (task-per-slice on executors).
  */
object Sync {

  /** One table's load under job group `group`, reported: the target's
    * row count after `load` on success; on any failure (the count too)
    * rows=-1 and the error, isolated to this table's report. */
  private def report(spark: SparkSession, sink: Sink, table: String, group: String)(
      load: => Unit): TableReport = {
    val t0 = System.nanoTime()
    def ms = (System.nanoTime() - t0) / 1000000
    try Jobs.tagged(spark, group) {
      load
      TableReport(table, sink.catalog.rowCount(spark, table), ms, ok = true)
    } catch {
      case e: Exception => TableReport(table, -1, ms, ok = false, Some(e.getMessage))
    }
  }

  def syncTable(
      spark: SparkSession,
      catalog: Catalog,
      sink: Sink,
      table: String,
      pageSize: Long = 100000L): TableReport =
    report(spark, sink, table, s"graft-sync-$table") {
      sink.overwrite(Normalize.lowercaseColumns(
        catalog.readPartitioned(spark, table, pageSize, PartitionedReader.MaxSlices)), table)
    }

  /** Incremental sync: append only source rows whose `watermarkCol`
    * exceeds the target's current maximum. The watermark probe is a
    * pushed-down MAX on the target; the filtered extract pushes the
    * `> watermark` predicate down to the source (Spark's JDBC filter
    * pushdown), so a nightly delta over a 100 TB table reads only the
    * delta — the scale-sane alternative to the reference's
    * truncate-everything reload. Requires an append-only/monotonic
    * watermark column (id, created_at); updates need CDC, out of scope
    * as in the reference. */
  def syncIncremental(
      spark: SparkSession,
      catalog: Catalog,
      sink: Sink,
      table: String,
      watermarkCol: String,
      pageSize: Long = 100000L): TableReport =
    report(spark, sink, table, s"graft-incr-$table") {
      val src = Normalize.lowercaseColumns(
        catalog.readPartitioned(spark, table, pageSize, PartitionedReader.MaxSlices))
      // full-load only on VERIFIED absence/emptiness; a transient probe
      // error propagates to the report (ok=false) instead of silently
      // re-appending every existing row
      val delta =
        if (!sink.catalog.tableExists(table)) src // verified missing: full load
        else sink.catalog.maxValue(spark, table, watermarkCol) match {
          case Some(wm) => src.filter(col(watermarkCol) > lit(wm))
          case None     => src // exists but empty: full load
        }
      sink.append(delta, table)
    }

  /** Continuous replication: a Structured Streaming source appended
    * into any [[Sink]] per micro-batch — the streaming extension of the
    * reference's batch-only copy loop (cmd/root.go:133-147). Each
    * micro-batch rides the sink's batched-transaction append path; the
    * checkpoint gives exactly-once SOURCE progress, while the sink side
    * is at-least-once on task retry (JDBC writes are not idempotent) —
    * pair with a keyed target + upsert/dedup, or the watermarked
    * streaming dedup (EventPipeline.streamingDedup), when the target
    * must be exactly-once. Scale shape: state-free pass-through; the
    * stream side is never shuffled, and sink parallelism is capped by
    * the sink's own numPartitions clamp. */
  def streamingSync(
      stream: DataFrame,
      sink: Sink,
      table: String,
      checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.MicroBatches.start(stream, checkpointDir, trigger) { (batch, _) =>
      sink.append(Normalize.lowercaseColumns(batch), table)
    }

  /** Custom-SQL mode (reference `-s`, cmd/root.go:95-96 + example.yml
    * `tables:`): each configured table is loaded from its list of
    * arbitrary SELECTs, each pushed verbatim to the source database via
    * the JDBC `query` option (so the source engine executes it — same
    * pushdown-by-construction semantics as the reference), unioned, and
    * truncate-loaded into the sink, `maxParallel` tables at a time. */
  def syncCustom(
      spark: SparkSession,
      src: graft.config.Endpoint,
      sink: Sink,
      config: SyncConfig): Seq[TableReport] =
    parMap(config.tables.toSeq, config.maxParallel) { case (table, sqls) =>
      report(spark, sink, table, s"graft-sync-$table") {
        val dfs = sqls.map { sql =>
          Normalize.lowercaseColumns(spark.read.format("jdbc").option("url", src.url)
            .option("query", Jobs.tagSql(sql)).options(src.props).load())
        }
        sink.overwrite(dfs.reduce(_.unionAll(_)), table)
      }
    }

  /** Bounded driver-side parallel map — the reference's maxParallel
    * goroutine semaphore (cmd/root.go:104-113), shared by every
    * all-tables entry point so pool lifecycle fixes land once. */
  private[sync] def parMap[A, B](items: Seq[A], parallelism: Int)(f: A => B): Seq[B] = {
    val pool = new java.util.concurrent.ForkJoinPool(parallelism)
    try {
      import scala.collection.parallel.CollectionConverters._
      val par = items.par
      par.tasksupport = new scala.collection.parallel.ForkJoinTaskSupport(pool)
      par.map(f).seq.toSeq
    } finally pool.shutdown()
  }

  /** All-tables sync, optionally RESUMABLE through a [[SyncLedger]]:
    * with `ledgerDir` set, each table that commits is recorded (staged
    * swap — never half-written), a rerun after a kill skips recorded
    * tables and runs only the rest, and a fully-green run closes the
    * ledger so the NEXT sync is a fresh full load. `fromScratch`
    * discards an in-progress ledger up front. */
  def syncAll(
      spark: SparkSession,
      catalog: Catalog,
      sink: Sink,
      config: SyncConfig,
      ledgerDir: Option[String] = None,
      fromScratch: Boolean = false): Seq[TableReport] = {
    if (fromScratch) ledgerDir.foreach(d => SyncLedger.clear(spark, d))
    val done = ledgerDir.map(d => SyncLedger.completed(spark, d))
      .getOrElse(Map.empty[String, Long])
    val reports = parMap(catalog.listTables(config.exclude), config.maxParallel) { t =>
      if (done.contains(t))
        TableReport(t, done(t), 0L, ok = true, skipped = true)
      else {
        val r = config.watermarks.get(t) match {
          case Some(wmCol) =>
            syncIncremental(spark, catalog, sink, t, wmCol, config.pageSize.toLong)
          case None =>
            syncTable(spark, catalog, sink, t, config.pageSize.toLong)
        }
        if (r.ok) ledgerDir.foreach(d => SyncLedger.markDone(spark, d, t, r.rows))
        r
      }
    }
    // run complete -> close the ledger (next sync = fresh full load);
    // any failure keeps it, so the NEXT run resumes from here
    if (reports.forall(_.ok)) ledgerDir.foreach(d => SyncLedger.clear(spark, d))
    reports
  }
}

/** compareDb (cmd/compare.go): per-table source/target row-count
  * equality with existence flag; strengthened by the row-exact checksum
  * content compare and a symmetric-exceptAll content equality, neither
  * of which the reference can do.
  */
object Compare {
  final case class CompareRow(
      table_name: String,
      src_rows: Long,
      dest_rows: Long,
      dest_is_exist: String,
      is_ok: String)

  /** One table's row against the source's `srcCnt`: a destination
    * verifiably missing reads -1/NO/NO; one that exists but cannot be
    * counted reads -1/YES/NO; otherwise its count, ok when the counts
    * match and `same` holds. */
  private def compareRow(spark: SparkSession, sink: Sink, table: String, srcCnt: Long)(
      same: => Boolean): CompareRow = {
    val dest = Try(sink.rowCount(spark, table))
    val n = dest.toOption.flatten
    def yes(b: Boolean) = if (b) "YES" else "NO"
    CompareRow(table, srcCnt, n.getOrElse(-1L),
      yes(dest.fold(_ => true, _.isDefined)), yes(n.contains(srcCnt) && same))
  }

  def countCompare(
      spark: SparkSession,
      src: Catalog,
      sink: Sink,
      tables: Seq[String]): Seq[CompareRow] =
    // both counts are pushed-down aggregates (reference R6: the
    // `select count(*)` runs on each database, cmd/compare.go:112)
    tables.map(t => compareRow(spark, sink, t, src.rowCount(spark, t))(same = true))

  /** One replication-freshness finding. */
  final case class FreshnessRow(
      table: String, column: String,
      srcMax: String, destMax: String, inSync: Boolean)

  /** Replication freshness per watermarked table: the source's and
    * destination's MAX(watermark) side by side — the "how stale is my
    * replica" answer without a row compare. Both probes are
    * [[Catalog.maxValue]], the aggregate the incremental sync uses: on
    * JDBC one `SELECT MAX` on the database, no Spark job. Values compare
    * by canonical string render, since the two sides may surface
    * different but equal-valued types. */
  def freshness(
      spark: SparkSession,
      src: Catalog,
      sink: Sink,
      watermarks: Map[String, String]): Seq[FreshnessRow] =
    watermarks.toSeq.sortBy(_._1).map { case (t, c) =>
      val sMax = src.maxValue(spark, t, c)
      val dMax =
        if (sink.catalog.tableExists(t)) sink.catalog.maxValue(spark, t, c) else None
      // BOTH empty cases render "-": an empty source replicated into
      // an empty destination is in sync, not lagging
      val sR = sMax.map(String.valueOf).getOrElse("-")
      val dR = dMax.map(String.valueOf).getOrElse("-")
      FreshnessRow(t, c, sR, dR, sR == dR)
    }

  /** One schema-drift finding. */
  final case class SchemaDrift(
      table: String, column: String, status: String,
      srcType: String, destType: String)

  /** Schema drift between source and destination — the check a
    * replication tool runs BEFORE a sync dies mid-copy on a retyped
    * column: per table, columns missing in the destination, extra in
    * the destination, or present with a different type. Metadata-only
    * (one schema probe per side per table; no rows move) — case- and
    * order-insensitive on column names, matching the sync path's
    * lowercase normalization. */
  def schemaCompare(
      spark: SparkSession,
      src: Catalog,
      sink: Sink,
      tables: Seq[String]): Seq[SchemaDrift] =
    tables.flatMap { t =>
      if (!sink.catalog.tableExists(t))
        Seq(SchemaDrift(t, "*", "table_missing", "-", "-"))
      else {
        def fields(df: DataFrame): (Map[String, String], Seq[String]) = {
          val pairs = df.schema.fields
            .map(f => f.name.toLowerCase -> f.dataType.simpleString).toSeq
          // two columns collapsing onto one lowercased name (quoted
          // case-sensitive identifiers) would make drift in the
          // shadowed column invisible — surface the ambiguity instead
          val dups = pairs.groupBy(_._1).filter(_._2.size > 1).keys.toSeq
          (pairs.toMap, dups.sorted)
        }
        val (s, sDups) = fields(src.read(spark, t))
        val (d, dDups) = fields(sink.readBack(spark, t))
        val ambiguous = (sDups ++ dDups).distinct.sorted.map(c =>
          SchemaDrift(t, c, "ambiguous_case", "-", "-"))
        val missing = (s.keySet -- d.keySet).toSeq.sorted.map(c =>
          SchemaDrift(t, c, "missing_in_dest", s(c), "-"))
        val extra = (d.keySet -- s.keySet).toSeq.sorted.map(c =>
          SchemaDrift(t, c, "extra_in_dest", "-", d(c)))
        val retyped = (s.keySet & d.keySet).toSeq.sorted
          .filter(c => s(c) != d(c))
          .map(c => SchemaDrift(t, c, "type_mismatch", s(c), d(c)))
        ambiguous ++ missing ++ extra ++ retyped
      }
    }

  /** Order-independent per-column content checksum (query q38, whose
    * DuckDB oracle runs the same formula): per column, the sum of a
    * 60-bit md5 prefix of each value's string form, accumulated as
    * DECIMAL(38,0) and rendered as a STRING, since a 38-digit integer is
    * exact as text in any engine. Values hash their
    * [[SliceDiff.canonical]] string. Per-column sums cannot see a value
    * that moved between rows: compare and repair use the row-exact
    * [[SliceDiff]] instead. */
  def contentChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val sums = cols.map(c => sum(conv(substring(md5(SliceDiff.canonical(df, c)), 1, 15), 16, 10)
      .cast("decimal(38,0)")).cast("decimal(38,0)").cast("string").as(s"ck_$c"))
    df.agg(sums.head, sums.tail: _*)
  }

  /** Per-table CONTENT compare — the mode the reference cannot do: the
    * count check, then the row-exact [[SliceDiff]] of the whole table as
    * one slice: one Spark stage with no shuffle, each read task
    * returning one (rows, sum) partial per side. Tables run in parallel, as many as the session has cores
    * (at most the [[PartitionedReader.MaxSlices]] connection ceiling);
    * rows come back in `tables` order. A destination that cannot be read
    * or lacks a source column reports NO; the counts read as in
    * [[countCompare]]. */
  def contentCompare(
      spark: SparkSession,
      src: Catalog,
      sink: Sink,
      tables: Seq[String]): Seq[CompareRow] =
    Sync.parMap(tables,
      math.min(spark.sparkContext.defaultParallelism, PartitionedReader.MaxSlices)) { t =>
      val s = Normalize.lowercaseColumns(src.read(spark, t))
      compareRow(spark, sink, t, src.rowCount(spark, t)) {
        try SliceDiff(s, Normalize.lowercaseColumns(sink.readBack(spark, t)), None)
          .changed.isEmpty
        catch { case _: Exception => false }
      }
    }

  /** Content equality: both directions of exceptAll are empty. Stronger
    * than the reference's count check; distributed (no collect of data,
    * only of the two difference counts). */
  def contentEqual(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.sorted.toIndexedSeq.map(org.apache.spark.sql.functions.col)
    val an = a.select(cols: _*)
    val bn = b.select(cols: _*)
    an.exceptAll(bn).isEmpty && bn.exceptAll(an).isEmpty
  }
}

/** DDL replay (cmd/tablemeta.go:41-96): the reference copies `show
  * create table` output verbatim. Spark cannot express MySQL DDL extras
  * (indexes, auto_increment, charset), so this stays a raw-JDBC driver
  * step against the target; Spark-generated DDL (the JDBC writer's
  * createTableOptions path) is the portable fallback used when fidelity
  * is not required.
  */
object DdlReplay {
  def replay(target: JdbcCatalog, ddl: Seq[String]): Unit =
    ddl.foreach(target.execute)

  /** Per-table replay with the reference's full choreography
    * (cmd/tablemeta.go:56-95), one transaction per table:
    *
    *   1. MySQL-wire targets: `SET FOREIGN_KEY_CHECKS=0` so create
    *      order doesn't matter, then `drop table if exists ... cascade`;
    *      other dialects: a metadata-probed plain `DROP TABLE` (Derby
    *      and friends have neither IF EXISTS of that shape nor FK
    *      toggles);
    *   2. the CREATE statement;
    *   3. commit — rollback and rethrow on any failure.
    *
    * The rollback guarantee ("a botched replay never leaves the target
    * half-dropped") holds only on dialects with TRANSACTIONAL DDL
    * (Derby, PostgreSQL). MySQL-wire DDL implicitly commits statement
    * by statement, so there the choreography is drop-then-create
    * best-effort — exactly the reference's behavior
    * (cmd/tablemeta.go:56-95); a failed CREATE after the DROP leaves
    * the table absent and the error reported.
    */
  def replayTable(target: JdbcCatalog, table: String, createSql: String): Unit =
    target.executeTxn(
      prologue(Jobs.isMySqlWire(target.endpoint.url), table,
        target.tableExists(table)) :+ createSql)

  /** The statements that precede the CREATE; split out so the dialect
    * choreography is unit-testable without a MySQL server. `exists` is
    * only consulted on the non-MySQL path (MySQL's IF EXISTS makes the
    * probe redundant). */
  def prologue(mysqlWire: Boolean, table: String, exists: => Boolean): Seq[String] =
    if (mysqlWire)
      Seq(
        "SET FOREIGN_KEY_CHECKS=0",
        s"drop table if exists `$table` cascade")
    else if (exists) Seq(s"DROP TABLE $table")
    else Seq.empty

  /** Replay a set of views AFTER their base tables exist — the view
    * leg of the reference's S13 object migration (advertised
    * readme.md:10,81; left commented out in cmd/root.go:166-180).
    *
    * Two phases, both dependency-order-free:
    *   1. DROP every target view being replaced, looping while any
    *      drop makes progress — dialects that track dependencies
    *      (Derby) refuse to drop a view another view reads, so
    *      dependents fall in an earlier iteration and unblock their
    *      bases in the next;
    *   2. CREATE in discovery order, re-passing until a full pass
    *      makes no progress (k-level chains need k passes), so a view
    *      defined over another view that happened to sort later still
    *      lands (each pass creates at least one view of a well-formed
    *      chain; real schemas nest a couple of levels, not dozens).
    * A still-failing view is reported, not thrown. Returns per-view
    * results: Right(()) = created, Left(reason) = skipped/failed. */
  def replayViews(
      source: JdbcCatalog,
      target: JdbcCatalog,
      views: Seq[String]): Seq[(String, Either[String, Unit])] = {
    var toDrop = views.filter(target.tableExists)
    var progress = true
    while (toDrop.nonEmpty && progress) {
      val remaining = toDrop.filterNot { v =>
        try { target.execute(s"DROP VIEW $v"); true }
        catch { case _: java.sql.SQLException => false }
      }
      progress = remaining.size < toDrop.size
      toDrop = remaining
    }
    val defs = views.map(v => v -> source.viewDefinition(v)).toMap
    def attempt(v: String): Either[String, Unit] = defs(v) match {
      case None => Left("view definition not readable from source dialect")
      case Some(sql) =>
        try { target.execute(sql); Right(()) }
        catch { case e: java.sql.SQLException => Left(e.getMessage) }
    }
    // loop until a full pass makes no progress (same discipline as the
    // drop phase): a k-level view-on-view chain discovered in inverted
    // order needs k passes, not exactly two
    val results = scala.collection.mutable.Map.empty[String, Either[String, Unit]]
    var pending = views
    var creating = true
    while (pending.nonEmpty && creating) {
      val next = pending.filter { v =>
        val r = attempt(v)
        results(v) = r
        r.isLeft && defs(v).nonEmpty // unreadable defs never retry
      }
      creating = next.size < pending.size
      pending = next
    }
    views.map(v => v -> results(v))
  }
}
