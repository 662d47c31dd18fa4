package graft.sync

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.catalog.{Catalog, JdbcCatalog}
import graft.config.{Endpoint, SyncConfig}

/** Column-name normalization, mirroring the reference's forced
  * lower-casing of every column (cmd/root.go:313-314). */
object Normalize {
  def lowercaseColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toLowerCase).toIndexedSeq: _*)
}

/** Where synced rows land. The reference only writes MySQL (batched
  * multi-row INSERT in a txn, cmd/root.go:375-507); Spark's JDBC writer
  * does the same prepared-batch-per-partition loop natively, and a
  * parquet sink covers the fixture/test path.
  */
sealed trait Sink {
  /** Truncate-and-load (reference S11: `truncate table` then insert). */
  def overwrite(df: DataFrame, table: String): Unit
  /** Append without truncation (incremental loads). */
  def append(df: DataFrame, table: String): Unit
  def readBack(spark: SparkSession, table: String): DataFrame
  /** Verified target-table existence. Kept distinct from read errors on
    * purpose: the reference conflates "truncate failed" with "table
    * missing" (cmd/root.go:283-287), and an incremental sync that takes
    * a transient probe error for a missing table silently re-appends
    * the whole source. Only this check may route to a full load. */
  def exists(spark: SparkSession, table: String): Boolean
  /** Max value of a column in the target, or None if the table is
    * empty — the incremental-sync watermark. Call only after
    * [[exists]]; errors propagate (they mean the probe failed, not that
    * the table is absent). Overridden with a pushed-down aggregate
    * where the sink can compute it itself. */
  def maxValue(spark: SparkSession, table: String, column: String): Option[Any] = {
    val r = readBack(spark, table)
      .agg(org.apache.spark.sql.functions.max(column)).head()
    if (r.isNullAt(0)) None else Some(r.get(0))
  }
  /** Target row count, or None if the table is missing. Overridden with
    * a pushed-down COUNT where the sink can compute it itself —
    * Spark's V1 JDBC source would otherwise fetch every row to count
    * (the reference pushes `select count(*)`, cmd/compare.go:112). */
  def rowCount(spark: SparkSession, table: String): Option[Long] =
    try Some(readBack(spark, table).count())
    catch { case _: Exception => None }
  /** Replace one half-open range [lo, hi) of `key` in the target with
    * `df` (already filtered to that range; `lo`/`hi` None = unbounded,
    * and the unbounded-below range owns NULL keys) — the repair
    * primitive of [[DeltaSync]]. JDBC sinks DELETE the range
    * server-side where the dialect can compute the key, then
    * batch-append; file sinks rewrite. */
  def replaceRange(
      spark: SparkSession,
      df: DataFrame,
      table: String,
      key: SliceKey,
      lo: Option[Long],
      hi: Option[Long]): Unit
}

/** The key a delta repair slices on and ranges over: the numeric lead
  * PK itself, or the [[HashKey]] of the whole PK tuple (string and
  * composite PKs, where no numeric order exists to range over). */
sealed trait SliceKey {
  /** The PK columns that identify a range's rows. */
  def pkCols: Seq[String]
  def column: Column
  /** The key as server-side SQL on `url`'s dialect; None when that
    * dialect cannot compute it. */
  def sql(url: String): Option[String]
}

object SliceKey {
  final case class Lead(pk: String) extends SliceKey {
    def pkCols: Seq[String] = Seq(pk)
    def column: Column = col(pk)
    def sql(url: String): Option[String] = Some(pk)
  }

  /** Only MySQL-wire dialects have the server-side md5 rendition. */
  final case class Hashed(pkCols: Seq[String]) extends SliceKey {
    def column: Column = HashKey.column(pkCols.map(col))
    def sql(url: String): Option[String] =
      if (Jobs.isMySqlWire(url)) Some(s"(${HashKey.mysqlSql(pkCols)})") else None
  }
}

/** Deterministic 60-bit slice key over ARBITRARY primary keys: the
  * first 15 hex chars of `md5(concat_ws('|', pk...))` as a bigint in
  * [0, 2^60) — the qt07/qt10 hash-bucket trick applied to sync
  * slicing. md5 is uniform, so FIXED equal-width cuts balance slices
  * with no data scan (no quantile pass, no histogram — the plan is
  * free), and the key is engine-portable: MySQL computes the identical
  * value server-side ([[HashKey.mysqlSql]]), so range DELETEs stay on
  * the server. Composite keys join on '|' after string casts —
  * int/string PKs (the real-world population) render identically on
  * both engines; a float PK would not, and has no business being a PK.
  */
object HashKey {
  val Bits = 60
  val Space: Long = 1L << Bits

  def column(pks: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    conv(substring(md5(concat_ws("|", pks.map(_.cast("string")): _*)), 1, 15), 16, 10)
      .cast("bigint")
  }

  /** k-1 equal-width cuts over the 60-bit space → k slices. */
  def cuts(numSlices: Int): Seq[Long] = {
    require(numSlices > 0, s"bad numSlices=$numSlices")
    (1 until numSlices).map(i => i * (Space / numSlices))
  }

  /** The server-side MySQL rendition (the reference's target dialect —
    * same md5, same 15-hex-char prefix, same base-16→10 conversion).
    * CONV returns a STRING, and a bare string in a numeric comparison
    * coerces to DOUBLE (53-bit mantissa) — rows whose 60-bit key lies
    * within ~2^7 of a slice cut would then classify differently than
    * Spark's exact bigint filter (lost rows or duplicate-key repair
    * failures). The CAST keeps the comparison in exact integers. */
  def mysqlSql(pkCols: Seq[String]): String =
    s"CAST(CONV(SUBSTRING(MD5(CONCAT_WS('|', ${pkCols.mkString(", ")})), 1, 15), 16, 10) AS UNSIGNED)"
}

private[sync] object RangeBounds {
  /** SQL predicate for the half-open range (NULLs live in the
    * unbounded-below slice, mirroring KeyRangeSlicer's first slice). */
  def predicate(pkCol: String, lo: Option[Long], hi: Option[Long]): String =
    (lo, hi) match {
      case (Some(a), Some(b)) => s"$pkCol >= $a AND $pkCol < $b"
      case (Some(a), None)    => s"$pkCol >= $a"
      case (None, Some(b))    => s"$pkCol < $b OR $pkCol IS NULL"
      case (None, None)       => "1=1"
    }

  def column(pk: org.apache.spark.sql.Column, lo: Option[Long], hi: Option[Long])
      : org.apache.spark.sql.Column = {
    (lo, hi) match {
      case (Some(a), Some(b)) => pk >= lit(a) && pk < lit(b)
      case (Some(a), None)    => pk >= lit(a)
      case (None, Some(b))    => pk < lit(b) || pk.isNull
      case (None, None)       => lit(true)
    }
  }
}

/** The delta-repair statements as PURE renderers, split out of the
  * JDBC choreography so every dialect branch is decidable by unit test
  * (`DeltaSyncSpec`): the live Derby specs exercise the server-side
  * numeric DELETE and the generic scratch-table branch end-to-end; no
  * second embedded JDBC engine ships with the build, so the MySQL
  * hash-key DELETE and the generic statements' SQL-standard shape
  * (CREATE TABLE AS .. WITH NO DATA + EXISTS-join DELETE — valid on
  * H2/PostgreSQL/Derby) are pinned there as strings. */
private[sync] object DeltaRepairSql {

  /** ONE server-side DELETE of the range — the repair range never
    * leaves the server. None when the dialect cannot compute the key:
    * the caller takes the scratch-table branch below. */
  def rangeDelete(
      url: String, table: String, key: SliceKey,
      lo: Option[Long], hi: Option[Long]): Option[String] =
    key.sql(url).map(k => s"DELETE FROM $table WHERE ${RangeBounds.predicate(k, lo, hi)}")

  /** Generic branch step 1: clone the PK columns' exact target types
    * (a Spark-CREATED scratch would map strings to CLOB, which the
    * server can't compare against the target's VARCHAR keys). */
  def scratchClone(table: String, scratch: String, pkCols: Seq[String]): String =
    s"CREATE TABLE $scratch AS SELECT ${pkCols.mkString(", ")} " +
      s"FROM $table WITH NO DATA"

  /** Generic branch step 2 (after the executor-side key load): one
    * server-side keyed DELETE joining the scratch against the target. */
  def scratchKeyedDelete(table: String, scratch: String, pkCols: Seq[String]): String = {
    val joinOn = pkCols.map(c => s"d.$c = $table.$c").mkString(" AND ")
    s"DELETE FROM $table WHERE EXISTS (SELECT 1 FROM $scratch d WHERE $joinOn)"
  }
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
  private def path(table: String) = s"$dir/$table.$format"
  // csv keeps headers both ways (the FileCatalog convention, so a sink
  // dir reads back as a source dir); json is JSON-lines — the standard
  // LLM-corpus delivery format
  private def writeOpts: Map[String, String] = format match {
    case "csv" => Map("header" -> "true")
    case _     => Map.empty
  }
  private def readOpts: Map[String, String] = format match {
    case "csv" => Map("header" -> "true", "inferSchema" -> "true")
    case _     => Map.empty
  }
  override def overwrite(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Overwrite).options(writeOpts)
      .format(format).save(path(table))
  override def append(df: DataFrame, table: String): Unit =
    df.write.mode(SaveMode.Append).options(writeOpts)
      .format(format).save(path(table))
  override def readBack(spark: SparkSession, table: String): DataFrame =
    spark.read.options(readOpts).format(format).load(path(table))
  override def exists(spark: SparkSession, table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }
  /** Plain parquet has no row-level delete: keep-rows ∪ replacement is
    * materialized through a [[graft.operators.Barrier]] (the path being
    * overwritten cannot stay in the read lineage), then overwritten.
    * A table format with row-level ops (Iceberg/Delta) would replace
    * just the affected files; this sink is the fixture/test path. */
  override def replaceRange(
      spark: SparkSession,
      df: DataFrame,
      table: String,
      key: SliceKey,
      lo: Option[Long],
      hi: Option[Long]): Unit = {
    val keep = readBack(spark, table)
      .filter(!RangeBounds.column(key.column, lo, hi))
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
    val conf = spark.sessionState.newHadoopConf()
    val live = new org.apache.hadoop.fs.Path(path(table))
    val fs = live.getFileSystem(conf)
    graft.operators.StagedSwap.restoreIfInterrupted(fs, live)
    require(fs.exists(live), s"no such table: ${path(table)}")
    def dataFiles(p: org.apache.hadoop.fs.Path): (Long, Long) = {
      val it = fs.listFiles(p, true)
      var n = 0L
      var b = 0L
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_")) { n += 1; b += f.getLen }
      }
      (n, b)
    }
    val (before, bytes) = dataFiles(live)
    val parts = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val tmp = graft.operators.StagedSwap.tmpPath(live)
    // the rewrite lands in the staging dir while the live dir is still
    // in place, so the read lineage stays valid without a Barrier
    readBack(spark, table)
      .repartition(parts)
      .write.mode(SaveMode.Overwrite).options(writeOpts)
      .format(format).save(tmp.toString)
    graft.operators.StagedSwap.swapIn(fs, live, tmp)
    (before, dataFiles(live)._1)
  }
}

/** JDBC sink: truncate-overwrite with batched writes. `numPartitions`
  * caps concurrent connections (reference pool ceiling, cmd/app.go:74-76);
  * `batchsize` is its batchRowSize. `truncate=true` keeps the target
  * table's DDL (the reference never re-creates on data load either).
  */
/** The fixture/test parquet sink — [[FileSink]] with its default
  * format, kept as a named constructor for the many call sites. */
object ParquetSink {
  def apply(dir: String): FileSink = FileSink(dir)
}

final case class JdbcSink(
    endpoint: Endpoint,
    batchRowSize: Int = 1000,
    numPartitions: Int = 30)
    extends Sink {
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
    Normalize.lowercaseColumns(spark.read.jdbc(endpoint.url, table, props))
  /** Catalog-level existence via JDBC metadata (never error-driven). */
  override def exists(spark: SparkSession, table: String): Boolean =
    new JdbcCatalog(endpoint).tableExists(table)
  /** Pushed-down watermark: the target database computes MAX itself.
    * Errors propagate — a failed probe must not look like an empty
    * table (see [[Sink.exists]]). */
  override def maxValue(spark: SparkSession, table: String, column: String): Option[Any] = {
    val q = s"(SELECT MAX($column) AS mx FROM $table) wm"
    val r = spark.read.jdbc(endpoint.url, q, props).head()
    if (r.isNullAt(0)) None else Some(r.get(0))
  }
  /** Pushed-down count: one aggregate row crosses the wire. */
  override def rowCount(spark: SparkSession, table: String): Option[Long] =
    try {
      val q = s"(SELECT COUNT(*) AS c FROM $table) ct"
      spark.read.jdbc(endpoint.url, q, props).head().get(0) match {
        case n: Number => Some(n.longValue())
        case _         => None
      }
    } catch { case _: Exception => None }
  /** Range repair. Where the dialect computes the key (a numeric PK
    * anywhere; the md5 [[HashKey]] on MySQL-wire) the DELETE is one
    * server-side statement per merged range, riding the PK index for a
    * numeric key. Otherwise (Derby in tests) the target is read back and
    * filtered to the dirty range in Spark; the doomed KEYS then land in
    * a scratch table through the executor-side JDBC writer (never
    * visiting the driver) and ONE server-side keyed DELETE joins them
    * against the target before the scratch drops. That read-back is a
    * full target scan per merged range — the price of a dialect with no
    * server-side md5. The replacement rows are then batch-appended. */
  override def replaceRange(
      spark: SparkSession,
      df: DataFrame,
      table: String,
      key: SliceKey,
      lo: Option[Long],
      hi: Option[Long]): Unit = {
    endpoint.withConnection { conn =>
      val st = conn.createStatement()
      try DeltaRepairSql.rangeDelete(endpoint.url, table, key, lo, hi) match {
        case Some(delete) => st.executeUpdate(delete)
        case None =>
          val pkCols = key.pkCols
          val doomed = readBack(spark, table)
            .filter(RangeBounds.column(key.column, lo, hi))
            .select(pkCols.map(col): _*)
          val scratch = s"${table}_doomed"
          try st.executeUpdate(s"DROP TABLE $scratch")
          catch { case _: java.sql.SQLException => () } // leftover from a failed run
          st.executeUpdate(DeltaRepairSql.scratchClone(table, scratch, pkCols))
          doomed.write.mode("append").jdbc(endpoint.url, scratch, endpoint.properties)
          st.executeUpdate(DeltaRepairSql.scratchKeyedDelete(table, scratch, pkCols))
          st.executeUpdate(s"DROP TABLE $scratch")
      } finally st.close()
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
    * row count after `load` on success; on any failure rows=-1 and the
    * error, isolated to this table's report. */
  private def report(spark: SparkSession, sink: Sink, table: String, group: String)(
      load: => Unit): TableReport = {
    val t0 = System.nanoTime()
    def ms = (System.nanoTime() - t0) / 1000000
    try Jobs.tagged(spark, group) {
      load
      TableReport(table, sink.rowCount(spark, table).getOrElse(-1L), ms, ok = true)
    } catch {
      case e: Exception => TableReport(table, -1, ms, ok = false, Some(e.getMessage))
    }
  }

  def syncTable(
      spark: SparkSession,
      catalog: Catalog,
      sink: Sink,
      table: String,
      pageSize: Long = 100000L,
      maxSlices: Int = 60): TableReport =
    report(spark, sink, table, s"graft-sync-$table") {
      sink.overwrite(Normalize.lowercaseColumns(
        catalog.readPartitioned(spark, table, pageSize, maxSlices)), table)
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
      pageSize: Long = 100000L,
      maxSlices: Int = 60): TableReport =
    report(spark, sink, table, s"graft-incr-$table") {
      val src = Normalize.lowercaseColumns(
        catalog.readPartitioned(spark, table, pageSize, maxSlices))
      // full-load only on VERIFIED absence/emptiness; a transient probe
      // error propagates to the report (ok=false) instead of silently
      // re-appending every existing row
      val delta =
        if (!sink.exists(spark, table)) src // verified missing: full load
        else sink.maxValue(spark, table, watermarkCol) match {
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
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink.append(Normalize.lowercaseColumns(batch), table)
      }
      .trigger(trigger)
      .start()

  /** Custom-SQL mode (reference `-s`, cmd/root.go:95-96 + example.yml
    * `tables:`): each configured table is loaded from its list of
    * arbitrary SELECTs, each pushed verbatim to the source database via
    * the JDBC `query` option (so the source engine executes it — same
    * pushdown-by-construction semantics as the reference), unioned, and
    * truncate-loaded into the sink. */
  def syncCustom(
      spark: SparkSession,
      src: graft.config.Endpoint,
      sink: Sink,
      config: SyncConfig): Seq[TableReport] =
    config.tables.toSeq.map { case (table, sqls) =>
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
  * equality with existence flag; strengthened by an optional content
  * compare (symmetric exceptAll) the reference cannot do.
  */
object Compare {
  final case class CompareRow(
      table_name: String,
      src_rows: Long,
      dest_rows: Long,
      dest_is_exist: String,
      is_ok: String)

  private def compareRow(
      table: String, srcCnt: Long, destCnt: Option[Long], ok: Boolean): CompareRow =
    CompareRow(table, srcCnt, destCnt.getOrElse(-1L),
      if (destCnt.isDefined) "YES" else "NO", if (ok) "YES" else "NO")

  def countCompare(
      spark: SparkSession,
      src: Catalog,
      sink: Sink,
      tables: Seq[String]): Seq[CompareRow] =
    tables.map { t =>
      // both counts are pushed-down aggregates (reference R6: the
      // `select count(*)` runs on each database, cmd/compare.go:112)
      val srcCnt = src.rowCount(spark, t)
      val dest = sink.rowCount(spark, t)
      compareRow(t, srcCnt, dest, dest.contains(srcCnt))
    }

  /** One replication-freshness finding. */
  final case class FreshnessRow(
      table: String, column: String,
      srcMax: String, destMax: String, inSync: Boolean)

  /** Replication freshness per watermarked table: the source's and
    * destination's MAX(watermark) side by side — the "how stale is my
    * replica" answer without a row compare. The destination probe is
    * the same pushed-down aggregate the incremental sync uses; the
    * source probe prunes to the one column (file sources) or fetches
    * it (JDBC v1 — still one column, no rows materialize in the
    * driver). Values compare by canonical string render, since the
    * two sides may surface different but equal-valued types. */
  def freshness(
      spark: SparkSession,
      src: Catalog,
      sink: Sink,
      watermarks: Map[String, String]): Seq[FreshnessRow] =
    watermarks.toSeq.sortBy(_._1).map { case (t, c) =>
      val sMax = src.read(spark, t)
        .agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.col(c))).head().get(0)
      val dMax =
        if (sink.exists(spark, t)) sink.maxValue(spark, t, c) else None
      // BOTH empty cases render "-": an empty source replicated into
      // an empty destination is in sync, not lagging
      val sR = Option(sMax).map(String.valueOf).getOrElse("-")
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
      if (!sink.exists(spark, t))
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

  /** Order-independent per-column content checksum: sum of a 60-bit
    * md5 prefix of each column's string form, accumulated as
    * DECIMAL(38,0) so the sum never overflows at any row count, then
    * rendered as a STRING — a 38-digit integer is exact as text in any
    * engine, whereas DECIMAL/DOUBLE renderings differ. One aggregation
    * pass, bytes per column cross the wire — the cheap way to compare a
    * 100 TB table's content across systems when two exceptAll scans are
    * too expensive, and reproducible by any engine with md5 (the DuckDB
    * oracle runs the same formula — query q38).
    *
    * Float/double columns are rendered via a FIXED-SCALE decimal cast
    * before hashing: raw floating-point stringification is
    * engine-shaped (shortest-roundtrip vs fixed digits, float-widened
    * -vs-double storage on the JDBC side), so equal values would
    * otherwise hash differently across systems. DECIMAL(28,10) pins
    * one canonical digit string per value on every engine. */
  /** The per-column checksum aggregate expressions behind
    * [[contentChecksum]] — shared with the grouped per-key-range form
    * in [[DeltaSync]]. */
  private[sync] def checksumExprs(
      df: DataFrame, cols: Seq[String]): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val types = df.schema.map(f => f.name -> f.dataType).toMap
    cols.map { c =>
      val canonical = types.get(c) match {
        case Some(FloatType) | Some(DoubleType) =>
          col(c).cast("decimal(28,10)").cast("string")
        case _ => col(c).cast("string")
      }
      sum(conv(substring(md5(canonical), 1, 15), 16, 10)
        .cast("decimal(38,0)")).cast("decimal(38,0)")
        .cast("string").as(s"ck_$c")
    }
  }

  def contentChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    val sums = checksumExprs(df, cols)
    df.agg(sums.head, sums.tail: _*)
  }

  /** Per-table CONTENT compare — the mode the reference cannot do: one
    * order-independent checksum pass per side (see [[contentChecksum]])
    * plus the count check. One aggregation scan each side regardless of
    * table width; at 100 TB this is the affordable cross-system
    * verification (two exceptAll scans would shuffle the whole table
    * twice). A dest read/checksum failure reports NO/NO like the
    * reference's error conflation — but only after a real existence
    * probe. */
  def contentCompare(
      spark: SparkSession,
      src: Catalog,
      sink: Sink,
      tables: Seq[String]): Seq[CompareRow] =
    tables.map { t =>
      val s = Normalize.lowercaseColumns(src.read(spark, t))
      val cols = s.columns.sorted.toIndexedSeq
      val srcCnt = src.rowCount(spark, t)
      val destCnt = sink.rowCount(spark, t)
      val ok =
        destCnt.contains(srcCnt) && {
          try {
            val d = Normalize.lowercaseColumns(sink.readBack(spark, t))
            contentChecksum(s, cols).head() == contentChecksum(d, cols).head()
          } catch { case _: Exception => false }
        }
      compareRow(t, srcCnt, destCnt, ok)
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
