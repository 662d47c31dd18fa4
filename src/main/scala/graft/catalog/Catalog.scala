package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.Endpoint
import graft.partition.KeyRangeSlicer
import graft.sync.{PartitionedReader, Slices}

/** Source-side discovery: which tables exist, what their primary keys
  * are, and how to read them. Mirrors the reference's metadata queries —
  * table list from information_schema.tables with an exclusion list
  * (cmd/root.go:222-237) and composite-capable PK lookup from
  * key_column_usage ordered by ordinal position (cmd/root.go:327-340) —
  * behind one trait so the sync pipeline is source-agnostic.
  */
trait Catalog {

  /** Discovered base tables minus the exclusion list (reference builds
    * `table_name not in (...)` by string concat; we filter properly). */
  def listTables(exclude: Seq[String] = Seq.empty): Seq[String] = {
    val ex = exclude.map(_.toLowerCase).toSet
    allTables.filterNot(t => ex.contains(t.toLowerCase))
  }

  protected def allTables: Seq[String]

  /** Primary-key columns in ordinal order; empty => no PK (full-scan
    * fallback, cmd/root.go:342-344). */
  def primaryKey(table: String): Seq[String]

  def read(spark: SparkSession, table: String): DataFrame

  /** Source row count. Parquet counts from footer metadata (cheap);
    * JDBC runs `SELECT COUNT(*)` on the database, so one aggregate row
    * crosses the wire instead of the whole table. */
  def rowCount(spark: SparkSession, table: String): Long =
    read(spark, table).count()

  /** Partition-aware read: `pageSize` rows per slice, at most
    * `maxSlices` concurrent slices (= source connections for JDBC).
    * File sources are already split by the data source, so the default
    * is the plain read; JDBC overrides with the keyset-replacement
    * range-partitioned extract. */
  def readPartitioned(
      spark: SparkSession,
      table: String,
      pageSize: Long,
      maxSlices: Int): DataFrame = read(spark, table)

  /** `numSlices` slices of `table`'s numeric `lead` PK column, with a
    * read of the table whose partitions are runs of those slices, as
    * many as [[readPartitioned]] with `pageSize` would cut: delta repair
    * diffs finely and reads at the sync's parallelism. None when the
    * source cannot push the planning (the default: the caller plans
    * from the data) or the table does not slice. */
  def readSliced(
      spark: SparkSession,
      table: String,
      lead: String,
      numSlices: Int,
      pageSize: Long): Option[(DataFrame, Slices)] = None
}

/** File-directory catalog: each `t.<ext>` under `dir` is a table, in
  * any Spark file format (`parquet` default; `csv` and `json` read
  * with header/schema inference — at scale supply explicit schemas via
  * `readerOptions` instead of paying an inference scan). PKs come from
  * a naming convention the fixtures follow (<prefix>_<table>key), with
  * the known composite case for lineitem; no metadata store exists in
  * a bare file dir.
  */
class FileCatalog(
    dir: String,
    format: String = "parquet",
    readerOptions: Map[String, String] = Map.empty) extends Catalog {

  private def ext = s".$format"

  /** Listed through the session's Hadoop FileSystem, as the sinks
    * write, so `file:`, `hdfs://` and `s3a://` directories list too. */
  override protected def allTables: Seq[String] = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val conf = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold(new org.apache.hadoop.conf.Configuration())(_.sessionState.newHadoopConf())
    val fs = d.getFileSystem(conf)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(ext))
      .map(_.stripSuffix(ext))
      .sorted
  }

  override def read(spark: SparkSession, table: String): DataFrame = {
    val defaults = format match {
      case "csv"  => Map("header" -> "true", "inferSchema" -> "true")
      case "json" => Map.empty[String, String]
      case _      => Map.empty[String, String]
    }
    spark.read.format(format)
      .options(defaults ++ readerOptions)
      .load(s"$dir/$table$ext")
  }

  override def primaryKey(table: String): Seq[String] = table match {
    case "lineitem"   => Seq("l_orderkey", "l_linenumber")
    case "region"     => Seq("r_regionkey")
    case "nation"     => Seq("n_nationkey")
    case "customer"   => Seq("c_custkey")
    case "supplier"   => Seq("s_suppkey")
    case "part"       => Seq("p_partkey")
    case "orders"     => Seq("o_orderkey")
    case "events"     => Seq("event_id")
    case "documents"  => Seq("doc_id")
    case "embeddings" => Seq("vec_id")
    case _            => Seq.empty
  }
}

/** The fixture-corpus catalog (parquet files). */
final class ParquetCatalog(dir: String) extends FileCatalog(dir, "parquet")

/** JDBC catalog over standard DatabaseMetaData — works for MySQL-wire
  * targets and any other JDBC database (tested against embedded Derby).
  * Equivalent to the reference's information_schema queries but
  * portable: getTables(type=TABLE) ≈ its BASE TABLE filter,
  * getPrimaryKeys ≈ its key_column_usage scan (KEY_SEQ = ordinal).
  */
final class JdbcCatalog(val endpoint: Endpoint, schema: Option[String] = None)
    extends Catalog {

  /** Lower-cased names of every object of one `getTables` type. */
  private def objects(kind: String): Seq[String] = endpoint.withConnection { conn =>
    val rs = conn.getMetaData
      .getTables(null, schema.orNull, "%", Array(kind))
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    while (rs.next()) buf += rs.getString("TABLE_NAME").toLowerCase
    rs.close()
    buf.sorted.toSeq
  }

  override protected def allTables: Seq[String] = objects("TABLE")

  override def primaryKey(table: String): Seq[String] = endpoint.withConnection { conn =>
    // Derby/H2 store identifiers upper-case, MySQL as-created: probe both.
    val meta = conn.getMetaData
    val names = Seq(table, table.toUpperCase, table.toLowerCase).distinct
    names.iterator
      .map { t =>
        val rs = meta.getPrimaryKeys(null, schema.orNull, t)
        val buf = scala.collection.mutable.ArrayBuffer[(Short, String)]()
        while (rs.next())
          buf += rs.getShort("KEY_SEQ") -> rs.getString("COLUMN_NAME").toLowerCase
        rs.close()
        buf.sortBy(_._1).map(_._2).toSeq
      }
      .find(_.nonEmpty)
      .getOrElse(Seq.empty)
  }

  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read.jdbc(endpoint.url, table, endpoint.properties)

  /** One tagged raw-JDBC `SELECT COUNT(*)`: no Spark job, and the
    * shutdown `KILL QUERY` finds it by its tag. */
  override def rowCount(spark: SparkSession, table: String): Long =
    endpoint.withConnection(
      PartitionedReader.queryRows(_, s"SELECT COUNT(*) FROM $table")) match {
      case Seq(Seq(n: Number)) => n.longValue()
      case other => throw new IllegalStateException(s"unexpected count: $other")
    }

  /** JDBC reads route through the PK-range partitioned extract, so a
    * plain `sync` gets task-per-slice parallelism (the reference's
    * page-per-goroutine, cmd/root.go:137-141) without callers opting in. */
  override def readPartitioned(
      spark: SparkSession,
      table: String,
      pageSize: Long,
      maxSlices: Int): DataFrame =
    PartitionedReader.scan(spark, endpoint, table,
      PartitionedReader.plan(endpoint, table, primaryKey(table).headOption)(
        KeyRangeSlicer.numSlices(_, pageSize, maxSlices)))

  /** The pushed slice plan (cuts from source-side histograms) for a
    * FIXED `numSlices`, skipped for tables under 2·numSlices rows: too
    * few rows per slice to gain anything. The read's predicates are the
    * plan coarsened to the sync read's slice count for the COUNT the
    * plan fetched. */
  override def readSliced(
      spark: SparkSession,
      table: String,
      lead: String,
      numSlices: Int,
      pageSize: Long): Option[(DataFrame, Slices)] = {
    var reads = 1
    PartitionedReader.plan(endpoint, table, Some(lead)) { rows =>
      reads = KeyRangeSlicer.numSlices(rows, pageSize, PartitionedReader.MaxSlices)
      if (rows < 2L * numSlices) 1 else numSlices
    }.map(s => PartitionedReader.scan(spark, endpoint, table, Some(s.coarsen(reads))) -> s)
  }

  /** Discovered views minus the exclusion list — the reference's S13
    * object-migration surface (readme.md:10,81 advertises view
    * migration; cmd/root.go:166-180 left it commented out). Same
    * DatabaseMetaData route as [[allTables]] with type=VIEW. */
  def listViews(exclude: Seq[String] = Seq.empty): Seq[String] = {
    val ex = exclude.map(_.toLowerCase).toSet
    objects("VIEW").filterNot(ex.contains)
  }

  /** The view's CREATE statement, normalized to a replayable
    * `CREATE VIEW <name> AS <select>` — the `show create view` step of
    * the reference's S13 surface. Three probes, most-specific first:
    * MySQL-wire `SHOW CREATE VIEW` (verbatim DDL, the reference's own
    * source of truth), Derby's SYS.SYSVIEWS (stores the full CREATE
    * text), and standard INFORMATION_SCHEMA.VIEWS (H2/PostgreSQL —
    * usually just the SELECT body, wrapped here). None => the dialect
    * hides view text; the caller reports it skipped. */
  def viewDefinition(view: String): Option[String] = endpoint.withConnection { conn =>
    def rows(sql: String, col: Int): Option[String] = {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(sql)
        try { if (rs.next()) Option(rs.getString(col)) else None }
        finally rs.close()
      } catch { case _: java.sql.SQLException => None }
      finally st.close()
    }
    def wrap(defn: String): String = {
      val d = defn.trim.stripSuffix(";").trim
      if (d.toLowerCase.startsWith("create")) d
      else s"CREATE VIEW $view AS $d"
    }
    val probes = Seq(
      // MySQL-wire: column 2 of SHOW CREATE VIEW is the DDL
      () => if (graft.sync.Jobs.isMySqlWire(endpoint.url))
        rows(s"SHOW CREATE VIEW `$view`", 2) else None,
      // Derby system catalog
      () => rows(
        s"""SELECT v.VIEWDEFINITION FROM SYS.SYSVIEWS v
           |JOIN SYS.SYSTABLES t ON v.TABLEID = t.TABLEID
           |WHERE LOWER(t.TABLENAME) = '${view.toLowerCase}'""".stripMargin, 1),
      // ANSI information schema
      () => rows(
        s"""SELECT VIEW_DEFINITION FROM INFORMATION_SCHEMA.VIEWS
           |WHERE LOWER(TABLE_NAME) = '${view.toLowerCase}'""".stripMargin, 1))
    probes.iterator.flatMap(_.apply()).buffered.headOption.map(wrap)
  }

  /** Run DDL/SQL directly on the endpoint (truncate, CREATE TABLE
    * replay — the reference's S11/S12 driver-side statements). */
  def execute(sql: String): Unit = endpoint.withConnection { conn =>
    val st = conn.createStatement()
    try st.execute(sql)
    finally st.close()
  }

  /** All statements on one connection inside one transaction: commit
    * on success, rollback + rethrow on any failure — the reference's
    * per-table Begin/Commit/Rollback (cmd/tablemeta.go:56,93-95). */
  def executeTxn(statements: Seq[String]): Unit = endpoint.withConnection { conn =>
    conn.setAutoCommit(false)
    try {
      val st = conn.createStatement()
      try statements.foreach(st.execute)
      finally st.close()
      conn.commit()
    } catch {
      case e: Throwable =>
        try conn.rollback()
        catch { case _: java.sql.SQLException => () }
        throw e
    }
  }

  /** Catalog-level existence via JDBC metadata — never error-driven
    * (see `Sink.exists`). */
  def tableExists(table: String): Boolean = endpoint.withConnection { conn =>
    val md = conn.getMetaData
    // getTables takes a PATTERN: escape '_'/'%' or `inc_t` would
    // match `incat` in any schema and a missing table could report
    // present (skipping the verified-missing full-load path)
    val esc = Option(md.getSearchStringEscape).getOrElse("\\")
    def escaped(n: String): String =
      n.replace(esc, esc + esc).replace("_", esc + "_").replace("%", esc + "%")
    def has(n: String): Boolean = {
      val rs = md.getTables(null, schema.orNull, escaped(n), null)
      try rs.next() finally rs.close()
    }
    has(table) || has(table.toUpperCase) || has(table.toLowerCase)
  }
}
