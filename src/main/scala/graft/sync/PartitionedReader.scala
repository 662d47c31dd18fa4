package graft.sync

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.Endpoint
import graft.partition.KeyRangeSlicer

/** Partitioned JDBC extract — the Spark-native replacement for the
  * reference's keyset pagination (SURVEY S7). Instead of one
  * `ORDER BY pk LIMIT off,n` deferred-join query per page, the table is
  * read as one `spark.read.jdbc(url, table, predicates, props)` call
  * whose predicates are half-open PK ranges: one Spark task per slice,
  * each an O(1) index range scan on the source database, together an
  * exact partition of the keyspace.
  *
  * All planning statistics are computed BY the source database and only
  * aggregates cross the wire — no Spark-side scan happens before the
  * parallel extract:
  *   1. one `COUNT(*), MIN(pk), MAX(pk)` round trip (index-only on the
  *      PK) sizes the slice count;
  *   2. one pushed-down equal-width bucket histogram
  *      (`FLOOR((pk-min)*B/span) GROUP BY`) turns the key distribution
  *      into equal-COUNT cut points, so skewed keys still yield balanced
  *      slices. SQL uses only FLOOR/arithmetic/GROUP BY — portable
  *      across MySQL-wire targets and Derby (the test sink).
  *
  * `JdbcCatalog` picks the slice count: for the sync read,
  * ceil(rows / pageSize) capped at [[MaxSlices]], which doubles as the
  * connection ceiling per table. Delta repair plans only a numeric lead
  * PK ([[Slices.forRead]]; other keys cost no probe): a fixed count of
  * diff slices, read at the sync's count, each read task a run of
  * adjacent diff slices ([[Slices.coarsen]]).
  */
object PartitionedReader {

  /** Most slices one table's read fans out to: the reference's
    * maxOpen=60 pool (cmd/app.go:53). */
  val MaxSlices = 60

  /** The slice planner: one `COUNT(*), MIN, MAX` round trip, then
    * adaptive histogram cuts for `slices(rowCount)` slices, all on one
    * planning connection. None when there is no lead key (no PK: one
    * full scan, reference S6), the key is non-numeric, the table is
    * empty or spans a single key, or one slice suffices. */
  private[graft] def plan(endpoint: Endpoint, table: String, lead: Option[String])(
      slices: Long => Int): Option[Slices] =
    lead.flatMap { lead =>
      endpoint.withConnection { conn =>
        queryRows(conn, s"SELECT COUNT(*), MIN($lead), MAX($lead) FROM $table")
          .headOption match {
          case Some(Seq(cnt: Number, mn: Number, mx: Number)) =>
            val n = slices(cnt.longValue())
            val (lo, hi) = (mn.longValue(), mx.longValue())
            if (n <= 1 || hi <= lo) None
            else Some(KeyRangeSlicer.adaptiveCuts(
              histFetcher(conn, lead, table), lo, hi, n, math.max(64, n * 8)))
              .filter(_.nonEmpty).map(new Slices(SliceKey.Lead(lead), _))
          case _ => None // empty table or non-numeric PK
        }
      }
    }

  /** One JDBC read: a task per slice, else one full scan. */
  private[graft] def scan(
      spark: SparkSession,
      endpoint: Endpoint,
      table: String,
      slices: Option[Slices]): DataFrame =
    Normalize.lowercaseColumns(slices match {
      case Some(s) => spark.read.jdbc(
        endpoint.url, table, s.predicates(endpoint.url), endpoint.properties)
      case None => spark.read.jdbc(endpoint.url, table, endpoint.properties)
    })

  /** Pushed-down histogram of [lo, hi]; the adaptive planner calls
    * this again on any bucket too hot to split in one pass. */
  private def histFetcher(conn: java.sql.Connection, lead: String, table: String)
      : (Long, Long, Int) => Seq[(Int, Long)] = { (lo, hi, buckets) =>
    val span = BigInt(hi) - BigInt(lo) + 1
    // 1E0 forces DOUBLE arithmetic on every dialect (Derby incl.)
    val histSql =
      s"""SELECT b, COUNT(*) FROM (
         |  SELECT FLOOR(($lead - $lo) * 1E0 * $buckets / $span) AS b
         |  FROM $table
         |  WHERE $lead IS NOT NULL AND $lead >= $lo AND $lead <= $hi) x
         |GROUP BY b""".stripMargin
    queryRows(conn, histSql).collect {
      case Seq(b: Number, c: Number) => (b.intValue(), c.longValue())
    }
  }

  /** A pushed-down aggregate query, tagged with [[Jobs.tagSql]], on an
    * open connection: the database computes, one small result set comes
    * back, and no Spark job runs. The slice planner's and the catalog's
    * COUNT and MAX probes. */
  private[graft] def queryRows(conn: java.sql.Connection, sql: String): Seq[Seq[Any]] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery(Jobs.tagSql(sql))
      val width = rs.getMetaData.getColumnCount
      val buf = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
      while (rs.next()) buf += (1 to width).map(rs.getObject)
      rs.close()
      buf.toSeq
    } finally st.close()
  }
}
