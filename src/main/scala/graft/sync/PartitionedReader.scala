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
  * This is the one code that knows how a JDBC table is planned and
  * read: the sync read and delta repair's read are each one call to
  * [[read]]. The key is [[Slices.forRead]]'s, decided from the plain
  * read's schema: only a numeric lead PK is probed and cut; any other
  * PK, or none, is one scan and runs no probe. All planning statistics
  * are computed BY the source database and only aggregates cross the
  * wire — no Spark-side scan happens before the parallel extract:
  *   1. one `COUNT(*), MIN(pk), MAX(pk)` round trip (index-only on the
  *      PK) sizes the slice count;
  *   2. one pushed-down equal-width bucket histogram
  *      (`FLOOR((pk-min)*B/span) GROUP BY`) turns the key distribution
  *      into equal-COUNT cut points, so skewed keys still yield balanced
  *      slices. SQL uses only FLOOR/arithmetic/GROUP BY — portable
  *      across MySQL-wire targets and Derby (the test sink).
  *
  * The sync read runs ceil(rows / pageSize) tasks capped at
  * [[MaxSlices]], which doubles as the connection ceiling per table;
  * delta repair diffs a fixed count of slices, read at the sync's
  * count, each read task a run of adjacent diff slices
  * ([[Slices.coarsen]]).
  */
object PartitionedReader {

  /** Most slices one table's read fans out to: the reference's
    * maxOpen=60 pool (cmd/app.go:53). */
  val MaxSlices = 60

  /** The one JDBC table read, for the sync and delta repair alike. The
    * key is [[Slices.forRead]]'s: a numeric lead PK is probed and cut by
    * [[plan]], any other PK, or none, is one scan with no probe. A cut
    * table is read in ceil(rows / pageSize) tasks, at most `maxSlices`.
    * The sync read (`diffSlices` None) returns those slices; repair cuts
    * a fixed `diffSlices` count, read coarsened, and under 2·`diffSlices`
    * rows leaves the cuts to the key rule's quantile fallback. */
  private[graft] def read(
      spark: SparkSession,
      endpoint: Endpoint,
      table: String,
      pk: Seq[String],
      pageSize: Long,
      maxSlices: Int,
      diffSlices: Option[Int]): (DataFrame, Option[Slices]) =
    Slices.forRead(scan(spark, endpoint, table, None), pk, diffSlices.getOrElse(1)) { lead =>
      def reads(rows: Long) = KeyRangeSlicer.numSlices(rows, pageSize, maxSlices)
      val (rows, cut) = plan(endpoint, table, lead)(count =>
        diffSlices.fold(reads(count))(n => if (count < 2L * n) 1 else n))
      cut.map(s => scan(spark, endpoint, table, Some(s.coarsen(reads(rows)))) -> s)
    }

  /** The slice planner for a numeric `lead`: one `COUNT(*), MIN, MAX`
    * round trip, then adaptive histogram cuts for `slices(rows)` slices,
    * all on one planning connection. Returns the row count with the
    * cuts; None when the table is empty or spans a single key, or one
    * slice suffices. */
  private[graft] def plan(endpoint: Endpoint, table: String, lead: String)(
      slices: Long => Int): (Long, Option[Slices]) =
    endpoint.withConnection { conn =>
      queryRows(conn, s"SELECT COUNT(*), MIN($lead), MAX($lead) FROM $table").head match {
        case Seq(cnt: Number, mn: Number, mx: Number) =>
          val (rows, lo, hi) = (cnt.longValue(), mn.longValue(), mx.longValue())
          val n = slices(rows)
          // adaptiveCuts runs no histogram query for one slice or a one-key span
          val cuts = KeyRangeSlicer.adaptiveCuts(
            histFetcher(conn, lead, table), lo, hi, n, math.max(64, n * 8))
          rows -> Some(cuts).filter(_.nonEmpty).map(new Slices(SliceKey.Lead(lead), _))
        case _ => 0L -> None // empty: MIN and MAX are NULL
      }
    }

  /** One JDBC read: a task per slice, else one full scan. */
  private def scan(
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
