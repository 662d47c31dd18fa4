package graft.sync

import graft.SparkSpec
import graft.catalog.JdbcCatalog
import graft.config.Endpoint

/** One JDBC read plan for the sync and for delta repair: the key is
  * decided from the read's schema, so only a numeric lead PK is probed
  * with `COUNT(*), MIN, MAX`. Derby's statement cache lists the SQL the
  * source database ran, from every connection. */
class ReadPlanSpec extends SparkSpec {
  import spark.implicits._

  private val srcUrl = "jdbc:derby:memory:readplansrc;create=true"
  private val dstUrl = "jdbc:derby:memory:readplandst;create=true"
  private lazy val srcCat = new JdbcCatalog(Endpoint(srcUrl))
  private lazy val dstCat = new JdbcCatalog(Endpoint(dstUrl))
  private lazy val sink = JdbcSink(Endpoint(dstUrl))

  /** Creates `t` on both sides and fills the source with 200 rows. */
  private def seed(t: String, keyDdl: String, key: Int => String): Unit = {
    Seq(srcCat, dstCat).foreach(c => DdlReplay.replay(c, Seq(
      s"CREATE TABLE $t (id $keyDdl NOT NULL PRIMARY KEY, v INT)")))
    JdbcSink(Endpoint(srcUrl)).append((1 to 200).map(i => (key(i), i)).toDF("id", "v"), t)
  }

  /** The SQL texts the source ran during `body`, upper-cased. */
  private def sourceSql(body: => Unit): Seq[String] = {
    srcCat.execute("CALL SYSCS_UTIL.SYSCS_EMPTY_STATEMENT_CACHE()")
    body
    Endpoint(srcUrl).withConnection(
      PartitionedReader.queryRows(_, "SELECT SQL_TEXT FROM SYSCS_DIAG.STATEMENT_CACHE"))
      .map(_.head.toString.toUpperCase)
  }

  private def probes(sql: Seq[String]): Seq[String] = sql.filter(_.contains("MIN("))

  test("a VARCHAR-PK table is synced and repaired with no COUNT/MIN/MAX probe") {
    seed("plan_str", "VARCHAR(16)", i => s"k$i")
    val sql = sourceSql {
      assert(Sync.syncTable(spark, srcCat, sink, "plan_str", pageSize = 10).ok)
      assert(DeltaSync.syncDelta(spark, srcCat, sink, "plan_str", numSlices = 10).ok)
    }
    assert(sql.exists(_.contains("PLAN_STR")), sql)
    assert(probes(sql).isEmpty, probes(sql))
  }

  test("a numeric-PK table is still probed, and cut only when it reads in several slices") {
    seed("plan_num", "BIGINT", _.toString)
    val many = sourceSql(assert(Sync.syncTable(spark, srcCat, sink, "plan_num", pageSize = 10).ok))
    assert(probes(many).exists(_.contains("MIN(ID)")), many)
    assert(many.exists(_.contains("FLOOR(")), many)
    val one = sourceSql(assert(Sync.syncTable(spark, srcCat, sink, "plan_num", pageSize = 1000).ok))
    assert(probes(one).exists(_.contains("MIN(ID)")), one)
    assert(!one.exists(_.contains("FLOOR(")), one)
  }
}
