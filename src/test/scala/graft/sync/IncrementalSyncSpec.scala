package graft.sync

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.catalog.JdbcCatalog
import graft.config.Endpoint

/** Incremental (watermark-append) sync against a live JDBC source and
  * target: only rows beyond the target's MAX(watermark) move. */
class IncrementalSyncSpec extends SparkSpec {
  import spark.implicits._

  private val srcUrl = "jdbc:derby:memory:incsrc;create=true"
  private val dstUrl = "jdbc:derby:memory:incdst;create=true"
  private lazy val srcEp = Endpoint(srcUrl)
  private lazy val dstEp = Endpoint(dstUrl)

  test("incremental sync appends only the delta, full load when target empty") {
    val srcCat = new JdbcCatalog(srcEp)
    val dstCat = new JdbcCatalog(dstEp)
    DdlReplay.replay(srcCat, Seq(
      "CREATE TABLE inc_t (id BIGINT NOT NULL PRIMARY KEY, payload VARCHAR(16))"))
    DdlReplay.replay(dstCat, Seq(
      "CREATE TABLE inc_t (id BIGINT NOT NULL PRIMARY KEY, payload VARCHAR(16))"))
    val sink = JdbcSink(dstEp)

    // seed source with 100 rows; first incremental run = full load
    val batch1 = (1L to 100L).map(i => (i, s"row_$i")).toDF("id", "payload")
    JdbcSink(srcEp).append(batch1, "inc_t")
    val r1 = Sync.syncIncremental(spark, srcCat, sink, "inc_t", "id", pageSize = 30)
    assert(r1.ok && r1.rows == 100, r1.toString)

    // append 20 more at the source; second run moves exactly the delta
    val batch2 = (101L to 120L).map(i => (i, s"row_$i")).toDF("id", "payload")
    JdbcSink(srcEp).append(batch2, "inc_t")
    val r2 = Sync.syncIncremental(spark, srcCat, sink, "inc_t", "id", pageSize = 30)
    assert(r2.ok && r2.rows == 120, r2.toString)

    // no new rows: idempotent
    val r3 = Sync.syncIncremental(spark, srcCat, sink, "inc_t", "id", pageSize = 30)
    assert(r3.ok && r3.rows == 120, r3.toString)

    // content equality end-to-end
    assert(Compare.contentEqual(
      srcCat.read(spark, "inc_t"), sink.readBack(spark, "inc_t")))

    // a failed watermark probe must NOT fall back to a full re-append:
    // probing a nonexistent column errors while the table exists, so the
    // run reports ok=false and the target keeps exactly its 120 rows
    val bad = Sync.syncIncremental(spark, srcCat, sink, "inc_t", "no_such_col",
      pageSize = 30)
    assert(!bad.ok, "probe error was swallowed as a full load")
    assert(sink.rowCount(spark, "inc_t").contains(120L),
      "failed probe duplicated rows into the target")
  }

  test("verified-missing target routes to a full load (parquet sink)") {
    val srcCat = new JdbcCatalog(srcEp)
    DdlReplay.replay(srcCat, Seq(
      "CREATE TABLE inc_p (id BIGINT NOT NULL PRIMARY KEY, payload VARCHAR(16))"))
    JdbcSink(srcEp).append(
      (1L to 40L).map(i => (i, s"p_$i")).toDF("id", "payload"), "inc_p")
    val dir = java.nio.file.Files.createTempDirectory("graft_inc_parquet").toString
    val psink = ParquetSink(dir)
    assert(!psink.catalog.tableExists("inc_p"))
    val r = Sync.syncIncremental(spark, srcCat, psink, "inc_p", "id", pageSize = 30)
    assert(r.ok && r.rows == 40, r.toString)
    assert(psink.catalog.tableExists("inc_p"))
    // second run: exists, watermark probe finds 40 -> empty delta
    val r2 = Sync.syncIncremental(spark, srcCat, psink, "inc_p", "id", pageSize = 30)
    assert(r2.ok && r2.rows == 40, r2.toString)
  }
}
