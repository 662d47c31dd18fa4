package graft.sync

import graft.SparkSpec
import graft.catalog.JdbcCatalog
import graft.config.Endpoint

/** Row counts are one tagged `SELECT COUNT(*)` on the database (the
  * reference's pushed `select count(*)`, cmd/compare.go:112), never a
  * Spark job. */
class CountProbeSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:countprobe;create=true"
  private lazy val catalog = new JdbcCatalog(Endpoint(url))
  private lazy val sink = JdbcSink(Endpoint(url))

  test("catalog and sink row counts run on the database with no Spark job") {
    DdlReplay.replay(catalog, Seq("CREATE TABLE cnt_t (id BIGINT NOT NULL PRIMARY KEY, v INT)"))
    sink.append((1L to 137L).map(i => (i, (i % 5).toInt)).toDF("id", "v"), "cnt_t")
    val (counts, jobs) = SparkJobs.inGroup(spark, "count-probe") {
      Jobs.tagged(spark, "count-probe") {
        (catalog.rowCount(spark, "cnt_t"), sink.rowCount(spark, "cnt_t"))
      }
    }
    assert(counts == (137L, Some(137L)))
    assert(jobs == 0, s"$jobs Spark job(s) for two row counts")
  }

  test("the sink's count of a missing table is None") {
    assert(sink.rowCount(spark, "no_such_t").isEmpty)
  }
}
