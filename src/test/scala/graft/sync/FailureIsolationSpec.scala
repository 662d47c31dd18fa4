package graft.sync

import graft.SparkSpec
import graft.catalog.JdbcCatalog
import graft.config.{Endpoint, SyncConfig}

/** Fault injection through the per-table report: a destination whose
  * DDL rejects one table's rows (a NOT NULL column the source lacks)
  * must fail that table's report only. */
class FailureIsolationSpec extends SparkSpec {
  import spark.implicits._

  private val srcUrl = "jdbc:derby:memory:isosrc;create=true"
  private val dstUrl = "jdbc:derby:memory:isodst;create=true"
  private val tables = Seq("iso_a", "iso_b", "iso_c")
  private val config = SyncConfig(Endpoint(srcUrl), Endpoint(dstUrl), maxParallel = 2)
  private lazy val src = new JdbcCatalog(Endpoint(srcUrl))
  private lazy val sink = JdbcSink(Endpoint(dstUrl), numPartitions = 2)

  private lazy val seeded: Unit = {
    val dst = new JdbcCatalog(Endpoint(dstUrl))
    tables.foreach { t =>
      DdlReplay.replay(src, Seq(s"CREATE TABLE $t (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(16))"))
      val extra = if (t == "iso_b") ", must_fill INT NOT NULL" else ""
      DdlReplay.replay(dst, Seq(
        s"CREATE TABLE $t (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(16)$extra)"))
      JdbcSink(Endpoint(srcUrl)).append((1L to 40L).map(i => (i, s"v$i")).toDF("id", "v"), t)
    }
  }

  test("syncAll fails only the table whose destination rejects its rows") {
    seeded
    val reports = Sync.syncAll(spark, src, sink, config).map(r => r.table -> r).toMap
    assert(reports.keySet == tables.toSet)
    val bad = reports("iso_b")
    assert(!bad.ok && bad.rows == -1 && bad.error.exists(_.nonEmpty), bad.toString)
    assert((reports - "iso_b").values.forall(r => r.ok && r.rows == 40), reports.toString)
  }

  test("syncAllDelta fails only the table whose destination rejects its rows") {
    seeded
    val reports = DeltaSync.syncAllDelta(spark, src, sink, config).map(r => r.table -> r).toMap
    assert(reports.keySet == tables.toSet)
    val bad = reports("iso_b")
    assert(!bad.ok && bad.error.exists(_.nonEmpty), bad.toString)
    assert((reports - "iso_b").values.forall(_.ok), reports.toString)
  }
}
