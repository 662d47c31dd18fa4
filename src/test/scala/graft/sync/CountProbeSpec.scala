package graft.sync

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

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

  /** `body`'s result and the Spark jobs it submitted, run in job group
    * `group`. */
  private def withJobs[A](group: String)(body: => A): (A, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    val result = try {
      val a = Jobs.tagged(spark, group)(body)
      // listener events arrive in order: once the sentinel job is seen,
      // every job `body` submitted has been seen too
      Jobs.tagged(spark, s"$group-sentinel")(spark.range(1).count())
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(s"$group-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$group-sentinel"), "sentinel job never reached the listener")
      a
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    (result, seen.asScala.toSeq.filter(_ == group))
  }

  test("catalog and sink row counts run on the database with no Spark job") {
    DdlReplay.replay(catalog, Seq("CREATE TABLE cnt_t (id BIGINT NOT NULL PRIMARY KEY, v INT)"))
    sink.append((1L to 137L).map(i => (i, (i % 5).toInt)).toDF("id", "v"), "cnt_t")
    val (counts, jobs) = withJobs("count-probe") {
      (catalog.rowCount(spark, "cnt_t"), sink.rowCount(spark, "cnt_t"))
    }
    assert(counts == (137L, Some(137L)))
    assert(jobs.isEmpty, s"${jobs.size} Spark job(s) for two row counts")
  }

  test("the sink's count of a missing table is None") {
    assert(sink.rowCount(spark, "no_such_t").isEmpty)
  }
}
