package graft.sync

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block submits in one job group. */
object SparkJobs {

  /** `body`'s result and the number of Spark jobs submitted in job group
    * `group` while it ran. */
  def inGroup[A](spark: SparkSession, group: String)(body: => A): (A, Int) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    val result = try {
      val a = body
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
    (result, seen.asScala.count(_ == group))
  }
}
