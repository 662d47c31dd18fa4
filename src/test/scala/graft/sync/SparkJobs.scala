package graft.sync

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block submits in one job group, and the
  * shuffle bytes their stages write. */
object SparkJobs {

  /** `body`'s result and the number of Spark jobs submitted in job group
    * `group` while it ran. */
  def inGroup[A](spark: SparkSession, group: String)(body: => A): (A, Int) = {
    val (a, jobs, _) = withShuffle(spark, group)(body)
    (a, jobs)
  }

  /** `body`'s result, the number of Spark jobs submitted in job group
    * `group` while it ran, and the shuffle bytes their stages wrote. */
  def withShuffle[A](spark: SparkSession, group: String)(body: => A): (A, Int, Long) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val written = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        if (g == group) e.stageIds.foreach(stages.add(_))
        seen.add(g)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        written.put(e.stageInfo.stageId,
          Option(e.stageInfo.taskMetrics).fold(0L)(_.shuffleWriteMetrics.bytesWritten))
    }
    spark.sparkContext.addSparkListener(listener)
    val result = try {
      val a = body
      // listener events arrive in order: once the sentinel job is seen,
      // every job `body` submitted, and each of its stages' completion,
      // has been seen too
      Jobs.tagged(spark, s"$group-sentinel")(spark.range(1).count())
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(s"$group-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$group-sentinel"), "sentinel job never reached the listener")
      a
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    (result, seen.asScala.count(_ == group),
      stages.asScala.toSeq.map(s => written.getOrDefault(s, 0L)).sum)
  }
}
