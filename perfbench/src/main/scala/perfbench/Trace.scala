package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicInteger
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.{Catalog, JdbcCatalog}

/** One timed call into a layer. Spans of one pass share `traceId`;
  * `parent` is 0 for a pass's root. */
final case class Span(
    id: Int, parent: Int, traceId: Long, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. The current span is inherited by threads
  * created under it, so spans opened on the sync layer's table pool
  * nest under the pass's stage span. A disabled tracer only runs the
  * body. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val current = new InheritableThreadLocal[Int] {
    override def initialValue(): Int = 0
  }
  @volatile var traceId: Long = 0L

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      val t0 = System.nanoTime()
      current.set(id)
      try body
      finally {
        current.set(parent)
        val s = Span(id, parent, traceId, name, t0, System.nanoTime())
        done.synchronized(done += s)
      }
    }

  def spans: Seq[Span] = done.synchronized(done.toList)

  /** Self time: duration minus the part of it covered by children
    * (children may overlap each other when they run on a pool). */
  def selfNs(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val all = spans
    val self = selfNs(all)
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.traceId},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val off = new Tracer(false)
}

/** Catalog layer seen from outside: every call is timed and counted,
  * and each partitioned read is kept with its slice count. Wraps the
  * program's `JdbcCatalog` unchanged. */
final class TracedCatalog(inner: JdbcCatalog, tracer: Tracer) extends Catalog {
  val seconds: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  @volatile var calls = 0L
  /** table -> slices of its partitioned read. */
  val slices: mutable.Map[String, Int] = mutable.Map.empty
  private val partitioned = mutable.Map.empty[String, DataFrame]

  private def timed[A](what: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try tracer.span(s"catalog.$what")(body)
    finally synchronized {
      seconds(what) += (System.nanoTime() - t0) / 1e9
      calls += 1
    }
  }

  override protected def allTables: Seq[String] = inner.listTables()
  override def listTables(exclude: Seq[String]): Seq[String] =
    timed("list_tables")(inner.listTables(exclude))
  override def primaryKey(table: String): Seq[String] =
    timed("primary_key")(inner.primaryKey(table))
  override def read(spark: SparkSession, table: String): DataFrame =
    timed("read")(inner.read(spark, table))
  override def rowCount(spark: SparkSession, table: String): Long =
    timed("row_count")(inner.rowCount(spark, table))
  override def readPartitioned(
      spark: SparkSession, table: String, pageSize: Long, maxSlices: Int): DataFrame = {
    val df = timed("read_partitioned")(inner.readPartitioned(spark, table, pageSize, maxSlices))
    synchronized {
      slices(table) = df.rdd.getNumPartitions
      partitioned(table) = df
    }
    df
  }

  /** Rows in each slice of `table`'s partitioned read, counted by reading
    * the slices again. The sink coalesces slices into fewer write tasks,
    * so the write job's task metrics cannot give them. */
  def sliceRows(table: String): Seq[Long] =
    synchronized(partitioned.get(table)).toSeq.flatMap { df =>
      df.rdd.mapPartitions(it => Iterator(it.size.toLong)).collect().toSeq
    }
}

/** Task metrics summed per key. */
final class Agg {
  var jobs, stages, tasks, runMs, cpuNs, gcMs, shRead, shWrite, spill, records = 0L
}

/** Engine layer seen from outside: a listener that attributes every
  * job to the benchmark stage that submitted it (the local property
  * [[Layers.StageProp]], inherited by the sync layer's pool threads). */
final class Layers extends SparkListener {
  private val stageOf = mutable.Map.empty[Int, String]
  val byStage: mutable.Map[String, Agg] = mutable.Map.empty

  private def agg(stage: String): Agg = byStage.getOrElseUpdate(stage, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val stage = Option(e.properties).flatMap(p => Option(p.getProperty(Layers.StageProp)))
      .getOrElse("other")
    e.stageIds.foreach(stageOf(_) = stage)
    agg(stage).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOf.get(e.stageInfo.stageId).foreach(agg(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageOf.get(e.stageId).map(agg).foreach { a =>
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.records += m.inputMetrics.recordsRead
    }
  }

  def stage(name: String): Agg = synchronized(byStage.getOrElse(name, new Agg))
  /** Everything submitted inside the pass's named stages; untimed
    * checks run outside them. */
  def total: Agg = synchronized {
    val t = new Agg
    byStage.filter(_._1 != "other").values.foreach { a =>
      t.jobs += a.jobs; t.stages += a.stages; t.tasks += a.tasks; t.runMs += a.runMs
      t.cpuNs += a.cpuNs; t.gcMs += a.gcMs; t.shRead += a.shRead; t.shWrite += a.shWrite
      t.spill += a.spill; t.records += a.records
    }
    t
  }
}

object Layers {
  val StageProp = "perfbench.stage"
}

/** JVM layer seen from outside: the peak of heap in use. Heap use only
  * grows between collections, so its peak is the largest heap in use
  * just before a collection (from the collectors' notifications) or at
  * the end. Summing each pool's own peak would add peaks of different
  * moments. */
final class HeapPeak extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  @volatile private var peak = 0L

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val before = gc.getGcInfo.getMemoryUsageBeforeGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peak = math.max(peak, before) }
    }

  def start(): Unit = collectors.foreach(_.addNotificationListener(this, null, null))

  /** Stops listening; the peak in MiB since `start`. */
  def stop(): Double = {
    collectors.foreach(_.removeNotificationListener(this))
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    math.max(peak, now) / 1048576.0
  }
}
