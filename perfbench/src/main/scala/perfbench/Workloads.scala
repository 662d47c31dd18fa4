package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.catalog.{Catalog, JdbcCatalog}
import graft.config.{Endpoint, SyncConfig}
import graft.queries.Registry
import graft.sync.{Compare, DeltaSync, JdbcSink, Sync}

/** What one pass measured: wall time per stage, operations attempted
  * and failed, and per-layer values when the pass was traced. */
final class PassResult {
  val stageS: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  var attempted = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def total: Double = stageS.values.sum
  def fail(why: String): Unit = failures += why
  def check(ok: Boolean, why: => String): Unit = if (!ok) fail(why)
}

/** One benchmark workload: inputs made once from the seed, then
  * closed-loop passes issued one at a time. */
trait Workload {
  def name: String
  /** Generate the inputs (untimed, outside set-up). */
  def prepare(): Unit
  /** Untimed output checks before the measured passes. */
  def precheck(spark: SparkSession, r: PassResult): Unit = ()
  /** Untimed output checks after the last measured pass. */
  def postcheck(spark: SparkSession, r: PassResult): Unit = ()
  /** One pass of the workload's job; index -1 is the set-up warm-up. */
  def pass(spark: SparkSession, tracer: Tracer, index: Int): PassResult
}

object Workloads {
  val names: Seq[String] = Seq("migrate_repair_jdbc", "curate_queries")

  def apply(name: String, seed: Long, nproc: Int, dataDir: String, tiny: Boolean): Workload =
    name match {
      case "migrate_repair_jdbc" => new MigrateRepair(seed, nproc, tiny)
      case "curate_queries"      => new CurateQueries(seed, dataDir)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (one of ${names.mkString(", ")})")
    }

  /** Time `body` as stage `stage` of `r`: wall time is recorded, Spark
    * jobs it submits carry the stage as a local property, and a traced
    * pass opens a span. */
  def stage[A](spark: SparkSession, tracer: Tracer, r: PassResult, stage: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Layers.StageProp, stage)
    val t0 = System.nanoTime()
    try tracer.span(stage)(body)
    finally {
      r.stageS(stage) = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(Layers.StageProp, null)
    }
  }
}

/** The reference's whole job and its nightly sequel, on a seeded
  * source database in embedded in-memory Derby with a destination of
  * the same DDL. A pass copies every table (`Sync.syncAll`), verifies
  * the copy by count and by content, lets the replica drift by about 1%
  * of its rows (untimed), repairs it with the checksum-diff delta sync
  * and then repairs it again while it is in sync: the nightly "nothing
  * changed" case. The copy is write-heavy on the JDBC sink; the repairs
  * use the same catalog, partition and sync layers the other way round
  * (two checksum scans per table, few writes). Runs no operator code.
  * `truncate=true` keeps the destination DDL and the copy restores what
  * the last pass repaired, so passes repeat identical work without a
  * reset. */
final class MigrateRepair(seed: Long, nproc: Int, tiny: Boolean) extends Workload {
  val name = "migrate_repair_jdbc"
  private val db = s"pb${MigrateRepair.instances.incrementAndGet()}_$seed"
  private val srcUrl = s"jdbc:derby:memory:${db}_src;create=true"
  private val dstUrl = s"jdbc:derby:memory:${db}_dst;create=true"
  private val src: JdbcCatalog = new JdbcCatalog(Endpoint(srcUrl))
  /** nproc sink connections, the reference's batch size. */
  private val sink: JdbcSink = JdbcSink(Endpoint(dstUrl), batchRowSize = 1000, numPartitions = nproc)
  /** `pageSize` gives the largest table about 3 slices per core. */
  private val config: SyncConfig = SyncConfig(
    Endpoint(srcUrl), Endpoint(dstUrl),
    pageSize = if (tiny) 100 else 1000, maxParallel = nproc, batchRowSize = 1000)
  /** The three diverged tables plus `audit_log` (no PK, reloaded in
    * full) cover every delta path: numeric lead PK, hash key, full
    * reload. Untouched tables would only add their fixed per-table job
    * cost to every repair. */
  private val deltaTables = Seq("lineitem", "orders", "sku", "audit_log")
  private val deltaConfig = config.copy(exclude = Gen.tables.filterNot(deltaTables.contains))
  private var data: Seq[Gen.Table] = Nil
  private var divergence: Gen.Divergence = _
  /** rows copied by the first repair; every later one must match. */
  private var firstCopied: Option[Long] = None

  private def genRows: Long = data.map(_.rows.size.toLong).sum

  def prepare(): Unit = {
    data = Gen.generate(seed, if (tiny) Gen.Tiny else Gen.Standard)
    Gen.createSchema(srcUrl)
    Gen.createSchema(dstUrl)
    Gen.loadAll(srcUrl, data)
    divergence = Gen.divergence(seed, data)
  }

  /** Every repair starts from identical input (checked through the
    * copied-row count), so its content compare runs once, after the
    * last pass. */
  override def postcheck(spark: SparkSession, r: PassResult): Unit = {
    val rows = Compare.contentCompare(spark, src, sink, deltaTables)
    r.attempted += rows.size
    rows.filter(_.is_ok != "YES").foreach(c => r.fail(s"content compare after the last repair: $c"))
  }

  def pass(spark: SparkSession, tracer: Tracer, index: Int): PassResult = {
    val r = new PassResult
    migrate(spark, tracer, r)
    // the replica drifts: outside every stage, so untimed
    val diverged = divergence(dstUrl)
    repair(spark, tracer, r, diverged, index)
    r
  }

  private def migrate(spark: SparkSession, tracer: Tracer, r: PassResult): Unit = {
    import Workloads.stage
    // the program's catalog, or its traced decorator
    val cat: Catalog = if (tracer.enabled) new TracedCatalog(src, tracer) else src
    val reports = stage(spark, tracer, r, "sync")(Sync.syncAll(spark, cat, sink, config))
    r.attempted += reports.size
    reports.filterNot(_.ok).foreach(t => r.fail(s"sync ${t.table}: ${t.error.getOrElse("")}"))
    r.check(reports.size == Gen.tables.size, s"sync reported ${reports.size} tables")
    r.check(reports.map(_.rows).sum == genRows,
      s"synced ${reports.map(_.rows).sum} rows of $genRows generated")
    // a traced pass compares table by table to time each; the program
    // compares tables sequentially either way
    def compare(fn: Seq[String] => Seq[Compare.CompareRow]): (Seq[Compare.CompareRow], Seq[Double]) = {
      val tables = cat.listTables()
      if (!tracer.enabled) (fn(tables), Nil)
      else {
        val per = tables.map { t =>
          val t0 = System.nanoTime()
          val rows = tracer.span(s"table.$t")(fn(Seq(t)))
          (rows, (System.nanoTime() - t0) / 1e9)
        }
        (per.flatMap(_._1), per.map(_._2))
      }
    }
    val (counts, countS) = stage(spark, tracer, r, "compare_count")(
      compare(ts => Compare.countCompare(spark, cat, sink, ts)))
    val (contents, contentS) = stage(spark, tracer, r, "compare_content")(
      compare(ts => Compare.contentCompare(spark, cat, sink, ts)))
    for ((what, rows) <- Seq("count" -> counts, "content" -> contents)) {
      r.attempted += rows.size
      rows.filter(_.is_ok != "YES").foreach(c => r.fail(s"$what compare: $c"))
      r.check(rows.size == Gen.tables.size, s"$what compare covered ${rows.size} tables")
    }
    if (tracer.enabled) {
      r.layer("sync.slowest_table_s") = reports.map(_.elapsedMs).max / 1e3
      r.layer("sync.table_s_sum") = reports.map(_.elapsedMs).sum / 1e3
      r.layer("compare.count_slowest_table_s") = countS.max
      r.layer("compare.content_slowest_table_s") = contentS.max
      cat match {
        case tc: TracedCatalog =>
          for (k <- Seq("list_tables", "read_partitioned", "row_count", "read"))
            r.layer(s"catalog.${k}_s") = tc.seconds(k)
          r.layer("catalog.calls") = tc.calls.toDouble
          r.layer("partition.slices") = tc.slices.values.sum
          r.layer("partition.largest_table_slices") = tc.slices.getOrElse(Gen.Largest, 0).toDouble
          // untimed: outside every stage of the pass
          val perSlice = tc.sliceRows(Gen.Largest)
          val largestRows = data.find(_.name == Gen.Largest).map(_.rows.size.toLong).getOrElse(0L)
          r.check(perSlice.sum == largestRows,
            s"${Gen.Largest} slices hold ${perSlice.sum} rows of $largestRows generated")
          if (perSlice.nonEmpty)
            r.layer("partition.slice_skew") = perSlice.max / (perSlice.sum.toDouble / perSlice.size)
        case _ =>
      }
    }
  }

  private def repair(
      spark: SparkSession, tracer: Tracer, r: PassResult, diverged: Long, index: Int): Unit = {
    import Workloads.stage
    // DeltaSync asks the catalog whether it is a JdbcCatalog to push its
    // slice planning to the source; a decorator would send it down the
    // Spark-side quantile path instead, so delta always gets the
    // program's own catalog
    val repaired = stage(spark, tracer, r, "delta")(DeltaSync.syncAllDelta(spark, src, sink, deltaConfig))
    val noop = stage(spark, tracer, r, "delta_noop")(DeltaSync.syncAllDelta(spark, src, sink, deltaConfig))
    for (reps <- Seq(repaired, noop)) {
      r.attempted += reps.size
      reps.filterNot(_.ok).foreach(d => r.fail(s"delta ${d.table}: ${d.error.getOrElse("")}"))
      r.check(reps.size == deltaTables.size, s"delta reported ${reps.size} tables")
    }
    val copied = repaired.map(_.rowsCopied).sum
    if (index >= 0) {
      r.check(firstCopied.forall(_ == copied),
        s"repair copied $copied rows, an earlier pass copied ${firstCopied.get}")
      firstCopied = Some(copied)
    }
    // a table with a PK is in sync after the repair; only the table
    // without one is reloaded in full again
    val noopCopies = noop.filter(d => d.table != "audit_log" && d.rowsCopied != 0)
    r.check(noopCopies.isEmpty, s"no-op repair copied rows: $noopCopies")
    if (tracer.enabled) {
      r.layer("delta.slices") = repaired.map(_.slices).sum
      r.layer("delta.changed_slices") = repaired.map(_.changedSlices).sum
      r.layer("delta.rows_copied") = copied
      r.layer("delta.copy_ratio") = copied.toDouble / diverged
      r.layer("delta.full_reloads") = repaired.count(d => d.slices == 1 && d.changedSlices == 1)
    }
  }
}

object MigrateRepair {
  /** Each workload instance gets its own pair of in-memory databases. */
  private val instances = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Bench-flagged operator queries over the bundled sf0.01 fixture,
  * each written through the `noop` sink, one at a time, in an order
  * permuted by the seed. Never touches JDBC, catalog or sync: the
  * no-change control for sync-layer work, and the reverse. */
final class CurateQueries(seed: Long, dataDir: String) extends Workload {
  val name = "curate_queries"
  private val queries = Curated.names.map(Registry.byName)

  def prepare(): Unit = {
    val unflagged = queries.filterNot(_.bench).map(_.name)
    require(unflagged.isEmpty, s"not bench-flagged in the registry: $unflagged")
  }

  private def order(index: Int) =
    new scala.util.Random(seed * 31 + index).shuffle(queries)

  private def run(spark: SparkSession, q: graft.queries.Q): Unit =
    q.run(spark, dataDir).write.mode("overwrite").format("noop").save()

  override def precheck(spark: SparkSession, r: PassResult): Unit =
    queries.foreach { q =>
      r.attempted += 1
      try {
        val n = q.run(spark, dataDir).count()
        r.check(n == Curated.rows(q.name), s"${q.name}: $n rows, expected ${Curated.rows(q.name)}")
      } catch { case e: Exception => r.fail(s"${q.name}: ${e.getMessage}") }
    }

  def pass(spark: SparkSession, tracer: Tracer, index: Int): PassResult = {
    val r = new PassResult
    order(index).foreach { q =>
      r.attempted += 1
      try Workloads.stage(spark, tracer, r, s"query:${q.name}")(run(spark, q))
      catch { case e: Exception => r.fail(s"${q.name}: ${e.getMessage}") }
    }
    r
  }
}

/** The measured queries: one or two per operator family (aggregation,
  * dedup, text, similarity, media, event, join, pipeline), chosen among
  * the registry's 35 bench-flagged ones for a short sweep. The whole
  * 35-query sweep takes about 28 s warm and 54 s cold on the bundled
  * fixture with 4 cores, too long for several set-ups and passes in
  * one run. `rows` are their output row counts on the bundled fixture
  * (the sf0.01 tables), as matched against the DuckDB oracle. */
object Curated {
  val rows: Map[String, Long] = Map(
    "q01_pricing_summary" -> 6,
    "qd03_minhash_pairs" -> 130,
    "qt01_token_stats" -> 500,
    "qs02_topk_bruteforce" -> 10,
    "qm08_image_near_dup_unblocked" -> 13674,
    "qe01_hourly_window" -> 3385,
    "qj06_interval_overlap" -> 25,
    "qp15_sequence_packing" -> 500)
  val names: Seq[String] = rows.keys.toSeq.sorted
}
