package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession
import graft.catalog.JdbcCatalog
import graft.config.{Endpoint, SyncConfig}
import graft.sync.{Compare, DeltaSync, HashKey, JdbcSink}

/** Self-tests of the benchmark's own code. Run from `perfbench/`
  * (`python3 perfbench/run.py --selftest` from the checkout root). */
class BenchSpec extends AnyFunSuite {

  private val root = new File("..").getCanonicalFile
  private val home = new File(root, ".bench_build/selftest").getPath
  private val dataDir = new File(root, "perfbench/data").getPath

  private lazy val spec: JsonNode =
    new ObjectMapper().readTree(new File(root, "BENCHMARK.json"))

  private def listed(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  private def args(workload: String, trace: Boolean) = Main.Args(
    workload, seed = 7, seconds = 1, trace = trace, setups = 1, tiny = true,
    home = home, dataDir = dataDir)

  test("the same seed generates identical tables, another seed different ones") {
    val a = Gen.fingerprint(Gen.generate(42, Gen.Standard))
    val b = Gen.fingerprint(Gen.generate(42, Gen.Standard))
    val c = Gen.fingerprint(Gen.generate(43, Gen.Standard))
    assert(a == b)
    assert(a.keySet == Gen.tables.toSet)
    // dimension sizes are fixed; every seeded table differs in content
    Seq("customer", "part", "orders", "lineitem", "clicks", "sku", "audit_log")
      .foreach(t => assert(a(t)._2 != c(t)._2, s"$t did not change with the seed"))
  }

  test("generated composite and VARCHAR keys are unique, and loaded counts match") {
    val data = Gen.generate(5, Gen.Tiny)
    val byName = data.map(t => t.name -> t).toMap
    val line = byName("lineitem").rows.map(r => (r(0), r(1)))
    assert(line.distinct.size == line.size)
    val sku = byName("sku").rows.map(_(0))
    assert(sku.distinct.size == sku.size)
    val url = "jdbc:derby:memory:selftest_counts;create=true"
    Gen.createSchema(url)
    Gen.loadAll(url, data)
    val conn = Gen.connect(url)
    try data.foreach { t =>
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM ${t.name}")
      rs.next()
      assert(rs.getLong(1) == t.rows.size, t.name)
    } finally conn.close()
  }

  test("divergence, then syncAllDelta, restores a content-equal replica") {
    val spark = GraftSession.builder("perfbench-selftest").master("local[2]")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    try {
      val (srcUrl, dstUrl) = ("jdbc:derby:memory:selftest_src;create=true",
        "jdbc:derby:memory:selftest_dst;create=true")
      val data = Gen.generate(3, Gen.Tiny)
      Seq(srcUrl, dstUrl).foreach { u => Gen.createSchema(u); Gen.loadAll(u, data) }
      val src = new JdbcCatalog(Endpoint(srcUrl))
      val sink = JdbcSink(Endpoint(dstUrl))
      val config = SyncConfig(Endpoint(srcUrl), Endpoint(dstUrl), pageSize = 100, maxParallel = 2)
      val diverged = Seq("lineitem", "orders", "sku")
      val div = Gen.divergence(3, data)
      def roundTrip(): Long = {
        assert(div(dstUrl) > 0)
        val before = Compare.contentCompare(spark, src, sink, Gen.tables)
        assert(before.filter(_.is_ok == "NO").map(_.table_name).sorted == diverged.sorted)
        val reps = DeltaSync.syncAllDelta(spark, src, sink, config)
        assert(reps.forall(_.ok), reps.toString)
        // every scattered key lands in a slice of its own
        val changed = reps.map(d => d.table -> d.changedSlices).toMap
        assert(changed("orders") == 4 && changed("sku") == 4, reps.toString)
        val after = Compare.contentCompare(spark, src, sink, Gen.tables)
        assert(after.forall(_.is_ok == "YES"), after.toString)
        reps.map(_.rowsCopied).sum
      }
      // identical input each time: the repair copies identical rows
      assert(roundTrip() == roundTrip())

      // the generator spaces sku keys by the slice the program's HashKey
      // gives them
      import spark.implicits._
      val keys = data.find(_.name == "sku").get.rows.map(_(0).asInstanceOf[String]).take(64)
      val hk = keys.toDF("k").select(HashKey.column(Seq($"k"))).as[Long].collect()
      val cuts = HashKey.cuts(64)
      keys.zip(hk).foreach { case (k, h) => assert(Gen.hashSlice(k) == cuts.count(_ <= h), k) }

      // the workload's own pass and checks agree
      val w = new MigrateRepair(seed = 3, nproc = 2, tiny = true)
      w.prepare()
      val passes = (0 to 1).map(i => w.pass(spark, Tracer.off, i))
      val post = new PassResult
      w.postcheck(spark, post)
      (passes :+ post).foreach(r => assert(r.failures.isEmpty, r.failures.mkString("; ")))
      assert(post.attempted == 4)
    } finally spark.stop()
  }

  test("metric names are well formed and BENCHMARK.json lists exactly the printed ones") {
    val name = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r
    (Metrics.endToEnd ++ Metrics.perLayer).foreach { case (n, _) =>
      assert(name.matches(n), n)
    }
    assert(Metrics.perLayer.map(_._1).distinct.size == Metrics.perLayer.size)
    assert(listed("end_to_end") == Metrics.endToEnd)
    assert(listed("per_layer") == Metrics.perLayer)
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq ==
      Workloads.names)
  }

  test("an untraced run of each workload prints every end-to-end metric") {
    Workloads.names.foreach { w =>
      val r = Main.run(args(w, trace = false))
      assert(r.correct, r.failures.mkString("; "))
      assert(r.failed == 0 && r.attempted > 0)
      assert(r.metrics.map(m => (m._1, m._3)) == listed("end_to_end"), w)
      assert(r.metrics.forall(_._2 > 0), r.metrics.toString)
      val line = Json.result(r)
      val parsed = new ObjectMapper().readTree(line)
      assert(parsed.get("metrics").fieldNames().asScala.toSeq == listed("end_to_end").map(_._1))
    }
  }

  test("a traced run prints every per-layer metric and writes its spans") {
    val r = Main.run(args("migrate_repair_jdbc", trace = true))
    assert(r.correct, r.failures.mkString("; "))
    assert(r.metrics.map(m => (m._1, m._3)) == listed("per_layer"))
    val m = r.metrics.map(x => x._1 -> x._2).toMap
    assert(m("sync_s") > 0 && m("catalog.calls") > 0 && m("spark.jobs") > 0)
    assert(m("delta_s") > 0 && m("delta.changed_slices") > 0 && m("queries_total_s") == 0)
    // per-slice rows of the largest table: at least 1 when every slice is equal
    assert(m("partition.slice_skew") >= 1 && m("partition.largest_table_slices") > 1)
    assert(m("jvm.heap_peak_mb") > 0)
    val spans = new File(home, "traces/migrate_repair_jdbc-seed7.jsonl")
    assert(spans.isFile && java.nio.file.Files.readAllLines(spans.toPath).size > 0)
  }
}
