package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.Internals

import graft.GraftSession

/** Benchmark entry point:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *
  * Closed loop, one client: each pass is issued after the previous one
  * finished. The program's own parallelism is Spark `local[nproc]`,
  * `maxParallel = nproc` tables and `nproc` sink connections.
  *
  * Prints every metric as a bare JSON line (`{"metric":…,"value":…,
  * "unit":…}`) and, last, one result object whose `metrics` hold the
  * end-to-end metrics (untraced run) or the per-layer ones (traced
  * run). Exits 1 when an output check failed, 2 on a usage or set-up
  * error (then without a result line).
  */
object Main {

  /** `setups` and `tiny` (the small input sizes) are set only by the
    * self-tests; the command line always gives 2 set-ups and full-size
    * inputs. */
  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean,
      setups: Int = 2, tiny: Boolean = false,
      home: String = ".bench_build", dataDir: String = "perfbench/data")

  final case class Result(
      correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)], info: Seq[(String, Double, String)],
      failures: Seq[String])

  def parse(argv: Array[String]): Args = {
    def usage(msg: String) = throw new IllegalArgumentException(
      s"$msg\nusage: --workload <${Workloads.names.mkString("|")}> --seed <n> " +
        "--seconds <s> --trace <0|1>")
    var m = Map.empty[String, String]
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case k if k.startsWith("--") && i + 1 < argv.length => m += k.drop(2) -> argv(i + 1); i += 2
        case other => usage(s"unexpected argument '$other'")
      }
    }
    def need(k: String) = m.getOrElse(k, usage(s"missing --$k"))
    def num(k: String, v: String) = v.toLongOption.getOrElse(usage(s"--$k must be a whole number"))
    val unknown = m.keySet -- Set("workload", "seed", "seconds", "trace")
    if (unknown.nonEmpty) usage(s"unknown options ${unknown.mkString(", ")}")
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case _ => usage("--trace must be 0 or 1")
    }
    val a = Args(need("workload"), num("seed", need("seed")), num("seconds", need("seconds")).toInt, trace)
    if (!Workloads.names.contains(a.workload)) usage(s"unknown workload '${a.workload}'")
    if (a.seconds < 1) usage("--seconds must be at least 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        val r = run(parse(argv))
        (r.info ++ r.metrics).foreach { case (n, v, u) => println(Json.metric(n, v, u)) }
        r.failures.take(50).foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
        println(Json.result(r))
        if (r.correct) 0 else 1
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] error: $e")
          e.printStackTrace()
          2
      }
    System.out.flush()
    sys.exit(code)
  }

  def nproc: Int = Runtime.getRuntime.availableProcessors

  def session(a: Args): SparkSession = {
    val home = new java.io.File(a.home).getAbsoluteFile
    val s = GraftSession.builder(s"perfbench-${a.workload}")
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.local.dir", new java.io.File(home, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(home, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val started = System.nanoTime()
  private def progress(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.2f s: $what")

  def run(a: Args): Result = {
    val w = Workloads(a.workload, a.seed, nproc, a.dataDir, a.tiny)
    val tGen = System.nanoTime()
    w.prepare()
    val genS = (System.nanoTime() - tGen) / 1e9

    // set-up: a fresh SparkSession plus one warm-up pass, several
    // times; the median is reported
    var spark: SparkSession = null
    val warm = scala.collection.mutable.ArrayBuffer.empty[PassResult]
    val setupS = (1 to a.setups).map { i =>
      val t0 = System.nanoTime()
      spark = session(a)
      warm += w.pass(spark, Tracer.off, -1)
      val s = (System.nanoTime() - t0) / 1e9
      progress(f"set-up $i took $s%.3f s")
      if (i < a.setups) spark.stop()
      s
    }
    try {
      val pre = new PassResult
      w.precheck(spark, pre)
      progress("checks done")
      val heap = new HeapPeak
      heap.start()

      // measured passes; a traced run alternates untraced and traced
      // passes so that the tracing overhead is measured in one JVM
      val tracer = new Tracer(true)
      val plain = scala.collection.mutable.ArrayBuffer.empty[PassResult]
      val traced = scala.collection.mutable.ArrayBuffer.empty[PassResult]
      val minPasses = if (a.trace) 4 else 3
      val deadline = System.nanoTime() + a.seconds * 1000000000L
      var i = 0
      while (i < minPasses || System.nanoTime() < deadline) {
        val r =
          if (a.trace && i % 2 == 1) { traced += tracedPass(spark, w, tracer, i); traced.last }
          else { plain += w.pass(spark, Tracer.off, i); plain.last }
        progress(f"pass $i took ${r.total}%.3f s " +
          r.stageS.filterNot(_._1.startsWith("query:")).map { case (k, v) => f"$k $v%.3f" }.mkString(" "))
        i += 1
      }
      val heapMb = heap.stop()
      val post = new PassResult
      w.postcheck(spark, post)
      progress("checks done")

      val all = warm.toSeq ++ Seq(pre) ++ plain ++ traced ++ Seq(post)
      val attempted = all.map(_.attempted).sum
      val failures = all.flatMap(_.failures)
      val stageMedians = Metrics.stages.map { case (metric, stageOf) =>
        (metric, median(plain.map(p => stageOf(p.stageS))), "s")
      }
      val info = Seq(
        ("gen_s", genS, "s"),
        ("passes", plain.size.toDouble, "count"),
        ("nproc", nproc.toDouble, "count"),
        ("fail_ratio", failures.size.toDouble / math.max(1L, attempted), "ratio")) ++
        stageMedians.filter(_._2 > 0)
      val metrics =
        if (!a.trace) Seq(
          ("setup_s", median(setupS), "s"),
          ("pass_s", median(plain.map(_.total)), "s"))
        else {
          tracer.write(java.nio.file.Paths.get(a.home, "traces", s"${a.workload}-seed${a.seed}.jsonl"))
          val overhead = median(traced.map(_.total)) / median(plain.map(_.total))
          Metrics.perLayer.map { case (name, unit) =>
            val v = name match {
              case "jvm.heap_peak_mb" => heapMb
              case "trace.overhead_ratio" => overhead
              case _ => median(traced.map(_.layer.getOrElse(name, 0.0)))
            }
            (name, v, unit)
          }
        }
      Result(failures.isEmpty, attempted, failures.size, metrics,
        info :+ ("spans", tracer.spans.size.toDouble, "count"), failures)
    } finally spark.stop()
  }

  /** One pass with the listener attached, spans recorded and the
    * catalog decorated; per-layer values land in the pass result. */
  private def tracedPass(spark: SparkSession, w: Workload, tracer: Tracer, i: Int): PassResult = {
    val sc = spark.sparkContext
    val layers = new Layers
    sc.addSparkListener(layers)
    tracer.traceId = i
    val r = try tracer.span(s"pass.${w.name}")(w.pass(spark, tracer, i))
    finally {
      Internals.drain(sc)
      sc.removeSparkListener(layers)
    }
    Metrics.fromListener(layers, r, nproc)
    r
  }
}

object Json {
  /** Full-precision number; JSON has no NaN/Infinity. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def metric(name: String, v: Double, unit: String): String =
    s"""{"metric":"$name","value":${num(v)},"unit":"$unit"}"""

  def result(r: Main.Result): String = {
    val ms = r.metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
    s"""{"correct":${r.correct},"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }
}
