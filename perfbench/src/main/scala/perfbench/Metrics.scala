package perfbench

/** Metric names and units. `perLayer` is the exact list a traced run
  * prints (BENCHMARK.json's `per_layer`); a layer a workload never
  * enters reports 0. */
object Metrics {

  val endToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "pass_s" -> "s")

  private def queryStages(s: collection.Map[String, Double]): Double =
    s.collect { case (k, v) if k.startsWith("query:") => v }.sum

  /** Named stages of a pass: metric -> its wall time in a pass. */
  val stages: Seq[(String, collection.Map[String, Double] => Double)] = Seq(
    "sync_s" -> (_.getOrElse("sync", 0.0)),
    "compare_count_s" -> (_.getOrElse("compare_count", 0.0)),
    "compare_content_s" -> (_.getOrElse("compare_content", 0.0)),
    "delta_s" -> (_.getOrElse("delta", 0.0)),
    "delta_noop_s" -> (_.getOrElse("delta_noop", 0.0)),
    "queries_total_s" -> queryStages)

  val queryNames: Seq[String] = Curated.names

  val perLayer: Seq[(String, String)] =
    stages.map(_._1 -> "s") ++ Seq(
      "catalog.list_tables_s" -> "s", "catalog.read_partitioned_s" -> "s", "catalog.row_count_s" -> "s",
      "catalog.read_s" -> "s", "catalog.calls" -> "count",
      "partition.slices" -> "count", "partition.largest_table_slices" -> "count",
      "partition.slice_skew" -> "ratio",
      "sync.slowest_table_s" -> "s", "sync.table_s_sum" -> "s", "sync.tasks" -> "count",
      "sync.rows_read" -> "count", "sync.executor_run_s" -> "s",
      "sync.core_busy_ratio" -> "ratio",
      "compare.count_slowest_table_s" -> "s", "compare.content_slowest_table_s" -> "s",
      "compare.content_read_tasks" -> "count", "compare.content_executor_run_s" -> "s",
      "compare.content_core_busy_ratio" -> "ratio",
      "delta.slices" -> "count", "delta.changed_slices" -> "count",
      "delta.rows_copied" -> "count", "delta.copy_ratio" -> "ratio",
      "delta.full_reloads" -> "count", "delta.tasks" -> "count",
      "delta.noop_tasks" -> "count", "delta.shuffle_bytes" -> "B",
      "delta.noop_executor_run_s" -> "s") ++
      queryNames.map(q => s"query_s.$q" -> "s") ++
      queryNames.map(q => s"query_shuffle_bytes.$q" -> "B") ++ Seq(
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
      "spark.spill_bytes" -> "B", "spark.executor_run_s" -> "s",
      "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.idle_core_s" -> "s",
      "jvm.heap_peak_mb" -> "MB", "trace.overhead_ratio" -> "ratio")

  /** Listener-derived values of one traced pass. */
  def fromListener(l: Layers, r: PassResult, nproc: Int): Unit = {
    stages.foreach { case (m, f) => r.layer(m) = f(r.stageS) }
    def busy(a: Agg, stage: String): Double = {
      val s = r.stageS.getOrElse(stage, 0.0)
      if (s > 0) a.runMs / 1e3 / (s * nproc) else 0.0
    }
    val sync = l.stage("sync")
    r.layer("sync.tasks") = sync.tasks.toDouble
    r.layer("sync.rows_read") = sync.records.toDouble
    r.layer("sync.executor_run_s") = sync.runMs / 1e3
    r.layer("sync.core_busy_ratio") = busy(sync, "sync")
    val content = l.stage("compare_content")
    r.layer("compare.content_read_tasks") = content.tasks.toDouble
    r.layer("compare.content_executor_run_s") = content.runMs / 1e3
    r.layer("compare.content_core_busy_ratio") = busy(content, "compare_content")
    val delta = l.stage("delta")
    val noop = l.stage("delta_noop")
    if (r.stageS.contains("delta")) {
      r.layer("delta.tasks") = delta.tasks.toDouble
      r.layer("delta.noop_tasks") = noop.tasks.toDouble
      r.layer("delta.shuffle_bytes") = delta.shWrite.toDouble
      r.layer("delta.noop_executor_run_s") = noop.runMs / 1e3
    }
    queryNames.foreach { q =>
      r.layer(s"query_s.$q") = r.stageS.getOrElse(s"query:$q", 0.0)
      r.layer(s"query_shuffle_bytes.$q") = l.stage(s"query:$q").shWrite.toDouble
    }
    val t = l.total
    r.layer("spark.jobs") = t.jobs.toDouble
    r.layer("spark.stages") = t.stages.toDouble
    r.layer("spark.tasks") = t.tasks.toDouble
    r.layer("spark.shuffle_read_bytes") = t.shRead.toDouble
    r.layer("spark.shuffle_write_bytes") = t.shWrite.toDouble
    r.layer("spark.spill_bytes") = t.spill.toDouble
    r.layer("spark.executor_run_s") = t.runMs / 1e3
    r.layer("spark.executor_cpu_s") = t.cpuNs / 1e9
    r.layer("spark.gc_s") = t.gcMs / 1e3
    r.layer("spark.idle_core_s") = r.total * nproc - t.runMs / 1e3
  }
}
