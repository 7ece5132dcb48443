package qbench

/** The per-layer metrics of a traced pass, by name. Every workload
  * reports every name; a layer the workload does not touch reads 0.
  */
object LayerMetrics {

  private val static: Seq[(String, String)] = Seq(
    "qbo.http.requests" -> "count", "qbo.http.wasted_requests" -> "count",
    "qbo.http.bytes" -> "B", "qbo.http.token_refreshes" -> "count",
    "qbo.stage_s" -> "s", "qbo.warehouse_s" -> "s", "qbo.reports_s" -> "s",
    "qbo.explode_fanout" -> "ratio",
    "sources.scan_s" -> "s", "sources.pages" -> "count", "sources.rows" -> "count",
    "ops.failed_casts" -> "count", "ops.planted_malformed" -> "count",
    "load.write_s" -> "s", "load.readback_s" -> "s", "load.rows_written" -> "count",
    "load.files_written" -> "count", "load.bytes_written" -> "B",
    "load.stored_bytes_per_row" -> "B/row",
    "functions.shingle_s" -> "s", "functions.bands_s" -> "s",
    "functions.interpreted_lambdas" -> "count",
    "dedup.exact_s" -> "s", "dedup.lsh_s" -> "s", "dedup.verify_s" -> "s",
    "dedup.cluster_s" -> "s", "dedup.keep_s" -> "s",
    "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
    "dedup.candidate_yield" -> "ratio", "dedup.cluster_jobs" -> "count",
    "dedup.clusters" -> "count", "dedup.planted_pairs" -> "count", "dedup.recall" -> "ratio",
    "queries.build_s" -> "s", "queries.exec_s" -> "s",
    "queries.leaked_rdds" -> "count", "queries.leaked_tables" -> "count",
    "queries.scratch_bytes_left" -> "B",
    "spark.plan_s" -> "s", "spark.driver_s" -> "s", "spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count", "spark.executor_run_s" -> "s",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.peak_exec_mem_bytes" -> "B",
    "spark.exchanges" -> "count", "spark.task_skew" -> "ratio",
    "op.samples" -> "count", "op.p50_s" -> "s", "op.tail_pct" -> "%", "op.tail_s" -> "s",
    "mem.peak_rss_mb" -> "MB", "mem.retained_mb" -> "MB",
    "trace.overhead_s" -> "s", "trace.spans" -> "count")

  private val units: Map[String, String] = static.toMap

  /** Every per-layer name, the per-object query times included. */
  def names(benchDir: String): Seq[String] =
    static.map(_._1) ++ DeclaredList.listObjects(benchDir).map(o => s"queries.$o.s")

  def unit(name: String): String = units.getOrElse(name, "s")

  /** Per-layer values of one traced pass. */
  def of(run: Run, spans: Seq[Span], counts: Map[String, EngineCounts]): Map[String, Double] = {
    val c = run.counters
    def ctr(k: String) = c.getOrElse(k, 0.0)
    def secs(layer: String) = run.layerSeconds.getOrElse(layer, 0.0)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b

    val total = new EngineCounts
    counts.values.foreach(total.add)
    val layerName = spans.filter(_.kind == "layer").map(s => s.id -> s.name).toMap
    val clusterJobs = counts.collect {
      case (g, e) if layerName.get(EngineMeter.groupSpan(g)).contains("dedup.cluster") => e.jobs
    }.sum
    val self = run.tracer.selfSeconds(spans)
    val driver = spans.filter(_.kind == "layer").map(s => self(s.id)).sum

    val fixed = Map(
      "qbo.http.requests" -> ctr("qbo.http.requests"),
      "qbo.http.wasted_requests" -> ctr("qbo.http.wasted_requests"),
      "qbo.http.bytes" -> ctr("qbo.http.bytes"),
      "qbo.http.token_refreshes" -> ctr("qbo.http.token_refreshes"),
      "qbo.stage_s" -> secs("qbo.stage"), "qbo.warehouse_s" -> secs("qbo.warehouse"),
      "qbo.reports_s" -> secs("qbo.reports"),
      "qbo.explode_fanout" -> ratio(ctr("qbo.line_rows"), ctr("qbo.entity_rows")),
      "sources.scan_s" -> secs("sources.scan"), "sources.pages" -> ctr("sources.pages"),
      "sources.rows" -> ctr("sources.rows"),
      "ops.failed_casts" -> ctr("ops.failed_casts"),
      "ops.planted_malformed" -> ctr("ops.planted_malformed"),
      "load.write_s" -> secs("load.write"), "load.readback_s" -> secs("load.readback"),
      "load.rows_written" -> ctr("load.rows_written"),
      "load.files_written" -> ctr("load.files_written"),
      "load.bytes_written" -> ctr("load.bytes_written"),
      "load.stored_bytes_per_row" -> ratio(ctr("load.bytes_written"), ctr("load.rows_written")),
      "functions.shingle_s" -> secs("functions.shingle"),
      "functions.bands_s" -> secs("functions.bands"),
      "functions.interpreted_lambdas" -> total.lambdas.toDouble,
      "dedup.exact_s" -> secs("dedup.exact"), "dedup.lsh_s" -> secs("dedup.lsh"),
      "dedup.verify_s" -> secs("dedup.verify"), "dedup.cluster_s" -> secs("dedup.cluster"),
      "dedup.keep_s" -> secs("dedup.keep"),
      "dedup.candidate_pairs" -> ctr("dedup.candidate_pairs"),
      "dedup.verified_pairs" -> ctr("dedup.verified_pairs"),
      "dedup.candidate_yield" -> ratio(ctr("dedup.verified_pairs"), ctr("dedup.candidate_pairs")),
      "dedup.cluster_jobs" -> clusterJobs.toDouble,
      "dedup.clusters" -> ctr("dedup.clusters"),
      "dedup.planted_pairs" -> ctr("dedup.planted_pairs"),
      "dedup.recall" -> ratio(ctr("dedup.planted_found"), ctr("dedup.planted_pairs")),
      "queries.build_s" -> secs("queries.build"), "queries.exec_s" -> secs("queries.exec"),
      "queries.leaked_rdds" -> ctr("hygiene.rdds"),
      "queries.leaked_tables" -> ctr("hygiene.tables"),
      "queries.scratch_bytes_left" -> ctr("hygiene.scratch_bytes"),
      "spark.plan_s" -> total.planMs / 1e3, "spark.driver_s" -> driver,
      "spark.jobs" -> total.jobs.toDouble, "spark.stages" -> total.stages.toDouble,
      "spark.tasks" -> total.tasks.toDouble,
      "spark.executor_run_s" -> total.executorRunMs / 1e3,
      "spark.executor_cpu_s" -> total.executorCpuNs / 1e9, "spark.gc_s" -> total.gcMs / 1e3,
      "spark.shuffle_write_bytes" -> total.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> total.shuffleRead.toDouble,
      "spark.spill_bytes" -> total.spill.toDouble,
      "spark.peak_exec_mem_bytes" -> total.peakExecMem.toDouble,
      "spark.exchanges" -> total.exchanges.toDouble, "spark.task_skew" -> total.taskSkew)
    fixed ++ c.collect { case (k, v) if k.startsWith("queries.") && k.endsWith(".s") => k -> v }
  }

  /** Layer spans with the engine counts of their job group attached. */
  def annotate(spans: Seq[Span], counts: Map[String, EngineCounts]): Seq[Span] =
    spans.map { s =>
      if (s.kind != "layer") s
      else counts.get(EngineMeter.groupOf(s.id)).map(e => s.copy(attrs = e.attrs)).getOrElse(s)
    }
}
