package perfbench

/** Per-layer metrics of a traced run, from its spans and Spark counters.
  * Counts are per pass (one pass over the cities, or one round of the
  * serving mix), so runs of different lengths compare.
  */
object Layers {
  private val mb = 1024.0 * 1024.0

  /** Spark counters of the measured work `c`, per pass. */
  def spark(c: SparkCounters#C, passes: Double, wallMs: Double, gcS: Double, compiles: Long,
      compileMs: Double, cores: Int): Map[String, Double] = Map(
    "spark.jobs" -> c.jobs / passes,
    "spark.stages" -> c.stages / passes,
    "spark.tasks" -> c.tasks / passes,
    "spark.shuffle_write_mb" -> c.shuffleWrite / mb / passes,
    "spark.spill_mb" -> c.spill / mb / passes,
    "spark.input_mb" -> c.input / mb / passes,
    "spark.output_mb" -> c.output / mb / passes,
    "spark.executor_busy_ratio" -> c.runMs / (cores * wallMs),
    "spark.codegen_compiles" -> compiles / passes,
    "spark.codegen_ms" -> compileMs / passes,
    "spark.gc_s" -> gcS / passes)

  /** The traced run's own pass time (against the untraced runs' `pass_s` it
    * gives the tracing overhead) and the share of the measured wall, from
    * `startNs`, that the top-level spans cover.
    */
  def trace(spans: Seq[Span], passMs: Double, startNs: Long, wallMs: Double): Map[String, Double] =
    Map(
      "trace.pass_s" -> passMs / 1000.0,
      "trace.span_coverage" ->
        coverage(spans.filter(_.parent == 0), startNs, startNs + (wallMs * 1e6).toLong) / wallMs,
      "trace.spans" -> spans.size.toDouble)

  /** Milliseconds of the window [fromNs, toNs] covered by at least one span. */
  def coverage(spans: Seq[Span], fromNs: Long = Long.MinValue, toNs: Long = Long.MaxValue): Double = {
    var covered, lo, hi = 0L
    var open = false
    spans.map(s => (math.max(s.startNs, fromNs), math.min(s.endNs, toNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (!open || a > hi) { if (open) covered += hi - lo; lo = a; hi = b; open = true }
        else hi = math.max(hi, b)
      }
    if (open) covered += hi - lo
    covered / 1e6
  }

  def unit(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.contains("ratio") || name.contains("per_input_byte") ||
      name.contains("amplification") || name.endsWith("coverage")) "ratio"
    else "count"

  val serveRoutes: Seq[String] = Seq("dashboard_rollup", "dashboard_scan", "suggest",
    "fields", "histogram", "geotile", "search", "search_filtered", "esql", "malformed")

  /** Every per-layer metric name; a traced run reports all of them, 0 for a
    * layer its workload does not exercise.
    */
  val names: Seq[String] =
    Seq("serve.latency_p50_ms", "serve.latency_tail_ms", "serve.wire_overhead_ms",
      "serve.inflight_mean", "serve.generator_lag_ms", "serve.jobs_per_request", "serve.tasks_per_request",
      "serve.schema_infer_jobs_per_request") ++
      serveRoutes.map(r => s"serve.route.${r}_p50_ms") ++
      Seq("query.build_ms", "query.analysis_ms", "query.optimization_ms",
        "query.planning_ms", "query.exec_ms",
        "dict.profile_s", "dict.profile_build_ms", "dict.input_read_ratio",
        "etl.harmonize_s", "etl.harmonize_jobs",
        "store.write_s", "store.bytes_written_per_input_byte", "store.files_written",
        "store.read_amplification",
        "registry.build_s", "registry.build_jobs", "registry.schema_infer_jobs",
        "registry.action_s",
        "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_mb",
        "spark.spill_mb", "spark.input_mb", "spark.output_mb", "spark.executor_busy_ratio",
        "spark.codegen_compiles", "spark.codegen_ms", "spark.gc_s",
        "trace.pass_s", "trace.span_coverage", "trace.spans")
}
