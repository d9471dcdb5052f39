package perfbench

/** Every metric the harness prints, with its unit. `BENCHMARK.json`
  * lists the same names (MetricNamesSpec keeps the two equal).
  */
object Metrics {

  /** Gated with a bound. Wall-clock and CPU-time metrics are not among
    * them: on a shared VM they shift by up to half for minutes at a
    * time, more than any bound the benchmark may set (README.md,
    * "Steadiness").
    */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "shuffle_mb" -> "MB",
    "peak_rss_mb" -> "MB")

  /** Medians over the untraced passes of a traced run. */
  val passLayer: Seq[(String, String)] = Seq(
    "wall_s" -> "s",
    "input_rows_per_s" -> "1/s",
    "task_s" -> "s",
    "task_cpu_s" -> "s",
    "process_cpu_s" -> "s")

  /** The `query_mix` programs, one from each query group of the
    * engine's `bench = true` headline set, and the group of each. The
    * other ten headline queries are left out to keep a run within the
    * benchmark's time budget; see README.md.
    */
  val queryGroups: Seq[(String, String)] = Seq(
    "q1_pricing_summary" -> "relational",
    "q8_market_share" -> "tpch",
    "q_topk_per_key_native" -> "coverage",
    "pipe_corpus_clean" -> "pipeline",
    "dd_jaccard_ppjoin" -> "dedup",
    "sim_pq_adc" -> "similarity",
    "ev_sliding_agg" -> "events")

  val queries: Seq[String] = queryGroups.map(_._1)
  val groups: Seq[String] = queryGroups.map(_._2).distinct

  val etlLayer: Seq[(String, String)] = Seq(
    "etl.config_load_s" -> "s",
    "etl.plan_s" -> "s",
    "etl.extract_s" -> "s",
    "etl.extract_task_s" -> "s",
    "etl.extract_input_mb" -> "MB",
    "etl.dq_metrics_s" -> "s",
    "etl.dq_metrics_task_s" -> "s",
    "etl.dq_metrics_shuffle_mb" -> "MB",
    "etl.load_s" -> "s",
    "etl.load_task_s" -> "s",
    "etl.load_shuffle_mb" -> "MB",
    "etl.load_jobs" -> "count",
    "etl.load_files" -> "count",
    "etl.load_output_mb" -> "MB",
    "etl.rows_out_ratio" -> "ratio",
    "etl.unaccounted_s" -> "s")

  val sparkLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.scheduler_delay_s" -> "s",
    "spark.shuffle_fetch_wait_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.spill_mb" -> "MB",
    "spark.task_failures" -> "count")

  val perLayer: Seq[(String, String)] =
    passLayer ++ etlLayer ++
      queries.flatMap(q => Seq(s"query.$q.s" -> "s", s"query.$q.task_s" -> "s",
        s"query.$q.shuffle_mb" -> "MB")) ++
      groups.map(g => s"queries.$g.plan_s" -> "s") ++
      sparkLayer ++
      Seq("trace.overhead_s" -> "s", "failed_frac" -> "ratio")

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
