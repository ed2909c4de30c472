package perfbench

/** The per-layer metrics every traced run prints, named by the module
  * they measure. A layer a workload does not exercise reads 0 there.
  * `perfbench/README.md` lists which end-to-end metric each should
  * move, on which workload. */
object Layers {
  val queryModules: Seq[String] = Seq("CoreQueries", "JoinQueries", "AggQueries",
    "WindowQueries", "ScalarQueries", "SqlSurfaceQueries", "IndicatorQueries",
    "BehaviorQueries", "EtlQueries", "StarPipelineQueries", "NorthStarQueries",
    "ExtendedQueries", "TrainPrepQueries", "CorpusStatsQueries", "CorpusCleanQueries")

  /** (name, unit, per pass): a per-pass metric is a total over the
    * run's fixed work, divided by the number of passes. */
  val all: Seq[(String, String, Boolean)] = Seq(
    ("queries.build_ms", "ms", true), ("queries.build_jobs", "count", true),
    ("plan.analysis_ms", "ms", true), ("plan.optimization_ms", "ms", true),
    ("plan.planning_ms", "ms", true),
    ("exec.ms", "ms", true), ("exec.jobs", "count", true), ("exec.stages", "count", true),
    ("exec.stages_skipped", "count", true), ("exec.tasks", "count", true),
    ("exec.failed_tasks", "count", true), ("exec.executor_run_ms", "ms", true),
    ("exec.executor_cpu_ms", "ms", true), ("exec.deserialize_ms", "ms", true),
    ("exec.result_ser_ms", "ms", true), ("exec.scheduler_delay_ms", "ms", true),
    ("exec.gc_ms", "ms", true), ("exec.busy_frac", "ratio", false),
    ("exec.spill_mb", "MB", true), ("exec.peak_mem_mb", "MB", false),
    ("shuffle.write_mb", "MB", true), ("shuffle.write_ms", "ms", true),
    ("shuffle.read_mb", "MB", true), ("shuffle.fetch_wait_ms", "ms", true),
    ("scan.input_mb", "MB", true), ("sources.land_ms", "ms", true)) ++
    queryModules.map(m => (s"module.$m.ms", "ms", true)) ++ Seq(
    ("memo.cached_mb", "MB", false),
    ("serve.inproc_ms", "ms", false), ("serve.render_ms", "ms", false),
    ("serve.jobs_per_req", "count", false), ("serve.tasks_per_req", "count", false),
    ("serve.input_mb_per_req", "MB", false), ("serve.refresh_ms", "ms", false),
    ("serve.reload_ms", "ms", false), ("serve.refresh_swap_frac", "ratio", false),
    ("serve.status_4xx", "count", true), ("serve.status_5xx", "count", true),
    ("streaming.publish_ms", "ms", false), ("streaming.write_mb", "MB", true),
    ("streaming.write_amp", "ratio", false), ("etl.star_build_ms", "ms", false),
    ("jvm.gc_ms", "ms", true), ("jvm.heap_peak_mb", "MB", false),
    ("trace.wall_s", "s", false), ("trace.op_self_ms", "ms", true))

  private val mb = 1048576.0

  /** The listener's counters as exec/shuffle/scan metrics (run totals).
    * Busy fraction: executor run time over the wall the cores were
    * available for. */
  def fromCounters(c: Counters, wallMs: Double, cores: Int): Map[String, Double] = Map(
    "exec.jobs" -> c.jobs.toDouble, "exec.stages" -> c.stages.toDouble,
    "exec.stages_skipped" -> c.stagesSkipped.toDouble, "exec.tasks" -> c.tasks.toDouble,
    "exec.failed_tasks" -> c.failedTasks.toDouble,
    "exec.executor_run_ms" -> c.runMs.toDouble, "exec.executor_cpu_ms" -> c.cpuMs.toDouble,
    "exec.deserialize_ms" -> c.deserializeMs.toDouble,
    "exec.result_ser_ms" -> c.resultSerMs.toDouble,
    "exec.scheduler_delay_ms" -> c.schedulerDelayMs.toDouble, "exec.gc_ms" -> c.gcMs.toDouble,
    "exec.busy_frac" -> (if (wallMs > 0) c.runMs / (wallMs * cores) else 0.0),
    "exec.spill_mb" -> c.spillBytes / mb, "exec.peak_mem_mb" -> c.peakMemBytes / mb,
    "shuffle.write_mb" -> c.shuffleWriteBytes / mb, "shuffle.write_ms" -> c.shuffleWriteMs.toDouble,
    "shuffle.read_mb" -> c.shuffleReadBytes / mb, "shuffle.fetch_wait_ms" -> c.fetchWaitMs.toDouble,
    "scan.input_mb" -> c.inputBytes / mb)

  /** Every per-layer metric, from the run's `values` (missing = 0),
    * per-pass totals divided by `passes`. */
  def metrics(values: Map[String, Double], passes: Int): Seq[(String, Harness.Metric)] = {
    val unknown = values.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"undeclared layer metrics: ${unknown.mkString(", ")}")
    all.map { case (name, unit, perPass) =>
      val v = values.getOrElse(name, 0.0)
      name -> Harness.Metric(if (perPass) v / passes else v, unit)
    }
  }
}
