package graftbench

/** Names of the per-layer metrics a traced run reports. Every workload
  * reports all of them; a layer the workload does not exercise reads 0. */
object Layers {
  val all: Seq[String] = Seq(
    "ops.build_ms", "ops.build_jobs",
    "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
    "plan.nodes", "plan.exchanges", "plan.scans",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.gap_ms", "sched.slot_busy_frac",
    "exec.run_ms", "exec.driver_gap_ms", "exec.task_run_ms", "exec.task_cpu_ms",
    "exec.task_deser_ms", "exec.gc_ms", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.input_rows",
    "graftlog.append_ms", "graftlog.lag_rows_max", "graftlog.getbatch_ms",
    "stream.batches", "stream.batch_ms", "stream.addbatch_ms", "stream.planning_ms",
    "stream.walcommit_ms", "stream.commitoffsets_ms", "stream.rows_per_batch",
    "stream.state_rows", "stream.state_bytes", "stream.state_commit_ms",
    "stream.catchup_rows_per_s", "stream.freshness_p95_ms",
    "serve.requests", "serve.errors", "serve.sender_late_ms", "serve.jobs_per_live_read",
    "serve.hot_read_p50_ms", "serve.hot_read_p99_ms", "serve.live_read_p50_ms",
    "trace.query_self_ms", "trace.coverage_min_frac", "trace.overhead_frac")

  /** The scheduler listener's finished jobs and stages as spans. */
  def schedSpans(l: SchedListener): Seq[Span] = {
    val (jobs, stages, _) = l.snapshot
    jobs.filterNot(_.end.isNaN).map(j => Span("job", j.start, j.end,
      Map("job" -> j.id.toString) ++ j.streamingQuery.map("streaming_query" -> _))) ++
      stages.map(s => Span("stage", s.start, s.end,
        Map("stage" -> s.id.toString, "tasks" -> s.tasks.toString)))
  }

  def spansJson(spans: Seq[Span]): String = spans.sortBy(_.start).map { s =>
    val attrs = s.attrs.map { case (k, v) => Report.jsonStr(k) + ":" + Report.jsonStr(v) }
    s"""{"name":${Report.jsonStr(s.name)},"start":${s.start},"end":${s.end},"attrs":${attrs.mkString("{", ",", "}")}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
