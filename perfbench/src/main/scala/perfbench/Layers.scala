package perfbench

/** The per-layer metrics a traced run reports. Every traced run prints
  * all of them; a layer the workload never enters reads 0. */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "setup.session_ms" -> "ms",
    "setup.warmup_ms" -> "ms",
    "ops.construct_ms" -> "ms",
    "ops.construct_jobs" -> "count",
    "plan.plan_ms" -> "ms",
    "exec.jobs" -> "count",
    "exec.stages" -> "count",
    "exec.task_ms" -> "ms",
    "exec.cpu_ms" -> "ms",
    "exec.gc_ms" -> "ms",
    "exec.shuffle_write_bytes" -> "bytes",
    "exec.shuffle_read_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes",
    "exec.failed_tasks" -> "count",
    "trigger.latestOffset_ms" -> "ms",
    "trigger.queryPlanning_ms" -> "ms",
    "trigger.getBatch_ms" -> "ms",
    "trigger.addBatch_ms" -> "ms",
    "trigger.walCommit_ms" -> "ms",
    "trigger.commitOffsets_ms" -> "ms",
    "trigger.data_epoch_ratio" -> "ratio",
    "state.rows_total" -> "count",
    "state.memory_bytes" -> "bytes",
    "state.commit_ms" -> "ms",
    "state.dup_rows_dropped" -> "count",
    "state.late_rows_dropped" -> "count",
    "ledger.sink_ms" -> "ms",
    "ledger.sink_jobs" -> "count",
    "ledger.epochs" -> "count",
    "ledger.replayed_epochs" -> "count",
    "source.backlog_rows" -> "count",
    "docs.rows_read" -> "count",
    "docs.scan_task_ms" -> "ms",
    "kv.write_task_ms" -> "ms",
    "kv.bytes_written" -> "bytes",
    "kv.files_written" -> "count",
    "mem.peak_rss_mb" -> "MB",
    "trace.overhead_ms" -> "ms",
    "trace.spans" -> "count")

  def set(res: Result, name: String, v: Double): Unit = {
    val unit = All.find(_._1 == name).map(_._2)
      .getOrElse(throw new IllegalArgumentException(s"undeclared layer metric $name"))
    res.layers(name) = (v, unit)
  }

  /** Task-level totals, divided by `per` (passes or drains). */
  def exec(res: Result, w: Work, per: Double): Unit = {
    set(res, "exec.jobs", w.jobs / per)
    set(res, "exec.stages", w.stages / per)
    set(res, "exec.task_ms", w.taskMs / per)
    set(res, "exec.cpu_ms", w.cpuMs / per)
    set(res, "exec.gc_ms", w.gcMs / per)
    set(res, "exec.shuffle_write_bytes", w.shuffleWrite / per)
    set(res, "exec.shuffle_read_bytes", w.shuffleRead / per)
    set(res, "exec.spill_bytes", w.spill / per)
    set(res, "exec.failed_tasks", w.failedTasks.toDouble)
  }

  /** Tracing overhead: the traced phase minus the mean of the untraced
    * phases run before and after it in the same JVM (the JVM keeps
    * warming, so one untraced phase alone would bias the difference). */
  def overhead(res: Result, what: String, before: Double, traced: Double, after: Double): Unit = {
    val untraced = (before + after) / 2
    set(res, "trace.overhead_ms", traced - untraced)
    res.say(f"tracing overhead ($what): traced $traced%.1f ms - untraced mean($before%.1f, $after%.1f) ms " +
      f"= ${traced - untraced}%+.1f ms (${(traced / untraced - 1) * 100}%+.1f%%)")
  }

  def writeSpans(tracer: Tracer, ctx: Ctx, res: Result): Unit = {
    tracer.write(ctx.workDir.resolve("spans.jsonl"))
    set(res, "trace.spans", tracer.spans.size.toDouble)
    res.say(s"spans: ${tracer.spans.size} recorded (.bench_build/traces/${ctx.workload}-seed${ctx.seed}.jsonl)")
  }

  /** Fill every declared metric the workload did not set with 0. */
  def complete(res: Result): Unit =
    All.foreach { case (n, u) => if (!res.layers.contains(n)) res.layers(n) = (0.0, u) }
}
