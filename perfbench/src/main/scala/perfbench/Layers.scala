package perfbench

/** Per-layer metrics of a traced run. Every workload reports every
  * name; a layer a workload does not exercise reads 0.
  */
object Layers {
  val names: Seq[String] = Seq(
    "sources.input_rows", "sources.input_bytes", "sources.scan_task_ms",
    "pipeline.silver_ms", "pipeline.gold_ms", "pipeline.shuffle_write_bytes",
    "pipeline.fetch_wait_ms", "pipeline.dedup_keep_ratio",
    "quality.suite_ms", "quality.jobs",
    "streaming.latest_offset_ms", "streaming.trigger_ms_p50", "streaming.trigger_ms_p99",
    "streaming.add_batch_ms", "streaming.wal_commit_ms", "streaming.planning_ms",
    "streaming.backlog_files", "streaming.input_rows_per_batch",
    "streaming.dedup_state_rows", "streaming.dedup_state_mem_bytes",
    "streaming.agg_state_rows", "streaming.agg_state_mem_bytes",
    "streaming.late_dropped_rows", "streaming.upsert_ms",
    "streaming.upsert_batches", "streaming.upsert_failed_batches",
    "stream.fresh_bronze_p50_ms", "stream.fresh_bronze_p99_ms",
    "stream.fresh_gold_p50_ms", "stream.fresh_gold_p99_ms",
    "stream.gold_failed_share", "stream.generator_late_ms_max", "stream.valid_phases",
    "functions.signature_task_ms",
    "text.score_dedup_ms", "dedup.lsh_ms", "dedup.band_shuffle_bytes",
    "dedup.candidate_pairs", "dedup.verified_pairs", "dedup.candidate_precision",
    "dedup.cc_ms", "curate.planted_recall", "FrameCache.storage_bytes",
    "engine.jobs", "engine.stages", "engine.tasks", "engine.executor_cpu_ms",
    "engine.executor_run_ms", "engine.scheduler_delay_ms", "engine.gc_ms",
    "engine.spill_bytes", "engine.task_skew", "engine.busy_share",
    "baseline.single_core_eps", "memory.live_heap_mb", "trace.overhead_ms")

  /** All names, 0 where the workload left a layer out. */
  def complete(m: Map[String, Double]): Map[String, Double] = {
    val unknown = m.keySet -- names
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    names.map(n => n -> m.getOrElse(n, 0.0)).toMap
  }

  private def sum(tr: Tracer, spans: Seq[Span]): Counters = {
    val c = new Counters
    spans.foreach(s => c.add(tr.counters(s)))
    c
  }

  /** Engine counters over `spans`, per rep. */
  def engine(tr: Tracer, spans: Seq[Span], reps: Int): Map[String, Double] =
    engineOf(sum(tr, spans), reps, spans.map(s => s.endMs - s.startMs).sum)

  /** Counters `c` of `reps` reps that took `wallMs` in all, per rep.
    * `engine.busy_share` is task time over the cores' wall time: the
    * share of the session's capacity the per-row work used; the rest is
    * driver-side job, planning and scheduling time, or idle cores.
    */
  def engineOf(c: Counters, reps: Int, wallMs: Double): Map[String, Double] = Map(
    "engine.busy_share" -> (if (wallMs > 0) c.runMs / (Main.Cores * wallMs) else 0.0),
    "engine.jobs" -> c.jobs.toDouble / reps, "engine.stages" -> c.stages.toDouble / reps,
    "engine.tasks" -> c.tasks.toDouble / reps, "engine.executor_cpu_ms" -> c.cpuMs / reps,
    "engine.executor_run_ms" -> c.runMs.toDouble / reps,
    "engine.scheduler_delay_ms" -> c.schedDelayMs.toDouble / reps,
    "engine.gc_ms" -> c.gcMs.toDouble / reps,
    "engine.spill_bytes" -> c.spillBytes.toDouble / reps, "engine.task_skew" -> c.skew)

  private def medianMs(spans: Seq[Span]): Double =
    Stats.median(spans.map(s => s.endMs - s.startMs))

  def backfill(tr: Tracer, reps: Int, bronzeRows: Long): Map[String, Double] = {
    val silver = tr.named("pipeline.silver")
    val gold = tr.named("pipeline.gold")
    val suite = tr.named("quality.suite")
    val all = sum(tr, silver ++ gold ++ suite)
    val pipe = sum(tr, silver ++ gold)
    engineOf(all, reps, (silver ++ gold ++ suite).map(s => s.endMs - s.startMs).sum) ++ Map(
      "sources.input_rows" -> all.inputRows.toDouble / reps,
      "sources.input_bytes" -> all.inputBytes.toDouble / reps,
      "sources.scan_task_ms" -> all.scanTaskMs.toDouble / reps,
      "pipeline.silver_ms" -> medianMs(silver),
      "pipeline.gold_ms" -> medianMs(gold),
      "pipeline.shuffle_write_bytes" -> pipe.shuffleWriteBytes.toDouble / reps,
      "pipeline.fetch_wait_ms" -> pipe.fetchWaitMs.toDouble / reps,
      "quality.suite_ms" -> medianMs(suite),
      "quality.jobs" -> sum(tr, suite).jobs.toDouble / reps)
  }
}
