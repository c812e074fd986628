package perfbench

/** The per-layer metric names a traced run reports, in output order, and
  * the Spark counters attributed to each traced span. Layers are the
  * program's modules: `pipeline`, `sources`, `plans`, `operators` (the
  * `functions` kernels run inside operator spans and show as their task
  * CPU). A metric a workload does not exercise reads 0. */
object Layers {

  /** Spans whose Spark counters are reported, with whether they shuffle. */
  val CountedSpans: Seq[(String, Boolean)] = Seq(
    "pipeline.decode" -> false, "pipeline.chunk" -> false, "pipeline.embed" -> false,
    "pipeline.events" -> false, "sources.store_write" -> true, "sources.lookup" -> false,
    "operators.knn_exec" -> false, "operators.ivf_append" -> true,
    "operators.lsh_candidate" -> true, "operators.lsh_verify" -> true,
    "operators.components" -> true)

  private val layerMetrics: Seq[(String, String)] = Seq(
    "pipeline.decode_s" -> "s", "pipeline.decode_mb_per_s" -> "MB/s",
    "pipeline.chunk_s" -> "s", "pipeline.chunks" -> "count",
    "pipeline.embed_s" -> "s", "pipeline.embed_batches" -> "count",
    "pipeline.embed_zero_vectors" -> "count",
    "pipeline.query_embed_ms" -> "ms", "pipeline.summarize_ms" -> "ms", "pipeline.events_ms" -> "ms",
    "sources.store_write_s" -> "s", "sources.store_files" -> "count",
    "sources.stored_bytes_per_text_byte" -> "ratio",
    "sources.construct_ms" -> "ms", "sources.scan_files" -> "count", "sources.scan_mb" -> "MB",
    "sources.lookup_ms" -> "ms",
    "plans.analysis_ms" -> "ms", "plans.optimization_ms" -> "ms", "plans.planning_ms" -> "ms",
    "plans.cells_probed" -> "count", "plans.rewrite_hit_ratio" -> "ratio",
    "operators.knn_exec_ms" -> "ms", "operators.knn_rows_scanned" -> "count",
    "operators.ivf_build_s" -> "s", "operators.ivf_append_s" -> "s",
    "operators.ivf_files_per_cell" -> "count",
    "operators.lsh_candidate_s" -> "s", "operators.lsh_candidates" -> "count",
    "operators.lsh_verify_s" -> "s", "operators.lsh_precision" -> "ratio",
    "operators.components_s" -> "s", "operators.components_jobs" -> "count",
    "serve.requests" -> "count",
    "trace.overhead_op_p50_ms" -> "ms", "trace.overhead_share" -> "ratio",
    "trace.overhead_work_per_s" -> "1/s", "trace.spans" -> "count")

  private def counterMetrics(span: String, shuffles: Boolean): Seq[(String, String)] =
    Seq(s"$span.jobs" -> "count", s"$span.stages" -> "count", s"$span.tasks" -> "count",
      s"$span.task_cpu_s" -> "s", s"$span.task_gc_s" -> "s",
      s"$span.core_idle_share" -> "ratio") ++
      (if (shuffles) Seq(s"$span.shuffle_write_mb" -> "MB", s"$span.shuffle_read_mb" -> "MB")
       else Nil)

  val names: Seq[(String, String)] =
    layerMetrics ++ CountedSpans.flatMap { case (s, sh) => counterMetrics(s, sh) }

  /** Per-call means of each counted span's Spark counters. */
  def spanCounters(t: Tracer): Map[String, Double] = {
    val cores = Runtime.getRuntime.availableProcessors()
    CountedSpans.flatMap { case (name, _) =>
      val ss = t.named(name)
      if (ss.isEmpty) Nil
      else {
        val cs = ss.map(t.counters)
        def mean(f: Counters => Double) = cs.map(f).sum / cs.length
        Seq(s"$name.jobs" -> mean(_.jobs.toDouble), s"$name.stages" -> mean(_.stages.toDouble),
          s"$name.tasks" -> mean(_.tasks.toDouble), s"$name.task_cpu_s" -> mean(_.cpuNs / 1e9),
          s"$name.task_gc_s" -> mean(_.gcMs / 1e3),
          s"$name.shuffle_write_mb" -> mean(_.shuffleWrite / 1048576.0),
          s"$name.shuffle_read_mb" -> mean(_.shuffleRead / 1048576.0),
          s"$name.core_idle_share" -> Stats.mean(ss.zip(cs).map { case (s, c) =>
            1.0 - c.runMs / math.max(1e-9, s.ms * cores) }))
      }
    }.toMap
  }
}
