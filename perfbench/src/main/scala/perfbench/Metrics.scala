package perfbench

/** Every metric name the benchmark prints, with its unit. BENCHMARK.json
  * lists the same names; `run.py` refuses a result whose names differ. */
object Metrics {

  val endToEnd: Seq[String] = Seq("setup_s", "wall_s", "op_p50_s",
    "op_tail_s", "freshness_p50_s", "retained_heap_mb", "write_amp",
    "space_amp")

  val packs: Seq[String] = Seq("relational", "windowed", "statistical",
    "text", "dedup", "similarity", "mergestream", "multimodal", "spatial",
    "skew", "sketch", "graph")

  val perLayer: Seq[String] =
    Seq("graft.session_s", "graft.inputs_s", "graft.derived_build_s",
      "graft.warmup_s", "graft.peak_rss_mb", "graft.ops",
      "graft.op_tail_pct",
      "operators.build_s", "operators.build_jobs", "operators.build_share",
      "operators.exec_s") ++
    packs.map(p => s"operators.${p}_s") ++
    Seq("plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
      "plans.grouped_topk_ops", "plans.summary_rewrite_ops",
      "functions.kernel_cpu_s",
      "sources.mag_parse_s", "sources.mag_rows_per_s",
      "sources.upsert_appends", "sources.upsert_rewrites",
      "sources.ingest_written_mb", "sources.reingest_written_mb",
      "sources.files_written", "sources.live_files",
      "sources.store_files_max", "sources.compactions", "sources.store_mb",
      "cte.ingest_master_s", "cte.ingest_fileinfo_s", "cte.ingest_phot_s",
      "cte.reingest_s", "cte.slopes_s", "cte.publish_s", "cte.plots_s",
      "cte.jobs_per_cycle", "cte.slope_rows",
      "streaming.trigger_s", "streaming.add_batch_s", "streaming.planning_s",
      "streaming.wal_s", "streaming.plain_batch_s",
      "streaming.compaction_batch_s", "streaming.backlog_max",
      "streaming.generator_late_s", "streaming.live_fraction",
      "streaming.pruned_batches", "streaming.hits_rows",
      "engine.jobs", "engine.stages", "engine.tasks", "engine.task_run_s",
      "engine.task_cpu_s", "engine.parallelism", "engine.shuffle_read_mb",
      "engine.shuffle_write_mb", "engine.spill_mb", "engine.gc_s",
      "engine.task_skew",
      "trace.wall_s", "trace.overhead_s", "trace.spans")

  def unitOf(name: String): String = name match {
    case n if n.endsWith("_per_s") => "1/s"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_pct") => "%"
    case "write_amp" | "space_amp" | "operators.build_share" |
         "streaming.live_fraction" | "engine.parallelism" |
         "engine.task_skew" => "ratio"
    case _ => "count"
  }

  /** `setup_s` and its parts, read just before the first timed op:
    * `setup_s` runs from JVM start, so it also holds JVM start-up and
    * class loading, which no part covers. */
  def putSetup(run: Run, session: Double, inputs: Double, derived: Double,
               warm: Double): Unit = {
    run.put("graft.session_s", session)
    run.put("graft.inputs_s", inputs)
    run.put("graft.derived_build_s", derived)
    run.put("graft.warmup_s", warm)
    run.put("setup_s", run.sinceJvmStart())
    System.err.println(f"[perfbench] set-up ${run.metrics("setup_s")}%.1f s: " +
      f"session $session%.1f, inputs $inputs%.1f, derived $derived%.1f, " +
      f"warm-up $warm%.1f")
  }

  /** Engine totals of a phase, as the `engine.*` metrics. */
  def putEngine(run: Run, c: EngineCounts, wallS: Double): Unit = {
    run.put("engine.jobs", c.jobs)
    run.put("engine.stages", c.stages)
    run.put("engine.tasks", c.tasks)
    run.put("engine.task_run_s", c.runMs / 1e3)
    run.put("engine.task_cpu_s", c.cpuNs / 1e9)
    run.put("engine.parallelism", c.runMs / 1e3 / wallS)
    run.put("engine.shuffle_read_mb", c.shuffleRead / 1048576.0)
    run.put("engine.shuffle_write_mb", c.shuffleWrite / 1048576.0)
    run.put("engine.spill_mb", c.spill / 1048576.0)
    run.put("engine.gc_s", c.gcMs / 1e3)
    run.put("engine.task_skew", c.skew)
  }

  /** The op-latency metrics shared by all workloads. */
  def putOps(run: Run, latencies: Seq[Double]): Unit = {
    val (tail, pct, n) = Stats.tail(latencies)
    run.put("op_p50_s", Stats.median(latencies))
    run.put("op_tail_s", tail)
    run.put("graft.ops", n)
    run.put("graft.op_tail_pct", pct)
    System.err.println(f"[perfbench] op_tail_s is p$pct%.1f of n=$n ops")
  }
}
