package perfbench

/** Per-layer metrics of a traced window. Times, counts and volumes are
  * per cycle; ratios and percentiles are over the whole window. Layers
  * a workload does not touch report 0.
  */
final case class LayerMetrics(metrics: Seq[(String, Double, String)],
    layers: Seq[Layers], outside: Seq[Map[String, Any]])

object LayerMetrics {
  val modules: Seq[String] = (Keys.sqlModules ++ Keys.llmModules).map(_._1)

  def apply(t: Trace, w: Workload, ops: Seq[Op], cycles: Int, gcS: Double,
      overhead: Double): LayerMetrics = {
    val ls = ops.map(t.layers)
    val c = cycles.toDouble
    val mb = 1048576.0
    val jobs = ls.flatMap(_.jobs)
    val tasks = t.tasksOf(jobs)
    val cores = Runtime.getRuntime.availableProcessors()
    def per(x: Double) = x / c
    def phase(n: String) = per(ls.flatMap(_.phases).collect {
      case (`n`, s, e) => e - s }.sum / 1000.0)
    def named(n: String) = ls.filter(_.op.name == n)
    def wall(n: String) = per(named(n).map(_.op.wallS).sum)
    val lookups = ls.filter(_.op.kind == "lookup")
    val lookupTasks = t.tasksOf(lookups.flatMap(_.jobs))
    val refresh = w match { case g: GenesisRefresh => Some(g); case _ => None }
    val gen = refresh.map(_.gen)

    val m = Seq(
      ("build.wall_s", per(ops.map(_.buildS).sum), "s"),
      ("build.eager_jobs", per(ls.map(_.buildJobs).sum), "count"),
      ("catalyst.analysis_s", phase("analysis"), "s"),
      ("catalyst.optimization_s", phase("optimization"), "s"),
      ("catalyst.planning_s", phase("planning"), "s"),
      ("catalyst.executions", per(ls.flatMap(_.phases).count(_._1 == "planning")), "count"),
      ("scheduler.jobs", per(jobs.size), "count"),
      ("scheduler.stages", per(jobs.map(_.stages.size).sum - t.skippedStages(jobs)), "count"),
      ("scheduler.skipped_stages", per(t.skippedStages(jobs)), "count"),
      ("scheduler.tasks", per(tasks.size), "count"),
      ("scheduler.task_delay_s", per(tasks.map(_.delayMs).sum / 1000.0), "s"),
      ("scheduler.driver_idle_s", per(ls.map(_.idleMs).sum / 1000.0), "s"),
      ("exec.run_s", per(tasks.map(_.runMs).sum / 1000.0), "s"),
      ("exec.cpu_s", per(tasks.map(_.cpuNs).sum / 1e9), "s"),
      ("exec.gc_s", per(tasks.map(_.gcMs).sum / 1000.0), "s"),
      ("exec.busy_ratio", tasks.map(_.runMs).sum / 1000.0 /
        (ops.map(_.wallS).sum * cores), "ratio"),
      ("exec.shuffle_write_mb", per(tasks.map(_.shuffleWrite).sum / mb), "MB"),
      ("exec.shuffle_read_mb", per(tasks.map(_.shuffleRead).sum / mb), "MB"),
      ("exec.fetch_wait_s", per(tasks.map(_.fetchWaitMs).sum / 1000.0), "s"),
      ("exec.spill_mb", per(tasks.map(_.spill).sum / mb), "MB"),
      ("exec.input_mb", per(tasks.map(_.inputBytes).sum / mb), "MB"),
      ("exec.peak_mem_mb", tasks.map(_.peakMem).maxOption.getOrElse(0L) / mb, "MB"),
      ("exec.task_success_ratio",
        if (tasks.isEmpty) 1.0 else tasks.count(_.ok).toDouble / tasks.size, "ratio"),
      ("plans.read_headers_s", per(named("refresh_docs").map(_.buildJobMs).sum / 1000.0), "s"),
      ("plans.parse_all_build_s", per(named("refresh_docs").map(_.op.buildS).sum), "s"),
      ("plans.cubes", gen.map(_.rev1.size.toDouble).getOrElse(0.0), "count"),
      ("plans.cells", gen.map(_.cells.toDouble).getOrElse(0.0), "count"),
      ("plans.docs", gen.map(_.docs.toDouble).getOrElse(0.0), "count"),
      ("sources.cube_scan_s", wall("cube_scan"), "s"),
      ("sources.write_cells_s", wall("refresh_cells"), "s"),
      ("sources.write_docs_s",
        per(named("refresh_docs").map(l => l.op.wallS - l.op.buildS).sum), "s"),
      ("sources.bytes_written", refresh.map(_.bytesWritten.toDouble).getOrElse(0.0), "bytes"),
      ("sources.files_written", refresh.map(_.filesWritten.toDouble).getOrElse(0.0), "count"),
      ("sources.write_amplification",
        refresh.map(r => r.bytesWritten.toDouble / r.gen.inputBytes).getOrElse(0.0), "ratio"),
      ("sources.lookup_bytes_read", if (lookups.isEmpty) 0.0
        else lookupTasks.map(_.inputBytes).sum.toDouble / lookups.size, "bytes"),
      ("sources.lookup_rows_scanned_per_row", gen.map { g =>
        lookupTasks.map(_.inputRecords).sum.toDouble /
          math.max(1L, g.lookups.map(_.rows).sum * cycles)
      }.getOrElse(0.0), "ratio")) ++
      modules.map(mod => (s"module.$mod.wall_s",
        per(ops.filter(_.module == mod).map(_.wallS).sum), "s")) ++ Seq(
      ("storage.residual_mb", Stats.median(ops.map(_.storageMb)), "MB"),
      ("jvm.driver_gc_s", per(gcS), "s"),
      ("log.error_lines", per(t.errorLines.get.toDouble), "count"),
      ("log.warn_lines", per(t.warnLines.get.toDouble), "count"),
      ("llm.p80_s", Stats.pct(ops.filter(o => o.kind == w.requestKind && Keys.isLlm(o.name))
        .map(_.wallS), 0.8), "s"),
      ("trace_overhead", overhead, "ratio"),
      ("layer_sum.max_error", ls.map(_.sumError).maxOption.getOrElse(0.0), "ratio"),
      ("layer_sum.ops_outside", ls.count(_.sumError > 0.10).toDouble, "count"))

    val outside = ls.filter(_.sumError > 0.10).map(l => Map[String, Any](
      "op" -> l.op.name, "cycle" -> l.op.cycle, "wall_ms" -> l.wallMs,
      "build_ms" -> l.buildMs, "catalyst_ms" -> l.catalystMs, "jobs_ms" -> l.jobMs,
      "idle_ms" -> l.idleMs, "error" -> l.sumError))
    LayerMetrics(m.map { case (n, v, u) => (n, if (v.isNaN) 0.0 else v, u) }, ls, outside)
  }
}
