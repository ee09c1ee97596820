package perfbench

/** The per-layer metrics of one traced pass. Layers are the engine's
  * modules; each op is attributed to the module its function lives in.
  * Every workload reports the full set, with zeros for layers it does not
  * call, so the two workloads' traced runs share one metric list.
  */
object Layers {
  val Modules = Seq("ops", "quality", "etl", "api", "sources")
  private val EtlCalls = Seq("voxelize", "instanceTable", "instanceTableCC")

  def metrics(rec: Recorder, pass: Main.Pass, overheadS: Double, filesWritten: Long,
      kernels: Map[String, Double]): Seq[(String, (Double, String))] = {
    val ts = pass.timings
    def counters(sel: Seq[Main.Timing]): Counters = {
      val c = new Counters
      sel.foreach(t => c.add(rec.total(s"${t.id}/")))
      c
    }
    def named(n: String) = ts.filter(_.op.name == n)
    def secs(sel: Seq[Main.Timing]) = sel.map(_.seconds).sum
    def med(n: String) = Stats.median(named(n).map(_.seconds))

    val all = counters(ts)
    val plans = Seq(
      "plans.analysis_ms" -> (all.analysisMs.toDouble, "ms"),
      "plans.optimization_ms" -> (all.optimizationMs.toDouble, "ms"),
      "plans.planning_ms" -> (all.planningMs.toDouble, "ms"))
    val tables = Seq(
      "tables.scan_mb" -> (all.inBytes / 1e6, "MB"),
      "tables.scan_rows" -> (all.inRows.toDouble, "count"),
      "tables.scan_files" -> (all.scanFiles.toDouble, "count"),
      "tables.fanout_exchanges" -> (all.fanouts.toDouble, "count"))
    val layers = Modules.flatMap { l =>
      val sel = ts.filter(_.op.layer == l)
      val c = counters(sel)
      Seq(
        "construct_s" -> (sel.map(_.constructS).sum, "s"),
        "execute_s" -> (sel.map(_.executeS).sum, "s"),
        "jobs" -> (c.jobs.toDouble, "count"),
        "stages" -> (c.stages.toDouble, "count"),
        "tasks" -> (c.tasks.toDouble, "count"),
        "cpu_s" -> (c.cpuNs / 1e9, "s"),
        "gc_s" -> (c.gcMs / 1e3, "s"),
        "shuffle_write_mb" -> (c.shuffleWrite / 1e6, "MB"),
        "shuffle_read_mb" -> (c.shuffleRead / 1e6, "MB"),
        "fetch_wait_s" -> (c.fetchWaitMs / 1e3, "s"),
        "spill_mb" -> (c.spill / 1e6, "MB"),
        "peak_exec_mem_mb" -> (c.peakMem / 1e6, "MB"),
        "failed_tasks" -> (c.failedTasks.toDouble, "count")).map { case (k, v) => s"$l.$k" -> v }
    }
    val cc = ts.filter(_.op.module == "ops.GraphOps")
    val graph = Seq(
      "ops.GraphOps.cc_s" -> (secs(cc), "s"),
      "ops.GraphOps.cc_jobs" -> (if (cc.isEmpty) 0.0 else counters(cc).jobs.toDouble / cc.size, "count"))
    val etl = EtlCalls.map(n => s"etl.EventPipelines.${n}_s" -> (secs(named(n)), "s")) ++ Seq(
      "etl.SinkOps.sortedWrite_s" -> (secs(ts.filter(_.op.name.startsWith("sortedWrite"))), "s"),
      "etl.files_written" -> (filesWritten.toDouble, "count"))
    val lookups = named("key_lookup") ++ named("index_build") ++ named("index_lookup")
    val samples = named("sample")
    val epoch = named("epoch")
    val api = Seq(
      "api.EventReader.key_lookup_s" -> (med("key_lookup"), "s"),
      "api.EventReader.index_build_s" -> (med("index_build"), "s"),
      "api.EventReader.index_lookup_s" -> (med("index_lookup"), "s"),
      "api.EventReader.sample_s" -> (med("sample"), "s"),
      "api.EventReader.slice_s" -> (med("slice"), "s"),
      "api.EventReader.epoch_events_per_s" -> (
        epoch.map(t => t.op.rows / t.seconds).headOption.getOrElse(0.0), "1/s"),
      "api.rows_scanned_per_hit" -> (
        if (lookups.isEmpty) 0.0 else counters(lookups).inRows.toDouble / lookups.map(_.op.rows).sum,
        "count"),
      "api.jobs_per_sample" -> (
        if (samples.isEmpty) 0.0 else counters(samples).jobs.toDouble / samples.size, "count"))
    val tensor = Kernels.names.map(k => s"tensor.${k}_rows_per_s" -> (kernels.getOrElse(k, 0.0), "1/s"))
    val perQuery = Mix.perQuery.map { m =>
      m -> (secs(named(m.stripPrefix("quality.").stripSuffix("_s"))), "s")
    }
    plans ++ tables ++ layers ++ graph ++ etl ++ api ++ tensor ++ perQuery ++
      Seq("trace.overhead_s" -> (overheadS, "s"))
  }
}
