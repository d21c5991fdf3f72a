package perfbench

/** The per-layer metrics of a traced section, named after the engine's
  * layers: session, entry, action, plan, sched, exec, shuffle, sources,
  * sink, cache and jvm, plus the self time of every span level and the
  * tracing overhead. Counts and times are totals over the section's ops.
  */
object Layers {

  def metrics(cfg: Config, w: Workload, trace: Trace, setups: Seq[(Double, Double, Double)],
      untraced: Section, s: Section, rec: Recorder): Seq[(String, Double, String)] =
    rec.synchronized {
      val setupRoot = trace.add(0, "setup", "", setups.head._1, setups.last._3)
      setups.foreach { case (a, b, c) =>
        trace.add(setupRoot, "session.build", "", a, b)
        trace.add(setupRoot, "warmup", "", b, c)
      }
      // one op runs at a time, so a planning record belongs to the op
      // during which it began
      val plans = s.results.map(r =>
        r.tag -> rec.plans.filter(p => p.start >= r.start && p.start <= r.end).toSeq).toMap
      def planS(f: rec.Plan => Long, ps: Iterable[rec.Plan]): Double = ps.map(f).sum / 1e3
      val runSpan = trace.add(0, "run", "", s.start, s.end)
      s.results.foreach { r =>
        val ps = plans(r.tag)
        val op = trace.add(runSpan, "op", r.tag, r.start, r.end, Map(
          "failed" -> (if (r.error.isDefined) 1.0 else 0.0),
          "planned_queries" -> ps.size.toDouble,
          "analysis_s" -> planS(_.analysisMs, ps), "optimization_s" -> planS(_.optimizationMs, ps),
          "planning_s" -> planS(_.planningMs, ps)))
        trace.add(op, "entry.construct", r.tag, r.start, r.built)
        trace.add(op, "action", r.tag, r.built, r.end)
      }
      trace.addSpark(rec)

      val tags = s.results.map(_.tag).toSet
      val sqls = rec.sqls.values.filter(x => tags(x.group)).toSeq
      val jobs = rec.jobs.values.filter(j => tags(j.group)).toSeq
      val stages = rec.stages.values.filter(st => tags(st.group)).toSeq
      val agg = new TaskAgg
      stages.foreach(st => agg.addAll(st.agg))
      val stageIds = stages.map(_.id).toSet
      val useful = rec.usefulTasks.count { case (id, _) => stageIds(id) }

      val spans = trace.all
      val byId = spans.map(x => x.id -> x).toMap
      def inConstruct(x: Span): Boolean =
        byId.get(x.parent).exists(p => p.name == "entry.construct" || inConstruct(p))
      val constructJobs = spans.count(x => x.name == "job" && inConstruct(x))
      val self = trace.selfTimeS

      val nOps = s.results.size.toDouble
      val wall = s.wallS
      val runS = agg.runMs / 1e3
      val input = w.inputBytesPerOp.toDouble * nOps
      def sec(ms: Long): Double = ms / 1e3
      val setupBuild = Main.median(setups.map { case (a, b, _) => (b - a) / 1e3 })
      val setupWarm = Main.median(setups.map { case (_, b, c) => (c - b) / 1e3 })

      Seq(
        ("session.build_s", setupBuild, "s"),
        ("session.warmup_s", setupWarm, "s"),
        ("entry.construct_s", s.results.map(r => (r.built - r.start) / 1e3).sum, "s"),
        ("entry.construct_jobs", constructJobs.toDouble, "count"),
        ("action.s", s.results.map(r => (r.end - r.built) / 1e3).sum, "s"),
        ("plan.sql_execs", sqls.size.toDouble, "count"),
        ("plan.analysis_s", planS(_.analysisMs, plans.values.flatten), "s"),
        ("plan.optimization_s", planS(_.optimizationMs, plans.values.flatten), "s"),
        ("plan.planning_s", planS(_.planningMs, plans.values.flatten), "s"),
        ("sched.jobs", jobs.size.toDouble, "count"),
        ("sched.stages", stages.size.toDouble, "count"),
        ("sched.tasks", agg.tasks.toDouble, "count"),
        ("sched.jobs_per_op", jobs.size / nOps, "count"),
        ("sched.task_overhead_s", sec(agg.overheadMs), "s"),
        ("sched.busy_frac", runS / (wall * cfg.cores), "ratio"),
        ("sched.idle_core_s", wall * cfg.cores - runS, "s"),
        ("sched.task_failed", agg.failed.toDouble, "count"),
        ("sched.task_speculative", agg.speculative.toDouble, "count"),
        ("sched.task_killed", agg.killed.toDouble, "count"),
        ("sched.useful_task_frac", if (agg.tasks == 0) 1.0 else useful.toDouble / agg.tasks, "ratio"),
        ("exec.run_s", runS, "s"),
        ("exec.cpu_s", agg.cpuNs / 1e9, "s"),
        ("exec.gc_s", sec(agg.gcMs), "s"),
        ("shuffle.write_bytes", agg.shuffleWriteBytes.toDouble, "bytes"),
        ("shuffle.read_bytes", agg.shuffleReadBytes.toDouble, "bytes"),
        ("shuffle.records", agg.shuffleRecords.toDouble, "count"),
        ("shuffle.write_s", agg.shuffleWriteNs / 1e9, "s"),
        ("shuffle.fetch_wait_s", sec(agg.fetchWaitMs), "s"),
        ("spill.bytes", agg.spillBytes.toDouble, "bytes"),
        ("sources.bytes_read", agg.bytesRead.toDouble, "bytes"),
        ("sources.records_read", agg.recordsRead.toDouble, "count"),
        ("sources.scan_s", sec(agg.scanRunMs), "s"),
        ("sources.input_passes", agg.bytesRead / input, "ratio"),
        ("sink.bytes_written", s.sinkBytes.toDouble, "bytes"),
        ("sink.files", s.sinkFiles.toDouble, "count"),
        ("sink.bytes_per_input_byte", s.sinkBytes / input, "ratio"),
        ("cache.persisted_rdds_left", s.results.map(_.persistedLeft).sum.toDouble, "count"),
        ("tmp.dirs_left", s.results.map(_.tmpLeft).sum.toDouble, "count"),
        ("jvm.peak_heap_mb", s.peakHeapMb, "MB"),
        ("jvm.gc_s", s.gcS, "s"),
        ("faults.injected", s.faults.toDouble, "count"),
        ("self.run_s", self.getOrElse("run", 0.0), "s"),
        ("self.op_s", self.getOrElse("op", 0.0), "s"),
        ("self.entry.construct_s", self.getOrElse("entry.construct", 0.0), "s"),
        ("self.action_s", self.getOrElse("action", 0.0), "s"),
        ("self.sql_s", self.getOrElse("sql", 0.0), "s"),
        ("self.job_s", self.getOrElse("job", 0.0), "s"),
        ("self.stage_s", self.getOrElse("stage", 0.0), "s"),
        ("trace.overhead_frac", wall / untraced.wallS - 1, "ratio"),
        ("trace.spans", spans.size.toDouble, "count"))
    }
}
