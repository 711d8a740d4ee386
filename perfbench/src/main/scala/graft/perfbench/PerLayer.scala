package graft.perfbench

/** Per-layer metrics of a traced run, each a total per pass
  * unless its name says otherwise.
  */
object PerLayer {
  def apply(ctx: Ctx, wl: Workload, ops: Seq[Op], passes: Int,
      setupStoreStats: (Long, Long), storeMb: Double,
      after: Seq[(String, Double)]): Seq[(String, Double)] = {
    val l = ctx.listeners
    val byId = ops.map(o => o.id -> o).toMap
    val n = math.max(1, passes).toDouble

    // each job's op and phase: the job group the benchmark set, else the
    // streaming query that ran it, else the op running when it started
    val jobOf: Seq[(JobAgg, Op, String)] = l.synchronized(l.jobs.values.toList).flatMap { j =>
      Listeners.parse(j.group).flatMap { case (id, ph) => byId.get(id).map(o => (j, o, ph)) }
        .orElse(l.streams.get(j.group).flatMap(s => byId.get(s.op)).map(o => (j, o, "build")))
        .orElse(ops.find(o => o.startMs <= j.submitMs && j.submitMs <= o.endMs).map { o =>
          (j, o, if (j.submitMs <= o.startMs + o.buildNs / 1000000L) "build" else "execute")
        })
    }
    val jobsByOp = jobOf.groupBy(_._2.id)
    val streams = l.synchronized(l.streams.values.toList).filter(s => byId.contains(s.op))
    def perPass(x: Double) = x / n
    def sumJobs(f: JobAgg => Double, sel: ((JobAgg, Op, String)) => Boolean = _ => true) =
      perPass(jobOf.filter(sel).map(t => f(t._1)).sum)
    val mb = 1048576.0

    val api = CoordApi.kinds.flatMap { k =>
      val ks = ops.filter(_.kind == k)
      val jobs = ks.map(o => jobsByOp.getOrElse(o.id, Nil).size.toDouble)
      Seq(s"api.$k.p50_ms" -> Stats.median(ks.map(_.ms)),
        s"api.$k.jobs" -> (if (ks.isEmpty) 0.0 else jobs.sum / ks.size))
    }
    val coord = wl match {
      case c: CoordApi => Seq("api.changelog_files" -> c.changelogFiles.toDouble,
        "api.bytes_per_append" -> c.bytesPerAppend)
      case _ => Seq("api.changelog_files" -> 0.0, "api.bytes_per_append" -> 0.0)
    }
    def latency(cls: String) = {
      val xs = ops.filter(_.cls == cls).map(_.ms)
      val (t, _) = Stats.tail(xs)
      Seq(s"api.${cls}_p50_ms" -> Stats.median(xs), s"api.${cls}_tail_ms" -> t)
    }
    val rw = latency("read") ++ latency("write")

    val queries = Registry.familyNames.flatMap { f =>
      Seq(s"queries.$f.build_s" -> perPass(ops.filter(_.family == f).map(_.buildNs / 1e9).sum),
        s"queries.$f.build_jobs" -> sumJobs(_ => 1.0, t => t._2.family == f && t._3 == "build"))
    }
    val phase = l.phases.withDefaultValue(0L)
    val catalyst = Seq("analysis", "optimization", "planning").map(p =>
      s"catalyst.${p}_s" -> perPass(phase(p) / 1000.0))

    val exec = Seq(
      "exec.jobs" -> sumJobs(_ => 1.0),
      "exec.stages" -> sumJobs(_.stages.toDouble),
      "exec.tasks" -> sumJobs(_.tasks.toDouble),
      "exec.task_wait_s" -> sumJobs(_.waitMs / 1000.0),
      "exec.s" -> sumJobs(j => math.max(0L, j.endMs - j.submitMs) / 1000.0),
      "exec.cpu_s" -> sumJobs(_.cpuNs / 1e9),
      "exec.run_s" -> sumJobs(_.runMs / 1000.0),
      "exec.input_mb" -> sumJobs(_.inputBytes / mb),
      "exec.shuffle_write_mb" -> sumJobs(_.shuffleWriteBytes / mb),
      "exec.shuffle_read_mb" -> sumJobs(_.shuffleReadBytes / mb),
      "exec.spill_mb" -> sumJobs(_.spillBytes / mb),
      "exec.gc_s" -> sumJobs(_.gcMs / 1000.0)) ++
      Registry.familyNames.map(f => s"exec.$f.cpu_s" -> sumJobs(_.cpuNs / 1e9, _._2.family == f))

    val streamOps = ops.filter(_.family == "streaming")
    val triggerNsByOp = streams.groupBy(_.op).map { case (o, ss) => o -> ss.map(_.triggerMs).sum * 1000000L }
    val streaming = Seq(
      "streaming.harness_s" -> perPass(streamOps.map(o =>
        math.max(0L, o.buildNs - triggerNsByOp.getOrElse(o.id, 0L)) / 1e9).sum),
      "streaming.rebuild_exec_s" -> perPass(streamOps.map(o => (o.planNs + o.execNs) / 1e9).sum),
      "streaming.triggers" -> perPass(streams.map(_.triggers).sum.toDouble),
      "streaming.trigger_s" -> perPass(streams.map(_.triggerMs).sum / 1000.0),
      "streaming.input_rows" -> perPass(streams.map(_.inputRows).sum.toDouble),
      "streaming.state_rows" -> perPass(streams.map(_.stateRows).sum.toDouble),
      "streaming.state_mb" -> perPass(streams.map(_.stateBytes).sum / mb))

    val framecache = Registry.staged.map(_._1).map(f =>
      s"framecache.$f.stage_s" -> ctx.stageSeconds.getOrElse(f, 0.0)) ++ Seq(
      "framecache.artifacts_built" -> setupStoreStats._1.toDouble,
      "framecache.artifacts_loaded" -> setupStoreStats._2.toDouble,
      "framecache.store_mb" -> storeMb)

    val afterMap = after.toMap
    val catalog = Seq("catalog.register_s", "catalog.register_jobs")
      .map(k => k -> afterMap.getOrElse(k, 0.0))

    api ++ coord ++ rw ++ queries ++ catalyst ++ exec ++ streaming ++ framecache ++ catalog
  }
}
