package graft.perfbench

import java.io.File

import com.fasterxml.jackson.databind.node.ObjectNode

import graft.FrameCache

/** Set-up, the timed passes, and the metrics of one run. */
object Run {
  final case class Pass(wallS: Double, cpuS: Double)

  /** Result line of the run: `correct`, `attempted`, `failed`, and the
    * metrics by name. Units come from BENCHMARK.json, which run.py adds.
    */
  def apply(ctx: Ctx, wl: Workload, a: Args, sessionS: Double): String = {
    import ctx._
    wl.prepare()
    // set-up runs several times, each into fresh directories and an
    // empty store; the last one serves the timed ops
    spans.on = a.trace
    var stats = (0L, 0L)
    val setupTimes = (0 until wl.setupReps).map { r =>
      val d0 = FrameCache.diskStats
      val t0 = System.nanoTime()
      spans.span(s"setup.$r", "setup")(wl.setup(r))
      val s = (System.nanoTime() - t0) / 1e9
      val d1 = FrameCache.diskStats
      stats = (d1._1 - d0._1, d1._2 - d0._2)
      System.err.println(f"[perfbench] setup $r: $s%.3f s")
      Box.sample()
      s
    }
    spans.on = false
    val storeMb = currentStore.map(d => Files.sizeBytes(new File(d)) / 1048576.0).getOrElse(0.0)

    // timed passes: whole passes until the run's seconds are up
    var passIndex = 0
    def passes(): Seq[Pass] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Pass]
      val start = System.nanoTime()
      while (out.isEmpty || System.nanoTime() - start < a.seconds * 1000000000L) {
        val c0 = Box.cpuNanos()
        val t0 = System.nanoTime()
        wl.pass(passIndex)
        passIndex += 1
        out += Pass((System.nanoTime() - t0) / 1e9, (Box.cpuNanos() - c0) / 1e9)
      }
      out.toSeq
    }
    val stealA = Box.stealJiffies()
    if (a.trace) {
      listeners.register()
      spans.on = true
    }
    val timed = passes()
    spans.on = false
    val tracedTo = harness.ops.size
    // a traced run then times untraced passes of the same seed and code
    // in this process, the baseline of its tracing overhead. The traced
    // passes come first, at the place an untraced run times its passes,
    // so the per-layer metrics describe the passes run_s measures.
    val baseline = if (!a.trace) Nil else {
      listeners.drain()
      listeners.freezePhases()
      listeners.unregister()
      try passes() finally listeners.register()
    }
    val stealB = Box.stealJiffies()
    val after = wl.afterTimed(a.trace)

    val allOps = harness.ops.filter(_.pass >= 0).toSeq
    val ops = harness.ops.take(tracedTo).filter(_.pass >= 0).toSeq
    val failed = allOps.count(_.error.isDefined)
    val lat = ops.map(_.ms)
    val (tailMs, tailPct) = Stats.tail(lat)
    val runS = Stats.median(timed.map(_.wallS))
    val e2e = Seq(
      "setup_s" -> (sessionS + Stats.median(setupTimes)),
      "run_s" -> runS,
      "cpu_s" -> Stats.median(timed.map(_.cpuS)))
    // per-op latency over a pass's mixed calls: the median falls between
    // clusters of call kinds and the tail has few samples beyond it, so
    // both are context here, not end-to-end metrics with a bound
    val latency = Seq("bench.op_p50_ms" -> Stats.median(lat), "bench.op_tail_ms" -> tailMs)
    val stealPct = {
      val (s, t) = (stealB._1 - stealA._1, stealB._2 - stealA._2)
      if (t > 0) 100.0 * s / t else 0.0
    }
    val layers =
      if (!a.trace) Nil
      else PerLayer(ctx, wl, ops, timed.size, stats, storeMb, after) ++ latency ++ Seq(
        "bench.peak_rss_mb" -> Box.peakRssMb(),
        "bench.steal_pct" -> stealPct,
        "bench.load_max" -> Box.maxLoad,
        "trace.overhead_pct" -> 100.0 * (runS / Stats.median(baseline.map(_.wallS)) - 1))
    val metrics = if (a.trace) layers else e2e

    System.err.println(f"[perfbench] ${a.workload} seed ${a.seed}: ${allOps.size} ops in " +
      f"${timed.size + baseline.size} passes, $failed failed, tail is p$tailPct%.1f, " +
      f"cores ${a.cores}, heap ${Box.heapMaxMb()}%.0f MB, load max ${Box.maxLoad}%.2f, " +
      f"steal $stealPct%.2f%%, artifacts built in timed ops ${harness.artifactsBuiltInOps}")
    a.record.foreach { path =>
      val rec = Json.obj()
        .put("workload", a.workload).put("seed", a.seed).put("seconds", a.seconds)
        .put("trace", if (a.trace) 1 else 0).put("cores", a.cores)
        .put("heap_mb", Box.heapMaxMb()).put("load_max", Box.maxLoad)
        .put("steal_pct", stealPct).put("session_s", sessionS)
        .put("peak_rss_mb", Box.peakRssMb()).put("op_tail_percentile", tailPct)
        .put("attempted", allOps.size).put("failed", failed)
        .put("error_rate", if (allOps.isEmpty) 0.0 else failed.toDouble / allOps.size)
        .put("artifacts_built_in_timed_ops", harness.artifactsBuiltInOps)
      val reps = rec.putArray("setup_reps_s")
      setupTimes.foreach(reps.add(_))
      def addPasses(key: String, ps: Seq[Pass]): Unit = {
        val arr = rec.putArray(key)
        ps.foreach(p => arr.addObject().put("wall_s", p.wallS).put("cpu_s", p.cpuS))
      }
      addPasses("passes", timed)
      addPasses("untraced_baseline_passes", baseline)
      val failures = rec.putArray("failures")
      allOps.filter(_.error.isDefined).foreach(o =>
        failures.addObject().put("op", o.id).put("kind", o.kind).put("error", o.error.get))
      def putAll(key: String, kv: Seq[(String, Double)]): Unit = {
        val node = rec.putObject(key)
        kv.foreach { case (k, v) => node.put(k, v) }
      }
      putAll("end_to_end", e2e)
      putAll("latency", latency)
      putAll("per_layer", layers)
      putAll("self_s", spans.selfSeconds.toSeq.sorted)
      val opsNode = rec.putArray("ops")
      allOps.foreach(o => opsNode.addObject().put("id", o.id).put("pass", o.pass)
        .put("kind", o.kind).put("traced", a.trace && o.id < tracedTo).put("ms", o.ms)
        .put("build_ms", o.buildNs / 1e6).put("plan_ms", o.planNs / 1e6)
        .put("exec_ms", o.execNs / 1e6))
      val spansNode = rec.putArray("spans")
      spans.all.foreach(s => spansNode.addObject().put("id", s.id).put("parent", s.parent)
        .put("op", s.op).put("name", s.name).put("layer", s.layer)
        .put("start_ns", s.startNs).put("end_ns", s.endNs))
      java.nio.file.Files.writeString(new File(path).toPath, Json.write(rec) + "\n")
    }
    val result: ObjectNode = Json.obj()
      .put("correct", failed == 0).put("attempted", allOps.size).put("failed", failed)
    val m = result.putObject("metrics")
    metrics.foreach { case (k, v) => m.put(k, v) }
    Json.write(result)
  }
}
