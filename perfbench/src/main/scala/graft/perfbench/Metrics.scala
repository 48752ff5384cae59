package graft.perfbench

import Main.{OpRun, PassRun}

final case class Metric(name: String, unit: String, value: Double)

/** The metrics a run reports, named as in BENCHMARK.json. */
object Metrics {

  def render(ms: Seq[Metric]): String = Json.render(scala.collection.immutable.ListMap(
    ms.map(m => m.name -> RawJson(Json.obj("value" -> m.value, "unit" -> m.unit))): _*))

  private def p50(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)

  /** How much slower than on the quiet baseline VM the host ran during a
    * pass: the median of the probe readings taken in it, per core, over
    * `HostProbe.RefNsPerCore`. */
  def hostFactor(p: PassRun, cores: Int): Double =
    Stats.median(p.probeNs.map(_.toDouble)) / (HostProbe.RefNsPerCore * cores)

  /** Bounded metrics, both in Java-thread CPU seconds as `Main.threadCpu`
    * counts them, divided by the `hostFactor` of the pass they were spent
    * in, so that both read in seconds of the quiet baseline VM.
    * `cpu_norm_s` is, for each operation, the median of its CPU over the
    * timed passes, summed over the operations, plus the median GC pause
    * time of a timed pass. A failed operation adds no sample; it makes the
    * run incorrect, whatever it cost. `setup_s` is the CPU of session
    * start, plus the median input preparation, plus the warm-up passes'
    * operations and GC pauses, over the median factor of the warm-up
    * passes. */
  def endToEnd(timed: Seq[PassRun], warm: Seq[PassRun], setupCpuS: Double,
               cores: Int): Seq[Metric] = {
    val perOp = timed.flatMap { p =>
      val f = hostFactor(p, cores)
      p.ops.filter(_.ok).map(r => r.op.name -> r.cpuNs / 1e9 / f)
    }.groupBy(_._1).values.map(_.map(_._2)).toSeq
    val cpuS = Stats.sumOfMedians(perOp) +
      Stats.median(timed.map(p => p.gcMs / 1e3 / hostFactor(p, cores)))
    val setupS = setupCpuS / Stats.median(warm.map(hostFactor(_, cores)))
    Seq(Metric("cpu_norm_s", "s", cpuS), Metric("setup_s", "s", setupS))
  }

  /** Wall-clock latency of untraced passes and the CPU of the median
    * operation. Reported unbounded, next to the layers: the host's CPU
    * steal moves wall-clock time far more than CPU time, and the median of
    * a handful of unlike operations jumps between them. */
  def latency(passes: Seq[PassRun]): Seq[Metric] = {
    val ok = passes.flatMap(_.ops).filter(_.ok)
    Seq(
      Metric("wall_s", "s", Stats.median(passes.map(_.wallNs / 1e9))),
      Metric("op_p50_ms", "ms", p50(ok.map(_.latencyNs / 1e6))),
      Metric("op_cpu_p50_ms", "ms", p50(ok.map(_.cpuNs / 1e6))))
  }

  private def isQuery(r: OpRun) = r.op.isInstanceOf[QueryOp]
  private def isChain(r: OpRun) = r.op.isInstanceOf[ChainOp]

  /** Layer sums over one traced pass. */
  def passLayers(p: PassRun, cores: Int): Seq[Metric] = {
    val ops = p.ops
    val t = ops.map(_.tasks).foldLeft(TaskSums())(_ + _)
    val plan = ops.map(_.plan).foldLeft(PlanStats.empty)(_ + _)
    val wallS = p.wallNs / 1e9
    def s(ns: Long) = ns / 1e9
    Seq(
      Metric("queries.build_s", "s", s(ops.filter(isQuery).map(_.phaseNs("build")).sum)),
      Metric("queries.build_jobs", "count", ops.filter(isQuery)
        .flatMap(_.phases.filter(_.name == "build")).map(_.log.jobCount).sum),
      Metric("plan.analysis_s", "s", plan.analysisMs / 1e3),
      Metric("plan.optimization_s", "s", plan.optimizationMs / 1e3),
      Metric("plan.planning_s", "s", plan.planningMs / 1e3),
      Metric("plan.exchanges", "count", plan.exchanges),
      Metric("plan.codegen_stages", "count", plan.codegenStages),
      Metric("exec.action_s", "s", s(ops.filter(isQuery).map(_.phaseNs("action")).sum)),
      Metric("driver.self_s", "s", ops.map(_.selfMs).sum / 1e3),
      Metric("sched.jobs", "count", ops.map(_.jobs.size).sum),
      Metric("sched.stages", "count", ops.flatMap(_.phases).map(_.log.stages.size).sum),
      Metric("sched.tasks", "count", t.tasks),
      Metric("exec.task_run_s", "s", t.runMs / 1e3),
      Metric("exec.task_cpu_s", "s", t.cpuNs / 1e9),
      Metric("exec.gc_s", "s", t.gcMs / 1e3),
      Metric("exec.core_busy", "ratio", t.runMs / 1e3 / (wallS * cores)),
      Metric("shuffle.write_mb", "MB", t.shuffleWriteBytes / 1e6),
      Metric("shuffle.read_mb", "MB", t.shuffleReadBytes / 1e6),
      Metric("spill.mb", "MB", t.spillBytes / 1e6),
      Metric("cli.step_s", "s", s(ops.filter(isChain).map(_.phaseNs("step")).sum)),
      Metric("io.export_s", "s", s(ops.filter(isChain).map(_.phaseNs("export")).sum)),
      Metric("io.export_mb", "MB", ops.map(_.exportBytes).sum / 1e6),
      Metric("io.step_out_mb", "MB", ops.map(_.stepOutBytes).sum / 1e6),
      Metric("jvm.peak_heap_mb", "MB", p.peakHeapBytes / (1024.0 * 1024.0)),
      Metric("jvm.jit_s", "s", p.jitMs / 1e3),
      Metric("host.probe_ms", "ms", Stats.median(p.probeNs.map(_ / 1e6)) / cores)) ++
    Workloads.moduleNames.map(m => Metric(s"module.$m.wall_s", "s",
      s(ops.filter(_.op.group == m).map(_.latencyNs).sum)))
  }

  /** The untraced latency, the median of each layer metric over the traced
    * passes, and the tracing overhead: median traced pass wall time over
    * median untraced pass wall time. */
  def perLayer(traced: Seq[PassRun], untraced: Seq[PassRun], cores: Int): Seq[Metric] = {
    val per = traced.map(passLayers(_, cores))
    val layers = per.head.indices.map { i =>
      per.head(i).copy(value = Stats.median(per.map(_(i).value)))
    }
    val overhead = Stats.median(traced.map(_.wallNs.toDouble)) /
      Stats.median(untraced.map(_.wallNs.toDouble))
    latency(untraced) ++ layers :+ Metric("trace.overhead", "ratio", overhead)
  }
}

/** Artifacts of a traced run, written at exit. */
object Trace {

  /** Span tree: operation, then its phases (build and action for a query,
    * step and export for a chain), then the planning phases and Spark jobs
    * inside each phase, then each job's stages. Times are wall-clock ms. */
  def spans(passes: Seq[PassRun]): String = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var next = 0
    def add(parent: Int, kind: String, name: String, s: Long, e: Long,
            attrs: (String, Any)*): Int = {
      next += 1
      out += Json.obj((Seq("id" -> next, "parent" -> parent, "kind" -> kind, "name" -> name,
        "start_ms" -> s, "end_ms" -> e) ++ attrs): _*)
      next
    }
    for (p <- passes; r <- p.ops) {
      val opId = add(0, "operation", r.op.name, r.windows.head._1, r.windows.last._2,
        "pass" -> p.index, "group" -> r.op.group, "latency_ms" -> r.latencyNs / 1e6, "ok" -> r.ok)
      for (ph <- r.phases) {
        val phId = add(opId, "phase", ph.name, ph.startMs, ph.endMs, "ms" -> ph.ns / 1e6)
        for ((k, s, e) <- ph.plan.phases) add(phId, "plan", k, s, e)
        val stages = ph.log.stages
        for (j <- ph.log.jobs(ph.endMs)) {
          val jobId = add(phId, "job", s"job ${j.id}", j.startMs, j.endMs)
          for (st <- stages if j.stageIds.contains(st.id))
            add(jobId, "stage", st.name, st.startMs, st.endMs,
              "stage_id" -> st.id, "attempt" -> st.attempt, "tasks" -> st.tasks)
        }
      }
    }
    out.mkString("[\n", ",\n", "\n]")
  }

  /** Average number of cores running this operation's tasks. */
  def busyCores(r: OpRun): Double =
    if (r.latencyNs == 0) 0.0 else r.tasks.runMs / 1e3 / (r.latencyNs / 1e9)

  /** Executor-bound when the operation's tasks kept at least one core busy
    * on average over its whole latency; otherwise the driver (building,
    * planning, scheduling, driver-side I/O) is what the operation waits on. */
  def bound(r: OpRun): String = if (busyCores(r) >= 1.0) "executor" else "driver"

  /** Per-operation layer table (markdown). The two phase columns add up to
    * the latency; `in jobs` plus `self` add up to the phase windows, which
    * are read from the millisecond wall clock (`gap` shows the rounding). */
  def table(wl: Workload, passes: Seq[PassRun], cores: Int): String = {
    val b = new StringBuilder
    val (p1, p2) = if (wl.isChains) ("step", "export") else ("build", "action")
    b ++= s"# ${wl.name}: per-operation layers ($cores cores)\n\n"
    b ++= s"| pass | op | group | latency ms | $p1 ms | $p2 ms | plan ms | exchanges | jobs | stages | tasks | in jobs ms | self ms | gap ms | task run s | task cpu s | shuffle MB | busy cores | bound |\n"
    b ++= "|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|---|\n"
    def f(d: Double, n: Int = 1) = s"%.${n}f".formatLocal(java.util.Locale.ROOT, d)
    for (p <- passes; r <- p.ops.sortBy(-_.latencyNs)) {
      val windowMs = r.windows.map { case (s, e) => e - s }.sum
      val inJobs = windowMs - r.selfMs
      val t = r.tasks
      val pl = r.plan
      b ++= Seq(p.index.toString, r.op.name + (if (r.ok) "" else " (FAILED)"), r.op.group,
        f(r.latencyNs / 1e6), f(r.phaseNs(p1) / 1e6), f(r.phaseNs(p2) / 1e6),
        (pl.analysisMs + pl.optimizationMs + pl.planningMs).toString,
        pl.exchanges.toString, r.jobs.size.toString,
        r.phases.map(_.log.stages.size).sum.toString, t.tasks.toString,
        inJobs.toString, r.selfMs.toString, f(r.latencyNs / 1e6 - windowMs),
        f(t.runMs / 1e3, 3), f(t.cpuNs / 1e9, 3),
        f((t.shuffleWriteBytes + t.shuffleReadBytes) / 1e6, 2),
        f(busyCores(r), 2), bound(r)).mkString("| ", " | ", " |\n")
    }
    b.toString
  }
}
