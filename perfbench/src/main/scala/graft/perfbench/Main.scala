package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Benchmark harness: runs one workload closed-loop (one operation at a
  * time, order permuted by the seed) on the cold basis of `graft.Bench`,
  * checks every output against the committed expectations, and prints one
  * JSON result line last. See perfbench/README.md. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: File, expected: File, revision: String)

  def parseArgs(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")), new File(need("expected")),
      kv.getOrElse("revision", "unknown"))
  }

  /** Setup repetitions whose median goes into `setup_s`. */
  val SetupReps = 3
  /** No pass starts after this many seconds of timed work, whatever
    * `--seconds` says, so one run stays well inside its time limit. */
  val PassCutoffS = 90.0

  /** One timed phase of an operation: its wall-clock window and duration,
    * the CPU its Java threads used, and (traced only) what the listeners
    * saw and how it was planned. */
  final case class Phase(name: String, startMs: Long, endMs: Long, ns: Long, cpuNs: Long,
                         log: PhaseLog, plan: PlanStats = PlanStats.empty)

  final case class OpRun(op: Op, pass: Int, phases: Seq[Phase],
                         error: Option[String], observed: Option[String],
                         mismatch: Option[String] = None,
                         exportBytes: Long = 0L, stepOutBytes: Long = 0L) {
    def latencyNs: Long = phases.map(_.ns).sum
    def cpuNs: Long = phases.map(_.cpuNs).sum
    def ok: Boolean = error.isEmpty && mismatch.isEmpty
    def jobs: Seq[JobSpan] = phases.flatMap(p => p.log.jobs(p.endMs))
    def tasks: TaskSums = phases.map(_.log.tasks).foldLeft(TaskSums())(_ + _)
    def plan: PlanStats = phases.map(_.plan).foldLeft(PlanStats.empty)(_ + _)
    def windows: Seq[(Long, Long)] = phases.map(p => (p.startMs, p.endMs))
    def phaseNs(n: String): Long = phases.filter(_.name == n).map(_.ns).sum
    def selfMs: Long = Stats.selfMs(windows, jobs.map(j => (j.startMs, j.endMs)))
  }

  /** `gcMs` is the pass's collection pause time, which no Java thread's
    * CPU clock counts; `costNs` adds it to the operations' CPU. `probeNs`
    * holds the host probe's reading taken before each operation. */
  final case class PassRun(index: Int, traced: Boolean, wallNs: Long, ops: Seq[OpRun],
                           peakHeapBytes: Long, jitMs: Long, gcMs: Long, probeNs: Seq[Long]) {
    def cpuNs: Long = ops.map(_.cpuNs).sum
    def costNs: Long = cpuNs + gcMs * 1000000L
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val code =
      try { run(a); 0 }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] aborted: $e")
        e.printStackTrace()
        2
      }
    sys.exit(code)
  }

  private[perfbench] def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(dirBytes).sum
    else if (f.isFile) f.length else 0L

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** Pause time of every collection so far, in ms. The parallel collector
    * stops all Java threads while it runs, so this is time their CPU
    * clocks miss. */
  private def gcMs(): Long = gcs.map(_.getCollectionTime).filter(_ >= 0L).sum

  /** CPU time so far of every live Java thread: the driver, the executor
    * task threads and Spark's own services. The JIT compilers and the GC
    * are not Java threads and are not counted here. JIT time says how warm
    * this fresh JVM is, not what the workload costs; GC enters a pass's
    * cost through `gcMs`. Unlike wall-clock time, CPU time leaves out the
    * time the host ran something else on this machine's cores. */
  private def threadCpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0L).toMap
  }

  private def resetHeapPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).foreach(_.resetPeakUsage())

  private def heapPeakBytes(): Long =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum

  def run(a: Args): Unit = {
    val wl = Workloads.byName(a.workload)
    val cores = Runtime.getRuntime.availableProcessors
    val work = a.work.getAbsoluteFile
    Seq("out", "fx", "spark-local", "warehouse").foreach(d => new File(work, d).mkdirs())
    val dataDir = Inputs.dataDir(work, wl)
    require(wl.isChains || Inputs.ready(dataDir),
      s"no input tables in $dataDir: run graft.perfbench.Inputs first")
    val fx = new File(work, "fx")
    def p(n: String): String = new File(fx, n).getAbsolutePath

    // ---- set-up: session, input preparation (repeated), warm-up passes ----
    // each set-up part is timed on both clocks: wall-clock for the record,
    // Java-thread CPU (plus GC pauses in the passes) for `setup_s` (see
    // Metrics.endToEnd)
    def cpuSinceS(c0: Map[Long, Long]): Double = Stats.cpuDelta(c0, threadCpu()) / 1e9
    val tSession = System.nanoTime()
    val cSession = threadCpu()
    val spark = session(cores, work)
    val sc = spark.sparkContext
    val listener = new LayerListener
    sc.addSparkListener(listener)
    spark.listenerManager.register(listener)
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val sessionCpuS = cpuSinceS(cSession)
    val probe = new HostProbe(cores)

    def prepare(): Unit =
      if (wl.isChains) wl.ops.foreach { case c: ChainOp => c.chain.gen(spark, wl.mult, p); case _ => }
      else wl.tables.foreach(t => spark.read.parquet(new File(dataDir, s"$t.parquet").getPath).count())
    def timedPrepare(): (Double, Double) = {
      val t = System.nanoTime(); val c = threadCpu()
      prepare()
      ((System.nanoTime() - t) / 1e9, cpuSinceS(c))
    }

    val expected = Expected.load(a.expected)

    def phase(name: String)(body: => Unit): (Phase, Option[Throwable]) = {
      val log = listener.open()
      val c0 = threadCpu()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val err = try { body; None } catch { case e: Throwable => Some(e) }
      val ns = System.nanoTime() - t0
      val endMs = System.currentTimeMillis()
      val cpu = Stats.cpuDelta(c0, threadCpu())
      BenchBus.drain(sc)
      listener.close()
      (Phase(name, startMs, endMs, ns, cpu, log), err)
    }

    def describe(e: Throwable): String =
      s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.toSeq.headOption.getOrElse("")}".take(300)

    // a phase that could not start because the one before it failed
    def skipped(name: String, after: Phase) =
      (Phase(name, after.endMs, after.endMs, 0L, 0L, new PhaseLog), None)

    // planning records of the phase's executed queries (plus `extra`, the
    // eagerly analysed but never executed Dataset of a query op)
    def withPlan(ph: Phase, traced: Boolean, extra: Seq[PlanStats] = Nil): Phase =
      if (!traced) ph
      else ph.copy(plan = (extra ++ ph.log.takeQueryExecutions().map(PlanStats.of))
        .foldLeft(PlanStats.empty)(_ + _))

    def runOp(op: Op, pass: Int, traced: Boolean): OpRun = {
      // cold basis, as graft.Bench.timeOne: no cached plan or trainer memo
      // survives an operation boundary
      graft.ops.Spread.release(spark)
      graft.ops.BoundedMemo.clearAll()
      op match {
        case q: QueryOp =>
          var df: DataFrame = null
          val (build, e1) = phase("build") { df = q.q.run(spark, dataDir.getPath) }
          // the noop sink writes nothing and reports no row count, so the
          // rows are counted by an observation on the materialised plan
          val rows = Observation()
          val (action, e2) =
            if (e1.isDefined) skipped("action", build)
            else phase("action") {
              df.observe(rows, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
            }
          val err = e1.orElse(e2).map(describe)
          val dfPlan = if (traced && df != null) Seq(PlanStats.phasesOf(
            df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution)) else Nil
          OpRun(op, pass, Seq(withPlan(build, traced, dfPlan), withPlan(action, traced)), err,
            if (err.isEmpty) Some(s"rows=${rows.get("n")}") else None)
        case c: ChainOp =>
          val nc = new File(p(c.output + ".nc"))
          nc.delete()
          val (step, e1) = phase("step") { c.chain.run(spark, p) }
          val (exp, e2) =
            if (e1.isDefined) skipped("export", step)
            else phase("export") { Workloads.export(spark, c, p) }
          val (observed, unreadable) =
            if (e1.orElse(e2).nonEmpty) (None, None)
            else try {
              val h = graft.io.Netcdf3.open(nc.getPath)
              (Some(s"records=${h.numrecs} vars=${h.vars.map(_.name).mkString(",")}"), None)
            } catch { case e: Exception => (None, Some(e)) }
          val err = e1.orElse(e2).orElse(unreadable).map(describe)
          OpRun(op, pass, Seq(withPlan(step, traced), withPlan(exp, traced)), err, observed,
            exportBytes = nc.length, stepOutBytes = dirBytes(new File(p(c.output))))
      }
    }

    def check(r: OpRun): OpRun =
      if (r.error.nonEmpty) r
      else expected.get((wl.name, r.op.name)) match {
        case None => r.copy(mismatch = Some("no committed expectation"))
        case Some(want) if r.observed.contains(want) => r
        case Some(want) => r.copy(mismatch = Some(s"expected $want, observed ${r.observed.getOrElse("")}"))
      }

    def order(pass: Int): Seq[Op] =
      new scala.util.Random(a.seed * 1000003L + pass).shuffle(wl.ops)

    def runPass(pass: Int, traced: Boolean): PassRun = {
      listener.traced = traced
      resetHeapPeaks()
      val jit0 = jit.getTotalCompilationTime
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      var probeWallNs = 0L
      val (ops, probes) = order(pass).map { op =>
        // the host probe runs before each operation, outside its timing
        // and outside the pass's wall time
        val tp = System.nanoTime()
        val probeCpu = probe.measure()
        probeWallNs += System.nanoTime() - tp
        val r = check(runOp(op, pass, traced))
        if (!r.ok) System.err.println(
          s"[perfbench] pass $pass ${op.name} FAILED: ${r.error.orElse(r.mismatch).get}")
        (r, probeCpu)
      }.unzip
      PassRun(pass, traced, System.nanoTime() - t0 - probeWallNs, ops, heapPeakBytes(),
        jit.getTotalCompilationTime - jit0, gcMs() - gc0, probes)
    }

    // the first preparation also writes the warm-up passes' inputs; the
    // repeats run warm, after them. The warm-up passes (negative indices)
    // bring the JIT to the state every timed pass starts from.
    val prep1 = timedPrepare()
    val warm = (1 to wl.warmups).map(i => runPass(-i, traced = false))
    val prep = prep1 +: (2 to SetupReps).map(_ => timedPrepare())
    val setupCpuS = sessionCpuS + Stats.median(prep.map(_._2)) + warm.map(_.costNs).sum / 1e9

    // ---- timed passes ----
    // an untraced run times at least the workload's `passes`. A traced run
    // times blocks of untraced, traced, traced, untraced passes, so both
    // kinds see the same JIT drift on average: the untraced ones give the
    // wall-clock latency and the baseline of the tracing overhead.
    val passes = scala.collection.mutable.ArrayBuffer[PassRun]()
    val tLoop = System.nanoTime()
    def loopS = (System.nanoTime() - tLoop) / 1e9
    val (minPasses, block) = if (a.trace) (4, 4) else (wl.passes, 1)
    def tracedAt(i: Int) = a.trace && (i % 4 == 1 || i % 4 == 2)
    while (passes.size < minPasses || passes.size % block != 0 ||
           loopS < math.min(a.seconds, PassCutoffS))
      passes += runPass(passes.size, tracedAt(passes.size))
    probe.close()
    spark.stop()

    val measured = passes.filter(_.traced == a.trace).toSeq
    val allOps = passes.flatMap(_.ops).toSeq
    val failed = allOps.count(!_.ok)
    val attempted = allOps.size
    val metrics =
      if (a.trace) Metrics.perLayer(measured, passes.filterNot(_.traced).toSeq, cores)
      else Metrics.endToEnd(measured, warm, setupCpuS, cores)

    // ---- records, written outside every timed region ----
    val out = new File(work, "out")
    val tag = s"${wl.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    val record = Json.obj(
      "workload" -> wl.name, "seed" -> a.seed, "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "revision" -> a.revision, "run_seconds" -> a.seconds,
      "trace" -> a.trace, "sf" -> wl.sf, "mult" -> wl.mult,
      "setup" -> Json.obj("session_s" -> sessionS, "prepare_s" -> prep.map(_._1),
        "session_cpu_s" -> sessionCpuS, "prepare_cpu_s" -> prep.map(_._2)).pipe(RawJson),
      "passes" -> (warm ++ passes).map(p => Json.obj("pass" -> p.index, "traced" -> p.traced,
        "wall_s" -> p.wallNs / 1e9, "cpu_s" -> p.cpuNs / 1e9, "gc_s" -> p.gcMs / 1e3,
        "jit_s" -> p.jitMs / 1e3, "host_factor" -> Metrics.hostFactor(p, cores),
        "probe_ms" -> p.probeNs.map(_ / 1e6))).map(RawJson),
      "attempted" -> attempted, "failed" -> failed,
      "ops" -> allOps.map(r => RawJson(Json.obj("pass" -> r.pass, "op" -> r.op.name,
        "latency_ms" -> r.latencyNs / 1e6, "cpu_ms" -> r.cpuNs / 1e6, "ok" -> r.ok))),
      "failures" -> allOps.filterNot(_.ok).map(r =>
        s"${r.op.name}: ${r.error.orElse(r.mismatch).get}"),
      "metrics" -> RawJson(Metrics.render(metrics)))
    write(new File(out, s"record-$tag.json"), record)
    if (a.trace) {
      write(new File(out, s"spans-$tag.json"), Trace.spans(measured))
      write(new File(out, s"layers-$tag.md"), Trace.table(wl, measured, cores))
    }

    println(Json.obj("correct" -> (failed == 0 && attempted > 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> RawJson(Metrics.render(metrics))))
  }

  private def write(f: File, s: String): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(s) finally w.close()
  }
}
