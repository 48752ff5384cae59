package graft.perfbench

/** Pure aggregation used by the harness: percentiles, job-span coverage and
  * per-task listener sums. Kept free of Spark state so StatsSpec can pin
  * each rule on hand-made inputs. */
object Stats {

  /** Linear-interpolation percentile (the "type 7" rule numpy uses by
    * default): rank `p * (n - 1)` between the two nearest order
    * statistics. `p` is in [0, 1]; an empty input has no percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0.0 && p <= 1.0, s"percentile rank $p outside [0, 1]")
    val s = xs.sorted
    val rank = p * (s.length - 1)
    val lo = math.floor(rank).toInt
    val hi = math.ceil(rank).toInt
    s(lo) + (s(hi) - s(lo)) * (rank - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** The sum of each sample's median; an empty sample adds nothing. One
    * slow repetition of one operation moves its own median at most, not
    * the whole sum. */
  def sumOfMedians(samples: Seq[Seq[Double]]): Double =
    samples.filter(_.nonEmpty).map(median).sum

  /** Milliseconds of `[lo, hi)` covered by the union of `spans`
    * (half-open `[start, end)` intervals, possibly overlapping or nested,
    * possibly reaching outside the window). Concurrent jobs are counted
    * once, so `window - covered` is the time no job was running. */
  def coveredMs(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- clipped) {
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Time of an operation not covered by any of its Spark jobs: the
    * driver's own work (analysis, planning, trainer bookkeeping, file
    * writes done on the driver) plus scheduler gaps between jobs. */
  def selfMs(windows: Seq[(Long, Long)], jobs: Seq[(Long, Long)]): Long =
    windows.map { case (lo, hi) => (hi - lo) - coveredMs(jobs, lo, hi) }.sum

  /** CPU used between two per-thread snapshots (thread id -> CPU ns). A
    * thread that started in between counts from zero; one that ended in
    * between is no longer visible and its share is lost. */
  def cpuDelta(before: Map[Long, Long], after: Map[Long, Long]): Long =
    after.iterator.map { case (id, t) => t - before.getOrElse(id, 0L) }.sum
}

/** Per-task executor counters summed over a set of tasks. Units are the
  * ones Spark reports: run and GC time in ms, CPU time in ns, sizes in
  * bytes. */
final case class TaskSums(
    tasks: Long = 0L,
    runMs: Long = 0L,
    cpuNs: Long = 0L,
    gcMs: Long = 0L,
    shuffleWriteBytes: Long = 0L,
    shuffleReadBytes: Long = 0L,
    spillBytes: Long = 0L) {

  def +(o: TaskSums): TaskSums = TaskSums(
    tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    shuffleWriteBytes + o.shuffleWriteBytes,
    shuffleReadBytes + o.shuffleReadBytes,
    spillBytes + o.spillBytes)
}

object TaskSums {
  /** One finished task's counters. Failed tasks may report no metrics;
    * they still count as a task. Spill is memory plus disk bytes, the sum
    * Spark's UI shows. */
  def of(m: org.apache.spark.executor.TaskMetrics): TaskSums =
    if (m == null) TaskSums(tasks = 1L)
    else TaskSums(
      tasks = 1L,
      runMs = m.executorRunTime,
      cpuNs = m.executorCpuTime,
      gcMs = m.jvmGCTime,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)
}
