package graft.perfbench

import org.apache.spark.{BenchTestMetrics, Success}
import org.apache.spark.scheduler._
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0.0) == 1.0)
    assert(Stats.percentile(xs, 1.0) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.percentile(xs, 0.25) == 1.75)
    assert(Stats.median(Seq(7.0, 1.0, 5.0)) == 5.0)
    assert(Stats.median(Seq(3.0)) == 3.0)
  }

  test("percentile rejects an empty sample and a rank outside [0, 1]") {
    assertThrows[IllegalArgumentException](Stats.median(Nil))
    assertThrows[IllegalArgumentException](Stats.percentile(Seq(1.0), 1.5))
  }

  test("sum of medians takes each sample's median and skips empty samples") {
    // medians 2, 10 and 4; the 100 is one slow repetition that moves only
    // its own sample's median
    val samples = Seq(Seq(1.0, 2.0, 3.0), Seq(10.0, 100.0, 9.0), Nil, Seq(4.0))
    assert(Stats.sumOfMedians(samples) == 16.0)
    assert(Stats.sumOfMedians(Nil) == 0.0)
  }

  test("covered time counts overlapping and nested job spans once") {
    // [0,10) and [5,15) overlap, [6,8) is nested, [20,25) stands alone
    val jobs = Seq((0L, 10L), (5L, 15L), (6L, 8L), (20L, 25L))
    assert(Stats.coveredMs(jobs, 0L, 30L) == 20L)
    // spans are clipped to the window
    assert(Stats.coveredMs(jobs, 12L, 22L) == 5L)
    assert(Stats.coveredMs(Nil, 0L, 30L) == 0L)
    // touching spans merge without a gap or double count
    assert(Stats.coveredMs(Seq((0L, 5L), (5L, 9L)), 0L, 10L) == 9L)
  }

  test("self time is each window minus the job time inside it") {
    val windows = Seq((0L, 100L), (100L, 160L))
    val jobs = Seq((10L, 50L), (40L, 90L), (120L, 130L), (150L, 200L))
    // window 1: jobs cover [10,90) -> self 20; window 2: [120,130) and
    // [150,160) -> self 40
    assert(Stats.selfMs(windows, jobs) == 60L)
    assert(Stats.selfMs(windows, Nil) == 160L)
  }

  test("cpu delta counts new threads from zero and ignores ended ones") {
    val before = Map(1L -> 100L, 2L -> 50L, 3L -> 70L)
    val after = Map(1L -> 160L, 2L -> 50L, 4L -> 30L) // 3 ended, 4 started
    assert(Stats.cpuDelta(before, after) == 90L)
  }

  private def taskEnd(m: org.apache.spark.executor.TaskMetrics) =
    SparkListenerTaskEnd(0, 0, "ResultTask", Success, null, null, m)

  test("listener sums task counters into the open phase, and only while traced") {
    val l = new LayerListener
    val untraced = l.open()
    l.onTaskEnd(taskEnd(BenchTestMetrics.task(5, 5, 5, 5, 5, 5, 5, 5)))
    assert(untraced.tasks == TaskSums())

    l.traced = true
    val log = l.open()
    l.onTaskEnd(taskEnd(BenchTestMetrics.task(100, 7000000L, 3, 1000, 200, 300, 40, 2)))
    l.onTaskEnd(taskEnd(BenchTestMetrics.task(50, 3000000L, 1, 24, 0, 10, 0, 0)))
    l.onTaskEnd(taskEnd(null)) // a failed task without metrics still counts
    l.close()
    l.onTaskEnd(taskEnd(BenchTestMetrics.task(9, 9, 9, 9, 9, 9, 9, 9))) // no open phase
    assert(log.tasks == TaskSums(tasks = 3, runMs = 150, cpuNs = 10000000L, gcMs = 4,
      shuffleWriteBytes = 1024, shuffleReadBytes = 510, spillBytes = 42))
  }

  test("listener keeps job spans per phase and closes an unfinished job at the drain") {
    val l = new LayerListener
    l.traced = true
    val log = l.open()
    l.onJobStart(SparkListenerJobStart(1, 1000L, Nil))
    l.onJobEnd(SparkListenerJobEnd(1, 1400L, JobSucceeded))
    l.onJobStart(SparkListenerJobStart(2, 1300L, Nil))
    assert(log.jobs(closeMs = 1500L) ==
      Seq(JobSpan(1, 1000L, 1400L, Nil), JobSpan(2, 1300L, 1500L, Nil)))
    assert(Stats.selfMs(Seq((900L, 1600L)), log.jobs(1500L).map(j => (j.startMs, j.endMs))) == 200L)
  }
}
