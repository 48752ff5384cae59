package org.apache.spark

import org.apache.spark.executor.TaskMetrics

/** Builds task metrics with chosen values; the setters are package-private. */
object BenchTestMetrics {
  def task(runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
           remoteRead: Long, localRead: Long, memSpill: Long, diskSpill: Long): TaskMetrics = {
    val m = TaskMetrics.empty
    m.setExecutorRunTime(runMs)
    m.setExecutorCpuTime(cpuNs)
    m.setJvmGCTime(gcMs)
    m.shuffleWriteMetrics.incBytesWritten(shuffleWrite)
    m.shuffleReadMetrics.setRemoteBytesRead(remoteRead)
    m.shuffleReadMetrics.setLocalBytesRead(localRead)
    m.incMemoryBytesSpilled(memSpill)
    m.incDiskBytesSpilled(diskSpill)
    m
  }
}
