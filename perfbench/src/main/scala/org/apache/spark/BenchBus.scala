package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private.
  * The harness drains at every phase boundary, outside the timed regions,
  * so that each listener event is attributed to the phase that posted it. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
