package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event,
  * so counters read right after an action include that action. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
