package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. The traced
  * run waits for the bus to drain after each op, so every job, task and
  * query-execution event of the op is attributed before the next op starts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
