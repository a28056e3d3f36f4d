package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * benchmark listener's counters are complete when an operation returns.
  * Lives in Spark's package because the bus is `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
