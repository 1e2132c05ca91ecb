package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a pass's
  * task metrics are complete before they are read (`waitUntilEmpty` is
  * package-private to Spark).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
