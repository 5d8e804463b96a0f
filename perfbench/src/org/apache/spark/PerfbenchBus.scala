package org.apache.spark

/** Lets the benchmark wait until the listener bus has delivered every event
  * of a finished pass before it reads the pass's listener totals. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
