package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so the benchmark's listener has seen all jobs of the run. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
