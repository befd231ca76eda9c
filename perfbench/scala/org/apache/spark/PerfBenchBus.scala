package org.apache.spark

/** Lets the benchmark wait until listener events posted so far have been
  * delivered, so span counters read after an action are complete.
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
