package org.apache.spark

/** Test access to the package-private listener bus: waits, at most
  * `timeoutMs`, until every event posted so far has reached the
  * registered listeners (a TimeoutException otherwise), so a count read
  * afterwards is complete.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
