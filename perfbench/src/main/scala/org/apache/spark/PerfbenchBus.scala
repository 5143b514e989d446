package org.apache.spark

/** The listener bus is package-private; the harness waits on it so a
  * traced operation's events are all delivered before they are drained.
  */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
