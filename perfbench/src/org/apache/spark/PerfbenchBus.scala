package org.apache.spark

/** The listener bus's drain call is `private[spark]`; the benchmark needs
  * it to read its listener's counts only after every event has arrived. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
