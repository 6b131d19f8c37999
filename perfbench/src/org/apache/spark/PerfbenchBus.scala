package org.apache.spark

/** The listener bus is package-private; the traced run must drain it
  * before it reads what its listener collected.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
