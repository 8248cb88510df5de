package org.apache.spark

/** The listener bus is package-private; the traced run waits on it before
  * reading its counts so that no event is still in flight.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
