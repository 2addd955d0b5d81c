package org.apache.spark

/** The listener bus is package-private; the traced run waits on it so that
  * every event an operation caused is delivered before its record closes.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
