package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The traced run waits for every event of a unit before reading them. */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
