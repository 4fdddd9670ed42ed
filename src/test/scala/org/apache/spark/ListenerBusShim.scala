package org.apache.spark

/** Test access to the listener bus drain, which Spark keeps
  * package-private: a spec counting jobs or stages waits for every event
  * of the work it ran, instead of sleeping until the counts stop moving.
  */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
