package org.apache.spark

/** The listener bus is private to Spark; the benchmark's tracer needs to
  * wait for it so every job of an op is counted before it is read. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
