package org.apache.spark

/** `SparkContext.listenerBus` is private[spark]. The benchmark's listener
  * reads its counters only after the asynchronous bus has delivered every
  * event posted so far, so it needs this one call. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
