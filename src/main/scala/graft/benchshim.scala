package org.apache.spark

/** `SparkContext.listenerBus` is private[spark]; `graft.metrics.Meter`
  * drains the asynchronous listener bus before it reads its counters.
  * No Spark-internal logic. */
object GraftSparkShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
