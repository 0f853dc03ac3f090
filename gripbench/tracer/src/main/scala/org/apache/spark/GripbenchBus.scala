package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * tracer's counters are complete before they are written. The bus is
  * package-private to Spark, hence this package. */
object GripbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
