package org.apache.spark

/** Blocks until Spark's listener bus has delivered every posted event, so
  * the traced run's counters are complete before they are written. The
  * bus is package-private to Spark, hence this package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
