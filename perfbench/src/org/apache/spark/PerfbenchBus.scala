package org.apache.spark

/** Drains Spark's listener bus, so counters that listeners aggregate for a
  * traced call are complete before the call's span closes. The bus is
  * private to Spark, hence this object's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
