package org.apache.spark

/** Drains the listener bus, so listener-derived counters are complete
  * before they are read. The bus is private to Spark; this accessor
  * lives in Spark's package for that reason alone.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
