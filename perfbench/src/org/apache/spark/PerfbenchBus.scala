package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to deliver every posted
  * event before it reads its listener's counters. The bus is package-private.
  */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
