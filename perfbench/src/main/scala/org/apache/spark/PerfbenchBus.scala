package org.apache.spark

/** Waits until every listener has seen every event posted so far, so a
  * traced pass is read only after its listener callbacks have run. The
  * listener bus is private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
