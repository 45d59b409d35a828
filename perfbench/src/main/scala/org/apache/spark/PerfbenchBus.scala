package org.apache.spark

/** Blocks until every listener queue has delivered the events posted so
  * far. The listener bus is private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
