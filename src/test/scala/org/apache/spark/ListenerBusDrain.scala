package org.apache.spark

/** Blocks until every listener queue has delivered the events posted so
  * far, so a spec can count listener callbacks exactly. The listener bus
  * is private to Spark, hence this package.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
