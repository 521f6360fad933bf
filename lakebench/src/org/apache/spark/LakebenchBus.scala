package org.apache.spark

/** Waits until every listener queue of the context has delivered its
  * pending events, so spans and counts collected by a listener can be
  * attributed to the operation that just returned. `waitUntilEmpty` is
  * package-private to Spark, hence this one-line bridge.
  */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
