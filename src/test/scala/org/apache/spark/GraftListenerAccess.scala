package org.apache.spark

/** Test access to one Spark-internal call: wait until every listener queue
  * has delivered the events posted so far. */
object GraftListenerAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
