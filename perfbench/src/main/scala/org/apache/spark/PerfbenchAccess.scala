package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * listener queue has delivered its events, so a traced operation's jobs,
  * stages, tasks and streaming progress are all attributed before the next
  * operation starts. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
