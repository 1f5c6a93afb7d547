package org.apache.spark

/** The one Spark-internal call the traced run needs: block until every
  * listener event already posted has been delivered, so per-call counts
  * are complete when the call's span closes. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
