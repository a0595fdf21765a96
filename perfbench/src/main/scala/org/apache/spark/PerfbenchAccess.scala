package org.apache.spark

/** The one Spark-internal call the benchmark needs: waiting until the
  * listener bus has delivered every event, so a traced run's job records
  * are complete before they are summed. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
