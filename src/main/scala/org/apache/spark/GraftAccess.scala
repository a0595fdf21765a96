package org.apache.spark

/** Spark's listener bus is `private[spark]`; this is the one call into it:
  * block until every event posted so far has been delivered, so a
  * listener's counters are complete when they are read. */
object GraftAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
