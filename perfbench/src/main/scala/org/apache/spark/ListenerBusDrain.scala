package org.apache.spark

/** Waits until every listener queue has delivered its events. The bus
  * is Spark-private; this file sits in Spark's package only to reach
  * it, so the runner reads job and stage counters exactly instead of
  * polling until two reads agree. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
