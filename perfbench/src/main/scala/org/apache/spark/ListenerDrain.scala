package org.apache.spark

/** Waits until every event posted so far has reached the listeners. The bus
  * is package-private to Spark, hence this one-line bridge. */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
