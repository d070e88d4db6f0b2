package org.apache.spark

/** The listener bus's drain is package-private to Spark; this bridge lets
  * the benchmark wait until every posted event has reached its listener
  * before it reads counters, instead of sleeping for a guessed interval. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
