package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this shim lets the benchmark wait
  * until every event posted so far has reached every listener, instead of
  * sleeping for a guessed interval.
  */
object Bus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
