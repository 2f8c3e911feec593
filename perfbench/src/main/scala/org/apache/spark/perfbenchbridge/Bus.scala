package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The benchmark reads listener figures right after a timed region, so it
  * needs the listener bus drained first; the bus is package-private.
  */
object Bus {
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
