package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Specs that count jobs with a `SparkListener` read the count after the
  * action returns, so they drain the listener bus first; the bus is
  * package-private.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
