package org.apache.spark.graftbridge

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Specs that count jobs with a `SparkListener` read the count after the
  * action returns, so they drain the listener bus first; the bus is
  * package-private.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)

  /** The Spark jobs `body` starts: the bus is drained before and after, so
    * neither an earlier job nor a late event of `body`'s own is miscounted.
    */
  def countJobs(sc: SparkContext)(body: => Any): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      drain(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
