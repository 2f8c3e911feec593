package graft

import java.util.concurrent.TimeUnit

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbridge.ListenerBus
import org.apache.spark.scheduler.{JobFailed, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QueryHelpers

/** `QueryHelpers.buildConcurrently`: builders run with the given session
  * active, the caller's active session is untouched, no pool thread
  * outlives the call, and the first builder failure cancels the others'
  * running jobs.
  */
final class BuildConcurrentlySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The threads that ran builders, recorded by [[builder]]. */
  private val ran = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
  private def builder[T](body: => T): () => T = () => {
    ran.add(Thread.currentThread)
    body
  }
  private def noPoolThreadAlive(): Unit = {
    assert(!ran.isEmpty)
    assert(ran.asScala.forall(!_.isAlive), "a pool thread outlived the call")
    ran.clear()
  }

  test("builders see the given session; the caller's session is unchanged; no thread remains") {
    val other = spark.newSession()
    SparkSession.setActiveSession(other)
    try {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkSession]()
      val out = QueryHelpers.buildConcurrently(spark, (1 to 3).map { i => builder {
        seen.add(SparkSession.active)
        spark.range(i).toDF()
      }})
      assert(out.map(_.count()) == Seq(1L, 2L, 3L))
      assert(seen.asScala.forall(_ eq spark) && seen.size == 3)
      assert(SparkSession.getActiveSession.exists(_ eq other))
      noPoolThreadAlive()
    } finally SparkSession.setActiveSession(spark)
  }

  test("a builder's failure surfaces as itself") {
    val e = intercept[IllegalStateException](QueryHelpers.buildConcurrently(spark, Seq(
      builder(spark.range(1).toDF()), builder(throw new IllegalStateException("boom")))))
    assert(e.getMessage == "boom")
    noPoolThreadAlive()
  }

  test("a failing builder listed after a long-running one cancels its job promptly") {
    val sc = spark.sparkContext
    val desc = "BuildConcurrentlySpec long job"
    val longJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val started = new java.util.concurrent.CountDownLatch(1)
    val failed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == desc)) {
          longJob.set(e.jobId)
          started.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == longJob.get && e.jobResult.isInstanceOf[JobFailed]) failed.countDown()
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException](QueryHelpers.buildConcurrently(spark, Seq(
        builder {
          sc.setJobDescription(desc)
          sc.parallelize(Seq(1), 1).map { x => Thread.sleep(60000); x }.count()
          spark.range(1).toDF()
        },
        builder {
          assert(started.await(30, TimeUnit.SECONDS), "the long job never started")
          throw new IllegalStateException("boom")
        })))
      assert(e.getMessage == "boom")
      ListenerBus.drain(sc)
      assert(failed.await(30, TimeUnit.SECONDS), "job still running")
      assert((System.nanoTime() - t0).nanos < 40.seconds)
      noPoolThreadAlive()
    } finally sc.removeSparkListener(listener)
  }
}
