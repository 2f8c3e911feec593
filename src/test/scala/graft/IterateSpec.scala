package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.graftbridge.ListenerBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Iterate

/** `Iterate`'s contract: one job per round, a stop rule or a step's None
  * ends the loop with the frame the full loop would return, and only the
  * returned round (plus what the caller pinned) stays pinned — released
  * without the lineage WARN `RDD.unpersist` logs for a local checkpoint.
  */
class IterateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def xs(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq.sorted

  private def rddId(df: DataFrame): Int =
    df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd.id }.get

  private def cacheManagerEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("a fixed-round loop runs one job per round, plus one for the initial frame") {
    val init = spark.range(0, 40, 1, 4).toDF("x")
    var out: DataFrame = null
    val jobs = ListenerBus.countJobs(spark.sparkContext) {
      out = Iterate(init, 5)(_.select((col("x") * 2).as("x")))
    }
    try {
      assert(jobs == 6)
      assert(xs(out) == (0L until 40L).map(_ * 32))
    } finally GraftSession.release(spark)
  }

  test("a stop rule or a step's None ends the loop with the full loop's frame") {
    val init = spark.range(0, 32, 1, 4).toDF("x")
    def peel(f: DataFrame): DataFrame = f.filter(col("x") < 10)
    try {
      val full = xs(Iterate(init, 20)(peel))
      var steps = 0
      val stopped = Iterate.until(init, 20, stop = (prev, next) => next.rows == prev.rows) { r =>
        steps += 1
        Some(peel(r.frame))
      }
      assert(steps == 2 && xs(stopped) == full && full == (0L until 10L))
      steps = 0
      val none = Iterate.until(init, 20) { r =>
        steps += 1
        if (r.rows == 10L) None else Some(peel(r.frame))
      }
      assert(steps == 2 && xs(none) == full)
    } finally GraftSession.release(spark)
  }

  test("after the loop only the returned round and the caller's blocks stay pinned") {
    GraftSession.release(spark)
    val sc = spark.sparkContext
    // a caller-pinned loop invariant, joined every round
    val keys = spark.range(0, 8).toDF("k").localCheckpoint(true)
    val init = spark.range(0, 64, 1, 4).toDF("x")
    try {
      val out = Iterate.until(init, 4) { r =>
        // a round-local cache, read twice by the round
        val m = r.cache(r.frame.select((col("x") % 8).as("k"), col("x")))
        Some(m.join(keys, "k").select(col("x")).unionByName(m.select(col("x")))
          .distinct())
      }
      assert(sc.getPersistentRDDs.keySet == Set(rddId(keys), rddId(out)))
      assert(cacheManagerEmpty)
      assert(xs(out) == (0L until 64L))
    } finally GraftSession.release(spark)
    assert(sc.getPersistentRDDs.isEmpty && cacheManagerEmpty)
  }

  test("the graph loops release their invariants: a built query pins only its returned round") {
    val sc = spark.sparkContext
    for (q <- Seq("q_pagerank", "q_ppr_contamination", "q_textrank_keywords",
        "q_lpa_communities")) {
      GraftSession.release(spark)
      try {
        val df = SparkEntry.queries(q)(spark, TestSpark.Sf0001)
        df.write.format("noop").mode("overwrite").save()
        assert(sc.getPersistentRDDs.keySet == Set(rddId(df)), q)
      } finally GraftSession.release(spark)
    }
  }

  private class Capture extends AbstractAppender(
      "iterate-spec-capture", null, null, true, Property.EMPTY_ARRAY) {
    val messages = new ConcurrentLinkedQueue[String]
    override def append(e: LogEvent): Unit = messages.add(e.getMessage.getFormattedMessage)
  }

  private def captured(body: => Unit): Seq[String] = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    val capture = new Capture
    capture.start()
    root.addAppender(capture, null, null)
    ctx.updateLoggers()
    try body
    finally {
      root.removeAppender(capture.getName)
      ctx.updateLoggers()
      capture.stop()
    }
    capture.messages.asScala.toSeq
  }

  private val LineageWarn = "was locally checkpointed"

  test("neither Iterate nor GraftSession.release logs the lineage WARN") {
    // the capture sees the WARN where RDD.unpersist logs it
    val logged = captured {
      val df = spark.range(0, 8).toDF("x").localCheckpoint(true)
      df.queryExecution.analyzed.collectFirst { case r: LogicalRDD => r.rdd }.get.unpersist()
    }
    assert(logged.exists(_.contains(LineageWarn)))
    val quiet = captured {
      val out = Iterate(spark.range(0, 8).toDF("x"), 3)(_.select((col("x") + 1).as("x")))
      assert(xs(out) == (3L until 11L))
      GraftSession.release(spark)
    }
    assert(!quiet.exists(_.contains(LineageWarn)), quiet.filter(_.contains(LineageWarn)))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }
}
