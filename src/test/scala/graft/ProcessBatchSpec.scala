package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftbridge.ListenerBus
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.OnlineLogreg
import graft.streaming.{MetricsSink, StreamJob}

/** `StreamJob.processBatch` on static frames with the session-aggregate
  * columns, laid out partition by partition: the totals, the scored rows,
  * the empty batch, and the single Spark job per call.
  */
class ProcessBatchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private class RecordingSink extends MetricsSink {
    val updates = ArrayBuffer.empty[Map[String, Any]]
    def update(current: Map[String, Any]): Unit = updates += current
    def latest: Option[Map[String, Any]] = updates.lastOption
    def size: Int = updates.size
  }

  private val Schema = StructType(Seq(
    StructField("user_session", StringType),
    StructField("view_count", LongType),
    StructField("cart_count", LongType),
    StructField("purchase_count", LongType),
    StructField("total_events", LongType),
    StructField("session_duration", LongType),
    StructField("avg_price", DoubleType),
    StructField("max_price", DoubleType),
    StructField("unique_items", LongType)))

  private def row(s: String, v: java.lang.Long, c: java.lang.Long, p: java.lang.Long,
      t: java.lang.Long): Row =
    Row(s, v, c, p, t, 60L, 12.5, 20.0, 3L)

  /** One partition per inner sequence, in order. */
  private def frame(parts: Seq[Seq[Row]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(parts, parts.size max 1).flatMap(identity), Schema)

  private def run(df: DataFrame, maxScoredRows: Int): Seq[Map[String, Any]] = {
    val sink = new RecordingSink
    try StreamJob.processBatch(df, 7L, new OnlineLogreg(6), sink, maxScoredRows)
    finally GraftSession.release(spark)
    sink.updates.toSeq
  }

  private def sessions(update: Map[String, Any]): Seq[String] =
    update("predictions").asInstanceOf[Seq[Map[String, Any]]].map(_("session_id").toString)

  private val Mixed = Seq(
    Seq(row("a", 3L, 1L, null, 4L), row("b", null, 2L, 1L, 3L)),
    Seq.empty,
    Seq(row("c", 1L, null, null, 1L), row("d", 5L, 4L, 2L, 11L), row("e", null, null, null, 2L)),
    Seq(row("f", 2L, 2L, 2L, 6L)))

  test("totals equal the sum/count aggregate of the same frame, null counts as 0") {
    val df = frame(Mixed)
    val Seq(u) = run(df, 1000)
    val agg = df.agg(sum("view_count"), sum("cart_count"), sum("purchase_count"),
      sum("total_events"), count(lit(1))).collect()(0)
    def l(i: Int): Long = if (agg.isNullAt(i)) 0L else agg.getLong(i)
    assert(u("total_views") == l(0) && u("total_carts") == l(1) &&
      u("total_purchases") == l(2) && u("total_events") == l(3) &&
      u("active_sessions") == l(4), u)
    assert(u("total_views") == 11L && u("total_carts") == 9L && u("total_purchases") == 5L &&
      u("total_events") == 27L && u("active_sessions") == 6L)
    assert(u("conversion_rate") == 5.0 / 9 * 100)
    // a column with no non-null value sums to null; it reads as 0
    val allNull = frame(Seq(Seq(row("x", null, null, null, 1L))))
    val Seq(z) = run(allNull, 1000)
    assert(z("total_views") == 0L && z("total_carts") == 0L && z("conversion_rate") == 0.0)
  }

  test("scores the first maxScoredRows rows in partition order, the rows limit takes") {
    // the first partition holds fewer rows than maxScoredRows
    val df = frame(Mixed)
    val limited = df.select("user_session").limit(4).collect().map(_.getString(0)).toSeq
    val Seq(u) = run(df, 4)
    assert(u("batch_count") == 4)
    assert(sessions(u) == limited && limited == Seq("a", "b", "c", "d"))
    val Seq(all) = run(df, 1000)
    assert(all("batch_count") == 6 && sessions(all) == Seq("a", "b", "c", "d", "e", "f"))
  }

  test("a long sum that overflows throws, as the ANSI sum does") {
    val big = frame(Seq(Seq(row("a", Long.MaxValue, 0L, 0L, 1L)), Seq(row("b", 1L, 0L, 0L, 1L))))
    intercept[ArithmeticException](run(big, 1000))
  }

  test("an empty batch writes no metrics") {
    assert(run(frame(Seq(Seq.empty, Seq.empty)), 1000).isEmpty)
    assert(run(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schema), 1000).isEmpty)
  }

  test("one call launches exactly one Spark job") {
    val df = frame(Mixed)
    val jobs = ListenerBus.countJobs(spark.sparkContext)(assert(run(df, 4).size == 1))
    assert(jobs == 1)
  }
}
