package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus
import org.apache.spark.sql.catalyst.plans.logical.{Expand, FlatMapGroupsWithState}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQueryProgress, TestGroupState}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{SessionPanes, SessionWindows, StreamJob}
import graft.streaming.SessionPanes.{Event, Pane, Panes, WindowRow}

object SessionPanesSpec {
  private val WireTime = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  /** One wire event; `sec` in epoch seconds, the wire format's precision. */
  final case class Ev(sec: Long, typ: String, product: Option[Long], price: Option[Double],
      session: String) {
    def json: String =
      s"""{"event_time":"${WireTime.format(Instant.ofEpochSecond(sec))} UTC","event_type":"$typ",""" +
        s""""product_id":${product.getOrElse("null")},"category_id":1,"category_code":"c",""" +
        s""""brand":"b","price":${price.getOrElse("null")},"user_id":1,""" +
        s""""user_session":"$session","ingestion_time":"x"}"""
  }
}

/** The stream's session-window operator against the windowed aggregate it
  * replaces: per micro-batch parity on a disordered, late-event fixture,
  * the pure transition under `TestGroupState`, null handling against the
  * exact static twin, and the plan shape.
  */
final class SessionPanesSpec extends AnyFunSuite {
  import SessionPanesSpec.Ev
  private lazy val spark = TestSpark.spark

  private val WindowUs = 300L * 1000000L
  private val SlideUs = 30L * 1000000L

  /** (session, window start µs) → every other column, as comparable values. */
  private def keyed(rows: Seq[Row]): Map[(String, Long), Seq[Any]] =
    rows.map { r =>
      val w = r.getStruct(r.fieldIndex("window"))
      def us(t: Timestamp) = t.toInstant.getEpochSecond * 1000000L + t.getNanos / 1000
      val key = (r.getAs[String]("user_session"), us(w.getTimestamp(0)))
      key -> Seq(us(w.getTimestamp(1)), r.getAs[Long]("view_count"), r.getAs[Long]("cart_count"),
        r.getAs[Long]("purchase_count"), r.getAs[Long]("total_events"),
        r.getAs[Long]("session_duration"), Option(r.getAs[java.lang.Double]("avg_price")),
        Option(r.getAs[java.lang.Double]("max_price")), r.getAs[Long]("unique_items"),
        us(r.getAs[Timestamp]("last_event_time")))
    }.toMap

  private val UniqueItems = 8
  private val AvgPrice = 6

  /** Equal up to float summation order in `avg_price`; `unique_items`
    * compared only when `items`.
    */
  private def sameRow(a: Seq[Any], b: Seq[Any], items: Boolean): Boolean =
    a.indices.forall {
      case UniqueItems if !items => true
      case AvgPrice => (a(AvgPrice), b(AvgPrice)) match {
        case (Some(x: java.lang.Double), Some(y: java.lang.Double)) =>
          math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
        case (x, y) => x == y
      }
      case i => a(i) == b(i)
    }

  /** Runs `build` over `dir`'s files, one file per micro-batch, and returns
    * each micro-batch's rows by batch id with the query's progress.
    */
  private def runStream(dir: String, build: DataFrame => DataFrame)
      : (Map[Long, Seq[Row]], Seq[StreamingQueryProgress]) = {
    val out = mutable.Map.empty[Long, Seq[Row]]
    val raw = spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(dir)
      .select(col("value").as("json_str"))
    val q = build(StreamJob.parse(raw)).writeStream
      .outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("graft-panes-cp").toString)
      .foreachBatch { (b: DataFrame, id: Long) => out.synchronized { out(id) = b.collect().toSeq }; () }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    (out.synchronized(out.toMap), q.recentProgress.toSeq.sortBy(_.batchId))
  }

  test("stream parity: the windowed aggregate's rows per micro-batch, unique_items exact") {
    val events = graft.queries.QueryHelpers.clickstream(spark, TestSpark.Sf001)
      .select(col("event_time").cast("long"),
        when(col("event_type") === "click", "cart").otherwise(col("event_type")),
        col("product_id").cast("long"), col("price"), col("user_session"))
      .collect()
      .map(r => Ev(r.getLong(0), r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getString(4)))
      .sortBy(e => (e.sec, e.session, e.product))
    val n = 12
    val batches = events.grouped((events.length + n - 1) / n).map(_.toBuffer).toArray
    assert(batches.length == n)
    // disorder inside the watermark: each batch's last 5 minutes arrive
    // with the next batch
    for (k <- 0 until n - 1) {
      val cut = batches(k).last.sec - 300
      val (kept, tail) = batches(k).partition(_.sec <= cut)
      batches(k) = kept
      batches(k + 1).prependAll(tail)
    }
    // beyond the watermark (W = the previous batches' max - 10 min): copies
    // of events two batches back, and copies of the previous batch's events
    // re-timed 2 and 7 minutes below W, whose windows straddle W
    for (k <- 2 until n) {
      val w = batches.take(k).map(_.map(_.sec).max).max - 600
      batches(k) ++= batches(k - 2).take(3)
      batches(k) ++= batches(k - 1).take(3).map(_.copy(sec = w - 120))
      batches(k) ++= batches(k - 1).slice(3, 5).map(_.copy(sec = w - 420))
    }
    val dir = Files.createTempDirectory("graft-panes-in")
    batches.zipWithIndex.foreach { case (b, k) =>
      val p = dir.resolve(f"b$k%02d.json")
      Files.write(p, b.map(_.json).mkString("\n").getBytes)
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime.fromMillis(1000000L * (k + 1)))
    }

    val conf = StreamJob.Config()
    val (panes, panesProgress) = runStream(dir.toString, StreamJob.sessionAggStream(_, conf))
    val (agg, aggProgress) = runStream(dir.toString, ev => SessionWindows.slidingSessionAgg(
      ev.withWatermark("event_timestamp", conf.watermarkDelay),
      windowDuration = conf.windowDuration, slideDuration = conf.slideDuration))
    def dataBatches(ps: Seq[StreamingQueryProgress]) = ps.filter(_.numInputRows > 0).map(_.batchId)
    assert(dataBatches(panesProgress).size == n && dataBatches(aggProgress).size == n)
    // a micro-batch without input (watermark advance, timeouts) emits nothing
    panes.foreach { case (id, rows) =>
      if (!dataBatches(panesProgress).contains(id)) assert(rows.isEmpty, s"batch $id")
    }

    var closedInBatch = 0
    var compared = 0
    dataBatches(panesProgress).zip(aggProgress.filter(_.numInputRows > 0)).zipWithIndex.foreach {
      case ((pId, aggP), k) =>
        val wmUs = Instant.parse(aggP.eventTime.get("watermark")).toEpochMilli * 1000L
        val got = keyed(panes(pId))
        val aggRows = keyed(agg(aggP.batchId))
        val open = aggRows.filter { case (_, v) => v.head.asInstanceOf[Long] > wmUs }
        closedInBatch += aggRows.size - open.size
        assert(got.keySet == open.keySet, s"batch $k: (session, window) keys")
        open.foreach { case (key, v) =>
          assert(sameRow(got(key), v, items = false), s"batch $k $key: ${got(key)} vs $v")
        }
        // every event fed so far counts in a window that is still open
        val fed = spark.read.text(batches.indices.take(k + 1)
          .map(i => dir.resolve(f"b$i%02d.json").toString): _*).select(col("value").as("json_str"))
        val exact = keyed(SessionWindows.slidingSessionAgg(StreamJob.parse(fed),
          windowDuration = conf.windowDuration, slideDuration = conf.slideDuration,
          exactDistinct = true).collect().toSeq)
        got.foreach { case (key, v) =>
          assert(sameRow(v, exact(key), items = true), s"batch $k $key: $v vs exact ${exact(key)}")
        }
        compared += got.size
    }
    assert(compared > 10000, s"$compared rows compared")
    // the fixture reaches the one difference: windows that close in the
    // micro-batch where a late event updates them
    assert(closedInBatch > 0)
    // same column names and types as the aggregate
    val parsed = StreamJob.parse(spark.readStream.format("text").load(dir.toString)
      .select(col("value").as("json_str")))
    def types(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    assert(types(StreamJob.sessionAggStream(parsed, conf)) ==
      types(SessionWindows.slidingSessionAgg(parsed.withWatermark("event_timestamp", "10 minutes"))))
  }

  private val T0 = Instant.parse("2024-01-01T10:00:00Z").toEpochMilli * 1000L
  private def us(seconds: Double): Long = T0 + math.round(seconds * 1e6)

  private def pane(startS: Int, ts: Long, item: Long): Pane =
    Pane(us(startS), 1, 0, 0, 1, ts, ts, 10.0, 1, 10.0, Array(item))

  private def state(panes: Seq[Pane], watermarkMs: Long,
      timedOut: Boolean = false): TestGroupState[Panes] =
    TestGroupState.create[Panes](
      if (panes.isEmpty) Optional.empty[Panes]() else Optional.of(Panes(panes)),
      GroupStateTimeout.EventTimeTimeout, 0L, Optional.of[Long](watermarkMs), timedOut)

  test("a timed-out session removes its state and emits nothing") {
    val st = state(Seq(pane(0, us(1), 7L)), T0 / 1000, timedOut = true)
    assert(SessionPanes.processGroup("s", Iterator.empty, st, WindowUs, SlideUs).isEmpty)
    assert(st.isRemoved)
  }

  test("panes at or below the query watermark are dropped; the timeout is the last pane - 1 ms") {
    // query watermark T0, so the aggregate's watermark is T0 + 5 min: panes
    // -30 s and 0 have no window ending after it, pane 30 s has one
    val st = state(Seq(pane(-30, us(-29), 1L), pane(0, us(1), 2L), pane(30, us(31), 3L)), T0 / 1000)
    val fresh = Seq(
      Event("s", "cart", Some(4L), Some(30.0), us(10)), // pane 0: late, dropped
      Event("s", "purchase", Some(5L), Some(20.0), us(45.5)))
    val out = SessionPanes.processGroup("s", fresh.iterator, st, WindowUs, SlideUs).toSeq
    assert(out == Seq(WindowRow("s", us(30), us(330), 1, 0, 1, 2, 45 - 31, Some(15.0), Some(20.0), 2,
      us(45.5))))
    val kept = st.get.panes
    assert(kept.map(_.start) == Seq(us(30)))
    assert(kept.head.items.toSeq == Seq(3L, 5L))
    assert(st.getTimeoutTimestampMs == Optional.of[Long](us(30) / 1000 - 1))
    assert(!st.isRemoved)

    // only late events on a key without state: no state, no rows, no write
    val empty = state(Nil, T0 / 1000)
    assert(SessionPanes.processGroup("t", fresh.take(1).iterator, empty, WindowUs, SlideUs).isEmpty)
    assert(!empty.exists && !empty.isUpdated && !empty.isRemoved)
  }

  test("null price, product_id, event_type and user_session behave as in the exact aggregate") {
    val rows = Seq[(String, String, Option[Long], Option[Double], Long)](
      ("a", "view", Some(1L), Some(10.5), us(0.000123)),
      ("a", null, None, None, us(12)),
      ("a", "cart", Some(1L), None, us(40)),
      ("a", "other", None, Some(2.25), us(61.5)),
      ("a", "purchase", Some(2L), Some(10.5), us(400)),
      ("b", "view", None, None, us(5)),
      (null, "view", Some(3L), Some(1.0), us(7)),
      (null, "purchase", Some(3L), Some(4.0), us(95)))
    val spark = this.spark
    import spark.implicits._
    val df = rows.toDF("user_session", "event_type", "product_id", "price", "us")
      .withColumn("event_timestamp", timestamp_micros(col("us")))
    val exact = keyed(SessionWindows.slidingSessionAgg(df, exactDistinct = true).collect().toSeq)
    val got = rows.groupBy(_._1).toSeq.flatMap { case (session, evs) =>
      val st = state(Nil, 0L)
      SessionPanes.processGroup(session, evs.map(e => Event(e._1, e._2, e._3, e._4, e._5)).iterator,
        st, WindowUs, SlideUs).toSeq
    }.map(w => (w.user_session, w.window_start) -> Seq(w.window_end, w.view_count, w.cart_count,
      w.purchase_count, w.total_events, w.session_duration, w.avg_price, w.max_price,
      w.unique_items, w.last_event_time)).toMap
    assert(got.keySet == exact.keySet)
    got.foreach { case (k, v) => assert(v == exact(k), s"$k: $v vs ${exact(k)}") }
    assert(got.exists { case (_, v) => v(AvgPrice) == None && v(UniqueItems) == 0L })
  }

  test("a window that is not a multiple of the slide fails the named require") {
    val e = intercept[IllegalArgumentException](SessionPanes.durations("5 minutes", "40 seconds"))
    assert(e.getMessage.contains("must be a positive multiple of slideDuration"))
    val raw = spark.readStream.format("text").load(Files.createTempDirectory("graft-panes").toString)
      .select(col("value").as("json_str"))
    intercept[IllegalArgumentException](StreamJob.sessionAggStream(StreamJob.parse(raw),
      StreamJob.Config(windowDuration = "5 minutes", slideDuration = "40 seconds")))
  }

  test("plan guard: one FlatMapGroupsWithState, no Expand, no HyperLogLogPlusPlus") {
    val raw = spark.readStream.format("text").load(Files.createTempDirectory("graft-panes").toString)
      .select(col("value").as("json_str"))
    val events = StreamJob.parse(raw)
    def shape(df: DataFrame): (Int, Int, Boolean) = {
      val plan = df.queryExecution.analyzed
      (plan.collect { case f: FlatMapGroupsWithState => f }.size,
        plan.collect { case e: Expand => e }.size,
        plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[HyperLogLogPlusPlus]))))
    }
    assert(shape(StreamJob.sessionAggStream(events, StreamJob.Config())) == ((1, 0, false)))
    // the guard sees the windowed aggregate's expansion and sketch
    val agg = SessionWindows.slidingSessionAgg(events.withWatermark("event_timestamp", "10 minutes"))
    assert(shape(agg) == ((0, 1, true)))
  }
}
