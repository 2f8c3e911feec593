package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.catalyst.expressions.TimeWindow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{StructType, TimestampType}

/** T2 on a stream: the per-(session, sliding window) features of
  * [[SessionWindows.slidingSessionAgg]] from one state row per session
  * (reference: src/streaming/stream_processor.py:170-201).
  *
  * The windowed aggregate expands every event into `window / slide` rows
  * and keeps one state row per (session, window). Here a session's state
  * is its slide-aligned panes: per pane the view, cart and purchase
  * counts, the event count, the first and last event time, the price sum,
  * count and maximum, and the exact set of `product_id`s. Overlapping
  * windows share the pane partials, and a window's row is merged from its
  * `window / slide` panes when an event lands in it. `unique_items` is the
  * exact distinct count, `slidingSessionAgg(exactDistinct = true)`.
  *
  * Watermark. The aggregate drops a (session, window) row once its end is
  * at or below the watermark W = max event time - `watermarkDelay`. The
  * query's watermark here trails W by one window, so the operator's
  * built-in late filter drops only events every window of theirs has
  * dropped; the operator recovers W as the current query watermark plus
  * one window. A pane lives while some window over it ends after W, and a
  * window is emitted only when it ends after W. Per micro-batch the rows
  * equal the aggregate's update-mode rows, minus the windows that end at
  * or below the batch's watermark (the aggregate emits those once more,
  * from late events, before evicting them). Event times within one window
  * of the epoch count as late. A session's state times out, by event
  * time, when its last pane has expired.
  */
object SessionPanes {

  /** One event as the operator reads it; `ts` in epoch microseconds. */
  final case class Event(
      user_session: String,
      event_type: String,
      product_id: Option[Long],
      price: Option[Double],
      ts: Long
  )

  /** The partial aggregate of one pane `[start, start + slide)`, times in
    * epoch microseconds, `items` sorted and distinct. `price_max` holds
    * only when `price_count > 0`.
    */
  final case class Pane(
      start: Long,
      views: Long,
      carts: Long,
      purchases: Long,
      events: Long,
      min_ts: Long,
      max_ts: Long,
      price_sum: Double,
      price_count: Long,
      price_max: Double,
      items: Array[Long]
  )

  /** A session's state: its live panes in start order. */
  final case class Panes(panes: Seq[Pane])

  /** One emitted (session, window) row, times in epoch microseconds. */
  final case class WindowRow(
      user_session: String,
      window_start: Long,
      window_end: Long,
      view_count: Long,
      cart_count: Long,
      purchase_count: Long,
      total_events: Long,
      session_duration: Long,
      avg_price: Option[Double],
      max_price: Option[Double],
      unique_items: Long,
      last_event_time: Long
  )

  /** The type of `window()`'s struct. */
  private val WindowType = new StructType().add("start", TimestampType).add("end", TimestampType)

  /** Window and slide in microseconds, parsed as `window()` parses them. */
  def durations(windowDuration: String, slideDuration: String): (Long, Long) = {
    val windowUs = TimeWindow.getIntervalInMicroSeconds(windowDuration)
    val slideUs = TimeWindow.getIntervalInMicroSeconds(slideDuration)
    require(slideUs > 0 && windowUs > 0 && windowUs % slideUs == 0,
      s"windowDuration ($windowDuration) must be a positive multiple of slideDuration ($slideDuration)")
    (windowUs, slideUs)
  }

  private def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var n = 0
    var i = 0
    while (i < a.length) {
      if (n == 0 || a(i) != a(n - 1)) { a(n) = a(i); n += 1 }
      i += 1
    }
    if (n == a.length) a else java.util.Arrays.copyOf(a, n)
  }

  /** Accumulates one pane's new events. */
  private final class PaneAcc(start: Long) {
    private var views, carts, purchases, events, priceCount = 0L
    private var minTs = Long.MaxValue
    private var maxTs = Long.MinValue
    private var priceSum = 0.0
    private var priceMax = Double.NegativeInfinity
    private val items = mutable.ArrayBuilder.make[Long]

    def add(e: Event): Unit = {
      e.event_type match {
        case "view"     => views += 1
        case "cart"     => carts += 1
        case "purchase" => purchases += 1
        case _          =>
      }
      events += 1
      minTs = math.min(minTs, e.ts)
      maxTs = math.max(maxTs, e.ts)
      e.price.foreach { p =>
        priceSum += p
        priceMax = if (priceCount == 0) p else math.max(priceMax, p)
        priceCount += 1
      }
      e.product_id.foreach(items += _)
    }

    def result: Pane = Pane(start, views, carts, purchases, events, minTs, maxTs,
      priceSum, priceCount, priceMax, sortedDistinct(items.result()))
  }

  /** Two partials combined as the aggregate combines its inputs: counts
    * and sums add, `price_max` is taken over the panes holding a price,
    * the item sets unite.
    */
  private def merge(a: Pane, b: Pane): Pane = Pane(a.start,
    a.views + b.views, a.carts + b.carts, a.purchases + b.purchases, a.events + b.events,
    math.min(a.min_ts, b.min_ts), math.max(a.max_ts, b.max_ts),
    a.price_sum + b.price_sum, a.price_count + b.price_count,
    if (a.price_count == 0) b.price_max
    else if (b.price_count == 0) a.price_max
    else math.max(a.price_max, b.price_max),
    sortedDistinct(a.items ++ b.items))

  /** The row of window `[start, start + windowUs)` from `panes` (start
    * order), as the windowed aggregate computes it.
    */
  private def windowRow(session: String, start: Long, windowUs: Long,
      panes: Array[Pane]): WindowRow = {
    val in = panes.filter(p => p.start >= start && p.start < start + windowUs)
    var views, carts, purchases, events, priceCount = 0L
    var minTs = Long.MaxValue
    var maxTs = Long.MinValue
    var priceSum = 0.0
    var priceMax = Double.NegativeInfinity
    in.foreach { p =>
      views += p.views; carts += p.carts; purchases += p.purchases; events += p.events
      minTs = math.min(minTs, p.min_ts)
      maxTs = math.max(maxTs, p.max_ts)
      if (p.price_count > 0) {
        priceMax = if (priceCount == 0) p.price_max else math.max(priceMax, p.price_max)
        priceSum += p.price_sum
        priceCount += p.price_count
      }
    }
    val items = sortedDistinct(in.flatMap(_.items))
    WindowRow(session, start, start + windowUs, views, carts, purchases, events,
      // max(ts).cast("long") - min(ts).cast("long"): whole seconds, floored
      Math.floorDiv(maxTs, 1000000L) - Math.floorDiv(minTs, 1000000L),
      if (priceCount == 0) None else Some(priceSum / priceCount),
      if (priceCount == 0) None else Some(priceMax),
      items.length.toLong, maxTs)
  }

  /** The pure per-session transition, unit-testable like
    * [[StreamingAsOf.processGroup]]. Folds the new events into the live
    * panes, drops panes and events no window after the watermark covers,
    * emits every window that holds a new event and ends after the
    * watermark, and sets the event-time timeout to expire with the last
    * pane. A timed-out session is removed and emits nothing.
    */
  def processGroup(
      session: String,
      events: Iterator[Event],
      state: GroupState[Panes],
      windowUs: Long,
      slideUs: Long
  ): Iterator[WindowRow] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    // the aggregate's watermark W, in microseconds
    val wm = state.getCurrentWatermarkMs() * 1000L + windowUs
    def live(pane: Long) = pane + windowUs > wm
    val kept = state.getOption.fold(Array.empty[Pane])(_.panes.toArray).filter(p => live(p.start))
    val fresh = mutable.LongMap.empty[PaneAcc]
    events.foreach { e =>
      val pane = e.ts - Math.floorMod(e.ts, slideUs)
      if (live(pane)) fresh.getOrElseUpdate(pane, new PaneAcc(pane)).add(e)
    }
    val panes =
      if (fresh.isEmpty) kept
      else {
        val byStart = mutable.LongMap.from(kept.iterator.map(p => p.start -> p))
        fresh.foreachEntry { (start, acc) =>
          val p = acc.result
          byStart(start) = byStart.get(start).fold(p)(merge(_, p))
        }
        val merged = byStart.values.toArray.sortBy(_.start)
        state.update(Panes(merged.toSeq))
        merged
      }
    if (panes.isEmpty) {
      if (state.exists) state.remove()
      return Iterator.empty
    }
    // fires once the query watermark (W - window) reaches the last pane,
    // i.e. when every window over it has ended at or below W
    state.setTimeoutTimestamp(Math.floorDiv(panes.last.start - 1, 1000L))
    val perPane = windowUs / slideUs
    val starts = fresh.keys.toArray
      .flatMap(p => (0L until perPane).map(p - _ * slideUs))
      .filter(s => s + windowUs > wm)
      .distinct
      .sorted
    starts.iterator.map(windowRow(session, _, windowUs, panes))
  }

  /** The stream's sliding session aggregate: the columns, names and types
    * of [[SessionWindows.slidingSessionAgg]] over
    * `events.withWatermark("event_timestamp", watermarkDelay)`, in update
    * mode. `events` carries the [[StreamJob.EventSchema]] columns
    * `user_session`, `event_type`, `product_id` and `price`, plus
    * `event_timestamp`; rows with a null timestamp are dropped, as
    * `window()` drops them.
    */
  def slidingSessionAgg(
      events: DataFrame,
      watermarkDelay: String,
      windowDuration: String,
      slideDuration: String
  ): DataFrame = {
    val tsCol = "event_timestamp"
    val (windowUs, slideUs) = durations(windowDuration, slideDuration)
    implicit val stateEnc = Encoders.product[Panes]
    implicit val outEnc = Encoders.product[WindowRow]
    def ts(c: String) = timestamp_micros(col(c))
    events
      .withWatermark(tsCol, s"$watermarkDelay $windowUs microseconds")
      .filter(col(tsCol).isNotNull)
      .select(col("user_session"), col("event_type"), col("product_id"), col("price"),
        unix_micros(col(tsCol)).as("ts"), col(tsCol))
      // grouped by the column: groupByKey would decode every event once
      // more, map-side, only to compute its key
      .groupBy(col("user_session"))
      .as[String, Event](Encoders.STRING, Encoders.product[Event])
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.EventTimeTimeout)(
        (session, it, st: GroupState[Panes]) => processGroup(session, it, st, windowUs, slideUs))
      .select(
        col("user_session"),
        struct(ts("window_start").as("start"), ts("window_end").as("end"))
          .cast(WindowType).as("window"),
        col("view_count"), col("cart_count"), col("purchase_count"), col("total_events"),
        col("session_duration"), col("avg_price"), col("max_price"), col("unique_items"),
        ts("last_event_time").as("last_event_time"))
  }
}
