package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** T2: the sliding-window session aggregate
  * (reference: src/streaming/stream_processor.py:170-201). Pure
  * `DataFrame => DataFrame` on a static frame (oracle-testable window
  * bucketing). The stream computes the same rows with [[SessionPanes]], one
  * state row per session; this aggregate is its static twin (and still
  * runs on a stream after `withWatermark`, one state row per window).
  */
object SessionWindows {

  /** Per-(session, sliding window) features. `exactDistinct = false` swaps
    * `countDistinct` for HLL `approx_count_distinct`: exact distinct is
    * unsupported in a streaming aggregation and costly at scale. The
    * stream's [[SessionPanes]] counts exactly, `exactDistinct = true`.
    */
  def slidingSessionAgg(
      df: DataFrame,
      sessionCol: String = "user_session",
      tsCol: String = "event_timestamp",
      typeCol: String = "event_type",
      priceCol: String = "price",
      itemCol: String = "product_id",
      windowDuration: String = "5 minutes",
      slideDuration: String = "30 seconds",
      viewType: String = "view",
      cartType: String = "cart",
      purchaseType: String = "purchase",
      exactDistinct: Boolean = false
  ): DataFrame = {
    val distinctItems =
      if (exactDistinct) countDistinct(col(itemCol)) else approx_count_distinct(col(itemCol))
    df.groupBy(col(sessionCol), window(col(tsCol), windowDuration, slideDuration))
      .agg(
        count(when(col(typeCol) === viewType, 1)).as("view_count"),
        count(when(col(typeCol) === cartType, 1)).as("cart_count"),
        count(when(col(typeCol) === purchaseType, 1)).as("purchase_count"),
        count(lit(1)).as("total_events"),
        (max(col(tsCol)).cast("long") - min(col(tsCol)).cast("long")).as("session_duration"),
        avg(col(priceCol)).as("avg_price"),
        max(col(priceCol)).as("max_price"),
        distinctItems.as("unique_items"),
        max(col(tsCol)).as("last_event_time")
      )
  }

  /** Tumbling-window activity rollup (hour buckets spelled as `window(ts,
    * "1 hour")` — epoch-aligned, equivalent to `date_trunc('hour', ts)`).
    * Static-frame twin of the streaming aggregate, oracle-checkable in ANSI
    * SQL.
    */
  def tumblingActivity(
      df: DataFrame,
      tsCol: String = "ts",
      typeCol: String = "event_type",
      valueCol: String = "value",
      valueAgg: org.apache.spark.sql.Column => org.apache.spark.sql.Column = sum(_)
  ): DataFrame =
    df.groupBy(window(col(tsCol), "1 hour").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        count(when(col(typeCol) === "purchase", 1)).as("n_purchases"),
        valueAgg(col(valueCol)).as("total_value")
      )
      .select(col("w.start").as("hour_start"), col("n_events"), col("n_purchases"), col("total_value"))
}
