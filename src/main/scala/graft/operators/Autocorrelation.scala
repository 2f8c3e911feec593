package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Autocorrelation function of the hourly event-count series at lags
  * 1..maxLag — the standard seasonality/burst diagnostic over a
  * zero-filled dense hour grid:
  *
  *   r_ℓ = Σ_{t>ℓ} (x_t − m)(x_{t−ℓ} − m) / Σ_t (x_t − m)²
  *
  * computed from EXACT integer sufficient statistics only (T, Σx, Σx²,
  * and per-lag Σ x_t·x_{t−ℓ} plus the two boundary sums), expanded so no
  * float is ever aggregated (the no-double-aggregate discipline); the final per-lag
  * value is one double expression over those integers with m = S/T —
  * replayed term-for-term by the oracle, floor(x·10⁶+0.5) output.
  *
  * Scale: the rollup is map-side combined; the dense series (hours) is
  * tiny, so the lag windows and the O(maxLag) sufficient statistics are a
  * bounded post-rollup step.
  */
object Autocorrelation {

  private def floor6(c: Column): Column =
    floor(c * lit(1000000.0d) + lit(0.5d)) / lit(1000000.0d)

  /** (lag, acf) — one row per lag in 1..maxLag. */
  def hourlyAcf(events: DataFrame, maxLag: Int): DataFrame = {
    val hourly = events
      .groupBy(expr("CAST(ts AS LONG) DIV 3600").as("h"))
      .agg(count(lit(1)).as("c"))
    val dense = hourly
      .agg(min("h").as("h0"), max("h").as("h1"))
      .select(explode(sequence(col("h0"), col("h1"))).as("h"))
      .join(hourly, Seq("h"), "left")
      .select(col("h"), coalesce(col("c"), lit(0L)).as("x"))
    val w = Window.orderBy(col("h"))
    val lagged = dense.select(
      col("h") +: col("x") +:
        (1 to maxLag).map(l => lag(col("x"), l).over(w).as(s"x$l")): _*)
    val lagAggs = (1 to maxLag).flatMap { l =>
      Seq(
        sum(col("x") * col(s"x$l")).as(s"p$l"),
        sum(when(col(s"x$l").isNotNull, col("x"))).as(s"a$l"),
        sum(col(s"x$l")).as(s"b$l"))
    }
    val ag = lagged.agg(
      count(lit(1)).as("tt"),
      (sum(col("x")).as("s") +: sum(col("x") * col("x")).as("q") +: lagAggs): _*)
    val m: Column = col("s").cast("double") / col("tt").cast("double")
    def acfExpr(l: Int): Column = {
      val num = col(s"p$l").cast("double") -
        m * (col(s"a$l") + col(s"b$l")).cast("double") +
        (col("tt") - lit(l.toLong)).cast("double") * m * m
      val den = col("q").cast("double") - col("s").cast("double") * m
      floor6(num / den)
    }
    ag.select(
        explode(array((1 to maxLag).map(l =>
          struct(lit(l.toLong).as("lag"), acfExpr(l).as("acf"))): _*)).as("r"))
      .select(col("r.lag").as("lag"), col("r.acf").as("acf"))
  }
}
