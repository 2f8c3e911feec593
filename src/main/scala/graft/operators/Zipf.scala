package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Zipf rank-frequency fingerprint: OLS slope of ln(freq) on ln(rank)
  * over the top-`topN` vocabulary, optionally per group (source/domain).
  * Natural text sits near −1; template/boilerplate-heavy corpora flatten
  * — a cheap distribution-shift signal.
  *
  * The ln-replay discipline (shared by corpus-level and per-group
  * spellings so they cannot drift): every ln term is quantized to integer
  * micros BEFORE the sums (floor(ln·10⁶ + 0.5)), the OLS moments are
  * exact BIGINT arithmetic (num = n·Σxy − Σx·Σy, den = n·Σxx − (Σx)²),
  * and the slope is ONE replayed floor-6 float division. Scale shape:
  * the rank window runs over AGGREGATED word counts (vocab-sized, never
  * corpus-sized), partitioned by the group columns when present.
  */
object Zipf {

  private def e6(c: Column): Column =
    floor(c * lit(1000000.0d) + lit(0.5d)).cast("long")

  /** (groupCols..., nw, num, den, slope) — one row per group (one row
    * total when `groupCols` is empty).
    */
  def slopes(
      docs: DataFrame,
      groupCols: Seq[String] = Nil,
      topN: Int = 100,
      textCol: String = "text"
  ): DataFrame = {
    val gc = groupCols.map(col)
    val wc = docs
      .select(gc :+ explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w"): _*)
      .groupBy(gc :+ col("w"): _*).agg(count(lit(1)).as("n"))
    val ranked =
      if (groupCols.isEmpty)
        // corpus-level: bound the unpartitioned window to topN rows first
        wc.orderBy(col("n").desc, col("w")).limit(topN)
          .withColumn("rk", row_number().over(Window.orderBy(col("n").desc, col("w"))))
      else
        // per-group top-N via the bounded heap, word as payload — O(topN) pairs per
        // group per partition through the shuffle, where the row_number
        // window would co-locate and SORT each group's entire vocabulary
        // to keep topN rows (real cost at a 10⁸-word per-source vocab).
        // Key = −n: (−n ASC, w ASC) ≡ the window's (n DESC, w ASC), so
        // membership and ranks are identical; counts ≪ 2⁵³ stay exact in
        // the double key.
        wc.groupBy(gc: _*)
          .agg(graft.expressions.MinKByAgg.min_k_by(-col("n"), col("w"), topN).as("_top"))
          .select(gc :+ posexplode(col("_top")).as(Seq("_pos", "_kv")): _*)
          .select(gc :+ (col("_pos") + 1).as("rk") :+
            (-col("_kv.key")).cast("long").as("n") :+ col("_kv.id").as("w"): _*)
    ranked
      .select(gc :+ e6(log(col("rk").cast("double"))).as("x") :+
        e6(log(col("n").cast("double"))).as("y"): _*)
      .groupBy(gc: _*)
      .agg(count(lit(1)).as("nw"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(gc ++ Seq(col("nw"),
        (col("nw") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("nw") * col("sxx") - col("sx") * col("sx")).as("den")): _*)
      .select(gc ++ Seq(col("nw"), col("num"), col("den"),
        when(col("den") === 0L, lit(0.0d))
          .otherwise(floor(col("num").cast("double") / col("den").cast("double") *
            lit(1000000.0d) + lit(0.5d)) / lit(1000000.0d)).as("slope")): _*)
  }
}
