package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic rank-2 explicit ALS — the bit-exact REPLAY twin of the
  * MLlib implicit-ALS recommender (`ml/Recommender.scala`, whose
  * blocked-LAPACK fit is engine-RNG + float-order dependent and therefore
  * rows-only at the gate). Rank 2 makes each alternating half-solve a
  * CLOSED-FORM 2×2 ridge system per user/item — no matrix library:
  *
  *   x = (YᵀY + λI)⁻¹ Yᵀr,   inverse of [[a,b],[b,c]] = [[c,-b],[-b,a]]/det
  *
  * Exactness discipline (the KMeansReplay/GmmReplay pattern): factors are
  * BIGINT centi-units (x·100, clamped to ±400 = ±4.0); the five normal-
  * equation sums a,b,c,d1,d2 are exact BIGINT aggregates of bounded
  * products; each solve does ONE replayed double division
  * `floor(num/det · 10000 + 0.5)` spelled identically in DuckDB; init item
  * factors are md5-derived in [-100,100]. λ = 0.1 enters as +1000 on the
  * BIGINT diagonal (centi² units), so det > 0 always.
  *
  * Overflow audit (Long): ratings capped at 20 items/user and 1000
  * users/item (deterministic windows, mirrored in the oracle) ⇒ item-side
  * a,c ≤ 1000·400² + 10³ ≈ 1.6e8, |d| ≤ 1000·r·400 with r ≤ ~500 ⇒
  * |num| = |c·d1 − b·d2| ≤ ~3e15 and det ≤ ~3e16 — two orders inside
  * Long. The caps are the same bounded-influence trick the capped
  * co-occurrence graph uses; at 100 TB they also bound the skew of the
  * per-item reduce (a celebrity item never owns a partition).
  *
  * Scale shape: each half-solve is one equi-join (ratings ⋈ small factor
  * side — broadcastable at 100 items; hash at web scale) + one hash
  * aggregate on the solved key; rounds are eager-localCheckpointed so
  * plan depth stays constant.
  */
object AlsReplay {

  val ClampCenti = 400L
  val LambdaDiag = 1000L // 0.1 · (centi scale)²

  private def clamp(c: Column): Column =
    greatest(lit(-ClampCenti), least(lit(ClampCenti), c))

  /** Deterministic per-key cap: keep the `cap` strongest ratings by
    * (r DESC, tiebreakCol) within `keyCol`.
    */
  private def capBy(df: DataFrame, keyCol: String, tiebreak: String, cap: Int): DataFrame =
    df.withColumn("_rn", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(col("r").desc, col(tiebreak))))
      .filter(col("_rn") <= cap)
      .drop("_rn")

  /** Cap the ratings table both ways (user side first, then item side —
    * order matters and the oracle mirrors it).
    */
  def capRatings(ratings: DataFrame, userCap: Int = 20, itemCap: Int = 1000): DataFrame =
    capBy(capBy(ratings, "user_id", "item_id", userCap), "item_id", "user_id", itemCap)

  /** md5-seeded item factor init in centi-units [-100, 100]. */
  def initItemFactors(items: DataFrame): DataFrame = {
    def f(tag: String): Column =
      conv(substring(md5(concat(lit(tag + "_"), col("item_id").cast("string"))), 1, 6),
        16, 10).cast("long") % 201L - 100L
    items.select(col("item_id"), f("als1").as("f1"), f("als2").as("f2"))
  }

  /** One alternating half-solve: given fixed factors on `fixedKey`, solve
    * the 2×2 ridge system for every `solveKey`. Output: solveKey, f1, f2.
    */
  def halfSolve(
      ratings: DataFrame,
      fixed: DataFrame,
      fixedKey: String,
      solveKey: String
  ): DataFrame = {
    val j = ratings.join(fixed, Seq(fixedKey))
    val ag = j.groupBy(col(solveKey))
      .agg(
        (lit(LambdaDiag) + sum(col("f1") * col("f1"))).as("a"),
        sum(col("f1") * col("f2")).as("b"),
        (lit(LambdaDiag) + sum(col("f2") * col("f2"))).as("c"),
        sum(col("r") * col("f1")).as("d1"),
        sum(col("r") * col("f2")).as("d2"))
    val det = (col("a") * col("c") - col("b") * col("b")).cast("double")
    def solved(num: Column): Column =
      clamp(floor(num.cast("double") / det * lit(10000.0d) + lit(0.5d)).cast("long"))
    ag.select(col(solveKey),
      solved(col("c") * col("d1") - col("b") * col("d2")).as("f1"),
      solved(col("a") * col("d2") - col("b") * col("d1")).as("f2"))
  }

  /** One IMPLICIT-feedback half-solve (Hu–Koren 2008 — the reference
    * recommender's actual formulation, `ml/Recommender.scala` trains
    * MLlib with implicitPrefs=true): preference p = 1 on observed pairs,
    * confidence c = 1 + α·r, and the per-key system is
    *
    *   x = (YᵀY + Yᵀ(C−I)Y + λI)⁻¹ Yᵀ C p
    *
    * where YᵀY is the GLOBAL 2×2 Gram over the fixed side (one broadcast
    * scalar row — the trick that makes implicit ALS tractable: the
    * all-items sum never depends on the user) and the correction/RHS sums
    * run over observed pairs only.
    *
    * Exactness: Gram + correction + RHS sums are exact BIGINT aggregates;
    * the 2×2 solve itself runs in DOUBLE (α·r·f² products against a
    * growing global Gram overflow Long at scale, and a product of two
    * exact integers is ONE correctly-rounded IEEE op — deterministic and
    * identical cross-engine, unlike a float SUM). The oracle spells the
    * identical cast/multiply/divide chain.
    */
  def halfSolveImplicit(
      ratings: DataFrame,
      fixed: DataFrame,
      fixedKey: String,
      solveKey: String,
      alpha: Long = 40L
  ): DataFrame = {
    val gram = fixed.agg(
      sum(col("f1") * col("f1")).as("g11"),
      sum(col("f1") * col("f2")).as("g12"),
      sum(col("f2") * col("f2")).as("g22"))
    val j = ratings.join(fixed, Seq(fixedKey))
    val ag = j.groupBy(col(solveKey))
      .agg(
        sum(lit(alpha) * col("r") * col("f1") * col("f1")).as("ca"),
        sum(lit(alpha) * col("r") * col("f1") * col("f2")).as("cb"),
        sum(lit(alpha) * col("r") * col("f2") * col("f2")).as("cc"),
        sum((lit(1L) + lit(alpha) * col("r")) * col("f1")).as("d1"),
        sum((lit(1L) + lit(alpha) * col("r")) * col("f2")).as("d2"))
      .crossJoin(broadcast(gram))
      .select(col(solveKey),
        (col("g11") + col("ca") + lit(LambdaDiag)).as("a"),
        (col("g12") + col("cb")).as("b"),
        (col("g22") + col("cc") + lit(LambdaDiag)).as("c"),
        col("d1"), col("d2"))
    val aD = col("a").cast("double"); val bD = col("b").cast("double")
    val cD = col("c").cast("double")
    val d1D = col("d1").cast("double"); val d2D = col("d2").cast("double")
    val det = aD * cD - bD * bD
    def solved(num: Column): Column =
      clamp(floor(num / det * lit(10000.0d) + lit(0.5d)).cast("long"))
    ag.select(col(solveKey),
      solved(cD * d1D - bD * d2D).as("f1"),
      solved(aD * d2D - bD * d1D).as("f2"))
  }

  /** Full replay: init items → solve users → solve items → solve users,
    * each round pinned by eager localCheckpoint. `solve` is the
    * half-solve, [[halfSolve]] (explicit) or [[halfSolveImplicit]]
    * (Hu–Koren). Returns (users, items).
    */
  def factors(
      ratings: DataFrame,
      solve: (DataFrame, DataFrame, String, String) => DataFrame = halfSolve
  ): (DataFrame, DataFrame) = {
    val capped = ratings.localCheckpoint(true)
    val it0 = initItemFactors(capped.select(col("item_id")).distinct())
      .localCheckpoint(true)
    val us1 = solve(capped, it0, "item_id", "user_id").localCheckpoint(true)
    val it2 = solve(capped, us1, "user_id", "item_id").localCheckpoint(true)
    val us3 = solve(capped, it2, "item_id", "user_id")
    (us3, it2)
  }

  /** Top-k recommendations per user over ALL solved items (the
    * recommendForAllUsers shape): exact BIGINT dot score, ties by
    * item_id. Output: user_id, rank, item_id, score.
    */
  def recommend(users: DataFrame, items: DataFrame, k: Int): DataFrame = {
    val u = users.select(col("user_id"), col("f1").as("u1"), col("f2").as("u2"))
    val i = items.select(col("item_id"), col("f1").as("i1"), col("f2").as("i2"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("score").desc, col("item_id"))
    u.crossJoin(broadcast(i))
      .select(col("user_id"), col("item_id"),
        (col("u1") * col("i1") + col("u2") * col("i2")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("user_id"), col("rank"), col("item_id"), col("score"))
  }
}
