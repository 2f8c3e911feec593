package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bradley–Terry preference-strength fitting (Bradley & Terry 1952) via
  * the MM algorithm (Hunter 2004) — the model behind pairwise-preference
  * reward data (RLHF comparisons, arena-style rankings): item strengths
  * p_i such that P(i beats j) = p_i / (p_i + p_j), fit by iterating
  * p_i ← W_i / Σ_j n_ij / (p_i + p_j).
  *
  * Contests are deterministic and data-derived: each even `doc_id` meets
  * `doc_id + 1`; cross-source pairs with strictly different `n_chars`
  * count as one game, won by the longer document. Items are sources.
  *
  * Scale shape: the corpus-scale work is ONE aggregation — contests
  * reduce to the k×k win matrix (k = #sources, a metadata-scale
  * quantity), which is then a bounded driver-side fixed point (the
  * codebook-collect pattern: k·(k−1)/2 rows, never corpus rows). The MM
  * iterations run in exact integer micros (BIGINT throughout, truncating
  * division — Spark DIV ≡ DuckDB `//` on non-negatives) so the fit
  * replays bit-for-bit in the SQL oracle's unrolled-CTE twin. Width
  * bound: numerators hold W_i·10¹² — safe while any item's win count
  * stays below ~9.2·10⁶; beyond that drop the scale to e9.
  */
object BradleyTerry {

  val Scale = 1000000000000L // e12: micros numerator over micros strengths

  /** One row per game: (winner, loser) sources. */
  def contests(docs: DataFrame): DataFrame = {
    val a = docs.select(col("doc_id"), col("source"), col("n_chars")).as("a")
    val b = docs.select(col("doc_id"), col("source"), col("n_chars")).as("b")
    a.join(b, col("a.doc_id") + lit(1) === col("b.doc_id"))
      .where(col("a.doc_id") % 2 === 0 &&
        col("a.source") =!= col("b.source") &&
        col("a.n_chars") =!= col("b.n_chars"))
      .select(
        when(col("a.n_chars") > col("b.n_chars"), col("a.source"))
          .otherwise(col("b.source")).as("win"),
        when(col("a.n_chars") > col("b.n_chars"), col("b.source"))
          .otherwise(col("a.source")).as("lose"))
  }

  /** Win matrix in lexicographic (i < j) orientation:
    * (i, j, games, wins_i).
    */
  def winMatrix(docs: DataFrame): DataFrame =
    contests(docs)
      .select(
        least(col("win"), col("lose")).as("i"),
        greatest(col("win"), col("lose")).as("j"),
        when(col("win") < col("lose"), 1L).otherwise(0L).as("wi"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("games"), sum(col("wi")).as("wins_i"))

  /** MM fixed point over the collected win matrix — exact Long
    * arithmetic, identical to the oracle's CTE unrolling. Returns
    * (source, games, wins, strength_micros) sorted by source; no games
    * (no cross-source contest) gives the empty frame, as the oracle does.
    */
  def fit(spark: SparkSession, docs: DataFrame, iters: Int = 5): DataFrame = {
    import spark.implicits._
    // bounded collect: k·(k−1)/2 aggregated rows, k = #sources
    val mat = winMatrix(docs).collect().map { r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
    }
    val items = mat.flatMap(m => Seq(m._1, m._2)).distinct.sorted
    val k = items.length.toLong
    val games = items.map(s => s ->
      mat.collect { case (i, j, n, _) if i == s || j == s => n }.sum).toMap
    val wins = items.map(s => s ->
      mat.collect {
        case (i, _, _, w) if i == s => w
        case (_, j, n, w) if j == s => n - w
      }.sum).toMap
    // both directions of the pair list: (item, opponent, n_games)
    val bi = mat.flatMap { case (i, j, n, _) => Seq((i, j, n), (j, i, n)) }
    var p: Map[String, Long] = items.map(_ -> 1000000L).toMap
    // k = 0 (no contests): nothing to fit, and the rescale would divide by 0
    for (_ <- 1 to iters if k > 0) {
      val den = items.map { s =>
        s -> bi.collect { case (`s`, o, n) => n * Scale / (p(s) + p(o)) }.sum
      }.toMap
      val praw = items.map(s => s -> math.max(wins(s) * Scale / den(s), 1L)).toMap
      val total = praw.values.sum
      // divisor-form normalization (never praw·k·1e6 — that product
      // overflows first); total // (k·1e6) == 0 skips the rescale
      val norm = math.max(total / (k * 1000000L), 1L)
      p = items.map(s => s -> math.max(praw(s) / norm, 1L)).toMap
    }
    items.toSeq
      .map(s => (s, games(s), wins(s), p(s)))
      .toDF("source", "games", "wins", "strength_micros")
  }
}
