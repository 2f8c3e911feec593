package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Greedy k-center coreset selection (Gonzalez 1985; the coreset policy of
  * Sener & Savarese 2018) — pick k maximally-spread documents by
  * embedding: repeatedly add the point farthest from everything selected
  * so far. The curation uses: a diversity-maximizing seed set for
  * labeling/eval, and the 2-approximation cover radius (max dmin) as a
  * corpus-spread diagnostic.
  *
  * Fully replayable: coordinates quantize to integer micros
  * ([[KMeansReplay.quantize]]), every pairwise distance is an exact
  * BIGINT Σ(Δ²), the first center is the md5-min vec_id, the farthest
  * point breaks ties (dmin DESC, vec_id ASC), and nearest-center
  * assignment ties to the smaller center id — every choice totally
  * ordered, so the greedy trajectory hash-oracles as an unrolled
  * round-per-CTE replay.
  *
  * Scale shape: per round the ≤ k selected centers ship as one array
  * literal ([[graft.functions.VectorFunctions.centerDistances]]), so a
  * point's dmin is a projection over the cached point scan, a filter on
  * a literal id array drops the selected points, and one 1-row
  * TakeOrdered picks the next: one job per round, the
  * [[ProductQuantization]] bounded-driver-object pattern; k·N·d work
  * total, no pairwise N², no join and no shuffle anywhere.
  * The final assignment is the same projection.
  */
object KCenter {

  /** (vec_id, nearest_center, d2, sel_rank): every point's nearest
    * selected center and exact integer distance²; sel_rank = 1..k on the
    * selected points themselves (selection order), else 0.
    */
  def greedyCoreset(
      spark: SparkSession,
      df: DataFrame,
      vecCol: String = "embedding",
      d: Int = 64,
      k: Int = 8
  ): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val pts = KMeansReplay.quantize(df, vecCol, d).cache()
    try {
      val first = KMeansReplay.md5Ranked(pts, 1)
      require(first.nonEmpty, "KCenter.greedyCoreset: empty input")
      var selected = Seq(
        (first(0).getLong(0), first(0).getSeq[Long](first(0).fieldIndex("xq"))))
      while (selected.size < k) {
        // min over the non-null distances, as a SQL min: array_min skips
        // a center whose distance is null
        val dmin = array_min(transform(
          graft.functions.VectorFunctions.centerDistances(col("xq"), selected), _("dist")))
        val far = pts.select(col("vec_id"), dmin.as("dmin"), col("xq"))
          .where(!array_contains(typedLit(selected.map(_._1)), col("vec_id")))
          .orderBy(desc("dmin"), col("vec_id"))
          .limit(1).collect()
        require(far.nonEmpty, s"KCenter.greedyCoreset: fewer than $k points")
        val r = far(0)
        selected = selected :+
          ((r.getLong(r.fieldIndex("vec_id")), r.getSeq[Long](r.fieldIndex("xq"))))
      }
      // sel_rank: array_position is 1-based, 0 when absent
      KMeansReplay.assign(pts, selected)
        .select(col("vec_id"), col("cid").as("nearest_center"), col("dist").as("d2"),
          array_position(typedLit(selected.map(_._1)), col("vec_id")).cast("int")
            .as("sel_rank"))
      // cache lifecycle: the k greedy rounds have materialized `pts`; the
      // returned frame reads it lazily one final time — session hygiene
      // (Bench/Verify clearCache per query) or the caller releases it
      // (the SubstringDedup.windowHashes convention).
    } catch { case t: Throwable => pts.unpersist(blocking = false); throw t }
  }
}
