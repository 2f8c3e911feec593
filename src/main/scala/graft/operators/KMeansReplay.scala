package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Replayable k-means — fixed-round Lloyd iterations that BOTH engines can
  * replay bit-for-bit, moving clustering from the rows-only (RNG-bound
  * MLlib) class to a hash-oracled operator. Reference behavior: the
  * clustering step of the reference's embedding pipeline (reference:
  * src/embeddings/cluster.py) — same Lloyd semantics, deterministic here.
  *
  * Determinism contract (NOTES_r11 float discipline):
  *   - Coordinates quantize to integer micros with the pure-IEEE
  *     `floor(x·10⁶ + 0.5)` spelling — every subsequent distance is an
  *     EXACT BIGINT sum of squares (associative, partition-order-free).
  *   - Seeds are the k vectors of rank < k under `md5(CAST(vec_id AS
  *     STRING))` order (vec_id tie-break), cluster id = rank.
  *   - Assignment ties break on the smaller center id (min of a
  *     (dist, cid) struct ≡ ORDER BY dist, cid LIMIT 1).
  *   - Center update is rounded integer division `floor(S/n + 0.5)`:
  *     S ≤ n·10⁶ and n both sit far below 2⁵³, so the single double
  *     division replays identically in DuckDB.
  *   - Empty clusters drop — both engines' GROUP BY sees the same absence.
  *
  * Scale: each round is one broadcast cross join (k center rows) against
  * the fact scan plus a map-side-combined integer aggregation; the k×d
  * center table is a bounded driver object (the PCA power-iteration /
  * PQ-codebook pattern); seeding is TakeOrdered, not a global sort. At
  * 100 TB the per-round scan dominates and parallelizes; `rounds` is a
  * small constant.
  */
object KMeansReplay {

  /** `(vec_id, xq: BIGINT[d])` — integer-micros quantization of the first
    * `d` dims of `vecCol` (rows with null/short vectors drop, mirroring
    * the PCA moment CTE's filter).
    */
  def quantize(df: DataFrame, vecCol: String, d: Int): DataFrame =
    df.where(col(vecCol).isNotNull && size(col(vecCol)) >= d)
      .select(
        col("vec_id"),
        transform(
          slice(col(vecCol), 1, d),
          e => floor(e.cast("double") * lit(1000000.0d) + lit(0.5d))
        ).as("xq"))

  /** Nearest-center assignment under the exact-integer distance:
    * `(vec_id, cid, dist)`, ties to the smaller cid.
    */
  private[operators] def assign(
      spark: SparkSession,
      pts: DataFrame,
      centers: Seq[(Long, Seq[Long])]): DataFrame = {
    import spark.implicits._
    val cdf = centers.toDF("cid", "cx")
    pts
      .crossJoin(broadcast(cdf))
      // native Σ(Δ²) kernel — exact integers, HOF-parity pinned
      // (LongSqDistParitySpec); the boxed aggregate(zip_with(...)) spelling
      // dominated the per-round cross-join cost (guide §4)
      .withColumn(
        "dist",
        graft.functions.VectorFunctions.sqDistLong(col("xq"), col("cx")))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.dist").as("dist"))
  }

  /** md5-ranked deterministic seeds: the k points of rank < k, cid = rank. */
  private def seedCenters(pts: DataFrame, k: Int): Seq[(Long, Seq[Long])] =
    pts
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id"))
      .limit(k)
      .collect()
      .toSeq
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Long](r.fieldIndex("xq"))) }

  /** The round-`rounds` center table over a pre-quantized `(vec_id, xq)`
    * frame — the bounded driver object the final assignment (and the IVF
    * coarse quantizer, [[IvfReplay]]) score against. Callers should cache
    * `pts`; each round is ONE job over a single `pts` scan — the argmin
    * aggregate carries `xq` through (`first` over rows that all share the
    * point's xq, so the value is deterministic), which removes the
    * assign-then-rejoin second scan a round used to pay.
    */
  private[operators] def trainedCenters(
      spark: SparkSession,
      pts: DataFrame,
      k: Int,
      rounds: Int): Seq[(Long, Seq[Long])] = {
    var centers = seedCenters(pts, k)
    var r = 0
    while (r < rounds) {
      centers = lloydRound(spark, pts, centers)
      r += 1
    }
    centers
  }

  /** One Lloyd update: assign + k·d (cid, pos) partial sums in a single
    * `pts` scan (the argmin aggregate carries xq through), new centers as
    * rounded integer divisions — a bounded driver object, exact longs.
    */
  private def lloydRound(
      spark: SparkSession,
      pts: DataFrame,
      centers: Seq[(Long, Seq[Long])]): Seq[(Long, Seq[Long])] = {
    import spark.implicits._
    val cdf = centers.toDF("cid", "cx")
    val stats = pts
      .crossJoin(broadcast(cdf))
      .withColumn(
        "dist",
        graft.functions.VectorFunctions.sqDistLong(col("xq"), col("cx")))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cid"))).as("m"), first(col("xq")).as("xq"))
      .select(col("m.cid").as("cid"), posexplode(col("xq")))
      .groupBy("cid", "pos")
      .agg(sum("col").as("s"), count(lit(1)).as("n"))
      .collect()
    stats
      .groupBy(_.getLong(0))
      .toSeq
      .map { case (cid, rows) =>
        val dims = rows.sortBy(_.getInt(1)).map { row =>
          val s = row.getLong(2)
          val n = row.getLong(3)
          math.floor(s.toDouble / n.toDouble + 0.5).toLong
        }
        (cid, dims.toSeq)
      }
      .sortBy(_._1)
  }

  /** Final per-point assignment after `rounds` center updates:
    * `(vec_id, cid, dist)` against the round-`rounds` centers.
    */
  def assignments(
      spark: SparkSession,
      df: DataFrame,
      vecCol: String,
      d: Int,
      k: Int,
      rounds: Int): DataFrame = {
    val pts = quantize(df, vecCol, d).cache()
    try {
      val centers = trainedCenters(spark, pts, k, rounds)
      // The returned plan may recompute pts after unpersist — assignment is
      // deterministic, so laziness stays safe.
      assign(spark, pts, centers)
    } finally pts.unpersist()
  }

  /** Per-cluster report: `(cluster_id, n_points, inertia)` — sizes and the
    * exact integer-micros² within-cluster sum of squared distances.
    */
  def clusterStats(
      spark: SparkSession,
      df: DataFrame,
      vecCol: String,
      d: Int,
      k: Int,
      rounds: Int): DataFrame =
    assignments(spark, df, vecCol, d, k, rounds)
      .groupBy("cid")
      .agg(count(lit(1)).as("n_points"), sum("dist").as("inertia"))
      .select(col("cid").as("cluster_id"), col("n_points"), col("inertia"))
}
