package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Replayable k-means — fixed-round Lloyd iterations that BOTH engines can
  * replay bit-for-bit, moving clustering from the rows-only (RNG-bound
  * MLlib) class to a hash-oracled operator. Reference behavior: the
  * clustering step of the reference's embedding pipeline (reference:
  * src/embeddings/cluster.py) — same Lloyd semantics, deterministic here.
  *
  * Determinism contract (the no-double-aggregate float discipline):
  *   - Coordinates quantize to integer micros with the pure-IEEE
  *     `floor(x·10⁶ + 0.5)` spelling — every subsequent distance is an
  *     EXACT BIGINT sum of squares (associative, partition-order-free).
  *   - Seeds are the k vectors of rank < k under `md5(CAST(vec_id AS
  *     STRING))` order (vec_id tie-break), cluster id = rank.
  *   - Assignment ties break on the smaller center id (`array_min` of
  *     the (dist, cid) structs ≡ ORDER BY dist, cid LIMIT 1).
  *   - Center update is rounded integer division `floor(S/n + 0.5)`:
  *     S ≤ n·10⁶ and n both sit far below 2⁵³, so the single double
  *     division replays identically in DuckDB.
  *   - Empty clusters drop — both engines' GROUP BY sees the same absence.
  *
  * Scale shape: the k×d center table is a bounded driver object (the
  * PCA power-iteration / PQ-codebook pattern) that ships as one array
  * literal ([[graft.functions.VectorFunctions.centerDistances]]), so the
  * nearest center is a per-row projection — no join, no shuffle, and the
  * same plan every round. A round is one map-side-combined `(cid, pos)`
  * integer aggregation over the cached point scan; seeding is
  * TakeOrdered, not a global sort. At 100 TB the per-round scan
  * dominates and parallelizes; `rounds` is a small constant.
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
    * `(vec_id, cid, dist)`, ties to the smaller cid. One projection over
    * `pts`: no join, no shuffle.
    */
  private[operators] def assign(pts: DataFrame, centers: Seq[(Long, Seq[Long])]): DataFrame =
    pts.select(col("vec_id"), nearest(centers).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.dist").as("dist"))

  /** The nearest of `centers` to each point's `xq`: a `(dist, cid)` struct. */
  private[operators] def nearest(centers: Seq[(Long, Seq[Long])]): Column =
    array_min(graft.functions.VectorFunctions.centerDistances(col("xq"), centers))

  /** The `n` rows of `df` first under `(md5(CAST(vec_id AS STRING)),
    * vec_id)`: the deterministic, RNG-free pick of the replay family's
    * seeds and samples. One TakeOrdered job, not a global sort.
    */
  private[operators] def md5Ranked(df: DataFrame, n: Int): Array[Row] =
    df.withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id"))
      .limit(n)
      .collect()

  /** md5-ranked deterministic seeds: the k points of rank < k, cid = rank. */
  private[operators] def seedCenters(pts: DataFrame, k: Int): Seq[(Long, Seq[Long])] =
    md5Ranked(pts, k).toSeq.zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Long](r.fieldIndex("xq"))) }

  /** The round-`rounds` center table over a pre-quantized `(vec_id, xq)`
    * frame — the bounded driver object the final assignment (and the IVF
    * coarse quantizer, [[IvfReplay]]) score against. Callers should cache
    * `pts`; each round is one aggregate over a single `pts` scan.
    */
  private[operators] def trainedCenters(
      pts: DataFrame,
      k: Int,
      rounds: Int): Seq[(Long, Seq[Long])] =
    (0 until rounds).foldLeft(seedCenters(pts, k))((centers, _) => lloydRound(pts, centers))

  /** One Lloyd update: each point's nearest cid is a projection, so the
    * round is one `(cid, pos)` aggregate of exact sums over a `pts` scan;
    * new centers are rounded integer divisions — a bounded driver object,
    * exact longs.
    */
  private def lloydRound(
      pts: DataFrame,
      centers: Seq[(Long, Seq[Long])]): Seq[(Long, Seq[Long])] =
    pts
      // cid is projected before the explode: a select beside a generator
      // would score the centers again for every exploded element
      .select(nearest(centers)("cid").as("cid"), col("xq"))
      .select(col("cid"), posexplode(col("xq")))
      .groupBy("cid", "pos")
      .agg(sum("col").as("s"), count(lit(1)).as("n"))
      .collect()
      .groupBy(_.getLong(0))
      .toSeq
      .map { case (cid, rows) =>
        val dims = rows.sortBy(_.getInt(1)).map { row =>
          math.floor(row.getLong(2).toDouble / row.getLong(3).toDouble + 0.5).toLong
        }
        (cid, dims.toSeq)
      }
      .sortBy(_._1)

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
      val centers = trainedCenters(pts, k, rounds)
      // The returned plan may recompute pts after unpersist — assignment is
      // deterministic, so laziness stays safe.
      assign(pts, centers)
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
