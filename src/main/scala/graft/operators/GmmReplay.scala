package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Replayable Gaussian-mixture soft clustering — fixed-round EM for a
  * SPHERICAL, fixed-bandwidth mixture, engineered so BOTH engines replay
  * every float bit-for-bit (the [[KMeansReplay]] program applied to EM;
  * reference behavior: the soft-assignment variant of the reference's
  * embedding clustering, src/embeddings/cluster.py).
  *
  * Why a pseudo-exp: the E-step's Gaussian kernel needs exp(), and exp is
  * NOT engine-exact — Java's Math.exp (HotSpot intrinsic) and DuckDB's
  * libm std::exp are each <1 ulp but not the SAME ulp, and one flipped
  * bit under the micro-quantizer cascades through every later round. So
  * the kernel is DEFINED as the limit-form surrogate
  * pexp(x) = (1 + x/2¹⁶)^(2¹⁶), computed as 16 explicit IEEE squarings —
  * pure ·/+ arithmetic that any IEEE-754 engine replays identically
  * (≤0.7 % from true exp at the clamp floor; monotone, so soft
  * assignments order exactly like the true kernel's).
  *
  * Determinism contract (everything else integer):
  *   - coordinates quantize to integer micros; distances are exact BIGINT
  *     sums of squares (partition-order-free);
  *   - x = −d²/(2σ²·10¹²) is ONE double division, clamped at −30.0
  *     (greatest — replayed identically);
  *   - mixture weights stay INTEGER micro-units πq; the E-step numerator
  *     is πq·pexp(x), the denominator the K per-cluster numerators summed
  *     in FIXED cid order (one array per point — never a float aggregate);
  *   - responsibilities quantize to integer micros r̃ = ⌊num/den·10⁶+0.5⌋,
  *     so the M-step is exact integer sums: μ = ⌊Σr̃x/Σr̃ + 0.5⌋,
  *     πq = (Σr̃·10⁶) DIV ΣΣr̃ (non-negative, DIV ≡ //);
  *   - seeds are the md5-rank-<K points (cid = rank), π₀ uniform;
  *     a cluster whose weight reaches 0 drops from the center table.
  *
  * Scale shape: each E-step is a projection over the cached point scan:
  * the K centers ship as one array literal, and a point's K distances,
  * numerators and responsibilities are arrays in its own row (no join,
  * no pivot, no shuffle). A round is that projection plus a d-row
  * integer reduction collected to the driver — the bounded-driver-object
  * pattern. BIGINT headroom for Σr̃·x is 10⁶·2·10⁶·n, exact to
  * n ≈ 2×10⁶ rows per aggregation; beyond that, shard the M-step sums
  * (or widen to DECIMAL) before merging.
  */
object GmmReplay {

  private val ClampFloor = -30.0d

  /** One E-step as a projection over `pts`: per point, `r`, the
    * micro-quantized responsibility for every surviving center in
    * ascending cid order. The K distances come from one
    * [[graft.functions.VectorFunctions.centerDistances]] array; the
    * denominator is the numerators summed left to right in that order
    * (never a float aggregate).
    */
  private def respond(
      pts: DataFrame,
      centers: Seq[(Long, Long, Seq[Long])], // (cid, piMicro, mu)
      twoSigmaSqE12: Double): DataFrame = {
    val x = transform(
      graft.functions.VectorFunctions.centerDistances(col("xq"), centers.map(c => (c._1, c._3))),
      c => greatest(-c("dist").cast("double") / lit(twoSigmaSqE12), lit(ClampFloor)))
    val num = zip_with(typedLit(centers.map(_._2)), transform(x, PseudoExp.pexp(_)),
      (piq, pex) => piq.cast("double") * pex)
    pts.withColumn("num", num)
      .withColumn("r", aggregate(col("num"), lit(0.0d), _ + _, den =>
        transform(col("num"),
          n => floor(n / den * lit(1000000.0d) + lit(0.5d)).cast("long"))))
  }

  /** Final soft assignment after `rounds` EM updates:
    * (vec_id, cid, resp_micro) — argmax responsibility, ties to the
    * smaller cid, value in integer micro-units.
    */
  def softAssignments(
      spark: SparkSession,
      df: DataFrame,
      vecCol: String,
      d: Int,
      k: Int,
      rounds: Int,
      sigmaSq: Double = 0.25d): DataFrame = {
    val twoSigmaSqE12 = 2.0d * sigmaSq * 1.0e12d
    val pts = KMeansReplay.quantize(df, vecCol, d).cache()
    try {
      val piMicro0 = 1000000L / k
      var centers: Seq[(Long, Long, Seq[Long])] =
        KMeansReplay.seedCenters(pts, k).map { case (cid, mu) => (cid, piMicro0, mu) }
      // no points, no seeds: the empty assignment, as the oracle returns.
      // A non-empty input keeps every round's weights positive (each point
      // gives at least half a unit of responsibility to some cluster).
      if (centers.isEmpty)
        return pts.select(col("vec_id"), lit(0L).as("cid"), lit(0L).as("resp_micro"))
          .where(lit(false))
      var r = 0
      while (r < rounds) {
        // exact integer sufficient statistics: per (cid, pos) Σ r̃·x and
        // the K weights — a bounded (k·d + k)-value driver object
        val ks = centers.indices
        val sums = respond(pts, centers, twoSigmaSqE12)
          .select(col("r"), posexplode(col("xq")).as(Seq("pos", "xv")))
          .groupBy("pos")
          .agg(sum(col("r")(0) * col("xv")),
            ks.tail.map(i => sum(col("r")(i) * col("xv"))) ++
              ks.map(i => sum(col("r")(i))): _*)
          .collect()
          .sortBy(_.getInt(0))
        val w = ks.map(i => sums.head.getLong(1 + centers.size + i))
        val grand = w.sum
        centers = ks.flatMap { i =>
          if (w(i) == 0L) None
          else Some((centers(i)._1,
            w(i) * 1000000L / grand,
            sums.toSeq.map(row =>
              math.floor(row.getLong(1 + i).toDouble / w(i).toDouble + 0.5).toLong)))
        }
        r += 1
      }
      // final E-step: argmax via array_max over (resp, −cid) structs —
      // ties resolve to the smaller cid, no extra shuffle
      val best = array_max(zip_with(col("r"), typedLit(centers.map(-_._1)),
        (resp, negcid) => named_struct(lit("resp_micro"), resp, lit("negcid"), negcid)))
      respond(pts, centers, twoSigmaSqE12).select(col("vec_id"),
        (-best.getField("negcid")).as("cid"),
        best.getField("resp_micro").as("resp_micro"))
    } finally pts.unpersist()
  }
}
