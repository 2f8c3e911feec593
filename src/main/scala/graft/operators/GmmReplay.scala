package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  *     in FIXED cid order (pivoted to columns — never a float aggregate);
  *   - responsibilities quantize to integer micros r̃ = ⌊num/den·10⁶+0.5⌋,
  *     so the M-step is exact integer sums: μ = ⌊Σr̃x/Σr̃ + 0.5⌋,
  *     πq = (Σr̃·10⁶) DIV ΣΣr̃ (non-negative, DIV ≡ //);
  *   - seeds are the md5-rank-<K points (cid = rank), π₀ uniform;
  *     a cluster whose weight reaches 0 drops from the center table.
  *
  * Scale shape: per round one broadcast of K·(d+1) numbers against the
  * fact scan, a pivot to K columns per point (no shuffle beyond the
  * groupBy vec_id), and a d-row integer reduction collected to the
  * driver — the bounded-driver-object pattern. BIGINT headroom for
  * Σr̃·x is 10⁶·2·10⁶·n, exact to n ≈ 2×10⁶ rows per aggregation;
  * beyond that, shard the M-step sums (or widen to DECIMAL) before
  * merging.
  */
object GmmReplay {

  private val ClampFloor = -30.0d

  /** pexp chain — shared kernel, see [[PseudoExp.chain]]. */
  private def withPexp(df: DataFrame, xCol: String, outCol: String): DataFrame =
    PseudoExp.chain(df, xCol, outCol)

  /** One E-step: per point, the micro-quantized responsibility for every
    * surviving center as columns r{cid} (fixed-cid-order denominator;
    * never a float aggregate).
    */
  private def respond(
      spark: SparkSession,
      pts: DataFrame,
      centers: Seq[(Long, Long, Seq[Long])], // (cid, piMicro, mu)
      twoSigmaSqE12: Double): DataFrame = {
    import spark.implicits._
    val cids = centers.map(_._1)
    val cdf = centers.toDF("cid", "piq", "cx")
    val scored0 = pts
      .crossJoin(broadcast(cdf))
      // native Σ(Δ²) kernel — exact integers, HOF-parity pinned
      // (LongSqDistParitySpec); guide §4
      .withColumn("d2",
        graft.functions.VectorFunctions.sqDistLong(col("xq"), col("cx")))
      .withColumn("x",
        greatest(-col("d2").cast("double") / lit(twoSigmaSqE12), lit(ClampFloor)))
    val scored = withPexp(scored0, "x", "pex")
      .withColumn("num", col("piq").cast("double") * col("pex"))
    // pivot to one column per center: max of a singleton — deterministic
    val pivoted = scored
      .groupBy("vec_id")
      .agg(
        max(when(col("cid") === cids.head, col("num"))).as(s"num${cids.head}"),
        cids.tail.map(c =>
          max(when(col("cid") === c, col("num"))).as(s"num$c")): _*)
    // fixed left-assoc order over ascending cid: never a float aggregate
    val den = cids.tail.foldLeft(col(s"num${cids.head}")) { (acc, c) =>
      acc + col(s"num$c")
    }
    val withDen = pivoted.withColumn("den", den)
    cids.foldLeft(withDen) { (d, c) =>
      d.withColumn(s"r$c",
        floor(col(s"num$c") / col("den") * lit(1000000.0d) + lit(0.5d))
          .cast("long"))
    }.select(col("vec_id") +: cids.map(c => col(s"r$c")): _*)
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
        seedCenters(pts, k).map { case (cid, mu) => (cid, piMicro0, mu) }
      // no points, no seeds: the empty assignment, as the oracle returns.
      // A non-empty input keeps every round's weights positive (each point
      // gives at least half a unit of responsibility to some cluster).
      if (centers.isEmpty)
        return pts.select(col("vec_id"), lit(0L).as("cid"), lit(0L).as("resp_micro"))
          .where(lit(false))
      var r = 0
      while (r < rounds) {
        val resp = respond(spark, pts, centers, twoSigmaSqE12)
        val kNow = centers.map(_._1)
        // exact integer sufficient statistics: per (cid, pos) Σ r̃·x and
        // the K weights — a bounded (k·d + k)-value driver object
        val joined = resp.join(pts, "vec_id")
          .select(col("xq") +: kNow.map(c => col(s"r$c")): _*)
          .select(posexplode(col("xq")).as(Seq("pos", "xv")) +:
            kNow.map(c => col(s"r$c")): _*)
        val sums = joined
          .groupBy("pos")
          .agg(
            sum(col(s"r${kNow.head}") * col("xv")).as(s"sx${kNow.head}"),
            (kNow.tail.flatMap(c => Seq(sum(col(s"r$c") * col("xv")).as(s"sx$c"))) :+
              sum(col(s"r${kNow.head}")).as(s"w${kNow.head}")) ++
              kNow.tail.map(c => sum(col(s"r$c")).as(s"w$c")): _*)
          .collect()
          .sortBy(_.getInt(0))
        val wTot = kNow.map(c => c ->
          sums.head.getLong(sums.head.fieldIndex(s"w$c"))).toMap
        val grand = wTot.values.sum
        centers = kNow.flatMap { c =>
          val w = wTot(c)
          if (w == 0L) None
          else Some((c,
            w * 1000000L / grand,
            sums.toSeq.map { row =>
              val s = row.getLong(row.fieldIndex(s"sx$c"))
              math.floor(s.toDouble / w.toDouble + 0.5).toLong
            }))
        }
        r += 1
      }
      // final E-step; argmax via array_max over (resp, −cid) structs —
      // ties resolve to the smaller cid, no extra shuffle
      val resp = respond(spark, pts, centers, twoSigmaSqE12)
      val kNow = centers.map(_._1)
      val best: Column = array_max(array(kNow.map(c =>
        struct(col(s"r$c").as("resp_micro"), lit(-c).as("negcid"))): _*))
      resp.select(col("vec_id"),
        (-best.getField("negcid")).as("cid"),
        best.getField("resp_micro").as("resp_micro"))
    } finally pts.unpersist()
  }

  /** md5-ranked deterministic seeds (shared contract with KMeansReplay). */
  private def seedCenters(pts: DataFrame, k: Int): Seq[(Long, Seq[Long])] =
    pts
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id"))
      .limit(k)
      .collect()
      .toSeq
      .zipWithIndex
      .map { case (row, i) => (i.toLong, row.getSeq[Long](row.fieldIndex("xq"))) }
}
