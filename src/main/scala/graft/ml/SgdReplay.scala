package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Replayable full-batch gradient-descent logistic training — the
  * deterministic hash-oracled twin of [[DistributedSgd]] (reference
  * behavior: src/ml/train_intent.py §3.2's driver round-trip trainer),
  * moving the last unoracled ML surface from the rows-only class to an
  * engine-exact one. Same shape as DistributedSgd: per epoch ONE codegen'd
  * whole-row aggregate; the driver sees only the (nFeatures+1) gradient
  * sums and applies the step.
  *
  * Determinism contract (the KMeansReplay float discipline —
  * every number either an exact BIGINT or the result of a fixed tree of
  * single IEEE-754 ops both engines evaluate identically):
  *   - Features min–max quantize to integer micros `xq = floor((x − mn) /
  *     (mx − mn) · 10⁶ + 0.5)` ∈ [0, 10⁶] (constant features → 0). Min–max
  *     instead of z-scoring: it bounds every per-row product `gq·xq` by
  *     10¹², so gradient sums stay exact BIGINTs with no clipping — raw
  *     integer-micro z-scores would overflow BIGINT on wide-range features
  *     (duration micros² ≈ 10²²). min/max of doubles are order-free.
  *   - Weights and bias are BIGINT micros, initialized to 0 (no RNG).
  *   - The margin is exact: t = bq·10⁶ + Σ wq·xq (BIGINT), z = t/10¹² as
  *     ONE double division (t ≪ 2⁵³).
  *   - The link is the rational fast sigmoid p = 0.5 + 0.5·z/(1+|z|) —
  *     +,−,×,÷,abs only, bit-identical cross-engine, unlike transcendental
  *     `exp` whose last ulp differs between libm implementations.
  *   - Per-row gradient quantizes BEFORE summation: gq = floor((p − y)·10⁶
  *     + 0.5) ∈ [−10⁶, 10⁶]; Σ gq·xq and Σ gq are exact BIGINTs
  *     (associative, partition-order-free).
  *   - Step (lr = 1): wq ← wq − floor(G/(n·10⁶) + 0.5), bq ← bq −
  *     floor(Gb/n + 0.5), each ONE double division then floor — replays
  *     identically in DuckDB.
  *
  * Scale: epochs × one map-side-combined aggregate over the quantized
  * projection (callers should cache it); shuffle is (nFeatures+2) longs
  * per partition. Exactness bound: |Σ gq·xq| ≤ n·10¹², so BIGINT holds to
  * n ≈ 9·10⁶ rows per fit; beyond that, drop the gradient quantum to 10³
  * or fit per shard. No collect beyond the gradient vector.
  */
object SgdReplay {

  /** Trained state: integer-micro weights (one per feature) + bias. */
  final case class QModel(weights: Seq[Long], bias: Long)

  private val Micro = 1000000L

  /** Min–max integer-micro quantization of `featureCols`: the input
    * projection `(keep…, x0…x{n-1})` with each feature as BIGINT micros in
    * [0, 10⁶]. One min/max aggregate (exact, order-free) + one projection.
    */
  def quantize(df: DataFrame, featureCols: Seq[String], keep: Seq[String]): DataFrame = {
    val mmExprs = featureCols.flatMap { c =>
      Seq(min(col(c).cast("double")).as(s"mn_$c"), max(col(c).cast("double")).as(s"mx_$c"))
    }
    val mm = df.agg(mmExprs.head, mmExprs.tail: _*).collect()(0)
    val cols = keep.map(col) ++ featureCols.zipWithIndex.map { case (c, i) =>
      def mn = mm.getDouble(2 * i)
      def mx = mm.getDouble(2 * i + 1)
      // min and max are null together, when the feature has no non-null
      // value (an empty or all-null input): a constant feature, as the
      // oracle's `CASE WHEN mx > mn` reads null bounds
      val xq =
        if (!mm.isNullAt(2 * i) && mx > mn)
          floor((col(c).cast("double") - lit(mn)) / (lit(mx) - lit(mn)) * lit(1000000.0d) + lit(0.5d))
            .cast("long")
        else lit(0L)
      xq.as(s"x$i")
    }
    df.select(cols: _*)
  }

  /** The exact-integer margin for quantized row columns under `m`:
    * t = bias·10⁶ + Σ wq·xq (BIGINT), then z = t/10¹² as one double op.
    */
  private def zCol(m: QModel, n: Int): Column = {
    val t = (0 until n).foldLeft(lit(m.bias * Micro)) { (acc, i) =>
      acc + lit(m.weights(i)) * col(s"x$i")
    }
    t.cast("double") / lit(1.0e12d)
  }

  /** p = 0.5 + 0.5·z/(1+|z|) — the rational sigmoid, spelled with the
    * exact association the DuckDB oracle uses.
    */
  private def pCol(z: Column): Column =
    lit(0.5d) + lit(0.5d) * z / (lit(1.0d) + abs(z))

  /** Fixed-epoch full-batch training over a pre-quantized frame (cache it:
    * epochs × one scan). `labelCol` must be integer 0/1.
    */
  def fit(quantized: DataFrame, nFeatures: Int, labelCol: String = "label", epochs: Int = 4): QModel = {
    var m = QModel(Seq.fill(nFeatures)(0L), 0L)
    var e = 0
    while (e < epochs) {
      val gq = floor((pCol(zCol(m, nFeatures)) - col(labelCol).cast("double")) * lit(1000000.0d) + lit(0.5d))
        .cast("long")
      val withG = quantized.withColumn("gq", gq)
      val sums = (0 until nFeatures).map(i => sum(col("gq") * col(s"x$i")).as(s"g$i")) ++
        Seq(sum(col("gq")).as("gb"), count(lit(1)).as("n"))
      val g = withG.agg(sums.head, sums.tail: _*).collect()(0)
      val n = g.getLong(nFeatures + 1).toDouble
      // an empty input has no gradient (its sums are null) and no row to
      // score: the model stays at its start
      if (n == 0) return m
      m = QModel(
        m.weights.zipWithIndex.map { case (w, i) =>
          w - math.floor(g.getLong(i).toDouble / (n * 1000000.0d) + 0.5d).toLong
        },
        m.bias - math.floor(g.getLong(nFeatures).toDouble / n + 0.5d).toLong)
      e += 1
    }
    m
  }

  /** Per-row score in integer micros under a trained model:
    * floor(p·10⁶ + 0.5) ∈ [0, 10⁶].
    */
  def scoreMicros(m: QModel, nFeatures: Int): Column =
    floor(pCol(zCol(m, nFeatures)) * lit(1000000.0d) + lit(0.5d)).cast("long")
}
