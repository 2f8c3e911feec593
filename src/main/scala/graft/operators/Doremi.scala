package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi: Optimizing
  * Data Mixtures Speeds Up Language Model Pretraining") — domain weights
  * boosted by per-domain EXCESS LOSS, the one major public curation
  * technique the mixture family still lacked: up-weight the domains the
  * proxy model finds hardest relative to the reference, smooth toward
  * uniform so nothing starves.
  *
  * Deterministic replay twin, stated honestly: the paper's excess loss is
  * proxy-vs-reference model loss under Group-DRO retraining; this replay
  * uses a fixed deterministic loss table (per-doc losses in integer
  * micros, e.g. the [[LmScore]] bigram-LM scores — lossless e6 from a
  * round-6 series) and the CORPUS mean as the reference, so the
  * multiplicative update is ONE exact step rather than an (unreplayable)
  * training trajectory:
  *
  *   excess_s = max(0, loss_s − loss_corpus)            (nats, ≥ 0)
  *   w_s ∝ sqrt(n_s / n) · pexp(excess_s)               (τ = ½ baseline ·
  *                                                       Hedge boost)
  *   α_s = (1 − ε) · w_s / Σw + ε / K                   (uniform smoothing)
  *
  * Engine-exactness: domain loss means are single divisions of exact
  * BIGINT micro sums; excess is quantized to integer micros BEFORE the
  * exp surrogate, so [[PseudoExp.pexp]] (pure IEEE ·/+, the GmmReplay
  * kernel) sees identical inputs; the τ=½ temperature baseline is
  * `sqrt` — correctly rounded by IEEE-754, unlike `pow`; boosted weights
  * quantize to e6 BIGINTs before the (order-free, exact) normalization
  * sum; the final α is one fixed-spelling float expression, floor-6.
  *
  * Scale shape: one equi-join (docs → losses) + one source-keyed
  * aggregate; everything after runs on the |sources|-row table
  * (broadcast 1-row totals, never a float aggregate).
  */
object Doremi {

  /** (source, n_docs, sum_loss_e6, excess_e6, w_e6, weight) per domain.
    * `docLossE6`: (doc_id, loss_e6) — per-doc loss in integer micro-nats
    * (HIGHER = harder; pass negated log-probs). Docs absent from the loss
    * table (e.g. too short to score) are excluded, both engines alike.
    */
  def weights(
      docs: DataFrame,
      docLossE6: DataFrame,
      sourceCol: String = "source",
      idCol: String = "doc_id"
  ): DataFrame = {
    val ds = docs.select(col(idCol), col(sourceCol).as("source"))
      .join(docLossE6, Seq(idCol))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("loss_e6")).as("sum_loss_e6"))
    val tot = ds.agg(
      sum(col("n_docs")).as("tn"), sum(col("sum_loss_e6")).as("ts"),
      count(lit(1)).as("k"))
    val ex = ds.crossJoin(broadcast(tot))
      .withColumn("excess_e6",
        floor(greatest(lit(0.0d),
          col("sum_loss_e6").cast("double") / col("n_docs").cast("double")
            - col("ts").cast("double") / col("tn").cast("double"))
          + lit(0.5d)).cast("long"))
      .withColumn("_x", col("excess_e6").cast("double") / lit(1000000.0d))
    val w = ex.withColumn("_pexp", PseudoExp.pexp(col("_x"))).withColumn("w_e6",
      floor(sqrt(col("n_docs").cast("double") / col("tn").cast("double"))
        * col("_pexp") * lit(1000000.0d) + lit(0.5d)).cast("long"))
    val tw = w.agg(sum(col("w_e6")).as("tot_w"))
    w.crossJoin(broadcast(tw))
      .select(col("source"), col("n_docs"), col("sum_loss_e6"),
        col("excess_e6"), col("w_e6"),
        (floor((lit(0.99d) * col("w_e6").cast("double") / col("tot_w").cast("double")
          + lit(0.01d) / col("k").cast("double")) * lit(1000000.0d) + lit(0.5d))
          / lit(1000000.0d)).as("weight"))
  }

  /** Multi-epoch DoReMi — the Hedge iteration [[weights]] takes one step
    * of, run to (approximate) fixed point against a MOVING baseline: each
    * epoch's reference loss is the α-weighted corpus mean under the
    * PREVIOUS epoch's weights, so up-weighted hard domains raise the bar
    * their own excess is measured against and the trajectory converges
    * instead of exponentiating (with a fixed loss table, iterating
    * against a fixed baseline would just be pexp(T·excess) — meaningless).
    *
    * Exactness: per-source mean loss quantizes to integer micro-nats once
    * (`⌊sum/n + 0.5⌋`, one replayed division); from there every baseline
    * is PURE INTEGER arithmetic (`(Σ α_e6·m_e6 + 5·10⁵) DIV 10⁶`), excess
    * is an integer max, the exp surrogate is the 16-squaring pseudo-exp on
    * identical IEEE inputs, and each epoch's α re-quantizes to e6 BIGINTs
    * — the whole trajectory hash-oracles as an unrolled epoch-per-CTE
    * replay.
    *
    * Scale shape: ONE corpus-scale equi-join + source-keyed aggregate;
    * the epochs iterate over the collected |sources|-row table — a
    * bounded driver object (domains are dozens, not millions; the
    * KMeansReplay-centers pattern).
    *
    * Output (long format): `(source, n_docs, m_loss_e6, epoch, a_e6)` —
    * one row per source per epoch, α in integer micros.
    */
  def epochWeights(
      docs: DataFrame,
      docLossE6: DataFrame,
      epochs: Int = 3,
      sourceCol: String = "source",
      idCol: String = "doc_id"
  ): DataFrame = {
    require(epochs >= 1 && epochs <= 16, "epochs in 1..16")
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = docs.select(col(idCol), col(sourceCol).as("source"))
      .join(docLossE6, Seq(idCol))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("loss_e6")).as("s"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(rows.nonEmpty, "no scored documents")
    val k = rows.length
    val tn = rows.map(_._2).sum
    // per-source mean loss, integer micro-nats (the single replayed division)
    val m = rows.map { case (src, n, s) =>
      (src, n, math.floor(s.toDouble / n.toDouble + 0.5).toLong)
    }
    // identical IEEE chain to PseudoExp / the SQL replay: 16 squarings
    def pexp(xE6: Long): Double = {
      var p = 1.0d + (xE6.toDouble / 1000000.0d) / 65536.0d
      var i = 0
      while (i < 16) { p = p * p; i += 1 }
      p
    }
    var alpha: Map[String, Long] = m.map(t => t._1 -> 1000000L / k).toMap
    val out = Seq.newBuilder[(String, Long, Long, Int, Long)]
    var t = 1
    while (t <= epochs) {
      // α-weighted corpus mean — pure integer rounding, no float sum
      val baseline = (m.map { case (src, _, me) => alpha(src) * me }.sum + 500000L) / 1000000L
      val w = m.map { case (src, n, me) =>
        val excess = math.max(me - baseline, 0L)
        src -> math.floor(
          math.sqrt(n.toDouble / tn.toDouble) * pexp(excess) * 1000000.0d + 0.5d).toLong
      }
      val tw = w.map(_._2).sum
      alpha = w.map { case (src, we) =>
        src -> math.floor(
          (0.99d * we.toDouble / tw.toDouble + 0.01d / k.toDouble) * 1000000.0d + 0.5d).toLong
      }.toMap
      m.foreach { case (src, n, me) => out += ((src, n, me, t, alpha(src))) }
      t += 1
    }
    out.result().toDF("source", "n_docs", "m_loss_e6", "epoch", "a_e6")
  }
}
