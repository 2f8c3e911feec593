package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic weighted sampling without replacement — the missing piece
  * between [[HashSplit]] (uniform assignment), [[GroupCap]] (uniform
  * per-group cap) and [[Mixture]] (per-source quotas): keep `n` rows per
  * group with inclusion probability PROPORTIONAL TO A WEIGHT (token count,
  * quality score, ...), yet fully reproducible — membership is a pure
  * function of the data, stable across runs, engines, and partitionings,
  * which is what a training pipeline needs for auditable curation draws
  * (true RNG sampling rebuilds a different dataset every run).
  *
  * Method: Efraimidis–Spirakis exponential race. Each row gets
  * `es_key = -ln(u) / w` where `u ∈ (0,1)` is a uniform draw derived from
  * md5(id) (48 bits of the hex digest — the one hash spelling engines
  * agree on, per [[HashSplit]]); the n smallest keys per group win. This
  * realizes weighted sampling without replacement (P(row first) = w/Σw,
  * then recurse), Efraimidis & Spirakis 2006 — deterministic here because
  * `u` is content-keyed rather than drawn.
  *
  * Scale shape: identical to [[GroupCap]] — one shuffle on the group key,
  * per-group bounded rank (row_number needs the full group on a partition;
  * pre-cap pathological hot groups first). Zero driver state; the es_key
  * is a zero-shuffle projection.
  */
object WeightedSample {

  private val TwoPow48 = 281474976710656.0

  /** Uniform (0,1) draw as a pure function of the key: the first 12 hex
    * chars of md5(key) as a 48-bit integer, +0.5 to dodge both endpoints
    * (u = 0 would make -ln(u) infinite). Exactly representable in a double
    * (48 < 53 bits), so the arithmetic is bit-identical in any engine:
    * DuckDB spells it `(('0x' || substring(md5(k),1,12))::BIGINT + 0.5) / 2^48`.
    */
  def uniform(key: Column): Column =
    (HashSplit.md548(key) + lit(0.5)) / lit(TwoPow48)

  /** Efraimidis–Spirakis race key: smaller wins. Non-positive weights get
    * an infinite key — never selected while positive-weight rows remain
    * (and ANSI mode would otherwise throw DIVIDE_BY_ZERO on w = 0). A null
    * key or weight also maps to +Infinity: without the coalesce, the null
    * race key would sort NULLS FIRST under the ascending window order and
    * null-id rows would silently ALWAYS win the draw.
    */
  def esKey(key: Column, weight: Column): Column = {
    val w = weight.cast("double")
    coalesce(
      when(w <= 0, lit(Double.PositiveInfinity)).otherwise(-log(uniform(key)) / w),
      lit(Double.PositiveInfinity))
  }

  /** Keep at most `n` rows per `groupCol` with probability proportional to
    * `weightCol` (without replacement), adding `es_rank` (1-based rank in
    * race order — exposed so downstream can tighten the cap without
    * re-shuffling). Deterministic: ties (impossible for distinct ids, but
    * belt-and-braces) break on `idCol`. Rows with a null id or weight are
    * EXCLUDED from the draw — the contract both this and the at-scale
    * spelling share (the heap aggregate cannot carry a null payload).
    */
  def samplePerGroup(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      weightCol: String,
      n: Int
  ): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(esKey(col(idCol), col(weightCol)), col(idCol))
    df.filter(col(idCol).isNotNull && col(weightCol).isNotNull)
      .withColumn("es_rank", row_number().over(w).cast("long"))
      .filter(col("es_rank") <= n)
  }

  /** The 100-TB spelling of [[samplePerGroup]]: identical membership and
    * ranks, but the winners are found by a bounded-heap aggregate
    * ([[graft.expressions.MinKByAgg]], lexicographic `(es_key, id)` — the
    * window's exact order), which combines MAP-SIDE: each partition ships
    * ≤ n pairs per group through the shuffle, where `row_number` must
    * co-locate and sort the whole group on one partition (the hot-group
    * hazard). One O(n·|groups|) agg + one equi-join on the unique id to
    * recover the full rows — no full-group sort anywhere.
    */
  def samplePerGroupAtScale(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      weightCol: String,
      n: Int
  ): DataFrame = {
    val winners = df
      .filter(col(idCol).isNotNull && col(weightCol).isNotNull)
      .select(col(groupCol), esKey(col(idCol), col(weightCol)).as("_es"),
        col(idCol).as("_id"))
      .groupBy(col(groupCol))
      .agg(graft.expressions.MinKByAgg.min_k_by(col("_es"), col("_id"), n).as("_top"))
      .select(col(groupCol), posexplode(col("_top")).as(Seq("_pos", "_s")))
      .select(col(groupCol), col("_s.id").as("_id"),
        (col("_pos") + 1).cast("long").as("es_rank"))
    df.join(winners,
        df(groupCol) === winners(groupCol) && col(idCol) === col("_id"))
      .drop(winners(groupCol)).drop("_id")
  }
}
