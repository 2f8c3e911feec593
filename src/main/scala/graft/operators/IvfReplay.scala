package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic IVF (inverted-file) ANN — the billion-vector index shape
  * of [[Similarity.ivfKnn]] with every stage replayable bit-for-bit, so the
  * WHOLE pipeline (coarse-quantizer training → posting lists → probe
  * selection → candidate scoring → top-k) hash-oracles cross-engine.
  * Reference behavior: the ANN retrieval step of the reference's embedding
  * pipeline (reference: src/embeddings/search.py) — same
  * train/assign/probe/score semantics; the MLlib-trained twin stays as the
  * perf path (`Similarity.ivfKnn`, recall-spec'd).
  *
  * Determinism contract — the [[KMeansReplay]] discipline end to end:
  *   - coordinates quantize to integer micros (`floor(x·10⁶ + 0.5)`), so
  *     every distance anywhere in the pipeline is an exact BIGINT Σ(Δ²);
  *   - the coarse quantizer is [[KMeansReplay.trainedCenters]] (md5-ranked
  *     seeds, fixed Lloyd rounds, `floor(S/n + 0.5)` centers);
  *   - posting lists are the nearest-center assignment with ties to the
  *     smaller list id;
  *   - probe selection is the `nProbe` nearest centroids per query under
  *     the SAME exact metric, ties to the smaller list id;
  *   - candidate scoring is the exact integer L2 between query and
  *     neighbor micros, top-k totally ordered by `(d2 ASC, neighbor_id)`.
  *
  * Scale shape: the center table is nLists×d — a bounded driver object
  * that ships as one array literal
  * ([[graft.functions.VectorFunctions.centerDistances]]), so a vector's
  * posting list is `array_min` and a query's probes are the first
  * `nProbe` of the sorted distance array: projections, never a join. The
  * corpus is touched by exactly (a) the per-round training scans
  * (constant rounds) and (b) ONE posting-list equi-join on `cid` against
  * the broadcast probes (|queries|·nProbe rows), which scores only the
  * probed lists' candidates (≈ nProbe/nLists of the corpus per query),
  * never a full cross join. At 10⁹ vectors nLists grows with √corpus and
  * the posting join stays the only corpus-sized shuffle.
  */
object IvfReplay {

  // native Σ(Δ²) kernel — exact integers, HOF-parity pinned
  // (LongSqDistParitySpec); guide §4
  private def sqDist(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.sqDistLong(a, b)

  /** `(query_id, neighbor_id, d2, rank)` — top-`k` probed-list neighbors
    * per query under the exact integer L2, rank 1 = nearest. A query row
    * present in the corpus never matches itself.
    */
  def knn(
      spark: SparkSession,
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 10,
      nLists: Int = 8,
      nProbe: Int = 4,
      rounds: Int = 3,
      vecCol: String = "embedding",
      d: Int = 64): DataFrame = {
    require(nProbe >= 1 && nProbe <= nLists, "need 1 <= nProbe <= nLists")
    val pts = KMeansReplay.quantize(corpus, vecCol, d).cache()
    try {
      val centers = KMeansReplay.trainedCenters(pts, nLists, rounds)
      // posting lists: (neighbor_id, cid) + the micro vector for scoring
      val posted = pts.select(col("vec_id").as("neighbor_id"),
        KMeansReplay.nearest(centers)("cid").as("cid"), col("xq").as("nx"))
      // probe selection: nProbe nearest centroids per query, exact metric,
      // ties to the smaller cid
      val probes = KMeansReplay.quantize(queries, vecCol, d)
        .select(col("vec_id").as("query_id"), col("xq").as("qx"),
          explode(slice(sort_array(graft.functions.VectorFunctions.centerDistances(
            col("xq"), centers)), 1, nProbe)).as("p"))
        .select(col("query_id"), col("qx"), col("p.cid").as("cid"))
      // score ONLY the probed lists' candidates; top-k per query
      val w = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("neighbor_id"))
      posted
        .join(broadcast(probes), Seq("cid"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), sqDist(col("qx"), col("nx")).as("d2"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
    } finally pts.unpersist(blocking = false)
  }

  /** Exact integer-L2 top-k `(query_id, neighbor_id, rank)` over the same
    * quantized points — the evaluation reference side (one broadcast-query
    * full scan), shared by [[recallVsExact]] and the RBO eval query.
    */
  def exactKnn(
      spark: SparkSession,
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 10,
      vecCol: String = "embedding",
      d: Int = 64): DataFrame = {
    val qpts = KMeansReplay.quantize(queries, vecCol, d)
      .select(col("vec_id").as("query_id"), col("xq").as("qx"))
    val cpts = KMeansReplay.quantize(corpus, vecCol, d)
      .select(col("vec_id").as("neighbor_id"), col("xq").as("nx"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("neighbor_id"))
    cpts
      .join(broadcast(qpts), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), sqDist(col("qx"), col("nx")).as("d2"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** `(query_id, n_hits, recall_micros)` — recall@k of the probed
    * retrieval against the EXACT integer-L2 top-k over the same quantized
    * points, so the ANN quality number is itself deterministic (and
    * hash-oracled): both rankings replay, the intersection is exact, and
    * recall is an integer-micros division. The exact side is one
    * broadcast-query full scan — the evaluation cost, not the serving
    * path.
    */
  def recallVsExact(
      spark: SparkSession,
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 10,
      nLists: Int = 8,
      nProbe: Int = 4,
      rounds: Int = 3,
      vecCol: String = "embedding",
      d: Int = 64): DataFrame = {
    val approx = knn(spark, queries, corpus, k, nLists, nProbe, rounds, vecCol, d)
      .select(col("query_id"), col("neighbor_id"))
    val exact = exactKnn(spark, queries, corpus, k, vecCol, d)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    approx
      .join(exact, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        expr(s"n_hits * 1000000 DIV $k").as("recall_micros"))
  }
}
