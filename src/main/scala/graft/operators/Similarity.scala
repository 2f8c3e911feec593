package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set so
  * the corpus streams map-side with zero shuffle of corpus vectors; the only
  * shuffle is the final per-query top-k, which AQE keeps tiny.
  *
  * Scale path: random-hyperplane LSH bucketing (Charikar 2002) — both sides
  * hash to a bucket id; the join only compares bucket-mates, cutting the
  * candidate set by ~2^nPlanes at a recall cost. Multi-probe: each query also
  * probes all buckets at Hamming distance 1 from its own, recovering most of
  * the recall for +nPlanes candidate buckets.
  */
object Similarity {

  /** Exact top-k neighbors for each query row. `queries` must be small
    * enough to broadcast (it is hinted); ties broken by neighbor id for
    * determinism.
    */
  def bruteForceKnn(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
    val scored = c
      .join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("nv")).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic-candidate kNN: the exact score-and-rank kernel shared by
    * every ANN variant (cosine → per-query row_number top-k), but with a
    * candidate set that is a pure function of ids — neighbor_id within
    * ±`window` of query_id — instead of hash buckets or posting lists.
    * Exists so the scoring math has a hash-matched SQL oracle; the bucketing
    * in `lshKnn`/`ivfKnn` is engine-specific and covered by recall specs.
    */
  def windowedKnn(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 10,
      window: Int = 100,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
    val scored = c
      .join(q, col("neighbor_id") =!= col("query_id") &&
        col("neighbor_id").between(col("query_id") - window, col("query_id") + window))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("nv")).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** LSH-bucketed ANN top-k with `nTables` independent hash tables (classic
    * multi-table LSH): a corpus vector is a candidate if it shares a bucket
    * with the query in ANY table; the query additionally probes all
    * Hamming-1 buckets per table. Recall grows with nTables, candidate
    * count ~ nTables·(1+nPlanes)·corpus/2^nPlanes per query.
    */
  def lshKnn(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 10,
      nPlanes: Int = 8,
      nTables: Int = 4,
      dim: Int = 64,
      seed: Long = 42L,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val tables = (0 until nTables).map(t => t -> seededPlanes(nPlanes, dim, seed + t))
    def tableBuckets(v: Column): Column =
      array(tables.map { case (t, planes) =>
        struct(lit(t).as("t"), hyperplaneBucket(v, planes).as("b"))
      }: _*)

    val c = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
        explode(tableBuckets(col(vecCol))).as("tb"))
      .select(col("neighbor_id"), col("nv"), col("tb.t").as("t"), col("tb.b").as("bucket"))

    // per table: own bucket + Hamming-1 probes
    val flips = lit(0L) +: (0 until nPlanes).map(j => lit(1L << j))
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(tableBuckets(col(vecCol))).as("tb"))
      .select(col("query_id"), col("qv"), col("tb.t").as("t"),
        explode(array(flips: _*)).as("flip"), col("tb.b").as("qbucket"))
      .select(col("query_id"), col("qv"), col("t"),
        col("qbucket").bitwiseXOR(col("flip")).as("bucket"))

    val scored = c
      .join(broadcast(q), Seq("t", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("nv")).as("cos"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cos")).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Deterministic-REPLAY spelling of [[lshKnn]] (the
    * [[cosineNearDupPairsDet]] discipline): the SAME per-table seeded
    * Gaussian hyperplanes — quantized to integer micros and shipped as
    * literals into both the Spark plan and the generated DuckDB oracle —
    * over integer-micro coordinates, so every table's bucket signature is
    * exact BIGINT arithmetic, the Hamming-1 probe expansion is a pure XOR,
    * and the reported cosine is one replayed floor-6 division chain over
    * exact integer dot/norms. Candidate structure identical to [[lshKnn]]
    * (multi-table ∪ Hamming-1 probes); ranking ties break on neighbor_id.
    * The float path keeps the true Gaussian recall profile and stays
    * spec-covered (SimilaritySpec).
    *
    * Scale shape matches [[lshKnn]]: a vector's nTables signatures are
    * one projection ([[hyperplaneBucketLong]] against literal planes, no
    * join and no shuffle), and the candidate join is bucket-equi with the
    * (small) probe side broadcast — never all-pairs.
    */
  def lshKnnDet(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 10,
      nPlanes: Int = 4,
      nTables: Int = 4,
      d: Int = 64,
      seed: Long = 42L
  ): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 30, "nPlanes in 1..30")
    // per (vector, table): the packed sign bits of the exact projections
    def withBuckets(df: DataFrame): DataFrame =
      KMeansReplay.quantize(df, "embedding", d)
        .select(col("vec_id"), col("xq"), explode(array((0 until nTables).map(t =>
          struct(lit(t).as("t"), hyperplaneBucketLong(col("xq"),
            gaussianMicroPlanes(nPlanes, d, seed + t)).as("bucket"))): _*)).as("tb"))
        .select(col("vec_id"), col("tb.t").as("t"), col("tb.bucket").as("bucket"), col("xq"))
    val c = withBuckets(corpus)
      .select(col("vec_id").as("neighbor_id"), col("t"), col("bucket"), col("xq").as("nx"))
    val flips = lit(0L) +: (0 until nPlanes).map(j => lit(1L << j))
    val q = withBuckets(queries)
      .select(col("vec_id").as("query_id"), col("xq").as("qx"), col("t"),
        explode(array(flips: _*)).as("flip"), col("bucket").as("qbucket"))
      .select(col("query_id"), col("qx"), col("t"),
        col("qbucket").bitwiseXOR(col("flip")).as("bucket"))
    val dot = graft.functions.VectorFunctions.dotLong(col("qx"), col("nx"))
    val nrm = (c2: Column) => graft.functions.VectorFunctions.dotLong(c2, c2)
    val scored = c
      .join(broadcast(q), Seq("t", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        dot.as("dp"), nrm(col("qx")).as("na"), nrm(col("nx")).as("nb"))
      .filter(col("na") > 0L && col("nb") > 0L)
      .select(col("query_id"), col("neighbor_id"),
        (floor(col("dp").cast("double") / sqrt(col("na").cast("double"))
          / sqrt(col("nb").cast("double")) * lit(1000000.0d) + lit(0.5d))
          / lit(1000000.0d)).as("cos6"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cos6")).as("cos6"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos6").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF (inverted-file) ANN top-k — the other classic scale path next to
    * LSH: a k-means coarse quantizer assigns every corpus vector to one of
    * `nLists` posting lists; each query probes only its `nProbe` nearest
    * centroids' lists. Candidate count ≈ nProbe/nLists of the corpus (vs
    * LSH's bucket-collision fraction), and recall/cost tunes smoothly via
    * nProbe. The quantizer trains on the corpus (MLlib KMeans — iterative,
    * but over vectors only); the centroid table is nLists×dim — tiny — and
    * is broadcast for probe selection, so the only big shuffle is the
    * posting-list equi-join on `list_id`.
    */
  def ivfKnn(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 10,
      nLists: Int = 16,
      nProbe: Int = 4,
      seed: Long = 42L,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      trainFraction: Double = 1.0,
      maxIter: Int = 10
  ): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    import spark.implicits._

    val corpusVec = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"),
      array_to_vector(transform(col(vecCol), x => x.cast("double"))).as("features"))
    // quantizer quality needs only a representative sample; at corpus scale
    // train on a fraction (the iterative fit is the expensive step — the
    // full corpus still gets assigned to lists by the one-pass transform)
    val trainSet =
      if (trainFraction >= 1.0) corpusVec
      else corpusVec.sample(withReplacement = false, trainFraction, seed)
    // Coarse quantizers don't need a converged clustering, just a balanced
    // partition of the space (FAISS trains IVF on a sample with few
    // iterations): random init + capped iterations, because every extra
    // k-means pass is a full scan of the train set — at this corpus size
    // job-overhead-bound, at 100 TB scan-bound. Recall is governed by
    // nProbe, not quantizer polish.
    require(!trainSet.isEmpty,
      "Similarity.ivfKnn: empty corpus, no vector to train the coarse quantizer on")
    val model = new KMeans().setK(nLists).setSeed(seed)
      .setInitMode("random").setMaxIter(maxIter)
      .setFeaturesCol("features").setPredictionCol("list_id")
      .fit(trainSet)
    val posted = model.transform(corpusVec).select(col("neighbor_id"), col("nv"), col("list_id"))

    val centroids = model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toArray) }
      .toDF("list_id", "cv")

    // probe selection: nProbe nearest centroids per query, by the same
    // euclidean metric the quantizer optimized
    val cw = Window.partitionBy(col("query_id")).orderBy(col("cdist"), col("list_id"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(broadcast(centroids))
      .select(col("query_id"), col("qv"), col("list_id"),
        l2Distance(col("qv"), col("cv")).as("cdist"))
      .withColumn("crank", row_number().over(cw))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"), col("qv"), col("list_id"))

    val scored = posted
      .join(broadcast(probes), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("nv")).as("cos"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Per-label centroid of the embedding column, element-wise: explode to
    * (label, dim_idx, component) → avg → reassemble ordered. One shuffle on
    * (label, idx) — never collects vectors; at scale this is the standard
    * IVF coarse-quantizer training step (one k-means iteration given label
    * assignments).
    */
  def labelCentroids(
      df: DataFrame,
      labelCol: String = "label",
      vecCol: String = "embedding"
  ): DataFrame =
    df.select(col(labelCol), posexplode(col(vecCol)).as(Seq("idx", "component")))
      .groupBy(col(labelCol), col("idx"))
      .agg(avg(col("component").cast("double")).as("centroid_val"))

  /** Deterministic embedding-space near-dup pairs — the REPLAYABLE twin of
    * [[cosineNearDupPairs]] (whose seeded Gaussian hyperplanes are
    * engine-RNG): Charikar signs from md5-derived Rademacher planes over
    * integer-micro coordinates, so the bucket signature is a pure function
    * both engines replay bit-for-bit.
    *
    *   - sign s(b,j) = ±1 from the parity of md5("b:j")'s first hex digit;
    *   - plane bit b = [ Σ_j s(b,j)·xq_j ≥ 0 ] — an exact BIGINT sum;
    *   - bucket = Σ_b bit_b·2^b (nPlanes bits);
    *   - candidate pairs share the bucket (hot buckets capped like the RNG
    *     twin), verified by the exact-integer dot: cos ≥ ½ spelled as
    *     `dot > 0 ∧ 4·dot² ≥ ‖a‖²·‖b‖²` in identical IEEE doubles, and the
    *     reported cosine is one replayed floor-6 division chain.
    *
    * Scale shape: the nPlanes·d signs are driver constants, the signature
    * is one projection per vector ([[hyperplaneBucketLong]]), and the pair
    * join is bucket-equi with the same hot-bucket cap — never all-pairs.
    */
  def simhashNearDupPairs(
      df: DataFrame,
      nPlanes: Int = 8,
      d: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxBucketSize: Int = 10000
  ): DataFrame = {
    def sign(b: Int, j: Int): Long = {
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$b:$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (((digest(0) >> 4) & 1) == 0) 1L else -1L
    }
    bucketVerifyPairs(df, idCol, vecCol, d,
      (0 until nPlanes).map(b => (1 to d).map(j => sign(b, j))), maxBucketSize)
  }

  /** Deterministic-REPLAY spelling of [[cosineNearDupPairs]] (the
    * q_semantic_dedup_det discipline): the SAME seeded Gaussian hyperplanes
    * — but quantized to integer micros and shipped as literals — over
    * integer-micro coordinates, so the bucket signature is an exact
    * BIGINT function and the cos ≥ ½ verification the shared IEEE spelling
    * both engines replay bit-for-bit. The float path keeps the LSH recall
    * profile of the Gaussian planes (unlike the Rademacher signs of
    * [[simhashNearDupPairs]], whose ±1 planes are a different projection
    * family); SimilaritySpec pins that the two spellings agree on planted
    * duplicates.
    */
  def cosineNearDupPairsDet(
      df: DataFrame,
      nPlanes: Int = 8,
      d: Int = 64,
      seed: Long = 42L,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxBucketSize: Int = 10000
  ): DataFrame =
    bucketVerifyPairs(df, idCol, vecCol, d, gaussianMicroPlanes(nPlanes, d, seed),
      maxBucketSize)

  /** Shared body of the replayable near-dup spellings: quantize, pack the
    * per-plane sign bits into the bucket id, cap hot buckets, bucket-equi
    * pair join, exact-integer cos ≥ ½ verification (`d > 0 ∧ 4d² ≥
    * ‖a‖²‖b‖²` in identical IEEE doubles), floor-6 reported cosine.
    */
  private def bucketVerifyPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      d: Int,
      planes: Seq[Seq[Long]],
      maxBucketSize: Int): DataFrame = {
    require(planes.nonEmpty && planes.size <= 30, "nPlanes in 1..30")
    val b = KMeansReplay.quantize(df.select(col(idCol).as("vec_id"), col(vecCol)), vecCol, d)
      .select(col("vec_id"), col("xq"), hyperplaneBucketLong(col("xq"), planes).as("bucket"))
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy(col("bucket"))))
      .filter(col("bucket_n") <= maxBucketSize)
      .drop("bucket_n")
    val l = b.select(col("bucket"), col("vec_id").as("id1"), col("xq").as("x1"))
    val r = b.select(col("bucket"), col("vec_id").as("id2"), col("xq").as("x2"))
    val dot = graft.functions.VectorFunctions.dotLong(col("x1"), col("x2"))
    val nrm = (c: Column) => graft.functions.VectorFunctions.dotLong(c, c)
    l.join(r, Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), dot.as("d"),
        nrm(col("x1")).as("na"), nrm(col("x2")).as("nb"))
      .filter(col("d") > 0L &&
        lit(4.0d) * (col("d").cast("double") * col("d").cast("double")) >=
          col("na").cast("double") * col("nb").cast("double"))
      .select(col("id1"), col("id2"),
        (floor(col("d").cast("double") / sqrt(col("na").cast("double"))
          / sqrt(col("nb").cast("double")) * lit(1000000.0d) + lit(0.5d))
          / lit(1000000.0d)).as("cos6"))
      .groupBy(col("id1"), col("id2"))
      .agg(max(col("cos6")).as("cos6"))
  }

  /** All corpus pairs with cosine ≥ threshold, via shared-bucket LSH join —
    * embedding-space near-duplicate detection.
    *
    * @param maxBucketSize one hot bucket (a dense cluster, or low-entropy
    *        embeddings all signing the same way) makes the self-join
    *        quadratic; oversized buckets are dropped — bounded recall loss,
    *        never a runaway join (same cap as Dedup.minhashPairs).
    */
  def cosineNearDupPairs(
      df: DataFrame,
      threshold: Double = 0.95,
      nPlanes: Int = 8,
      dim: Int = 64,
      seed: Long = 42L,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      maxBucketSize: Int = 10000
  ): DataFrame = {
    val planes = seededPlanes(nPlanes, dim, seed)
    val b = df.select(
        col(idCol),
        col(vecCol),
        hyperplaneBucket(col(vecCol), planes).as("bucket")
      )
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy(col("bucket"))))
      .filter(col("bucket_n") <= maxBucketSize)
      .drop("bucket_n")
    val l = b.select(col("bucket"), col(idCol).as("id1"), col(vecCol).as("v1"))
    val r = b.select(col("bucket"), col(idCol).as("id2"), col(vecCol).as("v2"))
    l.join(r, Seq("bucket"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), cosine(col("v1"), col("v2")).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col("id1"), col("id2"))
      .agg(max(col("cos")).as("cos"))
  }
}
