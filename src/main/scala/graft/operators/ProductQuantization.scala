package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization for ANN search (Jégou, Douze & Schmid 2011,
  * "Product Quantization for Nearest Neighbor Search", IEEE TPAMI) — the
  * embedding-compression scale path next to LSH bucketing and IVF posting
  * lists: split each d-dim vector into `m` subspaces, quantize every
  * subspace slice to one of `k` learned centroids, and store only the m
  * small code ints (64-dim float32 → 4–8 bytes, a 32–64× compression).
  * Search is asymmetric distance computation (ADC): a query computes its
  * m×k table of exact subspace distances ONCE, then every candidate costs
  * m table lookups + m adds — no per-pair vector arithmetic at all.
  *
  * Scale shape: codebooks are m×k×(d/m) doubles — a few KB — shipped as
  * expression literals, so [[encode]] is a zero-shuffle codegen'd
  * projection over the corpus and the encoded table is what a 100 TB
  * deployment persists (the raw vectors stay in cold storage). [[adcTopK]]
  * broadcasts the (small) query side with its precomputed tables; the
  * corpus streams map-side and only the per-query top-k shuffles. PQ ranks
  * the WHOLE corpus per query (compression, not candidate pruning) — at
  * full scale it composes with IVF (probe lists first, ADC-rank inside
  * them); the optional `rerank` stage re-scores the ADC shortlist with
  * exact distances, the standard IVFADC+R refinement.
  */
object ProductQuantization {

  /** m × k × (dim/m): `codebooks(s)(j)` is centroid j of subspace s. */
  type Codebooks = Array[Array[Array[Double]]]

  private def asDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Squared L2 between two double arrays — a sequential left fold in
    * array order, so a DuckDB `list_sum` twin is bit-identical. Native
    * kernel (expressions.PqKernels) with the identical IEEE fold order —
    * the HOF spelling paid two boxed tree-walks per (row, centroid) in the
    * encode pass (PqKernelsParitySpec pins the parity; guide §4).
    */
  private def sqDist(a: Column, b: Column): Column =
    graft.expressions.PqKernels.sq_dist_double(a, b)

  private def centroidLit(c: Array[Double]): Column = array(c.toSeq.map(lit): _*)

  private def subspace(v: Column, s: Int, dsub: Int): Column =
    slice(v, s * dsub + 1, dsub)

  /** Learned codebooks: one sampled MLlib KMeans per subspace. Same
    * economics as the IVF coarse quantizer ([[Similarity.ivfKnn]]): random
    * init + capped iterations on a representative sample — codebook polish
    * buys little once cells are balanced, and every extra pass is a full
    * scan of the train set. RNG inside (seeded KMeans), so trained-PQ
    * queries are recall-spec'd, not SQL-oracled; the deterministic
    * encode/ADC math is oracled via [[fixedCodebooks]].
    */
  def train(
      corpus: DataFrame,
      m: Int = 8,
      k: Int = 16,
      dim: Int = 64,
      seed: Long = 42L,
      trainFraction: Double = 1.0,
      maxIter: Int = 10,
      vecCol: String = "embedding"
  ): Codebooks = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val dsub = dim / m
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val vd = asDouble(col(vecCol))
    val sliced = corpus.select(
      (0 until m).map(s => array_to_vector(subspace(vd, s, dsub)).as(s"s$s")): _*)
    val trainSet =
      if (trainFraction >= 1.0) sliced
      else sliced.sample(withReplacement = false, trainFraction, seed)
    trainSet.persist()
    try {
      require(!trainSet.isEmpty,
        "ProductQuantization.train: empty corpus, no vector to fit the codebooks on")
      (0 until m).toArray.map { s =>
        new KMeans().setK(k).setSeed(seed + s)
          .setInitMode("random").setMaxIter(maxIter)
          .setFeaturesCol(s"s$s").setPredictionCol("c")
          .fit(trainSet)
          .clusterCenters.map(_.toArray)
      }
    } finally { trainSet.unpersist(); () }
  }

  /** Deterministic sample-based codebook trainer — the published FAISS
    * practice (Jégou 2011 §V trains codebooks on a bounded sample
    * regardless of corpus size): ONE TakeOrdered job collects the
    * `sampleN` md5-ranked points (deterministic, no RNG), then all m
    * subspace codebooks run Lloyd driver-side over that bounded sample
    * under [[KMeansReplay]]'s integer-micro discipline (md5 seeds = the
    * sample's first k rows, exact long distances, ties to the lowest
    * code, floor(S/n + 0.5) center updates).
    *
    * Exists because [[train]]'s per-subspace MLlib fits cost m × maxIter
    * full-scan jobs plus m fits' setup overhead — at sf0.1 that was most
    * of q_knn_ivfpq's 5.4 s median for codebook polish that rerank makes
    * irrelevant (recall is governed by nProbe + rerank).
    *
    * Scale shape: the collect is sampleN·dim longs (a few MB, constant in
    * corpus size — the IntervalOverlap bounded-driver-object class); the
    * driver Lloyd is sampleN·k·dim ops per round — microseconds. At
    * 100 TB the one sampling scan parallelizes and nothing else touches
    * the corpus. Empty clusters drop per subspace.
    */
  def trainCodebooksDet(
      corpus: DataFrame,
      m: Int = 8,
      k: Int = 16,
      dim: Int = 64,
      rounds: Int = 5,
      sampleN: Int = 4096,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): Codebooks = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val dsub = dim / m
    val xq = transform(asDouble(col(vecCol)),
      e => floor(e * lit(1000000.0d) + lit(0.5d)).cast("long"))
    val sample: Array[Array[Long]] =
      KMeansReplay.md5Ranked(corpus.select(col(idCol).as("vec_id"), xq.as("xq")), sampleN)
        .map(_.getSeq[Long](1).toArray)
    require(sample.length >= k, s"corpus has only ${sample.length} rows, need $k")
    (0 until m).toArray.map { s =>
      val slices = sample.map(_.slice(s * dsub, s * dsub + dsub))
      var centers = slices.take(k).map(_.clone())
      var r = 0
      while (r < rounds) {
        val sums = Array.fill(centers.length, dsub)(0L)
        val counts = Array.fill(centers.length)(0L)
        slices.foreach { x =>
          var best = 0
          var bestD = Long.MaxValue
          var j = 0
          while (j < centers.length) {
            var d = 0L
            var i = 0
            while (i < dsub) { val t = x(i) - centers(j)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = j } // strict < : ties keep the lowest code
            j += 1
          }
          var i = 0
          while (i < dsub) { sums(best)(i) += x(i); i += 1 }
          counts(best) += 1L
        }
        centers = centers.indices.collect {
          case j if counts(j) > 0L =>
            Array.tabulate(dsub)(i => math.floor(sums(j)(i).toDouble / counts(j).toDouble + 0.5).toLong)
        }.toArray
        r += 1
      }
      centers.map(_.map(_.toDouble / 1000000.0d))
    }
  }

  /** Deterministic codebooks: the subspace slices of the `k` lowest-id
    * corpus rows. Exists so the encode + ADC math has a hash-matched SQL
    * oracle (the [[Similarity.windowedKnn]] pattern — deterministic
    * candidates, engine-checked arithmetic); quantization QUALITY is
    * [[train]]'s job. Collects exactly k rows — bounded by construction.
    */
  def fixedCodebooks(
      corpus: DataFrame,
      m: Int = 4,
      k: Int = 8,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): Codebooks = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val dsub = dim / m
    val rows = corpus
      .select(col(idCol), asDouble(col(vecCol)).as("v"))
      .orderBy(col(idCol))
      .limit(k)
      .select(col("v"))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    require(rows.length == k, s"corpus has only ${rows.length} rows, need $k")
    (0 until m).toArray.map(s => rows.map(_.slice(s * dsub, s * dsub + dsub)))
  }

  /** PQ codes for every corpus row: per subspace, the argmin-distance
    * centroid index (ties → lowest code, both engines). A zero-shuffle
    * projection — this is the compression pass a corpus-scale deployment
    * runs once and persists.
    */
  def encode(
      corpus: DataFrame,
      codebooks: Codebooks,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val dsub = codebooks(0)(0).length
    val vd = asDouble(col(vecCol))
    val codeCols = codebooks.zipWithIndex.map { case (cb, s) =>
      val sl = subspace(vd, s, dsub)
      val dists = array(cb.map(c => sqDist(sl, centroidLit(c))).toSeq: _*)
      // array_position is 1-based and returns the FIRST index of the min —
      // the lowest code on ties, matching the oracle's ORDER BY sq, code
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    // input columns ride along (still a pure projection) so callers like
    // [[ivfAdcKnn]] keep their list assignment next to the codes
    corpus.withColumn("codes", array(codeCols.toSeq: _*))
  }

  /** ADC top-k: each query precomputes its m×k subspace-distance table
    * (exact query slice vs every centroid), then every encoded corpus row
    * scores as the fold of m table lookups — `adist` approximates squared
    * L2. `rerank` > 0 re-scores that many ADC-shortlisted candidates per
    * query with EXACT squared L2 (the ADC+R refinement): the shortlist is
    * queries×rerank rows — small — so the exact pass broadcasts it against
    * the corpus and never rescans more than the shortlist.
    */
  def adcTopK(
      queries: DataFrame,
      corpus: DataFrame,
      codebooks: Codebooks,
      k: Int = 10,
      rerank: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val dsub = codebooks(0)(0).length
    val qvd = asDouble(col(vecCol))
    val qtab = array(codebooks.zipWithIndex.map { case (cb, s) =>
      val sl = subspace(qvd, s, dsub)
      array(cb.map(c => sqDist(sl, centroidLit(c))).toSeq: _*)
    }.toSeq: _*)
    val q = broadcast(queries.select(col(idCol).as("query_id"), qtab.as("qtab")))
    val encoded = encode(corpus, codebooks, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("codes"))
    // fold in subspace order — the oracle's list_sum(list(sq ORDER BY s))
    // is the same left fold, so equal-code candidates tie EXACTLY in both
    // engines and the neighbor_id tie-break decides identically; native
    // lookup-sum kernel, identical fold order (PqKernelsParitySpec)
    val adist = graft.expressions.PqKernels.adc_sum(col("qtab"), col("codes"))
    val scored = encoded
      .join(q, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), adist.as("adist"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adist"), col("neighbor_id"))
    val approx = scored.withColumn("rank", row_number().over(w))
    if (rerank <= 0) approx.filter(col("rank") <= k)
    else exactRerank(approx.filter(col("rank") <= math.max(k, rerank)),
      queries, corpus, k, idCol, vecCol)
  }

  /** IVFADC (Jégou 2011 §V / the FAISS default index): the IVF coarse
    * quantizer routes every corpus vector to one of `nLists` posting lists,
    * PQ codebooks train on the RESIDUAL (vector − its list centroid) — the
    * residual distribution is tighter than the raw space, so the same code
    * budget quantizes finer — and a query ADC-scans only its `nProbe`
    * nearest lists. This is the composition that makes billion-vector ANN
    * economic: candidate count ≈ nProbe/nLists of the corpus, each
    * candidate costs m table lookups, and the persisted index row is
    * (list_id, id, m codes) — a few bytes per vector.
    *
    * Both k-means stages run the deterministic sample-based trainer
    * (r16 — md5-ranked samples, driver Lloyd; `seed`/`maxIter` are
    * retained for signature compatibility but unused): the whole index is
    * RNG-free, recall-spec'd like [[Similarity.ivfKnn]]; the ADC
    * arithmetic is oracled through [[adcTopK]]'s fixed-codebook twin.
    */
  def ivfAdcKnn(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 10,
      nLists: Int = 16,
      nProbe: Int = 4,
      m: Int = 8,
      codes: Int = 16,
      dim: Int = 64,
      seed: Long = 42L,
      maxIter: Int = 5,
      rerank: Int = 0,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val dsub = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._

    // coarse quantizer — the deterministic sample trainer with m=1 over
    // the full dim (r16; replaced the seeded MLlib fit: recall is governed
    // by nProbe + rerank, not centroid polish, and the sample Lloyd makes
    // the whole index RNG-free). Assignment is an argmin over LITERAL
    // centroids — a zero-shuffle projection, ties to the lowest list.
    val coarseCenters: Array[Array[Double]] =
      trainCodebooksDet(corpus, m = 1, k = nLists, dim = dim,
        idCol = idCol, vecCol = vecCol)(0)
    val corpusVec = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("nv"))
    val coarseDists = array(coarseCenters.map(c => sqDist(col("nv"), centroidLit(c))).toSeq: _*)
    val centroids = coarseCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("list_id", "cv")
    val posted = corpusVec
      .withColumn("list_id", (array_position(coarseDists, array_min(coarseDists)) - 1).cast("int"))
      .join(broadcast(centroids), Seq("list_id"))
      // bind the residual as a column: HOF lambdas re-evaluate their body
      // per element, so downstream slices must reference a bound attribute
      .select(col("neighbor_id"), col("list_id"),
        zip_with(col("nv"), col("cv"), (x, c) => x - c).as("resid"))
      // persisted: the m subspace fits, the encode pass, and the caller's
      // final action all consume this frame — without the persist each one
      // re-derives coarse.transform + the centroid join from the scan
      // (left persisted through the returned lazy plan, the
      // q_sgd_intent_scores pattern; per-query bench hygiene unpersists)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // PQ on residuals; the index a deployment persists is (list, id, codes).
    // Residual codebooks come from the deterministic sample trainer: one
    // TakeOrdered collect + driver Lloyd instead of m MLlib fits × maxIter
    // scans — rerank carries recall either way (the quantizer economics)
    val cb = trainCodebooksDet(posted, m, codes, dim, rounds = 3,
      idCol = "neighbor_id", vecCol = "resid")
    val encoded = encode(posted, cb, idCol = "neighbor_id", vecCol = "resid")
      .select(col("list_id"), col("neighbor_id"), col("codes"))

    // probe selection, then one ADC table per (query, probed list) — the
    // residual query differs per list, so the table does too
    val cw = Window.partitionBy(col("query_id")).orderBy(col("cdist"), col("list_id"))
    val probes = queries
      .select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .join(broadcast(centroids))
      .select(col("query_id"), col("qv"), col("list_id"),
        graft.functions.VectorFunctions.l2Distance(col("qv"), col("cv")).as("cdist"),
        col("cv"))
      .withColumn("crank", row_number().over(cw))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"), col("list_id"),
        zip_with(col("qv"), col("cv"), (x, c) => x - c).as("qr"))
    val qtab = array(cb.zipWithIndex.map { case (sub, s) =>
      val sl = subspace(col("qr"), s, dsub)
      array(sub.map(c => sqDist(sl, centroidLit(c))).toSeq: _*)
    }.toSeq: _*)
    val q = broadcast(probes.select(col("query_id"), col("list_id"), qtab.as("qtab")))

    val adist = graft.expressions.PqKernels.adc_sum(col("qtab"), col("codes"))
    // every corpus vector lives in exactly one list, so a (query, neighbor)
    // pair appears at most once — no dedup aggregate needed
    val scored = encoded
      .join(q, Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), adist.as("adist"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adist"), col("neighbor_id"))
    val approx = scored.withColumn("rank", row_number().over(w))
    if (rerank <= 0) approx.filter(col("rank") <= k)
    else exactRerank(approx.filter(col("rank") <= math.max(k, rerank)),
      queries, corpus, k, idCol, vecCol)
  }

  /** Exact squared-L2 re-scoring of an ADC shortlist (the +R refinement):
    * the shortlist is queries×rerank rows — small — so it broadcasts
    * against the corpus and nothing rescans beyond it.
    */
  private def exactRerank(
      shortlist: DataFrame,
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      idCol: String,
      vecCol: String
  ): DataFrame = {
    val pairs = shortlist.select(col("query_id"), col("neighbor_id"))
    val qv = broadcast(queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv")))
    val cv = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("nv"))
    val exact = cv
      .join(broadcast(pairs), Seq("neighbor_id"))
      .join(qv, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), sqDist(col("qv"), col("nv")).as("sq_l2"))
    val rw = Window.partitionBy(col("query_id")).orderBy(col("sq_l2"), col("neighbor_id"))
    exact.withColumn("rank", row_number().over(rw)).filter(col("rank") <= k)
  }
}
