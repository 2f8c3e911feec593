package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

/** Queries over a schema-only empty copy of the test tables: each
  * returns the empty result its DuckDB oracle returns (FIXTURES.md,
  * degenerate inputs), instead of dying in its EM, gradient or graph
  * loop.
  */
class EmptyInputSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val emptyDir: String = {
    val dir = Files.createTempDirectory("empty_tables").toString
    GraftSession.tune(spark)
    for (t <- Seq("events", "embeddings", "documents", "lineitem"))
      spark.read.parquet(s"${TestSpark.Sf0001}/$t.parquet").where(lit(false))
        .write.parquet(s"$dir/$t.parquet")
    dir
  }

  for (q <- Seq("q_gmm_soft", "q_sgd_det", "q_sgd_intent_scores",
      // the Iterate loops: an empty edge list runs every round on no rows
      "q_pagerank", "q_ppr_contamination", "q_kcore", "q_lpa_communities",
      "q_dedup_components", "q_bpe_merges", "q_bytebpe_merges", "q_textrank_keywords",
      // the bounded-heap aggregate's consumers: no group, no heap
      "q_topk_prices", "q_weighted_sample", "q_zipf_by_source", "q_zipf_drift",
      // the replay vector family: no point, no seed, no center, no bucket
      "q_kmeans_clusters", "q_knn_ivf_det", "q_ivf_recall", "q_rbo_ivf", "q_knn_lsh",
      "q_cosine_neardup", "q_simhash_embed_neardup"))
    test(s"$q returns no row on empty tables") {
      val out = SparkEntry.queries(q)(spark, emptyDir)
      try assert(out.collect().isEmpty && out.columns.nonEmpty)
      finally GraftSession.release(spark)
    }

  test("q_cluster_nmi and q_cluster_ari on empty embeddings: one all-null row, as their oracles") {
    for (q <- Seq("q_cluster_nmi", "q_cluster_ari"))
      try {
        val rows = SparkEntry.queries(q)(spark, emptyDir).collect()
        assert(rows.length == 1 && rows(0).toSeq.forall(_ == null), q)
      } finally GraftSession.release(spark)
  }

  for ((q, operator) <- Seq("q_kcenter_coreset" -> "KCenter.greedyCoreset",
      "q_knn_ivf" -> "Similarity.ivfKnn", "q_knn_pq" -> "ProductQuantization.train",
      "q_semantic_dedup" -> "SemanticDedup.pairs"))
    test(s"$q on empty embeddings fails with a require that names the empty input") {
      val e = intercept[IllegalArgumentException] {
        try SparkEntry.queries(q)(spark, emptyDir).collect()
        finally GraftSession.release(spark)
      }
      assert(e.getMessage.contains(operator) && e.getMessage.contains("empty"), e.getMessage)
    }

  test("q_zipf_slope on empty documents: one row, nw 0 and null moments, as its global-aggregate oracle") {
    val rows = SparkEntry.queries("q_zipf_slope")(spark, emptyDir).collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == 0L && (1 to 3).forall(rows(0).isNullAt))
  }

  /** One document, text "a a b": ranks (1, 2) with counts (2, 1), so the
    * micro-quantized ln terms are x = (0, L) and y = (L, 0) with
    * L = floor(ln 2 · 10⁶ + 0.5), num = −L², den = L², slope −1.
    */
  test("q_zipf_slope and q_zipf_by_source on a one-row documents table") {
    val dir = Files.createTempDirectory("one_doc").toString
    spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet").limit(1)
      .withColumn("text", lit("a a b")).withColumn("source", lit("web"))
      .write.parquet(s"$dir/documents.parquet")
    val l = math.floor(math.log(2.0) * 1e6 + 0.5).toLong
    val slope = SparkEntry.queries("q_zipf_slope")(spark, dir).collect()
    assert(slope.map(_.toSeq) sameElements Array(Seq(2L, -l * l, l * l, -1.0)))
    val bySource = SparkEntry.queries("q_zipf_by_source")(spark, dir).collect()
    assert(bySource.map(_.toSeq) sameElements Array(Seq("web", 2L, -l * l, l * l, -1.0)))
  }
}
