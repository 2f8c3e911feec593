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
    for (t <- Seq("events", "embeddings", "documents"))
      spark.read.parquet(s"${TestSpark.Sf0001}/$t.parquet").where(lit(false))
        .write.parquet(s"$dir/$t.parquet")
    dir
  }

  for (q <- Seq("q_gmm_soft", "q_sgd_det", "q_sgd_intent_scores",
      // the Iterate loops: an empty edge list runs every round on no rows
      "q_pagerank", "q_ppr_contamination", "q_kcore", "q_lpa_communities",
      "q_dedup_components", "q_bpe_merges", "q_bytebpe_merges", "q_textrank_keywords"))
    test(s"$q returns no row on empty tables") {
      val out = SparkEntry.queries(q)(spark, emptyDir)
      try assert(out.collect().isEmpty && out.columns.nonEmpty)
      finally GraftSession.release(spark)
    }
}
