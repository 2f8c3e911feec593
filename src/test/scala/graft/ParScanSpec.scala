package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The r20 scan-parallelism floor (Tables.parScan): a single-row-group
  * documents scan must fan out to session cores behind a guarded
  * REPARTITION_BY_NUM exchange — with the SAME rows — and the guard must
  * be partition-count-driven (a scan that already plans >= cores splits
  * takes the plain path; proven here by the floor's own output, which
  * always has >= cores partitions and would therefore not re-trigger).
  */
class ParScanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("documents floor: rows identical to the raw scan, partitions >= cores") {
    val t = Tables(spark, TestSpark.Sf0001)
    val floored = t.documents
    val raw = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
    assert(floored.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
    assert(raw.rdd.getNumPartitions < spark.sparkContext.defaultParallelism,
      "fixture assumption: the driver file is a single row group")
    // exact same bag of rows (hash of sorted ids + texts)
    val a = floored.select(col("doc_id"), col("text")).orderBy("doc_id")
      .collect().toSeq
    val b = raw.select(col("doc_id"), col("text")).orderBy("doc_id")
      .collect().toSeq
    assert(a == b)
  }

  test("the floor is the guarded exchange, and only documents has it") {
    val t = Tables(spark, TestSpark.Sf0001)
    val pDocs = t.documents.queryExecution.executedPlan.toString
    assert(pDocs.contains("REPARTITION_BY_NUM"),
      s"documents must carry the guarded floor locally:\n$pDocs")
    // the A/B-rejected tables stay on the plain scan (parScan pays only for kernel-heavy scans)
    for ((name, df) <- Seq("events" -> t.events, "lineitem" -> t.lineitem,
        "orders" -> t.orders, "embeddings" -> t.embeddings)) {
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("REPARTITION_BY_NUM"),
        s"$name must NOT be floored (A/B-rejected this round):\n${p.take(1000)}")
    }
  }
}
