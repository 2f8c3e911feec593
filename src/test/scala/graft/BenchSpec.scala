package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The Bench contract: the one JSON line the round driver parses (keys,
  * their order, number formats) and the per-query hygiene — after a
  * persist-based (q_kcore) and a localCheckpoint-based (q_pagerank) query
  * no block stays pinned.
  */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("one JSON line, driver keys in order, nothing failed, nothing left pinned") {
    val line = Bench.run(spark, TestSpark.Sf0001, Seq("q_kcore", "q_pagerank"),
      reps = 1, medTop = 1, medReps = 1)
    assert(!line.contains('\n'))
    val doc = new ObjectMapper().readTree(line)
    assert(doc.fieldNames().asScala.toSeq == Seq("metric", "value", "unit", "timing",
      "queries", "failed", "failed_queries", "medians", "median_reps", "sf"))
    assert(doc.get("failed").asInt == 0, line)
    assert(doc.get("failed_queries").isEmpty, line)
    assert(doc.get("queries").fieldNames().asScala.toSeq == Seq("q_kcore", "q_pagerank"))
    assert(doc.get("medians").size == 1)
    assert(doc.get("median_reps").asInt == 1)
    assert(doc.get("sf").asText == TestSpark.Sf0001)
    // every timing is printed with exactly three decimals
    assert("""[:]\d+\.\d{3}[,}]""".r.findAllIn(line).size == 4, line)
    val perQuery = doc.get("queries").elements().asScala.map(_.asDouble).sum
    assert(math.abs(doc.get("value").asDouble - perQuery) < 0.0015, line)

    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty)
  }
}
