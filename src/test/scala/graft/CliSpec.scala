package graft

import java.nio.file.Files

import org.apache.spark.graftbridge.ListenerBus
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.{CompareSpellings, Preprocess, TrainIntent}

class CliSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val CsvHeader =
    "event_time,event_type,product_id,category_id,category_code,brand,price,user_id,user_session"

  /** A reference-schema CSV of `rows` under a fresh directory; returns
    * (csv path, output path).
    */
  private def csvFixture(rows: Seq[String]): (String, String) = {
    val dir = Files.createTempDirectory("graft-cli")
    val csv = dir.resolve("events.csv")
    Files.write(csv, (CsvHeader +: rows).mkString("\n").getBytes)
    (csv.toString, dir.resolve("features").toString)
  }

  private val FiveEvents = Seq(
    "2019-10-01 10:00:00 UTC,view,1,10,electronics.phone,apple,100.0,7,sA",
    "2019-10-01 10:01:00 UTC,cart,1,10,electronics.phone,apple,100.0,7,sA",
    "2019-10-01 10:02:00 UTC,purchase,1,10,,apple,100.0,7,sA",
    "2019-10-01 10:03:00 UTC,view,2,11,,samsung,50.0,7,sA", // post-purchase: cut
    "2019-10-01 11:00:00 UTC,view,3,12,apparel,,25.0,8,sB"
  )

  private val FeatureColumns = Seq("user_session", "label", "view_count", "cart_count",
    "session_duration", "avg_price", "max_price", "unique_items")

  test("Preprocess CLI: reference-schema CSV → leakage-free features parquet") {
    val (csv, out) = csvFixture(FiveEvents)
    val n = Preprocess.run(spark, csv, out)
    assert(n == 2)
    val f = spark.read.parquet(out).collect()
      .map(r => r.getAs[String]("user_session") -> r).toMap
    assert(f("sA").getAs[Int]("label") == 1)
    assert(f("sA").getAs[Long]("view_count") == 1) // leaked view excluded
    assert(f("sA").getAs[Long]("session_duration") == 120)
    assert(f("sB").getAs[Int]("label") == 0)
  }

  test("Preprocess runs two Spark jobs, the map and the write, and no read-back") {
    val (csv, out) = csvFixture(FiveEvents)
    Preprocess.run(spark, csv, out) // warm: the same code paths, compiled
    var n = -1L
    val jobs = ListenerBus.countJobs(spark.sparkContext) { n = Preprocess.run(spark, csv, out) }
    assert(n == 2L && spark.read.parquet(out).count() == 2L)
    assert(jobs == 2, s"$jobs Spark jobs")
  }

  test("Preprocess on a header-only CSV writes a readable, empty features parquet") {
    val (csv, out) = csvFixture(Nil)
    assert(Preprocess.run(spark, csv, out) == 0L)
    val back = spark.read.parquet(out)
    assert(back.count() == 0L)
    assert(back.columns.toSeq == FeatureColumns)
  }

  test("TrainIntent CLI: features parquet → metrics + saved model") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-cli-train")
    val features = spark.range(2000).select(
      ($"id" % 2).cast("int").as("label"),
      (when($"id" % 2 === 1, 9.0).otherwise(1.0) + rand(3)).as("view_count"),
      (when($"id" % 2 === 1, 3.0).otherwise(0.0)).as("cart_count"),
      (when($"id" % 2 === 1, 500.0).otherwise(50.0)).as("session_duration"),
      lit(10.0).as("avg_price"),
      lit(20.0).as("max_price"),
      lit(2.0).as("unique_items")
    )
    val in = dir.resolve("features").toString
    features.write.parquet(in)
    val modelPath = dir.resolve("model").toString
    val m = TrainIntent.run(spark, in, Some(modelPath), numTrees = 10, maxDepth = 4)
    assert(m.auc > 0.9)
    assert(Files.exists(dir.resolve("model")))
    // model round-trips
    val loaded = org.apache.spark.ml.classification.RandomForestClassificationModel.load(modelPath)
    assert(loaded.getNumTrees == 10)
  }

  test("CompareSpellings: cross-framework winner table, quality metrics tie") {
    val Seq(w1, j1) = CompareSpellings.runMl(spark, TestSpark.Sf0001)
    assert(w1.rows == j1.rows)
    // identical features + same seed → quality must tie at the reference's
    // 0.01 threshold (the table's whole point: only plan cost may differ)
    assert(math.abs(w1.metrics.auc - j1.metrics.auc) < 0.01)
    assert(math.abs(w1.metrics.f1 - j1.metrics.f1) < 0.01)
    val rows = CompareSpellings.winnerTable(w1, j1)
    assert(rows.map(_.metric) == Seq("AUC", "F1-Score", "Preprocessing (sec)",
      "Training (sec)", "Total (sec)"))
    assert(rows.take(2).forall(_.winner == "Tie"))
    val table = CompareSpellings.render(w1, j1, rows)
    assert(table.contains("| AUC |") && table.contains("| winner |"))
  }
}
