package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.WeightedSample
import graft.ml.Undersample

class WeightedSampleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Reference arithmetic: the same md5/48-bit/-ln(u)/w race in plain Scala. */
  private def refKey(id: Long, w: Double): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(id.toString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    val v = java.lang.Long.parseLong(hex.substring(0, 12), 16)
    -math.log((v + 0.5) / 281474976710656.0) / w
  }

  test("membership matches the closed-form race arithmetic exactly") {
    val rows = (1L to 200L).map(i => (i, "g", if (i % 2 == 0) 3.0 else 1.0))
    val got = WeightedSample
      .samplePerGroup(rows.toDF("id", "g", "w"), "g", "id", "w", 30)
      .select($"id", $"es_rank").as[(Long, Long)].collect().toMap
    val expected = rows.sortBy { case (i, _, w) => (refKey(i, w), i) }
      .take(30).zipWithIndex.map { case ((i, _, _), r) => i -> (r + 1L) }.toMap
    assert(got == expected)
  }

  test("heavier rows win proportionally more often") {
    val rows = (1L to 2000L).map(i => (i, "g", if (i % 2 == 0) 3.0 else 1.0))
    val kept = WeightedSample
      .samplePerGroup(rows.toDF("id", "g", "w"), "g", "id", "w", 400)
      .select($"id").as[Long].collect()
    assert(kept.length == 400)
    val heavy = kept.count(_ % 2 == 0)
    val light = kept.length - heavy
    // exact without-replacement expectation is between 2:1 and 3:1 here;
    // the draw is deterministic so this never flakes
    assert(heavy > 2 * light, s"heavy=$heavy light=$light")
  }

  test("membership is deterministic for any partitioning") {
    val df = (1L to 500L).map(i => (i, s"s${i % 4}", 1.0 + (i % 7))).toDF("id", "g", "w")
    val expected = WeightedSample.samplePerGroup(df, "g", "id", "w", 25)
      .select($"id").as[Long].collect().toSet
    for (p <- Seq(1, 5)) {
      val got = WeightedSample.samplePerGroup(df.repartition(p), "g", "id", "w", 25)
        .select($"id").as[Long].collect().toSet
      assert(got == expected, s"partitions=$p")
    }
  }

  test("null id or weight is excluded from the draw in BOTH paths") {
    val df = Seq(
      (Option(1L), "g", Option(1.0)),
      (Option.empty[Long], "g", Option(1.0)), // null id
      (Option(3L), "g", Option.empty[Double]) // null weight
    ).toDF("id", "g", "w")
    // n = 3 > valid rows: without the exclusion contract the null rows
    // would be kept (null es_key even sorts NULLS FIRST in the window)
    val win = WeightedSample.samplePerGroup(df, "g", "id", "w", 3)
      .select($"id").as[Option[Long]].collect().toSet
    val heap = WeightedSample.samplePerGroupAtScale(df, "g", "id", "w", 3)
      .select($"id").as[Option[Long]].collect().toSet
    assert(win == Set(Some(1L)) && heap == win)
  }

  test("zero weight is rejected by the math (infinite key never wins)") {
    // w -> 0 drives -ln(u)/w -> +inf: a zero-weight row must never be kept
    // while positive-weight rows remain
    val df = Seq((1L, "g", 0.0), (2L, "g", 1.0), (3L, "g", 1.0)).toDF("id", "g", "w")
    val kept = WeightedSample.samplePerGroup(df, "g", "id", "w", 2)
      .select($"id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L))
  }

  test("bounded-heap scale path selects the identical membership and ranks") {
    val df = (1L to 800L).map(i => (i, s"s${i % 5}", 0.5 + (i % 11))).toDF("id", "g", "w")
    val window = WeightedSample.samplePerGroup(df, "g", "id", "w", 30)
      .select($"g", $"id", $"es_rank").as[(String, Long, Long)].collect().toSet
    for (p <- Seq(1, 7)) {
      val heap = WeightedSample.samplePerGroupAtScale(df.repartition(p), "g", "id", "w", 30)
        .select($"g", $"id", $"es_rank").as[(String, Long, Long)].collect().toSet
      assert(heap == window, s"partitions=$p")
    }
  }

  test("min_k_by is exact under partial aggregation (groups smaller than k too)") {
    val df = (1L to 100L).map(i => (i, if (i <= 3) "tiny" else "big")).toDF("id", "g")
    val got = df.repartition(13)
      .groupBy($"g")
      .agg(graft.expressions.MinKByAgg.min_k_by($"id", $"id", 10).as("t"))
      .select($"g", expr("transform(t, s -> s.id)").as("ids"))
      .as[(String, Seq[Long])].collect().toMap
    assert(got("tiny") == (1L to 3L))
    assert(got("big") == (4L to 13L))
  }

  test("balanceDeterministic keeps exactly the minority count per class") {
    val df = ((1 to 10).map(i => (s"s$i", 0)) ++ (1 to 4).map(i => (s"p$i", 1)))
      .toDF("user_session", "label")
    val kept = Undersample.balanceDeterministic(df)
      .select($"user_session", $"label").as[(String, Int)].collect()
    assert(kept.count(_._2 == 0) == 4 && kept.count(_._2 == 1) == 4)
    // membership is stable across partitionings
    val again = Undersample.balanceDeterministic(df.repartition(7))
      .select($"user_session").as[String].collect().toSet
    assert(again == kept.map(_._1).toSet)
  }
}
