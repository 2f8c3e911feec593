package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.SgdReplay

class SgdReplaySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // separable fixture: label 1 rows have high x-features, label 0 low,
  // deterministic interleaving — no RNG anywhere
  private def fixture = (1 to 200).map { i =>
    val label = i % 2
    val base = if (label == 1) 80.0 else 20.0
    (s"s$i", label.toLong, base + (i % 7), base * 2 + (i % 5), base / 2 + (i % 3))
  }.toDF("id", "label", "f1", "f2", "f3")

  test("Spark aggregate fit equals the naive driver-side integer loop exactly") {
    val cols = Seq("f1", "f2", "f3")
    val q = SgdReplay.quantize(fixture, cols, Seq("id", "label"))
    val m = SgdReplay.fit(q, 3, epochs = 4)

    // naive replay on collected rows: same integer-micro discipline, scala
    // loops instead of Spark aggregates — must agree to the last bit
    val rows = q.select($"label", $"x0", $"x1", $"x2").collect()
      .map(r => (r.getLong(0), Array(r.getLong(1), r.getLong(2), r.getLong(3))))
    var w = Array(0L, 0L, 0L); var b = 0L
    for (_ <- 1 to 4) {
      val g = Array(0L, 0L, 0L); var gb = 0L
      rows.foreach { case (y, x) =>
        val t = b * 1000000L + (0 until 3).map(i => w(i) * x(i)).sum
        val z = t.toDouble / 1.0e12
        val p = 0.5 + 0.5 * z / (1.0 + math.abs(z))
        val gq = math.floor((p - y.toDouble) * 1000000.0 + 0.5).toLong
        (0 until 3).foreach(i => g(i) += gq * x(i)); gb += gq
      }
      val n = rows.length.toDouble
      (0 until 3).foreach(i => w(i) -= math.floor(g(i).toDouble / (n * 1000000.0) + 0.5).toLong)
      b -= math.floor(gb.toDouble / n + 0.5).toLong
    }
    assert(m.weights == w.toSeq && m.bias == b)
  }

  test("partition-order invariance: repartition(7) yields the identical model and scores") {
    val cols = Seq("f1", "f2", "f3")
    val q1 = SgdReplay.quantize(fixture, cols, Seq("id", "label"))
    val q2 = SgdReplay.quantize(fixture.repartition(7), cols, Seq("id", "label"))
    val m1 = SgdReplay.fit(q1, 3, epochs = 4)
    val m2 = SgdReplay.fit(q2, 3, epochs = 4)
    assert(m1 == m2)
    val s1 = q1.select($"id", SgdReplay.scoreMicros(m1, 3).as("s")).as[(String, Long)].collect().toMap
    val s2 = q2.select($"id", SgdReplay.scoreMicros(m2, 3).as("s")).as[(String, Long)].collect().toMap
    assert(s1 == s2)
  }

  test("trained scores separate the classes on separable data") {
    val cols = Seq("f1", "f2", "f3")
    val q = SgdReplay.quantize(fixture, cols, Seq("id", "label")).cache()
    val m = SgdReplay.fit(q, 3, epochs = 4)
    val byLabel = q.select($"label", SgdReplay.scoreMicros(m, 3).as("s"))
      .groupBy($"label").agg(avg($"s").as("mean_s"))
      .as[(Long, Double)].collect().toMap
    q.unpersist()
    // label-1 sessions must score decisively higher; scores stay in [0, 1e6]
    assert(byLabel(1L) > byLabel(0L) + 100000.0, byLabel.toString)
    assert(byLabel.values.forall(v => v >= 0.0 && v <= 1000000.0))
  }

  test("constant features quantize to zero and never move their weight") {
    val df = Seq(("a", 1L, 5.0, 10.0), ("b", 0L, 5.0, 20.0), ("c", 1L, 5.0, 30.0))
      .toDF("id", "label", "cst", "var")
    val q = SgdReplay.quantize(df, Seq("cst", "var"), Seq("id", "label"))
    assert(q.select(sum(abs($"x0"))).as[Long].collect().head == 0L)
    val m = SgdReplay.fit(q, 2, epochs = 3)
    assert(m.weights.head == 0L) // gradient of an all-zero column is zero
  }

  test("an empty input quantizes, keeps the start model and scores no row") {
    val cols = Seq("f1", "f2", "f3")
    val q = SgdReplay.quantize(fixture.where(lit(false)), cols, Seq("id", "label"))
    val m = SgdReplay.fit(q, 3, epochs = 4)
    assert(m == SgdReplay.QModel(Seq(0L, 0L, 0L), 0L))
    assert(q.select($"id", SgdReplay.scoreMicros(m, 3)).collect().isEmpty)
  }

  test("an all-null feature quantizes to zero, as the oracle reads its null bounds") {
    val cols = Seq("f1", "f2", "f3")
    val q = SgdReplay.quantize(fixture.withColumn("f2", lit(null).cast("double")), cols,
      Seq("id", "label"))
    assert(q.filter($"x1" =!= 0L).count() == 0L && q.count() == 200L)
    val m = SgdReplay.fit(q, 3, epochs = 4)
    assert(m.weights(1) == 0L && m.weights(0) != 0L)
  }
}
