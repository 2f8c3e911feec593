package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.BradleyTerry

/** Bradley–Terry MM fit: contest construction rules, win-matrix
  * orientation, the analytic 2-item fixed point (p_A/p_B → W_A/W_B), the
  * zero-win clamp, and bit-for-bit determinism across runs.
  */
final class BradleyTerrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs(rows: (Long, String, Long)*) = {
    import spark.implicits._
    rows.map { case (id, s, n) => (id, s, "t", n) }
      .toDF("doc_id", "source", "text", "n_chars")
  }

  test("contests: cross-source pairs only, longer doc wins, ties drop") {
    val d = docs(
      (0L, "A", 10L), (1L, "B", 5L),   // A beats B
      (2L, "B", 9L), (3L, "A", 4L),    // B beats A
      (4L, "A", 7L), (5L, "A", 3L),    // same source: no game
      (6L, "A", 6L), (7L, "B", 6L))    // tie length: no game
    val c = BradleyTerry.contests(d).collect().map(r => (r.getString(0), r.getString(1)))
    assert(c.sorted.toSeq === Seq(("A", "B"), ("B", "A")))
  }

  test("2-item MM converges to the win-ratio fixed point") {
    // A beats B twice, B beats A once -> p_A/p_B -> 2 (Hunter 2004, k=2:
    // p_A = W_A/(n/(p_A+p_B)) so p_A/p_B = W_A/W_B at the fixed point)
    val d = docs(
      (0L, "A", 10L), (1L, "B", 5L),
      (2L, "A", 10L), (3L, "B", 5L),
      (4L, "B", 10L), (5L, "A", 5L))
    val got = BradleyTerry.fit(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("A").getAs[Long]("games") === 3L)
    assert(got("A").getAs[Long]("wins") === 2L)
    assert(got("B").getAs[Long]("wins") === 1L)
    val ratio = got("A").getAs[Long]("strength_micros").toDouble /
      got("B").getAs[Long]("strength_micros").toDouble
    assert(math.abs(ratio - 2.0) < 0.01, s"ratio $ratio")
  }

  test("an item that never wins clamps to >= 1 micro, never 0 or division error") {
    val d = docs(
      (0L, "A", 10L), (1L, "B", 5L),
      (2L, "A", 10L), (3L, "B", 5L))
    val got = BradleyTerry.fit(spark, d).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("strength_micros")).toMap
    assert(got("B") >= 1L)
    assert(got("A") > got("B"))
  }

  test("empty docs, or no cross-source contest, fit to the empty frame") {
    val cols = Seq("source", "games", "wins", "strength_micros")
    for (d <- Seq(docs(), docs((0L, "A", 10L), (1L, "A", 5L)))) {
      val got = BradleyTerry.fit(spark, d)
      assert(got.columns.toSeq === cols)
      assert(got.collect().isEmpty)
    }
  }

  test("fit is deterministic across invocations") {
    val d = docs(
      (0L, "A", 10L), (1L, "B", 5L),
      (2L, "C", 9L), (3L, "A", 4L),
      (4L, "B", 7L), (5L, "C", 3L),
      (6L, "C", 8L), (7L, "B", 2L))
    val a = BradleyTerry.fit(spark, d).collect().map(_.toString).sorted.toSeq
    val b = BradleyTerry.fit(spark, d).collect().map(_.toString).sorted.toSeq
    assert(a === b)
  }
}
