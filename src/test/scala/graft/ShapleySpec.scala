package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Shapley

class ShapleySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // attribution() eagerly localCheckpoints the rates frame — release the
  // blocks so they can't leak into other suites' plans (CLAUDE.md rule)
  override def withFixture(test: NoArgTest) =
    try super.withFixture(test)
    finally GraftSession.release(spark)

  // coalitions: {view}×2 (1 converts), {click}×1 (converts), ∅×1
  // (converts), {view,click,signup}×1 (converts) — hand-traceable rates
  // 500000 / 1e6 / 1e6 / 1e6
  private def events = Seq(
    (1L, "view"), (1L, "purchase"),
    (2L, "view"),
    (3L, "click"), (3L, "purchase"),
    (4L, "purchase"),
    (5L, "view"), (5L, "click"), (5L, "signup"), (5L, "purchase")
  ).toDF("user_id", "event_type")

  test("hand-traced 6-scaled Shapley values over observed coalitions") {
    val m = Shapley.attribution(spark, events).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // view: 2·(v1−v0) + 1·(v3−v2) + 1·(v5−v4) + 2·(v7−v6)
    //     = 2·(0.5−1)e6 + 1·(0−1e6) + 0 + 2·(1e6−0) = 0
    assert(m("view") == ((0L, 3L)), s"got ${m("view")}")
    // click: 2·(v2−v0) + 1·(v3−v1) + 1·(v6−v4) + 2·(v7−v5)
    //      = 0 + (0−0.5e6) + 0 + 2e6 = 1.5e6
    assert(m("click") == ((1500000L, 3L)))
    // signup: 2·(v4−v0) + 1·(v5−v1) + 1·(v6−v2) + 2·(v7−v3)
    //       = −2e6 − 0.5e6 − 1e6 + 2e6 = −1.5e6
    assert(m("signup") == ((-1500000L, 4L)))
  }

  test("a channel nobody touches attributes zero through observed-coalition marginals") {
    val noSignup = events.filter($"event_type" =!= "signup")
    val m = Shapley.attribution(spark, noSignup).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // user 5's coalition becomes {view, click}: signup's only observed
    // marginal is v(S)→v(S∪{signup}) with the ∪ side unobserved (0)
    assert(m.contains("signup"))
  }
}
