package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.operators.AlsReplay

class AlsReplaySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // AlsReplay.factors eagerly localCheckpoints capped/it0/us1/it2 at
  // query-construction time — release after every test so the blocks
  // can't pin memory or leak into other suites' plans (the
  // PlanHygieneSpec lesson, per CLAUDE.md)
  override def withFixture(test: NoArgTest) =
    try super.withFixture(test)
    finally GraftSession.release(spark)

  test("halfSolve matches the closed-form 2x2 ridge solve by hand") {
    // items A=(1.0, 0), B=(0, 1.0) in centi; user rates A:2, B:4
    // x = (Y'Y + 0.1 I)^-1 Y'r = (2/1.1, 4/1.1) = (1.818.., 3.636..)
    val ratings = Seq((7L, 1L, 2L), (7L, 2L, 4L)).toDF("user_id", "item_id", "r")
    val items = Seq((1L, 100L, 0L), (2L, 0L, 100L)).toDF("item_id", "f1", "f2")
    val Array(u) = AlsReplay.halfSolve(ratings, items, "item_id", "user_id")
      .as[(Long, Long, Long)].collect()
    assert(u == ((7L, 182L, 364L)))
  }

  test("implicit halfSolve matches the hand-computed Hu-Koren system") {
    // items A=(1.0,0), B=(0,1.0) centi; user rates A:2, B:4; alpha=40,
    // lambda=0.1. True units: a = 1 + 40*2 + 0.1 = 81.1, d1 = (1+80)*1 = 81
    // -> x1 = 81/81.1 = 0.99877 -> 100 centi; x2 = 161/161.1 -> 100.
    val ratings = Seq((7L, 1L, 2L), (7L, 2L, 4L)).toDF("user_id", "item_id", "r")
    val items = Seq((1L, 100L, 0L), (2L, 0L, 100L)).toDF("item_id", "f1", "f2")
    val Array(u) = AlsReplay.halfSolveImplicit(ratings, items, "item_id", "user_id")
      .as[(Long, Long, Long)].collect()
    assert(u == ((7L, 100L, 100L)))
  }

  test("q_als_implicit on the fixture: 3 recs per user, ranks 1..3, bounded scores") {
    val df = SparkEntry.queries("q_als_implicit")(spark, TestSpark.Sf0001)
    val rows = df.select($"user_id", $"rank", $"score").as[(Long, Int, Long)].collect()
    assert(rows.nonEmpty)
    assert(rows.groupBy(_._1).values.forall(rs => rs.map(_._2).sorted.toSeq == Seq(1, 2, 3)))
    assert(rows.forall(r => math.abs(r._3) <= 320000L))
  }

  test("solve clamps to +-400 centi") {
    // one item with tiny factor, huge rating -> unclamped solve explodes
    val ratings = Seq((7L, 1L, 400L)).toDF("user_id", "item_id", "r")
    val items = Seq((1L, 100L, 0L)).toDF("item_id", "f1", "f2")
    val Array(u) = AlsReplay.halfSolve(ratings, items, "item_id", "user_id")
      .as[(Long, Long, Long)].collect()
    assert(u._2 == 400L) // floor(40000*100/(1000+10000)*1e4+.5) >> 400
  }

  test("capRatings keeps the strongest 20 per user, ties by item_id") {
    val ratings = (1L to 25L).map(i => (1L, i, if (i <= 5) 9L else 1L))
      .toDF("user_id", "item_id", "r")
    val kept = AlsReplay.capRatings(ratings).select($"item_id")
      .as[Long].collect().sorted
    assert(kept.length == 20)
    assert((1L to 5L).forall(kept.contains)) // the high-rated five survive
    assert(kept.takeRight(15).toSeq == (6L to 20L).toSeq) // then lowest item_id ties
  }

  test("initItemFactors is deterministic and bounded in [-100, 100]") {
    val items = (0L until 50L).toDF("item_id")
    val f = AlsReplay.initItemFactors(items).as[(Long, Long, Long)].collect()
    assert(f.length == 50)
    assert(f.forall(r => r._2.abs <= 100 && r._3.abs <= 100))
    val f2 = AlsReplay.initItemFactors(items).as[(Long, Long, Long)].collect()
    assert(f.sortBy(_._1).toSeq == f2.sortBy(_._1).toSeq)
    // not degenerate: some spread
    assert(f.map(_._2).distinct.length > 10)
  }

  test("recommend ranks by exact BIGINT dot, ties to smaller item_id") {
    val users = Seq((1L, 100L, 100L)).toDF("user_id", "f1", "f2")
    val items = Seq((10L, 50L, 50L), (11L, 50L, 50L), (12L, 200L, 0L))
      .toDF("item_id", "f1", "f2")
    val recs = AlsReplay.recommend(users, items, 3)
      .select($"rank", $"item_id", $"score").as[(Int, Long, Long)]
      .collect().sortBy(_._1)
    assert(recs.toSeq == Seq((1, 12L, 20000L), (2, 10L, 10000L), (3, 11L, 10000L)))
  }

  test("q_als_det on the fixture: 3 recs per user, ranks 1..3, bounded scores") {
    val df = SparkEntry.queries("q_als_det")(spark, TestSpark.Sf0001)
    val rows = df.select($"user_id", $"rank", $"score").as[(Long, Int, Long)].collect()
    assert(rows.nonEmpty)
    val byUser = rows.groupBy(_._1)
    assert(byUser.values.forall(rs => rs.map(_._2).sorted.toSeq == Seq(1, 2, 3)))
    // factors clamp at +-400 centi -> |score| <= 2 * 400 * 400
    assert(rows.forall(r => math.abs(r._3) <= 320000L))
  }
}
