package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expressions.PairCombos

class PairCombosSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def viaExplode(df: DataFrame): Seq[(Long, Long)] =
    df.select(explode(col("docs")).as("src"), col("docs"))
      .select(col("src"), explode(col("docs")).as("dst"))
      .filter(col("dst") > col("src"))
      .as[(Long, Long)].collect().toSeq

  private def viaKernel(df: DataFrame): Seq[(Long, Long)] =
    df.select(explode(PairCombos.pair_combos(col("docs"))).as("p"))
      .select(col("p.src"), col("p.dst"))
      .as[(Long, Long)].collect().toSeq

  test("bag-identical to the double-explode + strict filter spelling") {
    val rnd = new scala.util.Random(13)
    val rows: Seq[(Long, Seq[Long])] = (1L to 200L).map { i =>
      val n = rnd.nextInt(8)
      // small value range so duplicate values occur within one list
      (i, Seq.fill(n)(rnd.nextInt(6).toLong + 100L))
    } ++ Seq((900L, Seq.empty[Long]), (901L, Seq(7L)), (902L, Seq(7L, 7L)))
    val df = rows.toDF("id", "docs")
    val exp = viaExplode(df).groupBy(identity).view.mapValues(_.size).toMap
    val got = viaKernel(df).groupBy(identity).view.mapValues(_.size).toMap
    assert(got == exp)
  }

  test("null elements and null arrays match the explode spelling's drops") {
    val df = Seq(
      (1L, Some(Seq(Some(1L), None, Some(3L)))),
      (2L, None),
      (3L, Some(Seq(Option.empty[Long], Option.empty[Long])))
    ).toDF("id", "docs")
    val exp = viaExplode(df).groupBy(identity).view.mapValues(_.size).toMap
    val got = viaKernel(df).groupBy(identity).view.mapValues(_.size).toMap
    assert(got == exp)
    assert(got == Map((1L, 3L) -> 1)) // the only pair with both sides non-null
  }

  test("pairs come out (min, max) regardless of list order") {
    val df = Seq((1L, Seq(9L, 2L, 5L))).toDF("id", "docs")
    assert(viaKernel(df).toSet == Set((2L, 9L), (5L, 9L), (2L, 5L)))
  }

  test("a list of 46 342 elements, whose pair count passes Int.MaxValue, still evaluates") {
    val n = 46342
    val docs: Seq[Option[Long]] = Seq.tabulate(n) {
      case 0                  => Some(1L)
      case i if i == n / 2    => Some(2L)
      case i if i == n - 1    => Some(3L)
      case _                  => None
    }
    val df = Seq((1L, docs)).toDF("id", "docs")
    assert(viaKernel(df).toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }
}
