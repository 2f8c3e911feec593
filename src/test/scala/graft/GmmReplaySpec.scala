package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GmmReplay

/** GmmReplay vs an INDEPENDENT plain-collections replica of the whole
  * determinism contract — integer-micros coordinates, md5 seeds, the
  * 16-squaring pseudo-exp kernel, fixed-cid-order denominators,
  * micro-quantized responsibilities, integer M-step — full soft-assignment
  * equality on a two-blob synthetic, plus the soft-clustering sanity
  * properties.
  */
final class GmmReplaySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def pexp(x: Double): Double = {
    var p = 1.0d + x / 65536.0d
    var i = 0
    while (i < 16) { p = p * p; i += 1 }
    p
  }

  /** Independent replica of softAssignments. */
  private def naive(
      pts: Seq[(Long, Array[Float])],
      d: Int,
      k: Int,
      rounds: Int,
      sigmaSq: Double): Map[Long, (Long, Long)] = {
    val twoSig = 2.0d * sigmaSq * 1.0e12d
    val q = pts.map { case (id, v) =>
      id -> v.take(d).map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
    }
    var centers: Seq[(Long, Long, Array[Long])] = q
      .sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(k).zipWithIndex
      .map { case ((_, xq), i) => (i.toLong, 1000000L / k, xq) }
    def respond(xq: Array[Long]): Seq[(Long, Long)] = {
      val nums = centers.map { case (cid, piq, mu) =>
        val d2 = mu.zip(xq).map { case (a, b) => (a - b) * (a - b) }.sum
        val x = math.max(-d2.toDouble / twoSig, -30.0d)
        cid -> (piq.toDouble * pexp(x))
      }
      // fixed left-assoc order over ascending cid (centers stay cid-sorted)
      val den = nums.map(_._2).reduceLeft(_ + _)
      nums.map { case (cid, num) =>
        cid -> math.floor(num / den * 1000000.0d + 0.5d).toLong
      }
    }
    for (_ <- 0 until rounds) {
      val resps = q.map { case (id, xq) => (id, xq, respond(xq)) }
      val w = resps.flatMap(_._3).groupBy(_._1).map { case (c, rs) =>
        c -> rs.map(_._2).sum
      }
      val grand = w.values.sum
      centers = centers.flatMap { case (cid, _, _) =>
        val wc = w(cid)
        if (wc == 0L) None
        else {
          val mu = Array.tabulate(d) { pos =>
            val sx = resps.map { case (_, xq, rr) =>
              rr.find(_._1 == cid).get._2 * xq(pos)
            }.sum
            math.floor(sx.toDouble / wc.toDouble + 0.5).toLong
          }
          Some((cid, wc * 1000000L / grand, mu))
        }
      }
    }
    q.map { case (id, xq) =>
      val best = respond(xq).maxBy { case (cid, r) => (r, -cid) }
      id -> (best._1, best._2)
    }.toMap
  }

  private val d = 4
  private val blobs: Seq[(Long, Array[Float])] =
    (1L to 20L).map(i => i -> Array(0.1f + 0.001f * i, 0.2f, -0.1f, 0.05f)) ++
      (21L to 40L).map(i => i -> Array(-0.4f + 0.001f * i, -0.3f, 0.3f, -0.2f))

  test("soft assignments match the independent naive replica exactly") {
    import spark.implicits._
    val df = blobs.toDF("vec_id", "embedding")
    val got = GmmReplay
      .softAssignments(spark, df, "embedding", d, k = 2, rounds = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got === naive(blobs, d, k = 2, rounds = 2, sigmaSq = 0.25d))
  }

  test("well-separated blobs get confident, cluster-separating responsibilities") {
    import spark.implicits._
    val df = blobs.toDF("vec_id", "embedding")
    val got = GmmReplay
      .softAssignments(spark, df, "embedding", d, k = 2, rounds = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === 40)
    // each blob maps to one cluster
    val byBlob = got.groupBy { case (id, _, _) => id <= 20L }
      .map { case (b, rows) => b -> rows.map(_._2).distinct }
    assert(byBlob.values.forall(_.length === 1))
    assert(byBlob(true) !== byBlob(false))
    // cross-blob d² ≈ 0.7 vs 2σ² = 0.5 gives pexp ≈ 0.24 for the far
    // center: the winning responsibility is decisively majority (and
    // micro-units are bounded by 1e6)
    assert(got.forall { case (_, _, r) => r > 600000L && r <= 1000000L })
  }

  test("deterministic across runs") {
    import spark.implicits._
    val df = blobs.toDF("vec_id", "embedding")
    def run() = GmmReplay
      .softAssignments(spark, df, "embedding", d, k = 2, rounds = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(run() === run())
  }

  test("an empty input returns the empty assignment, as the oracle does") {
    import spark.implicits._
    val df = blobs.toDF("vec_id", "embedding")
    def run(in: org.apache.spark.sql.DataFrame) =
      GmmReplay.softAssignments(spark, in, "embedding", d, k = 2, rounds = 2)
    val out = run(df.where(lit(false)))
    assert(out.collect().isEmpty)
    assert(out.schema.map(f => f.name -> f.dataType) == run(df).schema.map(f => f.name -> f.dataType))
  }
}
