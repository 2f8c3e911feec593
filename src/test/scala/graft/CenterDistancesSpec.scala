package graft

import org.apache.spark.graftbridge.ListenerBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions.{centerDistances, hyperplaneBucketLong, sqDistLong}
import graft.operators.{KMeansReplay, Similarity}
import graft.sources.Tables

/** The replay family scores a point against broadcast centers and
  * hyperplanes in one projection ([[centerDistances]],
  * [[hyperplaneBucketLong]]). These pin that projection against the
  * cross-join / exploded-aggregate spellings it replaced, on input with a
  * null element, and pin what it buys: no class compiled per round, and
  * the jobs per call.
  */
class CenterDistancesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val centers = Seq((0L, Seq(0L, 0L)), (1L, Seq(4L, 0L)), (2L, Seq(0L, 4L)))

  /** Points as `(vec_id, xq)`: ties (vec 2 is 2 from centers 0 and 1),
    * a null element (vec 4) and an all-null vector (vec 5).
    */
  private def pts: DataFrame = {
    import spark.implicits._
    Seq[(Long, Seq[Option[Long]])](
      (1L, Seq(Some(1L), Some(0L))), (2L, Seq(Some(2L), Some(0L))),
      (3L, Seq(Some(-3L), Some(5L))), (4L, Seq(Some(3L), None)), (5L, Seq(None, None)))
      .toDF("vec_id", "xq")
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.head.asInstanceOf[Long])

  /** The spellings the projection replaced: a cross join against the
    * center table, then a per-point aggregate.
    */
  private def crossJoined: DataFrame = {
    import spark.implicits._
    pts.crossJoin(broadcast(centers.toDF("cid", "cx")))
      .withColumn("dist", sqDistLong(col("xq"), col("cx")))
  }

  test("array_min of centerDistances is min(struct(dist, cid)), null elements included") {
    val before = crossJoined.groupBy("vec_id").agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid"), col("m.dist"))
    val after = pts.select(col("vec_id"), array_min(centerDistances(col("xq"), centers)).as("m"))
      .select(col("vec_id"), col("m.cid"), col("m.dist"))
    assert(rows(after) == rows(before))
    // ties go to the smaller cid; a null element gives every center a
    // null dist, and the null sorts first: cid 0
    assert(rows(after).map(_.tail) ==
      Seq(Seq(0L, 1L), Seq(0L, 4L), Seq(2L, 10L), Seq(0L, null), Seq(0L, null)))
  }

  test("array_min over the dists is the k-center min(d2), which skips nulls") {
    val before = crossJoined.groupBy("vec_id").agg(min(col("dist")))
    val after = pts.select(col("vec_id"),
      array_min(transform(centerDistances(col("xq"), centers), _("dist"))))
    assert(rows(after) == rows(before))
  }

  test("slice(sort_array(centerDistances)) is the IVF row_number probe order") {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))
    val before = crossJoined.withColumn("rk", row_number().over(w)).filter(col("rk") <= 2)
      .select(col("vec_id"), col("cid"))
    val after = pts.select(col("vec_id"),
      explode(slice(sort_array(centerDistances(col("xq"), centers)), 1, 2)).as("p"))
      .select(col("vec_id"), col("p.cid"))
    def pairs(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(pairs(after) == pairs(before))
    assert(pairs(after).filter(_._1 == 4L) == Seq((4L, 0L), (4L, 1L)))
  }

  test("hyperplaneBucketLong is the exploded sign aggregate; a null element clears every bit") {
    import spark.implicits._
    val planes = Seq(Seq(1L, 0L), Seq(0L, 1L), Seq(-1L, 1L))
    val table = planes.zipWithIndex.flatMap { case (p, b) =>
      p.zipWithIndex.map { case (s, j) => (b, j, s) } }.toDF("b", "pos", "s")
    val before = pts.select(col("vec_id"), posexplode(col("xq")).as(Seq("pos", "x")))
      .join(broadcast(table), Seq("pos"))
      .groupBy("vec_id", "b").agg(sum(col("s") * col("x")).as("proj"))
      .groupBy("vec_id")
      .agg(sum(when(col("proj") >= 0L, expr("shiftleft(CAST(1 AS BIGINT), b)"))
        .otherwise(0L)))
    val after = pts.select(col("vec_id"), hyperplaneBucketLong(col("xq"), planes))
    val (nulls, dense) = rows(after).partition(r => Set(4L, 5L)(r.head.asInstanceOf[Long]))
    assert(dense == rows(before).filterNot(r => Set(4L, 5L)(r.head.asInstanceOf[Long])))
    assert(dense.map(_(1)) == Seq(3L, 3L, 6L))
    // the exploded sum skipped the null (vec 4: projections 3, 0 and −3,
    // so bits 0 and 1); the kernel's dot is null, so no bit is set.
    // An all-null vector had no projection either way: bucket 0.
    assert(rows(before).filter(r => Set(4L, 5L)(r.head.asInstanceOf[Long])).map(_(1)) ==
      Seq(3L, 0L))
    assert(nulls.map(_(1)) == Seq(0L, 0L))
  }

  test("simhash near-dup pairs: a vector with a null element pairs with nothing") {
    import spark.implicits._
    val base = (0 until 16).map(i => Seq.tabulate(64)(j => math.sin(i * 7 + j).toFloat))
    val emb = (base.zipWithIndex.map { case (v, i) => (i.toLong, v.map(Option(_))) } ++
      Seq((100L, base(3).map(Option(_))),                      // twin of 3
        (101L, base(5).map(Option(_)).updated(10, None))))     // twin of 5, one null
      .toDF("vec_id", "embedding")
    val got = Similarity.simhashNearDupPairs(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((3L, 100L)))
    assert(!got.exists { case (a, b) => a == 101L || b == 101L })
  }

  test("centers are data: a second assignment run with other rounds compiles no class") {
    val emb = Tables(spark, TestSpark.Sf0001).embeddings
    try {
      KMeansReplay.assignments(spark, emb, "embedding", 64, 8, 2).collect()
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      KMeansReplay.assignments(spark, emb, "embedding", 64, 8, 3).collect()
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == before)
    } finally GraftSession.release(spark)
  }

  /** Spark jobs per warm call (build + collect at sf0.001). The cross-join
    * spellings ran 17, 40, 14 and 20: a shuffle per Lloyd or EM round and
    * per final assignment, and a broadcast per k-center round.
    */
  test("jobs per call of the replay clustering and IVF queries") {
    def jobs(q: String): Int =
      try ListenerBus.countJobs(spark.sparkContext) {
        SparkEntry.queries(q)(spark, TestSpark.Sf0001).collect()
      } finally GraftSession.release(spark)
    for ((q, n) <- Seq("q_kmeans_clusters" -> 9, "q_kcenter_coreset" -> 9,
        "q_gmm_soft" -> 6, "q_knn_ivf_det" -> 10)) {
      jobs(q) // warm: the first call also infers the table's schema
      assert(jobs(q) == n, q)
    }
  }
}
