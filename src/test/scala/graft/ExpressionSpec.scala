package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.MinKByAgg.min_k_by
import graft.expressions.TextSketches
import graft.ml.OnlineLogreg

class ExpressionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("min_k_by(-v, v, k): exact top-k with duplicates, combined across partitions") {
    val df = spark.range(0, 1000).repartition(8)
      .select(($"id" % 3).cast("string").as("g"), ($"id" % 97).cast("double").as("v"))
    val got = df.groupBy($"g").agg(min_k_by(-$"v", $"v", 4).as("topk"))
      .select($"g", expr("transform(topk, s -> s.id)"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    // values 0..96 repeat; per group the top distinct residues mod 97 present
    assert(got.values.forall(_.length == 4))
    got.values.foreach(s => assert(s.zip(s.tail).forall { case (a, b) => a >= b }))
    val all = df.filter($"g" === "0").select($"v").as[Double].collect().sorted.reverse.take(4)
    assert(got("0") == all.toSeq)
  }

  test("min_k_by: groups smaller than k return all values") {
    val df = Seq(("a", 1.0), ("a", 5.0), ("b", 2.0)).toDF("g", "v")
    val got = df.groupBy($"g").agg(min_k_by(-$"v", $"v", 10).as("t"))
      .select($"g", expr("transform(t, s -> s.id)"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(got("a") == Seq(5.0, 1.0) && got("b") == Seq(2.0))
  }

  /** (key bits, id) pairs of the `row_number() <= k` spelling per group,
    * in rank order — the result min_k_by must reproduce. Keys compare as
    * bit patterns, so -0.0 and 0.0 differ and NaN equals itself.
    */
  private def windowBottomK(df: DataFrame, k: Int): Map[String, Seq[(Long, String)]] =
    df.withColumn("rn", row_number().over(Window.partitionBy($"g").orderBy($"key", $"id")))
      .filter($"rn" <= k).orderBy($"rn")
      .select($"g", $"key", $"id".cast("string")).as[(String, Double, String)].collect()
      .groupBy(_._1).map { case (g, rs) => g -> rs.map(r => (bits(r._2), r._3)).toSeq }

  private def heapBottomK(df: DataFrame, k: Int): Map[String, Seq[(Long, String)]] =
    df.groupBy($"g").agg(min_k_by($"key", $"id", k).as("t"))
      .select($"g", explode($"t").as("s"))
      .select($"g", $"s.key", $"s.id".cast("string")).as[(String, Double, String)].collect()
      .groupBy(_._1).map { case (g, rs) => g -> rs.map(r => (bits(r._2), r._3)).toSeq }

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  test("min_k_by orders keys as Spark sorts doubles: -0.0 equals 0.0, NaN last") {
    val df = Seq((-0.0, 5L), (0.0, 3L), (Double.NaN, 1L), (Double.NaN, 0L),
      (-1.0, 9L), (Double.PositiveInfinity, 2L))
      .toDF("key", "id").withColumn("g", lit("g"))
    for (k <- 1 to 6) assert(heapBottomK(df, k) == windowBottomK(df, k), s"k = $k")
    assert(heapBottomK(df, 2)("g").map(_._2) == Seq("9", "3"))
  }

  test("min_k_by with a string payload equals the row_number spelling across 16 input partitions") {
    val rnd = new scala.util.Random(17)
    val rows = Seq.fill(4000) {
      (s"g${rnd.nextInt(7)}", rnd.nextInt(40) - 20.0, rnd.alphanumeric.take(1 + rnd.nextInt(3)).mkString)
    }
    val df = rows.toDF("g", "key", "id").repartition(16)
    for (k <- Seq(1, 25, 700)) assert(heapBottomK(df, k) == windowBottomK(df, k), s"k = $k")
  }

  test("SQL graft_min_k_by: DECIMAL and INT keys, DECIMAL, DATE and STRING payloads in SQL order") {
    GraftSession.tune(spark)
    spark.sql(
      """SELECT CAST(k AS DECIMAL(10, 2)) AS kd, CAST(k * 100 AS INT) AS ki,
        |       CAST(p AS DECIMAL(10, 2)) AS pd, date_add(DATE'2024-01-01', CAST(p AS INT)) AS pt,
        |       CAST(p AS STRING) AS ps
        |FROM VALUES (1.25, 7), (0.5, 3), (1.25, 2), (-3.0, 9), (0.5, 1), (2.0, 0) AS t(k, p)""".stripMargin)
      .createOrReplaceTempView("mkb_in")
    for (key <- Seq("kd", "ki"); id <- Seq("pd", "pt", "ps")) {
      val heap = spark.sql(s"SELECT transform(graft_min_k_by($key, $id, 4), s -> s.id) FROM mkb_in")
        .collect()(0).getSeq[Any](0)
      val sorted = spark.sql(s"SELECT $id FROM mkb_in ORDER BY $key, $id LIMIT 4")
        .collect().map(_.get(0)).toSeq
      assert(heap == sorted, s"key $key, id $id")
    }
    val err = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_min_k_by(kd, map(ps, pd), 2) FROM mkb_in").collect())
    assert(err.getMessage.contains("graft_min_k_by"), err.getMessage)
  }

  test("SQL registration: graft_simhash64 / graft_minhash_sig usable from SQL") {
    GraftSession.tune(spark)
    val r = spark.sql(
      "SELECT graft_simhash64('hello world') AS sh, size(graft_minhash_sig('a b c d e')) AS n")
      .collect()(0)
    assert(r.getInt(1) == 32)
    // consistent with the Column API
    val viaCol = Seq("hello world").toDF("t")
      .select(TextSketches.simhash64($"t")).as[Long].collect()(0)
    assert(r.getLong(0) == viaCol)
  }

  test("SQL registration: graft_fingerprint64 / graft_shingle_set usable from SQL") {
    GraftSession.tune(spark)
    val r = spark.sql(
      "SELECT graft_fingerprint64('hello world foo') AS fp, graft_shingle_set('a b c d') AS sh")
      .collect()(0)
    val viaCol = Seq("hello world foo").toDF("t")
      .select(graft.functions.TextFunctions.fingerprint($"t")).as[Long].collect()(0)
    assert(r.getLong(0) == viaCol)
    assert(r.getSeq[String](1) == Seq("a b c", "b c d"))
  }

  test("SQL registration: round-5 composition operators usable from SQL ≡ Column API") {
    GraftSession.tune(spark)
    val r = spark.sql(
      """SELECT graft_pii_redact('mail x@y.de at 1.2.3.4') AS red,
        |       graft_hash_bucket('hello') AS b,
        |       round(graft_dup_word_frac('a b a'), 6) AS dw""".stripMargin)
      .collect()(0)
    assert(r.getString(0) == "mail <EMAIL> at <IP>")
    assert(r.getInt(1) == 0x5d) // md5("hello") = 5d41...
    assert(r.getDouble(2) == 0.333333)
    // the SQL templates must agree with the Column-API spellings
    import graft.operators.{HashSplit, PiiScrub, Repetition}
    val c = Seq(("mail x@y.de at 1.2.3.4", "hello", "a b a")).toDF("p", "h", "d")
      .select(
        PiiScrub.redact($"p").as("red"),
        HashSplit.bucket($"h").as("b"),
        round(Repetition.dupFrac(Repetition.words($"d")), 6).as("dw"))
      .collect()(0)
    assert(c.getString(0) == r.getString(0))
    assert(c.getInt(1) == r.getInt(1))
    assert(c.getDouble(2) == r.getDouble(2))
  }

  test("SQL registration: graft_min_k_by / graft_freq_sketch / graft_bpe_merge_pair") {
    GraftSession.tune(spark)
    Seq(("a", 5.0), ("a", 1.0), ("b", 2.0), ("a", 9.0))
      .toDF("item", "v").createOrReplaceTempView("hh_in")
    val topk = spark.sql("SELECT transform(graft_min_k_by(-v, v, 2), s -> s.id) AS t FROM hh_in")
      .collect()(0).getSeq[Double](0)
    assert(topk == Seq(9.0, 5.0))
    val keys = spark.sql("SELECT map_keys(graft_freq_sketch(item, 1)) AS k FROM hh_in")
      .collect()(0).getSeq[String](0)
    assert(keys == Seq("a")) // 3 of 4 rows — survives k=1 by the MG guarantee
    val merged = spark.sql(
      "SELECT graft_bpe_merge_pair(array('l', 'o', 'w'), 'l', 'o') AS m")
      .collect()(0).getSeq[String](0)
    assert(merged == Seq("lo", "w"))
    // INT key and payload from SQL: the key is cast to DOUBLE where the
    // aggregate is built, the payload keeps its type
    val mkb = spark.sql(
      "SELECT transform(graft_min_k_by(CAST(v AS INT), CAST(v AS INT), 2), s -> s.id) AS t FROM hh_in")
      .collect()(0).getSeq[Int](0)
    assert(mkb == Seq(1, 2))
  }

  test("native kernels: null input → null; interpreted eval matches codegen") {
    import graft.expressions.{Fingerprint64, ShingleSet}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    // interpreted path (expression.eval) against the codegen'd query result
    val fpInterp = Fingerprint64(Literal(UTF8String.fromString("hello world foo"),
      org.apache.spark.sql.types.StringType)).eval(null)
    val fpCodegen = Seq("hello world foo").toDF("t")
      .select(graft.functions.TextFunctions.fingerprint($"t")).as[Long].collect()(0)
    assert(fpInterp == fpCodegen)
    assert(Fingerprint64(Literal(null, org.apache.spark.sql.types.StringType)).eval(null) == null)
    assert(ShingleSet(Literal(null, org.apache.spark.sql.types.StringType), 3).eval(null) == null)
  }

  test("OnlineLogreg.scoringColumn matches driver-side predictProba") {
    val m = new OnlineLogreg(nFeatures = 2, lr = 0.5, miniBatch = 10)
    val rng = new scala.util.Random(11)
    (1 to 300).foreach { _ =>
      val y = rng.nextInt(2)
      m.partialFit(Array(rng.nextGaussian() + y * 3.0, rng.nextGaussian() - y * 3.0), y)
    }
    val df = Seq((4.0, -4.0), (-1.0, 1.0), (0.5, 0.5)).toDF("f0", "f1")
    val distributed = df.select(m.scoringColumn(Seq($"f0", $"f1")).as("p")).as[Double].collect()
    val driverSide = Seq(Array(4.0, -4.0), Array(-1.0, 1.0), Array(0.5, 0.5))
      .map(m.predictProba)
    distributed.zip(driverSide).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }

  test("OnlineLogreg.scoringColumn cold-start matches heuristic before first fit") {
    val m = new OnlineLogreg(nFeatures = 2)
    val df = Seq((0.0, 1.0), (5.0, 0.0), (1.0, 0.0)).toDF("f0", "f1")
    val p = df.select(m.scoringColumn(Seq($"f0", $"f1")).as("p")).as[Double].collect()
    assert(p.sameElements(Array(0.7, 0.3, 0.1)))
  }
}
