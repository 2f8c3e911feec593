package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{Heuristic, IntentModel, OnlineLogreg, Recommender, Undersample}

class MlSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("undersample balances classes to ≈1:1 (±10%)") {
    val skewed = spark.range(10000)
      .withColumn("label", when($"id" % 20 === 0, 1).otherwise(0))
    val balanced = Undersample.balance(skewed)
    val byLabel = balanced.groupBy("label").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val ratio = byLabel(0).toDouble / byLabel(1)
    assert(ratio > 0.9 && ratio < 1.1, s"ratio $ratio")
  }

  test("randomSplit 80/20 within ±3%") {
    val df = spark.range(20000).toDF("id")
    val Array(a, b) = df.randomSplit(Array(0.8, 0.2), 42L)
    val frac = a.count().toDouble / 20000
    assert(frac > 0.77 && frac < 0.83)
  }

  test("RF reaches AUC ≥ 0.9 on separable synthetic features") {
    val synth = spark.range(4000).select(
      (rand(1) * 10).as("noise"),
      ($"id" % 2).cast("int").as("label")
    ).select(
      $"label",
      (when($"label" === 1, 8.0).otherwise(1.0) + $"noise" * 0.3).as("view_count"),
      (when($"label" === 1, 3.0).otherwise(0.0) + $"noise" * 0.1).as("cart_count"),
      (when($"label" === 1, 600.0).otherwise(60.0) + $"noise" * 10).as("session_duration"),
      (when($"label" === 1, 50.0).otherwise(20.0)).as("avg_price"),
      (when($"label" === 1, 90.0).otherwise(30.0)).as("max_price"),
      (when($"label" === 1, 5.0).otherwise(1.0)).as("unique_items")
    )
    val (_, m) = IntentModel.trainEval(synth)
    assert(m.auc >= 0.9, s"AUC ${m.auc}")
    assert(m.f1 >= 0.8, s"F1 ${m.f1}")
  }

  test("feature importances sum to 1 and rank a real signal first") {
    val f = graft.SparkEntry.queries("q_session_features")(spark, TestSpark.Sf0001)
    val (model, _) = IntentModel.trainEval(f)
    val imps = IntentModel.featureImportances(model)
    assert(math.abs(imps.map(_._2).sum - 1.0) < 1e-9)
    assert(imps.head._2 > 0.0)
  }

  test("OnlineLogreg: first gradient step matches closed form") {
    val m = new OnlineLogreg(nFeatures = 2, lr = 0.1, miniBatch = 1)
    // first sample: scaler has n=1 → scaled x = 0 → p = sigmoid(bias=0) = 0.5
    m.partialFit(Array(1.0, 2.0), 1)
    // gradient on bias: p - y = -0.5 → bias += 0.05
    assert(math.abs(m.bias - 0.05) < 1e-12)
    assert(m.weights.forall(_ == 0.0)) // scaled inputs were 0
    assert(m.isFitted)
  }

  test("OnlineLogreg learns a separable rule and cold-start heuristic works") {
    val m = new OnlineLogreg(nFeatures = 2, lr = 0.5, miniBatch = 10)
    assert(m.coldStart(Array(0.0, 1.0)) == 0.7) // cart > 0
    assert(m.coldStart(Array(5.0, 0.0)) == 0.3) // views > 3
    assert(m.coldStart(Array(1.0, 0.0)) == 0.1)
    val rng = new scala.util.Random(7)
    (1 to 500).foreach { _ =>
      val y = rng.nextInt(2)
      val x = Array(rng.nextGaussian() + y * 4.0, rng.nextGaussian() - y * 4.0)
      m.partialFit(x, y)
    }
    assert(m.predictProba(Array(6.0, -6.0)) > 0.8)
    assert(m.predictProba(Array(-2.0, 2.0)) < 0.2)
    assert(m.recentAccuracy > 0.8)
  }

  test("OnlineLogreg save/load: restart resumes with identical predictions") {
    val dir = java.nio.file.Files.createTempDirectory("logreg").toString
    val path = s"$dir/model.txt"
    val m = new OnlineLogreg(nFeatures = 2, lr = 0.5, miniBatch = 10)
    val rng = new scala.util.Random(11)
    (1 to 200).foreach { _ =>
      val y = rng.nextInt(2)
      m.partialFit(Array(rng.nextGaussian() + y * 4.0, rng.nextGaussian() - y * 4.0), y)
    }
    m.save(path)
    val restored = OnlineLogreg.load(path)
    assert(restored.isFitted && restored.samplesSeen == m.samplesSeen)
    val probes = Seq(Array(6.0, -6.0), Array(-2.0, 2.0), Array(0.3, 0.7))
    probes.foreach(x => assert(restored.predictProba(x) == m.predictProba(x)))
    // loadOrNew: missing file → fresh model wired to snapshot there
    val fresh = OnlineLogreg.loadOrNew(s"$dir/none.txt", nFeatures = 2)
    assert(!fresh.isFitted && fresh.snapshotPath.contains(s"$dir/none.txt"))
  }

  test("OnlineLogreg auto-snapshots from flush once snapshotEvery is crossed") {
    val dir = java.nio.file.Files.createTempDirectory("logreg").toString
    val path = s"$dir/auto.txt"
    val m = OnlineLogreg.loadOrNew(path, nFeatures = 2, miniBatch = 10)
    m.snapshotEvery = 50
    val rng = new scala.util.Random(13)
    (1 to 60).foreach { _ =>
      val y = rng.nextInt(2)
      val x = Array(rng.nextGaussian() + y, rng.nextGaussian() - y)
      m.predictProba(x) // predictions drive the snapshot cadence
      m.partialFit(x, y)
    }
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
    val restored = OnlineLogreg.load(path)
    assert(restored.predictionsMade >= 50)
  }

  test("DistributedSgd learns a separable rule without collecting data") {
    import graft.ml.DistributedSgd
    val synth = spark.range(4000).select(
      ($"id" % 2).cast("int").as("label"),
      (when($"id" % 2 === 1, 4.0).otherwise(-4.0) + rand(5)).as("f0"),
      (when($"id" % 2 === 1, -3.0).otherwise(3.0) + rand(6)).as("f1")
    )
    val model = DistributedSgd.fit(synth, Seq("f0", "f1"), epochs = 30, lr = 1.0)
    assert(model.weights(0) > 0 && model.weights(1) < 0) // learned the signs
    val scored = synth.withColumn("p", model.scoringColumn(Seq($"f0", $"f1")))
    val acc = scored
      .filter((col("p") >= 0.5).cast("int") === col("label")).count().toDouble / 4000
    assert(acc > 0.95, s"accuracy $acc")
  }

  test("heuristic ladder thresholds") {
    val df = Seq((0, 0), (0, 5), (0, 10), (1, 0), (3, 0)).toDF("cart", "view")
    val scores = df.select(Heuristic.score($"cart", $"view").as("s")).as[Double].collect()
    assert(scores.sameElements(Array(0.05, 0.20, 0.35, 0.60, 0.85)))
  }

  test("ALS quality floor: Recall@10 beats the reference's published 0.0999 on planted genres") {
    // two disjoint item genres; every user interacts only inside one genre,
    // with 2 in-genre items held out — collaborative filtering must surface
    // in-genre items, so held-out recall has to clear the reference's own
    // published Spark number (Progress_report.pdf §3.2: Recall@10 = 0.0999)
    val rows = for {
      (userBase, itemBase) <- Seq((0, 0), (100, 100))
      u <- 0 until 30
      j <- 0 until 8
    } yield (userBase + u, itemBase + (u * 3 + j) % 20, j < 6) // j 6,7 → held out
    val all = rows.toDF("user", "item", "is_train")
    val train = all.filter($"is_train").select($"user", $"item", lit(5.0f).as("rating"))
    val heldOut = all.filter(!$"is_train").select($"user", $"item")
    val model = Recommender.train(train, rank = 8, maxIter = 10)
    val recall = Recommender.recallAtK(model, heldOut, k = 10)
    assert(recall >= 0.0999, s"Recall@10 $recall below the reference floor")
  }

  test("ALS trains and produces k recs per user") {
    val clicks = sources.Tables(spark, TestSpark.Sf0001).clickstream
      .withColumn("user_session", $"user_session") // user_session is numeric string here
    val inter = Recommender.interactions(clicks)
    val model = Recommender.train(inter, rank = 5, maxIter = 3)
    val recs = Recommender.recommend(model, 3)
    assert(recs.count() > 0)
    assert(recs.select(size($"recommendations")).as[Int].collect().forall(_ <= 3))
  }

  test("DistributedSgd: an empty input gives the untrained model, one row no null stats") {
    import graft.ml.DistributedSgd
    val df = spark.range(4).select(($"id" % 2).cast("int").as("label"),
      $"id".cast("double").as("f0"), lit(null).cast("double").as("f1"))
    val empty = DistributedSgd.fit(df.where(lit(false)), Seq("f0", "f1"), epochs = 3)
    assert(empty.weights.toSeq == Seq(0.0, 0.0) && empty.bias == 0.0)
    // one row: stddev_samp is null; an all-null feature: mean and stddev are
    val one = DistributedSgd.fit(df.limit(1), Seq("f0", "f1"), epochs = 3)
    assert(one.std.toSeq == Seq(0.0, 0.0) && one.weights.toSeq == Seq(0.0, 0.0))
    val all = DistributedSgd.fit(df, Seq("f0", "f1"), epochs = 3)
    assert(all.std(1) == 0.0 && all.weights(1) == 0.0 && all.weights(0) != 0.0)
  }
}
