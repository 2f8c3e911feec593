package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextRank

class TextRankSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // keywords() -> weightedRanks localCheckpoints per round — release the
  // blocks so they can't leak into other suites' plans (CLAUDE.md rule)
  override def withFixture(test: NoArgTest) =
    try super.withFixture(test)
    finally GraftSession.release(spark)

  test("a hub word co-occurring with everything ranks first; stopwords never rank") {
    val docs = Seq(
      (1L, "hub alpha"), (2L, "hub beta"), (3L, "hub gamma"),
      (4L, "hub delta"), (5L, "alpha beta"), (6L, "the the the hub the")
    ).toDF("doc_id", "text")
    val kw = TextRank.keywords(docs, vocabTop = 50, topK = 10).collect()
    assert(kw.head.getString(0) == "hub", "the hub must rank first")
    assert(!kw.map(_.getString(0)).exists(TextRank.Stopwords.contains),
      "stopwords are excluded from the graph")
  }

  test("rank mass stays ~1e9 nanos through the integer recurrence") {
    val docs = Seq(
      (1L, "apple pear plum"), (2L, "pear plum apple"),
      (3L, "plum apple pear"), (4L, "cherry apple")
    ).toDF("doc_id", "text")
    val ranks = TextRank.keywords(docs, vocabTop = 50, topK = 50).collect()
    val mass = ranks.map(_.getLong(1)).sum
    assert(math.abs(mass - 1000000000L) < 5000000L,
      s"teleport + damping must conserve mass, got $mass")
  }

  test("isolated top words (no in-node adjacency) drop out of the graph") {
    // "solo" only ever adjoins the stopword "the", so it has no edge to
    // another node word and cannot receive rank
    val docs = Seq(
      (1L, "alpha beta"), (2L, "beta alpha"), (3L, "the solo the")
    ).toDF("doc_id", "text")
    val words = TextRank.keywords(docs, vocabTop = 50, topK = 50)
      .collect().map(_.getString(0)).toSet
    assert(words == Set("alpha", "beta"))
  }
}
