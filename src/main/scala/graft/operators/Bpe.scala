package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expressions.BpeMerge

/** Byte-pair-encoding tokenizer training (Sennrich, Haddow & Birch 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") as an
  * iterative DataFrame job.
  *
  * BPE trains on the WORD-FREQUENCY table, not the corpus: one corpus-scale
  * shuffle builds (word, n) — `Vocab.wordCounts` — and every later pass
  * touches only |V| rows. That separation is the 100 TB story: the corpus is
  * petabytes, its distinct-word table is millions of rows, and web-noise
  * corpora (typos, URLs, code) are exactly where |V| outgrows one machine
  * and the usual single-node trainers stop working.
  *
  * Per merge step, matching the reference algorithm exactly:
  *   1. adjacent-pair counts weighted by word frequency — one map-side-
  *      combining aggregate over the vocab;
  *   2. argmax with a deterministic (count DESC, left, right) tie-break —
  *      a 1-row collect (the Components-style bounded driver probe);
  *   3. apply the merge to every word — a zero-shuffle projection through
  *      the native `PairMerge` kernel (greedy leftmost-first).
  * N merges = N×(aggregate + projection); the vocab generations run on
  * [[Iterate]].
  *
  * The reference pipeline has no subword trainer (its TF-IDF tokenizer is
  * word-level, src/spark/preprocessing.py); this extends SURVEY §2.12's
  * vocabulary block (`Vocab`) down to subword units.
  */
object Bpe {

  /** End-of-word marker, its own symbol (Sennrich's `</w>`). */
  val EndMark = "</w>"

  final case class Merge(idx: Int, left: String, right: String, cnt: Long)

  /** (word, n) → (word, n, syms): characters plus the end marker. */
  def symbolize(wordCounts: DataFrame): DataFrame =
    wordCounts.withColumn("syms",
      concat(split(col("word"), ""), array(lit(EndMark))))

  /** Frequency of every adjacent symbol pair, weighted by word count.
    * Output: (l, r, cnt).
    */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .filter(size(col("syms")) >= 2)
      .select(col("n"), explode(expr(
        "transform(sequence(0, size(syms) - 2)," +
          " i -> named_struct('l', syms[i], 'r', syms[i + 1]))")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("n")).as("cnt"))

  /** Learn up to `nMerges` merges. Stops early when no pair reaches
    * `minPairCount` (or the vocab has no pairs left). Deterministic for any
    * input partitioning: ties break on (left, right) lexicographically.
    */
  def trainMerges(
      wordCounts: DataFrame,
      nMerges: Int,
      minPairCount: Long = 1L
  ): Seq[Merge] =
    trainMergesFrom(symbolize(wordCounts), nMerges, minPairCount)

  /** The merge loop over an ALREADY-symbolized vocab (word, n, syms) —
    * shared by the char-level path above and [[ByteBpe]]'s byte-level
    * symbols (which carry no `</w>` marker).
    */
  def trainMergesFrom(
      symbolized: DataFrame,
      nMerges: Int,
      minPairCount: Long = 1L
  ): Seq[Merge] = {
    require(nMerges >= 0 && nMerges <= 100000, "nMerges in 0..100000")
    val merges = new ArrayBuffer[Merge]()
    val vocab = Iterate.until(symbolized, nMerges) { prev =>
      val top = pairCounts(prev.frame)
        .orderBy(desc("cnt"), asc("l"), asc("r"))
        .limit(1)
        .collect() // exactly one row — bounded driver probe
      if (top.isEmpty || top.head.getLong(2) < minPairCount) None
      else {
        val (l, r, c) = (top.head.getString(0), top.head.getString(1), top.head.getLong(2))
        merges += Merge(merges.size, l, r, c)
        Some(prev.frame.withColumn("syms", BpeMerge.mergePair(col("syms"), l, r)))
      }
    }
    Iterate.release(vocab)
    merges.toSeq
  }

  /** The learned merge table as a DataFrame (merge_idx, left, right, cnt). */
  def mergeTable(spark: SparkSession, wordCounts: DataFrame, nMerges: Int): DataFrame = {
    import spark.implicits._
    trainMerges(wordCounts, nMerges)
      .map(m => (m.idx, m.left, m.right, m.cnt))
      .toDF("merge_idx", "left", "right", "cnt")
  }

  /** ENCODE path: re-tokenize the word table under a learned merge list —
    * merges ship as expression literals (bounded by nMerges), applied in
    * rank order by the native kernel in one zero-shuffle projection.
    * Adds `syms` (final subword sequence per word).
    */
  def encodeWords(wordCounts: DataFrame, merges: Seq[Merge]): DataFrame =
    symbolize(wordCounts).withColumn("syms",
      graft.expressions.BpeMerge.applyMerges(
        col("syms"), merges.sortBy(_.idx).map(m => (m.left, m.right))))

  /** The corpus subword vocabulary induced by the merges: explode encoded
    * words, weight by word frequency. Output (subword, n_tokens).
    */
  def subwordVocab(wordCounts: DataFrame, merges: Seq[Merge]): DataFrame =
    encodeWords(wordCounts, merges)
      .select(explode(col("syms")).as("subword"), col("n"))
      .groupBy(col("subword"))
      .agg(sum(col("n")).as("n_tokens"))

  /** Tokenizer fertility report (1 row) under the learned merges —
    * [[graft.operators.UnigramLm.fertility]]'s BPE twin, same columns and
    * integer discipline. `n_pieces` counts the `</w>` marker (it is a real
    * emitted symbol); `n_chars` is raw word length.
    */
  def fertility(wordCounts: DataFrame, merges: Seq[Merge]): DataFrame =
    encodeWords(wordCounts, merges)
      .select(col("n"), length(col("word")).cast("long").as("m"),
        size(col("syms")).cast("long").as("np"))
      .agg(sum(col("n")).as("n_words"),
        sum(col("n") * col("np")).as("n_pieces"),
        sum(col("n") * col("m")).as("n_chars"))
      .select(col("n_words"), col("n_pieces"), col("n_chars"),
        expr("n_pieces * 1000000 DIV n_words").as("fertility_micros"),
        expr("n_chars * 1000000 DIV n_pieces").as("chars_per_piece_micros"))
}
