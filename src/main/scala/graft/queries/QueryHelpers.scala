package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Money, TextFunctions => TF, VectorFunctions => VF}
import graft.ml.{Heuristic, IntentModel, Recommender, Undersample}
import graft.operators.{AbTest, AsOfJoin, Association, Attribution, Autocorrelation, Avi, Changepoint, Churn, Collocations, Components, Concentration, Cuped, Decontaminate, Dedup, Dispersion, Diversity, Dsir, Featurize, GmmReplay, GopherFilter, GroupCap, HashSplit, IntervalOverlap, IvfReplay, KMeansReplay, LmScore, Mixture, Multimodal, Packing, Pareto, Paths, PiiScrub, QuantileNormalize, RankTest, Repetition, RepetitionCoverage, Rfm, SemanticDedup, SessionConf, Sessionize, Similarity, SourceProfile, Streaks, Tempo, Wavelet, WeightedSample}
import graft.sources.Tables
import graft.streaming.SessionWindows

/** Shared fixture/feature builders for the query domain objects —
  * moved verbatim out of SparkEntry.scala (r18 split).
  */
private[graft] object QueryHelpers {

  /** The synthetic `events` table mapped to the reference clickstream shape:
    * day-scoped sessions (`user_id` + day), `value`→price, JSON `props.k`
    * →product_id, `click`→cart. See sources.Tables.clickstream for the
    * rename-only variant; the day-session key gives a realistic label mix.
    */
  /** Near-dup edge list shared by q_dedup_components / q_dedup_keep: pairs
    * of docs sharing ≥5 distinct 3-shingles, via the bucket spelling (same
    * economics as Dedup's LSH banding) — ONE groupBy builds each shingle's
    * posting list, the size filter IS the hot-shingle cap, and pairs come
    * from a bounded double-explode (≤ cap² per shingle): one corpus scan,
    * two shuffles, vs a posting self-join's three scans and four.
    */
  private[graft] def shingleEdges(docs: DataFrame): DataFrame = {
    val e = shingleEdgesWeighted(docs).select(col("src"), col("dst"))
    // Deliberately NOT persisted (r12 A/B, sf0.1): consumers reference the
    // subplan twice via their undirected unions, but both branches run in
    // ONE scan-bound job with idle cores — the double build is parallel
    // slack. A lazy persist makes the branches race the un-populated cache
    // (slowest option); an eager count serializes an extra job + cache
    // write and nets out slower for the Components family too. Leave lazy.
    e
  }

  /** [[shingleEdges]] with the shared-shingle count kept — (src, dst,
    * n_shared ≥ 5); the weight the cluster-audit query reads as its
    * weakest-link evidence. Same construction, same cap.
    */
  private[graft] def shingleEdgesWeighted(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(graft.operators.Dedup.shingles(col("text"))).as("sh"))
      .groupBy(col("sh")).agg(collect_list(col("doc_id")).as("docs"))
      .filter(size(col("docs")) <= 20)
      // one-pass pair emission (expressions.PairCombos): the double-explode
      // spelling ran two Generate operators over every posting list to
      // materialize |docs|² ordered rows and keep C(|docs|, 2) — and df=1
      // lists (most of the vocabulary) paid the machinery to emit nothing.
      // Bag-identical by PairCombosSpec (guide §4).
      .select(explode(graft.expressions.PairCombos.pair_combos(col("docs"))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 5)

  /** `Vocab.wordCounts` materialized ONCE (eager localCheckpoint) for
    * builders that drive multiple driver actions over the same (word, n)
    * aggregate: every tokenizer family re-reads it per train/encode pass
    * (q_tokenizer_compare re-tokenized the corpus ~8x without it — guide
    * §1.2: don't compute things you throw away). The checkpoint runs inside
    * the timed region; its blocks are reclaimed by the harness cache-hygiene
    * sweep (the PageRank/Components discipline). Single-pass consumers
    * (q_word_freq, q_bpe_pair_counts, q_tokenizer_population) stay on the
    * lazy spelling — a checkpoint there would only add a materialization.
    */
  private[graft] def wordCountsCkpt(s: SparkSession, d: String): DataFrame =
    graft.operators.Vocab.wordCounts(Tables(s, d).documents).localCheckpoint(true)

  /** Build independent query branches CONCURRENTLY (guide §2.6 — overlap
    * independent jobs): each builder runs its driver-action loop (train
    * collects, checkpoint materializations) on a pool thread, so one
    * branch's per-round scheduling gaps are back-filled by another's tasks
    * instead of serializing 4 train loops end to end. Deterministic by
    * construction — every builder returns the same frame it returned when
    * called sequentially; only the job scheduling overlaps.
    *
    * The pool is this call's own, one thread per builder, and is gone when
    * the call returns. Each pool thread pins `s` as its active session
    * (Spark's thread-inheritance of the active session is creation-time
    * only) and restores what it had before. Results are collected as the
    * builders finish and returned in `builders` order. The builders' jobs
    * carry one job tag: on the first builder failure, or when 20 minutes
    * pass, the others' jobs are cancelled rather than left running
    * detached.
    */
  private[graft] def buildConcurrently(
      s: SparkSession, builders: Seq[() => DataFrame]): Seq[DataFrame] = {
    import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors, TimeUnit, TimeoutException}
    val sc = s.sparkContext
    val tag = s"graft-build-${java.util.UUID.randomUUID}"
    val threads = new java.util.concurrent.atomic.AtomicInteger
    val pool = Executors.newFixedThreadPool(builders.size max 1, (r: Runnable) => {
      val t = new Thread(r, s"$tag-${threads.incrementAndGet()}")
      t.setDaemon(true)
      t
    })
    try {
      val done = new ExecutorCompletionService[(Int, DataFrame)](pool)
      builders.zipWithIndex.foreach { case (b, i) => done.submit(new Callable[(Int, DataFrame)] {
        def call(): (Int, DataFrame) = {
          val prev = SparkSession.getActiveSession
          SparkSession.setActiveSession(s)
          sc.addJobTag(tag)
          sc.setInterruptOnCancel(true)
          try i -> b()
          finally {
            sc.removeJobTag(tag)
            prev.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
          }
        }
      })}
      val deadline = System.nanoTime() + TimeUnit.MINUTES.toNanos(20)
      val out = new Array[DataFrame](builders.size)
      builders.foreach { _ =>
        val f = done.poll(deadline - System.nanoTime(), TimeUnit.NANOSECONDS)
        if (f == null) throw new TimeoutException("builders still running after 20 minutes")
        val (i, df) = try f.get() catch { case e: ExecutionException => throw e.getCause }
        out(i) = df
      }
      out.toSeq
    } catch {
      case e: Throwable =>
        sc.cancelJobsWithTag(tag)
        throw e
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  /** Gap-session bounds shared by the interval-overlap queries: one row per
    * (user, session) with inclusive [start_s, end_s] epoch-second bounds.
    */
  private[graft] def gapSessionBounds(spark: SparkSession, dir: String): DataFrame =
    Sessionize.gapSessions(Tables(spark, dir).events, "user_id", "ts",
        gapSeconds = 1800L, tieBreakCol = Some("event_id"))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts").cast("long")).as("start_s"),
        max(col("ts").cast("long")).as("end_s"))
      // overlapCounts reads this frame four times (probes + points, twice);
      // the Verify/Bench harness unpersists between queries
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  private def clickstreamOf(ev: DataFrame): DataFrame =
    ev.select(
      concat(col("user_id").cast("string"), lit("_"), date_format(col("ts"), "yyyy-MM-dd"))
        .as("user_session"),
      col("event_type"),
      regexp_extract(col("props"), "\"k\": (\\d+)", 1).as("product_id"),
      col("value").as("price"),
      col("ts").as("event_time")
    )

  private[graft] def clickstream(spark: SparkSession, dir: String): DataFrame =
    clickstreamOf(Tables(spark, dir).events)

  /** [[clickstream]] with the events scan floored to session parallelism —
    * the Tables.parScan guard applied locally: the sliding-window queries
    * explode ~10 window copies per event and aggregate them, all rooted in
    * a single-row-group (one-task) scan without this. Query-local because
    * the SAMPLED events pipelines (sampleBy/randomSplit draw per
    * (partition, position)) must keep the stock layout; the window
    * aggregates here are layout-free. No-op whenever the scan already
    * plans >= cores splits (any real scale).
    */
  private[graft] def clickstreamPar(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir).events
    val cores = spark.sparkContext.defaultParallelism
    // probe through the Tables.scanParts cache (r21, ADVICE): the count is
    // a pure function of the events file + parallelism, and the uncached
    // spelling re-planned the scan on every builder call
    val parts = graft.sources.Tables.scanParts(
      s"$dir/events@$cores", s"$dir/events.parquet", ev)
    val par = if (parts >= cores) ev else ev.repartition(cores, col("user_id"))
    clickstreamOf(par)
  }

  private[graft] val ClickConf = SessionConf(
    sessionCol = "user_session",
    typeCol = "event_type",
    tsCol = "event_time",
    priceCol = "price",
    itemCol = "product_id",
    viewType = "view",
    cartType = "click",
    purchaseType = "purchase"
  )

  /** Flagship: leakage-free session features (S1→P1→W1→P4→A1→P2).
    * avg_price is rounded to 6 decimals so parallel-summation order noise
    * (~1e-13) can't flip the oracle compare at a formatting boundary.
    */
  private[graft] def sessionFeatures(spark: SparkSession, dir: String): DataFrame =
    Featurize
      .leakageFreeSessionFeatures(clickstream(spark, dir), ClickConf)
      .withColumn("avg_price", round(col("avg_price"), 6))

  /** Formula-synthesized uncompressed-DIB AVI fixtures over the video
    * rows (doc_id % 3 = 2): REAL RIFF bytes built per row from pure
    * id-derived parameters (odd widths force stride padding on every
    * file); odd doc_ids truncated mid-header. Shared by q_media_avi_meta
    * and q_media_avi_frames; the oracles predict from the same formulas.
    */
  private[graft] def aviFixture(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables(s, d).documents
      .filter(pmod(col("doc_id"), lit(3)) === 2)
      .select(col("doc_id").cast("long")).as[Long]
      .map { id =>
        val full = graft.operators.Avi.synthAvi(
          width = 7 + (id % 4).toInt * 4,
          height = 6 + (id % 3).toInt * 4,
          nFrames = 2 + (id % 3).toInt,
          microSecPerFrame = 33333L + (id % 7) * 1000L,
          pixel = (f, y, x, c) =>
            ((id + 31L * f + 7L * y + 3L * x + 11L * c) % 251L).toInt)
        (id, if (id % 2 == 1) full.take(20) else full)
      }.toDF("doc_id", "content")
  }

  /** One MJPEG fixture class: every synthesis parameter is a function of
    * m mod 12 (width m%4, height m%3, frame count + pixel class m%2), so
    * there are exactly 12 distinct byte streams corpus-wide and the
    * oracle can pin each class's DECODED frame stats as literals
    * (tools.MjpegOraclePin regenerates them; JPEG is lossy, so a formula
    * replay is impossible by design — the pins ARE the decode contract).
    */
  private[graft] def mjpegClassBytes(m: Long): Array[Byte] =
    Avi.synthMjpegAvi(
      width = 15 + (m % 4).toInt * 8,
      height = 10 + (m % 3).toInt * 4,
      nFrames = 1 + (m % 2).toInt,
      microSecPerFrame = 40000L,
      quality = 0.9f,
      pixel = (f, y, x, c) =>
        ((7L * (m % 2) + 31L * f + 5L * y + 3L * x + 11L * c) % 256L).toInt)

  /** The 12 class byte streams, built ONCE per JVM (executors reach the
    * object statically): mapping per row would re-run the BufferedImage
    * fill + JPEG encode tens of thousands of times per scan for 12
    * distinct outputs (r19 self-review).
    */
  private[graft] lazy val MjpegClassTable: IndexedSeq[Array[Byte]] =
    IndexedSeq.tabulate(12)(m => mjpegClassBytes(m.toLong))

  /** Motion-JPEG AVI fixtures over the doc_id % 3 = 0 rows: REAL RIFF +
    * baseline-JPEG frame bytes per row (class = (doc_id/3) mod 12, see
    * [[mjpegClassBytes]]); every (doc_id/3) % 7 = 1 row truncated
    * mid-header and must contribute no frames (bounds proof).
    */
  private[graft] def mjpegFixture(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables(s, d).documents
      .filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id").cast("long")).as[Long]
      .map { id =>
        val m = id / 3
        val full = MjpegClassTable((m % 12).toInt)
        (id, if (m % 7 == 1) full.take(24) else full)
      }.toDF("doc_id", "content")
  }

  /** Quasi-identifier view shared by the privacy battery: customer
    * (segment, nation, 1k$-acctbal band).
    */
  /** Multi-line document fixture for the LineDedup queries: deterministic
    * boilerplate planted over the (newline-free) documents table. The SQL
    * twin is [[PlantedLinesCte]] — keep the two spellings in lockstep.
    */
  private[graft] def plantedLineDocs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents.select(
      col("doc_id"),
      concat_ws("\n",
        col("text"),
        when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter")),
        when(col("doc_id") % 5 === 0, lit("all rights reserved")),
        when(col("doc_id") % 7 === 0, col("text"))
      ).as("text"))

  /** Synthetic URL fixture for the UrlFunctions queries (the tables have
    * no URL column): mixed-case scheme/host, optional trailing slash,
    * tracking params, unsorted real params, and a fragment — every
    * canonicalization rule exercised. SQL twin: [[SyntheticUrlsCte]].
    */
  private[graft] def syntheticUrls(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).customer.select(
      col("c_custkey"),
      concat(
        lit("HTTPS://WWW.Shop"), (col("c_custkey") % 7).cast("string"),
        lit(".Example.COM/Seg/"), col("c_mktsegment"),
        when(col("c_custkey") % 3 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=mail&utm_campaign=x&id="), (col("c_custkey") % 50).cast("string"),
        when(col("c_custkey") % 2 === 0, lit("&fbclid=abc")).otherwise(lit("")),
        when(col("c_custkey") % 4 === 0, lit("&b=2&a=1")).otherwise(lit("")),
        lit("#section"), (col("c_custkey") % 5).cast("string")
      ).as("url"))

  /** Deterministic HTML shell around the documents (the tables have no
    * HTML column): title + style + script subtrees, an entity in visible
    * text, and two anchors with doc-varying mixed-case hosts and tracking
    * params — every HtmlFunctions + UrlFunctions rule exercised. SQL twin
    * spelled inline in the q_html_* oracles.
    */
  private[graft] def syntheticHtml(text: org.apache.spark.sql.Column,
      id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = concat(
    lit("<html><head><title>Doc</title><style>p{color:red}</style></head>" +
      "<body><h1>Heading &amp; more</h1><p>"),
    text,
    lit("</p><a href=\"https://Example.com/p/"), (id % 5).cast("string"),
    lit("?utm_source=x&b=2&a=1#f\">L1</a> <a href=\"http://Host"), (id % 3).cast("string"),
    lit(".org/x/\">L2</a><script>var s=1;</script></body></html>"))

  /** Fellegi–Sunter linkage fixture: a clean side (customer as-is) and a
    * "dirty" side of twins for every c_custkey % 3 = 0 row under key
    * +5·10⁶ — name typo'd on odd keys, SEGMENT (a block key!) perturbed
    * to 'OTHER' on % 5 = 1 (those twins fall out of candidacy — the
    * reported blocking-recall loss), acctbal shifted by ((k%7)−3)·0.5
    * dollars (inside the $1 comparator for k%7 ∈ 1..5). All expressions
    * are IEEE-identical in DuckDB; the oracles respell them inline.
    */
  private[graft] def linkageSides(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val c = Tables(spark, dir).customer
    val a = c.select(
      col("c_custkey").as("a_id"), col("c_name").as("a_name"),
      col("c_nationkey").as("nationkey"), col("c_mktsegment").as("mktsegment"),
      col("c_acctbal").as("a_acctbal"))
    val b = c.filter(col("c_custkey") % 3 === 0).select(
      (col("c_custkey") + 5000000L).as("b_id"),
      col("c_custkey").as("truth_id"),
      when(col("c_custkey") % 2 === 1, concat(col("c_name"), lit("x")))
        .otherwise(col("c_name")).as("b_name"),
      col("c_nationkey").as("nationkey"),
      when(col("c_custkey") % 5 === 1, lit("OTHER"))
        .otherwise(col("c_mktsegment")).as("mktsegment"),
      (col("c_acctbal") +
        ((col("c_custkey") % 7) - lit(3)).cast("double") * lit(0.5d)).as("b_acctbal"))
    (a, b)
  }

  /** The linkage battery's shared scoring pipeline: block on
    * (nationkey, mktsegment), score name equality ±(2400, −1800) and
    * cents-distance ≤ 100 ±(1200, −1000), classify at (3000, −1000).
    */
  private[graft] def linkageScored(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.RecordLinkage
    val (a, b) = linkageSides(spark, dir)
    val fields = Seq(
      RecordLinkage.Field("name", 2400L, -1800L) ->
        (col("a_name") === col("b_name")),
      RecordLinkage.Field("bal", 1200L, -1000L) ->
        (abs(RecordLinkage.cents(col("a_acctbal")) -
          RecordLinkage.cents(col("b_acctbal"))) <= 100L))
    RecordLinkage.classify(
      RecordLinkage.score(
        RecordLinkage.blockPairs(a, b, Seq("nationkey", "mktsegment")), fields),
      upperMilli = 3000L, lowerMilli = -1000L)
  }

  /** WoE fixture: one row per user — activity-count bin (DIV 5, capped
    * at 10) vs the binary made-a-purchase label. Shared by q_woe_bins and
    * q_feature_iv; the oracles respell it identically.
    */
  private[graft] def woeBinnedUsers(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_ev"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("pos"))
      .select(least(expr("n_ev DIV 5"), lit(10L)).as("bin"),
        (col("pos") === 1L).as("is_pos"))

  private[graft] def privacyQi(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).customer.select(
      col("c_mktsegment").as("seg"),
      col("c_nationkey").as("nat"),
      floor(col("c_acctbal") / lit(1000.0d)).cast("long").as("band"))
}
