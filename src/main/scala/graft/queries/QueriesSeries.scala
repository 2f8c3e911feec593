package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Money, TextFunctions => TF, VectorFunctions => VF}
import graft.ml.{Heuristic, IntentModel, Recommender, Undersample}
import graft.operators.{AbTest, AsOfJoin, Association, Attribution, Autocorrelation, Avi, Changepoint, Churn, Collocations, Components, Concentration, Cuped, Decontaminate, Dedup, Dispersion, Diversity, Dsir, Featurize, GmmReplay, GopherFilter, GroupCap, HashSplit, IntervalOverlap, IvfReplay, KMeansReplay, LmScore, Mixture, Multimodal, Packing, Pareto, Paths, PiiScrub, QuantileNormalize, RankTest, Repetition, RepetitionCoverage, Rfm, SemanticDedup, SessionConf, Sessionize, Similarity, SourceProfile, Streaks, Tempo, Wavelet, WeightedSample}
import graft.oracles.SharedCtes._
import graft.queries.QueryHelpers._
import graft.sources.Tables
import graft.streaming.SessionWindows

/** One domain section of the SparkEntry.queries map — moved
  * verbatim (keys included) in the r18 split; SparkEntry.queries
  * is the ordered concatenation of the domain objects.
  */
private[graft] object QueriesSeries {
  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- series analytics, concentration, segmentation, clustering ----
    // Replayable k-means (operators.KMeansReplay): clustering moved OUT of
    // the RNG/rows-only MLlib class into a full hash oracle — integer-micros
    // coordinates make every distance an exact BIGINT, seeds are md5-ranked,
    // centers are floor(S/n + 0.5) integer division, 3 fixed Lloyd rounds.
    // The generated oracle (KMeansOracleSql) replays every round.
    "q_kmeans_clusters" -> { (s, d) =>
      KMeansReplay.clusterStats(s, Tables(s, d).embeddings, "embedding", 64, 8, 3)
    },
    // clustering evaluation (operators.ClusterEval): ARI + purity of the
    // replayable k-means assignments against the embedding labels
    "q_cluster_ari" -> { (s, d) =>
      val emb = Tables(s, d).embeddings
      graft.operators.ClusterEval.ariPurity(
        KMeansReplay.assignments(s, emb, "embedding", 64, 8, 3),
        emb.select(col("vec_id"), col("label")))
    },
    // NMI of the same k-means assignments vs labels (operators.ClusterEval):
    // same exact contingency table as the ARI; ln terms quantized to
    // integer micros BEFORE the order-free BIGINT sums (the q_rrf_fusion
    // ln discipline), one replayed float normalization, floor-6
    "q_cluster_nmi" -> { (s, d) =>
      val emb = Tables(s, d).embeddings
      graft.operators.ClusterEval.nmi(
        KMeansReplay.assignments(s, emb, "embedding", 64, 8, 3),
        emb.select(col("vec_id"), col("label")))
    },
    // greedy k-center coreset (operators.KCenter, Gonzalez 1985): 8
    // maximally-spread embeddings — md5-min start, farthest-point rounds
    // on exact BIGINT distances, nearest-center assignment for every point
    "q_kcenter_coreset" -> { (s, d) =>
      graft.operators.KCenter.greedyCoreset(s, Tables(s, d).embeddings)
    },
    // maximal marginal relevance vs probe vec_id 0 (operators.Mmr):
    // λ=7/10 as integer coefficients over exact BIGINT micro dot products
    // — relevance-vs-redundancy greedy, trajectory replayed per-round
    "q_mmr_selection" -> { (s, d) =>
      graft.operators.Mmr.select(s, Tables(s, d).embeddings, queryId = 0L, k = 8)
    },
    // RAG context packing (operators.ContextPack): the MMR trajectory
    // joined to exact token counts, packed greedily until the 120-token
    // budget — the longest prefix of the selection order that fits.
    // Oracle replays the shared MmrCtes trajectory + BIGINT prefix sum.
    "q_context_pack" -> { (s, d) =>
      graft.operators.ContextPack.pack(s, Tables(s, d).embeddings,
        Tables(s, d).documents, queryId = 0L, k = 8, budget = 120L)
    },
    // Replayable GMM soft clustering (operators.GmmReplay): fixed-round
    // spherical EM whose exp() is the 16-squaring pseudo-exp kernel — pure
    // IEEE ·/+ both engines replay bit-for-bit; responsibilities integer
    // micros, M-step exact BIGINT sums. Generated oracle (GmmOracleSql)
    // replays both EM rounds and the final E-step.
    // σ² = 0.05: x = −d²/(2σ²·10¹²) then spans ≈ [−28, −16] on this
    // corpus (measured) — discriminating responsibilities without hitting
    // the −30 clamp; the default 0.25 concentrates every pair near
    // uniform (high-dim distance concentration).
    "q_gmm_soft" -> { (s, d) =>
      GmmReplay.softAssignments(s, Tables(s, d).embeddings, "embedding", 64, 8, 2,
        sigmaSq = 0.05d)
    },
    // Gini of per-user purchase spend (operators.Concentration): exact
    // integer micros + rank formula; the one double expression replays.
    "q_spend_gini" -> ((s, d) => Concentration.spendGini(Tables(s, d).events)),
    // best single mean-shift split of the hourly series — prefix sums over
    // exact integer counts; even the float argmax agrees bit-for-bit
    "q_changepoint" -> ((s, d) => Changepoint.bestMeanShift(Tables(s, d).events)),
    // ACF lags 1..6 of the zero-filled hourly series from exact integer
    // sufficient statistics only (no float ever aggregated)
    "q_acf_hourly" -> ((s, d) => Autocorrelation.hourlyAcf(Tables(s, d).events, 6)),
    // RFM quartile segmentation — deterministic ntile(4) under a total
    // (metric, user_id) order; money via the integer-micros accumulator
    "q_rfm_segments" -> ((s, d) => Rfm.segments(Tables(s, d).events)),
    // linear multi-touch attribution (operators.Attribution): equal split
    // of purchase value across the 24h preceding views — integer micros
    // credit via floor division (remainder drops identically both engines)
    "q_linear_attribution" -> ((s, d) => Attribution.linearByHour(Tables(s, d).events)),
    // exact Shapley channel attribution (operators.Shapley): coalition
    // masks from one user-key aggregate, 12 literal marginal terms, 6-
    // scaled integer output
    "q_shapley_attribution" -> { (s, d) =>
      graft.operators.Shapley.attribution(s, Tables(s, d).events)
    },
    // half-life-quantized decay counters (operators.Decay): trending
    // event types at the corpus max time, 3-day half-life — weight
    // 1e6 >> (Δt div h), exact integers, no exp/pow
    "q_decayed_counts" -> { (s, d) =>
      val ev = Tables(s, d).events
        .select(col("event_type"), expr("ts_ns DIV 1000").as("ts_us"))
      graft.operators.Decay.trendingScores(ev, "event_type",
        halfLifeUs = 3L * 86400L * 1000000L)
    },
    // additive Holt-Winters level/trend/seasonal fit + 7-day forecast over
    // the per-type daily revenue series — exact BIGINT micros recursion
    // (bounded driver fixed point over the |types|x|days| aggregate)
    "q_holt_winters" -> { (s, d) =>
      graft.operators.HoltWinters.fit(s, Tables(s, d).events)
    },
    // two-sided CUSUM control chart via the running-sum-minus-running-min
    // closed form — two partitioned windows, no recursion, no driver state
    "q_cusum_chart" -> { (s, d) =>
      graft.operators.Cusum.chart(Tables(s, d).events)
    },
    // forecast-accuracy closeout: MASE of the HW fits vs seasonal-naive
    "q_forecast_mase" -> { (s, d) =>
      graft.operators.HoltWinters.mase(s, Tables(s, d).events)
    },
    // Spearman rho + Kendall tau-b between daily revenue and event count
    "q_rank_correlation" -> { (s, d) =>
      graft.operators.RankCorrelation.correlate(Tables(s, d).events)
    },
    // deterministic A/B lift + pooled two-proportion z (operators.AbTest):
    // md5-48 arm assignment, one replayed double expression for lift/z
    "q_ab_lift" -> ((s, d) => AbTest.conversionLift(Tables(s, d).events)),
    // always-valid sequential A/B (operators.Msprt): the daily-peek mixture
    // SPRT next to the fixed-horizon z above — log-space only (exp never
    // computed), per-look e6 quantization before the integer running max
    "q_msprt_lift" -> ((s, d) => graft.operators.Msprt.sequentialLift(Tables(s, d).events)),
    // HHI deciles of per-user event-type mix (operators.Diversity): one
    // division of two exact integers per user, integer-only report
    "q_hhi_buckets" -> ((s, d) => Diversity.hhiBuckets(Tables(s, d).events)),
    // bigram PMI collocations (operators.Collocations): exact counts, ln
    // replayed (TfIdf/BM25 precedent), min support 5
    "q_pmi_bigrams" -> ((s, d) => Collocations.pmiBigrams(Tables(s, d).documents)),
    // event-type trigram paths (operators.Paths): the 3-gram extension of
    // the Markov operator — one user exchange serves both leads
    "q_event_trigrams" -> ((s, d) => Paths.eventTrigrams(Tables(s, d).events)),
    // Fano factor per type over the dense global hour grid — burstiness
    "q_fano_factor" -> ((s, d) => Dispersion.fanoByType(Tables(s, d).events)),
    // integer-replay EWMA (operators.Ewma): exact BIGINT recurrence
    // s += floor((10⁶x − s)/2³) over each type's dense daily counts —
    // sequential state hash-oracled via a recursive-CTE replay
    "q_ewma_daily" -> ((s, d) => graft.operators.Ewma.bucketEwma(Tables(s, d).events)),
    // Hampel median/MAD outlier flags over per-type daily counts
    // (operators.MadAnomaly): doubled-unit dyadic medians, no rounding —
    // the robust complement to q_anomaly_zscore (50% breakdown point)
    "q_anomaly_mad" -> ((s, d) =>
      graft.operators.MadAnomaly.dailyOutliers(Tables(s, d).events)),
    // market-basket lift on the type vocabulary (distinct-user incidence)
    "q_event_type_lift" -> ((s, d) => Association.typeLift(Tables(s, d).events)),
    // Mann–Whitney U weekend-vs-weekday purchase values, tie-corrected z;
    // doubled average ranks keep every rank sum an exact BIGINT
    "q_rank_sum_test" -> ((s, d) => RankTest.weekendRankSum(Tables(s, d).events)),
    // daily churn ledger (operators.Churn): one user exchange for both
    // lag and lead; deterministic first/last-day edges
    "q_daily_churn" -> ((s, d) => Churn.dailyLedger(Tables(s, d).events)),
    // gaps-and-islands longest-streak histogram (operators.Streaks)
    "q_user_streaks" -> ((s, d) => Streaks.maxStreakHistogram(Tables(s, d).events)),
    // Pareto curve: top-p% users' revenue share at standard cutoffs
    "q_revenue_pareto" -> ((s, d) => Pareto.revenueShares(s, Tables(s, d).events)),
    // per-source n_chars decile profile — the mixture batch-effect check
    "q_source_deciles" -> ((s, d) => SourceProfile.decileProfile(Tables(s, d).documents)),
    // the mapping half of the curation story (q_source_deciles is the
    // summary half): per-doc cross-source quantile normalization onto the
    // pooled n_chars distribution — histogram ranks, integer bracket math,
    // one replayed IEEE interpolation (operators.QuantileNormalize)
    "q_quantile_normalize" -> { (s, d) =>
      QuantileNormalize.toPooled(Tables(s, d).documents)
    },
    // Gopher hard quality gates (operators.GopherFilter, Rae 2021 A1.1):
    // every gate an INTEGER comparison (thresholds cross-multiplied), so
    // the whole filter battery hash-oracles with no rounding anywhere
    "q_gopher_gates" -> ((s, d) => GopherFilter.gates(Tables(s, d).documents)),
    // DSIR importance selection (operators.Dsir, Xie 2023): en-lang target
    // domain, md5-48 hashed unigram+bigram buckets, integer-micro λ per
    // bucket, exact BIGINT per-doc scores, PrefixSum distributed top-25%
    "q_dsir_scores" -> { (s, d) =>
      Dsir.importanceScores(Tables(s, d).documents, col("lang") === "en")
    },
    // corpus duplication profile (SubstringDedup.dupNgramStats — Lee
    // 2021's headline metric): per-source fraction of 8-gram positions
    // duplicated anywhere in the corpus; aggregated-hash-table join only
    // corpus diversity: distinct-n ratios per source (the text-generation
    // diversity metric — unique n-grams / total n-grams, n = 1..3); a
    // collapsing ratio flags template/boilerplate-heavy sources before
    // they flood training batches. Exact integers + one DIV per cell
    "q_distinct_ngrams" -> { (s, d) =>
      val toks = Tables(s, d).documents
        .select(col("source"), TF.tokens(col("text")).as("t"))
      val t = col("t")
      val b2 = graft.operators.Repetition.bigrams(t)
      val g3 = zip_with(
        slice(b2, lit(1), greatest(size(t) - 2, lit(0))),
        slice(t, lit(3), greatest(size(t) - 2, lit(0))),
        (a, b) => concat(a, lit(" "), b))
      val uni = toks.select(col("source"), lit(1).as("n"), explode(t).as("g"))
      val bi = toks.select(col("source"), lit(2).as("n"), explode(b2).as("g"))
      val tri = toks.select(col("source"), lit(3).as("n"), explode(g3).as("g"))
      uni.unionByName(bi).unionByName(tri)
        .groupBy(col("source"), col("n"))
        .agg(count(lit(1)).as("n_total"), countDistinct(col("g")).as("n_unique"))
        .select(col("source"), col("n"), col("n_total"), col("n_unique"),
          expr("n_unique * 1000000 DIV n_total").as("distinct_ratio_e6"))
    },
    "q_dup_ngram_stats" -> { (s, d) =>
      graft.operators.SubstringDedup.dupNgramStats(Tables(s, d).documents, w = 8)
    },
    // length-bucketed batching padding report (operators.Batching): the
    // dynamic-batching waste comparison — all-integer until one replayed
    // floor-6 division; ranks via the distributed PrefixSum
    "q_batch_padding" -> { (s, d) =>
      graft.operators.Batching.paddingReport(Tables(s, d).documents, m = 32)
    },
    // optimal length-bucket boundaries (operators.LengthBuckets): the
    // bucket_by_sequence_length design problem solved exactly — O(B·L²)
    // DP over the bounded length histogram, every cell an exact BIGINT,
    // boundaries backtracked with ties to the smallest split
    "q_length_buckets" -> { (s, d) =>
      graft.operators.LengthBuckets.optimalBuckets(Tables(s, d).documents, b = 4)
    },
    // Gopher A1.2 repetition gates (operators.RepetitionCoverage): char
    // coverage of top 2..4-grams and duplicated 5..10-grams, one
    // zero-shuffle HOF projection; gates are cross-multiplied integers,
    // fractions one replayed floor-6 division each
    "q_gopher_repetition" -> { (s, d) =>
      RepetitionCoverage.gates(Tables(s, d).documents)
    },
    // CUPED variance-reduced lift (operators.Cuped): pre-period spend as
    // the covariate; arm means of the adjusted outcome expand to pure
    // integer sufficient statistics — no per-user float ever aggregated
    "q_cuped_lift" -> ((s, d) => Cuped.adjustedLift(Tables(s, d).events)),
    // Haar wavelet energy by scale (operators.Wavelet): unnormalized
    // integer cascade, exact BIGINT energies
    "q_wavelet_energy" -> ((s, d) => Wavelet.hourlyEnergy(Tables(s, d).events)),
    // hour-of-week traffic matrix (operators.Tempo): epoch-day dow
    // arithmetic; share is one replayed division
    "q_hour_of_week" -> ((s, d) => Tempo.hourOfWeekProfile(Tables(s, d).events)),
    // inter-purchase gap histogram — exact micros lags, floor-hour buckets
    "q_repurchase_gaps" -> ((s, d) => Tempo.repurchaseGaps(Tables(s, d).events)),
    // ---- ML plane (RNG/ML — rows-only checks, properties in ScalaTest) ----
    // HASH-ORACLED since r18 over the deterministic md5-order twin: the
    // balanced distribution is exactly (label, minority_count) per class —
    // the oracle states that identity directly. The Bernoulli sampleBy
    // path (Undersample.balance) stays spec-covered (ratio property in
    // UndersampleSpec): engine-RNG membership can only ever get rows-only.
    "q_balanced_label_dist" -> { (s, d) =>
      Undersample.balanceDeterministic(
          sessionFeatures(s, d).select(col("user_session"), col("label")))
        .groupBy(col("label")).agg(count(lit(1)).as("n"))
    },
    // deterministic twin of the RNG undersample: exactly the minority count
    // kept per class in md5(id) order — full kept MEMBERSHIP hash-matched
    // (the seeded sampleBy above can only ever get a rows-only check)
    "q_balanced_deterministic" -> { (s, d) =>
      Undersample.balanceDeterministic(
        sessionFeatures(s, d).select(col("user_session"), col("label")))
        .select(col("user_session"), col("label"), col("bal_rank"))
    },
    "q_rf_metrics" -> { (s, d) =>
      val (_, m) = IntentModel.trainEval(sessionFeatures(s, d))
      s.createDataFrame(Seq((m.auc, m.accuracy, m.f1, m.weightedRecall)))
        .toDF("auc", "accuracy", "f1", "weighted_recall")
    },
    "q_als_recs" -> { (s, d) =>
      val inter = Recommender.interactions(
        clickstream(s, d).withColumn("user_session", split(col("user_session"), "_").getItem(0)))
      val model = Recommender.train(inter, maxIter = 5)
      Recommender.recommend(model, 5)
        .select(col("user"), posexplode(col("recommendations.item")).as(Seq("rank", "item")))
    },
    // deterministic rank-2 ALS replay twin of q_als_recs
    // (operators.AlsReplay): md5-seeded item init, three closed-form 2x2
    // ridge half-solves over exact BIGINT normal equations (centi-unit
    // factors, ONE replayed double division each), capped ratings both
    // ways (20 items/user, 1000 users/item), then recommendForAllUsers
    // as a BIGINT-dot cross join vs the 100-item factor table — the
    // MLlib fit stays the engine-RNG perf path, this one hash-oracles
    "q_als_det" -> { (s, d) =>
      val (us, it) = graft.operators.AlsReplay.factors(alsCappedRatings(s, d))
      graft.operators.AlsReplay.recommend(us, it, 3)
    },
    // implicit-feedback twin of q_als_det — the Hu-Koren formulation the
    // reference recommender actually trains (confidence c = 1 + 40r,
    // p = 1 on observed pairs; global item/user Gram broadcast as ONE
    // scalar row): BIGINT-exact Gram/correction/RHS sums, the 2x2 solve
    // in identically-spelled double products (integer products overflow
    // Long once the global Gram grows with entity count; one rounded
    // IEEE product is deterministic cross-engine, unlike a float sum)
    "q_als_implicit" -> { (s, d) =>
      val (us, it) = graft.operators.AlsReplay.factors(alsCappedRatings(s, d),
        graft.operators.AlsReplay.halfSolveImplicit(_, _, _, _))
      graft.operators.AlsReplay.recommend(us, it, 3)
    },
    // token-bucket admission per user (operators.RateLimit): event-time
    // refill in exact micro-tokens (capacity 1, ~1 token/hour — within-
    // session bursts get DENIED, the behavior the decision log audits),
    // full per-event decision log for the user_id % 20 subset — the
    // recurrence replays in a recursive CTE step-for-step. Secondary-sort
    // flatMapSortedGroups: O(1) state per key, one shuffle.
    "q_rate_limit" -> { (s, d) =>
      val ev = Tables(s, d).events
        .filter(col("user_id") % 20 === 0)
        .select(col("user_id"), col("event_id"), expr("ts_ns DIV 1000").as("ts_us"))
      graft.operators.RateLimit.admit(ev, capacityTokens = 1L, rateMicroPerSec = 278L)
        .toDF()
    },
  )

  /** Shared ratings base of the two deterministic ALS twins: weighted
    * event counts per (user, item) from the props item key, capped
    * 20 items/user and 1000 users/item — ONE spelling so q_als_det and
    * q_als_implicit describe the same interaction table.
    */
  private def alsCappedRatings(s: SparkSession, d: String): DataFrame = {
    val ev = Tables(s, d).events
      .select(col("user_id"),
        from_json(col("props"), lit("k INT")).getField("k").cast("long")
          .as("item_id"),
        col("event_type"))
      .filter(col("item_id").isNotNull)
    val ratings = ev
      .select(col("user_id"), col("item_id"),
        when(col("event_type") === "purchase", 5L)
          .when(col("event_type") === "click", 3L).otherwise(1L).as("w"))
      .groupBy(col("user_id"), col("item_id"))
      .agg(sum(col("w")).as("r"))
    graft.operators.AlsReplay.capRatings(ratings)
  }
}
