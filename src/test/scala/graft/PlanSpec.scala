package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests: the scale properties README claims are
  * asserted here so a refactor that silently adds a shuffle, loses parquet
  * pushdown, or widens a scan fails CI — these shapes are what make the
  * operators viable at 100 TB, independent of local timings.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // some planned queries eagerly checkpoint/persist at CONSTRUCTION
  // (Shapley rates, PageRank rounds) — release after every test so the
  // blocks can't leak into other suites' plans (PlanHygieneSpec lesson)
  override def withFixture(test: NoArgTest) =
    try super.withFixture(test)
    finally GraftSession.release(spark)

  /** The guarded scan-parallelism floor (Tables.parScan) inserts ONE hash
    * exchange tagged REPARTITION_BY_NUM directly above a scan whenever the
    * local single-row-group files plan fewer splits than the session has
    * cores; at production row-group counts the guard removes it entirely.
    * These pins assert the 100-TB plan shape, so they discount exactly that
    * node (and nothing else — every other Exchange still counts).
    */
  private def stripParScan(p: String): String =
    p.linesIterator.filterNot(l =>
      l.contains("REPARTITION_BY_NUM") && l.contains("Exchange hashpartitioning")
        // r21 (ADVICE): discount ONLY the two floor keys the guards use
        // (Tables.parScan → doc_id, QueryHelpers.clickstreamPar → user_id);
        // an accidental repartition-by-num on any other key stays visible
        // to every pin
        && (l.contains("hashpartitioning(doc_id#") || l.contains("hashpartitioning(user_id#")))
      .mkString("\n")

  private def plan(q: String): String =
    stripParScan(
      SparkEntry.queries(q)(spark, TestSpark.Sf0001).queryExecution.executedPlan.toString)

  test("flagship session features: exactly one shuffle (window partitioning reused by aggregate)") {
    val p = plan("q_session_features")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 exchange, plan:\n$p")
    assert(p.contains("Window"))
  }

  test("q1: ship-date filter pushed to the parquet scan, columns pruned") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(!p.contains("l_partkey"), "scan must not read unused columns")
    assert(p.contains("partial_sum"), "map-side partial aggregation expected")
  }

  test("as-of attribution: event_type filters pushed to both parquet scans, one shuffle, no join") {
    val p = plan("q_asof_attribution")
    assert("EqualTo\\(event_type,purchase\\)".r.findAllIn(p).size == 1, p)
    assert("EqualTo\\(event_type,view\\)".r.findAllIn(p).size == 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"union-scan spelling is one key shuffle:\n$p")
    assert(!p.toLowerCase.contains("joinexec"), s"must not plan a join:\n$p")
  }

  test("q17: part filter broadcast, one shuffle for the per-part window") {
    val p = plan("q17_small_qty_revenue")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // part pushdown: brand+size filters reach the part scan
    assert(p.contains("EqualTo(p_brand,Brand#4)"), p.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"window + final agg should need exactly one hash exchange:\n$p")
  }

  test("q19: disjunctive join predicate still plans a broadcast hash join on l_partkey") {
    val p = plan("q19_disjunctive_revenue")
    assert(p.contains("BroadcastHashJoin"),
      s"the common l_partkey equality must be extracted for the join:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"OR-of-ANDs must not degrade to a nested-loop join:\n${p.take(2000)}")
  }

  test("q21: EXISTS/NOT EXISTS plan as semi + anti joins, no row multiplication") {
    val p = plan("q21_sole_returned_supplier")
    assert(p.contains("LeftSemi"), p.take(3000))
    assert(p.contains("LeftAnti"), p.take(3000))
    // returnflag pushdown reaches the lineitem scans
    assert(p.contains("EqualTo(l_returnflag,R)"), p.take(3000))
  }

  test("q22: threshold is a broadcast 1-row frame; urgent-order anti-join; no cartesian blowup") {
    val p = plan("q22_idle_rich_customers")
    assert(p.contains("LeftAnti"), p.take(3000))
    assert(p.contains("EqualTo(o_orderpriority,1-URGENT)"),
      s"priority filter must reach the orders scan:\n${p.take(3000)}")
    // the only nested-loop allowed is the intentional 1-row threshold broadcast
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q_encode: vocab joins as broadcast; no nested-loop anywhere") {
    val p = plan("q_encode")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("q_curation_report: contamination ids broadcast into the left join; no cartesian") {
    val p = plan("q_curation_report")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q5: dimension chain joins via broadcast, no sort-merge on dims") {
    val p = plan("q5_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(2000))
  }

  test("text scans stay in whole-stage codegen with pruned ReadSchema") {
    val p = plan("q_token_stats")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"))
    assert(!p.contains("Exchange"), "pure projection must not shuffle")
  }

  test("lang-id argmax stays linear: one score kernel per language in the plan") {
    // the r01 bug nested when()s that re-referenced prior score subtrees —
    // Catalyst doesn't CSE across branches, so each language's
    // filter+isInCollection kernel appeared ~2^n times (15.7 s / 5k docs).
    // withLangId projects scores once; CollapseProject must NOT inline them
    // back into the (twice-referencing) argmax projection.
    val p = plan("q_lang_id")
    // count a word unique to the German profile: each occurrence is one
    // materialization of that language's score kernel
    val kernels = "nicht".r.findAllIn(p).size
    assert(kernels >= 1, s"score kernel not visible in plan:\n${p.take(3000)}")
    assert(kernels <= 2, s"expected ≤ 2 copies of the de kernel, got $kernels:\n${p.take(3000)}")
    assert(!p.contains("Exchange"), "lang-id is a pure scan, no shuffle")
  }

  test("weighted sample ships the bounded-heap aggregate: partial min_k_by, no window sort") {
    val p = plan("q_weighted_sample")
    assert(p.contains("partial_graft_min_k_by"),
      s"map-side partial heap aggregation expected:\n${p.take(2000)}")
    assert(!p.contains("Window"), "the heap path must not fall back to row_number")
  }

  test("KS: cumulative counts go through PrefixSum, never an unpartitioned corpus window") {
    val p = plan("q_ks_arms")
    // PrefixSum's shape: range partitioning by the order key is present,
    // and no unpartitioned Window sorts the distinct-value table globally
    assert(p.contains("Exchange rangepartitioning"),
      s"PrefixSum range exchange expected:\n${p.take(2000)}")
    assert(!p.contains("Window [") || !p.contains("windowspecdefinition()"),
      "no unpartitioned window over the value table")
  }

  test("bootstrap: the replicate aggregation is map-side combined (partial before exchange)") {
    val p = plan("q_bootstrap_ci")
    assert(p.contains("partial_sum"),
      s"map-side partial aggregation of replicate weights expected:\n${p.take(2000)}")
    // the only windows order the B-row replicate table (bounded); the
    // corpus-side plan must not contain a cartesian product
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("deterministic IVF: no center cross join, no sort aggregate, posting-list equi-join") {
    val p = plan("q_knn_ivf_det")
    // posting lists and probes score the centers in one projection
    // (centerDistances); candidate scoring goes through the cid equi-join
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"no center cross join:\n${p.take(2000)}")
    assert(!p.contains("SortAggregate"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), s"posting-list equi-join expected:\n${p.take(2000)}")
  }

  test("replay clustering scores its centers in one projection: no cross join, no sort aggregate") {
    for (q <- Seq("q_kmeans_clusters", "q_kcenter_coreset", "q_gmm_soft")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q:\n${p.take(2000)}")
      assert(!p.contains("SortAggregate"), s"$q:\n${p.take(2000)}")
    }
  }

  test("embedding simhash signatures are a projection: no Generate over the micros") {
    val p = plan("q_simhash_embed_neardup")
    assert(!p.contains("Generate"), p.take(2500))
  }

  test("per-source zipf top-N ships the bounded heap: partial min_k_by, no vocab window sort") {
    val p = plan("q_zipf_by_source")
    assert(p.contains("partial_graft_min_k_by"),
      s"map-side partial heap aggregation expected:\n${p.take(2000)}")
    assert(!p.contains("Window"),
      "the per-group heap path must not fall back to a row_number window over the full vocabulary")
  }

  test("top-k prices ship the bounded heap: partial min_k_by, no window sort") {
    val p = plan("q_topk_prices")
    assert(p.contains("partial_graft_min_k_by"),
      s"map-side partial heap aggregation expected:\n${p.take(2000)}")
    assert(!p.contains("Window"), "the heap path must not fall back to row_number")
  }

  test("z-order key is a pure zero-shuffle projection") {
    val p = plan("q_zorder_key")
    assert(!p.contains("Exchange"), s"pure projection must not shuffle:\n${p.take(1500)}")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,l_linenumber"),
      s"scan must prune to the four used columns:\n${p.take(1500)}")
  }

  test("portable fingerprint is a zero-shuffle projection") {
    val p = plan("q_fingerprints_md5")
    assert(!p.contains("Exchange"), s"pure projection must not shuffle:\n${p.take(1500)}")
  }

  test("range join plans as a bucket equi-join, never a nested loop") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("fingerprint runs as the native codegen kernel, zero shuffles") {
    val p = plan("q_fingerprints")
    assert(p.contains("graft_fingerprint64"), s"native expression expected:\n${p.take(1500)}")
    assert(!p.contains("Exchange"))
  }

  test("cube: one Expand pass and one shuffle, not four scans") {
    val p = plan("q_cube_status")
    assert(p.contains("Expand"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert("FileScan parquet".r.findAllIn(p).size == 1, "cube must scan once:\n" + p)
  }

  test("pivot: one scan, two map-side-combining aggregates (count, then pivotfirst)") {
    val p = plan("q_pivot_type_hour")
    // (hour, type) count shuffles on the pair, pivotfirst re-keys on hour —
    // both with partial aggregation; never a per-value scan
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p)
    assert("FileScan parquet".r.findAllIn(p).size == 1, "pivot must scan once:\n" + p)
    assert(p.contains("partial_pivotfirst"), p)
    assert(p.contains("partial_count"), p)
  }

  test("r13 portable sketches and gopher gates: zero-shuffle projections, pruned scans") {
    Seq("q_gopher_gates", "q_simhash_md5", "q_minhash_md5_sigs").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must be a pure projection:\n${p.take(1500)}")
      assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
        s"$q must prune to (doc_id, text):\n${p.take(1500)}")
    }
  }

  test("dsir: bounded broadcast joins for the lambda tables, no cartesian on data scale") {
    val p = plan("q_dsir_scores")
    assert(p.contains("BroadcastHashJoin"), s"λ join must broadcast:\n${p.take(2000)}")
    assert(!p.toLowerCase.contains("cartesianproduct"),
      s"only the 1-row norm-term cross join may appear, as broadcast:\n${p.take(2000)}")
  }

  test("dup-ngram profile: aggregates before the hash join, never positions joined row-wise") {
    val p = plan("q_dup_ngram_stats")
    // both join inputs are aggregates: partial_sum/partial_count appear
    // upstream of the SortMergeJoin/ShuffledHashJoin on h
    assert(p.contains("partial_count") || p.contains("partial_sum"), p.take(2000))
    assert(!p.toLowerCase.contains("cartesianproduct"), p.take(2000))
  }

  test("gopher repetition coverage is a zero-shuffle projection") {
    val p = plan("q_gopher_repetition")
    assert(!p.contains("Exchange"), s"pure projection must not shuffle:\n${p.take(1500)}")
  }

  test("rrf fusion: query sides broadcast, corpus never sort-merge-joined") {
    val p = plan("q_rrf_fusion")
    assert(p.contains("BroadcastExchange"), "query terms / probe vectors must broadcast")
    assert(!p.contains("CartesianProduct"), s"no cartesian on data scale:\n${p.take(1500)}")
  }

  test("training order ranks via range partitioning, no single-partition window on data") {
    val p = plan("q_training_order")
    assert(p.contains("Exchange rangepartitioning"),
      s"PrefixSum rank must range-partition:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("media metadata query never reads the binary content from a media parquet") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-media").toString
    operators.Multimodal
      .toMediaTable(sources.Tables(spark, TestSpark.Sf0001).documents)
      .write.mode("overwrite").parquet(dir)
    val p = spark.read.parquet(dir)
      .select(col("doc_id"), col("media_type"))
      .queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<doc_id:bigint,media_type:string>"))
  }

  test("r15 text batteries: zero-shuffle projections on a pruned (doc_id, text) scan") {
    Seq("q_pii_scrub2", "q_normalize_text").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q must be a pure projection:\n${p.take(1500)}")
      assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
        s"$q must prune to (doc_id, text):\n${p.take(1500)}")
    }
    assert(plan("q_normalize_text").contains("graft_nfc"),
      "NFC must run as the native codegen kernel")
  }

  test("skew profiler: map-side-combined aggregates, no window, no cartesian") {
    val p = plan("q_skew_profile")
    assert(p.contains("partial_count") || p.contains("partial_sum"), p.take(2000))
    assert(!p.contains("Window"), s"no window machinery:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("matryoshka recall: probe side broadcast, corpus never sort-merge joined") {
    val p = plan("q_matryoshka_recall")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"probes must broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      s"corpus must stream against broadcast probes:\n${p.take(2000)}")
    assert(p.contains("ReadSchema: struct<embedding:array<float>,vec_id:bigint>") ||
      p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      s"scan must prune to (vec_id, embedding):\n${p.take(2000)}")
  }

  test("zone maps: distributed range ranks, no cartesian, stats-table aggregation") {
    val p = plan("q_zonemap_pruning")
    assert(p.contains("Exchange rangepartitioning"),
      s"PrefixSum rank must range-partition:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("winnowing fingerprints: doc-partitioned window, no cartesian, pruned scan") {
    // raw plan here: the parScan floor hashes by doc_id, which SATISFIES
    // the window's required distribution (exchange reuse) — the doc_id
    // hash exchange the pin wants may be exactly that node
    val p = SparkEntry.queries("q_winnow_fp_subset")(spark, TestSpark.Sf0001)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning\\(doc_id".r.findAllIn(p).nonEmpty,
      s"sliding-window min must partition by doc only:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    assert(!p.contains("Exchange SinglePartition") || p.contains("count"),
      s"no unpartitioned corpus window:\n${p.take(2000)}")
  }

  test("winnowing pairs: candidates via hash equi-join, never all-pairs") {
    val p = plan("q_winnow_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair detection must stay an equi-join:\n${p.take(2000)}")
  }

  test("perceptual hash: band pairs via equi-join, never all-pairs") {
    val p = plan("q_media_phash_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"band-bucket join must stay an equi-join:\n${p.take(2000)}")
  }

  test("distinct-n diversity: no cartesian, one aggregate over the gram union") {
    val p = plan("q_distinct_ngrams")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("mSPRT: corpus touches only groupBys; windows run on the days table") {
    val p = plan("q_msprt_lift")
    // exactly one single-partition exchange feeds the bounded days window
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 2,
      s"only the bounded days table may single-partition:\n${p.take(2500)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("winnowing fingerprints run the native gram kernel, not a HOF lambda") {
    val p = plan("q_winnow_fp_subset")
    assert(p.contains("graft_gram_hashes"),
      s"gram hashing must be the GramHash kernel:\n${p.take(2000)}")
    // the CollapseProject hazard was the regex INSIDE a lambda (evaluated
    // per gram); per-row duplicates across filter/project are harmless
    assert(!p.contains("lambdafunction"),
      s"no HOF lambda may remain in the gram path:\n${p.take(2500)}")
  }

  test("wordpiece encode: native greedy kernel, no join after the word aggregate") {
    val p = plan("q_wordpiece_encode")
    assert(p.contains("graft_wordpiece_segment"),
      s"encode must run the native WordPieceSegment kernel:\n${p.take(2000)}")
    // vocab ships as an expression literal, so the encode+subword-count
    // side adds NO join — the only joins/cartesians allowed are none
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      s"encode must be a zero-join projection over the word table:\n${p.take(2500)}")
  }

  test("dedup method-agreement audit plans ONE similarity join, not two") {
    val q = SparkEntry.queries("q_dedup_method_overlap")(spark, TestSpark.Sf0001)
    val p = stripParScan(q.queryExecution.executedPlan.toString)
    // the r16 weak finding: the two-branch union consumed the PPJoin frame
    // twice; the explode spelling must leave exactly one prefix-filter
    // equi-join subtree read once through a Generate
    assert(p.contains("Generate explode"),
      s"pair endpoints must come from one exploded read:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("mp4 metadata: zero shuffle before the per-row box walk") {
    val p = plan("q_media_mp4_meta")
    assert(!p.contains("Exchange hashpartitioning"),
      s"synthesis + parse must stay a per-partition projection:\n${p.take(2500)}")
  }

  test("bottom-k sketch family: every window is group-partitioned, never global") {
    for (q <- Seq("q_quantile_sketch", "q_user_overlap", "q_stream_bottomk")) {
      val p = plan(q)
      assert(!p.contains("Exchange SinglePartition"),
        s"$q must not funnel the corpus through one partition:\n${p.take(2500)}")
    }
  }

  test("AVI decode family: zero shuffle before the per-row walk/decode") {
    for (q <- Seq("q_media_avi_meta", "q_media_avi_frames")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q synthesis + parse + decode must stay per-partition:\n${p.take(2500)}")
    }
  }

  test("deterministic LSH kNN: probe side broadcast, no cartesian, no nested loop") {
    val p = plan("q_knn_lsh")
    assert(p.contains("BroadcastHashJoin"),
      s"the (t, bucket) candidate join must broadcast the probe side:\n${p.take(2500)}")
    assert(!p.contains("CartesianProduct"), p.take(2500))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"every join must be an equi-join (bucket keys):\n${p.take(2500)}")
  }

  test("byte-BPE symbolization: the hex->symbol map is a zero-join projection") {
    // the 256-entry table rides as a map literal inside the projection —
    // a join against a 256-row frame would shuffle the word table
    val p = graft.operators.ByteBpe.symbolizeBytes(
      graft.operators.Vocab.wordCounts(
        graft.sources.Tables(spark, TestSpark.Sf0001).documents))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"symbolization must not join:\n${p.take(2500)}")
  }

  test("BLEU/chrF: the pair join is the ONLY join — clipped matches fold per row") {
    for (q <- Seq("q_bleu_corpus", "q_chrf_corpus", "q_rouge_corpus")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n${p.take(2500)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n${p.take(2500)}")
      // one doc_id-successor join builds the pairs; a second join would be
      // the (pair, gram) counting shuffle the per-row fold replaced
      val joins = "Join".r.findAllIn(p).size
      assert(joins <= 2, s"$q expected only the pair join, got $joins Join nodes:\n${p.take(2500)}")
      assert(p.contains("partial_count") || p.contains("partial_sum"),
        s"$q final aggregate must map-side combine:\n${p.take(2500)}")
    }
  }

  test("agreement metrics: zero-join projection + one grouped aggregate") {
    for (q <- Seq("q_fleiss_kappa", "q_krippendorff_alpha")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q must not join:\n${p.take(2500)}")
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
      assert(exchanges == 1, s"$q expected 1 exchange:\n${p.take(2500)}")
    }
  }

  test("pass@k: one events scan, one grouped + one global aggregate, no per-k branches") {
    val p = plan("q_pass_at_k")
    assert(!p.contains("Union"), s"per-k union branches would re-scan events:\n${p.take(2500)}")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 events scan, got $scans:\n${p.take(2500)}")
  }

  test("CUSUM: every window is type-partitioned, never a single-partition global") {
    val p = plan("q_cusum_chart")
    assert(p.contains("Window"), p.take(1500))
    assert(!p.contains("Exchange SinglePartition"),
      s"a global window would serialize the whole chart:\n${p.take(2500)}")
    assert(!p.contains("Join"), s"the chart is windows over one aggregate:\n${p.take(2500)}")
  }

  test("Holt-Winters daily series: one aggregation, map-side combined") {
    val p = graft.operators.HoltWinters.dailySeries(
      graft.sources.Tables(spark, TestSpark.Sf0001).events)
      .queryExecution.executedPlan.toString
    assert(p.contains("partial_sum"), s"micros sum must map-side combine:\n${p.take(2000)}")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly one shuffle:\n${p.take(2000)}")
  }

  test("Bradley-Terry win matrix: equi-join on the successor id, no cartesian") {
    val p = graft.operators.BradleyTerry.winMatrix(
      graft.sources.Tables(spark, TestSpark.Sf0001).documents)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2500))
    assert(p.contains("partial_count"), s"win counts must map-side combine:\n${p.take(2500)}")
  }

  test("linkage: one exchange per side (cap window partitioning reused by the block join)") {
    val p = plan("q_linkage_scores")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2,
      s"blocking must shuffle each side ONCE on the block key (window + join share it):\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"blocking is an equi-join, never all-pairs:\n${p.take(3000)}")
  }

  test("mjpeg frame decode: zero shuffles (scan -> fixture map -> decode mapPartitions)") {
    val p = plan("q_media_mjpeg_frames")
    assert(!p.contains("Exchange"), s"frame decode must be embarrassingly parallel:\n${p.take(2500)}")
  }

  test("decayed counters: one shuffle (the key aggregate); weights are a projection") {
    val p = plan("q_decayed_counts")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"decay weights must not add shuffles:\n${p.take(2500)}")
    assert(p.contains("partial_count"), s"map-side combine expected:\n${p.take(2500)}")
  }

  test("shapley: the corpus aggregate runs once (checkpointed rates feed both aliases)") {
    val p = plan("q_shapley_attribution")
    assert(!p.contains("Exchange hashpartitioning(user_id"),
      s"the per-user coalition aggregate must not appear twice in the final plan:\n${p.take(2500)}")
  }

  test("merge apply: ONE full-outer join on the key, no cartesian, bounded exchanges") {
    val p = plan("q_merge_apply")
    assert("FullOuter".r.findAllIn(p).size == 1,
      s"exactly one full-outer join classifies every key:\n${p.take(2500)}")
    assert(!p.contains("CartesianProduct"), p.take(2500))
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      s"last-writer window + join co-partitioning only:\n${p.take(2500)}")
  }

  test("als det: factor sides broadcast (items are tiny); rec join is broadcast-NLJ not cartesian") {
    val p = plan("q_als_det")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"recommendForAllUsers must broadcast the 100-item factor table:\n${p.take(2500)}")
    assert(!p.contains("CartesianProduct"), p.take(2500))
  }

  test("semantic decontamination: sign table broadcast, pair stage bucket-equi (no cartesian)") {
    val p = plan("q_semantic_decontaminate")
    assert(p.contains("BroadcastExchange"),
      s"the nPlanes·d sign table must broadcast:\n${p.take(2500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairs join on the bucket id:\n${p.take(2500)}")
  }

  test("link prediction: cap pre-pushed below its exchange, pair aggregate map-side combined") {
    val p = plan("q_link_prediction")
    assert(p.contains("WindowGroupLimit"),
      s"the basket cap must push a partial rank limit below the shuffle:\n${p.take(2500)}")
    assert(p.contains("partial_sum"),
      s"pair weights must map-side combine:\n${p.take(2500)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the pair stage is an equi-join on the user:\n${p.take(2500)}")
  }
}
