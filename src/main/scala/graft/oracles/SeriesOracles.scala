package graft.oracles

import graft.functions.Money
import graft.oracles.SharedCtes._

/** Generated DuckDB oracle replays: time-series / sequential-analysis /
  * iterative-ML-replay family (PCA, Markov chains, GMM/SGD/Holt-Winters
  * trajectory replays, ACF, CUPED, wavelets, CUSUM, mSPRT, rank and
  * product-moment correlation, funnel quantiles, robust trend).
  *
  * Split out of StatsOracles.scala (r23 hygiene split — the r18
  * SparkEntry lesson applied before the file re-created it); every val
  * moved VERBATIM, no behavior change, hashes unchanged.
  */
private[graft] object SeriesOracles {

  private[graft] lazy val PcaOracleSql: String = {
    val D = 8; val Iters = 5
    val dims = 0 until D
    val v0 = dims.map(i =>
      s"CAST(1.0 AS DOUBLE) / sqrt(CAST($D.0 AS DOUBLE)) AS v0_$i")
    def matvec(t: Int, vPrev: Int) = dims.map(i =>
      dims.map(j => s"c${i}_$j * v${vPrev}_$j").mkString(" + ") + s" AS w${t}_$i")
    def normed(t: Int) =
      "sqrt(" + dims.map(i => s"w${t}_$i * w${t}_$i").mkString(" + ") + s") AS nrm$t"
    val iterCtes = (1 to Iters).flatMap { t =>
      Seq(
        s"w$t AS (SELECT *, ${matvec(t, t - 1).mkString(", ")} FROM it${t - 1})",
        s"n$t AS (SELECT *, ${normed(t)} FROM w$t)",
        s"it$t AS (SELECT *, ${dims.map(i => s"w${t}_$i / nrm$t AS v${t}_$i").mkString(", ")} FROM n$t)")
    }
    val wf = dims.map(i =>
      dims.map(j => s"c${i}_$j * v${Iters}_$j").mkString(" + ") + s" AS wf_$i")
    val eig = dims.map(i => s"v${Iters}_$i * wf_$i").mkString(" + ")
    val rows = dims.map(i =>
      s"SELECT CAST($i AS BIGINT) AS idx, round(v${Iters}_$i, 6) AS loading, " +
        s"round(eig, 6) AS eigval FROM fin").mkString("\nUNION ALL ")
    s"""${momentCovCte(D)},
       |it0 AS (SELECT *, ${v0.mkString(", ")} FROM c),
       |${iterCtes.mkString(",\n")},
       |wfin AS (SELECT *, ${wf.mkString(", ")} FROM it$Iters),
       |fin AS (SELECT *, $eig AS eig FROM wfin)
       |$rows""".stripMargin
  }

  /** Generated DuckDB replay of Pca.topTwoComponents (d = 8, 5 rounds per
    * component): first power iteration on `c`, Hotelling deflation
    * dc = c − λ₁v₁v₁ᵀ, second power iteration on `dc`, floor(x·10⁶+0.5)
    * output rounding on both loadings and eigenvalues.
    */
  private[graft] lazy val PcaTwoOracleSql: String = {
    val D = 8; val Iters = 5
    val dims = 0 until D
    def f6(x: String) =
      s"floor(($x) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)"
    def rayleigh(mat: String, v: String, wf: String) = {
      val wfCols = dims.map(i =>
        dims.map(j => s"$mat${i}_$j * ${v}${Iters}_$j").mkString(" + ") + s" AS ${wf}_$i")
      val eigSum = dims.map(i => s"${v}${Iters}_$i * ${wf}_$i").mkString(" + ")
      (wfCols, eigSum)
    }
    val (wf1, eig1) = rayleigh("c", "v", "vwf")
    val defl = for { i <- dims; j <- dims }
      yield s"c${i}_$j - eig1 * v${Iters}_$i * v${Iters}_$j AS dc${i}_$j"
    val (wf2, eig2) = rayleigh("dc", "u", "uwf")
    val rows = dims.map(i =>
      s"SELECT CAST($i AS BIGINT) AS idx, ${f6(s"v${Iters}_$i")} AS loading1, " +
        s"${f6("eig1")} AS eigval1, ${f6(s"u${Iters}_$i")} AS loading2, " +
        s"${f6("eig2")} AS eigval2 FROM fin2")
      .mkString("\nUNION ALL ")
    s"""${momentCovCte(D)},
       |${powerIterCtes(D, Iters, "c", "v", "c")},
       |vwfin AS (SELECT *, ${wf1.mkString(", ")} FROM vit$Iters),
       |fin1 AS (SELECT *, $eig1 AS eig1 FROM vwfin),
       |defl AS (SELECT *, ${defl.mkString(",\n       ")} FROM fin1),
       |${powerIterCtes(D, Iters, "dc", "u", "defl")},
       |uwfin AS (SELECT *, ${wf2.mkString(", ")} FROM uit$Iters),
       |fin2 AS (SELECT *, $eig2 AS eig2 FROM uwfin)
       |$rows""".stripMargin
  }

  /** Generated DuckDB replay of Correlation.matrix (d = 8): Pearson r for
    * every upper-triangle pair from the same rounded moment stats.
    */
  private[graft] lazy val CorrelationOracleSql: String = {
    val D = 8
    val rows = for { i <- 0 until D; j <- i until D } yield
      s"SELECT CAST($i AS BIGINT) AS i, CAST($j AS BIGINT) AS j, " +
        s"CASE WHEN c${i}_$i <= 0 OR c${j}_$j <= 0 THEN NULL " +
        s"ELSE round(c${i}_$j / (sqrt(c${i}_$i) * sqrt(c${j}_$j)), 6) END AS corr " +
        "FROM c"
    s"""${momentCovCte(D)}
       |${rows.mkString("\nUNION ALL ")}""".stripMargin
  }

  /** Generated DuckDB replay of Markov.stationary over [[MarkovStatesList]]:
    * exact-integer transition counts pivoted to one row, 12 power-iteration
    * rounds with L1 renormalization unrolled CTE-per-round (ascending-index
    * left-assoc sums — the driver fold order), per-state entropies as
    * explicit zero-gated term chains, floor(x·10⁶+0.5) output rounding.
    */
  private[graft] lazy val MarkovStationarySql: String = {
    val sts = MarkovStatesList
    val k = sts.length; val Iters = 12
    val dims = 0 until k
    def f6(x: String) =
      s"floor(($x) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) / CAST(1000000.0 AS DOUBLE)"
    val cntCols = for { i <- dims; j <- dims } yield
      s"count(*) FILTER (WHERE cur = '${sts(i)}' AND next = '${sts(j)}') AS n${i}_$j"
    val fromCols = dims.map(i =>
      dims.map(j => s"n${i}_$j").mkString(" + ") + s" AS f$i")
    val pCols = for { i <- dims; j <- dims } yield
      s"CASE WHEN f$i = 0 THEN CAST(${if (i == j) "1.0" else "0.0"} AS DOUBLE) " +
        s"ELSE CAST(n${i}_$j AS DOUBLE) / f$i END AS p${i}_$j"
    val hCols = dims.map(i => dims.map(j =>
      s"CASE WHEN n${i}_$j > 0 THEN -(p${i}_$j * ln(p${i}_$j)) " +
        "ELSE CAST(0.0 AS DOUBLE) END").mkString(" + ") + s" AS h$i")
    val pi0 = dims.map(j => s"CAST(1.0 AS DOUBLE) / $k AS pi0_$j")
    val iterCtes = (1 to Iters).flatMap { t =>
      val mv = dims.map(j =>
        dims.map(i => s"pi${t - 1}_$i * p${i}_$j").mkString(" + ") + s" AS w${t}_$j")
      val sm = dims.map(j => s"w${t}_$j").mkString(" + ") + s" AS s$t"
      Seq(
        s"mw$t AS (SELECT *, ${mv.mkString(", ")} FROM mi${t - 1})",
        s"ms$t AS (SELECT *, $sm FROM mw$t)",
        s"mi$t AS (SELECT *, ${dims.map(j => s"w${t}_$j / s$t AS pi${t}_$j").mkString(", ")} FROM ms$t)")
    }
    val rate = dims.map(i => s"pi${Iters}_$i * h$i").mkString(" + ")
    val rows = dims.map(i =>
      s"SELECT '${sts(i)}' AS state, ${f6(s"pi${Iters}_$i")} AS pi, " +
        s"${f6(s"h$i")} AS h_state, ${f6("er")} AS entropy_rate FROM fin")
      .mkString("\nUNION ALL ")
    s"""WITH e AS (
       |  SELECT user_id, event_type AS cur, epoch_ns(ts) // 1000 AS ts_us,
       |         event_id
       |  FROM events
       |), seq AS (
       |  SELECT cur,
       |         lead(cur) OVER (PARTITION BY user_id
       |                         ORDER BY ts_us, event_id) AS next
       |  FROM e
       |), cnt AS (
       |  SELECT ${cntCols.mkString(",\n         ")}
       |  FROM seq WHERE next IS NOT NULL
       |), base AS (
       |  SELECT *, ${fromCols.mkString(",\n         ")} FROM cnt
       |), pm AS (
       |  SELECT *, ${pCols.mkString(",\n         ")} FROM base
       |), hm AS (
       |  SELECT *, ${hCols.mkString(",\n         ")} FROM pm
       |), mi0 AS (SELECT *, ${pi0.mkString(", ")} FROM hm),
       |${iterCtes.mkString(",\n")},
       |fin AS (SELECT *, $rate AS er FROM mi$Iters)
       |$rows""".stripMargin
  }

  /** Generated replay of Quantiles.byGroup over the funnel step gaps: the
    * rank-bracket interpolation with integer position math — no engine
    * quantile built-in, no output rounding needed (identical IEEE ops).
    */
  private[graft] lazy val FunnelQuantilesSql: String = {
    val ps = Seq(25, 50, 75, 90)
    def lo(p: Int) = s"CAST(floor(((nn - 1) * $p) / CAST(100.0 AS DOUBLE)) AS BIGINT)"
    val abCols = ps.flatMap(p => Seq(
      s"max(CASE WHEN rn = ${lo(p)} THEN v END) AS a$p",
      s"max(CASE WHEN rn = least(${lo(p)} + 1, nn - 1) THEN v END) AS b$p"))
    val qCols = ps.map(p =>
      s"CAST(a$p AS DOUBLE) + ((n - 1) * $p % 100) / CAST(100.0 AS DOUBLE) * (b$p - a$p) AS p$p")
    s"""WITH e AS (
       |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us FROM events
       |), s1 AS (
       |  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts_us END) AS t1
       |  FROM e GROUP BY user_id
       |), s2 AS (
       |  SELECT e.user_id, s1.t1,
       |         min(CASE WHEN e.event_type = 'click' AND e.ts_us >= s1.t1
       |                  THEN e.ts_us END) AS t2
       |  FROM e JOIN s1 ON e.user_id = s1.user_id GROUP BY e.user_id, s1.t1
       |), s3 AS (
       |  SELECT e.user_id, s2.t1, s2.t2,
       |         min(CASE WHEN e.event_type = 'purchase' AND e.ts_us >= s2.t2
       |                  THEN e.ts_us END) AS t3
       |  FROM e JOIN s2 ON e.user_id = s2.user_id GROUP BY e.user_id, s2.t1, s2.t2
       |), gaps AS (
       |  SELECT 'view_to_click' AS gap, t2 - t1 AS v FROM s3
       |  UNION ALL
       |  SELECT 'click_to_purchase' AS gap, t3 - t2 AS v FROM s3
       |), ranked AS (
       |  SELECT gap, v,
       |         CAST(row_number() OVER (PARTITION BY gap ORDER BY v) AS BIGINT) - 1 AS rn,
       |         CAST(count(*) OVER (PARTITION BY gap) AS BIGINT) AS nn
       |  FROM gaps WHERE v IS NOT NULL
       |), br AS (
       |  SELECT gap, CAST(count(*) AS BIGINT) AS n,
       |         ${abCols.mkString(",\n         ")}
       |  FROM ranked GROUP BY gap
       |)
       |SELECT gap, n, ${qCols.mkString(",\n       ")}
       |FROM br""".stripMargin
  }

  /** Mann–Kendall/Theil–Sen replay: the same O(n²) pair join over the
    * daily rollup, exact S, one τ division, the lower-median pair's
    * single slope ratio selected by rank (never averaged).
    */
  private[graft] lazy val RobustTrendOracleSql: String =
    s"""WITH e AS (SELECT (epoch_ns(ts) // 1000) // 86400000000 AS day FROM events),
       |s AS (SELECT day, CAST(count(*) AS BIGINT) AS y FROM e GROUP BY day),
       |p AS (SELECT a.day AS x1, a.y AS y1, b.day AS x2, b.y AS y2
       |      FROM s a JOIN s b ON b.day > a.day),
       |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |         CAST(sum(CASE WHEN y2 > y1 THEN 1 WHEN y2 < y1 THEN -1 ELSE 0 END)
       |              AS BIGINT) AS s_stat
       |       FROM p),
       |np AS (SELECT CAST(count(*) AS BIGINT) AS n_points FROM s),
       |sl AS (SELECT CAST(y2 - y1 AS DOUBLE) / CAST(x2 - x1 AS DOUBLE) AS sl, x1, x2
       |       FROM p),
       |rk AS (SELECT sl, row_number() OVER (ORDER BY sl, x1, x2) AS rn FROM sl),
       |md AS (SELECT CAST(floor(rk.sl * 1000000.0 + 0.5) AS BIGINT)
       |              AS theil_sen_slope_e6
       |       FROM rk CROSS JOIN ag WHERE rk.rn = (ag.n_pairs + 1) // 2)
       |SELECT np.n_points, ag.n_pairs, ag.s_stat,
       |       CAST(floor(CAST(ag.s_stat AS DOUBLE) / CAST(ag.n_pairs AS DOUBLE)
       |            * 1000000.0 + 0.5) AS BIGINT) AS tau_e6,
       |       md.theil_sen_slope_e6
       |FROM np CROSS JOIN ag CROSS JOIN md""".stripMargin

  /** Generated DuckDB replay of SgdReplay.fit over the session features
    * (4 epochs, 6 min-max-micro features, lr=1): the FeaturesSql CTE feeds
    * a min-max quantizer (min/max of doubles are order-free; quantization
    * is floor((x-mn)/(mx-mn)*1e6+0.5), a fixed tree of single IEEE ops);
    * each epoch is one CTE pair computing per-row margins t = wb*1e6 +
    * Σ w_i*x_i (exact BIGINT), z = t/1e12 (one double division), the
    * rational sigmoid 0.5 + 0.5*z/(1+abs(z)) (no transcendental — libm exp
    * last-ulp drift is why DistributedSgd stays rows-only), the e6-
    * quantized per-row gradient, and exact BIGINT gradient sums; weight
    * updates replay the driver's floor(G/(n*1e6)+0.5) double spelling.
    * Every number is either an exact BIGINT or one IEEE op both engines
    * evaluate identically — the hash match is structural.
    */
  private[graft] lazy val SgdDetOracleSql: String = {
    val feats = Seq("view_count", "cart_count", "session_duration",
      "avg_price", "max_price", "unique_items")
    val n = feats.size
    val epochs = 4
    val mmSel = feats.zipWithIndex.map { case (c, i) =>
      s"min(CAST($c AS DOUBLE)) AS mn$i, max(CAST($c AS DOUBLE)) AS mx$i"
    }.mkString(", ")
    val fxSel = feats.zipWithIndex.map { case (c, i) =>
      s"CASE WHEN mx$i > mn$i THEN CAST(floor((CAST($c AS DOUBLE) - mn$i) / (mx$i - mn$i) * 1000000.0 + 0.5) AS BIGINT) ELSE CAST(0 AS BIGINT) END AS x$i"
    }.mkString(",\n         ")
    def zExpr(w: String) =
      s"CAST($w.wb * 1000000 + " +
        (0 until n).map(i => s"$w.w$i * f.x$i").mkString(" + ") +
        " AS DOUBLE) / 1000000000000.0"
    val e0 = (0 until n).map(i => s"CAST(0 AS BIGINT) AS w$i").mkString(", ") +
      ", CAST(0 AS BIGINT) AS wb"
    val rounds = (1 to epochs).map { r =>
      val sums = (0 until n).map(i => s"CAST(sum(gq * x$i) AS BIGINT) AS g$i").mkString(", ")
      val upd = (0 until n).map(i =>
        s"e.w$i - CAST(floor(CAST(g.g$i AS DOUBLE) / (CAST(g.n AS DOUBLE) * 1000000.0) + 0.5) AS BIGINT) AS w$i"
      ).mkString(",\n         ")
      s"""z$r AS (
         |  SELECT f.*, ${zExpr("e")} AS z
         |  FROM fx f CROSS JOIN e${r - 1} e),
         |g$r AS (
         |  SELECT $sums, CAST(sum(gq) AS BIGINT) AS gb, count(*) AS n
         |  FROM (SELECT t.*, CAST(floor((0.5 + 0.5 * z / (1.0 + abs(z)) - CAST(label AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS gq
         |        FROM z$r t) u),
         |e$r AS (
         |  SELECT $upd,
         |         e.wb - CAST(floor(CAST(g.gb AS DOUBLE) / CAST(g.n AS DOUBLE) + 0.5) AS BIGINT) AS wb
         |  FROM e${r - 1} e CROSS JOIN g$r g)""".stripMargin
    }.mkString(",\n")
    s"""$FeaturesSql,
       |mm AS (SELECT $mmSel FROM features),
       |fx AS (
       |  SELECT user_session, label,
       |         $fxSel
       |  FROM features CROSS JOIN mm),
       |e0 AS (SELECT $e0),
       |$rounds,
       |zf AS (
       |  SELECT f.user_session, f.label, ${zExpr("e")} AS z
       |  FROM fx f CROSS JOIN e$epochs e)
       |SELECT user_session, label,
       |       CAST(floor((0.5 + 0.5 * z / (1.0 + abs(z))) * 1000000.0 + 0.5) AS BIGINT) AS score_micros
       |FROM zf""".stripMargin
  }

  /** mSPRT replay ([[graft.operators.Msprt.sequentialLift]]): md5 arms,
    * (user, day) trials, windowed cumulative BIGINTs over the days table,
    * then ONE fixed-spelling log-Λ double chain per look (textual
    * expansion below keeps the IEEE association identical to the Column
    * tree), e6-quantized before the integer running max.
    */
  private[graft] lazy val MsprtOracleSql: String = {
    val T = 0.0025d.toString
    val pa = "(CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE))"
    val pb = "(CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
    val pool = "(CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))"
    val v = s"($pool * (1.0 - $pool) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))"
    s"""WITH ud AS (
       |  SELECT user_id, (epoch_ns(ts) // 1000) // 86400000000 AS day,
       |         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv
       |  FROM events GROUP BY 1, 2),
       |ar AS (
       |  SELECT day,
       |         ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT % 2 AS arm,
       |         conv
       |  FROM ud),
       |dd AS (
       |  SELECT day,
       |         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS dn_a,
       |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS dn_b,
       |         CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS dx_a,
       |         CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS dx_b
       |  FROM ar GROUP BY day),
       |c AS (
       |  SELECT day,
       |         CAST(sum(dn_a) OVER w AS BIGINT) AS n_a,
       |         CAST(sum(dn_b) OVER w AS BIGINT) AS n_b,
       |         CAST(sum(dx_a) OVER w AS BIGINT) AS x_a,
       |         CAST(sum(dx_b) OVER w AS BIGINT) AS x_b
       |  FROM dd WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)),
       |ll AS (
       |  SELECT day, n_a, n_b, x_a, x_b,
       |         CAST(floor((CASE WHEN n_a = 0 OR n_b = 0 OR x_a + x_b = 0
       |                            OR x_a + x_b = n_a + n_b THEN 0.0
       |                     ELSE 0.5 * ln($v / ($v + $T))
       |                          + ($pb - $pa) * ($pb - $pa) * $T
       |                            / (2.0 * $v * ($v + $T))
       |                     END) * 1000000.0 + 0.5) AS BIGINT) AS log_lambda_e6
       |  FROM c)
       |SELECT day, n_a, n_b, x_a, x_b, log_lambda_e6,
       |       -greatest(max(log_lambda_e6) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING),
       |                 0) AS ln_p_e6,
       |       -greatest(max(log_lambda_e6) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING),
       |                 0) <= ${graft.operators.Msprt.LnAlphaE6} AS significant
       |FROM ll""".stripMargin
  }

  /** Generated DuckDB replay of GmmReplay.softAssignments (d=64, k=8,
    * 2 EM rounds, σ²=0.25): the pseudo-exp kernel pexp(x)=(1+x/2¹⁶)^(2¹⁶)
    * is 16 explicit IEEE squarings via lateral column aliases — pure ·/+
    * arithmetic both engines replay bit-for-bit. The E-step denominator is
    * the same fixed left-assoc sum over ascending cid the Scala side folds
    * (COALESCE-to-0.0 keeps dropped clusters exact: +0.0 is the IEEE
    * identity on the positive kernel values); responsibilities quantize to
    * integer micros, and the M-step is exact BIGINT sufficient statistics
    * with the same floor(S/w + 0.5) centers and truncating piq division as
    * KMeansOracleSql — so the hash match is structural.
    */
  private[graft] lazy val GmmOracleSql: String = {
    val D = 64; val K = 8; val R = 2
    // IDENTICAL IEEE product to GmmReplay.softAssignments' internal
    // 2σ²·10¹² — spliced via Double.toString so both engines divide by
    // the same double
    val twoSigmaSqE12 = 2.0d * 0.05d * 1.0e12d
    val dims = 0 until D
    val cids = 0 until K
    val ptCols = dims.map(i =>
      s"CAST(floor(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS x$i")
    val distExpr =
      dims.map(i => s"(p.x$i - c.x$i) * (p.x$i - c.x$i)").mkString(" + ")
    // one E-step against center table c$r: BIGINT distance, clamped x,
    // pseudo-exp, pivot to num{c} columns, fixed-order den, micro resps.
    // MATERIALIZED everywhere: DuckDB expands lateral/projected aliases by
    // TREE SUBSTITUTION, so 16 chained squarings in one SELECT become a
    // 2¹⁶-node expression (23 s planning, measured) — one materialized CTE
    // per squaring keeps the tree linear (0.7 s). Same reason the Scala
    // side folds the squarings in one `aggregate` (PseudoExp.pexp).
    def eStep(r: Int): String = {
      val pexpCtes = (1 to 16).map(i =>
        s"px${r}_$i AS MATERIALIZED (SELECT vec_id, cid, piq, p * p AS p FROM px${r}_${i - 1})")
        .mkString(",\n")
      val pivots = cids.map(c =>
        s"max(CASE WHEN cid = $c THEN num END) AS num$c").mkString(",\n         ")
      val den = cids.map(c => s"COALESCE(num$c, 0.0)").reduceLeft((a, b) => s"($a + $b)")
      val resps = cids.map(c =>
        s"CAST(floor(num$c / den * 1000000.0 + 0.5) AS BIGINT) AS r$c")
        .mkString(",\n         ")
      s"""e$r AS MATERIALIZED (
         |  SELECT p.vec_id, c.cid, c.piq,
         |         greatest(-CAST($distExpr AS DOUBLE) / $twoSigmaSqE12, -30.0) AS x
         |  FROM pts p CROSS JOIN c$r c
         |), px${r}_0 AS MATERIALIZED (
         |  SELECT vec_id, cid, piq, 1.0 + x / 65536.0 AS p
         |  FROM e$r
         |),
         |$pexpCtes,
         |pv$r AS MATERIALIZED (
         |  SELECT vec_id,
         |         $pivots
         |  FROM (SELECT vec_id, cid, CAST(piq AS DOUBLE) * p AS num FROM px${r}_16)
         |  GROUP BY vec_id
         |), rr$r AS MATERIALIZED (
         |  SELECT vec_id,
         |         $resps
         |  FROM (SELECT *, $den AS den FROM pv$r)
         |)""".stripMargin
    }
    // one M-step from rr$r: unpivot the K resp columns back to rows, then
    // ONE exact-BIGINT sufficient-statistics aggregate grouped by cid and
    // ONE center projection (zero-weight clusters drop via the WHERE) —
    // K+65 expressions instead of the K·(d+1)-column pivoted spelling
    def mStep(r: Int): String = {
      val unpiv = cids.map(c =>
        s"SELECT vec_id, $c AS cid, r$c AS rv FROM rr$r WHERE r$c IS NOT NULL")
        .mkString("\n  UNION ALL\n  ")
      val sums = (dims.map(i => s"CAST(sum(ru.rv * p.x$i) AS BIGINT) AS s$i") :+
        s"CAST(sum(ru.rv) AS BIGINT) AS w").mkString(",\n         ")
      val mu = dims.map(i =>
        s"CAST(floor(CAST(s$i AS DOUBLE) / CAST(w AS DOUBLE) + 0.5) AS BIGINT) AS x$i")
        .mkString(",\n         ")
      s"""ru$r AS MATERIALIZED (
         |  $unpiv
         |), s$r AS MATERIALIZED (
         |  SELECT ru.cid,
         |         $sums
         |  FROM ru$r ru JOIN pts p USING (vec_id) GROUP BY ru.cid
         |), c${r + 1} AS MATERIALIZED (
         |  SELECT CAST(cid AS BIGINT) AS cid,
         |         CAST(w * 1000000 // (SELECT sum(w) FROM s$r) AS BIGINT) AS piq,
         |         $mu
         |  FROM s$r WHERE w > 0
         |)""".stripMargin
    }
    val roundCtes = (0 to R).map(r => if (r == R) eStep(r) else eStep(r) + ",\n" + mStep(r))
    val unpivot = cids.map(c =>
      s"SELECT vec_id, CAST($c AS BIGINT) AS cid, r$c AS resp_micro FROM rr$R WHERE r$c IS NOT NULL")
      .mkString("\nUNION ALL\n")
    s"""WITH pts AS MATERIALIZED (
       |  SELECT vec_id, ${ptCols.mkString(",\n         ")}
       |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) >= $D
       |), sd AS (
       |  SELECT vec_id,
       |         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
       |  FROM pts
       |), c0 AS MATERIALIZED (
       |  SELECT sd.cid AS cid, CAST(${1000000 / K} AS BIGINT) AS piq,
       |         ${dims.map(i => s"p.x$i").mkString(", ")}
       |  FROM sd JOIN pts p USING (vec_id) WHERE sd.cid < $K
       |),
       |${roundCtes.mkString(",\n")}
       |SELECT vec_id, cid, resp_micro FROM (
       |$unpivot)
       |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY resp_micro DESC, cid) = 1""".stripMargin
  }

  /** Generated DuckDB replay of Autocorrelation.hourlyAcf (lags 1..6):
    * dense zero-filled hour grid, exact integer sufficient statistics
    * (T, Σx, Σx², per-lag Σx·x_ℓ and the two boundary sums), one replayed
    * double expression per lag with m = S/T, floor-6 output.
    */
  private[graft] lazy val AcfOracleSql: String = {
    val L = 6
    val lagCols = (1 to L).map(l => s"lag(x, $l) OVER (ORDER BY h) AS x$l")
    val aggCols = (1 to L).flatMap(l =>
      Seq(
        s"CAST(sum(x * x$l) AS BIGINT) AS p$l",
        s"CAST(sum(CASE WHEN x$l IS NOT NULL THEN x END) AS BIGINT) AS a$l",
        s"CAST(sum(x$l) AS BIGINT) AS b$l"))
    val m = "(CAST(s AS DOUBLE) / CAST(tt AS DOUBLE))"
    val rows = (1 to L).map { l =>
      val num = s"CAST(p$l AS DOUBLE) - $m * CAST(a$l + b$l AS DOUBLE)" +
        s" + CAST(tt - $l AS DOUBLE) * $m * $m"
      val den = s"CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * $m"
      s"SELECT CAST($l AS BIGINT) AS lag, " +
        s"floor((($num) / ($den)) * 1000000.0 + 0.5) / 1000000.0 AS acf FROM ag"
    }
    s"""WITH hrs AS (
       |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h, count(*) AS c
       |  FROM events GROUP BY 1
       |), bnd AS (SELECT min(h) AS h0, max(h) AS h1 FROM hrs),
       |dense AS (
       |  SELECT g.h, COALESCE(hrs.c, 0) AS x
       |  FROM (SELECT unnest(range((SELECT h0 FROM bnd), (SELECT h1 FROM bnd) + 1)) AS h) g
       |  LEFT JOIN hrs ON g.h = hrs.h
       |), lg AS (
       |  SELECT x, ${lagCols.mkString(", ")} FROM dense
       |), ag AS (
       |  SELECT count(*) AS tt, CAST(sum(x) AS BIGINT) AS s,
       |         CAST(sum(x * x) AS BIGINT) AS q,
       |         ${aggCols.mkString(",\n         ")}
       |  FROM lg
       |)
       |${rows.mkString("\nUNION ALL ")}""".stripMargin
  }

  /** Generated DuckDB replay of Cuped.adjustedLift: integer-cents
    * sufficient statistics; the θ and x̄ sub-expressions are spliced
    * textually into every use site so both engines evaluate the identical
    * IEEE tree each time.
    */
  private[graft] lazy val CupedOracleSql: String = {
    val theta = "((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)" +
      " / CAST(n AS DOUBLE)) / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)" +
      " * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"
    val xbar = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    def adj(g: String) =
      s"(CAST(sy_$g AS DOUBLE) - $theta * (CAST(sx_$g AS DOUBLE)" +
        s" - CAST(n_$g AS DOUBLE) * $xbar)) / CAST(n_$g AS DOUBLE)"
    def mean(g: String) = s"CAST(sy_$g AS DOUBLE) / CAST(n_$g AS DOUBLE)"
    def f6(e: String) = s"floor(($e) * 1000000.0 + 0.5) / 1000000.0"
    s"""WITH bnd AS (
       |  SELECT (min(CAST(floor(epoch(ts)) AS BIGINT))
       |          + max(CAST(floor(epoch(ts)) AS BIGINT))) // 2 AS t_mid
       |  FROM events
       |), per AS (
       |  SELECT user_id,
       |         CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
       |                            < (SELECT t_mid FROM bnd)
       |                       THEN CAST(round((value) * 100) AS BIGINT)
       |                       ELSE 0 END) AS BIGINT) AS x,
       |         CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
       |                            >= (SELECT t_mid FROM bnd)
       |                       THEN CAST(round((value) * 100) AS BIGINT)
       |                       ELSE 0 END) AS BIGINT) AS y
       |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
       |), a AS (
       |  SELECT x, y,
       |         ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT % 2 AS arm
       |  FROM per
       |), ag AS (
       |  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
       |         CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
       |         CAST(sum(x * x) AS BIGINT) AS sxx,
       |         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |         CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
       |         CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
       |         CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
       |         CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b
       |  FROM a
       |)
       |SELECT n_a, n_b, ${f6(theta)} AS theta,
       |       ${f6(s"(${mean("b")} - ${mean("a")}) / 100.0")} AS lift_raw,
       |       ${f6(s"(${adj("b")} - ${adj("a")}) / 100.0")} AS lift_cuped
       |FROM ag""".stripMargin
  }

  /** Generated DuckDB replay of Wavelet.hourlyEnergy (4 levels): the
    * integer pair cascade with incomplete tail pairs dropped at each
    * level, energies as exact BIGINT sums of squared details.
    */
  private[graft] lazy val WaveletOracleSql: String = {
    val L = 4
    val levelCtes = (1 to L).map { l =>
      val src = if (l == 1) "dense" else s"l${l - 1}"
      s"""p$l AS (
         |  SELECT t // 2 AS tp, count(*) AS np,
         |         CAST(sum(CASE WHEN t % 2 = 0 THEN a ELSE 0 END) AS BIGINT) AS even,
         |         CAST(sum(CASE WHEN t % 2 = 1 THEN a ELSE 0 END) AS BIGINT) AS odd
         |  FROM $src GROUP BY 1
         |), l$l AS (SELECT tp AS t, even + odd AS a FROM p$l WHERE np = 2),
         |e$l AS (
         |  SELECT CAST($l AS BIGINT) AS level, count(*) AS n_coeffs,
         |         CAST(sum((even - odd) * (even - odd)) AS BIGINT) AS energy
         |  FROM p$l WHERE np = 2)""".stripMargin
    }
    s"""WITH hrs AS (
       |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h, count(*) AS c
       |  FROM events GROUP BY 1
       |), bnd AS (SELECT min(h) AS h0, max(h) AS h1 FROM hrs),
       |dense AS (
       |  SELECT g.h - (SELECT h0 FROM bnd) AS t, COALESCE(hrs.c, 0) AS a
       |  FROM (SELECT unnest(range((SELECT h0 FROM bnd), (SELECT h1 FROM bnd) + 1)) AS h) g
       |  LEFT JOIN hrs ON g.h = hrs.h
       |),
       |${levelCtes.mkString(",\n")}
       |${(1 to L).map(l => s"SELECT level, n_coeffs, energy FROM e$l").mkString("\nUNION ALL ")}""".stripMargin
  }

  /** Replay of HoltWinters.mase — HW fits from the recursive replay as a
    * subquery, seasonal-naive errors from an idx−7 self-join of the same
    * daily series, one truncating division (non-negative → `//` ≡ DIV).
    */
  private[graft] lazy val HoltWintersMaseOracleSql: String =
    s"""WITH fits AS (
       |  SELECT event_type, y_micros, pred_micros
       |  FROM ($HoltWintersOracleSql) hw WHERE kind = 'fit'),
       |daily2 AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |         CAST(sum(CAST(round((value) * 1e6) AS BIGINT)) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |idx2 AS (SELECT event_type, y,
       |           CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS idx
       |         FROM daily2),
       |sn AS (SELECT a.event_type, CAST(sum(abs(a.y - b.y)) AS BIGINT) AS snaive_micros
       |       FROM idx2 a JOIN idx2 b ON b.event_type = a.event_type
       |                               AND b.idx = a.idx - 7
       |       WHERE a.idx >= 8 GROUP BY 1),
       |fa AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_fit,
       |              CAST(sum(abs(y_micros - pred_micros)) AS BIGINT) AS sae_micros
       |       FROM fits GROUP BY 1)
       |SELECT fa.event_type, fa.n_fit, fa.sae_micros, sn.snaive_micros,
       |       CASE WHEN sn.snaive_micros = 0 THEN CAST(0 AS BIGINT)
       |            ELSE (fa.sae_micros * 1000000) // sn.snaive_micros END AS mase_e6
       |FROM fa JOIN sn ON sn.event_type = fa.event_type""".stripMargin

  /** Replay of RankCorrelation.correlate — doubled average ranks (exact
    * BIGINT Spearman moments), sign-comparison Kendall counts over the
    * within-group day-pair join, IEEE-exact sqrt in both final ratios.
    */
  private[graft] lazy val RankCorrelationOracleSql: String = {
    val n0 = "CAST(sp.n * (sp.n - 1) / 2 AS BIGINT)"
    val tauDen = s"sqrt(CAST($n0 - kd.tx AS DOUBLE) * CAST($n0 - kd.ty AS DOUBLE))"
    val rhoDen = "sqrt(CAST(sp.n * sp.sxx - sp.sx * sp.sx AS DOUBLE)" +
      " * CAST(sp.n * sp.syy - sp.sy * sp.sy AS DOUBLE))"
    s"""WITH daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |         CAST(sum(CAST(round((value) * 1e6) AS BIGINT)) AS BIGINT) AS x,
       |         CAST(count(*) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |rk AS (SELECT event_type, x, y,
       |        CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY x)
       |             + count(*) OVER (PARTITION BY event_type, x) - 1 AS BIGINT) AS rx,
       |        CAST(2 * rank() OVER (PARTITION BY event_type ORDER BY y)
       |             + count(*) OVER (PARTITION BY event_type, y) - 1 AS BIGINT) AS ry
       |       FROM daily),
       |sp AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(rx) AS BIGINT) AS sx, CAST(sum(ry) AS BIGINT) AS sy,
       |         CAST(sum(rx * rx) AS BIGINT) AS sxx,
       |         CAST(sum(ry * ry) AS BIGINT) AS syy,
       |         CAST(sum(rx * ry) AS BIGINT) AS sxy
       |       FROM rk GROUP BY 1),
       |pr AS (SELECT a.event_type,
       |         CASE WHEN a.x > b.x THEN 1 WHEN a.x < b.x THEN -1 ELSE 0 END AS cx,
       |         CASE WHEN a.y > b.y THEN 1 WHEN a.y < b.y THEN -1 ELSE 0 END AS cy
       |       FROM daily a JOIN daily b ON b.event_type = a.event_type
       |                                AND a.day < b.day),
       |kd AS (SELECT event_type,
       |         CAST(sum(CASE WHEN cx * cy = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
       |         CAST(sum(CASE WHEN cx * cy = -1 THEN 1 ELSE 0 END) AS BIGINT) AS d,
       |         CAST(sum(CASE WHEN cx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
       |         CAST(sum(CASE WHEN cy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty
       |       FROM pr GROUP BY 1)
       |SELECT sp.event_type, sp.n AS n_days, kd.c, kd.d, kd.tx, kd.ty,
       |  CASE WHEN $tauDen = 0.0 THEN 0.0
       |       ELSE round(CAST(kd.c - kd.d AS DOUBLE) / $tauDen, 6) END AS tau_b,
       |  CASE WHEN $rhoDen = 0.0 THEN 0.0
       |       ELSE round(CAST(sp.n * sp.sxy - sp.sx * sp.sy AS DOUBLE) / $rhoDen, 6)
       |       END AS rho
       |FROM sp JOIN kd ON kd.event_type = sp.event_type""".stripMargin
  }

  /** Replay of Cusum.chart — the running-sum-minus-running-min closed
    * form of the two-sided CUSUM recursion, exact BIGINT micros, every
    * window partitioned by type (windowed sums CAST from HUGEINT).
    */
  private[graft] lazy val CusumOracleSql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |         CAST(sum(CAST(round((value) * 1e6) AS BIGINT)) AS BIGINT) AS y
      |  FROM events GROUP BY 1, 2),
      |i AS (SELECT event_type, day, y,
      |        CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS INT) AS idx,
      |        CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days
      |      FROM daily),
      |i2 AS (SELECT event_type, day, y, idx FROM i WHERE n_days >= 7),
      |m AS (SELECT event_type, idx, y,
      |        CAST(sum(CASE WHEN idx <= 7 THEN y ELSE 0 END)
      |             OVER (PARTITION BY event_type) AS BIGINT) // 7 AS mu
      |      FROM i2),
      |p AS (SELECT event_type, idx, y, mu, mu // 20 AS kappa, mu // 4 AS h FROM m),
      |c AS (SELECT event_type, idx, y, mu, h,
      |        CAST(sum(y - mu - kappa) OVER w AS BIGINT) AS cp,
      |        CAST(sum(mu - y - kappa) OVER w AS BIGINT) AS cm
      |      FROM p WINDOW w AS (PARTITION BY event_type ORDER BY idx ROWS UNBOUNDED PRECEDING)),
      |s AS (SELECT event_type, idx, y, mu, h,
      |        cp - LEAST(0, CAST(min(cp) OVER w AS BIGINT)) AS s_plus,
      |        cm - LEAST(0, CAST(min(cm) OVER w AS BIGINT)) AS s_minus
      |      FROM c WINDOW w AS (PARTITION BY event_type ORDER BY idx ROWS UNBOUNDED PRECEDING))
      |SELECT event_type, idx, y, mu, s_plus, s_minus,
      |       (s_plus > h OR s_minus > h) AS alarm
      |FROM s""".stripMargin

  /** Generated replay of HoltWinters.fit — the daily Money-micros series,
    * a recursive CTE carrying (l, b, s1..s7) in exact BIGINT micros, and
    * the H forecast rows from the final state. Division is spelled
    * `trunc(CAST(n AS DOUBLE)/d)` — Scala Long./ truncates where DuckDB
    * `//` floors, and level deltas/seasonals go negative.
    */
  private[graft] lazy val HoltWintersOracleSql: String = {
    def tdiv(n: String, d: Int): String =
      s"CAST(trunc(CAST($n AS DOUBLE) / $d) AS BIGINT)"
    val lN = tdiv("2 * (d.y - r.s1) + 8 * (r.l + r.b)", 10)
    val bN = tdiv(s"($lN - r.l) + 9 * r.b", 10)
    val sN = tdiv(s"3 * (d.y - $lN) + 7 * r.s1", 10)
    val ys = (1 to 7).map(i => s"MAX(CASE WHEN idx = $i THEN y END) AS y$i").mkString(", ")
    val ss = (1 to 7).map(i => s"y$i - l0 AS s$i").mkString(", ")
    val sCase = "CASE h " + (1 to 7).map(i => s"WHEN $i THEN f.s$i").mkString(" ") + " END"
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |         CAST(sum(CAST(round((value) * 1e6) AS BIGINT)) AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |idxd AS MATERIALIZED (
       |  SELECT event_type, y,
       |         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS idx
       |  FROM daily),
       |ok AS MATERIALIZED (
       |  SELECT event_type, CAST(max(idx) AS BIGINT) AS t_max
       |  FROM idxd GROUP BY 1 HAVING max(idx) >= 8),
       |s0 AS (
       |  SELECT i.event_type,
       |         ${tdiv("sum(CASE WHEN idx <= 7 THEN y ELSE 0 END)", 7)} AS l0,
       |         $ys
       |  FROM ok i JOIN idxd USING (event_type) GROUP BY 1),
       |seed AS (SELECT event_type, l0, $ss FROM s0),
       |rec AS (
       |  SELECT event_type, CAST(7 AS BIGINT) AS idx, l0 AS l, CAST(0 AS BIGINT) AS b,
       |         s1, s2, s3, s4, s5, s6, s7,
       |         CAST(NULL AS BIGINT) AS y, CAST(NULL AS BIGINT) AS fitted
       |  FROM seed
       |  UNION ALL
       |  SELECT r.event_type, r.idx + 1, $lN, $bN,
       |         r.s2, r.s3, r.s4, r.s5, r.s6, r.s7, $sN,
       |         d.y, r.l + r.b + r.s1
       |  FROM rec r JOIN idxd d ON d.event_type = r.event_type AND d.idx = r.idx + 1),
       |fin AS (SELECT r.* FROM rec r JOIN ok ON ok.event_type = r.event_type
       |                                     AND r.idx = ok.t_max),
       |hs AS (SELECT unnest([1, 2, 3, 4, 5, 6, 7]) AS h)
       |SELECT event_type, idx, 'fit' AS kind, y AS y_micros, fitted AS pred_micros,
       |       l AS level_micros, b AS trend_micros
       |FROM rec WHERE idx >= 8
       |UNION ALL
       |SELECT f.event_type, f.idx + h, 'forecast', CAST(NULL AS BIGINT),
       |       f.l + h * f.b + $sCase, f.l, f.b
       |FROM fin f CROSS JOIN hs""".stripMargin
  }

  /** q_sinkhorn_divergence replay: the drift-oracle bucket chain feeds a
    * dense (group, bucket) histogram `h`; the Gibbs kernel is the VALUES
    * literal of [[graft.operators.Sinkhorn.KernelE6]] (single-source —
    * engine `exp` never runs); then THREE unrolled 5-round Sinkhorn
    * solves (ab / aa / bb) with BIGINT-nanos scaling state, one
    * identically-spelled clamped double chain per cell per half-round,
    * and the double-reduced integer plan cost. All round CTEs
    * MATERIALIZED (the q_bradley_terry inlining lesson).
    */
  private[graft] lazy val SinkhornOracleSql: String = {
    val R = 5
    val ker = graft.operators.Sinkhorn.KernelE6.zipWithIndex
      .map { case (k, d) => s"($d, $k)" }.mkString(", ")
    // one solve = init + R×(kv,u,ku,v) + cells + cost; A/B pick the
    // histogram columns (a,na) vs (bm,nb) out of h
    def solve(t: String, ma: String, mna: String, mb: String, mnb: String): String = {
      val rounds = (1 to R).map { r =>
        s"""${t}kv$r AS MATERIALIZED (
           |  SELECT x.g, x.b AS i, CAST(sum(kk.k * s.vq) AS BIGINT) AS kv
           |  FROM h x JOIN ${t}v${r - 1} s ON s.g = x.g
           |  JOIN ker kk ON kk.d = abs(x.b - s.j)
           |  GROUP BY x.g, x.b),
           |${t}u$r AS MATERIALIZED (
           |  SELECT h.g, h.b AS i,
           |         CAST(LEAST(floor(CAST(h.$ma AS DOUBLE) / h.$mna * 1.0e24
           |                          / kv.kv + 0.5), 1.0e10) AS BIGINT) AS uq
           |  FROM h JOIN ${t}kv$r kv ON kv.g = h.g AND kv.i = h.b),
           |${t}ku$r AS MATERIALIZED (
           |  SELECT x.g, x.b AS j, CAST(sum(kk.k * s.uq) AS BIGINT) AS ku
           |  FROM h x JOIN ${t}u$r s ON s.g = x.g
           |  JOIN ker kk ON kk.d = abs(s.i - x.b)
           |  GROUP BY x.g, x.b),
           |${t}v$r AS MATERIALIZED (
           |  SELECT h.g, h.b AS j,
           |         CAST(LEAST(floor(CAST(h.$mb AS DOUBLE) / h.$mnb * 1.0e24
           |                          / ku.ku + 0.5), 1.0e10) AS BIGINT) AS vq
           |  FROM h JOIN ${t}ku$r ku ON ku.g = h.g AND ku.j = h.b)""".stripMargin
      }.mkString(",\n")
      s"""${t}v0 AS (SELECT g, b AS j, CAST(1000000000 AS BIGINT) AS vq FROM h),
         |$rounds,
         |${t}cells AS MATERIALIZED (
         |  SELECT u.g, u.uq * kk.k // 1000000000 * v.vq // 10000 AS p,
         |         abs(u.i - v.j) AS d
         |  FROM ${t}u$R u JOIN ${t}v$R v ON v.g = u.g
         |  JOIN ker kk ON kk.d = abs(u.i - v.j)),
         |${t}cost AS MATERIALIZED (
         |  SELECT g, CASE WHEN sum(p) = 0 THEN CAST(0 AS BIGINT)
         |                 ELSE CAST(floor(CAST(sum(p * d) AS DOUBLE) * 1000000.0
         |                                 / CAST(sum(p) AS DOUBLE) + 0.5) AS BIGINT)
         |            END AS cost_e6
         |  FROM ${t}cells GROUP BY g)""".stripMargin
    }
    s"""WITH $DriftBucketCte,
       |h AS MATERIALIZED (
       |  SELECT f.g, f.b, CAST(f.cnt AS BIGINT) AS a,
       |         CAST(pb.c_all - f.cnt AS BIGINT) AS bm,
       |         f.n_g AS na, CAST(tot.n_all - f.n_g AS BIGINT) AS nb
       |  FROM f JOIN pb USING (b), tot WHERE tot.n_all - f.n_g > 0),
       |ker AS (SELECT * FROM (VALUES $ker) kk(d, k)),
       |${solve("ab", "a", "na", "bm", "nb")},
       |${solve("aa", "a", "na", "a", "na")},
       |${solve("bb", "bm", "nb", "bm", "nb")},
       |ns AS (SELECT g, CAST(max(na) AS BIGINT) AS n FROM h GROUP BY g)
       |SELECT ab.g AS event_type, ns.n,
       |       ab.cost_e6 AS cost_ab_e6, aa.cost_e6 AS cost_aa_e6,
       |       bb.cost_e6 AS cost_bb_e6,
       |       CAST(2 * ab.cost_e6 - aa.cost_e6 - bb.cost_e6 AS BIGINT) AS div2_e6
       |FROM abcost ab JOIN aacost aa USING (g) JOIN bbcost bb USING (g)
       |JOIN ns USING (g)""".stripMargin
  }
}
