package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Personalized (seeded) PageRank over an undirected edge list — proximity
  * to a SEED SET instead of global importance (Haveliwala 2002): random
  * walks restart only at the seeds, so mass concentrates around them. The
  * curation use is contamination EXPANSION: exact decontamination flags
  * documents sharing shingles with a benchmark; PPR from those seeds over
  * the near-dup graph scores how close every other document sits to the
  * contaminated region (transitive paraphrase chains that pairwise
  * overlap misses).
  *
  * Exact-integer replay (unlike [[PageRank]]'s round-9 float state): rank
  * mass is BIGINT at scale 10¹² —
  *
  *   r₀(v)   = ⌊S/|seeds|⌋ on seeds, else 0            (S = 10¹²)
  *   rᵢ₊₁(v) = tele(v) + ⌊0.85 · Σ_{u∼v} (rᵢ(u) DIV d(u)) + 0.5⌋
  *   tele(v) = ⌊0.15·S / |seeds|⌋ on seeds, else 0
  *
  * Every contribution is an integer division of non-negatives (Spark DIV
  * ≡ DuckDB //), the per-node sum is an exact BIGINT, and the one float
  * op per node-round (0.85·s + 0.5, s ≤ 10¹² < 2⁵³) is engine-identical
  * IEEE. Mass is not exactly conserved (truncation leaks ≤ deg(u) units
  * per node-round) — deterministic, and irrelevant for ranking.
  *
  * Scale shape: per iteration one equi-join on the checkpointed
  * degree-annotated edge list + one node-keyed aggregate + one join to
  * the checkpointed teleport table — the [[Components]]/[[PageRank]]
  * bounded-iteration shape; seeds attach via a semi join (never
  * broadcast-assumed), no collect anywhere. The rounds run on
  * [[Iterate]]; loop invariants are checkpointed once and released once
  * the loop returns.
  */
object PersonalizedPageRank {

  private val S = 1000000000000L
  private val T = 150000000000L

  /** (node, ppr_e12) for every node in the edge list; ppr_e12 is the
    * integer rank mass at scale 10¹² after `iterations` rounds.
    */
  def seededRanks(
      edges: DataFrame,
      seeds: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      seedCol: String = "node",
      iterations: Int = 4
  ): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    // one-pass both-directions spelling, checkpointed BEFORE the degree
    // join (deg + the join reference bi twice — see PageRank.ranks)
    val bi = GraphEdges.bothDirections(edges, srcCol, dstCol).localCheckpoint(true)
    // loop invariants checkpointed ONCE (degree folded into the edge list
    // so rounds key one join, not two)
    val deg = bi.groupBy(col("a")).agg(count(lit(1)).as("d"))
    val biDeg = bi.join(deg, Seq("a")).localCheckpoint(true)
    val nodes = biDeg.select(col("a").as("node")).distinct()
    val seedNodes = nodes
      .join(seeds.select(col(seedCol).as("node")), Seq("node"), "left_semi")
    val nSeeds = seedNodes.agg(count(lit(1)).as("_ns"))
    val base = nodes
      .join(seedNodes.select(col("node"), lit(1L).as("_seed")), Seq("node"), "left")
      .na.fill(0L, Seq("_seed"))
      .crossJoin(broadcast(nSeeds))
      .select(col("node"),
        when(col("_seed") === 1L, expr(s"$T DIV _ns")).otherwise(lit(0L)).as("tele"),
        when(col("_seed") === 1L, expr(s"$S DIV _ns")).otherwise(lit(0L)).as("r0"))
      .localCheckpoint(true)
    val out = try Iterate(base.select(col("node"), col("r0").as("r")), iterations) { r =>
      biDeg
        .join(r.withColumnRenamed("node", "a"), Seq("a"))
        .select(col("b").as("node"), expr("r DIV d").as("_c"))
        .groupBy(col("node")).agg(sum(col("_c")).as("_s"))
        .join(base.select(col("node"), col("tele")), Seq("node"))
        .select(col("node"),
          (col("tele") +
            floor(lit(0.85d) * col("_s").cast("double") + lit(0.5d)).cast("long"))
            .as("r"))
    } finally Seq(bi, biDeg, base).foreach(Iterate.release)
    out.select(col("node"), col("r").as("ppr_e12"))
  }
}
