package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank over an undirected edge list — importance
  * scoring for near-dup graphs (which document in a duplicate cluster is
  * the canonical hub?), link graphs, co-occurrence graphs. Power
  * iteration, unrolled a fixed number of rounds so the result is a pure
  * function of the edges:
  *
  *   r₀(v) = 1/N;  rᵢ₊₁(v) = teleport/N + damping · Σ_{u∼v} rᵢ(u)/deg(u)
  *
  * Each iteration is one equi-join plus one aggregate on the node key —
  * the same bounded-iteration shape as [[Components]]; no collect, no
  * per-node driver work. Ranks are ROUND-9 after every iteration on both
  * engines, so the float state entering each round is identical and the
  * final ranks are engine-bitwise-equal (q_pagerank hash-matches an
  * unrolled DuckDB spelling).
  *
  * Undirected: every node has degree ≥ 1, so there are no dangling-mass
  * corrections to model. The rounds run on [[Iterate]]; the
  * loop-invariant degree-annotated edge list, node list and 1-row count
  * are checkpointed once up front and released once the loop returns, so
  * only the returned round stays pinned.
  */
object PageRank {

  def ranks(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 5,
      damping: Double = 0.85,
      teleport: Double = 0.15
  ): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    // one-pass both-directions spelling, checkpointed BEFORE the degree
    // join: the deg aggregate and the join below reference `bi` twice, so
    // an inline subplan would rebuild the (expensive) edge builder twice —
    // 4x with the old union spelling (GraphEdges scaladoc; guide §2.4)
    val bi = GraphEdges.bothDirections(edges, srcCol, dstCol).localCheckpoint(true)
    // degree is joined ONCE, outside the loop: the per-round join keys on
    // the (a, b, d) frame directly instead of re-joining deg every round
    // (the r12 TimeQ profile showed the in-loop deg join costing ~1 s/round
    // at sf0.1). d stays a column so each round still computes r/d — the
    // exact float op the unrolled oracle spells.
    val deg = bi.groupBy(col("a")).agg(count(lit(1)).as("d"))
    val biDeg = bi.join(deg, Seq("a")).localCheckpoint(true)
    // node list + 1-row count, computed ONCE — each round broadcasts the
    // count without re-running the distinct
    val nodes = biDeg.select(col("a").as("node")).distinct().localCheckpoint(true)
    val n = nodes.agg(count(lit(1)).as("_n")).localCheckpoint(true)
    val r0 = nodes
      .crossJoin(broadcast(n))
      .select(col("node"), round(lit(1.0) / col("_n"), 9).as("r"))
    val out = try Iterate(r0, iterations) { r =>
      biDeg
        .join(r.withColumnRenamed("node", "a"), Seq("a"))
        .select(col("b").as("node"), (col("r") / col("d")).as("_c"))
        .groupBy(col("node")).agg(sum(col("_c")).as("_s"))
        .crossJoin(broadcast(n))
        .select(col("node"),
          round(lit(teleport) / col("_n") + lit(damping) * col("_s"), 9).as("r"))
    } finally Seq(bi, biDeg, nodes, n).foreach(Iterate.release)
    out.select(col("node"), col("r").as("rank"))
  }

  /** Weighted PageRank over an undirected INTEGER-weighted edge list — the
    * TextRank recurrence (Mihalcea & Tarau 2004):
    *
    *   rᵢ₊₁(v) = teleport/N + damping · Σ_{u∼v} rᵢ(u) · w(u,v) / wdeg(u)
    *
    * Unlike [[ranks]] (round-9 double state, the r12 precedent), the
    * weighted state is carried as BIGINT NANOS end to end: per-edge
    * contribution `floor(r_e9 · w / wdeg + 0.5)` (one IEEE product and
    * division of exact integers — bit-identical in any engine), summed as
    * BIGINT, and the damped update `floor(teleport·10⁹/N + damping·s + 0.5)`
    * is one float expression per node-round. Weighted sums have per-edge
    * distinct addends where the unweighted loop's r/d terms collapse to a
    * few values, so the no-double-aggregate discipline is
    * load-bearing here, not belt-and-braces. `weightCol` must be a
    * positive integer on every edge.
    *
    * Output: `node`, `rank_e9` (BIGINT nanos; ranks sum to ~10⁹).
    */
  def weightedRanks(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      iterations: Int = 5,
      damping: Double = 0.85,
      teleport: Double = 0.15
  ): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    // same one-pass + pre-join checkpoint discipline as [[ranks]]
    // select, not withColumn: an input frame already carrying `_w` must
    // not be silently overwritten (r21, ADVICE)
    val bi = GraphEdges.bothDirections(
        edges.select(col(srcCol), col(dstCol), col(weightCol).cast("long").as("_w")),
        srcCol, dstCol, carry = Seq("_w"))
      .withColumnRenamed("_w", "w").localCheckpoint(true)
    val deg = bi.groupBy(col("a")).agg(sum(col("w")).as("wd"))
    val biDeg = bi.join(deg, Seq("a")).localCheckpoint(true)
    val nodes = biDeg.select(col("a").as("node")).distinct().localCheckpoint(true)
    val n = nodes.agg(count(lit(1)).as("_n")).localCheckpoint(true)
    val r0 = nodes
      .crossJoin(broadcast(n))
      .select(col("node"),
        floor(lit(1e9) / col("_n") + lit(0.5)).cast("long").as("r_e9"))
    val out = try Iterate(r0, iterations) { r =>
      biDeg
        .join(r.withColumnRenamed("node", "a"), Seq("a"))
        .select(col("b").as("node"),
          floor(col("r_e9").cast("double") * col("w") / col("wd") + lit(0.5))
            .cast("long").as("_c"))
        .groupBy(col("node")).agg(sum(col("_c")).as("_s"))
        .crossJoin(broadcast(n))
        .select(col("node"),
          floor(lit(teleport * 1e9) / col("_n")
            + lit(damping) * col("_s").cast("double") + lit(0.5))
            .cast("long").as("r_e9"))
    } finally Seq(bi, biDeg, nodes, n).foreach(Iterate.release)
    out.select(col("node"), col("r_e9").as("rank_e9"))
  }
}
