package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label propagation (Raghavan, Albert & Kumara 2007) over an
  * undirected edge list — community detection for the near-duplicate
  * graph. [[Components]] answers "which docs are transitively connected";
  * LPA answers the finer "which docs form a densely-linked cluster", the
  * split a curation pipeline wants when one stray shared shingle bridges
  * two otherwise-unrelated duplicate families.
  *
  * Determinism (the replayability contract): classic LPA breaks ties
  * randomly and updates asynchronously — unreproducible. This is the
  * SYNCHRONOUS variant with a total tie order: each round every node
  * simultaneously adopts the label that is most frequent among its
  * neighbors' previous-round labels, ties broken to the SMALLEST label;
  * a FIXED round budget replaces the convergence test. Every step is a
  * pure function of the edge list, so the whole run hash-oracles as an
  * unrolled round-per-CTE replay. The known cost of the synchronous
  * flavor — period-2 oscillation on bipartite-ish structures (the paper's
  * §3 caveat) — is deterministic too, and near-dup graphs are clique-ish,
  * where it converges in 2–3 rounds (LabelPropagationSpec pins both
  * behaviors).
  *
  * Scale shape: one round = one equi-join (edges ⋈ labels, shuffle keyed
  * by node) + two hash aggregates (label counts, then arg-max) — all
  * bounded by the edge list, which is orders of magnitude smaller than
  * the corpus at 100 TB. The rounds run on [[Iterate]]. The arg-max is
  * `max(struct(count, −label))` — a mergeable aggregate, no window, no
  * per-node row explosion.
  */
object LabelPropagation {

  /** (node, community) after `rounds` synchronous updates; community is a
    * node id (labels start as self). Isolated nodes don't appear (the
    * [[Components.connectedComponents]] convention). The returned frame is
    * the final round's checkpointed labels, the only blocks the call
    * leaves pinned.
    */
  def communities(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      rounds: Int = 3
  ): DataFrame = {
    // checkpointed once: every round joins it; one-pass both-directions
    // spelling so the edge builder runs once (GraphEdges)
    val bidir = GraphEdges.bothDirections(edges, srcCol, dstCol)
      .distinct().localCheckpoint(true)
    val self = bidir.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
    val out = try Iterate(self, rounds) { labels =>
      bidir
        .join(labels.select(col("node").as("b"), col("label")), Seq("b"))
        .select(col("a").as("node"), col("label"))
        .groupBy(col("node"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("best"))
        .select(col("node"), (-col("best").getField("nl")).as("label"))
    } finally Iterate.release(bidir)
    out.select(col("node"), col("label").as("community"))
  }
}
