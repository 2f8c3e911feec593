package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the step that turns
  * pairwise near-duplicate MATCHES into duplicate GROUPS so a canonical
  * document per group can be kept (reference keeps only pairwise dedup:
  * `src/preprocessing.py` drops exact-hash duplicates; grouping transitive
  * near-dups is part of the large-scale-curation extension set).
  *
  * Algorithm: iterative min-label propagation. Every node starts labeled
  * with its own id; each round a node adopts the minimum label among itself
  * and its neighbors; at fixpoint every node of a component carries the
  * component's minimum node id. This is the classic Pregel-style CC (what
  * GraphX/GraphFrames run) expressed directly on DataFrames:
  *
  *  - one round = one equi-join (edges ⋈ labels) + one min-aggregate +
  *    one label-chase self-join — all shuffle on the node key, no row
  *    multiplication beyond degree;
  *  - round 0 is folded into initialization (label = min of the 1-hop
  *    neighborhood, a single aggregate), and the per-round pointer chase
  *    (follow the label to its own label) doubles the distance covered, so
  *    rounds needed = O(log diameter) (near-dup graphs are shallow: dup
  *    clusters are cliques-ish, so 1–2 rounds typical), `maxIter` bounds
  *    the worst case;
  *  - the convergence probe per round is `limit(1).count()` on the changed
  *    set — a bounded driver action, the standard iterative-graph pattern;
  *  - the rounds run on [[Iterate]]: each round's labels are checkpointed
  *    and the previous round's released once they are materialised, so
  *    lineage never re-executes earlier rounds.
  *
  * At 100 TB the edge list (near-dup pairs) is orders of magnitude smaller
  * than the corpus, and every round is shuffle-bounded by it — this scales
  * where a driver-side union-find (all edges collected) cannot.
  */
object Components {

  /** (node, component) for every node appearing in `edges`; `component` is
    * the minimum node id of the node's connected component. Nodes with no
    * edges don't appear (coalesce at the call site if isolated nodes need
    * their own singleton component).
    *
    * The returned frame IS the final round's checkpointed labels — its
    * blocks are reclaimed by session-level cache hygiene (Bench clears per
    * query; Verify at end of run).
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIter: Int = 20
  ): DataFrame = {
    // undirected: propagate both ways (one-pass explode spelling — the
    // union alternative builds the expensive edge subplan twice, see
    // GraphEdges); distinct so parallel edges don't inflate the per-round
    // join
    val bidir = GraphEdges.bothDirections(edges, srcCol, dstCol)
      .distinct().persist()
    // free first round: every node starts at the min of its 1-hop
    // neighborhood (one aggregate, no join), not at itself
    val init = bidir.groupBy(col("a"))
      .agg(least(col("a"), min(col("b"))).as("label"))
      .withColumnRenamed("a", "node")
    // the probe runs on the new round's checkpointed blocks
    val unchanged = (_: Iterate.Round, next: Iterate.Round) =>
      next.frame.filter(col("label") =!= col("old")).limit(1).count() == 0L
    val labels = Iterate.until(init, maxIter, unchanged) { prev =>
      // neighbor-min: a node adopts the min label among itself + neighbors.
      // The node's previous label rides along as `old` (null on message
      // rows; max ignores nulls) so the convergence probe needs no extra
      // join — one action per round total.
      val msgs = bidir.join(prev.frame.select(col("node"), col("label")),
          col("a") === col("node"))
        .select(col("b").as("node"), col("label"), lit(null).cast("long").as("old"))
      val own = prev.frame.select(col("node"), col("label"), col("label").as("old"))
      // persisted for the round: the chase join below references m on BOTH
      // sides, and without the cache the neighbor-min aggregate would
      // execute twice per round
      val m = prev.cache(own.unionByName(msgs)
        .groupBy(col("node")).agg(min(col("label")).as("label"), max(col("old")).as("old")))
      // pointer chase: follow the label to ITS label (the label is always a
      // node id of the same component, so the hop stays inside it) — this
      // doubles the distance covered per round, log(diameter) rounds total
      Some(m.join(
          m.select(col("node").as("_ln"), col("label").as("_ll")),
          col("label") === col("_ln"), "left")
        .select(col("node"), coalesce(col("_ll"), col("label")).as("label"), col("old")))
    }
    bidir.unpersist(blocking = false)
    labels.select(col("node"), col("label").as("component"))
  }

  /** The deduplicated corpus: one canonical row per near-dup group — the
    * row whose id IS the component label (its group's minimum id), plus
    * every row with no edges. One left join against the component map; no
    * extra shuffle beyond [[connectedComponents]] itself.
    */
  def keepCanonical(
      rows: DataFrame,
      edges: DataFrame,
      idCol: String = "doc_id",
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIter: Int = 20
  ): DataFrame =
    rows
      .join(connectedComponents(edges, srcCol, dstCol, maxIter),
        col("node") === col(idCol), "left")
      .filter(col("component").isNull || col("component") === col(idCol))
      .drop("node", "component")

  /** [[keepCanonical]] with a QUALITY policy instead of min-id: keep the
    * row with the highest `scoreCol` in each near-dup cluster (ties break
    * on the smaller id) — what corpus curation actually wants ("of these
    * near-duplicates, keep the longest / highest-quality copy"), and still
    * fully deterministic, so an external engine reproduces the survivor
    * set (q_dedup_keep_best). Singletons (no edges) keep themselves,
    * labeled with their own id as `component`.
    *
    * Scale: the per-cluster rank windows over near-dup CLUSTERS — bounded
    * by cluster size (clique-ish, small by construction of the capped edge
    * builder), not by the corpus.
    */
  def keepBest(
      rows: DataFrame,
      edges: DataFrame,
      idCol: String = "doc_id",
      scoreCol: String = "n_chars",
      srcCol: String = "src",
      dstCol: String = "dst",
      maxIter: Int = 20
  ): DataFrame = {
    val withComp = rows
      .join(connectedComponents(edges, srcCol, dstCol, maxIter),
        col("node") === col(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .drop("node")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col(scoreCol).desc, col(idCol))
    withComp.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .drop("_rk")
  }
}
