package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling — the graph-curation step
  * that separates the dense "core" of a similarity graph from its sparse
  * periphery (reference's near-dup analytics stop at pairwise edges;
  * core extraction is part of the large-scale curation extension set:
  * the k-core of the near-dup graph is where template/boilerplate
  * families live, and its complement is the long tail worth keeping).
  *
  * Algorithm: repeat `rounds` times — compute every node's degree, drop
  * nodes with degree < k, drop edges touching a dropped node. The peel
  * is MONOTONE (removals only ever cause more removals), so once a round
  * removes nothing the edge set is stable forever; the loop therefore
  * early-exits on a fixpoint WITHOUT changing the result an exact
  * `rounds`-round replay would produce — what makes the operator
  * oracle-able by an unrolled fixed-round SQL replay.
  *
  * Scale shape: each round is one degree aggregate + one semi-join pair,
  * all shuffling on the node key of the EDGE LIST (orders of magnitude
  * smaller than the corpus that produced it). The rounds run on
  * [[Iterate]], so lineage never re-executes earlier rounds; the fixpoint
  * probe is the row count each round's checkpoint job yields.
  */
object KCore {

  /** Surviving `(node, degree)` rows after `rounds` peels at threshold
    * `k`, where `degree` counts neighbors INSIDE the surviving core —
    * exact integers end-to-end. Input edges are one row per undirected
    * pair (src < dst); isolated nodes never appear.
    */
  def peel(
      edges: DataFrame,
      k: Int,
      rounds: Int,
      srcCol: String = "src",
      dstCol: String = "dst"
  ): DataFrame = {
    require(k >= 1 && rounds >= 1, "KCore.peel: k and rounds must be >= 1")
    // one-pass both-directions spelling (GraphEdges): the edge builder
    // runs once into the first checkpoint, not once per union branch
    val bi = Iterate.until(GraphEdges.bothDirections(edges, srcCol, dstCol), rounds,
        stop = (prev, next) => next.rows == prev.rows) { prev =>
      val keep = prev.frame.groupBy(col("a")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("a").as("_k"))
      Some(prev.frame
        .join(keep, col("a") === col("_k")).drop("_k")
        .join(keep, col("b") === col("_k")).drop("_k"))
    }
    bi.groupBy(col("a")).agg(count(lit(1)).as("degree"))
      .select(col("a").as("node"), col("degree"))
  }
}
