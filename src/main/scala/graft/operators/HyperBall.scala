package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HyperBall / HyperANF (Boldi, Rosa & Vigna 2011, "HyperANF: Approximating
  * the Neighbourhood Function of Very Large Graphs on a Budget"; Boldi &
  * Vigna 2013 HyperBall — the algorithm behind the Facebook
  * four-degrees-of-separation measurement): per node, an HLL counter of the
  * ball B(v, t) = nodes within distance ≤ t, grown by one register-MAX
  * merge per edge per round — counters(v) ∪= counters(u) for every
  * neighbor u. After round t, the counter estimates |B(v, t)|; summing over
  * nodes gives the neighbourhood function N(t), whose saturation point is
  * the effective diameter.
  *
  * Built on [[HllReplay]]'s engine-portable md5-48 sketch (p = 6, exact
  * dyadic harmonic sums, e6-quantized estimates), so every round replays
  * bit-exactly in DuckDB — the whole trajectory is hash-oracled, unlike any
  * RNG or engine-hash sketch.
  *
  * Scale shape: counters live in long format `(node, reg, m)` — ≤ 64 rows
  * per node; each round is one edge ⋈ counter equi-join plus a
  * map-side-combined (node, reg) MAX — the register-merge cost per edge IS
  * the HyperANF economics (O(m) per edge, independent of ball sizes, where
  * exact BFS frontiers would explode). Rounds are eagerly
  * `localCheckpoint`ed so the lineage stays flat.
  */
object HyperBall {

  /** Ball-size estimates per node per round, long format:
    * `(t, node, nz, est_e6)` for t = 0..rounds. t = 0 is the singleton
    * counter; `est_e6` follows [[HllReplay]]'s estimate discipline
    * (linear counting in the small range — balls of graph-community size
    * sit there, which is exactly HLL's intended regime).
    */
  def neighborhoodFunction(
      edges: DataFrame,
      rounds: Int = 3,
      srcCol: String = "src",
      dstCol: String = "dst"
  ): DataFrame = {
    require(rounds >= 1 && rounds <= 8, "rounds in 1..8")
    // the edge frame feeds every round's merge join — eagerly checkpointed
    // so an expensive upstream edge builder (the shingle graph) runs once,
    // not once per round (r16: q_hyperball 9.7 → ~4 s at sf0.1)
    val bi = GraphEdges.bothDirections(edges, srcCol, dstCol)
      .distinct()
      .localCheckpoint()
    val nodes = bi.select(col("a").as("node")).distinct()
    var cur = HllReplay.registers(nodes, itemCol = "node", groupCol = "node")
      .localCheckpoint()
    def snap(t: Int): DataFrame =
      HllReplay.estimate(cur).select(
        lit(t).as("t"), col("g").as("node"), col("nz"), col("est_e6"))
    var out = snap(0)
    var t = 1
    // its own loop, not Iterate: `out` unions a snapshot of every round's
    // counters, so a superseded round must stay materialised
    while (t <= rounds) {
      val prop = bi.join(cur, col("b") === col("g"))
        .select(col("a").as("g"), col("reg"), col("m"))
      cur = cur.unionByName(prop)
        .groupBy(col("g"), col("reg"))
        .agg(max(col("m")).as("m"))
        .localCheckpoint()
      out = out.unionByName(snap(t))
      t += 1
    }
    out
  }
}
