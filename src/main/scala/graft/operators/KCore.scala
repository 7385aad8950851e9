package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core peeling (Seidman 1983; the distributed formulation of
  * Montresor et al., "Distributed k-core decomposition", PODC'11):
  * repeatedly delete every node of degree < k — the fixpoint is the
  * k-core, the standard density filter for graph cleaning (drop
  * tendrils before community detection / embedding training).
  *
  * Scale shape: one peel round is ONE degree hash-aggregation (map
  * side combining) plus TWO node-key semi joins restricting the edge
  * list to surviving endpoints — all hash shuffles on the node key,
  * no driver-side graph, no global structure. The edge frame is
  * checkpointed each round ([[Checkpoint]], which also observes the
  * edge count the convergence test reads); work per round is
  * proportional to the SURVIVING edge set, which only shrinks.
  */
object KCore {

  /** one peel: drop nodes with fewer than k surviving neighbors */
  private def peelOnce(adj: DataFrame, k: Int): DataFrame = {
    val keep = adj.groupBy("u").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k).select("u")
    adj.join(keep, Seq("u"), "left_semi")
      .join(keep.select(col("u").as("v")), Seq("v"), "left_semi")
      .select("u", "v")
  }

  /** At most `rounds` peels, stopping once a round drops no edge (a
    * converged or empty set peels to itself, so stopping early is
    * EXACTLY the fixed-round result). Each round's edge count is
    * observed on its checkpoint job. Returns `(node, deg)` of the
    * survivors and whether the peel converged.
    */
  private def peel(edges: DataFrame, srcCol: String, dstCol: String,
                   k: Int, rounds: Int): (DataFrame, Boolean) = {
    var adj = Checkpoint.pin(Adjacency.undirected(edges, srcCol, dstCol))
    var stable = adj.rows == 0L
    var round = 0
    while (round < rounds && !stable) {
      round += 1
      val next = Checkpoint.pin(peelOnce(adj.df, k))
      // edge count stable <=> no node dropped
      stable = next.rows == adj.rows || next.rows == 0L
      adj = next
    }
    (adj.df.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg")), stable)
  }

  /** EXACTLY `rounds` peel iterations (idempotent once converged):
    * `(node, deg)` for the surviving subgraph. A fixed round budget
    * makes the result a closed-form function of (edges, k, rounds) —
    * replayable on any engine with no convergence detection — while
    * `rounds` ≥ the graph's peel depth gives the true k-core.
    */
  def peelRounds(edges: DataFrame, srcCol: String, dstCol: String,
                 k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 0, s"need k >= 1, rounds >= 0")
    peel(edges, srcCol, dstCol, k, rounds)._1
  }

  /** The true k-core: peel to the fixpoint (at most `maxRounds`
    * iterations — throws if not converged, which on any real graph
    * means `maxRounds` was set far too low: peel depth is bounded by
    * the longest degeneracy chain, typically O(tens)).
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 64): DataFrame = {
    val (core, converged) = peel(edges, srcCol, dstCol, k, maxRounds)
    require(converged, s"k-core did not converge in $maxRounds rounds")
    core
  }
}
