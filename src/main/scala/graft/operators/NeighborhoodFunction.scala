package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximate neighborhood function (ANF): for every node, an
  * estimate of |ball(node, r)| — how many nodes lie within r hops —
  * for r = 0..rounds, via iterated bottom-k sketch propagation
  * (Cohen, JCSS'97 "Size-estimation framework"; the per-round
  * register-merge structure of Palmer et al. KDD'02 ANF and
  * Boldi–Vigna HyperANF, with the deterministic bottom-k sketch of
  * [[Sketches]] in place of probabilistic-counting registers so any
  * engine reproduces the estimates bit-for-bit).
  *
  * Each node starts with the sketch {hash(self)}; one round replaces
  * every node's sketch with the bottom-k merge of its own and its
  * neighbors' sketches — after r rounds the sketch summarizes exactly
  * the set of nodes reachable within r hops, and the standard KMV
  * estimator (exact below k, `(k-1)·2^48 / h_k` at k) reads off the
  * ball size. This is THE scale path for per-node reachability
  * profiles: the exact answer is a transitive-closure join
  * (quadratic output at 100 TB), while a round here is one edge
  * equi-join + one hash aggregation whose native `kmv_lows` partials
  * bound the exchange at k longs per node — O(edges · k) work per
  * round, PageRank-iteration shape. Rounds are checkpointed so plans
  * stay round-sized.
  */
object NeighborhoodFunction {

  /** Per-node ball-size estimates for every radius 0..rounds over the
    * UNDIRECTED edge list (rows are mirrored; self-loops dropped;
    * isolated nodes never appear — same contract as
    * [[ConnectedComponents]]). Returns
    * `(radius, node, n_kept, est)` with `est` the 6-dp-rounded KMV
    * estimate of |ball(node, round)| (exact counts below k).
    */
  def ballSizes(edges: DataFrame, srcCol: String, dstCol: String,
                k: Int, rounds: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = Checkpoint(Adjacency.undirected(edges, srcCol, dstCol)
      .select(col("u").as("src"), col("v").as("dst"))
      .repartition(col("dst")))
    // round-0 sketch: the node's own hash (ball of radius 0 = {self})
    var state = Checkpoint(e.select(col("src").as("node")).distinct()
      .select(col("node"),
        array(Sketches.hash48(col("node").cast("string"))).as("lows")))
    val perRound = Seq.newBuilder[DataFrame]
    perRound += estimates(state, k).select(lit(0L).as("radius"),
      col("node"), col("n_kept"), col("est"))
    for (r <- 1 to rounds) {
      val exploded = state.select(col("node"), explode(col("lows")).as("h"))
      val fromNbrs = e.join(exploded.withColumnRenamed("node", "dst"),
          Seq("dst"))
        .select(col("src").as("node"), col("h"))
      state = Checkpoint(exploded.unionByName(fromNbrs)
        .groupBy(col("node"))
        .agg(graft.plans.KmvLowsAgg.kmvLows(col("h"), k).as("lows")))
      perRound += estimates(state, k).select(lit(r.toLong).as("radius"),
        col("node"), col("n_kept"), col("est"))
    }
    perRound.result().reduce(_ unionAll _)
  }

  /** Sketch-based HARMONIC CENTRALITY top-k (Boldi–Vigna "Axioms for
    * centrality": `H(v) = Σ_{u≠v} 1/d(v,u)`), estimated from the
    * [[ballSizes]] profile by the HyperANF/HADI telescoping
    * `H(v) ≈ Σ_r (|ball(v,r)| − |ball(v,r−1)|)/r` — each node's new
    * r-hop mass weighted by 1/r. THE scale path for centrality: exact
    * harmonic needs all-pairs BFS (quadratic output); this is `rounds`
    * edge joins with k-long sketch partials, and the deterministic
    * bottom-k sketches make the estimate engine-replayable. The
    * telescoped sum is one fixed float tree per node over the
    * 6-dp-rounded per-radius estimates; truncation at `rounds` is the
    * estimator's documented horizon (contributions beyond r ≤ 1/r of
    * a ball increment — callers pick rounds ≥ the graph's effective
    * diameter of interest).
    *
    * Returns the `topN` nodes by `(harmonic DESC, node)`:
    * `(node, ball_1, ball_r, harmonic)`.
    */
  def harmonicTopK(edges: DataFrame, srcCol: String, dstCol: String,
                   k: Int, rounds: Int, topN: Int): DataFrame = {
    val b = ballSizes(edges, srcCol, dstCol, k, rounds)
    val aggs = (0 to rounds).map(r =>
      max(when(col("radius") === r.toLong, col("est"))).as(s"__e$r"))
    val pivoted = b.groupBy(col("node")).agg(aggs.head, aggs.tail: _*)
    val h = (1 to rounds).map(r =>
        (col(s"__e$r") - col(s"__e${r - 1}")) / lit(r.toDouble))
      .reduce(_ + _)
    pivoted
      .select(col("node"), col("__e1").as("ball_1"),
        col(s"__e$rounds").as(s"ball_$rounds"),
        (round(h, 6) + 0.0).as("harmonic"))
      .orderBy(col("harmonic").desc, col("node"))
      .limit(topN)
  }

  /** KMV read-off from a `(node, lows)` sketch frame: exact when the
    * sketch is not full, `(k-1)·2^48 / h_k` at k, rounded to 6 dp
    * (one IEEE divide of exact integers — engine-deterministic).
    */
  private def estimates(state: DataFrame, k: Int): DataFrame =
    state.select(col("node"), size(col("lows")).cast("long").as("n_kept"),
      round(
        when(size(col("lows")) < k, size(col("lows")).cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(Sketches.HashLine) /
            element_at(col("lows"), -1).cast("double")), 6).as("est"))
}
