package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sampled-source, bounded-hop Brandes betweenness centrality — the
  * shortest-path-load companion to the existing centralities (q83
  * PageRank: stationary mass; q296 harmonic: closeness; HITS:
  * bipartite authority). Exact Brandes (1–2001) is O(n·m); the
  * standard scale face samples SOURCES (Brandes–Pich 2007): each seed
  * contributes its full dependency tree, and the estimate is the
  * seed-sum — unbiased up to the fixed hop bound, which caps every
  * frontier at diameter-bounded work exactly like [[Bfs.reachable]].
  *
  * Forward phase: per (seed, node) BFS with PATH COUNTING —
  * σ(seed, v) = Σ over predecessors u of σ(seed, u), one hash-join +
  * hash-agg per hop (integer σ, engine-exact). Backward phase
  * (dependency accumulation, deepest level first):
  * `δ(u) = Σ_{v ∈ succ(u)} σ_u/σ_v · (1 + δ(v))`, each term rounded
  * to 6 dp and summed in DECIMAL(38,6) per node — the established
  * cross-engine float discipline (per-term rounding, then exact
  * decimal summation, so accumulation order cannot matter). Nodes at
  * the hop bound carry δ = 0 (their subtree is cut — the bounded
  * estimator's documented truncation). bc(node) = Σ over seeds of
  * δ(seed, node) excluding each seed's own row (dist 0).
  *
  * Scale shape: `maxHops` forward joins + `maxHops` backward joins,
  * every frame (seed × frontier)-sized and checkpointed per level
  * (the [[Bfs]]/[[KCore]] loop discipline); the final top-N is
  * a TakeOrdered, never a global sort.
  */
object Betweenness {

  /** Top-`topN` nodes by sampled betweenness:
    * `(node, n_seeds_reaching, bc)` ordered (bc DESC, node), where
    * `bc` is the rounded seed-summed dependency and
    * `n_seeds_reaching` counts seeds whose tree assigned the node a
    * positive-depth place (an auditable sample-coverage signal).
    *
    * Contract: nodes placed ONLY at the hop-bound level (depth ==
    * `maxHops`) are excluded from the output entirely — from `bc`
    * AND from `n_seeds_reaching`. Their δ is identically 0 (the
    * bounded estimator cuts their subtree), so they contribute no
    * centrality mass; emitting them would only add delta-0 rows. The
    * q322 oracle replays the same exclusion (its backward CTEs start
    * at level maxHops−1).
    */
  def sampledBetweenness(edges: DataFrame, srcCol: String, dstCol: String,
                         seeds: DataFrame, maxHops: Int,
                         topN: Int): DataFrame = {
    require(maxHops >= 2, s"maxHops must be >= 2, got $maxHops")
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val adj = Checkpoint(Adjacency.undirected(edges, srcCol, dstCol))
    val seed = seeds.select(col(seeds.columns.head).cast("long").as("seed"))
      .distinct()
    // forward: levels(d) = (seed, node, sigma); dist is implicit in the
    // level index, so no per-row dist column survives to the shuffles.
    // Each level's size is observed on its checkpoint job.
    var levels = Vector(Checkpoint.pin(
      seed.select(col("seed"), col("seed").as("node"), lit(1L).as("sigma"))))
    var visited = Checkpoint(levels(0).df.select(col("seed"), col("node")))
    var d = 0
    while (d < maxHops && levels(d).rows > 0) {
      val lvl = levels(d).df
      val next = Checkpoint.pin(lvl.join(adj, lvl("node") === adj("u"))
        .select(col("seed"), col("v").as("node"), col("sigma"))
        .groupBy(col("seed"), col("node"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(visited, Seq("seed", "node"), "left_anti"))
      levels = levels :+ next
      visited = Checkpoint(visited
        .unionAll(next.df.select(col("seed"), col("node"))))
      d += 1
    }
    // backward: delta(level D) = 0; for d = D−1 … 1 accumulate from the
    // level-(d+1) successors. Terms round 6 dp THEN sum in DECIMAL —
    // deterministic under any aggregation order.
    val deepest = levels.size - 1
    var delta = Checkpoint(levels(deepest).df
      .select(col("seed"), col("node"),
        lit(BigDecimal(0)).cast("decimal(38,6)").as("delta")))
    var acc: DataFrame = null
    for (dd <- (deepest - 1) to 1 by -1) {
      val succ = levels(dd + 1).df.join(delta, Seq("seed", "node"))
        .select(col("seed"), col("node").as("v"),
          col("sigma").as("__sv"), col("delta").as("__dv"))
      val lvl = levels(dd).df
      val contrib = lvl.join(adj, lvl("node") === adj("u"))
        .select(col("seed"), col("node"), col("sigma"), col("v"))
        .join(succ, Seq("seed", "v"))
        .select(col("seed"), col("node"),
          // (18,6) first: the narrow scale pins the double→decimal
          // conversion to the rounded 6 dp value on every engine (the
          // q106/q289 term discipline); headroom to 1e12 ≫ any δ here
          round(col("sigma").cast("double") / col("__sv").cast("double") *
            (lit(1.0) + col("__dv").cast("double")), 6)
            .cast("decimal(18,6)").as("__t"))
        .groupBy(col("seed"), col("node"))
        .agg(sum(col("__t")).cast("decimal(38,6)").as("delta"))
      // a level-dd node with NO in-bound successor contributes δ = 0
      val full = Checkpoint(lvl.select(col("seed"), col("node"))
        .join(contrib, Seq("seed", "node"), "left")
        .select(col("seed"), col("node"),
          coalesce(col("delta"), lit(BigDecimal(0)).cast("decimal(38,6)"))
            .as("delta")))
      delta = full
      acc = if (acc == null) full else acc.unionAll(full)
    }
    val sums =
      if (acc == null)
        seed.limit(0).select(col("seed").as("node"),
          lit(0L).as("n_seeds_reaching"),
          lit(0.0).as("bc"))
      else acc.groupBy(col("node"))
        .agg(count(lit(1)).as("n_seeds_reaching"),
          (sum(col("delta")).cast("double") + 0.0).as("bc"))
    sums.orderBy(col("bc").desc, col("node")).limit(topN)
  }
}
