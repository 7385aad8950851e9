package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-depth breadth-first reachability over an undirected edge
  * list — the "expansion neighborhood" primitive behind related-item
  * retrieval, contamination-spread audits and graph feature
  * engineering. Frontier-style iteration (Pregel's BFS specialization):
  * each hop is ONE hash join (frontier ⋈ edges) plus ONE distinct and
  * an anti join against the visited set — all node-key hash shuffles,
  * no global structure and no driver-side graph. The hop count is the
  * iteration index, so `hop` is the exact shortest-path distance
  * (min-hop semantics come for free: a node joins `visited` the first
  * round it is seen and the anti join hides it from later frontiers).
  *
  * Scale shape: work per hop is |frontier ⋈ edges| — proportional to
  * the edges incident to the frontier, never to paths (the visited-set
  * anti join is what kills the path explosion a naive recursive
  * expansion suffers). The visited set goes through [[Checkpoint]]
  * each round to cut the growing lineage; the frontier's checkpoint
  * job observes its size, so the emptiness test costs no extra job.
  */
object Bfs {

  /** `(node, hop)` for every node within `maxHops` of `seeds`,
    * `hop` = exact BFS distance (seeds themselves at hop 0).
    *
    * `edges` needs `srcCol`/`dstCol` (treated undirected); `seeds`
    * needs a single column named like `srcCol`'s output, i.e. a one
    * column frame of node ids.
    */
  def reachable(edges: DataFrame, srcCol: String, dstCol: String,
                seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    // scanned once per hop — cut re-reads
    val adj = Checkpoint(Adjacency.undirected(edges, srcCol, dstCol))
    var frontier = Checkpoint.pin(
      seeds.select(col(seeds.columns.head).cast("long").as("node"))
        .distinct()
        .withColumn("hop", lit(0)))
    var visited = frontier.df
    var hop = 0
    while (hop < maxHops && frontier.rows > 0) {
      hop += 1
      val f = frontier.df
      frontier = Checkpoint.pin(f.join(adj, f("node") === adj("u"))
        .select(col("v").as("node"))
        .distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("hop", lit(hop)))
      visited = Checkpoint(visited.unionAll(frontier.df))
    }
    visited
  }

  /** [[reachable]] plus per-hop sizes — `(hop, n_nodes)`, the frontier
    * growth profile.
    */
  def hopProfile(edges: DataFrame, srcCol: String, dstCol: String,
                 seeds: DataFrame, maxHops: Int): DataFrame =
    reachable(edges, srcCol, dstCol, seeds, maxHops)
      .groupBy(col("hop")).agg(count(lit(1)).as("n_nodes"))
}
