package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over an edge list — the canonical iterative graph
  * computation, shaped the way it distributes: each iteration is ONE
  * equi-join (ranks onto edge sources) and ONE hash aggregation
  * (contributions by destination), both partitioned by node id. No
  * driver-side graph, no global structure; an iteration's shuffle
  * volume is O(edges), so k iterations cost k passes regardless of
  * cluster size.
  *
  * Fixed iteration count (the common production choice for relevance
  * scoring — convergence tests cost an extra pass each round). The
  * simple variant: dangling-node mass is not redistributed, matching
  * the per-node formula `(1-d)/N + d · Σ_in rank/outdeg` exactly, so
  * any engine reproduces it (the only float noise is Σ-order, absorbed
  * by rounding the published score).
  */
object PageRank {

  /** (node, pr) after `iters` rounds on the DISTINCT directed edges.
    * `knownDistinct = true` skips the normalizing distinct — a full
    * O(edges) exchange — when the caller's edge list is unique by
    * construction (the mirrored pa < pb pair artifact is; §2.4 "a
    * distinct on data that is already unique").
    */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String,
            iters: Int = 3, damping: Double = 0.85,
            knownDistinct: Boolean = false): DataFrame = {
    val raw = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e0 = Checkpoint(if (knownDistinct) raw else raw.distinct())
    val Checkpoint.Pinned(nodes, n, _) = Checkpoint.pin(
      e0.select(col("src").as("node"))
        .union(e0.select(col("dst").as("node"))).distinct())
    // outdeg is loop-invariant: fold it into the edge list ONCE so each
    // iteration is exactly one join (ranks onto sources — typically a
    // broadcast of the node-sized rank table) plus one aggregation.
    // Hash-partition the checkpointed edges on src: the per-iteration
    // join then reuses this layout and only the node-sized rank table
    // moves — the O(edges) side never re-shuffles.
    val e = Checkpoint(
      e0.join(e0.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), Seq("src"))
        .repartition(col("src")))
    val base = (1.0 - damping) / n
    // iterations are NOT checkpointed: each round's rank table feeds
    // exactly one consumer (the next round), so the k rounds fuse into
    // one linear job — the old per-round eager localCheckpoint paid a
    // scheduling round-trip plus a node-sized materialization per round
    // for lineage nobody re-read (the LabelPropagation discipline)
    var p = nodes.withColumn("pr", lit(1.0 / n))
    for (_ <- 1 to iters) {
      val contribs = e.join(p.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("pr") / col("outdeg")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_mass"))
      p = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + lit(damping) * coalesce(col("in_mass"), lit(0.0))).as("pr"))
    }
    p
  }

  /** Personalized (topic-sensitive) PageRank (Haveliwala, WWW'02;
    * Page et al.'s restart vector): random-walk-with-restart mass
    * concentrated on a SEED set — the "related items from these
    * anchors" primitive behind recommendation expansion and
    * contamination-spread scoring. Identical per-iteration shape to
    * [[ranks]] (one node-key join + one hash agg over the
    * outdeg-folded edge list); the only change is the restart vector:
    * `(1−d)·r(node) + d·Σ_in pr/outdeg` with `r` = 1/|seeds∩nodes|
    * on seeds, 0 elsewhere. Seeds outside the graph carry no mass.
    */
  def personalizedRanks(edges: DataFrame, srcCol: String, dstCol: String,
                        seeds: DataFrame, iters: Int = 3,
                        damping: Double = 0.85,
                        knownDistinct: Boolean = false): DataFrame = {
    val raw = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val e0 = Checkpoint(if (knownDistinct) raw else raw.distinct())
    val nodes = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node"))).distinct()
    val Checkpoint.Pinned(seed, k, _) = Checkpoint.pin(nodes.join(
      seeds.select(col(seeds.columns.head).cast("long").as("node")).distinct(),
      Seq("node"), "left_semi"))
    require(k > 0, "no seed intersects the graph")
    val restart = Checkpoint(
      nodes.join(seed.withColumn("__s", lit(1)), Seq("node"), "left")
        .select(col("node"),
          when(col("__s").isNotNull, lit(1.0 / k)).otherwise(lit(0.0)).as("rm")))
    val e = Checkpoint(
      e0.join(e0.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), Seq("src"))
        .repartition(col("src")))
    var p = restart.select(col("node"), col("rm").as("pr"))
    // un-checkpointed rounds fuse into one linear job — see [[ranks]]
    for (_ <- 1 to iters) {
      val contribs = e.join(p.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("pr") / col("outdeg")).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_mass"))
      p = restart.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(1.0 - damping) * col("rm") +
            lit(damping) * coalesce(col("in_mass"), lit(0.0))).as("pr"))
    }
    p
  }
}
