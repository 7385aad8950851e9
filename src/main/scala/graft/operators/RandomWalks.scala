package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic random-walk corpus generation (the DeepWalk /
  * node2vec data step — Perozzi et al. KDD'14): from every start node,
  * a fixed-length uniform walk over the graph, emitted as
  * `(walker, step, node)` rows ready to feed a skip-gram trainer. The
  * "random" choice at each hop is a HASH of (walker, current node,
  * step) reduced mod the current node's degree — uniform across
  * neighbors for hash purposes, yet bit-for-bit reproducible across
  * runs, partitionings and engines (no RNG state, no seed plumbing;
  * the [[Sketches.hash48]] md5 line every sketch here uses).
  *
  * Scale shape: one pass builds the ranked adjacency (`row_number`
  * over the per-node neighbor list — a KEYED window, never global)
  * plus degrees; each hop is then ONE equi-join of the walker
  * frontier against the ranked adjacency on (node, rank). L hops = L
  * hash joins, PageRank-iteration shape; the frontier is
  * |starts|-sized and never grows. No driver-side graph, no collect.
  */
object RandomWalks {

  /** Fixed-length walks from `starts` (a one-column frame of start
    * nodes) over the DIRECTED edge list (mirror beforehand for an
    * undirected graph). Every start node must have at least one
    * outgoing edge (walks from sink nodes end the frontier row — the
    * walk simply stops early, shorter rows are absent, not null).
    * Returns `(walker, step, node)` with step 0 = the start itself.
    */
  def walks(edges: DataFrame, srcCol: String, dstCol: String,
            starts: DataFrame, startCol: String, length: Int): DataFrame = {
    require(length >= 1, s"length must be >= 1, got $length")
    val e = edges.select(col(srcCol).as("__n"), col(dstCol).as("__d"))
      .distinct()
    // ranked adjacency + degrees: the hop is degree-aware BEFORE it
    // touches the neighbor list, so a hub node never fans the frontier
    // out by its degree — the rank is computed first (1:1 join against
    // the node-sized degree frame), then ONE (node, rank) equi-join
    // picks exactly the chosen neighbor row
    val ranked = e
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__n")).orderBy(col("__d"))))
      .transform(Checkpoint(_))
    val degrees = ranked.groupBy(col("__n"))
      .agg(max(col("__rk")).cast("long").as("__deg"))
    // the frontier is |starts|-sized; checkpointing it each hop keeps
    // every hop's plan one-join-deep (no L-deep nesting) and stops the
    // starts derivation re-running once per union branch
    var frontier = starts.select(col(startCol).as("walker"))
      .distinct()
      .withColumn("node", col("walker"))
      .transform(Checkpoint(_))
    val out = Seq.newBuilder[DataFrame]
    out += frontier.select(col("walker"), lit(0L).as("step"), col("node"))
    for (step <- 1 to length) {
      frontier = frontier
        .join(degrees.withColumnRenamed("__n", "node"), Seq("node"))
        .withColumn("__rk", (pmod(
          Sketches.hash48(concat_ws("_", col("walker"), col("node"),
            lit(step.toLong))), col("__deg")) + 1).cast("int"))
        .join(ranked.withColumnRenamed("__n", "node"),
          Seq("node", "__rk"))
        .select(col("walker"), col("__d").as("node"))
        .transform(Checkpoint(_))
      out += frontier.select(col("walker"), lit(step.toLong).as("step"),
        col("node"))
    }
    out.result().reduce(_ unionAll _)
  }
}
