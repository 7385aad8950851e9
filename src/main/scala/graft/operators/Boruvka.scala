package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Borůvka's minimum-spanning-forest algorithm — THE MST for a
  * shared-nothing engine (Kruskal and Prim are driver-sequential;
  * Borůvka is `O(log n)` fully-parallel rounds): every round each
  * component picks its cheapest outgoing edge, all picks join the
  * forest at once, and touching components merge. Component count at
  * least halves per round.
  *
  * Spark shape, per round: two hash joins label the edge endpoints,
  * one hash aggregation picks each component's min edge (a
  * lexicographic `min(struct(w, a, b))` — weight first, then the
  * deterministic (a, b) tie-break, so ties never need distinct
  * weights), the chosen edges' COMPONENT graph (≤ one edge per
  * component, shrinking every round) runs through the
  * [[ConnectedComponents]] large-star/small-star merge, and node
  * labels update with one more join. Rounds go through [[Checkpoint]]
  * so plans stay round-sized and their size stats honest (the
  * pointer-doubling self-joins square the estimate of whatever they
  * read); the per-round counts are observed on those checkpoint jobs.
  * Nothing corpus-sized ever reaches the driver.
  *
  * With distinct weights the MST is unique; with ties the (w, a, b)
  * ordering still makes the result deterministic and replayable, so
  * an oracle can re-run the same rounds in SQL.
  */
object Boruvka {

  /** `rounds` fixed synchronous Borůvka rounds over an undirected
    * weighted edge list (one row per edge, any orientation). Returns
    * per-round progress — `(round, n_added, weight_added,
    * n_components)` — the oracle-facing face (fixed rounds replay
    * exactly; run `ceil(log2 n)` rounds for the full forest). Rounds
    * after convergence report 0 added edges and an unchanged
    * component count.
    */
  def forestRounds(edges: DataFrame, aCol: String, bCol: String,
                   wCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = Checkpoint(edges.select(col(aCol).cast("long").as("a"),
      col(bCol).cast("long").as("b"), col(wCol).cast("long").as("w"))
      .filter(col("a") =!= col("b")))
    val nodes = Checkpoint.pin(e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node"))).distinct()
      .select(col("node"), col("node").as("lab")))
    var lab = nodes.df
    // every forest edge merges exactly two components (the (w, a, b)
    // total order makes the picks acyclic), so the component count
    // falls by n_added each round — no per-round distinct-label job
    var nComp = nodes.rows
    val stats = Vector.newBuilder[(Long, Long, Long, Long)]
    for (r <- 1 to rounds) {
      val el = e
        .join(lab.select(col("node").as("a"), col("lab").as("la")), Seq("a"))
        .join(lab.select(col("node").as("b"), col("lab").as("lb")), Seq("b"))
        .filter(col("la") =!= col("lb"))
      // each touched component's cheapest outgoing edge; both
      // orientations compete, ties break on (w, a, b) inside the
      // lexicographic struct-min. Kept PER COMPONENT (not collapsed to
      // the distinct edge set): the pick column IS the merge structure
      // the pointer-jump below walks.
      val picks = el.select(col("la").as("comp"), col("w"), col("a"),
          col("b"), col("la"), col("lb"))
        .unionAll(el.select(col("lb").as("comp"), col("w"), col("a"),
          col("b"), col("la"), col("lb")))
        .groupBy(col("comp"))
        .agg(min(struct(col("w"), col("a"), col("b"), col("la"),
          col("lb"))).as("pick"))
        .select(col("comp"), col("pick.w").as("w"), col("pick.la").as("la"),
          col("pick.lb").as("lb"))
      // merge the chosen-edge component graph by POINTER JUMPING on
      // the pick digraph instead of a generic ConnectedComponents
      // call (whose inner large-star/small-star loop scheduled ~8
      // stage-jobs per iteration per round plus convergence probes).
      // Structure exploited: ptr(c) = the other endpoint of c's pick
      // has out-degree exactly 1, and every cycle has length 2 —
      // following picks, edge keys are non-increasing in the
      // (w, a, b, la, lb) total order (c's pick is minimal over edges
      // incident to c, and ptr(c)'s incident set contains that edge),
      // so a cycle's keys are all equal = all the SAME edge = its two
      // endpoints. The 2-cycle minimum is the tree root; pointer
      // DOUBLING reaches it in ceil(log2(height)) compositions with
      // height ≤ n_added — a bound known once the first composition's
      // checkpoint is observed, so NO per-iteration convergence probe
      // is scheduled.
      val ptr = picks.select(col("comp").as("x"),
        when(col("la") === col("comp"), col("lb"))
          .otherwise(col("la")).as("p"), col("w"))
      val first = Checkpoint.pin(
        ptr.as("f").join(ptr.as("g"), col("f.p") === col("g.x"))
          .select(col("f.x").as("x"),
            when(col("g.p") === col("f.x"), least(col("f.x"), col("f.p")))
              .otherwise(col("f.p")).as("p"),
            col("f.w").as("w"), (col("g.p") === col("f.x")).as("mutual")),
        count(when(col("mutual"), 1)).as("n_mutual"), sum(col("w")).as("w_all"),
        sum(when(col("mutual"), col("w"))).as("w_mutual"))
      // both endpoints picking the same edge (a 2-cycle) = one forest edge
      val nAdded = first.rows - first.long("n_mutual") / 2
      val wAdded = first.long("w_all") - first.long("w_mutual") / 2
      if (nAdded > 0) {
        var par = first.df.select(col("x"), col("p"))
        val steps = (64 - java.lang.Long.numberOfLeadingZeros(nAdded))
          .max(1) // ceil(log2(nAdded + 1))
        var done = 0
        while (done < steps) {
          // batch 3 lazy squarings per checkpoint: the plan tree holds
          // 2³ = 8 references to the checkpointed scan — cheap — while
          // the scheduled-job count drops 3×
          val batch = math.min(3, steps - done)
          var q = par
          for (_ <- 1 to batch)
            q = q.as("f").join(q.as("g"), col("f.p") === col("g.x"))
              .select(col("f.x").as("x"), col("g.p").as("p"))
          par = Checkpoint(q)
          done += batch
        }
        // component label = min old label in each root group — exactly
        // ConnectedComponents.labels(chosen) (the root group IS the
        // chosen-edge connected component; domain = its endpoints)
        val newLab = par.join(
            par.groupBy(col("p")).agg(min(col("x")).as("cluster")),
            Seq("p"))
          .select(col("x").as("lab"), col("cluster"))
        lab = Checkpoint(lab
          .join(newLab, Seq("lab"), "left")
          .select(col("node"), coalesce(col("cluster"), col("lab")).as("lab")))
        nComp -= nAdded
      }
      stats += ((r.toLong, nAdded, wAdded, nComp))
    }
    stats.result()
      .toDF("round", "n_added", "weight_added", "n_components")
      .orderBy(col("round"))
  }
}
