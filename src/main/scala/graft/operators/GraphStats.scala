package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Whole-graph summary statistics. First resident: degree
  * assortativity (Newman 2002, "Assortative mixing in networks") —
  * the Pearson correlation of end-point degrees over edges, the
  * single scalar that says whether hubs attach to hubs (r > 0) or to
  * leaves (r < 0); a standard sanity gate on graph-structured
  * training data (social graphs are assortative, co-purchase and
  * web graphs typically disassortative).
  *
  * Scale shape: ONE degree hash-agg, two node-key hash joins to
  * decorate each directed end-pair, ONE moment aggregation. With both
  * edge orientations present the x/y marginals coincide, so Pearson
  * reduces to `(m·Σxy − (Σx)²) / (m·Σx² − (Σx)²)` over four exact
  * integer moments — the moments accumulate in DECIMAL headroom
  * picked so no product crosses the 38-digit cap (no precision-loss
  * rescaling), and only the final division is float, rounded 6 dp.
  */
object GraphStats {

  /** One row: `(n_nodes, n_edges, assortativity)` — `n_edges` counts
    * undirected edges once; `assortativity` is NULL for degenerate
    * graphs (every degree equal, e.g. a perfect matching or cycle,
    * where the variance term is 0).
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val e = Adjacency.undirected(edges, srcCol, dstCol)
    val deg = e.groupBy("u").agg(count(lit(1)).as("d"))
    val pairs = e
      .join(deg.select(col("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("u").as("v"), col("d").as("dv")), Seq("v"))
    pairs.agg(
        count(lit(1)).as("m2"), // directed end-pairs = 2·n_edges
        sum(col("du").cast("decimal(18,0)")).as("sx"),
        sum((col("du") * col("dv")).cast("decimal(18,0)")).as("sxy"),
        sum((col("du") * col("du")).cast("decimal(18,0)")).as("sxx"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      // (9,0)·(28,0) → 38 and (18,0)² → 37: no cap crossing anywhere
      .withColumn("__num",
        (col("m2").cast("decimal(9,0)") * col("sxy").cast("decimal(28,0)") -
          col("sx").cast("decimal(18,0)") *
            col("sx").cast("decimal(18,0)")).cast("double"))
      .withColumn("__den",
        (col("m2").cast("decimal(9,0)") * col("sxx").cast("decimal(28,0)") -
          col("sx").cast("decimal(18,0)") *
            col("sx").cast("decimal(18,0)")).cast("double"))
      .select(col("n_nodes"),
        expr("m2 DIV 2").as("n_edges"),
        when(col("__den") === 0.0, lit(null).cast("double"))
          .otherwise(round(col("__num") / col("__den"), 6))
          .as("assortativity"))
  }

  /** Power-law tail exponent of the degree distribution (Newman 2005,
    * "Power laws, Pareto distributions and Zipf's law", eq. 5 — the
    * Hill/MLE estimator): `α = 1 + n / Σ ln(d / (dmin − 0.5))` over
    * nodes with degree ≥ dmin. The scale-free-ness audit for graph
    * corpora (α ∈ [2,3] is the small-world signature; α far outside
    * means the graph generator or join is broken).
    *
    * One degree hash-agg + one aggregation; the ln terms are rounded
    * to 6 dp and summed in DECIMAL (order-independent, the q106
    * discipline), so both engines see the identical sum; α is one
    * float expression on one row, rounded 6 dp.
    */
  def powerLawAlpha(edges: DataFrame, srcCol: String, dstCol: String,
                    dmin: Long): DataFrame = {
    require(dmin >= 1, s"dmin must be >= 1, got $dmin")
    Adjacency.undirected(edges, srcCol, dstCol)
      .groupBy("u").agg(count(lit(1)).as("d"))
      .filter(col("d") >= dmin)
      .agg(count(lit(1)).as("n_tail"),
        sum(round(log(col("d").cast("double") / lit(dmin - 0.5)), 6)
          .cast("decimal(18,6)")).as("__s"))
      .select(col("n_tail"), lit(dmin).as("dmin"),
        round(lit(1.0) + col("n_tail").cast("double") /
          col("__s").cast("double"), 6).as("alpha"))
  }

  /** Rich-club coefficient curve (Zhou & Mondragón 2004): for each
    * degree threshold k, the edge density φ(k) among the nodes of
    * degree > k — "do the hubs form their own dense club?". Rising
    * φ(k) is the signature of elite cores in collaboration graphs;
    * its absence (or a fall) is typical of co-purchase/biological
    * graphs. The natural companion scalar curve to single-number
    * assortativity ([[degreeAssortativity]]).
    *
    * Scale shape: ONE degree hash-agg, two node-key hash joins to
    * decorate each undirected edge with its end degrees, then a
    * broadcast threshold fan-out (|thresholds| rows, `limit`-bounded)
    * into two tiny counting aggregations. φ is exact integer ppm —
    * `2·10⁶·E_k DIV (N_k·(N_k−1))`, all positive so Spark truncation
    * ≡ DuckDB floor — with the documented headroom E_k < 4.6e12.
    *
    * Output: one row per threshold `(k, n_nodes, n_edges, phi_ppm)`;
    * `phi_ppm` is NULL when fewer than 2 nodes qualify (no possible
    * edge). Self-loops are dropped; duplicate/reversed input edges
    * collapse.
    */
  def richClub(edges: DataFrame, srcCol: String, dstCol: String,
               thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty, "richClub needs at least one threshold")
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val und = e0.select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
    val deg = und.select(col("a").as("n")).unionAll(und.select(col("b")))
      .groupBy("n").agg(count(lit(1)).as("d"))
      // node-sized; read by the club-node count and both edge-end
      // decorations — pin it so the edge frame is scanned twice total
      // (degree build + club-edge count), never once per threshold
      .transform(Checkpoint(_))
    // limit() marks the literal threshold frame visibly bounded for
    // plan audits; it is |thresholds| rows by construction
    val ths = broadcast(
      thresholds.toDF("k").limit(thresholds.size))
    val nk = deg.join(ths, col("d") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_nodes"))
    val ek = und
      .join(deg.select(col("n").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("d").as("db")), Seq("b"))
      .join(ths, col("da") > col("k") && col("db") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_edges"))
    ths.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .withColumn("phi_ppm",
        when(col("n_nodes") >= 2L,
          expr("(2000000 * n_edges) DIV (n_nodes * (n_nodes - 1))"))
          .otherwise(lit(null).cast("long")))
      .orderBy(col("k"))
  }
}
