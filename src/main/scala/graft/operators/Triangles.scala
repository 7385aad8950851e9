package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed triangle counting over an undirected graph — the
  * compact-forward / edge-orientation algorithm (Schank & Wagner,
  * "Finding, counting and listing all triangles in large graphs",
  * WEA'05): orient every edge from its lower to its higher endpoint,
  * join the oriented list with itself on the source to enumerate each
  * wedge (a→b, a→c with b < c) exactly once, then keep wedges whose
  * closing edge (b→c) exists via a join. Every triangle is counted
  * exactly once, at its minimum vertex.
  *
  * Scale shape: hash joins on node keys — no global structure, no
  * driver-side graph. Orientation is by (degree, id) rank, which caps
  * oriented out-degree at O(√m) and therefore the wedge fan-out at
  * O(m^1.5) even on skewed graphs (the paper's bound); the triangle
  * SET is orientation-independent, so a portable oracle may verify
  * with the simpler id orientation and must agree.
  *
  * The O(m^1.5) wedge join is the dominant cost of every consumer
  * (global census, per-node coefficients, k-truss support), so
  * [[enumerate]] is a first-class product: run it ONCE, persist the
  * `(u, v, w)` triangle list, and feed the `...FromTriangles` faces —
  * the sf~1 ladder showed the three graph queries re-paying the same
  * enumeration three times.
  */
object Triangles {

  /** Canonical undirected edge list `(lo, hi)` — deduped, self-loops
    * dropped, both input directions folded.
    */
  /** APPROXIMATE per-node clustering coefficient by WEDGE SAMPLING
    * (Schank & Wagner 2005) — the third member of the approximation
    * pair around the exact enumeration: q281's DOULION samples EDGES
    * for the global census; this samples k neighbor PAIRS per node
    * and checks closure, so hubs cost k edge-existence probes instead
    * of deg² wedges — the per-node face the exact artifact_tris wall
    * (wedge count grows with density) cannot avoid. The pair choice
    * is the md5 content hash over (node, trial): deterministic,
    * engine-replayable (the q246 rank-th-neighbor discipline), with
    * replacement (standard; Chernoff bounds on k draws).
    *
    * Cost: one O(m) adjacency ranking window, k·n probe rows, two
    * (node, rank) equi-joins and one edge-existence hash join — no
    * wedge enumeration anywhere. Returns the `topN` highest-degree
    * nodes: `(node, deg, n_closed, cc_est_ppm)` with
    * `cc_est_ppm = 1e6·closed DIV k` exact integers, ordered by
    * `(deg DESC, node)`.
    */
  def sampledLocalClustering(edges: DataFrame, srcCol: String,
                             dstCol: String, k: Int,
                             topN: Int,
                             knownEdges: Option[Long] = None,
                             assumeCanonical: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // no checkpoint on e0: callers feed an artifact/parquet edge list,
    // so its re-reads are scans, not recomputation
    val e0 = canonicalEdges(edges, srcCol, dstCol, assumeCanonical)
    val m = e0.select(col("lo").as("src"), col("hi").as("dst"))
      .unionAll(e0.select(col("hi").as("src"), col("lo").as("dst")))
    val byDst = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    // the one O(m log) pass; read by both rank joins → materialized
    val adj = m.withColumn("rk", row_number().over(byDst))
      .transform(Checkpoint(_))
    // degrees off the mirrored list directly (hash agg, no window read)
    val deg = m.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2L)
    def h48(suffix: String) =
      conv(substring(md5(concat(col("node").cast("string"), lit("_"),
        col("__t").cast("string"), lit(suffix))), 1, 12), 16, 10)
        .cast("long")
    val probes = deg
      // NOT re-spread after the ×k explode, deliberately (§1 measured):
      // AQE coalesces the deg agg's exchange by BYTES, so at bench
      // scale the k·n probe pipeline runs on ~3 tasks — but per-probe
      // work is constant (two md5s + three hash probes), not an
      // expansion, so an explicit repartition paid more in shuffle than
      // the tail it recovered (A/B: q313 4.30 → 4.72 s with the
      // spread). At real scale the deg exchange is data-sized and AQE's
      // byte targets provide the parallelism by themselves.
      .withColumn("__t", explode(expr(s"sequence(0L, ${k - 1}L)")))
      .withColumn("__i", h48("_a") % col("deg"))
      .withColumn("__j0", h48("_b") % (col("deg") - 1L))
      .withColumn("__j",
        when(col("__j0") >= col("__i"), col("__j0") + 1L)
          .otherwise(col("__j0")))
    // rank is part of the EQUI-join key — a join on node alone with a
    // rank filter after would expand each probe by the node's degree,
    // re-buying the wedge blowup this operator exists to avoid
    val withU = probes.withColumn("__rka", col("__i") + 1L)
      .join(adj.select(col("src").as("node"), col("dst").as("__u"),
        col("rk").as("__rka")), Seq("node", "__rka"))
      .drop("__rka")
    val withUv = withU.withColumn("__rkb", col("__j") + 1L)
      .join(adj.select(col("src").as("node"), col("dst").as("__v"),
        col("rk").as("__rkb")), Seq("node", "__rkb"))
      .drop("__rkb")
    // closure lookup on the single packed long, with the enumerate()
    // measured-strategy rule: broadcast while the edge list fits,
    // shuffle-hash past it — never a sort of the probe stream.
    // `knownEdges` = the caller's artifact-manifest count (equal to the
    // canonical edge count when the input is already pa < pb distinct,
    // as the co-purchase artifact is) — skips the per-call count job
    val ek = e0.select(packed(col("lo"), col("hi"),
      "Triangles.sampledLocalClustering").as("__ek"),
      lit(1L).as("__hit"))
    val lookup =
      if (knownEdges.getOrElse(e0.count()) <= BroadcastEdgeLimit)
        broadcast(ek)
      else ek.hint("shuffle_hash")
    val closed = withUv
      .withColumn("__ek", packed(least(col("__u"), col("__v")),
        greatest(col("__u"), col("__v")),
        "Triangles.sampledLocalClustering"))
      .join(lookup, Seq("__ek"), "left")
      .groupBy(col("node"), col("deg"))
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_closed"))
    val full = closed
      .select(col("node"), col("deg"), col("n_closed"),
        expr(s"1000000 * n_closed DIV ${k}L").as("cc_est_ppm"))
    // topN <= 0 = the FULL per-node frame, unsorted (the fidelity-audit
    // face, q320) — no TakeOrdered node is planned at all
    if (topN > 0) full.orderBy(col("deg").desc, col("node")).limit(topN)
    else full
  }

  /** `assumeCanonical = true` skips the normalizing distinct — a full
    * O(edges) exchange — when the input is unique src < dst pairs by
    * construction (the co-purchase pair artifact is; §2.4 "a distinct
    * on data that is already unique"). The cheap narrow guards
    * (orientation, self-loop filter, long cast) still run.
    */
  def canonicalEdges(edges: DataFrame, srcCol: String,
                     dstCol: String,
                     assumeCanonical: Boolean = false): DataFrame = {
    // long-normalized up front: packed() below shifts by 32, and on an
    // IntegerType column shiftleft(_, 32) is a silent no-op (Java masks
    // the shift amount), which would collide keys instead of packing
    val c = edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("lo"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("hi"))
      .filter(col("lo") =!= col("hi"))
    if (assumeCanonical) c else c.distinct()
  }

  /** Node degrees of a canonical edge list: `(n, deg)`. */
  def degrees(e: DataFrame): DataFrame =
    e.select(col("lo").as("n"))
      .unionAll(e.select(col("hi").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))

  /** Closing-edge lookup on a single packed long: one-word hash keys,
    * and the ~|E|-row build side stays AQE-broadcastable far longer
    * than a two-column struct. Packing needs ids in [0, 2^32) — the
    * assert_true fails fast (codegen'd scan-stage check) if not.
    */
  private def packed(a: Column, b: Column, tag: String): Column = {
    val ok = a >= 0 && b >= 0 && a < (1L << 32) && b < (1L << 32)
    when(assert_true(ok, lit(s"$tag: node ids must fit 32 bits"))
      .isNull, shiftleft(a, 32).bitwiseOR(b))
  }

  /** Edge-count ceiling under which the closing-edge list broadcasts
    * (~8 B/row packed: 20M edges ≈ 160 MB — one in-JVM copy in local
    * mode, one per executor on a cluster); above it the lookup runs as
    * a shuffle-HASH join. Either way the wedge stream is NEVER SORTED:
    * the sf~1 ladder caught the sort-merge default burning 244 s
    * ordering ~10⁹ wedge rows that a hash probe handles in ~30 s.
    */
  val BroadcastEdgeLimit: Long = 20L * 1000 * 1000

  /** Edge-count floor above which [[enumerate]] spreads the oriented
    * list before the wedge self-join. The spread recovers the
    * AQE-coalesced tail of the O(m^1.5) expansion but costs two
    * m-row exchanges plus two scheduled stages — a trade that flips
    * with wedge mass. Measured at sf0.1 (r14/r15): the full
    * co-purchase graph (m = 1.20M) gains ~2 s spread; q281's DOULION
    * sample of the same graph (m/4 ≈ 0.30M, 1/16 the wedge mass)
    * LOSES ~1 s — it ran FASTER on 8 cores than 32, the signature of
    * fixed-spread overhead (r14 verdict what's-wrong #1). The floor
    * is the geometric midpoint of that measured win/loss pair; any
    * graph a 100 TB run enumerates sits far above it, so the spread
    * engages everywhere it matters and steps aside exactly where the
    * expansion is too small to amortize the exchanges.
    */
  val SpreadEdgeFloor: Long = 600L * 1000

  /** Every triangle of the canonical edge list `e`, exactly once:
    * `(u, v, w)` where `u` is the orientation apex (both `u→v` and
    * `u→w` survive the degree orientation) and `v < w`. One wedge
    * self-join + one closing-edge join — THE O(m^1.5) pass; persist
    * the result when more than one consumer needs triangles.
    *
    * The wedge stream carries TWO longs — the apex and the packed
    * closing key; `v`/`w` are unpacked after the join. At the wedge
    * join's O(m^1.5) cardinality every extra column is gigabytes of
    * shuffle, so width is the contract here.
    */
  def enumerate(e: DataFrame, tag: String = "Triangles",
                knownEdges: Option[Long] = None): DataFrame = {
    // one |E| count prices BOTH measured strategies below (the wedge
    // spread gate and the closing-edge lookup election); `knownEdges`
    // (an artifact manifest's recorded count) skips the count job.
    val edgeCount = knownEdges.getOrElse(e.count())
    val deg = degrees(e)
    // orient each edge toward the (degree, id)-larger endpoint: every
    // triangle then has exactly ONE vertex with both out-edges, and
    // oriented out-degree is O(sqrt m), bounding the wedge join
    val oriented = e
      .join(deg.select(col("n").as("lo"), col("deg").as("dl")), "lo")
      .join(deg.select(col("n").as("hi"), col("deg").as("dh")), "hi")
      .select(
        when(col("dl") < col("dh") ||
            (col("dl") === col("dh") && col("lo") < col("hi")),
          col("lo")).otherwise(col("hi")).as("u"),
        when(col("dl") < col("dh") ||
            (col("dl") === col("dh") && col("lo") < col("hi")),
          col("hi")).otherwise(col("lo")).as("v"))
    // spread the oriented list BEFORE the wedge self-join: the list is
    // small in BYTES, so AQE coalesces the orientation join's output
    // to ~3 partitions — but the self-join below expands each row by
    // the apex out-degree (the O(m^1.5) wedge stream is produced
    // HERE), so unspread the whole expansion runs on 3 tasks (guide
    // §2.5 — partition by the unit of WORK, not bytes; measured 3.4 s
    // wall on a 9.8 s-CPU wedge job at sf0.1). (u, v) is unique: an
    // even spread. GATED on wedge mass ([[SpreadEdgeFloor]]): below
    // the floor the two extra exchanges cost more than the coalesced
    // tail they recover (the r14 q281 regression — the DOULION sample
    // ran faster on FEWER cores).
    val o =
      if (edgeCount >= SpreadEdgeFloor)
        oriented.repartition(
          e.sparkSession.sparkContext.defaultParallelism,
          col("u"), col("v"))
      else oriented
    val wedges = o.as("ab").join(o.as("ac"),
        col("ab.u") === col("ac.u") && col("ab.v") < col("ac.v"))
      .select(col("ab.u").as("u"),
        packed(col("ab.v"), col("ac.v"), tag).as("ek"))
    val ek = e.select(packed(col("lo"), col("hi"), tag).as("ek"))
    // the |E| count picks the lookup strategy; both choices hash-probe
    // the wedge stream in place of sorting it. Broadcast wins while the
    // edge list fits (the probe stream is O(m^1.5) — measured 25 s vs
    // 48 s shuffle-hash vs 244 s sort-merge on the sf~1 slice); past
    // the limit the wedge stream shuffles once but still never sorts.
    val closing =
      if (edgeCount <= BroadcastEdgeLimit) broadcast(ek)
      else ek.hint("shuffle_hash")
    wedges.join(closing, Seq("ek"), "left_semi")
      .select(col("u"),
        shiftrightunsigned(col("ek"), 32).as("v"),
        col("ek").bitwiseAND(lit((1L << 32) - 1)).as("w"))
  }

  /** Global triangle count plus graph size: one row
    * `(n_nodes, n_edges, n_triangles)`.
    */
  def census(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = canonicalEdges(edges, srcCol, dstCol)
    censusFromTriangles(e, enumerate(e, "Triangles.census"))
  }

  /** [[census]] over a PRE-ENUMERATED triangle list (the shared-
    * artifact face: the wedge join ran once, every consumer reads it).
    */
  def censusFromTriangles(e: DataFrame, tris: DataFrame): DataFrame =
    degrees(e).agg(count(lit(1)).as("n_nodes"))
      .crossJoin(broadcast(e.agg(count(lit(1)).as("n_edges"))))
      .crossJoin(broadcast(tris.agg(count(lit(1)).as("n_triangles"))))

  /** Per-node triangle participation and local clustering coefficient:
    * `(node, deg, n_triangles, clustering_ppm)` for every node, where
    * `clustering_ppm = ⌊2·T·10⁶ / (deg·(deg−1))⌋` (Watts–Strogatz
    * local coefficient as an exact parts-per-million integer; 0 for
    * degree < 2). Each enumerated triangle is credited to all three
    * corners through one 3-element explode and counted in a hash
    * aggregation. The ppm division runs in DECIMAL(38,0) so
    * warehouse-scale degrees cannot overflow the 10⁶-scaled numerator.
    */
  def perNodeCensus(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    val e = canonicalEdges(edges, srcCol, dstCol)
    perNodeCensusFromTriangles(e, enumerate(e, "Triangles.perNodeCensus"))
  }

  /** [[perNodeCensus]] over a pre-enumerated triangle list. */
  def perNodeCensusFromTriangles(e: DataFrame,
                                 tris: DataFrame): DataFrame = {
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    degrees(e).select(col("n").as("node"), col("deg"))
      .join(perNode, Seq("node"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("clustering_ppm",
        when(col("deg") >= 2,
          expr("CAST((CAST(2000000 AS DECIMAL(38,0)) * n_triangles)" +
            " div (CAST(deg AS DECIMAL(38,0)) * (deg - 1)) AS BIGINT)"))
          .otherwise(lit(0L)))
  }

  /** DOULION approximate triangle census (Tsourakakis, Kang, Miller &
    * Faloutsos, KDD'09): sparsify the graph by keeping each edge with
    * probability `1/inverseP`, count triangles EXACTLY on the sample,
    * and scale by `inverseP³` — an unbiased estimator whose wedge-join
    * cost drops ~`inverseP²` (both wedge edges must survive), the
    * pipeline face for graphs where the exact O(m^1.5) pass is the
    * budget. Sampling is DETERMINISTIC — an md5 over the canonical
    * edge key, so the estimate is reproducible run-to-run and an
    * external SQL oracle can replay it bit-for-bit (no RNG state).
    *
    * One row: `(n_edges, n_edges_sampled, n_triangles_sampled,
    * est_triangles)` where `est_triangles = sampled · inverseP³`
    * (exact integer math; relative error concentrates as
    * O(1/√(T/inverseP³)) on graphs with enough triangles).
    */
  def sampledCensus(edges: DataFrame, srcCol: String, dstCol: String,
                    inverseP: Int,
                    assumeCanonical: Boolean = false): DataFrame = {
    require(inverseP >= 1, s"inverseP must be >= 1, got $inverseP")
    val e = canonicalEdges(edges, srcCol, dstCol, assumeCanonical)
    val kept = e.filter(
      conv(substring(md5(concat_ws("_", col("lo"), col("hi"))), 1, 8),
        16, 10).cast("long") % inverseP === 0)
    val tris = enumerate(kept, "Triangles.sampledCensus")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(kept.agg(count(lit(1)).as("n_edges_sampled"))))
      .crossJoin(broadcast(
        tris.agg(count(lit(1)).as("n_triangles_sampled"))))
      .withColumn("est_triangles",
        col("n_triangles_sampled") *
          lit(inverseP.toLong * inverseP * inverseP))
  }

  /** Triangles of `tris` whose THREE edges all appear in the canonical
    * edge list `e` — three packed-key semi joins, linear in |tris|.
    * This is how an iterative consumer (k-truss peel) tracks a
    * shrinking subgraph WITHOUT re-running the O(m^1.5) wedge join:
    * a surviving subgraph's triangles are exactly the full-graph
    * triangles whose edges all survived.
    */
  def filterByEdges(tris: DataFrame, e: DataFrame): DataFrame = {
    val tag = "Triangles.filterByEdges"
    val ekRaw = e.select(packed(col("lo"), col("hi"), tag).as("__ek"))
    // shuffle-HASH, not broadcast and never sort-merge: here the probe
    // stream is only |tris| (not the O(m^1.5) wedge stream), so paying
    // a driver-built multi-M-row broadcast relation per peel round
    // measured SLOWER than shuffling the triangle list (29 s vs 43 s
    // on the sf~1 slice); the sort-merge default would sort it 3×.
    val ek = ekRaw.hint("shuffle_hash")
    Seq(
      packed(least(col("u"), col("v")), greatest(col("u"), col("v")), tag),
      packed(least(col("u"), col("w")), greatest(col("u"), col("w")), tag),
      packed(col("v"), col("w"), tag) // v < w by construction
    ).foldLeft(tris) { (t, key) =>
      t.join(ek, key === col("__ek"), "left_semi")
    }
  }

  /** Triangle-membership count per canonical edge: `(lo, hi, support)`
    * — only edges in ≥1 triangle appear. The k-truss support pass,
    * exposed here so a persisted [[enumerate]] result serves it too.
    */
  def edgeSupportFromTriangles(tris: DataFrame): DataFrame =
    tris.select(explode(array(
        struct(least(col("u"), col("v")).as("lo"),
          greatest(col("u"), col("v")).as("hi")),
        struct(least(col("u"), col("w")).as("lo"),
          greatest(col("u"), col("w")).as("hi")),
        struct(col("v").as("lo"), col("w").as("hi")))).as("ed")) // v < w
      .select(col("ed.lo").as("lo"), col("ed.hi").as("hi"))
      .groupBy(col("lo"), col("hi")).agg(count(lit(1)).as("support"))
}
