package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Grid-accelerated DBSCAN (Ester et al. KDD'96) over 2-D points —
  * density clustering for projected embeddings: core points have
  * ≥ minPts neighbors within eps (self included), clusters are the
  * connected components of the core-core eps-graph, border points
  * attach to their minimum-labeled in-range core, the rest is noise.
  *
  * Scale shape: the eps-neighborhood search is NEVER all-pairs — each
  * point lands in a `floor(coord/eps)` grid cell and candidate pairs
  * come from a 9-cell EQUI-join (the cell side replicated 3×3
  * inline), so cost is O(pairs within grid density), the standard
  * spatial-join banding. Components run through the
  * [[ConnectedComponents]] large-star/small-star fixpoint (min-id
  * labels — deterministic), never a transitive closure. Border
  * assignment takes the MIN cluster label among in-range cores,
  * removing DBSCAN's classic order-dependence — the whole output is
  * engine-replayable.
  *
  * Determinism note: coordinates are doubles; every comparison
  * (dist² ≤ eps², floor(x/eps)) is a fixed float tree both engines
  * evaluate identically on the same parquet bits.
  */
object Dbscan {

  /** Cluster summary over `(idCol, xCol, yCol)` points:
    * `(cluster, n_core, n_border, size)` — min-core-id labels — plus
    * one `cluster = NULL` row counting noise points, ordered by
    * (size DESC, cluster) with noise last; `topN` caps the cluster
    * rows (the noise row always publishes).
    */
  def clusterSummary(points: DataFrame, idCol: String, xCol: String,
                     yCol: String, eps: Double, minPts: Long,
                     topN: Int = 10): DataFrame = {
    require(eps > 0.0, "eps must be positive")
    // core-ness is derived from the NEIGHBOR-pair frame (self excluded),
    // so a zero-neighbor point can never qualify; minPts = 1 (every
    // point core, self-included count of 1) would silently misclassify
    // isolated points as noise — refuse rather than be subtly wrong
    require(minPts >= 2L,
      "minPts must be >= 2 (self-included count; isolated points have no neighbor-pair rows)")
    val p = points.select(col(idCol).cast("long").as("__id"),
        col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
      .filter(col("__id").isNotNull && col("__x").isNotNull &&
        col("__y").isNotNull)
      .withColumn("__cx", floor(col("__x") / eps))
      .withColumn("__cy", floor(col("__y") / eps))
      // cells + pair probes + label joins all re-read this projection
      .transform(Checkpoint(_))
    val probe = p.toDF("__id2", "__x2", "__y2", "__cx0", "__cy0")
      .withColumn("__dx", explode(expr("sequence(-1L, 1L)")))
      .withColumn("__dy", explode(expr("sequence(-1L, 1L)")))
      .select(col("__id2"), col("__x2"), col("__y2"),
        (col("__cx0") + col("__dx")).as("__cx"),
        (col("__cy0") + col("__dy")).as("__cy"))
    val eps2 = eps * eps
    // neighbor pairs (directed, self excluded): the 9-cell equi-join
    // guarantees every |Δ| ≤ eps pair meets exactly once per direction
    val nbrs = p.join(probe, Seq("__cx", "__cy"))
      .filter(col("__id") =!= col("__id2") &&
        (col("__x") - col("__x2")) * (col("__x") - col("__x2")) +
          (col("__y") - col("__y2")) * (col("__y") - col("__y2"))
          <= lit(eps2))
      .select(col("__id"), col("__id2"))
      .transform(Checkpoint(_))
    val cores = nbrs.groupBy(col("__id"))
      .agg(count(lit(1)).as("__nn"))
      .filter(col("__nn") + 1L >= minPts)
      .select(col("__id"))
      .transform(Checkpoint(_))
    // core-core edges → min-id component labels; isolated cores (no
    // core neighbor) self-label
    val coreEdges = nbrs
      .join(cores, Seq("__id"))
      .join(cores.toDF("__id2"), Seq("__id2"))
      .filter(col("__id") < col("__id2"))
    val labels = ConnectedComponents.labels(coreEdges, "__id", "__id2")
      .toDF("__id", "__lab")
      .unionByName(cores.select(col("__id"), col("__id").as("__lab")))
      .groupBy(col("__id")).agg(min(col("__lab")).as("__lab"))
      .transform(Checkpoint(_))
    // border: non-core with an in-range core → MIN core cluster label
    val border = nbrs
      .join(cores.toDF("__id2"), Seq("__id2"))
      .join(labels.toDF("__id2", "__lab"), Seq("__id2"))
      .join(cores, Seq("__id"), "left_anti")
      .groupBy(col("__id")).agg(min(col("__lab")).as("__lab"))
    val clusters = labels.select(col("__lab"), lit(1L).as("__core"))
      .unionByName(border.select(col("__lab"), lit(0L).as("__core")))
      .groupBy(col("__lab").as("cluster"))
      .agg(sum(col("__core")).as("n_core"),
        sum(lit(1L) - col("__core")).as("n_border"),
        count(lit(1)).as("size"))
      .orderBy(col("size").desc, col("cluster"))
      .limit(topN)
    val noise = p.select(col("__id"))
      .join(labels.select(col("__id")), Seq("__id"), "left_anti")
      .join(border.select(col("__id")), Seq("__id"), "left_anti")
      .agg(count(lit(1)).as("size"))
      .select(lit(null).cast("long").as("cluster"), lit(0L).as("n_core"),
        lit(0L).as("n_border"), col("size"))
    // explicit NULLs-last key: Spark sorts NULL first ASC, DuckDB
    // last — the boolean key makes both engines agree
    clusters.unionByName(noise)
      .orderBy(col("cluster").isNull.cast("int"), col("size").desc,
        col("cluster"))
  }
}
