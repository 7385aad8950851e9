package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Kendall's τ-b rank correlation per group — the third member of the
  * correlation family (Pearson q63, Spearman q177). τ-b is the
  * concordant-vs-discordant PAIR probability with the standard tie
  * correction (Kendall 1945); unlike Spearman it is robust to any
  * monotone re-scaling of either variable and has a direct
  * probabilistic reading ("how often do two random days agree in
  * direction"), which makes it the metric-drift test of choice for
  * ordinal or heavily tied series.
  *
  * Scale shape: τ is inherently a PAIR statistic — this operator joins
  * the series against itself within each group, so cost is
  * O(Σ_g n_g²). That is the right trade only because the intended
  * input is a PRE-AGGREGATED series (one row per group × period — the
  * q267 caller feeds the |priorities| × |days| daily frame, bounded by
  * the calendar, not the fact table); raw-event inputs must be rolled
  * up first. The join is an equi-join on the group key (hash, never
  * BNLJ), every pair classification is exact 64-bit integer sign
  * arithmetic, and the single sqrt/divide runs once per GROUP on
  * exact integer inputs, rounded 6 dp — deterministic across engines.
  */
object Kendall {

  /** One row per group:
    * `(groupCols*, n, concordant, discordant, tied_x, tied_y, tau_b)`
    * where `tied_x`/`tied_y` count pairs tied on that variable
    * (pairs tied on BOTH count in each), and
    * `tau_b = (C − D) / sqrt((n0 − T_x)(n0 − T_y))` with
    * `n0 = n(n−1)/2`, NULL when either factor is zero (a variable
    * constant within the group). Rows with a NULL x or y are dropped.
    * `orderCol` must be unique within a group (a period key); it
    * orients each unordered pair exactly once.
    */
  def tauB(df: DataFrame, groupCols: Seq[String], orderCol: String,
           xCol: String, yCol: String): DataFrame = {
    require(groupCols.nonEmpty, "tauB needs at least one group column")
    val base = df.select(
        (groupCols.map(col) ++ Seq(col(orderCol).cast("long").as("__t"),
          col(xCol).cast("long").as("__x"),
          col(yCol).cast("long").as("__y"))): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      // spread the series BEFORE checkpointing: AQE coalesces the tiny
      // pre-aggregation to ~1 partition, and the O(n²) pair expansion
      // streams over these partitions (the planner broadcasts the
      // other side) — unspread it runs single-threaded (guide §2.5,
      // measured on the q268 twin of this shape)
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        (groupCols.map(col) :+ col("__t")): _*)
      // both self-join sides read this frame — materialize the (small,
      // pre-aggregated) series once instead of re-running its upstream
      // aggregation twice (the Quantiles localCheckpoint pattern)
      .transform(Checkpoint(_))
    val a = base.toDF((groupCols ++ Seq("__t", "__x", "__y")): _*)
    val b = base.toDF((groupCols ++ Seq("__t2", "__x2", "__y2")): _*)
    val sx = signum(col("__x") - col("__x2"))
    val sy = signum(col("__y") - col("__y2"))
    a.join(b, groupCols, "inner")
      .filter(col("__t") < col("__t2"))
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n0"),
        sum(when(sx * sy > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(sx * sy < 0, 1L).otherwise(0L)).as("discordant"),
        sum(when(sx === 0, 1L).otherwise(0L)).as("tied_x"),
        sum(when(sy === 0, 1L).otherwise(0L)).as("tied_y"))
      // n from n0 = n(n−1)/2: n = (1 + sqrt(1+8·n0))/2, exact for the
      // integers n0 is (computed back in integer space to avoid FP)
      .withColumn("n",
        ((lit(1L) + sqrt(lit(1.0) + lit(8.0) * col("n0"))) / 2.0)
          .cast("long"))
      .withColumn("tau_b", {
        val fx = (col("n0") - col("tied_x")).cast("double")
        val fy = (col("n0") - col("tied_y")).cast("double")
        when(col("n0") === col("tied_x") || col("n0") === col("tied_y"),
            lit(null).cast("double"))
          .otherwise(round(
            (col("concordant") - col("discordant")).cast("double") /
              sqrt(fx * fy), 6) + 0.0)
      })
      .select((groupCols.map(col) ++ Seq(col("n"), col("concordant"),
        col("discordant"), col("tied_x"), col("tied_y"),
        col("tau_b"))): _*)
  }
}
