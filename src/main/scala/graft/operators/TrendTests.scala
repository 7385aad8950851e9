package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mann–Kendall monotonic-trend test — the SIGNIFICANCE companion to
  * the Theil–Sen slope ([[Regression.theilSenSlope]] answers "how
  * steep", Mann–Kendall answers "is the trend real"): the
  * distribution-free test of H₀ "no monotone trend" against a rising
  * or falling drift, the standard pre-gate before acting on a fitted
  * slope in drift monitoring (Mann 1945, Kendall 1975).
  *
  * Statistic: `S = Σ_{i<j} sgn(y_j − y_i)` over the TIME-ordered
  * series, with the tie-corrected normal approximation
  * `Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18` (t = tie-group
  * sizes in y) and the continuity-corrected
  * `z = (S ∓ 1)/sqrt(Var(S))` (0 when S = 0).
  *
  * Scale shape: pairwise by definition, like [[Kendall.tauB]] — feed
  * it the PRE-AGGREGATED series (calendar-bounded rows per group,
  * never the fact table). The pair expansion is the [[Regression]]
  * salted equi self-join (R-way, so a handful of series keys never
  * funnel O(n²) pair production through |keys| reducers); S and the
  * tie terms are exact integer/DECIMAL arithmetic (n(n−1)(2n+5)
  * passes 2^63 at n ≈ 1.7e6, so the variance mass is accumulated in
  * DECIMAL, the q177 Spearman doctrine); the two float ops (sqrt,
  * divide) run once per group, rounded 6 dp — engine-deterministic.
  */
object TrendTests {

  /** One row per group: `(keyCol, n, n_pairs, s, z)` where `s` is the
    * exact Mann–Kendall S, `n_pairs = n(n−1)/2`, and `z` the
    * tie- and continuity-corrected normal score (NULL when the
    * variance degenerates: n < 2 or all values tied). `xCol` must be
    * unique within a group (a period key); NULL x/y rows drop.
    */
  def mannKendall(df: DataFrame, keyCol: String, xCol: String,
                  yCol: String): DataFrame = {
    val base = df.select(col(keyCol).as("__k"),
        col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      // spread the series BEFORE checkpointing: AQE coalesces the tiny
      // pre-aggregation to ~1 partition, and the O(n²) pair expansion
      // streams over these partitions (the planner broadcasts the
      // other side) — unspread it runs single-threaded (guide §2.5,
      // measured on the q268 twin of this shape)
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("__k"), col("__x"))
      // the self-join reads this frame twice and the tie pass once —
      // materialize the small pre-aggregated series one time
      .transform(Checkpoint(_))
    // salt exactly like theilSenSlope: left side on x mod R, right
    // side replicated R ways, each unordered pair produced once. The
    // replication is an inline explode(sequence(…)) — no crossJoin,
    // so no nested-loop node exists for the plan audit to weigh
    val R = 16
    val a = base.toDF("__k", "__x", "__y")
      .withColumn("__r", pmod(col("__x"), lit(R.toLong)))
    val b = base.toDF("__k", "__x2", "__y2")
      .withColumn("__r", explode(expr(s"sequence(0L, ${R - 1}L)")))
    val pairs = a.join(b, Seq("__k", "__r"))
      .filter(col("__x") < col("__x2"))
      .groupBy(col("__k"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("__y2") > col("__y"), 1L)
          .when(col("__y2") < col("__y"), -1L)
          .otherwise(0L)).as("s"))
    // tie-group sizes in y: one value-keyed hash agg, then the
    // t(t−1)(2t+5) mass in DECIMAL — (12,0)·(12,0)·(13,0) → exact
    // for tie groups to 1e12 rows, far past any real series
    val ties = base.groupBy(col("__k"), col("__y"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("__k"))
      .agg(sum(col("__t")).as("n"),
        sum(col("__t").cast("decimal(12,0)") *
          (col("__t") - 1L).cast("decimal(12,0)") *
          (lit(2L) * col("__t") + 5L).cast("decimal(13,0)")).as("__tie"))
    // LEFT from ties (one row per group, always): a single-point group
    // produces no pair rows, but must still emit (n=1, n_pairs=0, s=0,
    // z NULL) rather than vanish — the docstring's contract
    ties.join(pairs, Seq("__k"), "left")
      .withColumn("n_pairs", coalesce(col("n_pairs"), lit(0L)))
      .withColumn("s", coalesce(col("s"), lit(0L)))
      .withColumn("__var",
        (col("n").cast("decimal(12,0)") *
          (col("n") - 1L).cast("decimal(12,0)") *
          (lit(2L) * col("n") + 5L).cast("decimal(13,0)") -
          col("__tie")).cast("double") / 18.0)
      .withColumn("z",
        when(col("__var") <= 0.0, lit(null).cast("double"))
          .when(col("s") > 0L, round(
            (col("s") - 1L).cast("double") / sqrt(col("__var")), 6) + 0.0)
          .when(col("s") < 0L, round(
            (col("s") + 1L).cast("double") / sqrt(col("__var")), 6) + 0.0)
          .otherwise(lit(0.0)))
      .select(col("__k").as(keyCol), col("n"), col("n_pairs"),
        col("s"), col("z"))
  }
}
