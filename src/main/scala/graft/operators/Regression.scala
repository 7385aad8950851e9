package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Grouped ordinary least squares — thousands of tiny regressions in
  * one pass (per-user engagement trend, per-sensor drift, per-SKU
  * price elasticity): `y = a + b·x` fit independently for every key.
  *
  * Scale shape: ONE key-partitioned hash aggregation accumulating the
  * five classic moments (n, Σx, Σy, Σxy, Σx²) — map-side combining,
  * no per-group value buffering, no window, no iteration. The moments
  * are EXACT: x must be a modest integer (caller pre-scales, e.g.
  * seconds offsets), y is cast to DECIMAL(9,2), and every
  * product/sum stays inside DECIMAL(38) headroom (casts below are
  * sized so no operation triggers Spark's precision-loss rescaling).
  * The closed-form slope/intercept ratios are evaluated in doubles
  * once per group and rounded to 6 dp.
  */
object Regression {

  /** `(key, n, slope, intercept)` per group, from
    * `slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)` and
    * `intercept = (Σy·Σx² − Σx·Σxy) / (n·Σx² − (Σx)²)`.
    * Groups with fewer than 2 points or zero x-variance drop (no
    * line is identified). Headroom contract (checked by the cast
    * sizes below, overflow → null, never silent): |x| ≤ ~1e8 with
    * group sizes to ~1e3 (so Σx² ≤ 1e19), y ≤ ~1e8 at 2 dp — far
    * above the pre-scaled second-offsets this is meant for.
    */
  def olsPerKey(df: DataFrame, keyCol: String, xCol: String,
                yCol: String): DataFrame = {
    val m = df.select(col(keyCol).as("k"),
        col(xCol).cast("long").as("x"),
        col(yCol).cast("decimal(9,2)").as("y"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(12,0)")).as("sx"),   // → (22,0)
        sum(col("y")).as("sy"),                         // → (19,2)
        sum(col("y") * col("x").cast("decimal(12,0)")).as("sxy"), // → (32,2)
        sum((col("x") * col("x")).cast("decimal(20,0)")).as("sxx")) // → (30,0)
    m.filter(col("n") >= 2)
      // every product's operand precisions sum ≤ 37, so no Spark
      // precision-loss rescaling fires; the down-casts bound the
      // legal input range documented above (overflow → null → NO
      // silent wrong answer, the row drops visibly)
      .withColumn("__den",
        (col("n").cast("decimal(4,0)") * col("sxx").cast("decimal(19,0)") -
          col("sx").cast("decimal(16,0)") *
            col("sx").cast("decimal(16,0)")).cast("double"))
      .filter(col("__den") =!= 0.0) // vertical stack of points: no fit
      // + 0.0 canonicalizes IEEE −0.0 (a −ε slope rounds to −0.0 on
      // one engine and +0.0 on the other; they compare equal but
      // print differently)
      .withColumn("slope", round(
        (col("n").cast("decimal(4,0)") * col("sxy").cast("decimal(31,2)") -
          col("sx").cast("decimal(16,0)") * col("sy").cast("decimal(19,2)"))
          .cast("double") / col("__den"), 6) + lit(0.0))
      .withColumn("intercept", round(
        (col("sy").cast("decimal(10,2)") * col("sxx").cast("decimal(19,0)") -
          col("sx").cast("decimal(16,0)") * col("sxy").cast("decimal(19,2)"))
          .cast("double") / col("__den"), 6) + lit(0.0))
      // overflow in the bounding down-casts yields NULL slope/intercept
      // (not an error, under non-ANSI decimal); drop those rows so the
      // "row drops visibly" contract above holds literally — emitting a
      // (k, n, null, null) row would read as a fit
      .filter(col("slope").isNotNull && col("intercept").isNotNull)
      .select(col("k").as(keyCol), col("n"), col("slope"), col("intercept"))
  }

  /** Simpson's-paradox audit: does the AGGREGATED trend contradict the
    * per-stratum trends? The classic confounding trap — a pipeline
    * that reads the pooled slope can conclude the opposite of every
    * stratum (Simpson 1951); this row makes the check a standing
    * guardrail. Fits [[olsPerKey]] per stratum AND pooled (both exact-
    * moment closed forms), then counts strata whose slope sign
    * opposes the pooled sign. One output row:
    * `(overall_slope, n_strata, n_opposed, simpson_flag)` with the
    * flag raised when a MAJORITY of strata oppose the pooled
    * direction. Zero-slope strata oppose nothing (strict sign test).
    * Scale shape: two moment aggregations over the same frame + a
    * strata-sized reduce; no window, no pairs.
    */
  def simpsonAudit(df: DataFrame, strataCol: String, xCol: String,
                   yCol: String): DataFrame = {
    val base = df.select(col(strataCol).as("__st"),
        col(xCol).cast("long").as("__x"), col(yCol).cast("long").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .transform(Checkpoint(_))
    // self-contained wide-DECIMAL slope (olsPerKey's (4,0) n-cast
    // tops out at 9,999 rows per group — the POOLED fit here sees the
    // whole frame). Headroom contract: |x| ≤ 1e7, |y| ≤ 1e9,
    // n ≤ 1e10 (overflow → NULL slope → the stratum drops visibly)
    def slopes(g: DataFrame): DataFrame =
      g.groupBy(col("__st"))
        .agg(count(lit(1)).as("__n"),
          sum(col("__x").cast("decimal(12,0)")).as("__sx"),
          sum(col("__y").cast("decimal(19,0)")).as("__sy"),
          sum(col("__x").cast("decimal(8,0)") *
            col("__y").cast("decimal(18,0)")).as("__sxy"),
          sum((col("__x") * col("__x")).cast("decimal(15,0)")).as("__sxx"))
        .filter(col("__n") >= 2L)
        .withColumn("__den",
          (col("__n").cast("decimal(11,0)") *
            col("__sxx").cast("decimal(25,0)") -
            col("__sx").cast("decimal(18,0)") *
              col("__sx").cast("decimal(18,0)")).cast("double"))
        .filter(col("__den") =!= 0.0)
        .withColumn("slope", round(
          (col("__n").cast("decimal(11,0)") *
            col("__sxy").cast("decimal(27,0)") -
            col("__sx").cast("decimal(18,0)") *
              col("__sy").cast("decimal(19,0)")).cast("double") /
            col("__den"), 6) + lit(0.0))
        .filter(col("slope").isNotNull)
        .select(col("__st"), col("slope"))
    val per = slopes(base).select(col("slope").as("__s"))
    val overall = slopes(base.withColumn("__st", lit(0L)))
      .select(col("slope").as("overall_slope"))
    per.crossJoin(broadcast(overall))
      .groupBy(col("overall_slope"))
      .agg(count(lit(1)).as("n_strata"),
        sum(when(col("__s") * col("overall_slope") < 0.0, 1L)
          .otherwise(0L)).as("n_opposed"))
      .select(col("overall_slope"), col("n_strata"), col("n_opposed"),
        (col("n_opposed") * 2L > col("n_strata")).as("simpson_flag"))
  }

  /** Theil–Sen robust trend per group: the MEDIAN of all pairwise
    * slopes `(y_j − y_i)/(x_j − x_i)`, the estimator that shrugs off
    * up to ~29% contaminated points where OLS ([[olsPerKey]]) follows
    * any single outlier. The classic robust complement to q157's OLS
    * trend for alert-grade series.
    *
    * Scale shape: pairwise by definition — O(Σ_g n_g²) through a
    * group-keyed equi self-join (hash, never BNLJ), so feed it the
    * PRE-AGGREGATED series (calendar-bounded rows per group), exactly
    * like [[Kendall.tauB]]. Slopes are EXACT integer ppm via
    * truncating division — Spark's `DIV` and DuckDB's `//` BOTH round
    * toward zero (verified: −7//2 = −3 on each), and truncation is
    * monotone, so the slope median is engine-stable. The median is the
    * lower median (rank `(n+1) DIV 2`) read off a per-group
    * cumulative over the DISTINCT-slope counts — the window runs on
    * |distinct slopes| rows, never on the raw pair expansion.
    * Headroom contract: |Δy|·10⁶ must fit a long (|Δy| < 9.2e12 —
    * cents-scale daily deltas sit ~5 orders below).
    *
    * Output: `(keyCol, n_pairs, med_slope_ppm)`, groups with < 2
    * distinct x values drop (no pair, no slope).
    */
  def theilSenSlope(df: DataFrame, keyCol: String, xCol: String,
                    yCol: String): DataFrame = {
    val base = df.select(col(keyCol).as("__k"),
        col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      // spread the pre-aggregated series across the cluster BEFORE
      // checkpointing: the series is tiny in BYTES, so AQE coalesces
      // its agg shuffle to ~1 partition — but the O(n²) pair expansion
      // below streams over THESE partitions (the planner broadcasts
      // the other side), so without this the whole expansion runs
      // single-threaded (measured at sf0.1: 15.4 s of 1-task jobs vs
      // 2.9 s spread; guide §2.5 — partition by the unit of WORK, not
      // bytes). (__k, __x) is unique per row: an even spread
      .repartition(df.sparkSession.sparkContext.defaultParallelism,
        col("__k"), col("__x"))
      // both self-join sides read this frame — materialize the small
      // pre-aggregated series once (the Quantiles localCheckpoint
      // pattern) instead of re-running its upstream agg twice
      .transform(Checkpoint(_))
    val spark = df.sparkSession
    // SALT the self-join: a handful of series keys would otherwise
    // funnel the whole O(n²) pair production through |keys| reducers.
    // The left side salts on x mod R, the right side replicates R ways
    // (tiny: the pre-aggregated series × R), so the expansion runs on
    // |keys|·R partitions and each pair is produced exactly once
    val R = 16
    val a = base.toDF("__k", "__x", "__y")
      .withColumn("__r", pmod(col("__x"), lit(R.toLong)))
    val b = base.toDF("__k", "__x2", "__y2")
      .crossJoin(broadcast(spark.range(R).toDF("__r").limit(R)))
    // RAW slope rows, deliberately NOT compressed through a
    // groupBy(key, slope) distinct-count: real-valued series make
    // slopes ~all distinct (measured 0.002% compression), so that agg
    // is a full-width shuffle bought for nothing. NOT checkpointed:
    // the median drill persists its projection of this frame anyway
    // (ExactSelection), so an eager checkpoint here would pay one
    // extra full materialization pass for nothing (§1 measured: the
    // checkpoint WAS the single largest job of the old plan).
    val slopes = a.join(b, Seq("__k", "__r"))
      .filter(col("__x") < col("__x2"))
      .select(col("__k"),
        expr("((__y2 - __y) * 1000000) DIV (__x2 - __x)").as("__s"))
    // per-key lower median by the SORT-FREE histogram drill — a
    // window would funnel the expansion through |keys| tasks and a
    // sort/prefix pays an RDD pass over every slope row; the drill
    // is ~3 hash aggregations with KB-sized outputs per key
    ExactSelection.lowerMedianPerKey(slopes, "__k", "__s")
      .select(col("__k").as(keyCol), col("n_values").as("n_pairs"),
        col("value").as("med_slope_ppm"))
      .orderBy(col(keyCol))
  }
}
