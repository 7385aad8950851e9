package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact per-group quantiles WITHOUT per-group value buffering.
  *
  * Spark's built-in `percentile` aggregate collects every value of a
  * group into one reducer's memory — exact, but a single hot task (and
  * an OOM) once a group no longer fits. This operator computes the same
  * interpolated quantiles as a distributed sort + selection:
  *
  *  1. range-partitioned sort on (group, value) with per-partition
  *     offset ordinals ([[Ordinals.withOrderedOrdinal]]) — scales like
  *     a sort, every stage parallel, group size irrelevant; the sorted
  *     frame is checkpointed once and read by both consumers;
  *  2. one tiny aggregation for per-group (base ordinal, count);
  *  3. the target ranks (floor/ceil of `(n-1)·q`) broadcast back, and
  *     only those rows are kept — a selection, not a re-sort;
  *  4. linear interpolation `(hi−pos)·v_lo + (pos−lo)·v_hi`, the exact
  *     FP expression of Spark's `Percentile.getPercentile`, so results
  *     are bit-identical to the built-in at any scale.
  *
  * Null values are ignored (as the built-in does); groups whose values
  * are all null are omitted. Output is long form: one row per
  * (group, q) with the group's non-null count.
  */
object Quantiles {

  /** (groupCols*, q, quantile, n_values) for every q in `qs`. */
  def exactQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must be in [0,1], got $qs")
    require(!groupCols.exists(Set("q", "quantile", "n_values").contains),
      "group columns may not be named q/quantile/n_values (output names)")
    val gCols: Seq[Column] = groupCols.map(col)
    val ranked = Ordinals.withOrderedOrdinal(
        df.filter(col(valueCol).isNotNull)
          .select((gCols :+ col(valueCol).as("__val")): _*),
        gCols :+ col("__val").asc, name = "__rn")
      .transform(Checkpoint(_))
    // groups are contiguous under the (group, value) sort, so the
    // group-local 0-based rank is the global ordinal minus the base
    val sizes = ranked.groupBy(gCols: _*)
      .agg(min(col("__rn")).as("__base"), count(lit(1)).as("n_values"))
    // target ranks per (group, q): tiny (groups × qs), broadcast back
    val targets = sizes
      .withColumn("q", explode(array(qs.map(lit): _*)))
      .withColumn("__pos", (col("n_values") - 1).cast("double") * col("q"))
      .withColumn("__lo", floor(col("__pos")).cast("long"))
      .withColumn("__hi", ceil(col("__pos")).cast("long"))
    val joined = ranked.as("r").join(
      broadcast(targets.as("t")),
      // null-safe key equality: a NULL group key is a group like any
      // other to the percentile built-in, and === would drop it here
      // (folded over lit(true) so the ungrouped, whole-table case works)
      groupCols.map(g => col("r." + g) <=> col("t." + g))
        .foldLeft(lit(true))(_ && _) &&
        (col("r.__rn") - col("t.__base") === col("t.__lo") ||
         col("r.__rn") - col("t.__base") === col("t.__hi")))
    joined
      .groupBy((groupCols.map(g => col("t." + g)) ++ Seq(col("t.q"),
        col("t.__pos"), col("t.__lo"), col("t.__hi"), col("t.n_values"))): _*)
      .agg(
        max(when(col("r.__rn") - col("t.__base") === col("t.__lo"),
          col("r.__val"))).as("__vlo"),
        max(when(col("r.__rn") - col("t.__base") === col("t.__hi"),
          col("r.__val"))).as("__vhi"))
      .select((groupCols.map(g => col("t." + g).as(g)) ++ Seq(
        col("q"),
        // equal ranks OR equal boundary values short-circuit without
        // interpolation — the built-in resolves both from its distinct-
        // value cumulative counts, and interpolating equal values would
        // add spurious FP rounding
        when(col("__lo") === col("__hi") || col("__vlo") === col("__vhi"),
            col("__vlo").cast("double"))
          .otherwise(
            (col("__hi").cast("double") - col("__pos")) * col("__vlo").cast("double") +
            (col("__pos") - col("__lo").cast("double")) * col("__vhi").cast("double"))
          .as("quantile"),
        col("n_values"))): _*)
  }

  /** Trimmed (truncated) mean per group — the robust-location
    * estimator: drop the lowest and highest `trimPpm` millionths BY
    * RANK and average the core. Same scale shape as
    * [[exactQuantiles]]: one range-partitioned ordinal sort, a tiny
    * per-group size frame broadcast back, then a hash aggregation —
    * the cut ranks are pure integer arithmetic (`n·trimPpm DIV 1e6`),
    * the core sum accumulates in DECIMAL(18,2), and the single mean
    * division is float, rounded 6 dp. Returns
    * `(groupCols..., n_values, n_trimmed_each, trimmed_mean)`.
    */
  /** Quantile normalization onto a reference distribution — the
    * batch-effect / domain-shift corrector (Bolstad et al. 2003 for
    * microarrays; the same transform recalibrates model-score columns
    * across sources): each row keeps its RANK but takes the reference
    * group's value at the proportionally-mapped rank
    * (`⌈r·n_ref/n⌉` — exact integer arithmetic, type-1 semantics, no
    * interpolation to disagree on). Both rankings are
    * range-partitioned ordinal sorts; the mapping is one hash join on
    * the rank index. Returns `df`'s columns + `v_norm`.
    */
  def normalizeToReference(df: DataFrame, order: Seq[Column],
                           ref: DataFrame, refValueCol: String): DataFrame = {
    val outCols = df.columns.toSeq
    val a = Ordinals.withOrderedOrdinal(df, order, name = "__ra")
    // reference tie order is immaterial: equal values occupy adjacent
    // ranks and map to the same v_norm whichever order they land in
    val b = Checkpoint.pin(Ordinals.withOrderedOrdinal(
        ref.select(col(refValueCol).as("__vref")),
        Seq(col("__vref").asc), name = "__rb")
      .select(col("__rb"), col("__vref")))
    val na = a.count()
    val nb = b.rows
    require(na > 0 && nb > 0, "both distributions must be non-empty")
    a.withColumn("__target", expr(s"(__ra * ${nb}L + ${na}L - 1L) DIV ${na}L"))
      .join(b.df, col("__target") === col("__rb"))
      .select(outCols.map(col) :+ col("__vref").as("v_norm"): _*)
  }

  def trimmedMean(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  trimPpm: Long, tieBreak: Seq[Column]): DataFrame = {
    require(trimPpm >= 0 && trimPpm < 500000,
      s"trim must be in [0, 0.5) as ppm, got $trimPpm")
    val gCols: Seq[Column] = groupCols.map(col)
    val ranked = Ordinals.withOrderedOrdinal(
        df.filter(col(valueCol).isNotNull),
        (gCols :+ col(valueCol).asc) ++ tieBreak, name = "__rn")
      .select((gCols :+ col(valueCol).as("__val") :+ col("__rn")): _*)
      .transform(Checkpoint(_))
    val sizes = ranked.groupBy(gCols: _*)
      .agg(min(col("__rn")).as("__base"), count(lit(1)).as("n_values"))
      .withColumn("__cut", expr(s"n_values * ${trimPpm}L DIV 1000000L"))
    ranked.join(broadcast(sizes), groupCols)
      .filter(col("__rn") - col("__base") + 1 > col("__cut") &&
        col("__rn") - col("__base") + 1 <= col("n_values") - col("__cut"))
      .groupBy((gCols :+ col("n_values") :+ col("__cut")): _*)
      .agg(round(sum(col("__val").cast("decimal(18,2)")).cast("double") /
        count(lit(1)).cast("double"), 6).as("trimmed_mean"))
      .select((gCols :+ col("n_values") :+
        col("__cut").as("n_trimmed_each") :+ col("trimmed_mean")): _*)
  }
}
