package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Log-rank test (Mantel–Cox) — the standard two-group survival
  * comparison completing the Kaplan–Meier estimator (q131): under H₀
  * "same hazard", the observed group-1 events at each distinct event
  * time should match the hypergeometric expectation given the
  * at-risk sets; `χ² = (O₁ − E₁)² / V` over the summed tables.
  * Right-censored rows leave the risk set without counting as
  * events — exactly the comparison a churn experiment needs when
  * many users are still alive at the analysis cutoff.
  *
  * Scale shape: one hash aggregation to the per-(group, time) count
  * frame, a |times|×2 grid for the at-risk suffix sums (duration-
  * distinct — aggregation-sized, the q131 contract), windows only on
  * that frame. Float discipline: E₁(t) and V(t) are ONE float tree
  * each, rounded 6 dp and summed in DECIMAL(18,6) (magnitudes are
  * bounded by counts, far inside the rounded-term transport's
  * validity); the final χ² is one float tree over exact O₁ and those
  * sums.
  */
object SurvivalTests {

  /** One row: `(n_1, n_0, n_times, o1, e1_sum, var_sum, chi2)` over
    * per-unit rows `(groupCol boolean, durationCol integer,
    * eventCol boolean — true = event observed, false = censored)`.
    * NULL chi2 when the variance mass degenerates.
    */
  def logRank(df: DataFrame, groupCol: String, durationCol: String,
              eventCol: String): DataFrame = {
    val v = df.select(col(groupCol).cast("boolean").as("__g"),
        col(durationCol).cast("long").as("__t"),
        col(eventCol).cast("boolean").as("__e"))
      .filter(col("__g").isNotNull && col("__t").isNotNull &&
        col("__e").isNotNull)
    val perGT = v.groupBy(col("__g"), col("__t"))
      .agg(sum(when(col("__e"), 1L).otherwise(0L)).as("__d"),
        sum(when(col("__e"), 0L).otherwise(1L)).as("__c"))
      .transform(Checkpoint(_))
    // the full (time × group) grid so each group's at-risk count is
    // defined at EVERY distinct time, not just its own rows
    val times = perGT.select(col("__t")).distinct()
    val groups = perGT.select(col("__g")).distinct()
    val grid = times.crossJoin(broadcast(groups))
      .join(perGT, Seq("__g", "__t"), "left")
      .select(col("__g"), col("__t"),
        coalesce(col("__d"), lit(0L)).as("__d"),
        coalesce(col("__c"), lit(0L)).as("__c"))
    val wPrev = Window.partitionBy(col("__g")).orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = v.groupBy(col("__g")).agg(count(lit(1)).as("__tot"))
    val atRisk = grid.join(broadcast(tot), Seq("__g"))
      .withColumn("__nrisk",
        col("__tot") - coalesce(sum(col("__d") + col("__c")).over(wPrev),
          lit(0L)))
    // fold the two groups side by side per time
    val byTime = atRisk.groupBy(col("__t"))
      .agg(sum(when(col("__g"), col("__d")).otherwise(0L)).as("__d1"),
        sum(col("__d")).as("__dt"),
        sum(when(col("__g"), col("__nrisk")).otherwise(0L)).as("__n1"),
        sum(col("__nrisk")).as("__nt"))
      .filter(col("__dt") > 0L && col("__nt") > 1L)
    val e1 = col("__dt").cast("double") * col("__n1").cast("double") /
      col("__nt").cast("double")
    val p1 = col("__n1").cast("double") / col("__nt").cast("double")
    val vt = col("__dt").cast("double") * p1 * (lit(1.0) - p1) *
      (col("__nt") - col("__dt")).cast("double") /
      (col("__nt") - 1L).cast("double")
    val summed = byTime
      .withColumn("__e1r", round(e1, 6).cast("decimal(18,6)"))
      .withColumn("__vr", round(vt, 6).cast("decimal(18,6)"))
      .agg(count(lit(1)).as("n_times"), sum(col("__d1")).as("o1"),
        sum(col("__e1r")).as("__e1s"), sum(col("__vr")).as("__vs"))
    val counts = v.agg(
      sum(when(col("__g"), 1L).otherwise(0L)).as("n_1"),
      sum(when(col("__g"), 0L).otherwise(1L)).as("n_0"))
    summed.crossJoin(broadcast(counts))
      .select(col("n_1"), col("n_0"), col("n_times"), col("o1"),
        (col("__e1s").cast("double") + 0.0).as("e1_sum"),
        (col("__vs").cast("double") + 0.0).as("var_sum"),
        when(col("__vs") > 0.0,
          round((col("o1").cast("double") - col("__e1s").cast("double")) *
            (col("o1").cast("double") - col("__e1s").cast("double")) /
            col("__vs").cast("double"), 6) + 0.0).as("chi2"))
  }
}
