package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Robust per-group outlier detection via median / median-absolute-
  * deviation — the screen that survives the outliers it is looking for
  * (mean/stddev get dragged by the very rows under test). Composes
  * [[Quantiles.exactQuantiles]] twice (median of values, then median
  * of absolute deviations), so every stage is a range-partitioned sort
  * or a hash aggregation and the per-group medians broadcast back —
  * nothing group-sized ever sits on one executor.
  *
  * Determinism: the medians are bit-equal to `percentile_cont` (the
  * exactQuantiles contract), deviations are single IEEE ops on those
  * doubles, and the cutoff comparison uses the UNROUNDED mad — so the
  * outlier counts are engine-exact, not tolerance-based.
  */
object Outliers {

  /** Per group: `(groupCols..., n, med, mad, n_outliers)` where
    * `n_outliers` counts rows with `|x − med| > cutoff · mad`
    * (med/mad published rounded to 6dp; the comparison is unrounded).
    * Null values are ignored, like the percentile built-ins.
    */
  def madOutliers(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  cutoff: Double = 3.0): DataFrame = {
    val meds = Quantiles.exactQuantiles(df, groupCols, valueCol, Seq(0.5))
      .select(groupCols.map(col) :+ col("quantile").as("__med"): _*)
    val devs = df.filter(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+ col(valueCol).cast("double").as("__x"): _*)
      .join(broadcast(meds), groupCols)
      .withColumn("__dev", abs(col("__x") - col("__med")))
      // read twice (the MAD quantile pass and the final outlier agg) —
      // materialize once instead of re-scanning the fact table and
      // re-paying the median broadcast join per consumer
      .transform(Checkpoint(_))
    val mads = Quantiles.exactQuantiles(
        devs.select(groupCols.map(col) :+ col("__dev"): _*),
        groupCols, "__dev", Seq(0.5))
      .select(groupCols.map(col) :+ col("quantile").as("__mad"): _*)
    devs.join(broadcast(mads), groupCols)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        round(first(col("__med")), 6).as("med"),
        round(first(col("__mad")), 6).as("mad"),
        sum(when(col("__dev") > lit(cutoff) * col("__mad"), 1L).otherwise(0L))
          .as("n_outliers"))
  }
}
