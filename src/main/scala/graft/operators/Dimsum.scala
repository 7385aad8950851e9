package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DIMSUM — dimension-independent similarity sampling (Zadeh & Goel
  * 2013; the algorithm behind Spark MLlib's `columnSimilarities`):
  * estimate all-pairs column cosines of a sparse 0/1 matrix (items ×
  * baskets) by emitting each co-occurrence with probability
  * `p_ij = min(1, γ/(√n_i·√n_j))` and unbiasing by 1/p. The point at
  * 100 TB: the emitted mass per pair is capped at ~γ regardless of
  * item popularity, so two chart-topping items that co-occur in 10⁹
  * baskets cost γ samples instead of 10⁹ shuffled rows — the
  * shuffle is OBLIVIOUS TO SKEW, which no exact plan achieves.
  *
  * Determinism: the per-(basket, i, j) coin is the md5-48 content
  * hash (q58/q281 discipline), so the sampled estimate is a pure
  * function of the data — bit-replayable on any engine. Popular-pair
  * estimates concentrate (Chernoff on ~γ draws); rare pairs stay
  * exact because p = 1 below the γ threshold.
  */
object Dimsum {

  /** Top-`topN` item pairs by EXACT cosine, with the DIMSUM estimate
    * alongside (the eval face — callers at scale drop the exact
    * column): `(i, j, n_i, n_j, n_both, n_sampled, est_cos,
    * exact_cos)` ordered by `(exact_cos DESC, i, j)`. `df` is the
    * basket membership relation `(basketCol, itemCol)`, deduplicated
    * here. Cost: O(Σ basket²) pair emission (bounded basket sizes by
    * contract), one broadcast of the item-count dim, hash
    * aggregation; never item×item.
    */
  def cosineTopK(df: DataFrame, basketCol: String, itemCol: String,
                 gamma: Double, topN: Int): DataFrame = {
    val li = df.select(col(basketCol).as("__bk"), col(itemCol).as("__it"))
      .distinct()
      // the self-join reads both sides; the count dim reads it again
      .transform(Checkpoint(_))
    val cnt = li.groupBy(col("__it")).agg(count(lit(1)).as("__n"))
    val pairs = li.toDF("__bk", "__i")
      .join(li.toDF("__bk", "__j"), Seq("__bk"))
      .filter(col("__i") < col("__j"))
    val probed = pairs
      .join(broadcast(cnt.toDF("__i", "__ni")), Seq("__i"))
      .join(broadcast(cnt.toDF("__j", "__nj")), Seq("__j"))
      .withColumn("__den",
        sqrt(col("__ni").cast("double") * col("__nj").cast("double")))
      .withColumn("__p", least(lit(1.0), lit(gamma) / col("__den")))
      .withColumn("__u",
        conv(substring(md5(concat(col("__bk").cast("string"), lit(":"),
          col("__i").cast("string"), lit(":"),
          col("__j").cast("string"))), 1, 12), 16, 10).cast("long")
          .cast("double") / lit(281474976710656.0))
      .withColumn("__keep", col("__u") < col("__p"))
      .groupBy(col("__i"), col("__j"), col("__ni"), col("__nj"),
        col("__den"), col("__p"))
      .agg(count(lit(1)).as("n_both"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_sampled"))
    probed
      .select(col("__i").as("i"), col("__j").as("j"),
        col("__ni").as("n_i"), col("__nj").as("n_j"),
        col("n_both"), col("n_sampled"),
        (round(col("n_sampled").cast("double") /
          (col("__p") * col("__den")), 6) + 0.0).as("est_cos"),
        (round(col("n_both").cast("double") / col("__den"), 6) + 0.0)
          .as("exact_cos"))
      .orderBy(col("exact_cos").desc, col("i"), col("j"))
      .limit(topN)
  }
}
