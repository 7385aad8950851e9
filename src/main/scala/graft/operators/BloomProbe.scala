package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-filter pre-probe for the merge family's existence checks.
  *
  * At scale, `staged ANTI JOIN target` shuffles BOTH sides on the merge
  * keys even though most staged rows usually hit or miss wholesale. A
  * Bloom filter built over the target keys splits the staged side
  * cluster-side, before any join shuffle:
  *
  *  - "definitely absent" rows (filter says no) ARE new — they bypass
  *    the join entirely;
  *  - "maybe present" rows (filter says yes — includes all true
  *    positives plus fpp false positives) go through the exact anti
  *    join for the authoritative answer.
  *
  * The result is identical to the plain anti-join by construction —
  * Bloom filters have no false negatives — but the join input shrinks
  * from |staged| to ~|hits| + fpp·|staged|. With disjoint key ranges
  * (timestamped appends, shard imports) that is the difference between
  * shuffling everything and shuffling (almost) nothing.
  *
  * The filter itself is built with `DataFrameStatFunctions.bloomFilter`
  * (one aggregate over the target keys) and broadcast; size it via
  * `expectedKeys`/`fpp` — ~1.2 GB per 10⁹ keys at 1% fpp, the standard
  * big-join budget.
  */
object BloomProbe {

  /** Concatenated key representation fed to the filter (null-safe). */
  private def keyRepr(keys: Seq[Column]): Column =
    concat_ws("", keys.map(k => coalesce(k.cast("string"), lit("\u0000"))): _*)

  /** Anti-join `staged` against `target` keys with a Bloom pre-probe:
    * returns staged rows whose keys do NOT exist in target —
    * result-identical to `staged.join(target, keys, "left_anti")`.
    */
  def antiJoinWithBloom(staged: DataFrame, target: DataFrame, keys: Seq[String],
                        expectedKeys: Long = 1000000L,
                        fpp: Double = 0.01): DataFrame = {
    val spark = staged.sparkSession
    val targetKeyed = target.select(keyRepr(keys.map(col)).as("__bk"))
    val bloom = targetKeyed.stat.bloomFilter("__bk", expectedKeys, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((s: String) => bc.value.mightContain(s))
    // materialize ONCE: the two filters below each scan `probed`, and a
    // re-evaluated non-deterministic staged lineage could land a row in
    // both outputs or neither
    val probed = staged.withColumn("__maybe", mightContain(keyRepr(keys.map(col))))
      .transform(Checkpoint(_))
    val definitelyNew = probed.filter(!col("__maybe")).drop("__maybe")
    val maybe = probed.filter(col("__maybe")).drop("__maybe")
    // only the "maybe" fraction pays the exact anti-join shuffle
    val confirmedNew = maybe.join(target, keys, "left_anti")
    definitelyNew.unionByName(confirmedNew)
  }
}
