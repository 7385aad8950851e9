package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Epoch materialization of a temperature-reweighted source mix —
  * [[Sampling.temperatureHalfWeights]] COMPUTES the T=2 target shares;
  * this operator actually EMITS the resampled corpus: every document
  * replicates `floor(r)` times plus one more with probability
  * `frac(r)`, where `r = targetTotal·share/n_source` is the source's
  * replication rate. The fractional coin is the md5-48 content hash
  * (q58 discipline), so the emitted multiset is a pure function of
  * the corpus — any engine, any rerun, any shard layout reproduces it
  * row for row; a training job can stream the epoch without ever
  * materializing a shuffle.
  *
  * Everything is exact integer arithmetic: source shares in ppm
  * (`p_ppm = 1e6·mass DIV total`), the α = 1/2 tilt via integer
  * `isqrt(p_ppm)` (floor(sqrt) of a ≤1e6 integer — exact in a double,
  * no rounding ambiguity), target shares re-normalized in ppm, and
  * the replication rate in ppm with the md5 coin compared against the
  * exact remainder. Scale shape: one mass aggregation + a broadcast
  * of the sources-sized rate table + one map-side explode — no
  * data-sized shuffle at all.
  */
object EpochResample {

  /** The resampled id stream: `(idCol, groupCol, copy)` with `copy`
    * numbering each emitted replica 0..reps-1 — downstream shuffles
    * can key on (id, copy) without collapsing replicas.
    * `targetTotalPpm` scales the epoch size relative to the corpus
    * (1e6 = same total row count in expectation).
    */
  def resampledIds(docs: DataFrame, idCol: String, groupCol: String,
                   massCol: String,
                   targetTotalPpm: Long = 1000000L): DataFrame = {
    val rates = replicationRates(docs, idCol, groupCol, massCol,
      targetTotalPpm)
    docs.select(col(idCol), col(groupCol))
      .join(broadcast(rates.select(col(groupCol), col("r_ppm"))),
        Seq(groupCol))
      .withColumn("__reps",
        expr("r_ppm DIV 1000000") +
          when(conv(substring(md5(col(idCol).cast("string")), 1, 12), 16, 10)
            .cast("long") % 1000000L < expr("r_ppm % 1000000"), 1L)
            .otherwise(0L))
      .filter(col("__reps") > 0L)
      .withColumn("copy", explode(expr("sequence(0L, __reps - 1L)")))
      .select(col(idCol), col(groupCol), col("copy"))
  }

  /** The sources-sized rate table:
    * `(groupCol, n_rows, mass, p_ppm, target_ppm, r_ppm)` where
    * `target_ppm = 1e6·isqrt(p_ppm) DIV Σ isqrt(p_ppm)` (the T=2
    * tilt, exact) and `r_ppm = targetTotal·target_ppm DIV n_rows` is
    * the per-document replication rate in ppm. Headroom: `mass` itself
    * accumulates in DECIMAL(28,0) — exabyte masses sum without the
    * silent 2^63 LONG wrap, and past 1e28 they NULL honestly — and the
    * downstream products carry the same headroom (the
    * [[Sampling.temperatureHalfWeights]] (28,0) discipline).
    */
  def replicationRates(docs: DataFrame, idCol: String, groupCol: String,
                       massCol: String,
                       targetTotalPpm: Long = 1000000L): DataFrame = {
    val per = docs.groupBy(col(groupCol))
      // mass accumulates in DECIMAL (not LONG, which wraps silently
      // past 2^63): overflow beyond (28,0) NULLs honestly instead
      .agg(count(lit(1)).as("n_rows"),
        sum(col(massCol).cast("decimal(28,0)")).cast("decimal(28,0)")
          .as("mass"))
      .transform(Checkpoint(_))
    val tot = per.agg(sum(col("mass")).cast("decimal(28,0)").as("__tot"),
      sum(col("n_rows")).as("__n_tot"))
    val p = per.crossJoin(broadcast(tot))
      .withColumn("p_ppm", expr(
        "CAST((mass * 1000000) DIV __tot AS BIGINT)"))
      .withColumn("__u",
        floor(sqrt(col("p_ppm").cast("double"))).cast("long"))
    val su = p.agg(sum(col("__u")).as("__su"))
    p.crossJoin(broadcast(su))
      .withColumn("target_ppm", expr(
        "CAST((CAST(__u AS DECIMAL(28,0)) * 1000000) DIV __su AS BIGINT)"))
      // epoch size = __n_tot·targetTotalPpm/1e6 docs; per-doc rate =
      // epoch·target_ppm / (1e6·n_rows), all in one exact DECIMAL tree
      .withColumn("r_ppm", expr(
        s"""CAST((CAST(__n_tot AS DECIMAL(28,0)) * $targetTotalPpm
           | * target_ppm) DIV (CAST(n_rows AS DECIMAL(28,0)) * 1000000)
           | AS BIGINT)""".stripMargin.replace("\n", " ")))
      .select(col(groupCol), col("n_rows"), col("mass"), col("p_ppm"),
        col("target_ppm"), col("r_ppm"))
  }
}
