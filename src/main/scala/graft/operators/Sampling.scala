package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling/rebalancing operators.
  *
  * Both are pure scan-or-window work — no driver state, no RNG:
  * sampling decisions derive from an md5 hash of the row's own id, so
  * they are engine-invariant (any SQL engine reproduces the exact
  * sample), stable under re-ingestion and retries, and embarrassingly
  * parallel. That determinism is what makes a 100 TB sample auditable:
  * re-running the pipeline keeps/drops the same rows.
  */
object Sampling {

  /** Engine-invariant permille bucket of an id: first 8 hex digits of
    * md5 as an integer, mod 1000 (the q58 train/val/test hash family).
    */
  def hashPermille(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long") % 1000

  /** Stratified sampling with per-stratum keep rates (permille): row
    * kept iff hash(id) falls under its stratum's rate — how a corpus
    * mix is rebalanced (e.g. downsample the dominant language) without
    * a shuffle: the filter is scan-stage and pushes down.
    */
  def stratifiedHashSample(df: DataFrame, idCol: String, strataCol: String,
                           ratesPermille: Map[String, Int],
                           defaultPermille: Int): DataFrame = {
    val rate = ratesPermille.foldLeft(lit(defaultPermille)) {
      case (acc, (stratum, r)) =>
        when(col(strataCol) === stratum, lit(r)).otherwise(acc)
    }
    df.filter(hashPermille(col(idCol)) < rate)
  }

  /** Cap each group at `maxPerGroup` rows under a deterministic order —
    * the over-representation guard (e.g. at most N documents per source
    * domain). A per-GROUP window, hash-partitioned on the group keys:
    * parallelism is the number of groups, never one partition. The rank
    * is exposed as `quota_rank`.
    */
  def groupQuotaCap(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
                    maxPerGroup: Int): DataFrame =
    df.withColumn("quota_rank",
        row_number().over(Window.partitionBy(groupCols.map(col): _*)
          .orderBy(order: _*)).cast("long"))
      .filter(col("quota_rank") <= maxPerGroup)

  /** Deterministic TOKEN-budget source mixing — the "data mixture" step
    * of a training pipeline: each source contributes (close to) its
    * weight's share of `totalTokens`, chosen by an engine-invariant
    * pseudo-random order (md5 of the id), not by document position.
    *
    * A document is kept iff the tokens of the documents BEFORE it in
    * its source's hash order fit under the source's budget — so the
    * boundary document that crosses the budget is included, every later
    * one is cut, and membership of any document depends only on the
    * corpus content, never on partitioning.
    *
    * Shape: one range-partitioned sort on (source, hash) with
    * per-partition offset prefix sums ([[Ordinals.withOrderedPrefixSum]]
    * — global, every stage parallel), then the per-source EXCLUSIVE
    * prefix is recovered by subtracting each source's base offset (one
    * tiny aggregation) — the same contiguous-range trick as
    * [[Quantiles.exactQuantiles]], no per-source single-reducer window.
    * Sources absent from `weights` are dropped.
    *
    * Output: input columns + `mix_hash`, `tokens_before` (the
    * exclusive in-source prefix) for audit.
    */
  def tokenBudgetMix(df: DataFrame, idCol: String, sourceCol: String,
                     tokensCol: String, weights: Map[String, Double],
                     totalTokens: Long): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be positive")
    val wSum = weights.values.sum
    val budget = weights.foldLeft(lit(null).cast("long")) {
      case (acc, (src, w)) =>
        when(col(sourceCol) === src,
          lit(math.floor(w / wSum * totalTokens).toLong)).otherwise(acc)
    }
    val prefixed = Ordinals.withOrderedPrefixSum(
      df.filter(col(sourceCol).isInCollection(weights.keys.toSeq))
        .withColumn("mix_hash", md5(col(idCol).cast("string")))
        // null token counts weigh 0 (getLong on a null would throw)
        .withColumn("__tok", coalesce(col(tokensCol).cast("long"), lit(0L))),
      Seq(col(sourceCol), col("mix_hash"), col(idCol)), "__tok", "__pre")
      .transform(Checkpoint(_))
    val bases = prefixed.groupBy(col(sourceCol).as("__src"))
      .agg(min(col("__pre")).as("__base"))
    prefixed.join(broadcast(bases), col(sourceCol) === col("__src"))
      .withColumn("tokens_before", col("__pre") - col("__base"))
      .filter(col("tokens_before") < budget)
      .drop("__src", "__base", "__pre", "__tok")
  }

  /** Weighted sampling without replacement, deterministically:
    * Efraimidis–Spirakis priority sampling with the randomness replaced
    * by an md5-derived uniform. Each row gets
    * `lkey = round(ln(u)/w, 6)` with `u = (h48+1)/(2^48+1)` from the
    * id's hash — the log-space monotone transform of the classic
    * `u^(1/w)` priority, so ranking by `lkey` desc draws each row with
    * probability proportional to its weight while staying reproducible
    * on any engine, run, or partitioning. Returns the input plus
    * `(lkey, sel_rank, selected)`; `sel_rank` is a distributed-sort
    * ordinal under the total order (lkey desc, id), `selected` the top
    * k. Weights must be strictly positive (clamp before calling).
    */
  def weightedPrioritySample(df: DataFrame, idCol: String, weightCol: String,
                             k: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 12), 16, 10)
      .cast("long")
    val u = (h + 1).cast("double") / lit(281474976710657.0) // 2^48 + 1
    Ordinals.withOrderedOrdinal(
        df.withColumn("lkey", round(log(u) / col(weightCol), 6)),
        Seq(col("lkey").desc, col(idCol)), "sel_rank")
      .withColumn("selected", col("sel_rank") <= k)
  }

  /** Water-filling token-budget allocation: the unique per-source cap
    * `c*` — the largest c with `Σ_s min(T_s, c) ≤ B` — and each
    * source's allocation `min(T_s, c*)`. THE fair-mixing rule for a
    * token budget (cap the dominant crawl at exactly the level that
    * spends the budget; small sources keep everything), where
    * [[tokenBudgetMix]] needs weights chosen up front, this derives
    * the cap FROM the data. Sources are funded in full up to the
    * largest feasible sorted prefix; the remainder splits integrally
    * (floor) across the capped tail, so `Σ alloc ≤ B` exactly and the
    * answer is all-integer / engine-exact.
    *
    * Scale shape: one hash aggregation over the rows builds the
    * per-source totals; everything after runs on that bounded frame
    * (the sorted-prefix window is |sources|-sized — the skyline
    * level-frame discipline). Returns `(sourceCol, n_tokens, alloc,
    * capped)` with `capped` true on tail sources (false everywhere
    * when the whole corpus fits the budget).
    */
  def waterFillAllocation(df: DataFrame, sourceCol: String,
                          tokensCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val per = df.groupBy(col(sourceCol))
      .agg(sum(coalesce(col(tokensCol).cast("long"), lit(0L)))
        .as("n_tokens"))
    val w = Window.orderBy(col("n_tokens"), col(sourceCol))
    val ranked = per
      .withColumn("__k", row_number().over(w).cast("long"))
      .withColumn("__p", sum(col("n_tokens")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // candidate cap after fully funding the k smallest sources:
    // feasible iff P_k + (n−k)·T_{k+1}... encoded per row k as
    // "prefix + tail at THIS row's level fits" — the largest feasible
    // row sets the cap c* = (B − P_k) div (n − k); no feasible row
    // (budget below n·T_min) means k = 0, c* = B div n
    val n = count(lit(1)).over(Window.partitionBy())
    def d38(c: Column) = c.cast("decimal(38,0)")
    val cap = ranked
      .withColumn("__n", n)
      // feasibility arithmetic in DECIMAL: (n−k+1)·T_k can cross 2^63
      // on extreme inputs, and a wrapped long silently mislabels rows
      .withColumn("__feasible",
        d38(col("__p")) - d38(col("n_tokens")) +
          (d38(col("__n")) - d38(col("__k")) + 1) * d38(col("n_tokens"))
          <= d38(lit(budget)))
      .select(col("__k"), col("__p"), col("__n"), col("__feasible"))
      .withColumn("__rank_ok", when(col("__feasible"), col("__k")))
      .agg(max(col("__rank_ok")).as("__kstar"),
        max(col("__n")).as("__n"),
        max(when(col("__feasible"), col("__p"))).as("__pstar"))
      .select(
        // integral `div`, not `/` (Column `/` promotes to double)
        when(col("__kstar").isNull,
          expr(s"${budget}L div greatest(__n, 1L)"))
          .otherwise(when(col("__kstar") === col("__n"), lit(Long.MaxValue))
            .otherwise(expr(s"(${budget}L - __pstar) div (__n - __kstar)")))
          .cast("long").as("__cap"))
    ranked.crossJoin(broadcast(cap))
      .select(col(sourceCol), col("n_tokens"),
        least(col("n_tokens"), col("__cap")).as("alloc"),
        (col("n_tokens") > col("__cap")).as("capped"))
  }

  /** Priority-sampling subset-sum ESTIMATION (Duffield, Lund & Thorup,
    * JACM'07): keep the k items with the largest priorities
    * `p_i = w_i / u_i` (u_i a deterministic hash uniform in (0,1)),
    * set τ to the (k+1)-th priority, and estimate the TOTAL weight as
    * `Σ_{i ∈ sample} max(w_i, τ)` — unbiased, near-optimal variance,
    * and the answer a 100 TB pipeline gets from k retained rows
    * instead of a full-table aggregate (ship the k-row sample once,
    * answer any subset-sum question later). With n ≤ k the estimate
    * is exactly the true total (τ = 0).
    *
    * Determinism: u_i is the md5-48 hash line, priorities are one
    * IEEE divide of exact values, ranking uses
    * [[Ordinals.withOrderedOrdinal]] (distributed sort, (p desc, id)
    * total order — no single-partition window), and the estimate sums
    * 6-dp-rounded `max(w_i, τ)` terms in DECIMAL. Returns one row
    * `(n_items, n_sampled, exact_total, est_total)` — the exact side
    * published so the estimation error is visible, exactly the q240
    * sketch-vs-truth shape.
    */
  def prioritySampleEstimate(df: DataFrame, idCol: String,
                             weightCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val h = conv(substring(md5(col("__id").cast("string")), 1, 12), 16, 10)
      .cast("long")
    val u = (h + 1).cast("double") / lit(281474976710657.0) // 2^48 + 1
    // two consumers (the τ probe and the final aggregate) — persist so
    // the distributed sort behind the ordinal runs once
    val ranked = Retained.track(Ordinals.withOrderedOrdinal(
      df.select(col(idCol).as("__id"),
          col(weightCol).cast("long").as("__w"))
        .withColumn("__p", col("__w").cast("double") / u),
      Seq(col("__p").desc, col("__id")), "__rk").persist())
    val tau = ranked.filter(col("__rk") === k + 1)
      .agg(coalesce(max(col("__p")), lit(0.0)).as("__tau"))
    ranked.crossJoin(broadcast(tau))
      .select(col("__w"), col("__rk"),
        when(col("__rk") <= k,
          round(greatest(col("__w").cast("double"), col("__tau")), 6)
            .cast("decimal(28,6)")).as("__term"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("__rk") <= k, 1L).otherwise(0L)).as("n_sampled"),
        // DECIMAL sum: a long Σw wraps past 2^63 while the oracle's
        // HUGEINT accumulate does not — the Calibration.__ssc rule
        sum(col("__w").cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("exact_total"),
        sum(col("__term")).as("__est"))
      .select(col("n_items"), col("n_sampled"), col("exact_total"),
        col("__est").cast("double").as("est_total"))
  }

  /** Temperature-based mixture reweighting at T = 2 (α = 1/2): the
    * multilingual-pretraining trick (GPT-3 / mT5 style) that
    * up-samples rare sources and down-samples dominant ones by
    * sampling ∝ p^α instead of ∝ p. α = 1/2 specifically so the
    * transcendental is a single IEEE sqrt per GROUP on an exact
    * integer ppm (deterministic across engines); general α would need
    * `pow`, whose cross-engine rounding is not guaranteed.
    *
    * One mass aggregation (map-side combined) + one 1-row total
    * broadcast. `p_ppm` is exact integer ppm; `weight_half` is
    * `round(√p_ppm, 6)` normalized by the exact DECIMAL sum of those
    * rounded terms, one float divide per group, rounded 6 dp.
    *
    * Output: `(groupCol, n_rows, mass, p_ppm, weight_half)`.
    */
  def temperatureHalfWeights(df: DataFrame, groupCol: String,
                             massCol: String): DataFrame = {
    val per = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(col(massCol).cast("long")).cast("long").as("mass"))
      // sources-sized; read by the total, the term sum, and the final
      // projection — one corpus scan, not four
      .transform(Checkpoint(_))
    val tot = per.agg(sum(col("mass")).as("__tot"))
    val p = per.crossJoin(broadcast(tot))
      // ppm share in DECIMAL headroom: 1e6·mass wraps a BIGINT once a
      // source holds ~9 TB of text — exactly the corpus size this
      // operator targets (the doctrine's Spearman lesson); (28,0)
      // carries 1e6 × an exabyte
      .withColumn("p_ppm", expr(
        "CAST((CAST(mass AS DECIMAL(28,0)) * 1000000) DIV __tot AS BIGINT)"))
      .withColumn("__u",
        round(sqrt(col("p_ppm").cast("double")), 6).cast("decimal(12,6)"))
    val su = p.agg(sum(col("__u")).cast("decimal(38,6)").as("__su"))
    p.crossJoin(broadcast(su))
      .select(col(groupCol), col("n_rows"), col("mass"), col("p_ppm"),
        (round(col("__u").cast("double") / col("__su").cast("double"), 6)
          + 0.0).as("weight_half"))
      .orderBy(col(groupCol))
  }
}
