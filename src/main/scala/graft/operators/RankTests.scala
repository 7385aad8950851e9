package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Paired and k-group rank tests — completing the nonparametric
  * family around [[MannWhitney]] (two independent samples): the
  * Wilcoxon SIGNED-RANK test for paired before/after comparisons
  * (same users, two periods), and the Kruskal–Wallis H test for
  * k ≥ 2 independent groups (the rank ANOVA).
  *
  * Both follow the [[MannWhitney]] scale shape exactly: midranks need
  * only the DISTINCT-value count frame (one value-keyed hash agg),
  * the exclusive prefix over it is the distributed two-pass
  * [[Ordinals.withOrderedPrefixSum]] (no single-partition window),
  * all rank mass is exact in halves (2·midrank BIGINTs), and the
  * test statistic's float ops run once, on one row, from exact
  * integer inputs — deterministic across engines.
  */
object RankTests {

  /** Wilcoxon signed-rank over one row per pair: the nonzero
    * differences `after − before` are ranked by |d| with midranks;
    * positive-side and negative-side rank sums are published ×2
    * (exact integers). One output row
    * `(n, w_plus_x2, w_minus_x2, z)` where `z` is the tie-corrected
    * normal approximation
    * `(W⁺ − n(n+1)/4) / sqrt(n(n+1)(2n+1)/24 − Σ(t³−t)/48)`,
    * rounded 6 dp; NULL when no nonzero difference exists or the
    * variance degenerates. Rows with a NULL side are dropped.
    */
  def signedRank(df: DataFrame, beforeCol: String,
                 afterCol: String): DataFrame = {
    val d = df.select((col(afterCol).cast("long") -
        col(beforeCol).cast("long")).as("__d"))
      .filter(col("__d").isNotNull && col("__d") =!= 0L)
    val perAbs = d.groupBy(abs(col("__d")).as("__ad"))
      .agg(count(lit(1)).as("t"),
        sum(when(col("__d") > 0L, 1L).otherwise(0L)).as("tp"))
    val ranked = Ordinals.withOrderedPrefixSum(
        perAbs, Seq(col("__ad")), "t", "below")
      .withColumn("mid2", lit(2L) * col("below") + col("t") + 1L)
    ranked.agg(
        sum(col("t")).as("n"),
        // rank-sum mass reaches ~n² — accumulate in DECIMAL so a long
        // never silently wraps at n ~ 3e9 (the same q177 Spearman
        // doctrine the tie cubes below already follow); the per-row
        // product is also widened BEFORE multiplying (one giant tie
        // group can push tp·mid2 itself past 2^63)
        sum(col("tp").cast("decimal(19,0)") *
          col("mid2").cast("decimal(19,0)")).as("__wp2d"),
        sum((col("t") - col("tp")).cast("decimal(19,0)") *
          col("mid2").cast("decimal(19,0)")).as("__wm2d"),
        // tie cubes in DECIMAL — a single |d| value tied across more
        // than ~2^21 pairs would silently wrap a long t³ (the q177
        // Spearman lesson); (12,0)³ → 36 digits, sums bounded by N³
        sum(col("t").cast("decimal(12,0)") * col("t").cast("decimal(12,0)")
          * col("t").cast("decimal(12,0)") - col("t")).as("__tie3"))
      .withColumn("__var",
        col("n").cast("double") * (col("n") + 1L) * (lit(2L) * col("n") + 1L)
          / 24.0 - col("__tie3").cast("double") / 48.0)
      .withColumn("z",
        when(col("n").isNull || col("n") === 0L || col("__var") <= 0.0,
            lit(null).cast("double"))
          .otherwise(round(
            ((col("__wp2d") * 2 - col("n").cast("decimal(19,0)") *
              (col("n") + 1L).cast("decimal(19,0)"))
              .cast("double") / 4.0) / sqrt(col("__var")), 6) + 0.0))
      // the PUBLISHED columns stay BIGINT (the oracle contract); the
      // decimal→long cast NULLs honestly on overflow instead of
      // wrapping, and z above is computed from the exact decimal
      .select(coalesce(col("n"), lit(0L)).as("n"),
        when(col("n").isNull, lit(0L))
          .otherwise(col("__wp2d").cast("long")).as("w_plus_x2"),
        when(col("n").isNull, lit(0L))
          .otherwise(col("__wm2d").cast("long")).as("w_minus_x2"),
        col("z"))
  }

  /** Kruskal–Wallis H across the groups of `groupCol`: one output row
    * per group `(groupCol, n_g, rank_sum_x2)` with the shared scalars
    * `(n_total, h, h_tie_corrected)` attached (1-row broadcast).
    *
    * Exactness: per-group rank sums stay ×2 integers; each group's
    * `R_g²/n_g` term casts the EXACT DECIMAL(38) square to double,
    * divides by `4·n_g`, and is rounded to 6 dp per TERM, with the
    * rounded terms summed in DECIMAL (the tokenEntropy doctrine) —
    * H and its tie correction are then single one-row float
    * expressions over exact inputs. `h_tie_corrected` is NULL when
    * every value ties (correction factor 0).
    */
  def kruskalWallis(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    val v = df.select(col(groupCol).as("__g"),
        col(valueCol).cast("long").as("__v"))
      .filter(col("__v").isNotNull)
    val perValue = v.groupBy("__v").agg(count(lit(1)).as("t"))
    val ranked = Ordinals.withOrderedPrefixSum(
        perValue, Seq(col("__v")), "t", "below")
      .withColumn("mid2", lit(2L) * col("below") + col("t") + 1L)
      // consumed by the totals agg AND the per-group join — pin the
      // |distinct values|-sized rank frame so the raw input is scanned
      // once per aggregation key, not once per consumer
      .transform(Checkpoint(_))
    val totals = ranked.agg(
        sum(col("t")).as("n_total"),
        // DECIMAL cubes: see signedRank's tie-cube comment
        sum(col("t").cast("decimal(12,0)") * col("t").cast("decimal(12,0)")
          * col("t").cast("decimal(12,0)") - col("t")).as("__tie3"))
    val perGroup = v.groupBy(col("__g"), col("__v"))
      .agg(count(lit(1)).as("__c"))
      .join(ranked.select(col("__v"), col("mid2")), Seq("__v"))
      .groupBy(col("__g"))
      .agg(sum(col("__c")).as("n_g"),
        // rank-sum mass reaches ~n² — DECIMAL accumulation so a long
        // never silently wraps at n ~ 3e9 (factors widened BEFORE the
        // multiply: one giant tie group can push c·mid2 past 2^63);
        // published as BIGINT below (oracle contract), NULL-on-
        // overflow instead of wrapped garbage
        sum(col("__c").cast("decimal(19,0)") *
          col("mid2").cast("decimal(19,0)")).as("__r2d"))
      .withColumn("rank_sum_x2", col("__r2d").cast("long"))
      // (19,0)² → (38,0): the square is exact while R_g < 10^19 — the
      // test's exactness bound (past it the square exceeds every
      // 38-digit/128-bit integer on either engine); an overflowing
      // cast NULLs the term loudly rather than squaring wrapped bits
      .withColumn("__term", round(
        (col("__r2d").cast("decimal(19,0)") *
          col("__r2d").cast("decimal(19,0)")).cast("double") /
          (lit(4.0) * col("n_g").cast("double")), 6))
      // groups-sized; read by the term sum AND the final projection
      .transform(Checkpoint(_))
    val s = perGroup.agg(
      sum(col("__term").cast("decimal(38,6)")).cast("double").as("__s"))
    val scalars = totals.crossJoin(s)
      .withColumn("h", round(
        lit(12.0) * col("__s") /
          (col("n_total").cast("double") * (col("n_total") + 1L)) -
          lit(3.0) * (col("n_total") + 1L), 6) + 0.0)
      .withColumn("h_tie_corrected", {
        val cube = col("n_total").cast("decimal(12,0)") *
          col("n_total").cast("decimal(12,0)") *
          col("n_total").cast("decimal(12,0)") - col("n_total")
        when(col("__tie3") === cube, lit(null).cast("double"))
          .otherwise(round(col("h") /
            (lit(1.0) - col("__tie3").cast("double") /
              cube.cast("double")), 6) + 0.0)
      })
      .select(col("n_total"), col("h"), col("h_tie_corrected"))
    perGroup.select(col("__g").as(groupCol), col("n_g"),
        col("rank_sum_x2"))
      .crossJoin(broadcast(scalars))
      .orderBy(col(groupCol))
  }

  /** Friedman test — the repeated-measures rank ANOVA: each BLOCK
    * (e.g. a day) ranks the k treatments (e.g. priorities) among
    * themselves, removing block-level shifts that would drown
    * [[kruskalWallis]] (a hot sales day lifts every priority; only
    * the within-day ORDER carries treatment signal). Blocks missing
    * any treatment are dropped (the test requires complete blocks);
    * within-block ties take midranks and the classic statistic is
    * published (tie-naive, identical on both engines by exact
    * construction).
    *
    * Scale shape: ranking is per-block — a window over k rows per
    * partition key, embarrassingly parallel, nothing global but the
    * final k-row rank-sum agg. Rank mass exact ×2; χ²_F is one float
    * expression over exact integers:
    * `3·Σ(2R_j)² / (n·k·(k+1)) − 3·n·(k+1)` (the 12/4 cancel).
    *
    * Output: one row per treatment
    * `(groupCol, rank_sum_x2, n_blocks, k_treatments, chi2_f)`,
    * NULL χ² when no complete block exists.
    */
  def friedman(df: DataFrame, blockCol: String, groupCol: String,
               valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = df.select(col(blockCol).as("__b"), col(groupCol).as("__g"),
        col(valueCol).cast("long").as("__v"))
      .filter(col("__v").isNotNull)
      // referenced by the k-count action, the completeness filter, and
      // (twice, via the scalar attach) the rank sums — materialize the
      // block×treatment frame once; it is blocks·k rows by contract
      .transform(Checkpoint(_))
    val k = v.select(col("__g")).distinct().count()
    // complete = exactly one row for EVERY treatment: row count k AND
    // distinct-treatment count k (row count alone would accept a
    // block that duplicates one treatment while missing another)
    val completeBlocks = v.groupBy(col("__b"))
      .agg(count(lit(1)).as("__nr"), countDistinct(col("__g")).as("__ng"))
      .filter(col("__nr") === k && col("__ng") === k)
      .select(col("__b"))
    val complete = v.join(completeBlocks, Seq("__b"), "left_semi")
    // midrank×2 = 2·min-rank + ties − 1, from two block-local windows
    val ranked = complete
      .withColumn("__r", rank().over(
        Window.partitionBy("__b").orderBy("__v")))
      .withColumn("__t", count(lit(1)).over(
        Window.partitionBy("__b", "__v")))
      .withColumn("__mid2", lit(2L) * col("__r") + col("__t") - 1L)
    val sums = ranked.groupBy("__g")
      .agg(sum(col("__mid2")).as("rank_sum_x2"),
        count(lit(1)).as("__n"))
    val scalars = sums.agg(
        max(col("__n")).as("n_blocks"),
        sum(col("rank_sum_x2") * col("rank_sum_x2")).as("__sr2"))
      .withColumn("k_treatments", lit(k))
      .withColumn("chi2_f",
        when(col("n_blocks").isNull || col("n_blocks") === 0L,
            lit(null).cast("double"))
          .otherwise(round(
            lit(3.0) * col("__sr2").cast("double") /
              (col("n_blocks").cast("double") * k * (k + 1)) -
              lit(3.0) * col("n_blocks") * (k + 1), 6) + 0.0))
      .select(col("n_blocks"), col("k_treatments"), col("chi2_f"))
    sums.select(col("__g").as(groupCol), col("rank_sum_x2"))
      .crossJoin(broadcast(scalars))
      .orderBy(col(groupCol))
  }

  /** McNemar's test on paired binary outcomes — "did the SAME
    * subjects flip state between two periods?": only the discordant
    * cells carry signal (b = yes→no, c = no→yes), and
    * `χ² = (|b−c|−1)² / (b+c)` (continuity-corrected) tests their
    * symmetry. One row:
    * `(n, n_both, before_only, after_only, neither, chi2_mcnemar)`;
    * χ² is NULL when no subject flipped (b+c = 0). One hash agg over
    * the pair frame; the single float division runs on one row.
    */
  def mcnemar(df: DataFrame, beforeCol: String,
              afterCol: String): DataFrame = {
    val b = col(beforeCol).cast("boolean")
    val a = col(afterCol).cast("boolean")
    // a NULL flag belongs to no cell — drop the row up front so the
    // four cells always sum to n (the published table stays
    // internally consistent)
    df.filter(b.isNotNull && a.isNotNull).agg(
        count(lit(1)).as("n"),
        sum(when(b && a, 1L).otherwise(0L)).as("n_both"),
        sum(when(b && !a, 1L).otherwise(0L)).as("before_only"),
        sum(when(!b && a, 1L).otherwise(0L)).as("after_only"),
        sum(when(!b && !a, 1L).otherwise(0L)).as("neither"))
      .withColumn("chi2_mcnemar", {
        val d = col("before_only") + col("after_only")
        when(col("n") === 0L || d === 0L, lit(null).cast("double"))
          .otherwise(round(
            ((abs(col("before_only") - col("after_only")) - 1L) *
              (abs(col("before_only") - col("after_only")) - 1L))
              .cast("double") / d.cast("double"), 6) + 0.0)
      })
      .select(col("n"),
        coalesce(col("n_both"), lit(0L)).as("n_both"),
        coalesce(col("before_only"), lit(0L)).as("before_only"),
        coalesce(col("after_only"), lit(0L)).as("after_only"),
        coalesce(col("neither"), lit(0L)).as("neither"),
        col("chi2_mcnemar"))
  }
}
