package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Merge, Ordinals}
import graft.operators.Merge.{DuplicateMode, ImportMode, Key}

/** Statistical screen queries — sketches (KMV/HLL/CMS), sampling,
  * distribution audits, privacy, drift, and model-eval style metrics.
  *
  * Split from the monolithic `SparkEntry.scala` in round 11 and again
  * in round 12 (hypothesis tests/correlation moved to
  * [[RankStatsQueries]], smoothing/forecast/series to
  * [[TimeseriesStatsQueries]]); self-typed to [[SparkEntry]] so every
  * query and shared helper keeps resolving unqualified across family
  * files. Contributes [[queriesStats]] / [[oracleSqlStats]] to the
  * assembled driver contract.
  */
private[graft] trait StatsQueries { this: SparkEntry.type =>

  import Tables._

  // ---------------------------------------------------------------- q54
  /** Fixed-width histogram of order totals (bucket = floor(price/50k)) —
    * bucketing is a scan-stage expression, so the whole histogram is one
    * partial+final aggregate, no window, no second scan for bounds.
    */
  def q54Histogram(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .withColumn("bucket", floor(col("o_totalprice") / lit(50000.0)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
      .orderBy(col("bucket"))

  // ---------------------------------------------------------------- q70
  /** Stratified deterministic sampling: rebalance the language mix by
    * downsampling the dominant language (en keeps 30%, the rest 90%)
    * with an md5-of-id permille bucket ([[operators.Sampling]]) — no
    * RNG, engine-invariant, scan-stage filter that pushes down.
    */
  def q70StratifiedSample(s: SparkSession, d: String): DataFrame =
    operators.Sampling.stratifiedHashSample(
        documents(s, d).select(col("doc_id"), col("lang")),
        "doc_id", "lang", ratesPermille = Map("en" -> 300),
        defaultPermille = 900)
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------- q71
  /** Per-source quota cap: at most 8 documents per source (the
    * over-representation guard), deterministic by doc_id order. The
    * window is hash-partitioned per source — parallelism is the number
    * of sources, never a single partition.
    */
  def q71SourceQuota(s: SparkSession, d: String): DataFrame =
    operators.Sampling.groupQuotaCap(
        documents(s, d).select(col("doc_id"), col("source")),
        Seq("source"), Seq(col("doc_id")), maxPerGroup = 8)
      .select(col("doc_id"), col("source"), col("quota_rank"))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------- q90
  /** Token-budget data mixture ([[operators.Sampling.tokenBudgetMix]]):
    * three sources blended 40/40/20 into a 2000-token budget, members
    * chosen by engine-invariant hash order. One distributed sort + a
    * per-partition-offset prefix sum — no per-source single-reducer
    * window, so the mixing step scales like a sort at corpus size.
    */
  def q90SourceMix(s: SparkSession, d: String): DataFrame =
    operators.Sampling.tokenBudgetMix(
        documents(s, d).select(col("doc_id"), col("source"),
          functions.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "source",
        "n_tokens", Map("src0" -> 0.4, "src1" -> 0.4, "src2" -> 0.2),
        totalTokens = 2000L)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("tokens_before"))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------- q105
  /** Per-source distinct-vocabulary KMV sketch vs exact: the
    * deterministic, mergeable, SQL-auditable alternative to HLL++ for
    * 100 TB cardinality profiling ([[operators.Sketches]]). k = 64
    * bottom hashes per source; `est_distinct` lands within ~1/√k of
    * exact, and the row publishes both so the error is visible. The
    * bottom-k window plans as WindowGroupLimit — each partition prunes
    * to its local k before the exchange.
    */
  def q105KmvSketch(s: SparkSession, d: String): DataFrame = {
    val k = 64
    val vals = documents(s, d).select(col("source"),
      explode(graft.functions.TextAnalysis.tokens(col("text"))).as("w"))
    val est = operators.Sketches.kmvEstimate(
      operators.Sketches.kmvSketch(vals, Seq("source"), "w", k), Seq("source"), k)
    val exact = vals.distinct().groupBy(col("source"))
      .agg(count(lit(1)).as("exact_distinct"))
    exact.join(est, Seq("source"))
      .select(col("source"), col("exact_distinct"), col("n_kept"),
        col("kth_hash"), col("est_distinct"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------- q234
  /** KMV distinct-count via the NATIVE aggregate
    * ([[graft.plans.KmvLowsAgg]] — `kmv_lows(h, k)`): q105's sketch
    * re-expressed as a single-pass `TypedImperativeAggregate`. The row
    * formulation must `distinct()` the full value domain before its
    * windowed bottom-k (a shuffle of every distinct value); the native
    * aggregate bounds each map-side partial at k longs per group, so
    * the exchange carries `groups × k × 8` bytes regardless of corpus
    * size — the 100 TB path. Same md5 hash line, same estimator, same
    * oracle discipline as q105; distinct users per event type here.
    */
  def q234KmvNativeAgg(s: SparkSession, d: String): DataFrame = {
    val k = 64
    val h = events(s, d).filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id").cast("string").as("v"))
      .withColumn("h", operators.Sketches.hash48(col("v")))
    h.groupBy(col("event_type"))
      .agg(countDistinct(col("v")).as("exact_distinct"),
        graft.plans.KmvLowsAgg.kmvLows(col("h"), k).as("lows"))
      .select(col("event_type"), col("exact_distinct"),
        size(col("lows")).cast("long").as("n_kept"),
        element_at(col("lows"), -1).as("kth_hash"),
        when(size(col("lows")) < k, size(col("lows")).cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(operators.Sketches.HashLine) /
            element_at(col("lows"), -1).cast("double")).as("est_distinct"))
      .orderBy(col("event_type"))
  }

  // ---------------------------------------------------------------- q236
  /** One-pass whole-table profile of `orders`
    * ([[operators.TableProfile]]): row/null counts + the KMV distinct
    * sketch for all six columns from a SINGLE scan and a SINGLE global
    * aggregation — per-column state is one counter plus k longs (the
    * native `kmv_lows` buffer), so the 100 TB "describe this table"
    * costs one pass regardless of column count, where per-column
    * `countDistinct` would either rescan per column or Expand every
    * row six-fold. Values hash through engine-canonical renderings:
    * integers as digits, DOUBLE through DECIMAL(18,6), TIMESTAMP as
    * epoch-micros digits.
    */
  def q236TableProfile(s: SparkSession, d: String): DataFrame =
    operators.TableProfile.profileSketch(orders(s, d), Seq(
      "o_orderkey" -> col("o_orderkey").cast("string"),
      "o_custkey" -> col("o_custkey").cast("string"),
      "o_orderstatus" -> col("o_orderstatus"),
      "o_orderpriority" -> col("o_orderpriority"),
      "o_totalprice" -> col("o_totalprice").cast("decimal(18,6)").cast("string"),
      // parquet may surface the date as TIMESTAMP or TIMESTAMP_NTZ —
      // normalize through a TIMESTAMP cast (session TZ is UTC)
      "o_orderdate" -> expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))")
        .cast("string")))

  // ---------------------------------------------------------------- q109
  /** Robust outlier screen: median/MAD per return flag over extended
    * price, counting rows beyond 3 MAD ([[operators.Outliers]]). The
    * medians are bit-equal to `percentile_cont` via the exact-quantiles
    * operator (two range-partitioned sorts), and the cutoff compares
    * unrounded doubles — the count is engine-exact.
    */
  def q109MadOutliers(s: SparkSession, d: String): DataFrame =
    operators.Outliers.madOutliers(lineitem(s, d), Seq("l_returnflag"),
        "l_extendedprice", cutoff = 3.0)
      .orderBy(col("l_returnflag"))

  // ---------------------------------------------------------------- q111
  /** Quality-weighted sampling without replacement: 100 documents drawn
    * with probability ∝ quality score via deterministic
    * Efraimidis–Spirakis priorities ([[operators.Sampling
    * .weightedPrioritySample]]) — the auditable alternative to
    * rand()-weighted sampling: any engine and any partitioning draws
    * the SAME sample. Weights clamp at 0.05 so all-punctuation docs
    * (quality 0) stay drawable.
    */
  def q111WeightedSample(s: SparkSession, d: String): DataFrame =
    operators.Sampling.weightedPrioritySample(
        documents(s, d).select(col("doc_id"),
          greatest(graft.functions.TextAnalysis.qualityScore(col("text")),
            lit(0.05)).as("weight")),
        "doc_id", "weight", k = 100)
      .select(col("doc_id"), round(col("weight"), 6).as("weight"),
        col("lkey"), col("sel_rank"), col("selected"))
      .orderBy(col("doc_id"))

  // ---------------------------------------------------------------- q128
  /** Market-basket association rules over order baskets: pairwise
    * support, per-direction confidence, and lift — frequent-itemset
    * mining's first tier. All metrics publish as EXACT parts-per-
    * million integers (`1e6·ab DIV a` etc.), so there is zero float
    * in the result and any engine hashes identically. Basket sizes
    * are bounded (≤ 7 lines/order), so the pair explosion is linear
    * in orders; everything else is hash aggregation + broadcast-sized
    * joins on the item-support table.
    */
  def q128AssociationRules(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val nOrders = li.select(col("ok")).distinct().count()
    val itemSup = li.groupBy(col("pk")).agg(count(lit(1)).as("sup"))
    // pair support comes straight off the shared co-purchase artifact —
    // the O(Σ basket²) self-join is paid once per session, not here
    val pairSup = copurchasePairs(s, d).filter(col("n_both") >= 2)
    pairSup
      .join(itemSup.select(col("pk").as("pa"), col("sup").as("sup_a")), "pa")
      .join(itemSup.select(col("pk").as("pb"), col("sup").as("sup_b")), "pb")
      .select(col("pa"), col("pb"), col("n_both"), col("sup_a"), col("sup_b"),
        expr("(1000000 * n_both) DIV sup_a").as("conf_ab_ppm"),
        expr("(1000000 * n_both) DIV sup_b").as("conf_ba_ppm"),
        // lift's n·ab·1e6 numerator overflows BIGINT at warehouse order
        // counts — DECIMAL(38,0) keeps the floor division exact
        expr(s"CAST((CAST($nOrders AS DECIMAL(38,0)) * n_both * 1000000)" +
          " div (CAST(sup_a AS DECIMAL(38,0)) * sup_b) AS BIGINT)")
          .as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("pa"), col("pb"))
      .limit(30)
  }

  // ---------------------------------------------------------------- q129
  /** Gini concentration of user activity — how unequally events spread
    * across users, the inequality metric of traffic/engagement audits.
    * Uses the sorted-rank identity `G = (2·Σ i·x_i − (n+1)·Σx) /
    * (n·Σx)` with ranks from the range-partitioned distributed sort
    * (q12's ordinal machinery — no global window), published as an
    * EXACT floor-divided ppm integer: every term is integer
    * arithmetic, so the result is engine-identical by construction.
    * Rank ties among equal counts cannot change the sum (equal x_i
    * commute), so any total tie-break yields the same Gini.
    */
  def q129Gini(s: SparkSession, d: String): DataFrame = {
    val counts = events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("x"))
    val ranked = operators.Ordinals.withOrderedOrdinal(
      counts, Seq(col("x"), col("user_id")), "i")
    ranked.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("i") * col("x")).as("six"))
      .select(col("n").as("n_users"), col("sx").as("n_events"),
        // DECIMAL(38,0) arithmetic: the *1e6 numerator would overflow
        // BIGINT near ~3e5 users x 100 events; `div` on decimals keeps
        // the floor-division exactness
        expr("CAST(((CAST(six AS DECIMAL(38,0)) * 2" +
          " - (CAST(n AS DECIMAL(38,0)) + 1) * CAST(sx AS DECIMAL(38,0)))" +
          " * 1000000) div (CAST(n AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0)))" +
          " AS BIGINT)").as("gini_ppm"))
  }

  // ---------------------------------------------------------------- q133
  /** Population-stability-index drift monitor: the event-value
    * distribution of the first corpus week (baseline) vs everything
    * after, over baseline-decile bins — the standard model-input drift
    * check of ML monitoring. Bin edges are the EXACT distributed
    * quantiles rounded to 6dp on both engines (so binning compares
    * identical doubles); bin membership is a broadcast 9-edge array
    * probe in the scan stage; proportions are Laplace-smoothed exact
    * rationals so no bin can zero out the log; each PSI term rounds
    * its one `ln` at 6dp and the total sums those terms in DECIMAL.
    */
  def q133PsiDrift(s: SparkSession, d: String): DataFrame = {
    val weekUs = 7L * 86400000000L
    val ev = events(s, d).select(expr("ts DIV 1000").as("us"), col("value"))
    val t0 = ev.agg(min(col("us")).as("t0"))
    val tagged = ev.crossJoin(broadcast(t0))
      .withColumn("period",
        when(col("us") < col("t0") + lit(weekUs), lit("A")).otherwise(lit("B")))
      .select(col("period"), col("value"))
    val edges = operators.Quantiles.exactQuantiles(
        tagged.filter(col("period") === "A"), Seq.empty, "value",
        (1 to 9).map(_ / 10.0))
      .agg(sort_array(collect_list(round(col("quantile"), 6))).as("edges"))
    val counts = tagged.crossJoin(broadcast(edges))
      .withColumn("bin",
        expr("size(filter(edges, e -> value > e))").cast("long"))
      .groupBy(col("period"), col("bin")).agg(count(lit(1)).as("n"))
    val joined = s.range(0, 10).select(col("id").as("bin"))
      .join(counts.filter(col("period") === "A")
        .select(col("bin"), col("n").as("n_a")), Seq("bin"), "left")
      .join(counts.filter(col("period") === "B")
        .select(col("bin"), col("n").as("n_b")), Seq("bin"), "left")
      .withColumn("n_a", coalesce(col("n_a"), lit(0L)))
      .withColumn("n_b", coalesce(col("n_b"), lit(0L)))
    val terms = joined
      .crossJoin(broadcast(joined.agg(sum(col("n_a")).as("ta"),
        sum(col("n_b")).as("tb"))))
      .withColumn("pa",
        (col("n_a") + 1L).cast("double") / (col("ta") + 10L).cast("double"))
      .withColumn("pb",
        (col("n_b") + 1L).cast("double") / (col("tb") + 10L).cast("double"))
      .withColumn("psi_term", round((col("pb") - col("pa")) *
        round(log(col("pb") / col("pa")), 6), 6))
    terms
      .crossJoin(broadcast(terms.agg(
        (sum(col("psi_term").cast("decimal(18,6)")).cast("double") + lit(0.0))
          .as("psi_total"))))
      .select(col("bin"), col("n_a"), col("n_b"), col("psi_term"),
        col("psi_total"))
      .orderBy(col("bin"))
  }

  // ---------------------------------------------------------------- q138
  /** Leave-one-out target encoding of customer nation against order
    * value — the feature-engineering staple for high-cardinality
    * categoricals, in its leakage-safe form (each row's own target is
    * excluded from its category mean) plus the m-estimate smoothed
    * variant (m = 10 pseudo-observations of the global mean). EXACT:
    * targets become integer cents, and both encodings publish as
    * floor divisions of cross-multiplied integer sums in
    * DECIMAL(38,0) — `(n_all·(S_g − x) + m·S_all) div
    * (n_all·(n_g − 1 + m))` — so every encoded value is
    * engine-identical. One hash aggregation per level of grouping;
    * the category and global stats broadcast back.
    */
  def q138TargetEncode(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).join(customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey").as("nation"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("x_cents"))
    val g = o.groupBy(col("nation"))
      .agg(count(lit(1)).as("n_g"), sum(col("x_cents")).as("s_g"))
    val t = o.agg(count(lit(1)).as("n_all"), sum(col("x_cents")).as("s_all"))
    o.join(broadcast(g), Seq("nation"))
      .crossJoin(broadcast(t))
      .select(col("o_orderkey"), col("nation"), col("x_cents"),
        when(col("n_g") > 1, expr(
          "CAST((CAST(s_g AS DECIMAL(38,0)) - x_cents) div (n_g - 1) AS BIGINT)"))
          .as("loo_cents"),
        expr("CAST((CAST(n_all AS DECIMAL(38,0)) * (s_g - x_cents)" +
          " + 10 * CAST(s_all AS DECIMAL(38,0)))" +
          " div (CAST(n_all AS DECIMAL(38,0)) * (n_g - 1 + 10)) AS BIGINT)")
          .as("loo_smooth_cents"))
      .orderBy(col("o_orderkey"))
  }

  // ---------------------------------------------------------------- q150
  /** HyperLogLog cardinality sketch ([[operators.Sketches
    * .hllRegisters]]/[[operators.Sketches.hllEstimate]], p = 6) of
    * per-source token vocabularies, alongside the exact count — the
    * mergeable-register companion to q105's KMV bottom-k. Registers
    * are exact content-keyed integers (same md5-48 line), merged by
    * per-bucket max with map-side combining; the harmonic sum is an
    * exact BIGINT (`Σ 2^(49−rho)`), so only the final three IEEE ops
    * are float.
    */
  def q150HllSketch(s: SparkSession, d: String): DataFrame = {
    import operators.Sketches
    val toks = documents(s, d).select(col("source"),
      explode(functions.TextAnalysis.tokens(col("text"))).as("tok"))
    val est = Sketches.hllEstimate(
      Sketches.hllRegisters(toks, Seq("source"), "tok", p = 6),
      Seq("source"), p = 6)
    val exact = toks.select(col("source"), col("tok")).distinct()
      .groupBy("source").agg(count(lit(1)).as("exact_distinct"))
    est.join(exact, "source")
      .select(col("source"), col("n_zero"), col("s_scaled"),
        col("est_distinct"), col("exact_distinct"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------- q151
  /** Equal-frequency WoE binning ([[operators.WoeBinning.woeBins]]):
    * decile bins of `l_extendedprice` under a total order, scored
    * against the `l_returnflag = 'R'` target. Bin membership is pure
    * integer rank arithmetic ((rn−1)·10 DIV n — no interpolated edge
    * values cross engines); the rank is the range-partitioned
    * distributed sort the exact-quantile operator uses.
    */
  def q151WoeBinning(s: SparkSession, d: String): DataFrame =
    operators.WoeBinning.woeBins(
        lineitem(s, d), "l_extendedprice", col("l_returnflag") === "R",
        Seq(col("l_extendedprice").asc, col("l_orderkey").asc,
          col("l_linenumber").asc, col("l_partkey").asc,
          col("l_suppkey").asc),
        nBins = 10)
      .orderBy(col("bin"))

  // ---------------------------------------------------------------- q156
  /** Count-min sketch ([[operators.Sketches.cmsSketch]]/[[operators
    * .Sketches.cmsQuery]], 4×256): token frequencies sketched into
    * 1024 exact BIGINT counters (mergeable by cell-wise addition —
    * the map-side combine IS the merge), then point-queried for the
    * 25 most frequent tokens and compared to exact counts. CMS is
    * integer end to end — the overestimate column is exact on both
    * engines.
    */
  def q156CmsSketch(s: SparkSession, d: String): DataFrame = {
    import operators.Sketches
    // the token frame feeds THREE consumers (sketch, exact counts,
    // probe ranking) — materialize the tokenization once instead of
    // re-splitting the corpus per DAG branch; spread the single-file
    // scan first (real corpora get that from file splits)
    val toks = documents(s, d)
      .repartition(s.sparkContext.defaultParallelism)
      .select(explode(functions.TextAnalysis.tokens(col("text"))).as("tok"))
      .transform(operators.Checkpoint(_))
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
    val probes = exact
      .orderBy(col("exact_cnt").desc, col("tok")).limit(25)
      .transform(operators.Checkpoint(_)) // 25 rows, referenced twice
    val sketch = Sketches.cmsSketch(toks, "tok", depth = 4, width = 256)
    Sketches.cmsQuery(sketch, probes.select("tok"), "tok",
        depth = 4, width = 256)
      .join(probes, "tok")
      .select(col("tok"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overcount"))
      .orderBy(col("tok"))
  }

  // ---------------------------------------------------------------- q158
  /** Trimmed mean ([[operators.Quantiles.trimmedMean]]): per-flag 5%
    * two-sided truncated mean of `l_extendedprice` — the robust
    * location estimate outlier-heavy feeds need. Rank cutoffs are
    * exact integer ppm arithmetic on the range-partitioned ordinal;
    * the core sum is DECIMAL; one float division per group.
    */
  def q158TrimmedMean(s: SparkSession, d: String): DataFrame =
    operators.Quantiles.trimmedMean(lineitem(s, d), Seq("l_returnflag"),
        "l_extendedprice", trimPpm = 50000,
        tieBreak = Seq(col("l_orderkey").asc, col("l_linenumber").asc,
          col("l_partkey").asc, col("l_suppkey").asc))
      .orderBy(col("l_returnflag"))

  // ---------------------------------------------------------------- q166
  /** Histogram-sketch quantiles ([[operators.Sketches.histSketch]] /
    * [[operators.Sketches.histQuantiles]]): the mergeable scale path
    * beside q48's exact sort (bin counts ADD across
    * partitions/days — the map-side combine is the merge; error ≤ one
    * bin width by construction). Prices become exact integer cents via
    * the DECIMAL cast; target ranks, cumulative walk and within-bin
    * interpolation are integer end to end — no float anywhere.
    */
  def q166HistQuantiles(s: SparkSession, d: String): DataFrame = {
    import operators.Sketches
    val cents = lineitem(s, d).select(
      (col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").as("cents"))
    val sketch = Sketches.histSketch(cents, "cents", binWidth = 100000L)
    Sketches.histQuantiles(sketch, binWidth = 100000L,
        qPpm = Seq(500000L, 900000L, 990000L))
      .orderBy(col("q_ppm"))
  }

  // ---------------------------------------------------------------- q168
  /** Quantile normalization ([[operators.Quantiles
    * .normalizeToReference]]): returned-flag line prices mapped onto
    * the 'N'-flag distribution — the batch-effect corrector. Pure
    * integer rank mapping (`⌈r·n_ref/n⌉`, type-1), two ordinal sorts
    * + one rank-index hash join; no interpolation to disagree on
    * across engines.
    */
  def q168QuantileNormalize(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    val a = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_extendedprice"))
    val ref = li.filter(col("l_returnflag") === "N")
      .select(col("l_extendedprice"))
    operators.Quantiles.normalizeToReference(a,
        Seq(col("l_extendedprice").asc, col("l_orderkey").asc,
          col("l_linenumber").asc, col("l_partkey").asc,
          col("l_suppkey").asc),
        ref, "l_extendedprice")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"))
  }

  // ---------------------------------------------------------------- q171
  /** Power-law degree-tail exponent ([[operators.GraphStats
    * .powerLawAlpha]], Newman's MLE, dmin = 10) of the co-purchase
    * graph — tenth consumer of the shared edge artifact. 6-dp DECIMAL
    * ln sums; one float row.
    */
  def q171PowerLaw(s: SparkSession, d: String): DataFrame =
    operators.GraphStats.powerLawAlpha(
      copurchasePairs(s, d).select(col("pa"), col("pb")), "pa", "pb",
      dmin = 10L)

  // ---------------------------------------------------------------- q170
  /** Zipf's-law fit per language: the log-log rank–frequency slope
    * over each lang's top-100 tokens (Zipf 1949; slope ≈ −1 for
    * natural text — a cheap "does this corpus look like language"
    * audit). Ranks are a lang-partitioned WindowGroupLimit over the
    * vocabulary frame; the regression runs on 6-dp-rounded lns held
    * in DECIMAL (order-independent sums, q106's discipline) with the
    * OLS closed form evaluated once per lang.
    */
  def q170ZipfFit(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = documents(s, d)
      .select(col("lang"),
        explode(functions.TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy("lang").orderBy(col("freq").desc, col("tok"))
    val terms = counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 100) // WindowGroupLimit prunes map-side
      .withColumn("x", round(log(col("rk").cast("double")), 6)
        .cast("decimal(8,6)"))
      .withColumn("y", round(log(col("freq").cast("double")), 6)
        .cast("decimal(8,6)"))
    terms.groupBy("lang")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("x")).cast("decimal(12,6)").as("sx"),
        sum(col("y")).cast("decimal(12,6)").as("sy"),
        sum(col("x") * col("y")).cast("decimal(20,12)").as("sxy"),
        sum(col("x") * col("x")).cast("decimal(20,12)").as("sxx"))
      .withColumn("zipf_slope", round(
        (col("n_terms").cast("decimal(3,0)") * col("sxy") -
          col("sx") * col("sy")).cast("double") /
          (col("n_terms").cast("decimal(3,0)") * col("sxx") -
            col("sx") * col("sx")).cast("double"), 6) + lit(0.0))
      .select(col("lang"), col("n_terms"), col("zipf_slope"))
      .orderBy(col("lang"))
  }

  // ---------------------------------------------------------------- q48
  /** Exact interpolated percentiles per group via
    * [[operators.Quantiles.exactQuantiles]] — a distributed sort +
    * rank selection, bit-identical to Spark's `percentile` built-in
    * (same `(hi−pos)·v_lo + (pos−lo)·v_hi` interpolation) but with no
    * per-group value buffering: the built-in funnels every value of a
    * group through one reducer, this shape scales like a sort. DuckDB's
    * `quantile_cont` computes the same formula.
    */
  def q48Quantiles(s: SparkSession, d: String): DataFrame =
    operators.Quantiles.exactQuantiles(lineitem(s, d), Seq("l_returnflag"),
        "l_extendedprice", Seq(0.5, 0.9, 0.99))
      .groupBy(col("l_returnflag"))
      .agg(
        round(max(when(col("q") === 0.5, col("quantile"))), 6).as("p50"),
        round(max(when(col("q") === 0.9, col("quantile"))), 6).as("p90"),
        round(max(when(col("q") === 0.99, col("quantile"))), 6).as("p99"),
        max(col("n_values")).as("n"))
      .orderBy(col("l_returnflag"))

  // ---------------------------------------------------------------- q183
  /** Per-event-type skewness / excess kurtosis from exact integer
    * power sums ([[operators.Moments.shape]]) — the tail-shape drift
    * audit mean/variance monitoring misses. One hash agg; closed
    * forms run once per group on exact sums.
    */
  def q183Moments(s: SparkSession, d: String): DataFrame =
    operators.Moments.shape(
        events(s, d).select(col("event_type"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents")),
        "event_type", "cents")
      .withColumnRenamed("group", "event_type")
      .orderBy(col("event_type"))

  // ---------------------------------------------------------------- q184
  /** Per-source language-diversity indices: Shannon entropy (6-dp
    * DECIMAL term sums) and Gini–Simpson as an exact ppm integer —
    * the mix-health audit for a multi-source corpus (a "diverse"
    * source that is 99% one language is a labeling bug or a crawl
    * trap). Two hash aggs over the (source, lang) cell frame.
    */
  def q184Diversity(s: SparkSession, d: String): DataFrame = {
    val cells = documents(s, d).groupBy("source", "lang")
      .agg(count(lit(1)).as("nl"))
    val tot = cells.groupBy("source")
      .agg(sum(col("nl")).as("n"), count(lit(1)).as("k"),
        sum(col("nl") * col("nl")).as("sl2"))
    cells.join(tot, Seq("source"))
      .withColumn("term",
        round(-(col("nl").cast("double") / col("n").cast("double")) *
          log(col("nl").cast("double") / col("n").cast("double")), 6)
          .cast("decimal(10,6)"))
      .groupBy(col("source"), col("n").as("n_docs"), col("k").as("n_langs"),
        col("sl2"))
      .agg(sum(col("term")).cast("decimal(18,6)").as("sh"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("sh").cast("double").as("shannon"),
        expr("1000000 - (sl2 * 1000000) DIV (n_docs * n_docs)")
          .as("simpson_ppm"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------- q185
  /** Partition-balance audit: rows per md5-derived bucket (the
    * engine-portable stand-in for a 32-way hash partitioning) plus
    * the max-over-average ratio in exact ppm — the pre-flight skew
    * check before keying a 100 TB shuffle on a candidate column.
    */
  def q185PartitionBalance(s: SparkSession, d: String): DataFrame = {
    val b = documents(s, d)
      .withColumn("bucket",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 32)
      .groupBy("bucket").agg(count(lit(1)).as("n_rows"))
    b.agg(sum(col("n_rows")).as("n"),
        count(lit(1)).as("n_buckets"),
        min(col("n_rows")).as("min_rows"),
        max(col("n_rows")).as("max_rows"))
      .select(col("n"), col("n_buckets"), col("min_rows"), col("max_rows"),
        expr("(max_rows * n_buckets * 1000000) DIV n").as("max_over_avg_ppm"))
  }

  // ---------------------------------------------------------------- q186
  /** Simplified silhouette per embedding label
    * ([[operators.Silhouette.byLabelCentroids]]) — the cluster-quality
    * readout at O(n·k·d) (centroid-based, the form that scales; the
    * exact pairwise silhouette is O(n²·d)). DECIMAL components and
    * squared distances; sqrt + ratio are the only float ops.
    */
  def q186Silhouette(s: SparkSession, d: String): DataFrame =
    operators.Silhouette.byLabelCentroids(
        embeddings(s, d), "vec_id", "label", "embedding")
      .orderBy(col("label"))

  // ---------------------------------------------------------------- q189
  /** Apriori level-3: frequent triple itemsets grown from the ≥5-
    * support pair frame (twelfth consumer of the shared edge
    * artifact) — candidate triples only extend already-frequent
    * pairs, the pruning that makes level-k mining feasible at scale.
    * Exact integer supports; top-20. Thresholds (pair ≥ 2,
    * triple ≥ 2): a support-1 "itemset" is raw enumeration, not
    * mining — at sf0.1 the synthetic baskets never repeat a triple,
    * so the empty result there is the honest answer (the sf0.01
    * gate returns rows).
    */
  def q189TripleItemsets(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val fp = copurchasePairs(s, d).filter(col("n_both") >= 2)
      .select(col("pa"), col("pb"))
    val pairOrders = li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.ok").as("ok"), col("a.pk").as("pa"), col("b.pk").as("pb"))
      .join(fp, Seq("pa", "pb")) // Apriori prune BEFORE the 3rd expansion
    val triples = pairOrders.join(li.as("c"),
        col("c.ok") === pairOrders("ok") && col("c.pk") > col("pb"))
      .groupBy(col("pa"), col("pb"), col("c.pk").as("pc"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
    triples.orderBy(col("support").desc, col("pa"), col("pb"), col("pc"))
      .limit(20)
  }

  // ---------------------------------------------------------------- q191
  /** Label-noise screen via kNN disagreement (Confident-Learning-
    * style): each probe vector's label vs the majority label of its 5
    * exact nearest neighbors — embeddings whose neighborhood outvotes
    * their label are mislabeling candidates. Broadcast probe set; the
    * corpus is never shuffled.
    */
  def q191LabelNoise(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = embeddings(s, d)
    val probes = e.filter(col("vec_id") < 200)
    val nn = operators.Similarity.bruteForceTopK(
      probes.select(col("vec_id").as("query_id"),
        col("embedding").as("query_vec")),
      e.filter(col("vec_id") >= 200), k = 5)
    val votes = nn.join(e.select(col("vec_id").as("neighbor_id"),
        col("label").as("nl")), Seq("neighbor_id"))
      .groupBy("query_id", "nl").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("query_id").orderBy(col("c").desc, col("nl"))
    val maj = votes.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("nl").as("majority_label"),
        col("c").as("n_votes"))
    probes.select(col("vec_id").as("query_id"), col("label").as("own_label"))
      .join(maj, Seq("query_id"))
      .withColumn("mismatch", col("own_label") =!= col("majority_label"))
      .orderBy(col("query_id"))
  }

  // ---------------------------------------------------------------- q195
  /** Near-dup cluster-size histogram (14th consumer of the shared
    * pair/label artifacts): how much of the corpus sits in pairs,
    * triangles, bigger mirror farms — the shape that decides whether
    * keep-one dedup or domain blocking is the right response.
    */
  def q195ClusterHistogram(s: SparkSession, d: String): DataFrame =
    operators.ConnectedComponents.clustersFromLabels(dedupLabels(s, d))
      .groupBy("cluster_size")
      .agg(count_distinct(col("cluster")).as("n_clusters"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("cluster_size"))

  // ---------------------------------------------------------------- q224
  /** Per-label embedding-centroid cosine matrix
    * ([[operators.Similarity.labelCentroidCosines]]) — the drift
    * monitor between labeled sub-populations; the group size cancels,
    * so only exact DECIMAL component sums cross the wire and one
    * sqrt+divide per pair closes it.
    */
  def q224CentroidDrift(s: SparkSession, d: String): DataFrame =
    operators.Similarity.labelCentroidCosines(
        embeddings(s, d), "label", "embedding")
      .select(col("ga").as("label_a"), col("gb").as("label_b"),
        col("centroid_cosine"))
      .orderBy(col("label_a"), col("label_b"))

  // ---------------------------------------------------------------- q227
  /** k-anonymity class-size histogram over customer quasi-identifiers
    * (nation, market segment, balance rounded to the thousand —
    * [[operators.Anonymity.kAnonymityProfile]]): how many rows share
    * each quasi-identifier combination, i.e. how re-identifiable an
    * export of this table is. All-integer; the verdict for any k
    * reads off the histogram head.
    */
  def q227KAnonymity(s: SparkSession, d: String): DataFrame =
    operators.Anonymity.kAnonymityProfile(
      customer(s, d).select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_k")),
      Seq("c_nationkey", "c_mktsegment", "bal_k"))

  // ---------------------------------------------------------------- q228
  /** l-diversity histogram ([[operators.Anonymity.lDiversityProfile]]):
    * with (nation, balance-thousand) as the quasi key, how many
    * DISTINCT market segments each equivalence class spans — classes
    * with diversity 1 leak the segment with certainty even under
    * k-anonymity.
    */
  def q228LDiversity(s: SparkSession, d: String): DataFrame =
    operators.Anonymity.lDiversityProfile(
      customer(s, d).select(col("c_nationkey"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_k"),
        col("c_mktsegment")),
      Seq("c_nationkey", "bal_k"), "c_mktsegment")

  // ---------------------------------------------------------------- q230
  /** KMV set-overlap estimate ([[operators.Sketches.kmvOverlapEstimate]],
    * Beyer et al. SIGMOD'07): how much do the clicker and viewer
    * AUDIENCES overlap, answered from two bottom-128 user sketches —
    * union estimate off the merged sketch, Jaccard off the both-sides
    * fraction, intersection as their product. At 100 TB the sources
    * never rescan: the comparison costs k sketch rows per side.
    */
  def q230KmvOverlap(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    def sk(t: String) = operators.Sketches.kmvSketch(
      ev.filter(col("event_type") === t)
        .select(lit("users").as("g"),
          col("user_id").cast("string").as("u")),
      Seq("g"), "u", k = 128)
    operators.Sketches.kmvOverlapEstimate(sk("click"), sk("view"),
        Seq("g"), k = 128)
      .orderBy(col("g"))
  }

  // ---------------------------------------------------------------- q240
  /** CMS join-size estimation
    * ([[operators.Sketches.cmsInnerProduct]]): how many rows would
    * `clicks ⋈ views ON user_id` produce, answered from two 4×256
    * count-min sketches of the key-frequency vectors WITHOUT running
    * the join — the shuffle-sizing / skew question a planner asks
    * before committing a 100 TB exchange (the inner product IS the
    * join output cardinality; with identical sides it is the
    * self-join size F2, the canonical skew signal). The row publishes
    * the exact join size alongside, so the overcount (CMS is an upper
    * bound by construction) is visible. Exact side: one hash agg per
    * user, products summed in DECIMAL.
    */
  def q240CmsJoinSize(s: SparkSession, d: String): DataFrame = {
    val (depth, width) = (4, 256)
    // three consumers (two sketches + the exact side) — persist the
    // filtered projection so the raw table is scanned once
    val ev = operators.Retained.track(
      events(s, d).filter(col("user_id").isNotNull &&
          col("event_type").isin("click", "view"))
        .select(col("user_id").cast("string").as("u"), col("event_type"))
        .persist())
    def side(t: String) = operators.Sketches.cmsSketch(
      ev.filter(col("event_type") === t).select(col("u")), "u", depth, width)
    val est = operators.Sketches.cmsInnerProduct(
      side("click"), side("view"), depth)
    val exact = ev.groupBy(col("u"))
      .agg(count(when(col("event_type") === "click", lit(1))).as("nc"),
        count(when(col("event_type") === "view", lit(1))).as("nv"))
      .agg(sum((col("nc") * col("nv")).cast("decimal(38,0)"))
        .cast("long").as("exact_join_size"))
    exact.crossJoin(broadcast(est))
      .select(col("exact_join_size"), col("est_join_size"),
        (col("est_join_size") - col("exact_join_size")).as("overcount"))
  }

  // ---------------------------------------------------------------- q244
  /** t-closeness profile ([[operators.Anonymity.tClosenessProfile]],
    * Li et al. ICDE'07) — the third rung of the q227/q228 privacy
    * ladder: per (nation, segment) equivalence class, how far the
    * class's balance-thousand DISTRIBUTION sits from the table's,
    * as both the ordered-domain EMD and the total-variation distance.
    * A class can be k-anonymous AND l-diverse yet still leak "this
    * class skews high-balance"; this is the audit that catches it.
    * All distribution arithmetic is exact integers over the common
    * denominator n_c·N; one final IEEE divide per class, 6 dp.
    */
  def q244TCloseness(s: SparkSession, d: String): DataFrame =
    operators.Anonymity.tClosenessProfile(
      customer(s, d).select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("bal_k")),
      Seq("c_nationkey", "c_mktsegment"), "bal_k")
      .orderBy(col("c_nationkey"), col("c_mktsegment"))

  // ---------------------------------------------------------------- q247
  /** Score-calibration audit ([[operators.Calibration.reliabilityBins]]):
    * score every user by their exact click fraction (ppm), label them
    * by whether they ever purchased, and ask per decile bin whether
    * the mean predicted rate matches the observed purchase rate — the
    * reliability diagram + per-bin Brier mass that decides whether a
    * score column can gate a 100 TB curation pipeline. All-integer
    * ppm arithmetic end to end; one hash agg per stage.
    */
  def q247Calibration(s: SparkSession, d: String): DataFrame = {
    val per = events(s, d).filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(when(col("event_type") === "click", lit(1))).as("n_click"),
        count(lit(1)).as("n_tot"),
        max(when(col("event_type") === "purchase", lit(1)).otherwise(lit(0)))
          .as("label"))
    operators.Calibration.reliabilityBins(per,
      expr("(n_click * 1000000L) div n_tot"), col("label"), bins = 10)
  }

  // ---------------------------------------------------------------- q248
  /** HLL sketch rollup ([[operators.Sketches.hllRollup]]): daily
    * distinct-user registers per event type, merged UP to weekly and
    * all-time grains by per-bucket max — never rescanning the raw
    * rows — with estimates read off each grain. The oracle builds its
    * registers DIRECTLY from the raw rows at the coarse grains, so
    * the hash-match proves the reaggregatability contract (merge ≡
    * rebuild) that makes sketches the 100 TB distinct-count currency:
    * ingest sketches once at the finest grain, answer every coarser
    * rollup from sketch rows alone.
    */
  def q248SketchRollup(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).filter(col("user_id").isNotNull)
      .select(col("event_type"), expr("ts div 86400000000000L").as("day"),
        col("user_id").cast("string").as("u"))
    // the daily register build is the one pass over the raw rows —
    // persist it so the weekly and all-time rollups both read the
    // register frame instead of re-scanning the corpus
    val daily = operators.Retained.track(operators.Sketches.hllRegisters(ev,
      Seq("event_type", "day"), "u", p = 6).persist())
    val weekly = operators.Sketches.hllRollup(
      daily.withColumn("week", expr("day div 7L")),
      Seq("event_type", "week"))
    val total = operators.Sketches.hllRollup(daily, Seq("event_type"))
    val wk = operators.Sketches.hllEstimate(weekly,
      Seq("event_type", "week"), p = 6)
    val tt = operators.Sketches.hllEstimate(total, Seq("event_type"), p = 6)
      .withColumn("week", lit(-1L))
    wk.unionByName(tt).orderBy(col("event_type"), col("week"))
  }

  // ---------------------------------------------------------------- q253
  /** Priority-sampling subset-sum estimation
    * ([[operators.Sampling.prioritySampleEstimate]], Duffield–Lund–
    * Thorup): estimate TOTAL event volume from a 64-user priority
    * sample — keep the 64 largest `w/u` priorities, τ = the 65th,
    * `Σ max(w, τ)` over the sample estimates `Σ w` — published next
    * to the exact total so the error is visible (the q240
    * sketch-vs-truth shape). The 100 TB read: retain k rows once,
    * answer later subset-sum questions without rescanning. Hash-line
    * u's, one IEEE divide per priority, distributed-sort ranking,
    * 6-dp terms summed in DECIMAL.
    */
  def q253PriorityEstimate(s: SparkSession, d: String): DataFrame = {
    val per = events(s, d).filter(col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(count(lit(1)).as("w"))
    operators.Sampling.prioritySampleEstimate(per, "user_id", "w", k = 64)
  }

  // ---------------------------------------------------------------- q254
  /** Histogram-sketch rollup quantiles ([[operators.Sketches
    * .histRollup]] — the quantile-side twin of q248's HLL rollup):
    * price-cents bin counts built PER RETURN FLAG (the per-shard
    * grain), merged to the global sketch by plain bin addition, and
    * quantiles read off the rollup ([[operators.Sketches
    * .histQuantiles]] — integer end to end). The oracle bins the raw
    * rows directly at the global grain, so the hash-match proves the
    * quantile summary's merge ≡ rebuild: fine-grain sketches answer
    * any coarser quantile question without rescanning.
    */
  def q254HistRollup(s: SparkSession, d: String): DataFrame = {
    val binW = 100000L
    val cents = lineitem(s, d)
      .filter(col("l_extendedprice").isNotNull)
      .select(col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
    val fine = cents.groupBy(col("l_returnflag"),
        expr(s"cents DIV ${binW}L").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val global = operators.Sketches.histRollup(fine, Seq.empty)
    operators.Sketches.histQuantiles(global, binW,
        qPpm = Seq(250000L, 750000L, 990000L))
      .orderBy(col("q_ppm"))
  }

  // ---------------------------------------------------------------- q259
  /** SLIDING-window HLL distinct — trailing-7-day active users per
    * observed day, answered from DAILY registers alone: each day's
    * register rows fan out to the ≤7 windows that contain the day
    * (bounded explode, semi-joined to observed days) and max-merge
    * per window. q248 proved merge ≡ rebuild up a hierarchy; this is
    * the OVERLAPPING-window face of the same reaggregatability — the
    * oracle builds each window's registers directly from the raw
    * rows, so the hash-match proves a daily sketch store answers any
    * trailing-window question without rescanning (at 100 TB: 7×
    * register fanout instead of 7× corpus fanout). The exact
    * trailing distinct is published next to the estimate (q253's
    * visible-error shape) off the same persisted per-day frame.
    */
  def q259SlidingHll(s: SparkSession, d: String): DataFrame = {
    val evp = operators.Retained.track(
      events(s, d).filter(col("user_id").isNotNull)
        .select(expr("ts div 86400000000000L").as("day"),
          col("user_id").cast("string").as("u"))
        .persist())
    val daily = operators.Sketches.hllRegisters(evp, Seq("day"), "u", p = 6)
    val obs = evp.select(col("day").as("w")).distinct()
    val contrib = daily
      .withColumn("w", explode(sequence(col("day"), col("day") + 6)))
      .join(broadcast(obs), Seq("w"), "left_semi")
    val est = operators.Sketches.hllEstimate(
      operators.Sketches.hllRollup(contrib, Seq("w")), Seq("w"), p = 6)
    val exact = evp.select(col("day"), col("u")).distinct()
      .withColumn("w", explode(sequence(col("day"), col("day") + 6)))
      .join(broadcast(obs), Seq("w"), "left_semi")
      .groupBy(col("w")).agg(count_distinct(col("u")).as("exact_distinct"))
    est.join(exact, Seq("w"))
      .select(col("w").as("day"), col("n_zero"), col("s_scaled"),
        col("est_distinct"), col("exact_distinct"))
      .orderBy(col("day"))
  }

  // ---------------------------------------------------------------- q263
  /** Correlated (join-preserving) sampling audit: sample CUSTOMERS at
    * 10 % by `hashPermille(custkey) < 100` and sample ORDERS by the
    * SAME hash rule on o_custkey — because both sides keep exactly
    * the keys whose hash falls under the cut, the join of the samples
    * IS the sample of the join (published side by side per nation:
    * the two counts must agree row for row), and n/0.1 is the
    * Horvitz–Thompson estimate of the true per-nation order count
    * (published against the exact count). THE way to carve a
    * referentially-intact debug slice out of a 100 TB star schema:
    * two scan-stage pushed filters, no coordination, no shuffle
    * beyond the sampled join.
    */
  def q263CorrelatedSample(s: SparkSession, d: String): DataFrame = {
    val cs = customer(s, d)
      .filter(operators.Sampling.hashPermille(col("c_custkey")) < 100)
    val os = orders(s, d)
      .filter(operators.Sampling.hashPermille(col("o_custkey")) < 100)
    val joinOfSamples = os.join(cs, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("orders_join_samples"))
    val sampleOfJoin = orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .filter(operators.Sampling.hashPermille(col("c_custkey")) < 100)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("orders_sample_join"))
    val exact = orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey")).agg(count(lit(1)).as("orders_exact"))
    val custS = cs.groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust_sample"))
    exact
      .join(joinOfSamples, Seq("c_nationkey"), "left")
      .join(sampleOfJoin, Seq("c_nationkey"), "left")
      .join(custS, Seq("c_nationkey"), "left")
      .join(broadcast(nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        coalesce(col("n_cust_sample"), lit(0L)).as("n_cust_sample"),
        coalesce(col("orders_join_samples"), lit(0L))
          .as("orders_join_samples"),
        coalesce(col("orders_sample_join"), lit(0L))
          .as("orders_sample_join"),
        (coalesce(col("orders_join_samples"), lit(0L)) * 10)
          .as("est_orders"),
        col("orders_exact"))
      .orderBy(col("n_name"))
  }

  // ---------------------------------------------------------------- q275
  /** Temperature-based source reweighting at T = 2
    * ([[operators.Sampling.temperatureHalfWeights]]) — the
    * multilingual-pretraining mix rule (sample ∝ p^½) over the
    * documents corpus by character mass: rare sources up-sample,
    * dominant ones down-sample, the knob between q90's hard token
    * budget and raw-proportional sampling. One mass agg + two 1-row
    * broadcasts; √p_ppm is the only transcendental, once per source
    * on an exact integer.
    */
  def q275TemperatureMix(s: SparkSession, d: String): DataFrame =
    operators.Sampling.temperatureHalfWeights(
      documents(s, d).select(col("source"), col("n_chars")),
      "source", "n_chars")

  private[graft] def queriesStats: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q54_histogram" -> (q54Histogram _),
    "q70_stratified_sample" -> (q70StratifiedSample _),
    "q71_source_quota" -> (q71SourceQuota _),
    "q90_source_mix" -> (q90SourceMix _),
    "q105_kmv_sketch" -> (q105KmvSketch _),
    "q234_kmv_native_agg" -> (q234KmvNativeAgg _),
    "q236_table_profile" -> (q236TableProfile _),
    "q109_mad_outliers" -> (q109MadOutliers _),
    "q111_weighted_sample" -> (q111WeightedSample _),
    "q128_association_rules" -> (q128AssociationRules _),
    "q129_gini" -> (q129Gini _),
    "q133_psi_drift" -> (q133PsiDrift _),
    "q138_target_encode" -> (q138TargetEncode _),
    "q150_hll_sketch" -> (q150HllSketch _),
    "q151_woe_binning" -> (q151WoeBinning _),
    "q156_cms_sketch" -> (q156CmsSketch _),
    "q158_trimmed_mean" -> (q158TrimmedMean _),
    "q166_hist_quantiles" -> (q166HistQuantiles _),
    "q168_quantile_normalize" -> (q168QuantileNormalize _),
    "q171_power_law" -> (q171PowerLaw _),
    "q170_zipf_fit" -> (q170ZipfFit _),
    "q48_quantiles" -> (q48Quantiles _),
    "q183_moments" -> (q183Moments _),
    "q184_diversity" -> (q184Diversity _),
    "q185_partition_balance" -> (q185PartitionBalance _),
    "q186_silhouette" -> (q186Silhouette _),
    "q189_triple_itemsets" -> (q189TripleItemsets _),
    "q191_label_noise" -> (q191LabelNoise _),
    "q195_cluster_histogram" -> (q195ClusterHistogram _),
    "q224_centroid_drift" -> (q224CentroidDrift _),
    "q227_k_anonymity" -> (q227KAnonymity _),
    "q228_l_diversity" -> (q228LDiversity _),
    "q230_kmv_overlap" -> (q230KmvOverlap _),
    "q240_cms_join_size" -> (q240CmsJoinSize _),
    "q244_t_closeness" -> (q244TCloseness _),
    "q247_calibration" -> (q247Calibration _),
    "q248_sketch_rollup" -> (q248SketchRollup _),
    "q253_priority_estimate" -> (q253PriorityEstimate _),
    "q254_hist_rollup" -> (q254HistRollup _),
    "q259_sliding_hll" -> (q259SlidingHll _),
    "q263_correlated_sample" -> (q263CorrelatedSample _),
    "q275_temperature_mix" -> (q275TemperatureMix _))

  /** One q236 oracle block per profiled column: null count + KMV
    * bottom-64 rank replay over the same canonical rendering.
    */
  private def q236Block(name: String, canon: String): String =
    s"""SELECT '$name' AS column_name, n.n,
       |  (SELECT CAST(count(*) AS BIGINT) FROM orders
       |   WHERE ($canon) IS NULL) AS n_null,
       |  k.n_kept AS kmv_n_kept, k.kth_hash AS kmv_kth_hash,
       |  CASE WHEN k.n_kept < 64 THEN CAST(k.n_kept AS DOUBLE)
       |       ELSE CAST(63.0 AS DOUBLE) * CAST(281474976710656.0 AS DOUBLE)
       |         / CAST(k.kth_hash AS DOUBLE) END AS est_distinct
       |FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM orders) n,
       |  (SELECT CAST(count(*) AS BIGINT) AS n_kept, max(h) AS kth_hash
       |   FROM (SELECT h, row_number() OVER (ORDER BY h) AS rk
       |         FROM (SELECT DISTINCT
       |             CAST(('0x' || substr(md5($canon), 1, 12)) AS BIGINT) AS h
       |           FROM orders WHERE ($canon) IS NOT NULL))
       |   WHERE rk <= 64) k""".stripMargin

  private[graft] def oracleSqlStats: Map[String, String] = Map(
    "q275_temperature_mix" ->
      // √p_ppm rounded 6 dp per source, normalized by the exact
      // DECIMAL sum of the rounded terms — one float divide per row
      """WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(n_chars) AS BIGINT) AS mass
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(mass) AS BIGINT) AS t FROM per),
        |p AS (SELECT source, n_rows, mass,
        |    CAST((1000000 * CAST(mass AS HUGEINT)) // tot.t AS BIGINT)
        |      AS p_ppm FROM per, tot),
        |u AS (SELECT source, n_rows, mass, p_ppm,
        |    CAST(round(sqrt(CAST(p_ppm AS DOUBLE)), 6) AS DECIMAL(12,6))
        |      AS uu
        |  FROM p),
        |su AS (SELECT CAST(sum(uu) AS DECIMAL(38,6)) AS s FROM u)
        |SELECT source, n_rows, mass, p_ppm,
        |  round(CAST(uu AS DOUBLE) / CAST(su.s AS DOUBLE), 6) + 0.0
        |    AS weight_half
        |FROM u, su ORDER BY source""".stripMargin,
    "q263_correlated_sample" ->
      // the oracle computes the sampled-join count ONCE — relationally
      // "join of samples" and "sample of join" are the same expression,
      // which is exactly the identity the Spark side proves by
      // building them as two different plans
      """WITH h AS (SELECT c_custkey, c_nationkey,
        |    CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))
        |      AS BIGINT) % 1000 AS hp
        |  FROM customer),
        |j AS (SELECT o.o_orderkey, h.c_nationkey, h.hp
        |  FROM orders o JOIN h ON h.c_custkey = o.o_custkey),
        |ex AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS orders_exact
        |  FROM j GROUP BY 1),
        |sj AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n
        |  FROM j WHERE hp < 100 GROUP BY 1),
        |cs AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust_sample
        |  FROM h WHERE hp < 100 GROUP BY 1)
        |SELECT n.n_name,
        |  CAST(coalesce(cs.n_cust_sample, 0) AS BIGINT) AS n_cust_sample,
        |  CAST(coalesce(sj.n, 0) AS BIGINT) AS orders_join_samples,
        |  CAST(coalesce(sj.n, 0) AS BIGINT) AS orders_sample_join,
        |  CAST(coalesce(sj.n, 0) * 10 AS BIGINT) AS est_orders,
        |  ex.orders_exact
        |FROM ex JOIN nation n ON n.n_nationkey = ex.c_nationkey
        |LEFT JOIN sj ON sj.c_nationkey = ex.c_nationkey
        |LEFT JOIN cs ON cs.c_nationkey = ex.c_nationkey
        |ORDER BY n.n_name""".stripMargin,
    "q259_sliding_hll" ->
      // registers built DIRECTLY per trailing window from the raw
      // rows (the Spark side max-merges daily registers into the
      // overlapping windows) — hash equality proves sliding merge ≡
      // rebuild. Register/estimate replay identical to q248 (p=6)
      """WITH ev AS (SELECT
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000000
        |      AS day,
        |    CAST(user_id AS VARCHAR) AS u
        |  FROM events WHERE user_id IS NOT NULL),
        |obs AS (SELECT DISTINCT day AS w FROM ev),
        |h AS (SELECT o.w,
        |    CAST(('0x' || substr(md5(e.u), 1, 12)) AS BIGINT) AS h
        |  FROM ev e JOIN obs o ON o.w BETWEEN e.day AND e.day + 6),
        |rw AS (SELECT w, h % 64 AS bucket,
        |    CASE WHEN h // 64 = 0 THEN 43
        |         ELSE 43 - length(bin(h // 64)) END AS rho
        |  FROM h),
        |reg AS (SELECT w, bucket, max(rho) AS rho FROM rw GROUP BY 1, 2),
        |s AS (SELECT w, CAST(count(*) AS BIGINT) AS nb,
        |    CAST(sum(CAST(1 AS BIGINT) << CAST(49 - rho AS INT)) AS BIGINT)
        |      AS sp
        |  FROM reg GROUP BY 1),
        |e AS (SELECT w, CAST(64 - nb AS BIGINT) AS n_zero,
        |    sp + CAST(64 - nb AS BIGINT) * CAST(562949953421312 AS BIGINT)
        |      AS s_scaled FROM s),
        |est AS (SELECT w, n_zero, CAST(s_scaled AS BIGINT) AS s_scaled,
        |    CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
        |      * CAST(562949953421312 AS DOUBLE) / CAST(s_scaled AS DOUBLE)
        |      AS raw FROM e),
        |ex AS (SELECT o.w, CAST(count(DISTINCT e.u) AS BIGINT)
        |      AS exact_distinct
        |  FROM (SELECT DISTINCT day, u FROM ev) e
        |  JOIN obs o ON o.w BETWEEN e.day AND e.day + 6
        |  GROUP BY 1)
        |SELECT est.w AS day, CAST(est.n_zero AS BIGINT) AS n_zero,
        |  est.s_scaled,
        |  round(CASE WHEN est.raw <= 160.0 AND est.n_zero > 0
        |    THEN 64.0 * ln(64.0 / CAST(est.n_zero AS DOUBLE))
        |    ELSE est.raw END, 6) AS est_distinct,
        |  ex.exact_distinct
        |FROM est JOIN ex ON ex.w = est.w
        |ORDER BY day""".stripMargin,
    "q253_priority_estimate" ->
      // priorities replayed with the SAME operation order (w divided
      // by the (0,1) uniform, itself (h+1)/CAST(2^48+1 AS DOUBLE) —
      // bare float literals are DECIMAL in DuckDB and must be cast);
      // estimate terms rounded 6 dp, summed in DECIMAL
      """WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS w
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |pr AS (SELECT user_id, w,
        |    CAST(w AS DOUBLE)
        |      / (CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
        |            1, 12)) AS BIGINT) + 1 AS DOUBLE)
        |         / CAST(281474976710657 AS DOUBLE)) AS p
        |  FROM per),
        |rk AS (SELECT user_id, w, p,
        |    row_number() OVER (ORDER BY p DESC, user_id) AS rk FROM pr),
        |tau AS (SELECT coalesce(max(p), CAST(0 AS DOUBLE)) AS tau
        |        FROM rk WHERE rk = 65)
        |SELECT CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CASE WHEN rk <= 64 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_sampled,
        |  CAST(sum(w) AS BIGINT) AS exact_total,
        |  CAST(sum(CASE WHEN rk <= 64 THEN
        |      CAST(round(greatest(CAST(w AS DOUBLE), tau.tau), 6)
        |        AS DECIMAL(28,6)) END) AS DOUBLE) AS est_total
        |FROM rk, tau""".stripMargin,
    "q254_hist_rollup" ->
      // direct global binning of the raw rows — the Spark side goes
      // through per-flag sketches + rollup, so hash equality proves
      // merge ≡ rebuild; read-off identical to q166's integer walk
      """WITH c AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT) AS cents FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL),
        |h AS (SELECT cents // 100000 AS bin, CAST(count(*) AS BIGINT) AS cnt
        |      FROM c GROUP BY 1),
        |cum AS (SELECT bin, cnt,
        |    CAST(sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum,
        |    CAST(coalesce(sum(cnt) OVER (ORDER BY bin ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
        |  FROM h),
        |tot AS (SELECT max(cum) AS n_values FROM cum),
        |t AS (SELECT CAST(q AS BIGINT) AS q_ppm, tot.n_values,
        |    (tot.n_values * q + 999999) // 1000000 AS target_rank
        |  FROM tot CROSS JOIN (VALUES (250000), (750000), (990000)) v(q))
        |SELECT t.q_ppm, t.n_values, CAST(t.target_rank AS BIGINT)
        |    AS target_rank, cum.bin,
        |  CAST(cum.bin * 100000
        |    + ((t.target_rank - cum.prev) * 100000) // cum.cnt AS BIGINT)
        |    AS est
        |FROM t JOIN cum ON cum.cum >= t.target_rank
        |  AND cum.prev < t.target_rank
        |ORDER BY q_ppm""".stripMargin,
    "q244_t_closeness" ->
      // distributions compared over the common denominator n_c·N as
      // exact HUGEINT integers (Spark: DECIMAL(38,0)); the EMD prefix
      // sum runs over the dense class × domain grid; one final divide
      // of exact operands per class, 6 dp
      """WITH b AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS v FROM customer),
        |vals AS (SELECT v, CAST(count(*) AS BIGINT) AS g FROM b GROUP BY v),
        |tot AS (SELECT CAST(sum(g) AS BIGINT) AS nn,
        |    CAST(count(*) AS BIGINT) AS m FROM vals),
        |cls AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS n_rows FROM b GROUP BY 1, 2),
        |cv AS (SELECT c_nationkey, c_mktsegment, v,
        |    CAST(count(*) AS BIGINT) AS ncj FROM b GROUP BY 1, 2, 3),
        |grid AS (SELECT c.c_nationkey, c.c_mktsegment, c.n_rows, va.v,
        |    va.g, coalesce(x.ncj, 0) AS ncj
        |  FROM cls c CROSS JOIN vals va
        |  LEFT JOIN cv x ON x.c_nationkey IS NOT DISTINCT FROM c.c_nationkey
        |    AND x.c_mktsegment IS NOT DISTINCT FROM c.c_mktsegment
        |    AND x.v = va.v),
        |t AS (SELECT g2.c_nationkey, g2.c_mktsegment, g2.n_rows, g2.v,
        |    CAST(g2.ncj AS HUGEINT) * tot.nn
        |      - CAST(g2.g AS HUGEINT) * g2.n_rows AS d,
        |    tot.nn AS nn, tot.m AS m
        |  FROM grid g2, tot),
        |c2 AS (SELECT c_nationkey, c_mktsegment, n_rows, nn, m, d,
        |    sum(d) OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cd FROM t)
        |SELECT c_nationkey, c_mktsegment, n_rows,
        |  CASE WHEN m = 1 THEN CAST(0 AS DOUBLE)
        |    ELSE round(CAST(sum(abs(cd)) AS DOUBLE)
        |      / CAST(CAST(nn AS HUGEINT) * n_rows * (m - 1) AS DOUBLE), 6)
        |    END AS t_emd,
        |  round(CAST(sum(abs(d)) AS DOUBLE)
        |    / CAST(CAST(2 AS HUGEINT) * nn * n_rows AS DOUBLE), 6) AS t_tv
        |FROM c2 GROUP BY c_nationkey, c_mktsegment, n_rows, nn, m
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    "q247_calibration" ->
      // exact-ppm scores and all-integer bin stats; // on non-negative
      // operands == Spark's truncating div; Brier mass summed exactly.
      // brier_e12 stays BIGINT here (DuckDB DECIMAL(38,0) comes back
      // as float64 through pandas) while Spark publishes DECIMAL(38,0)
      // — int64 and Decimal render the same digit string to the hash
      """WITH per AS (SELECT user_id,
        |    CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
        |      AS n_click,
        |    CAST(count(*) AS BIGINT) AS n_tot,
        |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
        |sc AS (SELECT (n_click * 1000000) // n_tot AS s, y FROM per),
        |bi AS (SELECT least((s * 10) // 1000000, 9) AS bin, s, y FROM sc)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(y) AS BIGINT) AS n_pos,
        |  CAST(sum(s) // count(*) AS BIGINT) AS mean_pred_ppm,
        |  CAST((sum(y) * 1000000) // count(*) AS BIGINT) AS obs_rate_ppm,
        |  CAST(sum(s) // count(*) - (sum(y) * 1000000) // count(*)
        |    AS BIGINT) AS gap_ppm,
        |  CAST(sum((s - y * 1000000) * (s - y * 1000000)) AS BIGINT)
        |    AS brier_e12
        |FROM bi GROUP BY bin ORDER BY bin""".stripMargin,
    "q248_sketch_rollup" ->
      // the oracle builds registers DIRECTLY at each coarse grain from
      // the raw rows; the Spark side max-merges the daily registers up
      // — hash equality proves merge ≡ rebuild. Register/estimate
      // replay identical to q150 (p=6: m=64, rho base 43, alpha·m² =
      // 0.709·4096, linear-counting cut 2.5m = 160)
      """WITH ev AS (SELECT event_type,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) // 86400000000
        |      AS day,
        |    CAST(user_id AS VARCHAR) AS u
        |  FROM events WHERE user_id IS NOT NULL),
        |h AS (SELECT event_type, day // 7 AS week,
        |    CAST(('0x' || substr(md5(u), 1, 12)) AS BIGINT) AS h FROM ev),
        |rw AS (SELECT event_type, week, h % 64 AS bucket,
        |    CASE WHEN h // 64 = 0 THEN 43
        |         ELSE 43 - length(bin(h // 64)) END AS rho
        |  FROM h),
        |reg AS (SELECT event_type, week, bucket, max(rho) AS rho
        |    FROM rw GROUP BY 1, 2, 3
        |  UNION ALL
        |  SELECT event_type, CAST(-1 AS BIGINT), bucket, max(rho)
        |    FROM rw GROUP BY 1, bucket),
        |s AS (SELECT event_type, week, CAST(count(*) AS BIGINT) AS nb,
        |    CAST(sum(CAST(1 AS BIGINT) << CAST(49 - rho AS INT)) AS BIGINT)
        |      AS sp
        |  FROM reg GROUP BY 1, 2),
        |e AS (SELECT event_type, week, CAST(64 - nb AS BIGINT) AS n_zero,
        |    sp + CAST(64 - nb AS BIGINT) * CAST(562949953421312 AS BIGINT)
        |      AS s_scaled FROM s),
        |est AS (SELECT event_type, week, n_zero,
        |    CAST(s_scaled AS BIGINT) AS s_scaled,
        |    CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
        |      * CAST(562949953421312 AS DOUBLE) / CAST(s_scaled AS DOUBLE)
        |      AS raw FROM e)
        |SELECT event_type, week, CAST(n_zero AS BIGINT) AS n_zero, s_scaled,
        |  round(CASE WHEN raw <= 160.0 AND n_zero > 0
        |    THEN 64.0 * ln(64.0 / CAST(n_zero AS DOUBLE)) ELSE raw END, 6)
        |    AS est_distinct
        |FROM est ORDER BY event_type, week""".stripMargin,
    "q240_cms_join_size" ->
      // CMS cells replayed exactly as q156 (disjoint 8-hex md5 slices,
      // % 256); dot products per row, min over the 4 rows with empty
      // rows dotting to 0; exact join size = Σ_u n_click·n_view
      """WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS u, event_type
        |  FROM events WHERE user_id IS NOT NULL
        |    AND event_type IN ('click', 'view')),
        |ca AS (SELECT j AS row_idx,
        |    CAST(('0x' || substr(md5(u), 1 + 8 * CAST(j AS INT), 8))
        |      AS BIGINT) % 256 AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM ev CROSS JOIN range(4) t(j)
        |  WHERE event_type = 'click' GROUP BY 1, 2),
        |cb AS (SELECT j AS row_idx,
        |    CAST(('0x' || substr(md5(u), 1 + 8 * CAST(j AS INT), 8))
        |      AS BIGINT) % 256 AS bucket,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM ev CROSS JOIN range(4) t(j)
        |  WHERE event_type = 'view' GROUP BY 1, 2),
        |dots0 AS (SELECT ca.row_idx, sum(ca.cnt * cb.cnt) AS dot
        |  FROM ca JOIN cb ON ca.row_idx = cb.row_idx
        |    AND ca.bucket = cb.bucket GROUP BY 1),
        |dots AS (SELECT CAST(coalesce(d.dot, 0) AS BIGINT) AS dot
        |  FROM range(4) t(j) LEFT JOIN dots0 d ON d.row_idx = t.j),
        |ex AS (SELECT CAST(sum(nc * nv) AS BIGINT) AS exact_join_size
        |  FROM (SELECT u,
        |      count(*) FILTER (WHERE event_type = 'click') AS nc,
        |      count(*) FILTER (WHERE event_type = 'view') AS nv
        |    FROM ev GROUP BY u))
        |SELECT ex.exact_join_size, m.est_join_size,
        |  m.est_join_size - ex.exact_join_size AS overcount
        |FROM ex, (SELECT CAST(min(dot) AS BIGINT) AS est_join_size
        |          FROM dots) m""".stripMargin,
    "q236_table_profile" -> Seq(
      ("o_orderkey", "CAST(o_orderkey AS VARCHAR)"),
      ("o_custkey", "CAST(o_custkey AS VARCHAR)"),
      ("o_orderstatus", "o_orderstatus"),
      ("o_orderpriority", "o_orderpriority"),
      ("o_totalprice", "CAST(CAST(o_totalprice AS DECIMAL(18,6)) AS VARCHAR)"),
      ("o_orderdate", "CAST(CAST(epoch_us(o_orderdate) AS BIGINT) AS VARCHAR)"))
      .map((q236Block _).tupled)
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name"),
    "q48_quantiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        | round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
        | round(quantile_cont(l_extendedprice, 0.99), 6) AS p99,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q54_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
        | count(*) AS n,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q70_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000
        |      < CASE WHEN lang = 'en' THEN 300 ELSE 900 END
        |ORDER BY doc_id""".stripMargin,
    "q71_source_quota" ->
      """WITH r AS (SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS quota_rank
        | FROM documents)
        |SELECT doc_id, source, quota_rank FROM r WHERE quota_rank <= 8
        |ORDER BY doc_id""".stripMargin,
    "q90_source_mix" ->
      s"""WITH d AS (SELECT doc_id, source,
         |  CAST(len($SqlToks) AS BIGINT) AS n_tokens,
         |  md5(CAST(doc_id AS VARCHAR)) AS mix_hash
         | FROM documents WHERE source IN ('src0', 'src1', 'src2')),
         |p AS (SELECT doc_id, source, n_tokens,
         |  CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
         |    ORDER BY mix_hash, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |   AS tokens_before
         | FROM d)
         |SELECT doc_id, source, n_tokens, tokens_before FROM p
         |WHERE tokens_before < CASE source WHEN 'src0' THEN 800
         |  WHEN 'src1' THEN 800 ELSE 400 END
         |ORDER BY doc_id""".stripMargin,
    "q105_kmv_sketch" ->
      // (k-1)·2^48 is an exact double (mantissa k-1), so the estimate
      // is the same three FP ops on both engines. The literals MUST be
      // cast to DOUBLE: bare 63.0 * 281474976710656.0 is a DECIMAL(18)
      // multiply in DuckDB, which overflows at runtime the first time
      // a sketch actually fills (caught by q234, whose user counts
      // exceed k at sf0.01; this corpus' per-source vocab never has).
      s"""WITH v AS (SELECT DISTINCT source AS g, unnest($SqlToks) AS w
         |           FROM documents),
         |h AS (SELECT g, w,
         |        CAST(('0x' || substr(md5(w), 1, 12)) AS BIGINT) AS h FROM v),
         |r AS (SELECT g, h, w,
         |        row_number() OVER (PARTITION BY g ORDER BY h, w) AS rk
         |      FROM h),
         |topk AS (SELECT g, CAST(count(*) AS BIGINT) AS n_kept,
         |           max(h) AS kth_hash
         |         FROM r WHERE rk <= 64 GROUP BY g),
         |ex AS (SELECT g, CAST(count(*) AS BIGINT) AS exact_distinct
         |       FROM v GROUP BY g)
         |SELECT ex.g AS source, ex.exact_distinct, topk.n_kept, topk.kth_hash,
         |  CASE WHEN topk.n_kept < 64 THEN CAST(topk.n_kept AS DOUBLE)
         |       ELSE CAST(63.0 AS DOUBLE) * CAST(281474976710656.0 AS DOUBLE)
         |         / CAST(topk.kth_hash AS DOUBLE)
         |  END AS est_distinct
         |FROM ex JOIN topk ON topk.g = ex.g ORDER BY source""".stripMargin,
    "q234_kmv_native_agg" ->
      // the native kmv_lows aggregate keeps the k smallest DISTINCT
      // hashes — the oracle distincts h before ranking for the same
      // semantics; estimator discipline identical to q105
      """WITH v AS (SELECT DISTINCT event_type AS g,
        |    CAST(user_id AS VARCHAR) AS w
        |  FROM events WHERE user_id IS NOT NULL),
        |h AS (SELECT DISTINCT g,
        |    CAST(('0x' || substr(md5(w), 1, 12)) AS BIGINT) AS h FROM v),
        |r AS (SELECT g, h,
        |    row_number() OVER (PARTITION BY g ORDER BY h) AS rk FROM h),
        |topk AS (SELECT g, CAST(count(*) AS BIGINT) AS n_kept,
        |    max(h) AS kth_hash
        |  FROM r WHERE rk <= 64 GROUP BY g),
        |ex AS (SELECT g, CAST(count(*) AS BIGINT) AS exact_distinct
        |  FROM v GROUP BY g)
        |SELECT ex.g AS event_type, ex.exact_distinct, topk.n_kept,
        |  topk.kth_hash,
        |  CASE WHEN topk.n_kept < 64 THEN CAST(topk.n_kept AS DOUBLE)
        |       ELSE CAST(63.0 AS DOUBLE) * CAST(281474976710656.0 AS DOUBLE)
        |         / CAST(topk.kth_hash AS DOUBLE)
        |  END AS est_distinct
        |FROM ex JOIN topk ON topk.g = ex.g ORDER BY event_type""".stripMargin,
    "q109_mad_outliers" ->
      // med/mad are quantile_cont (bit-equal to exactQuantiles); the
      // 3·mad comparison uses the unrounded values on both engines.
      """WITH m AS (SELECT l_returnflag AS g,
        |  quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS med
        | FROM lineitem GROUP BY 1),
        |d AS (SELECT m.g, m.med,
        |  abs(CAST(l_extendedprice AS DOUBLE) - m.med) AS dev
        | FROM lineitem JOIN m ON m.g = l_returnflag),
        |md AS (SELECT g, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY g)
        |SELECT d.g AS l_returnflag, CAST(count(*) AS BIGINT) AS n,
        | round(min(d.med), 6) AS med, round(min(md.mad), 6) AS mad,
        | CAST(sum(CASE WHEN d.dev > 3.0 * md.mad THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_outliers
        |FROM d JOIN md ON md.g = d.g
        |GROUP BY d.g ORDER BY l_returnflag""".stripMargin,
    "q111_weighted_sample" ->
      // lkey = round(ln(u)/w, 6) with u from the id hash and w the
      // UNROUNDED clamped quality; the published weight rounds after.
      s"""WITH t AS (SELECT doc_id, text, $SqlToks AS toks FROM documents),
         |q AS (SELECT doc_id, greatest(
         |   least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.5
         |   + (1.0 - (CASE WHEN length(text) = 0 THEN 0.0
         |      ELSE CAST(length(text) - length(regexp_replace(text,
         |             '[.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE)
         |           / CAST(length(text) AS DOUBLE) END)) * 0.25
         |   + (CASE WHEN len(toks) = 0 THEN 0.0
         |      ELSE CAST(len(list_filter(toks, x -> x IN
         |             ('the','a','of','and','to','in','is','it','for','on'))) AS DOUBLE)
         |           / CAST(len(toks) AS DOUBLE) END) * 0.25, 0.05) AS w
         |  FROM t),
         |k AS (SELECT doc_id, w,
         |   round(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
         |               AS BIGINT) + 1) / 281474976710657.0) / w, 6) AS lkey
         |  FROM q),
         |r AS (SELECT doc_id, w, lkey,
         |        row_number() OVER (ORDER BY lkey DESC, doc_id) AS sel_rank
         |      FROM k)
         |SELECT doc_id, round(w, 6) AS weight, lkey,
         |  CAST(sel_rank AS BIGINT) AS sel_rank, sel_rank <= 100 AS selected
         |FROM r ORDER BY doc_id""".stripMargin,
    "q128_association_rules" ->
      // all metrics exact ppm integers (floor division) — no floats
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM li),
        |isup AS (SELECT pk, CAST(count(*) AS BIGINT) AS sup FROM li GROUP BY pk),
        |psup AS (SELECT a.pk AS pa, b.pk AS pb, CAST(count(*) AS BIGINT) AS n_both
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY a.pk, b.pk HAVING count(*) >= 2)
        |SELECT pa, pb, n_both, sa.sup AS sup_a, sb.sup AS sup_b,
        |  (1000000 * n_both) // sa.sup AS conf_ab_ppm,
        |  (1000000 * n_both) // sb.sup AS conf_ba_ppm,
        |  CAST((CAST(n.n_orders AS HUGEINT) * n_both * 1000000)
        |    // (CAST(sa.sup AS HUGEINT) * sb.sup) AS BIGINT) AS lift_ppm
        |FROM psup
        |JOIN isup sa ON sa.pk = pa
        |JOIN isup sb ON sb.pk = pb
        |CROSS JOIN n
        |ORDER BY lift_ppm DESC, pa, pb LIMIT 30""".stripMargin,
    "q129_gini" ->
      // every term integer; the one division is floor DIV — no floats
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x
        |           FROM events GROUP BY user_id),
        |r AS (SELECT x,
        |  CAST(row_number() OVER (ORDER BY x, user_id) AS BIGINT) AS i FROM c)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(x) AS BIGINT) AS n_events,
        |  CAST(((2 * sum(i * x) - (count(*) + 1) * sum(x)) * 1000000)
        |    // (count(*) * sum(x)) AS BIGINT) AS gini_ppm
        |FROM r""".stripMargin,
    "q133_psi_drift" ->
      // edges = round(quantile, 6) on BOTH engines → identical bin
      // boundaries; smoothed proportions; ln rounded per term
      """WITH ev AS (SELECT
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us, value
        | FROM events),
        |t0 AS (SELECT min(us) AS t0 FROM ev),
        |tagged AS (SELECT
        |  CASE WHEN us < t0 + 604800000000 THEN 'A' ELSE 'B' END AS period,
        |  value FROM ev CROSS JOIN t0),
        |ed AS (SELECT list_transform(
        |    quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
        |    x -> round(x, 6)) AS edges
        |  FROM tagged WHERE period = 'A'),
        |binned AS (SELECT period,
        |  CAST(len(list_filter(edges, e -> value > e)) AS BIGINT) AS bin
        | FROM tagged CROSS JOIN ed),
        |counts AS (SELECT period, bin, CAST(count(*) AS BIGINT) AS n
        |           FROM binned GROUP BY period, bin),
        |bins AS (SELECT unnest(generate_series(0, 9)) AS bin),
        |j AS (SELECT b.bin, coalesce(a.n, CAST(0 AS BIGINT)) AS n_a,
        |        coalesce(bb.n, CAST(0 AS BIGINT)) AS n_b
        |      FROM bins b
        |      LEFT JOIN counts a ON a.period = 'A' AND a.bin = b.bin
        |      LEFT JOIN counts bb ON bb.period = 'B' AND bb.bin = b.bin),
        |tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
        |        CAST(sum(n_b) AS BIGINT) AS tb FROM j),
        |terms AS (SELECT bin, n_a, n_b,
        |  CAST(n_a + 1 AS DOUBLE) / CAST(ta + 10 AS DOUBLE) AS pa,
        |  CAST(n_b + 1 AS DOUBLE) / CAST(tb + 10 AS DOUBLE) AS pb
        | FROM j CROSS JOIN tot),
        |t2 AS (SELECT bin, n_a, n_b,
        |  round((pb - pa) * round(ln(pb / pa), 6), 6) AS psi_term FROM terms),
        |tt AS (SELECT CAST(sum(CAST(psi_term AS DECIMAL(18,6))) AS DOUBLE) + 0.0
        |         AS psi_total FROM t2)
        |SELECT bin, n_a, n_b, psi_term, psi_total FROM t2 CROSS JOIN tt
        |ORDER BY bin""".stripMargin,
    "q138_target_encode" ->
      // floor divisions of cross-multiplied integer sums — DuckDB's
      // HUGEINT sum() keeps every product exact, mirroring the Spark
      // DECIMAL(38,0) div
      """WITH o AS (SELECT o_orderkey, c_nationkey AS nation,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS x_cents
        | FROM orders JOIN customer ON o_custkey = c_custkey),
        |g AS (SELECT nation, CAST(count(*) AS BIGINT) AS n_g,
        |        sum(x_cents) AS s_g FROM o GROUP BY nation),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
        |        sum(x_cents) AS s_all FROM o)
        |SELECT o.o_orderkey, o.nation, o.x_cents,
        |  CAST(CASE WHEN g.n_g > 1
        |    THEN (g.s_g - o.x_cents) // (g.n_g - 1) END AS BIGINT) AS loo_cents,
        |  CAST((t.n_all * (g.s_g - o.x_cents) + 10 * t.s_all)
        |    // (t.n_all * (g.n_g - 1 + 10)) AS BIGINT) AS loo_smooth_cents
        |FROM o JOIN g USING (nation) CROSS JOIN t
        |ORDER BY o.o_orderkey""".stripMargin,
    "q150_hll_sketch" ->
      // registers replayed bit-for-bit on the md5-48 line; the harmonic
      // sum is the exact integer sum of 2^(49-rho); constants fold
      // left-assoc identically in both engines
      s"""WITH v AS (SELECT source AS g, unnest($SqlToks) AS w FROM documents),
         |h AS (SELECT g, w,
         |        CAST(('0x' || substr(md5(w), 1, 12)) AS BIGINT) AS h FROM v),
         |r AS (SELECT g, h % 64 AS bucket,
         |    CASE WHEN h // 64 = 0 THEN 43
         |         ELSE 43 - length(bin(h // 64)) END AS rho
         |  FROM h),
         |reg AS (SELECT g, bucket, max(rho) AS rho FROM r GROUP BY g, bucket),
         |s AS (SELECT g, CAST(count(*) AS BIGINT) AS nb,
         |    CAST(sum(CAST(1 AS BIGINT) << CAST(49 - rho AS INT)) AS BIGINT)
         |      AS sp
         |  FROM reg GROUP BY g),
         |e AS (SELECT g, CAST(64 - nb AS BIGINT) AS n_zero,
         |    sp + CAST(64 - nb AS BIGINT) * CAST(562949953421312 AS BIGINT)
         |      AS s_scaled FROM s),
         |est AS (SELECT g, n_zero, CAST(s_scaled AS BIGINT) AS s_scaled,
         |    CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE)
         |      * CAST(562949953421312 AS DOUBLE) / CAST(s_scaled AS DOUBLE)
         |      AS raw FROM e),
         |ex AS (SELECT g, CAST(count(DISTINCT w) AS BIGINT) AS exact_distinct
         |       FROM v GROUP BY g)
         |SELECT est.g AS source, CAST(n_zero AS BIGINT) AS n_zero, s_scaled,
         |  round(CASE WHEN raw <= 160.0 AND n_zero > 0
         |    THEN 64.0 * ln(64.0 / CAST(n_zero AS DOUBLE)) ELSE raw END, 6)
         |    AS est_distinct,
         |  ex.exact_distinct
         |FROM est JOIN ex ON ex.g = est.g ORDER BY source""".stripMargin,
    "q151_woe_binning" ->
      // bin membership is integer rank arithmetic under the same total
      // order — no quantile interpolation crosses engines
      """WITH rk AS (SELECT l_extendedprice AS v, l_returnflag = 'R' AS bad,
        |    row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
        |      l_linenumber, l_partkey, l_suppkey) AS rn,
        |    count(*) OVER () AS n
        |  FROM lineitem),
        |b AS (SELECT CAST((rn - 1) * 10 // n AS BIGINT) AS bin, v, bad FROM rk),
        |agg AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
        |    min(v) AS lo, max(v) AS hi
        |  FROM b GROUP BY bin),
        |tot AS (SELECT CAST(sum(n_bad) AS BIGINT) AS tb,
        |    CAST(sum(n_rows - n_bad) AS BIGINT) AS tg FROM agg),
        |sc AS (SELECT bin, n_rows, n_bad, n_rows - n_bad AS n_good, lo, hi,
        |    (CAST(n_rows - n_bad AS DOUBLE) + 0.5) / CAST(tg AS DOUBLE) AS pg,
        |    (CAST(n_bad AS DOUBLE) + 0.5) / CAST(tb AS DOUBLE) AS pb
        |  FROM agg CROSS JOIN tot)
        |SELECT bin, n_rows, n_bad, n_good, lo, hi,
        |  round(ln(pg / pb), 6) AS woe,
        |  round((pg - pb) * round(ln(pg / pb), 6), 6) AS iv
        |FROM sc ORDER BY bin""".stripMargin,
    "q156_cms_sketch" ->
      // integer end to end: the depth row-hashes are disjoint 8-hex
      // (32-bit) slices of ONE md5 per value; point query = min over
      // depth rows; probes = top-25 exact frequencies
      s"""WITH toks AS (SELECT unnest($SqlToks) AS tok FROM documents),
         |exact AS (SELECT tok, CAST(count(*) AS BIGINT) AS exact_cnt
         |          FROM toks GROUP BY tok),
         |probes AS (SELECT tok, exact_cnt FROM exact
         |           ORDER BY exact_cnt DESC, tok LIMIT 25),
         |cells AS (SELECT j AS row_idx,
         |    CAST(('0x' || substr(md5(tok), 1 + 8 * CAST(j AS INT), 8))
         |      AS BIGINT) % 256 AS bucket,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM toks CROSS JOIN range(4) t(j) GROUP BY 1, 2),
         |pq AS (SELECT p.tok, p.exact_cnt,
         |    CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_est
         |  FROM probes p CROSS JOIN range(4) t(j)
         |  LEFT JOIN cells c ON c.row_idx = t.j AND c.bucket =
         |    CAST(('0x' || substr(md5(p.tok), 1 + 8 * CAST(t.j AS INT), 8))
         |      AS BIGINT) % 256
         |  GROUP BY p.tok, p.exact_cnt)
         |SELECT tok, exact_cnt, cms_est, cms_est - exact_cnt AS overcount
         |FROM pq ORDER BY tok""".stripMargin,
    "q158_trimmed_mean" ->
      // rank cutoffs are exact ppm integer arithmetic; core sum in
      // DECIMAL; one float division per group
      """WITH rk AS (SELECT l_returnflag AS g, l_extendedprice AS v,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber,
        |        l_partkey, l_suppkey) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |c AS (SELECT g, v, rn, n, n * 50000 // 1000000 AS cut FROM rk),
        |f AS (SELECT * FROM c WHERE rn > cut AND rn <= n - cut)
        |SELECT g AS l_returnflag, CAST(min(n) AS BIGINT) AS n_values,
        |  CAST(min(cut) AS BIGINT) AS n_trimmed_each,
        |  round(CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS trimmed_mean
        |FROM f GROUP BY g ORDER BY l_returnflag""".stripMargin,
    "q166_hist_quantiles" ->
      // integer end to end: exact cents, ceil-rank targets in ppm,
      // cumulative bin walk, integer within-bin interpolation
      """WITH c AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT) AS cents FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL),
        |h AS (SELECT cents // 100000 AS bin, CAST(count(*) AS BIGINT) AS cnt
        |      FROM c GROUP BY 1),
        |cum AS (SELECT bin, cnt,
        |    CAST(sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum,
        |    CAST(coalesce(sum(cnt) OVER (ORDER BY bin ROWS BETWEEN
        |      UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
        |  FROM h),
        |tot AS (SELECT max(cum) AS n_values FROM cum),
        |t AS (SELECT CAST(q AS BIGINT) AS q_ppm, tot.n_values,
        |    (tot.n_values * q + 999999) // 1000000 AS target_rank
        |  FROM tot CROSS JOIN (VALUES (500000), (900000), (990000)) v(q))
        |SELECT t.q_ppm, t.n_values, CAST(t.target_rank AS BIGINT)
        |    AS target_rank, cum.bin,
        |  CAST(cum.bin * 100000
        |    + ((t.target_rank - cum.prev) * 100000) // cum.cnt AS BIGINT)
        |    AS est
        |FROM t JOIN cum ON cum.cum >= t.target_rank
        |  AND cum.prev < t.target_rank
        |ORDER BY q_ppm""".stripMargin,
    "q168_quantile_normalize" ->
      // pure integer rank mapping: r -> ref value at ceil(r*n_ref/n)
      """WITH a AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    l_extendedprice,
        |    row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
        |      l_linenumber, l_partkey, l_suppkey) AS ra
        |  FROM lineitem WHERE l_returnflag = 'R'),
        |b AS (SELECT l_extendedprice AS vref,
        |    row_number() OVER (ORDER BY l_extendedprice) AS rb
        |  FROM lineitem WHERE l_returnflag = 'N'),
        |na AS (SELECT count(*) AS n FROM a),
        |nb AS (SELECT count(*) AS n FROM b)
        |SELECT a.l_orderkey, a.l_linenumber, a.l_partkey, a.l_suppkey,
        |  a.l_extendedprice, b.vref AS v_norm
        |FROM a CROSS JOIN na CROSS JOIN nb
        |JOIN b ON b.rb = (a.ra * nb.n + na.n - 1) // na.n
        |ORDER BY a.l_orderkey, a.l_linenumber, a.l_partkey,
        |  a.l_suppkey""".stripMargin,
    "q170_zipf_fit" ->
      // 6dp-rounded lns in DECIMAL (order-independent sums), OLS
      // closed form with the same cast ladder as the Spark side
      s"""WITH tok AS (SELECT lang, unnest($SqlToks) AS tok FROM documents),
         |cnt AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS freq
         |        FROM tok GROUP BY lang, tok),
         |rk AS (SELECT lang, freq, row_number() OVER (PARTITION BY lang
         |      ORDER BY freq DESC, tok) AS rk FROM cnt),
         |t AS (SELECT lang,
         |    CAST(round(ln(CAST(rk AS DOUBLE)), 6) AS DECIMAL(8,6)) AS x,
         |    CAST(round(ln(CAST(freq AS DOUBLE)), 6) AS DECIMAL(8,6)) AS y
         |  FROM rk WHERE rk <= 100),
         |m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_terms,
         |    CAST(sum(x) AS DECIMAL(12,6)) AS sx,
         |    CAST(sum(y) AS DECIMAL(12,6)) AS sy,
         |    CAST(sum(x * y) AS DECIMAL(20,12)) AS sxy,
         |    CAST(sum(x * x) AS DECIMAL(20,12)) AS sxx
         |  FROM t GROUP BY lang)
         |SELECT lang, n_terms,
         |  round(CAST(CAST(n_terms AS DECIMAL(3,0)) * sxy - sx * sy
         |      AS DOUBLE)
         |    / CAST(CAST(n_terms AS DECIMAL(3,0)) * sxx - sx * sx
         |      AS DOUBLE), 6) + 0.0 AS zipf_slope
         |FROM m ORDER BY lang""".stripMargin,
    "q171_power_law" ->
      // Newman MLE over the degree tail; 6dp DECIMAL ln sums
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem),
        |sup AS (SELECT a.pk AS pa, b.pk AS pb
        |        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |        GROUP BY a.pk, b.pk),
        |e AS (SELECT CAST(pa AS BIGINT) AS u, CAST(pb AS BIGINT) AS v
        |      FROM sup
        |      UNION SELECT CAST(pb AS BIGINT), CAST(pa AS BIGINT) FROM sup),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY u),
        |tail AS (SELECT d FROM deg WHERE d >= 10)
        |SELECT CAST(count(*) AS BIGINT) AS n_tail, CAST(10 AS BIGINT) AS dmin,
        |  round(CAST(1 AS DOUBLE) + CAST(count(*) AS DOUBLE)
        |    / CAST(sum(CAST(round(ln(CAST(d AS DOUBLE)
        |        / CAST(9.5 AS DOUBLE)), 6) AS DECIMAL(18,6))) AS DOUBLE), 6)
        |    AS alpha
        |FROM tail""".stripMargin,
    "q183_moments" ->
      // exact integer power sums S1..S4 (DECIMAL sized under both
      // engines' 38-digit multiply cap), closed forms in DOUBLE with
      // the identical expression tree; m2*sqrt(m2) instead of
      // pow(m2,1.5) (sqrt is correctly-rounded, pow is libm-dependent)
      """WITH ev AS (SELECT event_type AS g,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c FROM events),
        |cc AS (SELECT g, c, CAST(CAST(c AS DECIMAL(10,0)) *
        |    CAST(c AS DECIMAL(10,0)) AS DECIMAL(19,0)) AS c2
        |  FROM ev),
        |s AS (SELECT g, count(*) AS n,
        |  CAST(sum(CAST(c AS DECIMAL(10,0))) AS DECIMAL(16,0)) AS s1,
        |  CAST(sum(c2) AS DECIMAL(22,0)) AS s2,
        |  CAST(sum(CAST(c2 * CAST(c AS DECIMAL(10,0)) AS DECIMAL(29,0)))
        |    AS DECIMAL(28,0)) AS s3,
        |  CAST(sum(c2 * c2) AS DECIMAL(34,0)) AS s4
        | FROM cc GROUP BY g),
        |m AS (SELECT g, n, s1, s2, s3, s4,
        |  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu FROM s),
        |mm AS (SELECT g, n, mu,
        |  CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - mu * mu AS m2,
        |  CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) -
        |    CAST(3 AS DOUBLE) * mu * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) +
        |    CAST(2 AS DOUBLE) * mu * mu * mu AS m3,
        |  CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) -
        |    CAST(4 AS DOUBLE) * mu * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)) +
        |    CAST(6 AS DOUBLE) * mu * mu *
        |      (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) -
        |    CAST(3 AS DOUBLE) * mu * mu * mu * mu AS m4
        | FROM m)
        |SELECT g AS event_type, n, round(mu, 6) AS mean, round(m2, 6) AS m2,
        | CASE WHEN m2 <= CAST(0 AS DOUBLE) THEN NULL
        |   ELSE round(m3 / (m2 * sqrt(m2)), 6) + CAST(0 AS DOUBLE)
        |   END AS skewness,
        | CASE WHEN m2 <= CAST(0 AS DOUBLE) THEN NULL
        |   ELSE round(m4 / (m2 * m2) - CAST(3 AS DOUBLE), 6) + CAST(0 AS DOUBLE)
        |   END AS kurtosis_excess
        |FROM mm ORDER BY event_type""".stripMargin,
    "q184_diversity" ->
      """WITH cells AS (SELECT source, lang, count(*) AS nl
        |  FROM documents GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(nl) AS BIGINT) AS n,
        |  count(*) AS k, CAST(sum(nl * nl) AS BIGINT) AS sl2
        | FROM cells GROUP BY source),
        |terms AS (SELECT c.source, t.n AS n_docs, t.k AS n_langs, t.sl2,
        |  CAST(round(-(CAST(nl AS DOUBLE) / CAST(n AS DOUBLE)) *
        |    ln(CAST(nl AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |    AS DECIMAL(10,6)) AS term
        | FROM cells c JOIN tot t ON t.source = c.source)
        |SELECT source, n_docs, n_langs,
        | CAST(CAST(sum(term) AS DECIMAL(18,6)) AS DOUBLE) AS shannon,
        | 1000000 - (sl2 * 1000000) // (n_docs * n_docs) AS simpson_ppm
        |FROM terms GROUP BY source, n_docs, n_langs, sl2
        |ORDER BY source""".stripMargin,
    "q185_partition_balance" ->
      """WITH b AS (SELECT
        |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |    % 32 AS bucket, count(*) AS n_rows
        | FROM documents GROUP BY 1)
        |SELECT CAST(sum(n_rows) AS BIGINT) AS n,
        | count(*) AS n_buckets,
        | CAST(min(n_rows) AS BIGINT) AS min_rows,
        | CAST(max(n_rows) AS BIGINT) AS max_rows,
        | CAST(max(n_rows) * count(*) * 1000000 AS BIGINT)
        |   // CAST(sum(n_rows) AS BIGINT) AS max_over_avg_ppm
        |FROM b""".stripMargin,
    "q186_silhouette" ->
      // centroid-based silhouette: 6dp-quantized components, DECIMAL
      // centroids and squared distances; sqrt/ratio float, 6dp
      """WITH ex AS (SELECT vec_id AS vid, label AS own,
        |  generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS dim,
        |  CAST(unnest(CAST(embedding AS DOUBLE[])) AS DECIMAL(12,6)) AS xd
        | FROM embeddings),
        |cent AS (SELECT own AS clabel, dim, count(*) AS nc,
        |  CAST(sum(xd) AS DECIMAL(30,6)) AS sx
        | FROM ex GROUP BY 1, 2),
        |c2 AS (SELECT clabel, dim,
        |  CAST(round(CAST(sx AS DOUBLE) / CAST(nc AS DOUBLE), 6)
        |    AS DECIMAL(12,6)) AS c
        | FROM cent),
        |dd AS (SELECT e.vid, e.own, c2.clabel,
        |  CAST(sum(CAST((e.xd - c2.c) * (e.xd - c2.c) AS DECIMAL(27,12)))
        |    AS DECIMAL(32,12)) AS d2
        | FROM ex e JOIN c2 ON c2.dim = e.dim GROUP BY 1, 2, 3),
        |ab AS (SELECT vid, own,
        |  max(CASE WHEN clabel = own THEN d2 END) AS a2,
        |  min(CASE WHEN clabel <> own THEN d2 END) AS b2
        | FROM dd GROUP BY 1, 2),
        |sil AS (SELECT vid, own,
        |  CASE WHEN b2 IS NULL THEN NULL
        |    WHEN greatest(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE)))
        |      = CAST(0 AS DOUBLE) THEN CAST(0 AS DECIMAL(10,6))
        |    ELSE CAST(round((sqrt(CAST(b2 AS DOUBLE)) - sqrt(CAST(a2 AS DOUBLE)))
        |      / greatest(sqrt(CAST(a2 AS DOUBLE)), sqrt(CAST(b2 AS DOUBLE))), 6)
        |      AS DECIMAL(10,6)) END AS s
        | FROM ab)
        |SELECT own AS label, count(s) AS n_vecs,
        | round(CAST(CAST(sum(s) AS DECIMAL(18,6)) AS DOUBLE)
        |   / CAST(count(s) AS DOUBLE), 6) + CAST(0 AS DOUBLE)
        |   AS mean_silhouette
        |FROM sil GROUP BY own ORDER BY label""".stripMargin,
    "q189_triple_itemsets" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |fp AS (SELECT a.pk AS pa, b.pk AS pb FROM li a
        |  JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |po AS (SELECT a.ok, a.pk AS pa, b.pk AS pb FROM li a
        |  JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  JOIN fp ON fp.pa = a.pk AND fp.pb = b.pk),
        |tr AS (SELECT po.pa, po.pb, c.pk AS pc, count(*) AS support
        |  FROM po JOIN li c ON c.ok = po.ok AND c.pk > po.pb
        |  GROUP BY 1, 2, 3 HAVING count(*) >= 2)
        |SELECT pa, pb, pc, support FROM tr
        |ORDER BY support DESC, pa, pb, pc LIMIT 20""".stripMargin,
    "q191_label_noise" ->
      s"""WITH q AS (SELECT vec_id AS query_id, label AS own_label,
         |  CAST(embedding AS DOUBLE[]) AS qv
         | FROM embeddings WHERE vec_id < 200),
         |c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS cv
         |  FROM embeddings WHERE vec_id >= 200),
         |scored AS (SELECT query_id, vec_id, label AS nl,
         |  ${sqlCosine("qv", "cv")} AS sim FROM q, c),
         |nn AS (SELECT query_id, nl FROM (SELECT query_id, nl,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, vec_id) AS rk FROM scored) WHERE rk <= 5),
         |votes AS (SELECT query_id, nl, count(*) AS c
         |  FROM nn GROUP BY 1, 2),
         |maj AS (SELECT query_id, nl AS majority_label, c AS n_votes
         |  FROM (SELECT query_id, nl, c, row_number() OVER
         |    (PARTITION BY query_id ORDER BY c DESC, nl) AS rk FROM votes)
         |  WHERE rk = 1)
         |SELECT q.query_id, q.own_label, m.majority_label,
         | CAST(m.n_votes AS BIGINT) AS n_votes,
         | q.own_label <> m.majority_label AS mismatch
         |FROM q JOIN maj m ON m.query_id = q.query_id
         |ORDER BY q.query_id""".stripMargin,
    "q195_cluster_histogram" ->
      s"""WITH RECURSIVE $SqlCorpus,
         |$SqlShingles3,
         |n AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
         |com AS (SELECT x.doc_id AS id1, y.doc_id AS id2, count(*) AS common
         | FROM s x JOIN s y ON x.sh = y.sh AND x.doc_id < y.doc_id GROUP BY 1, 2),
         |pair AS (SELECT com.id1, com.id2 FROM com
         | JOIN n n1 ON n1.doc_id = com.id1 JOIN n n2 ON n2.doc_id = com.id2
         | WHERE CAST(com.common AS DOUBLE)
         |   / CAST(n1.n + n2.n - com.common AS DOUBLE) >= 0.6),
         |edge AS (SELECT id1 AS a, id2 AS b FROM pair
         | UNION SELECT id2 AS a, id1 AS b FROM pair),
         |reach(src, dst) AS (
         | SELECT a, a FROM edge
         | UNION
         | SELECT r.src, e.b FROM reach r JOIN edge e ON e.a = r.dst),
         |lab AS (SELECT src AS id, min(dst) AS cluster FROM reach GROUP BY src),
         |cl AS (SELECT cluster, count(*) AS sz FROM lab GROUP BY 1)
         |SELECT CAST(sz AS BIGINT) AS cluster_size, count(*) AS n_clusters,
         | CAST(sum(sz) AS BIGINT) AS n_docs
         |FROM cl GROUP BY sz ORDER BY cluster_size""".stripMargin,
    "q224_centroid_drift" ->
      // q99's DECIMAL(18,10) quantization; n cancels out of the
      // centroid cosine, so only exact component sums are needed
      s"""WITH ex AS (
         |  SELECT label AS g, generate_subscripts(embedding, 1) - 1 AS i,
         |         CAST(unnest(CAST(embedding AS DOUBLE[])) AS DECIMAL(18,10)) AS x
         |  FROM embeddings),
         |s AS (SELECT g, i, CAST(sum(x) AS DECIMAL(18,10)) AS sx
         |      FROM ex GROUP BY g, i),
         |nrm AS (SELECT g, CAST(sum(sx * sx) AS DECIMAL(38,20)) AS nrm
         |      FROM s GROUP BY g),
         |dots AS (SELECT a.g AS ga, b.g AS gb,
         |    CAST(sum(a.sx * b.sx) AS DECIMAL(38,20)) AS dot
         |  FROM s a JOIN s b ON a.i = b.i AND a.g < b.g GROUP BY 1, 2)
         |SELECT d.ga AS label_a, d.gb AS label_b,
         | round(CAST(d.dot AS DOUBLE) /
         |   sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)), 6)
         |   AS centroid_cosine
         |FROM dots d JOIN nrm na ON na.g = d.ga JOIN nrm nb ON nb.g = d.gb
         |ORDER BY label_a, label_b""".stripMargin,
    "q227_k_anonymity" ->
      // DuckDB sums BIGINT into HUGEINT — cast the published counts
      """WITH cls AS (SELECT c_nationkey, c_mktsegment,
        |   CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_k,
        |   count(*) AS sz
        | FROM customer GROUP BY 1, 2, 3)
        |SELECT sz AS class_size, CAST(count(*) AS BIGINT) AS n_classes,
        | CAST(sum(sz) AS BIGINT) AS n_rows
        |FROM cls GROUP BY sz ORDER BY class_size""".stripMargin,
    "q228_l_diversity" ->
      """WITH cls AS (SELECT c_nationkey,
        |   CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_k,
        |   count(DISTINCT c_mktsegment) AS ldiv
        | FROM customer GROUP BY 1, 2)
        |SELECT ldiv AS l_diversity, CAST(count(*) AS BIGINT) AS n_classes
        |FROM cls GROUP BY 1 ORDER BY l_diversity""".stripMargin,
    "q230_kmv_overlap" ->
      // same md5-48-bit line and (k-1)*2^48 exact-double estimate as
      // q105; jaccard rounded 6dp BEFORE the intersection product so
      // both engines multiply identical values
      """WITH cu AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS u
        |  FROM events WHERE event_type = 'click'),
        |vu AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS u
        |  FROM events WHERE event_type = 'view'),
        |ca AS (SELECT u, h FROM (
        |  SELECT u, h, row_number() OVER (ORDER BY h, u) AS rk FROM (
        |    SELECT u, CAST(('0x' || substr(md5(u), 1, 12)) AS BIGINT) AS h
        |    FROM cu)) WHERE rk <= 128),
        |cb AS (SELECT u, h FROM (
        |  SELECT u, h, row_number() OVER (ORDER BY h, u) AS rk FROM (
        |    SELECT u, CAST(('0x' || substr(md5(u), 1, 12)) AS BIGINT) AS h
        |    FROM vu)) WHERE rk <= 128),
        |m AS (SELECT u, h FROM (
        |  SELECT u, h, row_number() OVER (ORDER BY h, u) AS rk FROM (
        |    SELECT DISTINCT u, h FROM (
        |      SELECT * FROM ca UNION ALL SELECT * FROM cb)))
        |  WHERE rk <= 128),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_kept, max(m.h) AS kth,
        |   CAST(sum(CASE WHEN ca.u IS NOT NULL AND cb.u IS NOT NULL
        |     THEN 1 ELSE 0 END) AS BIGINT) AS n_both
        | FROM m LEFT JOIN ca ON ca.u = m.u LEFT JOIN cb ON cb.u = m.u),
        |est AS (SELECT n_kept, n_both,
        |   CASE WHEN n_kept < 128 THEN CAST(n_kept AS DOUBLE)
        |     ELSE CAST(127.0 AS DOUBLE) * CAST(281474976710656.0 AS DOUBLE)
        |       / CAST(kth AS DOUBLE)
        |   END AS est_union,
        |   round(CAST(n_both AS DOUBLE) / CAST(n_kept AS DOUBLE), 6)
        |     AS jaccard_est
        | FROM agg)
        |SELECT 'users' AS g, n_kept, n_both, est_union, jaccard_est,
        | round(jaccard_est * est_union, 6) AS est_intersection
        |FROM est ORDER BY g""".stripMargin)
}
