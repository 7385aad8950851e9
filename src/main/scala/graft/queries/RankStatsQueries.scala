package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Merge, Ordinals}
import graft.operators.Merge.{DuplicateMode, ImportMode, Key}

/** Hypothesis-test / correlation / exact-selection queries — the
  * chi-square/KS/Mann-Whitney/Spearman screens, the nonparametric
  * rank-test quartet, Kendall tau-b, Theil-Sen, CUPED, and the
  * sort-free selection drills. Split out of [[StatsQueries]] in round
  * 12; self-typed to [[SparkEntry]] (see [[StatsQueries]]).
  * Contributes [[queriesStatsRank]] / [[oracleSqlStatsRank]].
  */
private[graft] trait RankStatsQueries { this: SparkEntry.type =>

  import Tables._

  // ---------------------------------------------------------------- q130
  /** A/B experiment readout: users hash-assigned to two arms (q58's
    * md5 discipline — content-keyed, reproducible on any engine), then
    * per-arm mean/variance of event value and the Welch t statistic.
    * Sums and sums-of-squares accumulate in DECIMAL (exact, order-
    * independent); each published double is one fixed expression tree
    * over those exact sums, rounded at 6dp — the q63 correlation
    * discipline applied to experiment analysis.
    */
  def q130AbTest(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("value"))
      .withColumn("arm",
        when(conv(substring(md5(col("user_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 2 === 0, lit("A")).otherwise(lit("B")))
      .withColumn("v", col("value").cast("decimal(18,2)"))
    val arms = ev.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum(col("v") * col("v")).as("ss"))
    val a = arms.filter(col("arm") === "A")
      .select(col("n").as("n_a"), col("s").as("s_a"), col("ss").as("ss_a"))
    val b = arms.filter(col("arm") === "B")
      .select(col("n").as("n_b"), col("s").as("s_b"), col("ss").as("ss_b"))
    a.crossJoin(broadcast(b))
      .withColumn("mean_a", col("s_a").cast("double") / col("n_a").cast("double"))
      .withColumn("mean_b", col("s_b").cast("double") / col("n_b").cast("double"))
      .withColumn("var_a",
        (col("ss_a").cast("double") -
          col("s_a").cast("double") * col("s_a").cast("double") /
            col("n_a").cast("double")) / (col("n_a").cast("double") - 1.0))
      .withColumn("var_b",
        (col("ss_b").cast("double") -
          col("s_b").cast("double") * col("s_b").cast("double") /
            col("n_b").cast("double")) / (col("n_b").cast("double") - 1.0))
      .select(col("n_a"), col("n_b"),
        round(col("mean_a"), 6).as("mean_a"),
        round(col("mean_b"), 6).as("mean_b"),
        round(col("var_a"), 6).as("var_a"),
        round(col("var_b"), 6).as("var_b"),
        round((col("mean_a") - col("mean_b")) /
          sqrt(col("var_a") / col("n_a").cast("double") +
               col("var_b") / col("n_b").cast("double")), 6).as("t_welch"))
  }

  // ---------------------------------------------------------------- q153
  /** Mann–Whitney U rank-sum test ([[operators.MannWhitney.uTest]]):
    * purchase vs click event values, midranks with tie correction.
    * Ranking runs over the distinct-VALUE frame (one value-keyed hash
    * agg + a bounded window over ~56k distinct 2-dp values), never
    * over raw rows; rank mass stays exact in half-integers (×2
    * BIGINTs) and the normal approximation runs once on one row.
    */
  def q153MannWhitney(s: SparkSession, d: String): DataFrame =
    operators.MannWhitney.uTest(
      events(s, d).filter(col("event_type").isin("click", "purchase")),
      "value", col("event_type") === "purchase")

  // ---------------------------------------------------------------- q159
  /** Benford first-digit audit ([[operators.Benford.firstDigitAudit]])
    * of order totals per order status — the forensic ingest gate.
    * One (group, digit) hash agg + a 9-row-per-group dense frame; χ²
    * terms are 6-dp DECIMALs so the sum is order-independent.
    */
  def q159Benford(s: SparkSession, d: String): DataFrame =
    operators.Benford.firstDigitAudit(orders(s, d), Seq("o_orderstatus"),
        "o_totalprice")
      .orderBy(col("o_orderstatus"), col("digit"))

  // ---------------------------------------------------------------- q163
  /** Two-sample Kolmogorov–Smirnov drift test ([[operators.KsTest
    * .ksTwoSample]]): purchase vs click value distributions. The
    * supremum runs on exact BIGINT ECDF numerators (`|c_A·n_B −
    * c_B·n_A|`) over the distinct-value frame — no float until the
    * one published ratio; the argmax value is the deterministic
    * tie-broken supremum location.
    */
  def q163KsTest(s: SparkSession, d: String): DataFrame =
    operators.KsTest.ksTwoSample(
      events(s, d).filter(col("event_type").isin("click", "purchase")),
      "value", col("event_type") === "purchase")

  // ---------------------------------------------------------------- q176
  /** Chi-square independence of `lang` × `source` on documents
    * ([[operators.Contingency.chiSquareIndependence]]) plus Cramér's V
    * — the categorical-association audit (a crawl where language
    * depends strongly on source is fine; a LABEL that depends on
    * source is leakage). Full-grid zero cells included; 6-dp DECIMAL
    * term sums.
    */
  def q176ChiSquare(s: SparkSession, d: String): DataFrame =
    operators.Contingency.chiSquareIndependence(
      documents(s, d), "lang", "source")

  // ---------------------------------------------------------------- q177
  /** Per-event-type Spearman rank correlation of value vs time
    * ([[operators.Spearman.correlation]]) — the monotone-drift screen
    * (is `value` trending within each event type?). Midranks from the
    * distinct-value frame + distributed two-pass prefix sum; exact
    * 2·rank integers; one float op per group.
    */
  def q177Spearman(s: SparkSession, d: String): DataFrame =
    operators.Spearman.correlation(events(s, d), "event_type", "value", "ts")
      .select(col("group").as("event_type"), col("n"), col("rho"))
      .orderBy(col("event_type"))

  // ---------------------------------------------------------------- q182
  /** Cohen's kappa between the n-gram language-ID heuristic (q20) and
    * the gold `lang` column ([[operators.Contingency.cohenKappa]]) —
    * the chance-corrected classifier-agreement readout (raw accuracy
    * flatters any skewed label mix). Integer-exact through κ's
    * cleared-denominator form; one float divide.
    */
  def q182Kappa(s: SparkSession, d: String): DataFrame =
    operators.Contingency.cohenKappa(
      documents(s, d).select(
        functions.TextAnalysis.langId(col("text")).as("pred"),
        col("lang")),
      "pred", "lang")

  // ---------------------------------------------------------------- q215
  /** Mutual information (nats) between document language and source
    * ([[operators.Contingency.mutualInformation]]) — the
    * feature-association screen in comparable units ("how much does
    * knowing the source tell you about the language"), complementing
    * q176's chi-square on the same table.
    */
  def q215MutualInfo(s: SparkSession, d: String): DataFrame =
    operators.Contingency.mutualInformation(documents(s, d), "lang", "source")

  // ---------------------------------------------------------------- q249
  /** Rank-biased overlap ([[operators.RankCompare.rbo]], Webber et
    * al. TOIS'10) between two part rankings — by total quantity
    * shipped vs by distinct-order breadth, top-100 heads, p = 0.9:
    * the "does swapping the scorer change what the consumer actually
    * sees" metric, weighted geometrically toward the top the way
    * attention is. Both metrics are exact integers (quantity summed
    * as BIGINT, distinct orders counted) with part-key tie-breaks;
    * the depth weights are the exact ppm recurrence, never
    * `Math.pow`; the ranking windows run on the post-aggregation
    * parts frame (bounded by |parts|), all RBO arithmetic on the
    * 100-row depth grid.
    */
  def q249Rbo(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d)
    def head(m: DataFrame) = m
      .withColumn("rk", row_number().over(
        Window.orderBy(col("m").desc, col("l_partkey"))))
      .filter(col("rk") <= 100)
    val byQty = head(li.groupBy(col("l_partkey"))
      .agg(sum(col("l_quantity").cast("long")).as("m")))
    val byBreadth = head(li.groupBy(col("l_partkey"))
      .agg(count_distinct(col("l_orderkey")).as("m")))
    operators.RankCompare.rbo(byQty, byBreadth, "l_partkey", "rk",
      depth = 100, pPpm = 900000L)
  }

  // ---------------------------------------------------------------- q258
  /** CUPED variance reduction (Deng et al., WSDM'13) — the modern
    * companion to q130's two-sample test: adjust each user's
    * experiment-period metric by their PRE-period activity
    * (`Y' = Y − θ(X − X̄)`, θ = cov(X,Y)/var(X) pooled over all
    * users), shrinking variance by ρ² without biasing the A−B delta.
    * Pre = Jan 1–15, post = Jan 16–30; arms are q130's md5-parity
    * user split. Exactness: per-user X/Y are DECIMAL(18,2) sums,
    * deviations are n-scaled integers (the q257 trick, n² cancels in
    * θ), moments are DECIMAL(38,4)-exact from (19,2) products, and
    * every IEEE op is a final scalar on the 1-row frame, written in
    * the same order on both engines. One scan of events → a persisted
    * |users|-sized frame feeds the pooled moments, per-arm sums, and
    * the scalar assembly.
    */
  def q258Cuped(s: SparkSession, d: String): DataFrame = {
    val boundaryNs = 1705363200000000000L // 2024-01-16T00:00:00Z
    val per = operators.Retained.track(
      events(s, d).filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          coalesce(sum(when(col("ts") < boundaryNs,
            col("value").cast("decimal(18,2)"))), lit(0))
            .cast("decimal(18,2)").as("x"),
          coalesce(sum(when(col("ts") >= boundaryNs,
            col("value").cast("decimal(18,2)"))), lit(0))
            .cast("decimal(18,2)").as("y"))
        .withColumn("arm",
          when(conv(substring(md5(col("user_id").cast("string")), 1, 8),
            16, 10).cast("long") % 2 === 0, lit("A")).otherwise(lit("B")))
        .persist())
    val tot = per.agg(count(lit(1)).as("n"),
      sum(col("x")).cast("decimal(28,2)").as("sx"),
      sum(col("y")).cast("decimal(28,2)").as("sy"))
    val mom = per.crossJoin(broadcast(tot)) // 1-row build side
      .select(
        (col("x") * col("n") - col("sx")).cast("decimal(19,2)").as("dx"),
        (col("y") * col("n") - col("sy")).cast("decimal(19,2)").as("dy"))
      .agg(sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dy") * col("dy")).as("syy"))
    val arms = per.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_g"),
        sum(col("x")).cast("decimal(28,2)").as("sx_g"),
        sum(col("y")).cast("decimal(28,2)").as("sy_g"))
    val a = arms.filter(col("arm") === "A")
      .select(col("n_g").as("n_a"), col("sx_g").as("sx_a"),
        col("sy_g").as("sy_a"))
    val b = arms.filter(col("arm") === "B")
      .select(col("n_g").as("n_b"), col("sx_g").as("sx_b"),
        col("sy_g").as("sy_b"))
    a.crossJoin(broadcast(b)).crossJoin(broadcast(tot))
      .crossJoin(broadcast(mom))
      .withColumn("theta",
        col("sxy").cast("double") / col("sxx").cast("double"))
      .withColumn("xbar", col("sx").cast("double") / col("n").cast("double"))
      .withColumn("ma_raw",
        col("sy_a").cast("double") / col("n_a").cast("double"))
      .withColumn("mb_raw",
        col("sy_b").cast("double") / col("n_b").cast("double"))
      .withColumn("ma_adj", col("ma_raw") - col("theta") *
        (col("sx_a").cast("double") / col("n_a").cast("double") - col("xbar")))
      .withColumn("mb_adj", col("mb_raw") - col("theta") *
        (col("sx_b").cast("double") / col("n_b").cast("double") - col("xbar")))
      .select(col("n_a"), col("n_b"),
        (round(col("theta"), 6) + 0.0).as("theta"),
        (round((col("sxy").cast("double") * col("sxy").cast("double")) /
          (col("sxx").cast("double") * col("syy").cast("double")), 6) + 0.0)
          .as("rho_sq"),
        (round(col("ma_raw"), 6) + 0.0).as("mean_a_raw"),
        (round(col("mb_raw"), 6) + 0.0).as("mean_b_raw"),
        (round(col("ma_adj"), 6) + 0.0).as("mean_a_adj"),
        (round(col("mb_adj"), 6) + 0.0).as("mean_b_adj"))
  }

  // ---------------------------------------------------------------- q266
  /** Sort-free EXACT discrete quantiles of line-item price cents
    * ([[operators.ExactSelection.quantilesDisc]]) — the third point on
    * the quantile trade-off curve: q48 pays a distributed sort, q166
    * accepts sketch error; this drills equi-width histograms down the
    * VALUE DOMAIN instead, so the exact p01/p25/p50/p75/p99 cost three
    * column scans with KB-sized aggregates and no data-sized shuffle
    * at all — the shape that still works when the column is 100 TB.
    */
  def q266SelectionQuantiles(s: SparkSession, d: String): DataFrame = {
    val cents = lineitem(s, d).select(
      (col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").as("cents"))
    operators.ExactSelection.quantilesDisc(
      cents, "cents", Seq(0.01, 0.25, 0.5, 0.75, 0.99))
  }

  // ---------------------------------------------------------------- q282
  /** Per-priority p50/p95/p99 of order value cents
    * ([[operators.ExactSelection.quantilesDiscPerKey]]) — the keyed
    * generalization of q266's sort-free drill and the bread-and-butter
    * 100 TB ask ("p95 latency per tenant") that previously had to
    * route through the full-sort q48 path. Same budget-bounded
    * histogram drill for every key at once: each round is ONE hash
    * aggregation over the table (all keys' histograms in the same
    * pass), the driver walk stays under a fixed row budget regardless
    * of key count, and the answers are exact percentile_disc values.
    */
  def q282QuantilesPerKey(s: SparkSession, d: String): DataFrame =
    operators.ExactSelection.quantilesDiscPerKey(
      orders(s, d).select(col("o_orderpriority").as("priority"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents")),
      "priority", "cents", Seq(0.5, 0.95, 0.99))

  // ---------------------------------------------------------------- q284
  /** Per-priority robust outlier screen
    * ([[operators.RobustStats.madOutliersPerKey]]): exact median, MAD,
    * and the count of orders beyond 3×MAD — the keyed, sort-free
    * sibling of q109's global MAD audit, built as two passes of the
    * q282 budget-bounded histogram drill plus one broadcast tag join.
    * (mean, stddev) breaks on the heavy-tailed spend distribution this
    * screens; (median, MAD) moves at most one rank per contaminated
    * row, and every published value is an exact integer.
    */
  def q284MadPerKey(s: SparkSession, d: String): DataFrame =
    operators.RobustStats.madOutliersPerKey(
      orders(s, d).select(col("o_orderpriority").as("priority"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents")),
      "priority", "cents", k = 3L)

  // ---------------------------------------------------------------- q267
  /** Kendall's τ-b between daily order volume and daily revenue per
    * priority ([[operators.Kendall.tauB]]) — completes the correlation
    * family (Pearson q63, Spearman q177) with the pair-concordance
    * statistic, the drift test of choice for heavily tied ordinal
    * series. The pair expansion runs on the calendar-bounded daily
    * pre-aggregation (|days|² per priority, independent of the fact
    * table's row count); every pair classification is exact integer
    * sign arithmetic, and the one sqrt/divide runs per priority on
    * exact integers, rounded 6 dp.
    */
  def q267KendallTau(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .groupBy(col("o_orderpriority").as("priority"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("day"))
      .agg(count(lit(1)).as("x"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long")).cast("long").as("y"))
    operators.Kendall.tauB(daily, Seq("priority"), "day", "x", "y")
      .orderBy(col("priority"))
  }

  // ---------------------------------------------------------------- q268
  /** Theil–Sen robust daily-revenue trend per order priority
    * ([[operators.Regression.theilSenSlope]]) — the median-of-pairwise-
    * slopes estimator that ignores up to ~29% contaminated days where
    * the OLS trend (q157) chases any single spike. Pairs expand on the
    * calendar-bounded daily frame (like q267); each slope is an exact
    * integer ppm truncating division, and the median is read off a
    * per-priority cumulative over DISTINCT slopes — no float enters
    * the result at all.
    */
  def q268TheilSen(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .groupBy(col("o_orderpriority").as("priority"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("cents"))
    operators.Regression.theilSenSlope(daily, "priority", "day", "cents")
      .orderBy(col("priority"))
  }

  // ---------------------------------------------------------------- q270
  /** Wilcoxon signed-rank ([[operators.RankTests.signedRank]]) on
    * paired per-customer spend: the ≤1997 era vs the ≥1998 era (this
    * corpus spans 1995–2001) for customers active in BOTH eras — "did the same customers spend
    * more later?", the paired companion to the independent-sample
    * Mann–Whitney q153. One customer-keyed agg builds the pairs; the
    * ranking runs on the distinct-|difference| count frame with the
    * distributed prefix sum; the z statistic is one float expression
    * over exact ×2 integer rank sums.
    */
  def q270SignedRank(s: SparkSession, d: String): DataFrame = {
    val eras = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(
        sum(when(year(to_date(col("o_orderdate"))) <= 1997,
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .otherwise(0L)).cast("long").as("early"),
        sum(when(year(to_date(col("o_orderdate"))) >= 1998,
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
          .otherwise(0L)).cast("long").as("late"),
        sum(when(year(to_date(col("o_orderdate"))) <= 1997, 1L)
          .otherwise(0L)).as("n_early"),
        sum(when(year(to_date(col("o_orderdate"))) >= 1998, 1L)
          .otherwise(0L)).as("n_late"))
      .filter(col("n_early") > 0L && col("n_late") > 0L)
    operators.RankTests.signedRank(eras, "early", "late")
  }

  // ---------------------------------------------------------------- q271
  /** Kruskal–Wallis H ([[operators.RankTests.kruskalWallis]]) of order
    * value across the five priorities — the rank ANOVA asking whether
    * ANY priority's price distribution sits above the others (the
    * k-group extension of Mann–Whitney q153). Midranks from one
    * distinct-value agg + distributed prefix; per-group R²/n terms
    * 6-dp-rounded and DECIMAL-summed (the tokenEntropy doctrine);
    * the H scalars attach to the per-priority rows as a 1-row
    * broadcast.
    */
  def q271KruskalWallis(s: SparkSession, d: String): DataFrame =
    operators.RankTests.kruskalWallis(
      orders(s, d).select(col("o_orderpriority").as("priority"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents")),
      "priority", "cents")

  // ---------------------------------------------------------------- q272
  /** Friedman test ([[operators.RankTests.friedman]]): within each
    * complete MONTH (all five priorities present — a month is the
    * block granularity where completeness holds at every test scale;
    * sf0.001 days rarely see all five) the priorities' revenues are
    * ranked among themselves, removing month-level demand shifts that
    * would drown the independent-sample q271 — the repeated-measures
    * rank ANOVA. Ranking is a 5-row window per month (embarrassingly
    * parallel); χ²_F is one float expression over exact ×2 rank sums.
    */
  def q272Friedman(s: SparkSession, d: String): DataFrame = {
    val monthly = orders(s, d)
      .groupBy(col("o_orderpriority").as("priority"),
        (year(to_date(col("o_orderdate"))) * 100 +
          month(to_date(col("o_orderdate")))).cast("long").as("ym"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("cents"))
    operators.RankTests.friedman(monthly, "ym", "priority", "cents")
  }

  // ---------------------------------------------------------------- q273
  /** McNemar's paired-binary test ([[operators.RankTests.mcnemar]]):
    * per customer, "ordered in the ≤1997 era?" vs "≥1998?" (the
    * corpus spans 1995–2001) over the full customer spine (never-ordered
    * customers land in `neither`) — did the population flip
    * asymmetrically between eras? One left join + one hash agg; the
    * continuity-corrected χ² is a single one-row float division over
    * exact discordant counts.
    */
  def q273Mcnemar(s: SparkSession, d: String): DataFrame = {
    val eras = orders(s, d).groupBy(col("o_custkey"))
      .agg(
        sum(when(year(to_date(col("o_orderdate"))) <= 1997, 1L)
          .otherwise(0L)).as("n_early"),
        sum(when(year(to_date(col("o_orderdate"))) >= 1998, 1L)
          .otherwise(0L)).as("n_late"))
    val flags = customer(s, d)
      .join(eras, col("c_custkey") === col("o_custkey"), "left")
      .select((coalesce(col("n_early"), lit(0L)) > 0L).as("before_flag"),
        (coalesce(col("n_late"), lit(0L)) > 0L).as("after_flag"))
    operators.RankTests.mcnemar(flags, "before_flag", "after_flag")
  }

  // ---------------------------------------------------------------- q288
  /** Mann–Kendall monotone-trend test on the daily revenue series per
    * priority ([[operators.TrendTests.mannKendall]]) — the
    * SIGNIFICANCE companion to q268's Theil–Sen slope: the slope says
    * how steep, this says whether the monotone drift is
    * distinguishable from noise at all (the standard pre-gate in
    * drift monitoring). Pairs expand on the same calendar-bounded
    * daily frame as q267/q268 through the salted self-join; S and the
    * tie-corrected variance mass are exact integer/DECIMAL, and the
    * continuity-corrected z is one float tree per priority.
    */
  def q288MannKendall(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .groupBy(col("o_orderpriority").as("priority"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("cents"))
    operators.TrendTests.mannKendall(daily, "priority", "day", "cents")
      .orderBy(col("priority"))
  }

  // ---------------------------------------------------------------- q321
  /** Sequential CUSUM drift alarm on the same daily revenue series
    * ([[operators.Changepoint.cusumAlarm]]) — the MONITORING face
    * beside q288 (is the trend real) and q157's offline changepoint
    * (where was the shift): Page's control chart with slack = the
    * exact global mean daily revenue (integer DIV) and decision
    * interval 35·slack, publishing each priority's exact max statistic
    * and FIRST alarm day. The recursion runs as one key-partitioned
    * window pass via `S_i = A_i − min(0, min_{j≤i} A_j)`; slack
    * derives from one bounded scalar aggregate, replayed by the
    * oracle in the same exact integer arithmetic.
    */
  def q321CusumAlarm(s: SparkSession, d: String): DataFrame = {
    val daily = operators.Checkpoint.pin(orders(s, d)
      .groupBy(col("o_orderpriority").as("priority"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("long").as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("cents")),
      sum(col("cents")).as("__t"))
    val slack = daily.long("__t") / daily.rows
    operators.Changepoint.cusumAlarm(daily.df, "priority", "day", "cents",
        slack = slack, threshold = 35L * slack)
      .orderBy(col("priority"))
  }

  // ---------------------------------------------------------------- q289
  /** One-way ANOVA of order value across the five priorities
    * ([[operators.Anova.oneWayF]]) — the parametric k-group mean test
    * the battery lacked (q271 Kruskal–Wallis is its rank twin, q130
    * Welch its two-group case), published WITH the η² effect size a
    * bare p hides. One exact-DECIMAL hash aggregation per group, one
    * fixed float tree per published double.
    */
  def q289AnovaF(s: SparkSession, d: String): DataFrame =
    operators.Anova.oneWayF(
      orders(s, d).select(col("o_orderpriority").as("priority"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents")),
      "priority", "cents")

  // ---------------------------------------------------------------- q290
  /** Brown–Forsythe variance-equality test across the priorities
    * ([[operators.Anova.brownForsythe]]): q289's F recomputed on
    * |value − group median| — "do the groups differ in SPREAD", the
    * robust Levene variant and the standard pre-check before trusting
    * any pooled-variance readout. Medians come from the q282 sort-free
    * keyed drill; the deviations stay exact integers, so the F
    * inherits the ANOVA determinism unchanged.
    */
  def q290BrownForsythe(s: SparkSession, d: String): DataFrame =
    operators.Anova.brownForsythe(
      orders(s, d).select(col("o_orderpriority").as("priority"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents")),
      "priority", "cents")

  // ---------------------------------------------------------------- q291
  /** Benjamini–Hochberg FDR over a 25-way segment battery
    * ([[operators.MultipleTesting.benjaminiHochberg]]): per nation, a
    * two-proportion z-test of its urgent-order share against all
    * other nations pooled, p-values via the portable A&S normal-CDF
    * tree, then the step-up adjustment — the correction without which
    * a 25-segment drift dashboard alarms falsely every run. All
    * counts are exact; z/p are one fixed float tree per nation; the
    * BH window runs on the 25-row hypothesis frame, never on data.
    */
  def q291FdrBh(s: SparkSession, d: String): DataFrame = {
    val counts = orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L)
          .otherwise(0L)).as("n_succ"))
    val tot = counts.agg(sum(col("n")).as("__tn"),
      sum(col("n_succ")).as("__ts"))
    val z = counts.crossJoin(broadcast(tot))
      .withColumn("__pi", col("n_succ").cast("double") / col("n").cast("double"))
      .withColumn("__pr",
        (col("__ts") - col("n_succ")).cast("double") /
          (col("__tn") - col("n")).cast("double"))
      .withColumn("__pp", col("__ts").cast("double") / col("__tn").cast("double"))
      .withColumn("__z",
        (col("__pi") - col("__pr")) /
          sqrt(col("__pp") * (lit(1.0) - col("__pp")) *
            (lit(1.0) / col("n").cast("double") +
              lit(1.0) / (col("__tn") - col("n")).cast("double"))))
      .withColumn("p",
        operators.MultipleTesting.normalTwoSidedP(col("__z")))
      .select(col("nation"), col("n"), col("n_succ"),
        (round(col("__z"), 6) + 0.0).as("z"), col("p"))
    operators.MultipleTesting.benjaminiHochberg(z, "nation", "p", alpha = 0.05)
      .join(z.select(col("nation"), col("n"), col("n_succ"), col("z")),
        Seq("nation"))
      .select(col("nation"), col("n"), col("n_succ"), col("z"),
        col("p_value"), col("rank"), col("p_adj"), col("reject"))
      .orderBy(col("nation"))
  }

  // ---------------------------------------------------------------- q299
  /** Simpson's-paradox audit of the average-order-value trend
    * ([[operators.Regression.simpsonAudit]]): the pooled daily-AOV
    * slope across all nation-days vs each nation's own slope — the
    * confounding guardrail that catches a dashboard reading a pooled
    * trend every stratum contradicts (composition shift, not
    * behavior). Daily AOV is an exact truncating integer (dollars =
    * cents DIV (100·n)); both fits are wide-DECIMAL exact-moment
    * closed forms on the calendar-bounded nation-day frame.
    */
  def q299SimpsonAudit(s: SparkSession, d: String): DataFrame = {
    val daily = orders(s, d)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nation"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("day"))
      .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")).cast("long").as("__cents"),
        count(lit(1)).as("__cnt"))
      .select(col("nation"), col("day"),
        expr("__cents DIV (100 * __cnt)").as("aov_dollars"))
    operators.Regression.simpsonAudit(daily, "nation", "day", "aov_dollars")
  }

  private[graft] def queriesStatsRank: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q299_simpson_audit" -> (q299SimpsonAudit _),
    "q130_ab_test" -> (q130AbTest _),
    "q153_mann_whitney" -> (q153MannWhitney _),
    "q159_benford" -> (q159Benford _),
    "q163_ks_test" -> (q163KsTest _),
    "q176_chi_square" -> (q176ChiSquare _),
    "q177_spearman" -> (q177Spearman _),
    "q182_kappa" -> (q182Kappa _),
    "q215_mutual_info" -> (q215MutualInfo _),
    "q249_rbo" -> (q249Rbo _),
    "q258_cuped" -> (q258Cuped _),
    "q266_selection_quantiles" -> (q266SelectionQuantiles _),
    "q282_quantiles_per_key" -> (q282QuantilesPerKey _),
    "q284_mad_per_key" -> (q284MadPerKey _),
    "q267_kendall_tau" -> (q267KendallTau _),
    "q268_theil_sen" -> (q268TheilSen _),
    "q270_signed_rank" -> (q270SignedRank _),
    "q271_kruskal_wallis" -> (q271KruskalWallis _),
    "q272_friedman" -> (q272Friedman _),
    "q273_mcnemar" -> (q273Mcnemar _),
    "q288_mann_kendall" -> (q288MannKendall _),
    "q321_cusum_alarm" -> (q321CusumAlarm _),
    "q289_anova_f" -> (q289AnovaF _),
    "q290_brown_forsythe" -> (q290BrownForsythe _),
    "q291_fdr_bh" -> (q291FdrBh _))

  private[graft] def oracleSqlStatsRank: Map[String, String] = Map(
    "q299_simpson_audit" ->
      // exact HUGEINT moments per stratum and pooled; the one float
      // per slope goes hugeint→VARCHAR→DOUBLE (DuckDB's direct
      // int128→double cast is off by 1 ulp past 2^53)
      """WITH b AS (SELECT c_nationkey AS st,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      AS x,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS cents,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |v AS (SELECT st, x, cents // (100 * cnt) AS y FROM b),
        |m AS (SELECT st, CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM v GROUP BY st),
        |mo AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx
        |  FROM v),
        |sl AS (SELECT st,
        |    round(CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE), 6)
        |      + 0.0 AS s
        |  FROM m WHERE n >= 2 AND n * sxx - sx * sx <> 0),
        |so AS (SELECT
        |    round(CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE), 6)
        |      + 0.0 AS overall_slope
        |  FROM mo WHERE n >= 2 AND n * sxx - sx * sx <> 0)
        |SELECT so.overall_slope, CAST(count(*) AS BIGINT) AS n_strata,
        |  CAST(sum(CASE WHEN sl.s * so.overall_slope < 0 THEN 1 ELSE 0
        |    END) AS BIGINT) AS n_opposed,
        |  2 * sum(CASE WHEN sl.s * so.overall_slope < 0 THEN 1 ELSE 0
        |    END) > count(*) AS simpson_flag
        |FROM sl CROSS JOIN so GROUP BY so.overall_slope""".stripMargin,
    "q288_mann_kendall" ->
      // S and the tie mass exact (DECIMAL for the n(n−1)(2n+5) terms,
      // which pass 2^63 at n ≈ 1.7e6); the continuity-corrected z is
      // one float tree mirroring the Spark side term for term
      """WITH d AS (SELECT o_orderpriority AS priority,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      AS t,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1, 2),
        |p AS (SELECT a.priority, CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
        |      ELSE 0 END) AS BIGINT) AS s
        |  FROM d a JOIN d b ON a.priority = b.priority AND a.t < b.t
        |  GROUP BY 1),
        |tg AS (SELECT priority, y, CAST(count(*) AS BIGINT) AS t
        |  FROM d GROUP BY 1, 2),
        |ti AS (SELECT priority, CAST(sum(t) AS BIGINT) AS n,
        |    sum(CAST(t AS DECIMAL(12,0)) * CAST(t - 1 AS DECIMAL(12,0))
        |      * CAST(2 * t + 5 AS DECIMAL(13,0))) AS tie
        |  FROM tg GROUP BY 1),
        |v AS (SELECT ti.priority, ti.n,
        |    CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
        |    CAST(coalesce(p.s, 0) AS BIGINT) AS s,
        |    CAST(CAST(ti.n AS DECIMAL(12,0))
        |        * CAST(ti.n - 1 AS DECIMAL(12,0))
        |        * CAST(2 * ti.n + 5 AS DECIMAL(13,0)) - ti.tie AS DOUBLE)
        |      / CAST(18 AS DOUBLE) AS var
        |  FROM ti LEFT JOIN p USING (priority))
        |SELECT priority, n, n_pairs, s,
        |  CASE WHEN var <= 0.0 THEN NULL
        |    WHEN s > 0 THEN round(CAST(s - 1 AS DOUBLE) / sqrt(var), 6) + 0.0
        |    WHEN s < 0 THEN round(CAST(s + 1 AS DOUBLE) / sqrt(var), 6) + 0.0
        |    ELSE 0.0 END AS z
        |FROM v ORDER BY priority""".stripMargin,
    "q321_cusum_alarm" ->
      // the same daily frame as q288; slack = exact integer mean via
      // //; the recursion replayed through the running-min identity
      // (windowed sums go HUGEINT in DuckDB — cast the published
      // integers back to BIGINT)
      """WITH d AS (SELECT o_orderpriority AS priority,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      AS day,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(cents) AS BIGINT) // CAST(count(*) AS BIGINT)
        |      AS slack FROM d),
        |a AS (SELECT priority, day,
        |    row_number() OVER (PARTITION BY priority ORDER BY day) AS i,
        |    sum(cents) OVER (PARTITION BY priority ORDER BY day)
        |      - row_number() OVER (PARTITION BY priority ORDER BY day)
        |        * (SELECT slack FROM t) AS adj
        |  FROM d),
        |s AS (SELECT priority, day, i,
        |    adj - least(0, min(adj) OVER (PARTITION BY priority ORDER BY day))
        |      AS s
        |  FROM a),
        |al AS (SELECT s.priority, CAST(min(s.i) AS BIGINT) AS alarm_index
        |       FROM s CROSS JOIN t WHERE s.s >= 35 * t.slack GROUP BY 1),
        |ad AS (SELECT al.priority, al.alarm_index, s.day AS alarm_ts
        |       FROM al JOIN s ON s.priority = al.priority
        |        AND s.i = al.alarm_index),
        |g AS (SELECT priority, CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(max(s) AS BIGINT) AS max_s FROM s GROUP BY 1)
        |SELECT g.priority, g.n_rows, g.max_s, ad.alarm_ts,
        |  CAST(ad.alarm_index AS BIGINT) AS alarm_index
        |FROM g LEFT JOIN ad ON ad.priority = g.priority
        |ORDER BY g.priority""".stripMargin,
    "q289_anova_f" ->
      // exact DECIMAL (n, Σy, Σy²) per group; each per-group Σ²/n term
      // is ONE float tree rounded 6dp and re-summed in DECIMAL(38,6) —
      // the float-sum-across-groups never happens on either engine
      """WITH v AS (SELECT o_orderpriority AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS y
        |  FROM orders),
        |gr AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS s,
        |    CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT)
        |      AS ss
        |  FROM v GROUP BY g),
        |tm AS (SELECT g, n, s, ss, (s * s) // n AS term FROM gr),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n,
        |    sum(s) AS st, sum(ss) AS sst, sum(term) AS tsum FROM tm),
        |x AS (SELECT k, n,
        |    CAST(CAST(tsum - (st * st) // n AS VARCHAR) AS DOUBLE) AS ssb,
        |    CAST(CAST(sst - tsum AS VARCHAR) AS DOUBLE) AS ssw FROM a)
        |SELECT k, n, ssb + 0.0 AS ss_between, ssw + 0.0 AS ss_within,
        |  CASE WHEN k < 2 OR n <= k OR ssw <= 0.0 THEN NULL
        |    ELSE round((ssb / CAST(k - 1 AS DOUBLE))
        |      / (ssw / CAST(n - k AS DOUBLE)), 6) + 0.0 END AS f_stat,
        |  CASE WHEN ssb + ssw <= 0.0 THEN NULL
        |    ELSE round(ssb / (ssb + ssw), 6) + 0.0
        |    END AS eta_sq
        |FROM x""".stripMargin,
    "q290_brown_forsythe" ->
      // per-group exact lower median via the q284 rank walk, then the
      // q289 ANOVA trees on the |y − median| deviations (exact BIGINT)
      """WITH v AS (SELECT o_orderpriority AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS y
        |  FROM orders),
        |pv AS (SELECT g, y, CAST(count(*) AS BIGINT) AS c
        |  FROM v GROUP BY 1, 2),
        |w AS (SELECT g, y, c,
        |    sum(c) OVER (PARTITION BY g ORDER BY y) AS cum,
        |    sum(c) OVER (PARTITION BY g) AS nn FROM pv),
        |med AS (SELECT g, y AS median FROM w
        |  WHERE cum - c < (nn + 1) // 2 AND (nn + 1) // 2 <= cum),
        |dev AS (SELECT v.g, abs(v.y - med.median) AS y
        |  FROM v JOIN med USING (g)),
        |gr AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS s,
        |    CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT)
        |      AS ss
        |  FROM dev GROUP BY g),
        |tm AS (SELECT g, n, s, ss, (s * s) // n AS term FROM gr),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS n,
        |    sum(s) AS st, sum(ss) AS sst, sum(term) AS tsum FROM tm),
        |x AS (SELECT k, n,
        |    CAST(CAST(tsum - (st * st) // n AS VARCHAR) AS DOUBLE) AS ssb,
        |    CAST(CAST(sst - tsum AS VARCHAR) AS DOUBLE) AS ssw FROM a)
        |SELECT k, n, ssb + 0.0 AS ss_between, ssw + 0.0 AS ss_within,
        |  CASE WHEN k < 2 OR n <= k OR ssw <= 0.0 THEN NULL
        |    ELSE round((ssb / CAST(k - 1 AS DOUBLE))
        |      / (ssw / CAST(n - k AS DOUBLE)), 6) + 0.0 END AS f_stat,
        |  CASE WHEN ssb + ssw <= 0.0 THEN NULL
        |    ELSE round(ssb / (ssb + ssw), 6) + 0.0
        |    END AS eta_sq
        |FROM x""".stripMargin,
    "q291_fdr_bh" ->
      // two-proportion z from exact counts; p via the SAME A&S 7.1.26
      // literals as MultipleTesting.normalTwoSidedP (the approximation
      // is part of the operator's portable definition); BH runs on the
      // 25-row hypothesis frame with (p, nation) tie-stable ranking
      """WITH c AS (SELECT c_nationkey AS nation,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1
        |      ELSE 0 END) AS BIGINT) AS n_succ
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
        |    CAST(sum(n_succ) AS BIGINT) AS ts FROM c),
        |zt AS (SELECT nation, n, n_succ,
        |    (CAST(n_succ AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(ts - n_succ AS DOUBLE) / CAST(tn - n AS DOUBLE))
        |    / sqrt((CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE))
        |        * (CAST(1 AS DOUBLE) - CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE))
        |        * (CAST(1 AS DOUBLE) / CAST(n AS DOUBLE)
        |          + CAST(1 AS DOUBLE) / CAST(tn - n AS DOUBLE))) AS z
        |  FROM c CROSS JOIN tot),
        |pt AS (SELECT nation, n, n_succ, z,
        |    abs(z) * CAST(0.7071067811865476 AS DOUBLE) AS x
        |  FROM zt),
        |tt AS (SELECT nation, n, n_succ, z, x,
        |    CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
        |      + CAST(0.3275911 AS DOUBLE) * x) AS t
        |  FROM pt),
        |pv AS (SELECT nation, n, n_succ, z,
        |    round(((((CAST(1.061405429 AS DOUBLE) * t
        |      - CAST(1.453152027 AS DOUBLE)) * t
        |      + CAST(1.421413741 AS DOUBLE)) * t
        |      - CAST(0.284496736 AS DOUBLE)) * t
        |      + CAST(0.254829592 AS DOUBLE)) * t * exp(-x * x), 6) + 0.0
        |      AS p
        |  FROM tt),
        |r AS (SELECT nation, n, n_succ, z, p,
        |    row_number() OVER (ORDER BY p, nation) AS rank,
        |    count(*) OVER () AS m
        |  FROM pv WHERE p IS NOT NULL),
        |adj AS (SELECT nation, n, n_succ, z, p, rank,
        |    round(least(min(p * CAST(m AS DOUBLE) / CAST(rank AS DOUBLE))
        |      OVER (ORDER BY rank DESC ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND CURRENT ROW), CAST(1 AS DOUBLE)), 6) + 0.0 AS p_adj
        |  FROM r)
        |SELECT nation, n, n_succ, round(z, 6) + 0.0 AS z, p AS p_value,
        |  CAST(rank AS BIGINT) AS rank, p_adj,
        |  p_adj <= CAST(0.05 AS DOUBLE) AS reject
        |FROM adj ORDER BY nation""".stripMargin,
    "q284_mad_per_key" ->
      // lower median twice via the per-key cumulative rank walk
      // ((n+1)//2), deviations exact BIGINT, outliers by integer
      // comparison against 3*mad
      """WITH v AS (SELECT o_orderpriority AS priority,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |pv AS (SELECT priority, cents, CAST(count(*) AS BIGINT) AS c
        |  FROM v GROUP BY 1, 2),
        |w AS (SELECT priority, cents, c,
        |    sum(c) OVER (PARTITION BY priority ORDER BY cents) AS cum,
        |    sum(c) OVER (PARTITION BY priority) AS n FROM pv),
        |med AS (SELECT priority, cents AS median, n FROM w
        |  WHERE cum - c < (n + 1) // 2 AND (n + 1) // 2 <= cum),
        |d AS (SELECT v.priority, abs(v.cents - med.median) AS dev
        |  FROM v JOIN med USING (priority)),
        |pd AS (SELECT priority, dev, CAST(count(*) AS BIGINT) AS c
        |  FROM d GROUP BY 1, 2),
        |wd AS (SELECT priority, dev, c,
        |    sum(c) OVER (PARTITION BY priority ORDER BY dev) AS cum,
        |    sum(c) OVER (PARTITION BY priority) AS n FROM pd),
        |mad AS (SELECT priority, dev AS mad FROM wd
        |  WHERE cum - c < (n + 1) // 2 AND (n + 1) // 2 <= cum),
        |outl AS (SELECT d.priority, CAST(count(*) AS BIGINT) AS n_outliers
        |  FROM d JOIN mad USING (priority)
        |  WHERE d.dev > 3 * mad.mad GROUP BY 1)
        |SELECT med.priority, CAST(med.n AS BIGINT) AS n_values,
        |  med.median, mad.mad,
        |  CAST(coalesce(outl.n_outliers, 0) AS BIGINT) AS n_outliers
        |FROM med JOIN mad USING (priority)
        |LEFT JOIN outl USING (priority)
        |ORDER BY priority""".stripMargin,
    "q282_quantiles_per_key" ->
      // the q266 rank-walk replay, partitioned per key: rank =
      // max(1, ceil(q*n_key)) with q forced DOUBLE on both engines
      // (DuckDB parses 0.5 as DECIMAL); value selected off the
      // per-key per-value cumulative counts
      """WITH v AS (SELECT o_orderpriority AS priority,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |pv AS (SELECT priority, cents, CAST(count(*) AS BIGINT) AS c
        |  FROM v GROUP BY 1, 2),
        |w AS (SELECT priority, cents, c,
        |    sum(c) OVER (PARTITION BY priority ORDER BY cents) AS cum,
        |    sum(c) OVER (PARTITION BY priority) AS n FROM pv),
        |qs AS (SELECT CAST(0.5 AS DOUBLE) AS q
        |  UNION ALL SELECT CAST(0.95 AS DOUBLE)
        |  UNION ALL SELECT CAST(0.99 AS DOUBLE)),
        |r AS (SELECT w.priority, qs.q,
        |    GREATEST(CAST(1 AS BIGINT),
        |      CAST(ceil(qs.q * w.n) AS BIGINT)) AS rank,
        |    w.cents, w.c, w.cum, w.n
        |  FROM w CROSS JOIN qs)
        |SELECT priority, q, rank, cents AS value,
        |  CAST(n AS BIGINT) AS n_values
        |FROM r WHERE cum - c < rank AND rank <= cum
        |ORDER BY priority, q""".stripMargin,
    "q266_selection_quantiles" ->
      // rank = max(1, ceil(q·n)) with q forced to DOUBLE on both
      // engines (DuckDB parses 0.01 as DECIMAL; the Spark side
      // computes the rank in driver-side IEEE doubles) so boundary
      // ranks round identically; the oracle selects by row_number
      """WITH v AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * 100 AS BIGINT) AS c FROM lineitem),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
        |qs AS (SELECT CAST(unnest([0.01, 0.25, 0.5, 0.75, 0.99])
        |    AS DOUBLE) AS q),
        |k AS (SELECT q, GREATEST(CAST(1 AS BIGINT),
        |      CAST(ceil(q * CAST(n.n AS DOUBLE)) AS BIGINT)) AS rank,
        |    n.n AS n_values FROM qs, n),
        |r AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v)
        |SELECT k.q, k.rank, r.c AS value, k.n_values
        |FROM k JOIN r ON r.rn = k.rank ORDER BY q""".stripMargin,
    "q267_kendall_tau" ->
      // n recovered from n0 = n(n−1)/2 exactly as the Spark side does
      // (sqrt of the exact integer (2n−1)²); floor keeps DuckDB's
      // round-half-even BIGINT cast off the .0 boundary
      """WITH d AS (SELECT o_orderpriority AS priority,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      AS t,
        |    CAST(count(*) AS BIGINT) AS x,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1, 2),
        |p AS (SELECT a.priority,
        |    sign(a.x - b.x) AS sx, sign(a.y - b.y) AS sy
        |  FROM d a JOIN d b ON a.priority = b.priority AND a.t < b.t),
        |g AS (SELECT priority, CAST(count(*) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS concordant,
        |    CAST(sum(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS discordant,
        |    CAST(sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS tied_x,
        |    CAST(sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS tied_y
        |  FROM p GROUP BY 1)
        |SELECT priority,
        |  CAST(floor((1 + sqrt(1 + 8 * CAST(n0 AS DOUBLE))) / 2)
        |    AS BIGINT) AS n,
        |  concordant, discordant, tied_x, tied_y,
        |  CASE WHEN n0 = tied_x OR n0 = tied_y THEN NULL
        |    ELSE round(CAST(concordant - discordant AS DOUBLE)
        |      / sqrt(CAST(n0 - tied_x AS DOUBLE)
        |        * CAST(n0 - tied_y AS DOUBLE)), 6) + 0.0
        |  END AS tau_b
        |FROM g ORDER BY priority""".stripMargin,
    "q268_theil_sen" ->
      // both engines' integer division truncates toward zero (Spark
      // DIV, DuckDB //), so the slope values agree bit for bit
      // (HUGEINT keeps Δy·10⁶ exact on the DuckDB side); the
      // lower-median rank (n+1)//2 is picked off the cumulative over
      // distinct slopes, mirroring the operator
      """WITH d AS (SELECT o_orderpriority AS priority,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      AS t,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1, 2),
        |p AS (SELECT a.priority,
        |    CAST((CAST(b.y - a.y AS HUGEINT) * 1000000) // (b.t - a.t)
        |      AS BIGINT) AS s
        |  FROM d a JOIN d b ON a.priority = b.priority AND a.t < b.t),
        |c AS (SELECT priority, s, CAST(count(*) AS BIGINT) AS c
        |  FROM p GROUP BY 1, 2),
        |w AS (SELECT priority, s, c,
        |    sum(c) OVER (PARTITION BY priority ORDER BY s) AS cum,
        |    sum(c) OVER (PARTITION BY priority) AS n_pairs
        |  FROM c)
        |SELECT priority, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  s AS med_slope_ppm
        |FROM w WHERE cum - c < (n_pairs + 1) // 2
        |  AND (n_pairs + 1) // 2 <= cum
        |ORDER BY priority""".stripMargin,
    "q270_signed_rank" ->
      // midranks replayed off the distinct-|d| frame exactly as the
      // operator builds them (2·below + t + 1); the z expression is
      // the identical one-row float formula over exact integers
      """WITH e AS (SELECT o_custkey,
        |    CAST(sum(CASE WHEN year(CAST(o_orderdate AS DATE)) <= 1997
        |      THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |        AS BIGINT) ELSE 0 END) AS BIGINT) AS early,
        |    CAST(sum(CASE WHEN year(CAST(o_orderdate AS DATE)) >= 1998
        |      THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |        AS BIGINT) ELSE 0 END) AS BIGINT) AS late,
        |    sum(CASE WHEN year(CAST(o_orderdate AS DATE)) <= 1997
        |      THEN 1 ELSE 0 END) AS n_early,
        |    sum(CASE WHEN year(CAST(o_orderdate AS DATE)) >= 1998
        |      THEN 1 ELSE 0 END) AS n_late
        |  FROM orders GROUP BY 1
        |  HAVING n_early > 0 AND n_late > 0),
        |d AS (SELECT late - early AS dd FROM e WHERE late <> early),
        |pv AS (SELECT abs(dd) AS ad, CAST(count(*) AS BIGINT) AS t,
        |    CAST(sum(CASE WHEN dd > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS tp
        |  FROM d GROUP BY 1),
        |r AS (SELECT ad, t, tp,
        |    2 * (sum(t) OVER (ORDER BY ad) - t) + t + 1 AS mid2 FROM pv),
        |m AS (SELECT CAST(sum(t) AS BIGINT) AS n,
        |    CAST(sum(tp * mid2) AS BIGINT) AS wp2,
        |    CAST(sum((t - tp) * mid2) AS BIGINT) AS wm2,
        |    sum(CAST(t AS HUGEINT) * t * t - t) AS tie3 FROM r)
        |SELECT coalesce(n, 0) AS n, coalesce(wp2, 0) AS w_plus_x2,
        |  coalesce(wm2, 0) AS w_minus_x2,
        |  CASE WHEN n IS NULL OR n = 0
        |      OR CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
        |        - CAST(tie3 AS DOUBLE) / 48.0 <= 0.0 THEN NULL
        |    ELSE round((CAST(2 * wp2 - n * (n + 1) AS DOUBLE) / 4.0)
        |      / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
        |        - CAST(tie3 AS DOUBLE) / 48.0), 6) + 0.0
        |  END AS z
        |FROM m""".stripMargin,
    "q271_kruskal_wallis" ->
      // R_g² squared exactly in HUGEINT (the Spark side squares in
      // DECIMAL(38)), cast to DOUBLE, 6-dp-rounded per term, the
      // rounded terms DECIMAL-summed; H and the tie correction are
      // the same one-row float expressions over exact integers
      """WITH v AS (SELECT o_orderpriority AS g,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS v
        |  FROM orders),
        |pv AS (SELECT v, CAST(count(*) AS BIGINT) AS t FROM v GROUP BY v),
        |r AS (SELECT v, t,
        |    2 * (sum(t) OVER (ORDER BY v) - t) + t + 1 AS mid2 FROM pv),
        |gv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
        |  FROM v GROUP BY 1, 2),
        |rg AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_g,
        |    CAST(sum(c * mid2) AS BIGINT) AS r2
        |  FROM gv JOIN r USING (v) GROUP BY g),
        |tm AS (SELECT g, n_g, r2,
        |    round(CAST(CAST(r2 AS HUGEINT) * r2 AS DOUBLE)
        |      / (4.0 * n_g), 6) AS term
        |  FROM rg),
        |tot AS (SELECT CAST(sum(t) AS BIGINT) AS n,
        |    sum(CAST(t AS HUGEINT) * t * t - t) AS tie3 FROM pv),
        |s AS (SELECT CAST(sum(CAST(term AS DECIMAL(38,6))) AS DOUBLE)
        |    AS sd FROM tm),
        |h AS (SELECT n, tie3,
        |    round(12.0 * s.sd / (CAST(n AS DOUBLE) * (n + 1))
        |      - 3.0 * (n + 1), 6) + 0.0 AS h0
        |  FROM tot, s)
        |SELECT tm.g AS priority, tm.n_g, tm.r2 AS rank_sum_x2,
        |  h.n AS n_total, h.h0 AS h,
        |  CASE WHEN h.tie3 = CAST(h.n AS HUGEINT) * h.n * h.n - h.n
        |    THEN NULL
        |    ELSE round(h.h0 / (1.0 - CAST(h.tie3 AS DOUBLE)
        |      / CAST(CAST(h.n AS HUGEINT) * h.n * h.n - h.n AS DOUBLE)),
        |      6) + 0.0
        |  END AS h_tie_corrected
        |FROM tm, h ORDER BY priority""".stripMargin,
    "q272_friedman" ->
      // complete blocks only; midrank×2 = 2·rank + ties − 1 from two
      // block-local windows; 3·Σ(2R)²/(n·k·(k+1)) − 3·n·(k+1)
      """WITH d AS (SELECT o_orderpriority AS priority,
        |    CAST(year(CAST(o_orderdate AS DATE)) * 100
        |      + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS t,
        |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS y
        |  FROM orders GROUP BY 1, 2),
        |kk AS (SELECT CAST(count(DISTINCT priority) AS BIGINT) AS k
        |  FROM d),
        |cb AS (SELECT t FROM d GROUP BY t
        |  HAVING count(*) = (SELECT k FROM kk)),
        |r AS (SELECT d.priority,
        |    2 * rank() OVER (PARTITION BY d.t ORDER BY d.y)
        |      + count(*) OVER (PARTITION BY d.t, d.y) - 1 AS mid2
        |  FROM d JOIN cb USING (t)),
        |s AS (SELECT priority, CAST(sum(mid2) AS BIGINT) AS rank_sum_x2,
        |    CAST(count(*) AS BIGINT) AS nb FROM r GROUP BY 1),
        |g AS (SELECT CAST(max(nb) AS BIGINT) AS n_blocks,
        |    CAST(sum(rank_sum_x2 * rank_sum_x2) AS BIGINT) AS sr2
        |  FROM s)
        |SELECT s.priority, s.rank_sum_x2, g.n_blocks,
        |  kk.k AS k_treatments,
        |  CASE WHEN g.n_blocks IS NULL OR g.n_blocks = 0 THEN NULL
        |    ELSE round(3.0 * CAST(g.sr2 AS DOUBLE)
        |      / (CAST(g.n_blocks AS DOUBLE) * kk.k * (kk.k + 1))
        |      - 3.0 * g.n_blocks * (kk.k + 1), 6) + 0.0
        |  END AS chi2_f
        |FROM s, g, kk ORDER BY s.priority""".stripMargin,
    "q273_mcnemar" ->
      // customer spine LEFT JOIN era counts; continuity-corrected
      // (|b−c|−1)²/(b+c) over exact discordant cells
      """WITH e AS (SELECT o_custkey,
        |    sum(CASE WHEN year(CAST(o_orderdate AS DATE)) <= 1997
        |      THEN 1 ELSE 0 END) AS ne,
        |    sum(CASE WHEN year(CAST(o_orderdate AS DATE)) >= 1998
        |      THEN 1 ELSE 0 END) AS nl
        |  FROM orders GROUP BY 1),
        |f AS (SELECT coalesce(e.ne, 0) > 0 AS b, coalesce(e.nl, 0) > 0
        |      AS a
        |  FROM customer LEFT JOIN e ON e.o_custkey = c_custkey),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN b AND a THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_both,
        |    CAST(sum(CASE WHEN b AND NOT a THEN 1 ELSE 0 END) AS BIGINT)
        |      AS before_only,
        |    CAST(sum(CASE WHEN NOT b AND a THEN 1 ELSE 0 END) AS BIGINT)
        |      AS after_only,
        |    CAST(sum(CASE WHEN NOT b AND NOT a THEN 1 ELSE 0 END)
        |      AS BIGINT) AS neither
        |  FROM f)
        |SELECT n, n_both, before_only, after_only, neither,
        |  CASE WHEN n = 0 OR before_only + after_only = 0 THEN NULL
        |    ELSE round(CAST((abs(before_only - after_only) - 1)
        |        * (abs(before_only - after_only) - 1) AS DOUBLE)
        |      / CAST(before_only + after_only AS DOUBLE), 6) + 0.0
        |  END AS chi2_mcnemar
        |FROM m""".stripMargin,
    "q258_cuped" ->
      // per-user DECIMAL-exact pre/post sums, n-scaled deviations
      // ((19,2) products → (38,4), same as Spark), every double a
      // fixed tree replayed in Spark's operation order, rounded 6 dp
      """WITH per AS (SELECT user_id,
        |    CAST(coalesce(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
        |      THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DECIMAL(18,2))
        |      AS x,
        |    CAST(coalesce(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
        |      THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DECIMAL(18,2))
        |      AS y,
        |    CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
        |        1, 8)) AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS arm
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS DECIMAL(28,2)) AS sx,
        |    CAST(sum(y) AS DECIMAL(28,2)) AS sy FROM per),
        |mom AS (SELECT sum(dx * dx) AS sxx, sum(dx * dy) AS sxy,
        |    sum(dy * dy) AS syy
        |  FROM (SELECT CAST(per.x * tot.n - tot.sx AS DECIMAL(19,2)) AS dx,
        |        CAST(per.y * tot.n - tot.sy AS DECIMAL(19,2)) AS dy
        |      FROM per, tot)),
        |arms AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_g,
        |    CAST(sum(x) AS DECIMAL(28,2)) AS sx_g,
        |    CAST(sum(y) AS DECIMAL(28,2)) AS sy_g FROM per GROUP BY 1),
        |sc AS (SELECT a.n_g AS n_a, b.n_g AS n_b,
        |    CAST(mom.sxy AS DOUBLE) / CAST(mom.sxx AS DOUBLE) AS theta,
        |    CAST(tot.sx AS DOUBLE) / CAST(tot.n AS DOUBLE) AS xbar,
        |    CAST(a.sy_g AS DOUBLE) / CAST(a.n_g AS DOUBLE) AS ma_raw,
        |    CAST(b.sy_g AS DOUBLE) / CAST(b.n_g AS DOUBLE) AS mb_raw,
        |    CAST(a.sx_g AS DOUBLE) / CAST(a.n_g AS DOUBLE) AS mxa,
        |    CAST(b.sx_g AS DOUBLE) / CAST(b.n_g AS DOUBLE) AS mxb,
        |    (CAST(mom.sxy AS DOUBLE) * CAST(mom.sxy AS DOUBLE)) /
        |      (CAST(mom.sxx AS DOUBLE) * CAST(mom.syy AS DOUBLE)) AS rho
        |  FROM (SELECT * FROM arms WHERE arm = 'A') a,
        |    (SELECT * FROM arms WHERE arm = 'B') b, tot, mom)
        |SELECT n_a, n_b, round(theta, 6) + 0.0 AS theta,
        |  round(rho, 6) + 0.0 AS rho_sq,
        |  round(ma_raw, 6) + 0.0 AS mean_a_raw,
        |  round(mb_raw, 6) + 0.0 AS mean_b_raw,
        |  round(ma_raw - theta * (mxa - xbar), 6) + 0.0 AS mean_a_adj,
        |  round(mb_raw - theta * (mxb - xbar), 6) + 0.0 AS mean_b_adj
        |FROM sc""".stripMargin,
    "q249_rbo" ->
      // depth weights replayed as the same exact integer ppm
      // recurrence (recursive CTE); one IEEE divide of exact ints per
      // depth term, rounded 6 dp, summed in DECIMAL; // on positive
      // operands == Spark's truncating long division
      """WITH RECURSIVE w(d, wt) AS (
        |  SELECT CAST(1 AS BIGINT), CAST(1000000 AS BIGINT)
        |  UNION ALL SELECT d + 1, (wt * 900000) // 1000000
        |  FROM w WHERE d < 100),
        |qa AS (SELECT l_partkey, sum(CAST(l_quantity AS BIGINT)) AS m
        |       FROM lineitem GROUP BY 1),
        |ha AS (SELECT l_partkey, rk FROM (SELECT l_partkey,
        |    row_number() OVER (ORDER BY m DESC, l_partkey) AS rk FROM qa)
        |  WHERE rk <= 100),
        |qb AS (SELECT l_partkey, count(DISTINCT l_orderkey) AS m
        |       FROM lineitem GROUP BY 1),
        |hb AS (SELECT l_partkey, rk FROM (SELECT l_partkey,
        |    row_number() OVER (ORDER BY m DESC, l_partkey) AS rk FROM qb)
        |  WHERE rk <= 100),
        |cj AS (SELECT greatest(ha.rk, hb.rk) AS dm
        |       FROM ha JOIN hb USING (l_partkey)),
        |cnt AS (SELECT dm, CAST(count(*) AS BIGINT) AS c FROM cj GROUP BY 1),
        |g AS (SELECT w.d, w.wt, coalesce(cnt.c, 0) AS c
        |      FROM w LEFT JOIN cnt ON cnt.dm = w.d),
        |x AS (SELECT d, wt,
        |    sum(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS x FROM g),
        |t AS (SELECT d, x, CAST(round(CAST(wt * x AS DOUBLE)
        |    / CAST(d * 1000000 AS DOUBLE), 6) AS DECIMAL(18,6)) AS term
        |  FROM x)
        |SELECT CAST(100 AS BIGINT) AS depth,
        |  CAST(max(x) AS BIGINT) AS n_conjoint,
        |  round(CAST(sum(term) AS DOUBLE)
        |    * (CAST(100000 AS DOUBLE) / CAST(1000000 AS DOUBLE)), 6) AS rbo
        |FROM t""".stripMargin,
    "q130_ab_test" ->
      // DECIMAL-exact sums; each double is one fixed tree, rounded 6dp
      """WITH ev AS (SELECT
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
        |         AS BIGINT) % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
        |  CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |arms AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
        |         sum(v) AS s, sum(v * v) AS ss FROM ev GROUP BY arm),
        |a AS (SELECT n AS n_a, s AS s_a, ss AS ss_a FROM arms WHERE arm = 'A'),
        |b AS (SELECT n AS n_b, s AS s_b, ss AS ss_b FROM arms WHERE arm = 'B'),
        |x AS (SELECT n_a, n_b,
        |  CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
        |  CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
        |  (CAST(ss_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
        |     / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0) AS var_a,
        |  (CAST(ss_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
        |     / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0) AS var_b
        | FROM a CROSS JOIN b)
        |SELECT n_a, n_b, round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
        |  round(var_a, 6) AS var_a, round(var_b, 6) AS var_b,
        |  round((mean_a - mean_b) /
        |    sqrt(var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE)), 6)
        |    AS t_welch
        |FROM x""".stripMargin,
    "q153_mann_whitney" ->
      // midranks over the distinct-value frame, kept exact as x2
      // integers; the one-row normal approximation mirrors the Spark
      // float-op order term for term
      """WITH ev AS (SELECT value AS v, event_type = 'purchase' AS a
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |    AND value IS NOT NULL),
        |pv AS (SELECT v, CAST(count(*) AS BIGINT) AS t,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ta
        |  FROM ev GROUP BY v),
        |rk AS (SELECT v, t, ta,
        |    CAST(coalesce(sum(t) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |      PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below FROM pv),
        |m AS (SELECT CAST(sum(ta) AS BIGINT) AS n_a,
        |    CAST(sum(t - ta) AS BIGINT) AS n_b,
        |    CAST(sum(ta * (2 * below + t + 1)) AS BIGINT) AS r_a_x2,
        |    CAST(sum(t * t * t - t) AS BIGINT) AS tie3 FROM rk)
        |SELECT n_a, n_b, r_a_x2 - n_a * (n_a + 1) AS u_a_x2,
        |  round(CAST(r_a_x2 - n_a * (n_a + 1) - n_a * n_b AS DOUBLE)
        |    / (CAST(2 AS DOUBLE) * sqrt(
        |        CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(12 AS DOUBLE)
        |          * (CAST(n_a + n_b + 1 AS DOUBLE)
        |            - CAST(tie3 AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE)
        |              * CAST(n_a + n_b - 1 AS DOUBLE))))), 6) AS z
        |FROM m""".stripMargin,
    "q159_benford" ->
      // 6-dp DECIMAL chi-square terms -> order-independent sum; digit
      // from the exact integer part's first character
      """WITH b AS (SELECT o_orderstatus AS g,
        |    CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
        |      1, 1) AS INT) AS digit
        |  FROM orders WHERE o_totalprice >= 1),
        |obs AS (SELECT g, digit, CAST(count(*) AS BIGINT) AS n_obs
        |        FROM b GROUP BY g, digit),
        |dense AS (SELECT gg.g, d.digit,
        |    CAST(coalesce(obs.n_obs, 0) AS BIGINT) AS n_obs
        |  FROM (SELECT DISTINCT g FROM obs) gg
        |  CROSS JOIN range(1, 10) d(digit)
        |  LEFT JOIN obs ON obs.g = gg.g AND obs.digit = d.digit),
        |p AS (SELECT g, CAST(digit AS INT) AS digit, n_obs,
        |    log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) AS pp FROM dense),
        |s AS (SELECT g, CAST(sum(n_obs) AS BIGINT) AS n FROM p GROUP BY g),
        |t AS (SELECT p.g, p.digit, p.n_obs,
        |    CAST(round(pp * 1e6) AS BIGINT) AS expected_ppm,
        |    CAST(round((CAST(p.n_obs AS DOUBLE) - CAST(s.n AS DOUBLE) * pp)
        |        * (CAST(p.n_obs AS DOUBLE) - CAST(s.n AS DOUBLE) * pp)
        |        / (CAST(s.n AS DOUBLE) * pp), 6) AS DECIMAL(18,6)) AS term
        |  FROM p JOIN s ON s.g = p.g),
        |c AS (SELECT g, CAST(sum(term) AS DOUBLE) + 0.0 AS chi2
        |      FROM t GROUP BY g)
        |SELECT t.g AS o_orderstatus, t.digit, t.n_obs, t.expected_ppm, c.chi2
        |FROM t JOIN c ON c.g = t.g ORDER BY o_orderstatus, digit""".stripMargin,
    "q163_ks_test" ->
      // exact integer ECDF numerators; one float ratio at the end;
      // argmax tie-broken to the smallest value
      """WITH ev AS (SELECT value AS v, event_type = 'purchase' AS a
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |    AND value IS NOT NULL),
        |pv AS (SELECT v,
        |    CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM ev GROUP BY v),
        |cum AS (SELECT v,
        |    CAST(sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cuma,
        |    CAST(sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cumb
        |  FROM pv),
        |tot AS (SELECT max(cuma) AS n_a, max(cumb) AS n_b FROM cum),
        |d AS (SELECT cum.v, tot.n_a, tot.n_b,
        |    abs(cuma * tot.n_b - cumb * tot.n_a) AS dnum
        |  FROM cum CROSS JOIN tot)
        |SELECT n_a, n_b, dnum AS d_num,
        |  round(CAST(dnum AS DOUBLE)
        |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS ks_d,
        |  v AS at_value
        |FROM d ORDER BY dnum DESC, v ASC LIMIT 1""".stripMargin,
    "q176_chi_square" ->
      // full |A|x|B| grid including zero cells; per-cell term
      // (o*n - r*c)^2 / (n*r*c) with exact integer operands, rounded
      // 6dp, summed in DECIMAL
      """WITH cells AS (SELECT lang AS a, source AS b, count(*) AS o
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1, 2),
        |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY a),
        |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY b),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |  count(DISTINCT a) AS n_a, count(DISTINCT b) AS n_b FROM cells),
        |grid AS (SELECT rt.a, ct.b, rt.r, ct.c, coalesce(cells.o, 0) AS o
        |  FROM rt CROSS JOIN ct
        |  LEFT JOIN cells ON cells.a = rt.a AND cells.b = ct.b),
        |terms AS (SELECT t.n, t.n_a, t.n_b,
        |  CAST(round(CAST(CAST(g.o * t.n - g.r * g.c AS DECIMAL(19,0)) *
        |      CAST(g.o * t.n - g.r * g.c AS DECIMAL(19,0)) AS DOUBLE) /
        |    CAST(t.n * g.r * g.c AS DOUBLE), 6) AS DECIMAL(18,6)) AS term
        | FROM grid g CROSS JOIN tot t),
        |agg AS (SELECT n, n_a, n_b, CAST(sum(term) AS DECIMAL(28,6)) AS chi2d
        |  FROM terms GROUP BY 1, 2, 3)
        |SELECT n, n_a, n_b, CAST((n_a - 1) * (n_b - 1) AS BIGINT) AS dof,
        |  CAST(chi2d AS DOUBLE) AS chi2,
        |  CASE WHEN least(n_a, n_b) <= 1 THEN NULL
        |    ELSE round(sqrt(CAST(chi2d AS DOUBLE) /
        |      CAST(n * (least(n_a, n_b) - 1) AS DOUBLE)), 6) END AS cramers_v
        |FROM agg""".stripMargin,
    "q177_spearman" ->
      // midranks (x2, exact integers) from the distinct-value frames;
      // Pearson over ranks with DECIMAL(19,0)x(19,0) cross-products
      """WITH base AS (SELECT event_type AS g, value AS x,
        |  CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS y
        | FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |xv AS (SELECT g, x, count(*) AS t FROM base GROUP BY 1, 2),
        |xr AS (SELECT g, x, 2 * coalesce(sum(t) OVER
        |  (PARTITION BY g ORDER BY x
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1
        |  AS mx2 FROM xv),
        |yv AS (SELECT g, y, count(*) AS t FROM base GROUP BY 1, 2),
        |yr AS (SELECT g, y, 2 * coalesce(sum(t) OVER
        |  (PARTITION BY g ORDER BY y
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1
        |  AS my2 FROM yv),
        |rk AS (SELECT b.g, xr.mx2, yr.my2 FROM base b
        |  JOIN xr ON xr.g = b.g AND xr.x = b.x
        |  JOIN yr ON yr.g = b.g AND yr.y = b.y),
        |m AS (SELECT g, count(*) AS n, sum(mx2) AS sx, sum(my2) AS sy,
        |  sum(mx2 * my2) AS sxy, sum(mx2 * mx2) AS sxx,
        |  sum(my2 * my2) AS syy FROM rk GROUP BY g),
        |f AS (SELECT g, n,
        |  CAST(n AS DECIMAL(19,0)) * CAST(sxy AS DECIMAL(19,0)) -
        |    CAST(sx AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0)) AS num,
        |  CAST(n AS DECIMAL(19,0)) * CAST(sxx AS DECIMAL(19,0)) -
        |    CAST(sx AS DECIMAL(19,0)) * CAST(sx AS DECIMAL(19,0)) AS vx,
        |  CAST(n AS DECIMAL(19,0)) * CAST(syy AS DECIMAL(19,0)) -
        |    CAST(sy AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0)) AS vy
        | FROM m)
        |SELECT g AS event_type, n,
        |  CASE WHEN vx = 0 OR vy = 0 THEN NULL
        |    ELSE round(CAST(num AS DOUBLE) /
        |      sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)), 6) END AS rho
        |FROM f ORDER BY event_type""".stripMargin,
    "q182_kappa" ->
      // replay the lang-ID argmax (q20's fragment), then kappa in its
      // cleared-denominator integer form; one float divide per stat
      s"""WITH t AS (SELECT lang, $SqlToks AS toks FROM documents),
         |sc AS (SELECT lang,
         | len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','mit'))) AS s_de,
         | len(list_filter(toks, x -> x IN ('the','a','is','of','and','to','in','it'))) AS s_en,
         | len(list_filter(toks, x -> x IN ('el','la','y','es','de','que','un','en'))) AS s_es,
         | len(list_filter(toks, x -> x IN ('le','la','et','est','les','des','un','une'))) AS s_fr
         | FROM t),
         |lab AS (SELECT lang AS b,
         | CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
         |      WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         |      WHEN s_es >= s_de AND s_es >= s_en AND s_es >= s_fr THEN 'es'
         |      WHEN s_fr >= s_de AND s_fr >= s_en AND s_fr >= s_es THEN 'fr'
         |      ELSE 'und' END AS a
         | FROM sc WHERE lang IS NOT NULL),
         |cells AS (SELECT a, b, count(*) AS o FROM lab GROUP BY 1, 2),
         |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY a),
         |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY b),
         |pe AS (SELECT CAST(coalesce(sum(CAST(r * c AS DECIMAL(19,0))), 0)
         |    AS DECIMAL(19,0)) AS rc
         |  FROM rt JOIN ct ON rt.a = ct.b),
         |ag AS (SELECT CAST(coalesce(sum(o), 0) AS BIGINT) AS d
         |  FROM cells WHERE a = b),
         |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells)
         |SELECT n, d AS n_agree,
         | round(CAST(d AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
         | round(CAST(rc AS DOUBLE) / CAST(n * n AS DOUBLE), 6) AS pe,
         | CASE WHEN CAST(n * n AS DECIMAL(19,0)) = rc THEN NULL
         |   ELSE round(CAST(CAST(n AS DECIMAL(19,0)) * CAST(d AS DECIMAL(19,0))
         |       - rc AS DOUBLE) /
         |     CAST(CAST(n * n AS DECIMAL(19,0)) - rc AS DOUBLE), 6) END AS kappa
         |FROM tot CROSS JOIN ag CROSS JOIN pe""".stripMargin,
    "q215_mutual_info" ->
      // observed cells only (zero cells contribute 0 to MI); per-cell
      // c*round(ln(c*n/(r*cc)),6) summed in DECIMAL
      """WITH cells AS (SELECT lang AS a, source AS b, count(*) AS o
        |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1, 2),
        |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY a),
        |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY b),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |  count(DISTINCT a) AS n_a, count(DISTINCT b) AS n_b FROM cells),
        |terms AS (SELECT t.n, t.n_a, t.n_b,
        |  CAST(cells.o * CAST(round(ln(CAST(cells.o * t.n AS DOUBLE) /
        |      CAST(rt.r * ct.c AS DOUBLE)), 6) AS DECIMAL(18,6))
        |    AS DECIMAL(28,6)) AS term
        | FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tot t),
        |agg AS (SELECT n, n_a, n_b, CAST(sum(term) AS DECIMAL(28,6)) AS s
        |  FROM terms GROUP BY 1, 2, 3)
        |SELECT n, n_a, n_b, CAST(s AS DOUBLE) AS sum_cmi,
        | round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mi
        |FROM agg""".stripMargin)
}
