package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Observational causal estimators — nearest-neighbor caliper
  * matching (the ATT workhorse when treatment wasn't randomized) and
  * difference-in-differences (the pre/post × treated/control panel
  * estimator). Both publish exact integer counts/sums with single
  * float trees, the q130 experiment-readout discipline.
  *
  * Matching scale shape: the treated×control pairing is NEVER
  * all-pairs — candidates come from a BANDED equi-join on
  * `floor(score/caliper)` (each treated row meets only the three
  * adjacent score bands, the [[graft.plans.RangeJoinBandingRule]]
  * trick done by hand), and the per-treated nearest control is a
  * lexicographic struct-min hash aggregation — no window over the
  * candidate expansion, no sort. Cost is O(candidate pairs), bounded
  * by score-band density, not |T|·|C|.
  */
object Matching {

  /** 1-NN-with-replacement caliper matching + ATT readout: rows carry
    * `(treatedCol boolean, scoreCol, outcomeCol)` (integer score and
    * outcome, e.g. cents). Each treated row matches the control with
    * the smallest |score difference| ≤ caliper (ties → smaller control
    * score, then smaller control id — total and engine-stable).
    * One output row:
    * `(n_treated, n_control, n_matched, matched_ppm, mean_treated,
    * mean_control, att)` where the means are over MATCHED pairs and
    * `att = mean(outcome_t − outcome_c)`, one float tree each.
    */
  def caliperMatchAtt(df: DataFrame, idCol: String, treatedCol: String,
                      scoreCol: String, outcomeCol: String,
                      caliper: Long): DataFrame = {
    require(caliper > 0L, "caliper must be positive")
    val v = df.select(col(idCol).cast("long").as("__id"),
        col(treatedCol).cast("boolean").as("__t"),
        col(scoreCol).cast("long").as("__s"),
        col(outcomeCol).cast("long").as("__o"))
      .filter(col("__id").isNotNull && col("__t").isNotNull &&
        col("__s").isNotNull && col("__o").isNotNull)
      // both branches below re-read this projection — tiny vs the
      // upstream join that typically builds the outcome column
      .transform(Checkpoint(_))
    // floor(score/caliper) via (s − pmod) DIV c: exact for NEGATIVE
    // scores too (pmod ≥ 0 makes the numerator an exact multiple of c,
    // so truncating DIV equals floor) — pure 64-bit integer throughout;
    // a `/` here is DOUBLE division under Spark SQL and loses ulps for
    // |score|/caliper beyond 2^53
    def band(s: String) =
      expr(s"($s - pmod($s, ${caliper}L)) DIV ${caliper}L")
    val t = v.filter(col("__t"))
      .select(col("__id").as("__tid"), col("__s").as("__ts"),
        col("__o").as("__to"))
      .withColumn("__band", band("__ts"))
    val c = v.filter(!col("__t"))
      .select(col("__id").as("__cid"), col("__s").as("__cs"),
        col("__o").as("__co"))
      // a control is a candidate for the three adjacent bands — the
      // inline replication that makes the pairing an EQUI-join
      .withColumn("__d", explode(expr("sequence(-1L, 1L)")))
      .withColumn("__band", band("__cs") + col("__d"))
      .drop("__d")
    val matched = t.join(c, Seq("__band"))
      .filter(abs(col("__ts") - col("__cs")) <= caliper)
      .groupBy(col("__tid"), col("__to"))
      // lexicographic struct-min = (|Δ|, control score, control id)
      .agg(min(struct(abs(col("__ts") - col("__cs")).as("__d"),
        col("__cs"), col("__cid"), col("__co"))).as("__best"))
      .select(col("__tid"), col("__to"), col("__best.__co").as("__co"))
    val counts = v.agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("n_treated"),
      sum(when(col("__t"), 0L).otherwise(1L)).as("n_control"))
    matched.agg(count(lit(1)).as("n_matched"),
        sum(col("__to").cast("decimal(19,0)")).as("__st"),
        sum(col("__co").cast("decimal(19,0)")).as("__sc"))
      .crossJoin(broadcast(counts))
      .select(col("n_treated"), col("n_control"), col("n_matched"),
        expr("1000000 * n_matched DIV n_treated").as("matched_ppm"),
        when(col("n_matched") > 0L, round(col("__st").cast("double") /
          col("n_matched").cast("double"), 6) + 0.0).as("mean_treated"),
        when(col("n_matched") > 0L, round(col("__sc").cast("double") /
          col("n_matched").cast("double"), 6) + 0.0).as("mean_control"),
        when(col("n_matched") > 0L, round(
          (col("__st") - col("__sc")).cast("double") /
            col("n_matched").cast("double"), 6) + 0.0).as("att"))
  }

  /** Stratified (sub-classification) ATE — the other classic
    * observational estimator next to [[caliperMatchAtt]]: bucket units
    * by a confounder proxy (`strataCol`), take the treated−control
    * mean gap WITHIN each stratum over the common support (both arms
    * present), and average the gaps weighted by stratum size. The
    * published `naive_diff` (pooled, unadjusted) sits alongside so
    * the confounding correction is visible.
    *
    * One hash aggregation to the strata frame; exact DECIMAL sums.
    * Cross-stratum combination uses the q131 rounded-term transport:
    * each per-stratum gap is ONE float tree rounded 6 dp and carried
    * as DECIMAL(18,6) — portable because |gap| stays far below the
    * ~4.5e9 magnitude where a 6-dp rounding stops pinning the double
    * (documented contract: integer outcomes under ~1e9).
    * Output: `(n_strata, n_common, n_treated, n_control, naive_diff,
    * ate_strat)`.
    */
  def stratifiedAte(df: DataFrame, treatedCol: String, strataCol: String,
                    outcomeCol: String): DataFrame = {
    val v = df.select(col(treatedCol).cast("boolean").as("__t"),
        col(strataCol).as("__b"), col(outcomeCol).cast("long").as("__y"))
      .filter(col("__t").isNotNull && col("__b").isNotNull &&
        col("__y").isNotNull)
    val strata = v.groupBy(col("__b"))
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("__nt"),
        sum(when(col("__t"), 0L).otherwise(1L)).as("__nc"),
        sum(when(col("__t"), col("__y").cast("decimal(19,0)"))
          .otherwise(lit(0L).cast("decimal(19,0)"))).as("__st"),
        sum(when(col("__t"), lit(0L).cast("decimal(19,0)"))
          .otherwise(col("__y").cast("decimal(19,0)"))).as("__sc"))
      .withColumn("__common", col("__nt") > 0L && col("__nc") > 0L)
      .withColumn("__gap",
        when(col("__common"),
          round(col("__st").cast("double") / col("__nt").cast("double") -
            col("__sc").cast("double") / col("__nc").cast("double"), 6)
            .cast("decimal(18,6)")))
    val naive = v.agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("n_treated"),
      sum(when(col("__t"), 0L).otherwise(1L)).as("n_control"),
      sum(when(col("__t"), col("__y").cast("decimal(19,0)"))
        .otherwise(lit(0L).cast("decimal(19,0)"))).as("__st"),
      sum(when(col("__t"), lit(0L).cast("decimal(19,0)"))
        .otherwise(col("__y").cast("decimal(19,0)"))).as("__sc"))
    strata.agg(count(lit(1)).as("n_strata"),
        sum(when(col("__common"), 1L).otherwise(0L)).as("n_common"),
        sum(when(col("__common"),
          (col("__nt") + col("__nc")).cast("decimal(12,0)") *
            col("__gap")).otherwise(lit(null))).as("__wsum"),
        sum(when(col("__common"), col("__nt") + col("__nc"))
          .otherwise(0L)).as("__nw"))
      .crossJoin(broadcast(naive))
      .select(col("n_strata"), col("n_common"), col("n_treated"),
        col("n_control"),
        when(col("n_treated") > 0L && col("n_control") > 0L,
          round(col("__st").cast("double") / col("n_treated").cast("double")
            - col("__sc").cast("double") / col("n_control").cast("double"),
            6) + 0.0).as("naive_diff"),
        when(col("__nw") > 0L,
          round(col("__wsum").cast("double") / col("__nw").cast("double"),
            6) + 0.0).as("ate_strat"))
  }

  /** Mantel–Haenszel pooled odds ratio over K strata of 2×2 tables —
    * the binary-outcome sibling of [[stratifiedAte]] (Mantel &
    * Haenszel 1959): `OR_MH = Σᵢ(aᵢdᵢ/nᵢ) / Σᵢ(bᵢcᵢ/nᵢ)` weights each
    * stratum's odds ratio by its information content, giving the
    * confounder-adjusted association a pooled 2×2 would misstate.
    * One hash aggregation to the strata frame; each stratum's ad/n
    * and bc/n term is ONE float tree rounded 6 dp re-summed in
    * DECIMAL (counts-bounded magnitudes — safely inside the
    * transport's validity). One row:
    * `(k_strata, k_informative, sum_ad_n, sum_bc_n, or_mh)`; strata
    * with an empty margin contribute zero to both sums (standard),
    * `k_informative` counts those with both sums positive; NULL OR
    * when the denominator mass is zero.
    */
  def mantelHaenszelOr(df: DataFrame, strataCol: String,
                       exposedCol: String, outcomeCol: String): DataFrame = {
    val v = df.select(col(strataCol).as("__s"),
        col(exposedCol).cast("boolean").as("__e"),
        col(outcomeCol).cast("boolean").as("__o"))
      .filter(col("__s").isNotNull && col("__e").isNotNull &&
        col("__o").isNotNull)
    val strata = v.groupBy(col("__s"))
      .agg(sum(when(col("__e") && col("__o"), 1L).otherwise(0L)).as("__a"),
        sum(when(col("__e") && !col("__o"), 1L).otherwise(0L)).as("__b"),
        sum(when(!col("__e") && col("__o"), 1L).otherwise(0L)).as("__c"),
        sum(when(!col("__e") && !col("__o"), 1L).otherwise(0L)).as("__d"),
        count(lit(1)).as("__n"))
      .withColumn("__adn",
        round((col("__a") * col("__d")).cast("double") /
          col("__n").cast("double"), 6).cast("decimal(18,6)"))
      .withColumn("__bcn",
        round((col("__b") * col("__c")).cast("double") /
          col("__n").cast("double"), 6).cast("decimal(18,6)"))
      .withColumn("__inf", col("__adn") > 0.0 && col("__bcn") > 0.0)
    strata.agg(count(lit(1)).as("k_strata"),
        sum(when(col("__inf"), 1L).otherwise(0L)).as("k_informative"),
        sum(col("__adn")).as("__sad"), sum(col("__bcn")).as("__sbc"))
      .select(col("k_strata"), col("k_informative"),
        (col("__sad").cast("double") + 0.0).as("sum_ad_n"),
        (col("__sbc").cast("double") + 0.0).as("sum_bc_n"),
        when(col("__sbc") > 0.0,
          round(col("__sad").cast("double") / col("__sbc").cast("double"),
            6) + 0.0).as("or_mh"))
  }

  /** Difference-in-differences over a 2×2 panel: `groupCol` (treated
    * vs control, boolean) × `postCol` (pre vs post, boolean) cell
    * means of the integer `valueCol`, and
    * `did = (m_t_post − m_t_pre) − (m_c_post − m_c_pre)` — the
    * parallel-trends estimator. One hash aggregation; exact DECIMAL
    * cell sums; each published double is one fixed tree rounded 6 dp.
    * Output: `(n_t_pre, n_t_post, n_c_pre, n_c_post, m_t_pre,
    * m_t_post, m_c_pre, m_c_post, did)`; NULL did if any cell is
    * empty.
    */
  def didEstimate(df: DataFrame, groupCol: String, postCol: String,
                  valueCol: String): DataFrame = {
    val v = df.select(col(groupCol).cast("boolean").as("__g"),
        col(postCol).cast("boolean").as("__p"),
        col(valueCol).cast("long").as("__y"))
      .filter(col("__g").isNotNull && col("__p").isNotNull &&
        col("__y").isNotNull)
    def cellN(g: Boolean, p: Boolean) =
      sum(when(col("__g") === g && col("__p") === p, 1L).otherwise(0L))
    def cellS(g: Boolean, p: Boolean) =
      sum(when(col("__g") === g && col("__p") === p,
        col("__y").cast("decimal(19,0)")).otherwise(lit(0L).cast("decimal(19,0)")))
    def mean(n: String, s: String) =
      when(col(n) > 0L,
        col(s).cast("double") / col(n).cast("double"))
    v.agg(cellN(true, false).as("n_t_pre"), cellN(true, true).as("n_t_post"),
        cellN(false, false).as("n_c_pre"), cellN(false, true).as("n_c_post"),
        cellS(true, false).as("__s_t_pre"), cellS(true, true).as("__s_t_post"),
        cellS(false, false).as("__s_c_pre"), cellS(false, true).as("__s_c_post"))
      .withColumn("__m_t_pre", mean("n_t_pre", "__s_t_pre"))
      .withColumn("__m_t_post", mean("n_t_post", "__s_t_post"))
      .withColumn("__m_c_pre", mean("n_c_pre", "__s_c_pre"))
      .withColumn("__m_c_post", mean("n_c_post", "__s_c_post"))
      .select(col("n_t_pre"), col("n_t_post"), col("n_c_pre"), col("n_c_post"),
        (round(col("__m_t_pre"), 6) + 0.0).as("m_t_pre"),
        (round(col("__m_t_post"), 6) + 0.0).as("m_t_post"),
        (round(col("__m_c_pre"), 6) + 0.0).as("m_c_pre"),
        (round(col("__m_c_post"), 6) + 0.0).as("m_c_post"),
        (round((col("__m_t_post") - col("__m_t_pre")) -
          (col("__m_c_post") - col("__m_c_pre")), 6) + 0.0).as("did"))
  }
}
