package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Experiment-readout metrics beyond the plain mean difference (q130
  * Welch): the delta-method CI for RATIO metrics and the
  * sample-ratio-mismatch guardrail — the two checks that make an A/B
  * dashboard trustworthy before anyone reads its effect sizes.
  *
  * Both follow the exact-moment discipline: one hash aggregation
  * accumulating DECIMAL sums, every published double one fixed float
  * tree rounded 6 dp.
  */
object ExperimentMetrics {

  /** Delta-method CI for the ratio metric `R = Σx/Σy` over per-unit
    * rows (x = numerator mass, y = denominator mass per user/session —
    * the "revenue per click" shape whose naive per-row variance is
    * wrong because units, not rows, are independent). Variance by the
    * standard expansion
    * `Var(R) ≈ (σx² − 2R·σxy + R²·σy²) / (n·ȳ²)`, CI at the supplied
    * z. One output row:
    * `(n, r, se, ci_lo, ci_hi)`; NULL when Σy = 0 or n < 2.
    * Inputs are integer measures (cents/counts); all five moments are
    * exact DECIMAL.
    */
  def ratioDeltaCi(df: DataFrame, xCol: String, yCol: String,
                   z: Double = 1.959964): DataFrame = {
    val m = df.select(col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast("decimal(19,0)")).as("__sx"),
        sum(col("__y").cast("decimal(19,0)")).as("__sy"),
        sum((col("__x").cast("decimal(18,0)") *
          col("__x").cast("decimal(18,0)"))).as("__sxx"),
        sum((col("__y").cast("decimal(18,0)") *
          col("__y").cast("decimal(18,0)"))).as("__syy"),
        sum((col("__x").cast("decimal(18,0)") *
          col("__y").cast("decimal(18,0)"))).as("__sxy"))
    val nD = col("n").cast("double")
    val r = col("__sx").cast("double") / col("__sy").cast("double")
    val varx = (col("__sxx").cast("double") -
      col("__sx").cast("double") * col("__sx").cast("double") / nD) /
      (nD - 1.0)
    val vary = (col("__syy").cast("double") -
      col("__sy").cast("double") * col("__sy").cast("double") / nD) /
      (nD - 1.0)
    val covxy = (col("__sxy").cast("double") -
      col("__sx").cast("double") * col("__sy").cast("double") / nD) /
      (nD - 1.0)
    val ybar = col("__sy").cast("double") / nD
    val se = sqrt((varx - lit(2.0) * r * covxy + r * r * vary) /
      (nD * ybar * ybar))
    m.select(col("n"),
        when(col("n") >= 2L && col("__sy") =!= 0L,
          round(r, 6) + 0.0).as("r"),
        when(col("n") >= 2L && col("__sy") =!= 0L,
          round(se, 6) + 0.0).as("se"),
        when(col("n") >= 2L && col("__sy") =!= 0L,
          round(r - lit(z) * se, 6) + 0.0).as("ci_lo"),
        when(col("n") >= 2L && col("__sy") =!= 0L,
          round(r + lit(z) * se, 6) + 0.0).as("ci_hi"))
  }

  /** Minimum detectable effect at the experiment's CURRENT sample
    * sizes — the planning readout that answers "is this test even
    * capable of seeing the effect we care about" BEFORE anyone stares
    * at an inconclusive p-value:
    * `MDE = (z_{α/2} + z_{power})·sqrt(s_p²·(1/n_a + 1/n_b))` with the
    * pooled variance from exact DECIMAL moments. Defaults: α = 0.05
    * two-sided, 80% power. One row:
    * `(n_a, n_b, sd_pooled, mde_abs, mde_rel)` — `mde_rel` is the
    * absolute MDE over the pooled mean. NULL when a variance or mean
    * degenerates.
    */
  def mdeCheck(df: DataFrame, armCol: String, valueCol: String,
               zAlpha: Double = 1.959964,
               zPower: Double = 0.8416212335729143): DataFrame = {
    val m = df.select(col(armCol).cast("boolean").as("__a"),
        col(valueCol).cast("long").as("__y"))
      .filter(col("__a").isNotNull && col("__y").isNotNull)
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("n_b"),
        sum(when(col("__a"), col("__y").cast("decimal(19,0)"))
          .otherwise(lit(0L).cast("decimal(19,0)"))).as("__sa"),
        sum(when(col("__a"), lit(0L).cast("decimal(19,0)"))
          .otherwise(col("__y").cast("decimal(19,0)"))).as("__sb"),
        sum(when(col("__a"), col("__y").cast("decimal(18,0)") *
          col("__y").cast("decimal(18,0)"))
          .otherwise(lit(0L).cast("decimal(18,0)"))).as("__ssa"),
        sum(when(col("__a"), lit(0L).cast("decimal(18,0)"))
          .otherwise(col("__y").cast("decimal(18,0)") *
            col("__y").cast("decimal(18,0)"))).as("__ssb"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val va = (col("__ssa").cast("double") -
      col("__sa").cast("double") * col("__sa").cast("double") / naD) /
      (naD - 1.0)
    val vb = (col("__ssb").cast("double") -
      col("__sb").cast("double") * col("__sb").cast("double") / nbD) /
      (nbD - 1.0)
    val sp2 = ((naD - 1.0) * va + (nbD - 1.0) * vb) / (naD + nbD - 2.0)
    val mde = lit(zAlpha + zPower) *
      sqrt(sp2 * (lit(1.0) / naD + lit(1.0) / nbD))
    val mean = (col("__sa") + col("__sb")).cast("double") / (naD + nbD)
    val ok = col("n_a") >= 2L && col("n_b") >= 2L
    m.select(col("n_a"), col("n_b"),
      when(ok, round(sqrt(sp2), 6) + 0.0).as("sd_pooled"),
      when(ok, round(mde, 6) + 0.0).as("mde_abs"),
      when(ok && mean =!= 0.0, round(mde / mean, 6) + 0.0).as("mde_rel"))
  }

  /** Jackknife CI for the ratio metric — [[ratioDeltaCi]]'s
    * assumption-free sibling (the delta method linearizes; the
    * jackknife just recomputes): each unit's leave-one-out ratio
    * `R₋ᵢ = (Σx − xᵢ)/(Σy − yᵢ)` is a closed form off the global
    * sums, so the "n recomputations" collapse into ONE pass with a
    * 1-row broadcast. Cross-row variance mass uses the rounded-term
    * DECIMAL transport on CENTERED values (`sᵢ = R₋ᵢ − R`, rounded
    * 6 dp): centering keeps every decimal's unscaled value far below
    * 2^53, where BOTH engines' decimal↔double conversions are exact —
    * the uncentered Σr² would double-round differently per engine.
    * One row: `(n, n_jk, r, se_jk, ci_lo, ci_hi)`; units whose
    * removal empties the denominator drop from the jackknife
    * (n_jk < n published honestly).
    */
  def ratioJackknifeCi(df: DataFrame, xCol: String, yCol: String,
                       z: Double = 1.959964): DataFrame = {
    val v = df.select(col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      // read by the sums AND the per-row pass — materialize once
      .transform(Checkpoint(_))
    val tot = v.agg(count(lit(1)).as("n"),
      sum(col("__x").cast("decimal(19,0)")).as("__sx"),
      sum(col("__y").cast("decimal(19,0)")).as("__sy"))
    val center = round(col("__sx").cast("double") /
      col("__sy").cast("double"), 6)
    val jk = v.crossJoin(broadcast(tot))
      .filter(col("__sy") - col("__y") > 0L)
      .withColumn("__s",
        round((col("__sx") - col("__x")).cast("double") /
          (col("__sy") - col("__y")).cast("double") - center, 6)
          .cast("decimal(18,6)"))
      .agg(count(lit(1)).as("n_jk"), sum(col("__s")).as("__ss"),
        sum(col("__s") * col("__s")).as("__ss2"))
    val nJ = col("n_jk").cast("double")
    val varJk = (nJ - 1.0) / nJ *
      (col("__ss2").cast("double") -
        col("__ss").cast("double") * col("__ss").cast("double") / nJ)
    jk.crossJoin(broadcast(tot))
      .withColumn("__r", round(col("__sx").cast("double") /
        col("__sy").cast("double"), 6) + 0.0)
      .withColumn("__se",
        when(col("n_jk") >= 2L && varJk >= 0.0,
          round(sqrt(varJk), 6) + 0.0))
      .select(col("n"), col("n_jk"), col("__r").as("r"),
        col("__se").as("se_jk"),
        when(col("__se").isNotNull,
          round(col("__r") - lit(z) * col("__se"), 6) + 0.0).as("ci_lo"),
        when(col("__se").isNotNull,
          round(col("__r") + lit(z) * col("__se"), 6) + 0.0).as("ci_hi"))
  }

  /** Fisher's index-of-dispersion test on per-unit counts: under a
    * Poisson model `D = Σ(x − x̄)²/x̄ ~ χ²_{n−1}`, so
    * `z = (D − (n−1))/√(2(n−1))` flags OVER-dispersion — the check
    * that decides whether per-user event counts can be modeled
    * Poisson or need a negative-binomial (burstiness), which changes
    * every downstream variance estimate. Exact DECIMAL moments; D
    * and z are single float trees; flag at the one-sided 0.05
    * critical value. One row:
    * `(n, mean, dispersion, z, overdispersed)`.
    */
  def dispersionIndex(df: DataFrame, countCol: String): DataFrame = {
    val m = df.select(col(countCol).cast("long").as("__x"))
      .filter(col("__x").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast("decimal(19,0)")).as("__s"),
        sum(col("__x").cast("decimal(18,0)") *
          col("__x").cast("decimal(18,0)")).as("__ss"))
    val nD = col("n").cast("double")
    val mean = col("__s").cast("double") / nD
    val disp = (col("__ss").cast("double") -
      col("__s").cast("double") * col("__s").cast("double") / nD) / mean
    val z = (disp - (nD - 1.0)) / sqrt(lit(2.0) * (nD - 1.0))
    val ok = col("n") >= 2L && col("__s") > 0L
    m.select(col("n"),
      when(ok, round(mean, 6) + 0.0).as("mean"),
      when(ok, round(disp, 6) + 0.0).as("dispersion"),
      when(ok, round(z, 6) + 0.0).as("z"),
      when(ok, z > 1.644854).as("overdispersed"))
  }

  /** Sample-ratio-mismatch check: a 1-dof chi-square goodness-of-fit
    * of the two arm sizes against the intended 50/50 —
    * `χ² = (n_a − n_b)²/(n_a + n_b)`, flagged past the 0.05 critical
    * value 3.841459. The cheapest, highest-yield experiment guardrail:
    * an SRM means assignment or logging is broken and every downstream
    * metric is untrustworthy. One row:
    * `(n_a, n_b, chi2, srm_flag)`.
    */
  def srmCheck(df: DataFrame, armCol: String): DataFrame =
    df.select(col(armCol).cast("boolean").as("__a"))
      .filter(col("__a").isNotNull)
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("__a"), 0L).otherwise(1L)).as("n_b"))
      .select(col("n_a"), col("n_b"),
        (round((col("n_a") - col("n_b")).cast("double") *
          (col("n_a") - col("n_b")).cast("double") /
          (col("n_a") + col("n_b")).cast("double"), 6) + 0.0).as("chi2"))
      .withColumn("srm_flag", col("chi2") > 3.841459)
}
