package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Experiment (A/B) analysis with EXACT significance verdicts.
  *
  * The p-value machinery most stacks reach for (normal CDFs, special
  * functions) is transcendental and therefore not bit-portable across
  * engines. The verdict itself doesn't need it: for a 2×2 contingency
  * table, Pearson's χ² ≥ threshold is a POLYNOMIAL inequality in the
  * four cells —
  *
  *   N·(ad − bc)² ≥ χ²_crit · (a+b)(c+d)(a+c)(b+d)
  *
  * — so with the critical value as an exact rational (3.841 = 3841/1000
  * for α = 0.05, df = 1) the whole test is integer arithmetic,
  * evaluated in DECIMAL(38,0) so no realistic cohort size can
  * overflow. Deterministic variant assignment comes from the portable
  * md5 bucket, the same coin every sampling op uses.
  *
  * Scale shape: two mergeable distinct-user aggregates (cohort and
  * converters), one broadcast-sized 2-row join, a single verdict row.
  * The event relation shuffles once per distinct.
  */
object Experiment {

  /** χ²₀.₉₅,₁ × 1000 — the exact rational threshold the verdict uses. */
  val ChiSqCritX1000: Long = 3841L

  /** The DECIMAL(38,0) cast the exact statistics multiply counts in,
    * so no realistic cohort size overflows.
    */
  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** 2×2 conversion test: users split into variants by the md5 bucket
    * of `userCol` mod 2; a user converts when they have ≥ 1
    * `convertType` event. Output is ONE row: per-variant cohort and
    * converter counts, per-mille conversion rates, and the exact
    * significance verdict at α = 0.05.
    */
  /** The 2×2 conversion cells both [[abChisq]] and [[powerMde]] start
    * from: one row `(n_a, conv_a, n_b, conv_b)` — md5-coin variants,
    * distinct-user cohort and converter counts.
    */
  private def conversionCells(events: DataFrame, userCol: String,
                              typeCol: String,
                              convertType: String): DataFrame = {
    val users = events.select(col(userCol).as("u")).distinct()
      .withColumn("variant", Sampling.bucket(col("u"), 2))
    val converted = events.filter(col(typeCol) === convertType)
      .select(col(userCol).as("u")).distinct()
      .withColumn("conv", lit(1L))
    users.join(converted, Seq("u"), "left")
      .groupBy("variant")
      .agg(count(lit(1)).as("n"), sum(coalesce(col("conv"), lit(0L))).as("k"))
      .agg(
        sum(when(col("variant") === 0, col("n")).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 0, col("k")).otherwise(0L)).as("conv_a"),
        sum(when(col("variant") === 1, col("n")).otherwise(0L)).as("n_b"),
        sum(when(col("variant") === 1, col("k")).otherwise(0L)).as("conv_b"))
  }

  def abChisq(events: DataFrame, userCol: String = "user_id",
              typeCol: String = "event_type",
              convertType: String = "purchase"): DataFrame = {
    conversionCells(events, userCol, typeCol, convertType)
      // empty-cohort guard: a degenerate md5 coin (tiny or skewed
      // cohorts) must report a NULL rate, not divide by zero — the
      // same degenerate-table posture as the rhs > 0 verdict guard
      .withColumn("rate_a_pm",
        expr("CASE WHEN n_a > 0 THEN (conv_a * 1000) DIV n_a END"))
      .withColumn("rate_b_pm",
        expr("CASE WHEN n_b > 0 THEN (conv_b * 1000) DIV n_b END"))
      .withColumn("significant", {
        val a = col("conv_a"); val b = col("n_a") - col("conv_a")
        val c = col("conv_b"); val d = col("n_b") - col("conv_b")
        val n = col("n_a") + col("n_b")
        val diff = dec(a) * dec(d) - dec(b) * dec(c)
        val lhs = lit(1000L).cast("decimal(38,0)") * dec(n) * diff * diff
        val rhs = lit(ChiSqCritX1000).cast("decimal(38,0)") *
          dec(a + b) * dec(c + d) * dec(a + c) * dec(b + d)
        // rhs = 0 means a degenerate table (an empty margin — everyone
        // or no one converted, or a variant is empty): χ² is 0/0 there
        // and the honest verdict is NOT significant
        rhs > 0 && lhs >= rhs
      })
  }

  /** (z₀.₀₂₅ + z₀.₂)² × 10⁸ = 28016² — the squared two-sided α = 0.05 /
    * power = 0.8 normal coefficient (1.96 + 0.8416 = 2.8016 exactly)
    * as an exact rational over 10⁸.
    */
  val PowerCoefSqX1e8: Long = 784896256L

  /** A/B POWER ANALYSIS — the minimum detectable effect for the
    * running experiment, the design-side complement of [[abChisq]]'s
    * verdict: with pooled baseline rate p and cohorts n_a/n_b, the
    * two-proportion MDE at α = 0.05, power 0.8 is
    * `δ = (z_{α/2}+z_β)·√(p(1−p)(1/n_a+1/n_b))`. The √ never
    * evaluates: the op emits δ² in per-mille² as
    * `mde_pm2 = (28016² · p_pm·(1000−p_pm) · (n_a+n_b)) DIV
    * (10⁸ · n_a·n_b)`, all formed in DECIMAL(38,0) with truncating
    * DIV (decimal `/` would round HALF_UP and drift from the oracle's
    * floor), and the "was this experiment even big enough for what it
    * saw" answer as the squared comparison `obs_diff_pm² ≥ mde_pm2`.
    * Empty cohorts → honest NULLs.
    *
    * Scale shape: identical to abChisq — two distinct-user aggregates
    * and a single verdict row.
    */
  def powerMde(events: DataFrame, userCol: String = "user_id",
               typeCol: String = "event_type",
               convertType: String = "purchase"): DataFrame = {
    conversionCells(events, userCol, typeCol, convertType)
      .withColumn("p_pool_pm",
        expr("""CASE WHEN n_a + n_b > 0
               |  THEN ((conv_a + conv_b) * 1000) DIV (n_a + n_b) END"""
          .stripMargin))
      .withColumn("mde_pm2",
        expr(s"""CASE WHEN n_a > 0 AND n_b > 0 AND p_pool_pm IS NOT NULL THEN
                |  CAST((CAST($PowerCoefSqX1e8 AS DECIMAL(38,0)) * p_pool_pm
                |        * (1000 - p_pool_pm) * (n_a + n_b))
                |       DIV (CAST(100000000 AS DECIMAL(38,0)) * n_a * n_b)
                |    AS BIGINT) END""".stripMargin))
      .withColumn("rate_a_pm",
        expr("CASE WHEN n_a > 0 THEN (conv_a * 1000) DIV n_a END"))
      .withColumn("rate_b_pm",
        expr("CASE WHEN n_b > 0 THEN (conv_b * 1000) DIV n_b END"))
      .withColumn("obs_diff_pm", abs(col("rate_a_pm") - col("rate_b_pm")))
      .withColumn("powered_detect",
        col("obs_diff_pm") * col("obs_diff_pm") >= col("mde_pm2"))
      .select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
        col("p_pool_pm"), col("mde_pm2"), col("obs_diff_pm"),
        col("powered_detect"))
  }

  /** χ²₀.₉₅,df × 1000 for df = 1..15 — the exact rational critical
    * values the k-variant homogeneity verdict uses (df = k − 1).
    */
  val ChiSqCritX1000ByDf: Map[Int, Long] = Map(
    1 -> 3841L, 2 -> 5991L, 3 -> 7815L, 4 -> 9488L, 5 -> 11070L,
    6 -> 12592L, 7 -> 14067L, 8 -> 15507L, 9 -> 16919L, 10 -> 18307L,
    11 -> 19675L, 12 -> 21026L, 13 -> 22362L, 14 -> 23685L, 15 -> 24996L)

  /** A/B/n — the k-variant conversion homogeneity test WITH per-variant
    * diagnostics (which arm deviates, not just "something differs").
    * Variants come from the md5 coin mod k; with C total converters of
    * N users, the classic identity collapses each variant's two cells
    * into one term: `χ² = Σᵢ Dᵢ² / (nᵢ·C·(N−C))`, `Dᵢ = convᵢ·N − nᵢ·C`
    * (all integers). Each term is emitted in ppm by truncating
    * DECIMAL(38,0) division — a DETERMINISTIC quantisation of the real
    * statistic (error < k/10⁶, far below the 7.815 threshold), identical
    * in both engines because floor-of-integer-division is; the verdict
    * compares the ppm sum against χ²₀.₉₅,₍ₖ₋₁₎·10⁶. Intermediates stay
    * inside 38 digits to N ≈ 10⁸ users.
    *
    * Scale shape: one distinct-user aggregate, a k-row mergeable cell
    * aggregate, totals broadcast back over the k rows.
    */
  def abnChisq(events: DataFrame, variants: Int = 4,
               userCol: String = "user_id", typeCol: String = "event_type",
               convertType: String = "purchase"): DataFrame = {
    require(variants >= 2 && variants <= 16, "abnChisq: 2 <= variants <= 16")
    val users = events.select(col(userCol).as("u")).distinct()
      .withColumn("variant", Sampling.bucket(col("u"), variants))
    val converted = events.filter(col(typeCol) === convertType)
      .select(col(userCol).as("u")).distinct()
      .withColumn("conv", lit(1L))
    val cells = OpCaches.persist(users.join(converted, Seq("u"), "left")
      .groupBy("variant")
      .agg(count(lit(1)).as("n_users"),
        sum(coalesce(col("conv"), lit(0L))).as("n_conv")))
    val tot = broadcast(cells.agg(sum("n_users").as("n_total"),
      sum("n_conv").as("c_total")))
    val perVar = cells.crossJoin(tot)
      .withColumn("rate_pm", expr("(n_conv * 1000) DIV n_users"))
      .withColumn("chi2_ppm",
        expr("""CASE WHEN n_users > 0 AND c_total > 0
               |      AND c_total < n_total THEN
               |  CAST((CAST(1000000 AS DECIMAL(38,0))
               |        * (n_conv * CAST(n_total AS DECIMAL(38,0))
               |           - n_users * CAST(c_total AS DECIMAL(38,0)))
               |        * (n_conv * CAST(n_total AS DECIMAL(38,0))
               |           - n_users * CAST(c_total AS DECIMAL(38,0))))
               |       DIV (CAST(n_users AS DECIMAL(38,0)) * c_total
               |            * (n_total - c_total))
               |    AS BIGINT) ELSE 0 END""".stripMargin))
    val total = broadcast(perVar.agg(sum("chi2_ppm").as("chi2_total_ppm")))
    val critPpm = ChiSqCritX1000ByDf(variants - 1) * 1000L
    perVar.crossJoin(total)
      .withColumn("significant", col("chi2_total_ppm") >= lit(critPpm))
      .select(col("variant"), col("n_users"), col("n_conv"), col("rate_pm"),
        col("chi2_ppm"), col("chi2_total_ppm"), col("significant"))
  }

  /** (1.358)² × 10⁶ — the squared α = 0.05 two-sample KS coefficient
    * as an exact rational, so the verdict needs no square root.
    */
  val KsCritSqX1e6: Long = 1844164L

  /** Two-sample Kolmogorov–Smirnov test, EXACT: the statistic is the
    * max ECDF gap, which only changes at pooled distinct values, so
    * `D·n_a·n_b = max_v |F_a(v)·n_b − F_b(v)·n_a|` is an integer —
    * emitted as the rational `ks_num / ks_den`. The verdict squares
    * the decision inequality `D > c·√((n_a+n_b)/(n_a·n_b))` into
    * `10⁶·K² > c²·10⁶·(n_a+n_b)·n_a·n_b`, evaluated in DECIMAL(38,0)
    * — no float, no √, bit-portable. Cumulative counts ride the
    * range-partitioned prefix sum over the DISTINCT-value relation
    * (two passes over a value-domain-sized table, never a
    * partitionless window over the data).
    */
  def ksTest(df: DataFrame, valueCol: Column,
             inA: Column, inB: Column): DataFrame = {
    val per = OpCaches.persist(
      df.filter(inA || inB)
        .select(valueCol.as("v"),
          when(inA, 1L).otherwise(0L).as("a"),
          when(inB, 1L).otherwise(0L).as("b"))
        .groupBy("v")
        .agg(sum("a").as("na_v"), sum("b").as("nb_v")))
    val fa = Sampling.runningTotal(per, Seq(col("v")), "na_v")
      .withColumnRenamed("running_total", "fa")
    val fab = Sampling.runningTotal(fa, Seq(col("v")), "nb_v")
      .withColumnRenamed("running_total", "fb")
    val tot = broadcast(per.agg(sum("na_v").as("n_a"), sum("nb_v").as("n_b")))
    // the K = D·n_a·n_b statistic and the n_a·n_b denominator are
    // products of two cohort counts: in LongType they silently wrap
    // once n_a·n_b exceeds 2⁶³ (~3×10⁹ rows per arm), so every product
    // is formed in DECIMAL(38,0) and only the OUTPUT columns cast back
    // to BIGINT (NULL — loud, never wrong — beyond ~9×10¹⁸)
    fab.crossJoin(tot)
      .agg(max(abs(dec(col("fa")) * dec(col("n_b")) -
          dec(col("fb")) * dec(col("n_a")))).as("ks_num_d"),
        max("n_a").as("n_a"), max("n_b").as("n_b"))
      .withColumn("ks_den_d", dec(col("n_a")) * dec(col("n_b")))
      .withColumn("reject_05", {
        val k = col("ks_num_d")
        lit(1000000L).cast("decimal(38,0)") * k * k >
          lit(KsCritSqX1e6).cast("decimal(38,0)") *
            dec(col("n_a") + col("n_b")) * col("ks_den_d") &&
          col("ks_den_d") > 0
      })
      .select(col("n_a"), col("n_b"),
        col("ks_num_d").cast("long").as("ks_num"),
        col("ks_den_d").cast("long").as("ks_den"),
        col("reject_05"))
  }

  /** SAMPLE-RATIO-MISMATCH audit — the first thing a trustworthy A/B
    * platform checks before reading any metric: do the realised cohort
    * sizes match the designed 50/50 split? A mismatch means broken
    * assignment/logging and invalidates the experiment regardless of
    * the metric result. χ² goodness-of-fit against 50/50 reduces to
    * `(n_a − n_b)²/n ≥ χ²crit`, so the α = 0.05 verdict is the exact
    * polynomial `1000·(n_a − n_b)² ≥ 3841·n` — evaluated in
    * DECIMAL(38,0) (the count difference squares past 2⁶³ once cohorts
    * pass ~3×10⁹).
    *
    * Scale shape: one distinct-user aggregate (the md5 coin is a pure
    * row function), one two-row mergeable pivot, a single verdict row.
    */
  def srmCheck(events: DataFrame, userCol: String = "user_id"): DataFrame = {
    events.select(col(userCol).as("u")).distinct()
      .withColumn("variant", Sampling.bucket(col("u"), 2))
      .agg(
        sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"))
      .withColumn("mismatch_05", {
        val d = dec(col("n_a")) - dec(col("n_b"))
        val n = dec(col("n_a")) + dec(col("n_b"))
        n > 0 && lit(1000L).cast("decimal(38,0)") * d * d >=
          lit(ChiSqCritX1000).cast("decimal(38,0)") * n
      })
  }

  /** DETERMINISTIC POISSON BOOTSTRAP confidence interval for a mean —
    * the resampling machinery production metric platforms run, made
    * bit-reproducible: replica `b` weights row `k` by a Poisson(1)
    * draw taken from the portable md5 coin on `k:b` (per-mille bucket
    * against the exact Poisson(1) pmf prefix ⌊1000·P(X<j)⌋ =
    * 0/368/736/920/981 — w ∈ {0..4}, P(X≥5) lumped into 4). Every
    * replica mean is an integer (`Σw·x DIV Σw` in value units);
    * ci bounds are the order statistics at ranks 2 and B−1 of B = 40
    * replicas (≈ the 2.5/97.5 percentiles). Same inputs → the same CI
    * on any engine, any partitioning, any cluster size — a float RNG
    * bootstrap can promise none of that.
    *
    * Scale shape: the value relation explodes ×B (constant factor,
    * narrow), one mergeable (replica)-keyed aggregate (B·cells state),
    * and the rank pick is a single-row `sort_array(collect_list)` over
    * exactly B rows — metadata-scale by construction, never a window
    * or a data sort.
    */
  def bootstrapCiMean(values: DataFrame, idCol: String, valueCol: String,
                      replicas: Int = 40): DataFrame = {
    require(replicas >= 4, "bootstrapCiMean: need >= 4 replicas")
    val b = replicas
    val exploded = values
      .select(col(idCol).as("k"), col(valueCol).cast("long").as("x"))
      .select(col("k"), col("x"),
        explode(sequence(lit(0), lit(b - 1))).as("rep"))
      // Poisson(1) from the per-mille coin: thresholds are the exact
      // floor-per-mille CDF prefix of the pmf e^{-1}/j!
      .withColumn("coin",
        Sampling.bucket(concat(col("k").cast("string"), lit(":"),
          col("rep").cast("string")), 1000))
      .withColumn("w",
        when(col("coin") < 368, 0L).when(col("coin") < 736, 1L)
          .when(col("coin") < 920, 2L).when(col("coin") < 981, 3L)
          .otherwise(4L))
    // weighted sums in DECIMAL(38,0) — the qGini/ksTest posture: a
    // LongType Σw·x wraps once rows × values pass ~2⁶¹
    val perRep = exploded.groupBy("rep")
      .agg(sum((col("w") * col("x")).cast("decimal(38,0)")).as("wx"),
        sum("w").as("sw"))
      .filter(col("sw") > 0)
      .select(col("rep"), expr("CAST(wx DIV sw AS BIGINT)").as("m"))
    val whole = values
      .agg(count(lit(1)).as("n_rows"),
        sum(col(valueCol).cast("decimal(38,0)")).as("sx"))
    val reps = perRep.agg(
      sort_array(collect_list(struct(col("m"), col("rep")))).as("ms"),
      count(lit(1)).as("n_replicas"))
    whole.crossJoin(reps)
      .select(col("n_rows"),
        expr("CAST(sx DIV n_rows AS BIGINT)").as("mean_value"),
        col("n_replicas"),
        element_at(col("ms"), 2).getField("m").as("ci_lo"),
        element_at(col("ms"), -2).getField("m").as("ci_hi"))
  }

  /** SPLIT-CONFORMAL prediction interval — the distribution-free
    * model-evaluation wrapper (Vovk; Angelopoulos & Bates 2022):
    * calibrate a nonconformity threshold `q̂` = the
    * `⌈(n_cal+1)(1−α)⌉`-th smallest calibration score, then any
    * prediction ± q̂ covers fresh points with probability ≥ 1−α under
    * exchangeability — no model assumptions. Here the "model" is the
    * per-group integer mean of the calibration slice, the score is
    * `|value − pred|` in cents, and everything — threshold rank
    * (`cum·1000 ≥ (n_cal+1)·(1000−α_pm)` is exactly the ceil),
    * q̂ selection, test coverage — is integer arithmetic, so the whole
    * calibration is bit-portable. An unreachable rank (tiny
    * calibration) leaves q̂ NULL = +∞ (cover everything), the honest
    * conformal degenerate.
    *
    * Scale shape: the model is one |groups|-row broadcast aggregate;
    * scores are a narrow map; the order statistic rides the t14
    * range-partitioned prefix sum over the SCORE-DOMAIN histogram
    * (never a sort of the data); coverage is one mergeable aggregate.
    */
  def splitConformal(df: DataFrame, groupCol: String, valueCol: Column,
                     inCalib: Column, alphaPm: Int = 100): DataFrame = {
    require(alphaPm > 0 && alphaPm < 1000, "splitConformal: 0 < alphaPm < 1000")
    val base = OpCaches.persist(df.select(col(groupCol).as("g"),
      valueCol.cast("long").as("v"), inCalib.as("cal")))
    val model = base.filter(col("cal")).groupBy("g")
      .agg(count(lit(1)).as("n_g"),
        sum(col("v").cast("decimal(38,0)")).as("sv"))
      .select(col("g"), expr("CAST(sv DIV n_g AS BIGINT)").as("pred"))
    val scored = OpCaches.persist(base.join(broadcast(model), "g")
      .withColumn("s", abs(col("v") - col("pred"))))
    val nCal = broadcast(
      scored.filter(col("cal")).agg(count(lit(1)).as("n_cal")))
    val hist = scored.filter(col("cal")).groupBy("s")
      .agg(count(lit(1)).as("c"))
    val qhat = broadcast(Sampling.runningTotal(hist, Seq(col("s")), "c")
      .crossJoin(nCal)
      .filter(col("running_total") * 1000 >=
        (col("n_cal") + 1) * (1000 - alphaPm))
      .agg(min(col("s")).as("qhat_cents")))
    scored.filter(!col("cal"))
      .crossJoin(qhat).crossJoin(nCal)
      .agg(max("n_cal").as("n_cal"), max("qhat_cents").as("qhat_cents"),
        count(lit(1)).as("n_test"),
        sum(when(col("qhat_cents").isNull ||
          col("s") <= col("qhat_cents"), 1L).otherwise(0L)).as("n_covered"))
      .withColumn("covered_pm",
        expr("CASE WHEN n_test > 0 THEN (n_covered * 1000) DIV n_test END"))
      .withColumn("coverage_ok",
        col("covered_pm") >= 1000 - alphaPm - 30)
  }

  /** DIFFERENCE-IN-DIFFERENCES — the quasi-experimental estimator for
    * a treatment rolled out at a known cutoff: with the md5 coin as
    * the treatment assignment and the cutoff splitting pre/post, the
    * estimate is `(m̄_t,post − m̄_t,pre) − (m̄_c,post − m̄_c,pre)` over
    * per-cell integer means (cents, truncating division) — parallel-
    * trends differencing with every number engine-exact. One pass,
    * four conditional count/sum pairs in a single mergeable aggregate;
    * sums form in DECIMAL(38,0) (the qGini posture).
    */
  def diffInDiff(events: DataFrame, userCol: String, tsCol: String,
                 valueCents: Column, cutoff: String): DataFrame = {
    val base = events.select(
      Sampling.bucket(col(userCol), 2).as("treat"),
      (col(tsCol) >= lit(cutoff).cast("timestamp")).as("post"),
      valueCents.cast("long").as("v"))
    def cell(t: Int, p: Boolean) =
      col("treat") === t && col("post") === p
    def n(t: Int, p: Boolean) = sum(when(cell(t, p), 1L).otherwise(0L))
    def sv(t: Int, p: Boolean) =
      sum(when(cell(t, p), col("v")).otherwise(0L).cast("decimal(38,0)"))
    base.agg(
        n(0, false).as("n_c_pre"), sv(0, false).as("s_c_pre"),
        n(0, true).as("n_c_post"), sv(0, true).as("s_c_post"),
        n(1, false).as("n_t_pre"), sv(1, false).as("s_t_pre"),
        n(1, true).as("n_t_post"), sv(1, true).as("s_t_post"))
      // empty cells yield honest NULL means (and a NULL did) — never a
      // division error; the oracle carries the identical CASE guards
      .withColumn("m_c_pre",
        expr("CAST(CASE WHEN n_c_pre > 0 THEN s_c_pre DIV n_c_pre END AS BIGINT)"))
      .withColumn("m_c_post",
        expr("CAST(CASE WHEN n_c_post > 0 THEN s_c_post DIV n_c_post END AS BIGINT)"))
      .withColumn("m_t_pre",
        expr("CAST(CASE WHEN n_t_pre > 0 THEN s_t_pre DIV n_t_pre END AS BIGINT)"))
      .withColumn("m_t_post",
        expr("CAST(CASE WHEN n_t_post > 0 THEN s_t_post DIV n_t_post END AS BIGINT)"))
      .select(col("n_c_pre"), col("n_c_post"), col("n_t_pre"),
        col("n_t_post"), col("m_c_pre"), col("m_c_post"), col("m_t_pre"),
        col("m_t_post"),
        ((col("m_t_post") - col("m_t_pre")) -
          (col("m_c_post") - col("m_c_pre"))).as("did_cents"))
  }

  /** Spearman rank correlation, EXACT through ties: doubled midranks
    * `2r_v = 2F_v − c_v + 1` from the distinct-value prefix sum (the
    * q_auc recipe applied to both variables), then Pearson on the
    * doubled ranks — every sum an integer. Because doubled midranks
    * always total exactly `n(n+1)`, the common factor n cancels out
    * of the correlation and the emitted rational is the REDUCED form
    *
    *   ρ = A / √(Bx·By),  A = Σrxry − n(n+1)²,  B• = Σr•² − n(n+1)²
    *
    * with A ≲ n³/3 — so A² ≈ n⁶/9 and the naive `A²·10⁶ DIV (Bx·By)`
    * would leave DECIMAL(38,0) once n ≳ 3×10⁵. ρ²·10⁶ therefore uses
    * the STAGED division `A² DIV ((Bx·By) DIV 10⁶)` (pre-dividing the
    * denominator keeps every intermediate ≤ n⁶/9), which holds exact
    * integer semantics to n ≈ 3×10⁶ pairs; when Bx·By < 10⁶ (tiny
    * inputs, where the staged divisor would truncate to 0) it falls
    * back to the direct form, which is overflow-safe exactly there.
    * The |ρ| > 0.2 verdict `25·A² > Bx·By` fits un-staged to the same
    * n ≈ 3×10⁶. Beyond that (the 100 TB path) the identical machinery
    * runs on per-mille-quantised ranks — the statistic of the
    * quantised ranks is still engine-exact; only the quantisation is
    * a (deterministic, documented) approximation. Zero-variance
    * margins yield NULL ρ and an honest non-verdict, the q_ab_chisq
    * degenerate-table posture.
    *
    * Scale shape: two value-domain aggregates + prefix sums, two
    * equi-joins of the pair relation against value-domain rank
    * tables, one final mergeable moment aggregate.
    */
  def spearman(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val pairs = OpCaches.persist(df.select(xCol.as("x"), yCol.as("y")))
    def doubledRanks(c: String) = {
      val per = pairs.groupBy(col(c)).agg(count(lit(1)).as("__c"))
      Sampling.runningTotal(per, Seq(col(c)), "__c")
        .select(col(c),
          (col("running_total") * 2 - col("__c") + 1).as(s"r$c"))
    }
    val moments = pairs
      .join(doubledRanks("x"), "x").join(doubledRanks("y"), "y")
      .agg(count(lit(1)).as("n"), sum(col("rx") * col("ry")).as("sxy"),
        sum(col("rx") * col("rx")).as("sxx"),
        sum(col("ry") * col("ry")).as("syy"))
    val nn1sq = dec(col("n")) * dec(col("n") + 1) * dec(col("n") + 1)
    moments
      .select(col("n").as("n_pairs"),
        (dec(col("sxy")) - nn1sq).cast("long").as("rho_num"),
        (dec(col("sxx")) - nn1sq).cast("long").as("rho_den_x"),
        (dec(col("syy")) - nn1sq).cast("long").as("rho_den_y"))
      .withColumn("rho2_ppm",
        expr("""CASE WHEN rho_den_x > 0 AND rho_den_y > 0 THEN
               |  CASE WHEN (CAST(rho_den_x AS DECIMAL(38,0)) * rho_den_y)
               |            DIV 1000000 > 0 THEN
               |    CAST((CAST(rho_num AS DECIMAL(38,0)) * rho_num)
               |         DIV ((CAST(rho_den_x AS DECIMAL(38,0)) * rho_den_y)
               |              DIV 1000000)
               |      AS BIGINT)
               |  ELSE
               |    CAST((CAST(rho_num AS DECIMAL(38,0)) * rho_num * 1000000)
               |         DIV (CAST(rho_den_x AS DECIMAL(38,0)) * rho_den_y)
               |      AS BIGINT) END END""".stripMargin))
      .withColumn("positive", col("rho_num") > 0)
      .withColumn("strong_02",
        col("rho_den_x") > 0 && col("rho_den_y") > 0 &&
          lit(25L).cast("decimal(38,0)") * dec(col("rho_num")) *
            dec(col("rho_num")) >
            dec(col("rho_den_x")) * dec(col("rho_den_y")))
  }

  /** Inter-labeler agreement on a shared boolean label: Cohen's κ and
    * McNemar's paired test — the label-QA gate a training-data
    * pipeline runs when two annotation sources (a heuristic gate and a
    * learned classifier, two human raters, two model versions) label
    * the same corpus.
    *
    * Exactness: with 2×2 cells n11/n10/n01/n00 and marginals
    * a1 = n11+n10, b1 = n11+n01 (and a0/b0 their complements),
    * κ = (p_o − p_e)/(1 − p_e) clears to the integer rational
    * `(n·(n11+n00) − (a1·b1 + a0·b0)) / (n² − (a1·b1 + a0·b0))`.
    * Both sides are emitted raw plus a truncating kappa_ppm; the
    * "moderate agreement" κ > 0.4 verdict cross-multiplies (den ≥ 0
    * by Cauchy–Schwarz, so the inequality direction is stable), and
    * McNemar's χ² = (n10−n01)²/(n10+n01) ≥ 3.841 becomes
    * `1000·(n10−n01)² ≥ 3841·(n10+n01)`. All products form in
    * DECIMAL(38,0) — at n = 10¹² docs, n² = 10²⁴ ≪ 10³⁸. Degenerate
    * inputs stay honest: a constant labeler makes den = 0 → NULL κ;
    * zero discordant pairs → NULL McNemar verdict (the test is
    * undefined, not "insignificant").
    *
    * Scale shape: one doc-grain equi-join of the two label relations,
    * then a single mergeable 5-cell aggregate — the corpus crosses one
    * shuffle, the result is one row.
    */
  def labelerAgreement(a: DataFrame, aId: String, aLabel: String,
                       b: DataFrame, bId: String, bLabel: String): DataFrame = {
    val joined = a.select(col(aId).as("__id"), col(aLabel).cast("boolean").as("__a"))
      .join(b.select(col(bId).as("__id"), col(bLabel).cast("boolean").as("__b")),
        "__id")
    joined.agg(
        count(lit(1)).as("n"),
        sum(when(col("__a") && col("__b"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("__a") && !col("__b"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("__a") && col("__b"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("__a") && !col("__b"), 1L).otherwise(0L)).as("n00"))
      .withColumn("__pe_num",
        dec(col("n11") + col("n10")) * dec(col("n11") + col("n01")) +
          dec(col("n01") + col("n00")) * dec(col("n10") + col("n00")))
      // the ppm and the verdict are computed on the DECIMAL num/den —
      // they stay representable at ANY corpus size (ppm ∈ [−10⁶, 10⁶]).
      // The raw num/den diagnostics ARE cast to BIGINT below, which is
      // loud (ANSI overflow) past n ≈ 3×10⁹ — acceptable for the
      // inspection columns, never for the verdict.
      .withColumn("__knum", dec(col("n")) * dec(col("n11") + col("n00")) - col("__pe_num"))
      .withColumn("__kden", dec(col("n")) * dec(col("n")) - col("__pe_num"))
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        col("__knum").cast("long").as("kappa_num"),
        col("__kden").cast("long").as("kappa_den"),
        // sign-decomposed so the truncation direction is engine-
        // independent: Spark's DIV truncates toward zero, DuckDB's //
        // floors — on the non-negative |num| they agree, and the sign
        // is re-applied outside the division.
        when(col("__kden") =!= 0, expr(
          """CAST(CASE WHEN __knum < 0
            |  THEN -((-__knum * 1000000) DIV __kden)
            |  ELSE (__knum * 1000000) DIV __kden
            |END AS BIGINT)""".stripMargin)).as("kappa_ppm"),
        when(col("__kden") =!= 0, col("__knum") * 10 > col("__kden") * 4)
          .as("moderate_04"))
      .withColumn("mcnemar_sig",
        when(col("n10") + col("n01") > 0L,
          dec(col("n10") - col("n01")) * dec(col("n10") - col("n01")) * 1000 >=
            dec(col("n10") + col("n01")) * 3841))
  }
}
