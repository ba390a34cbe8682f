package graft.operators
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Key
import graft.operators.OpsHelpers.{ev, r6}

/** Hypothesis tests, effect sizes and confidence intervals — one of the [[StatsOps]] family traits (split from
  * the former single-file StatsOps with zero behavior change;
  * shared helpers live in [[StatsOpsBase]]). */
private[operators] trait StatsTestOps extends StatsOpsBase {

  // ── Welch's two-sample t-test between every pair of event types on
  // `value` — "are these two segments' means actually different". One
  // keyed aggregation produces the 5-row (n, mean, var) frame; the pair
  // grid is a self-join of that TINY frame (never of the fact table), so
  // the fact table is scanned once regardless of how many pairs are
  // tested. t and the Welch–Satterthwaite df are pure arithmetic on the
  // moments. ──
  def statsTtest(spark: SparkSession, dir: String): DataFrame = {
    val m = ev(spark, dir).groupBy(col("event_type"))
      .agg(count(lit(1)).cast("double").as("n"),
        avg(col("value")).as("m"), var_samp(col("value")).as("v"))
    val a = m.select(col("event_type").as("type_a"), col("n").as("na"),
      col("m").as("ma"), col("v").as("va"))
    val b = m.select(col("event_type").as("type_b"), col("n").as("nb"),
      col("m").as("mb"), col("v").as("vb"))
    val se2 = col("va") / col("na") + col("vb") / col("nb")
    a.crossJoin(b).filter(col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        r6((col("ma") - col("mb")) / sqrt(se2)).as("t_stat"),
        r6(se2 * se2 / (
          (col("va") / col("na")) * (col("va") / col("na")) / (col("na") - 1) +
            (col("vb") / col("nb")) * (col("vb") / col("nb")) / (col("nb") - 1)))
          .as("df"))
      .orderBy("type_a", "type_b")
  }

  // ── χ² test of independence: event_type × day-of-week (the portable
  // `days-since-epoch mod 7` — identical integer arithmetic in any
  // engine, unlike locale-dependent DOW functions). The observed grid is
  // one keyed aggregation; expected counts come from the row/column
  // marginals of that ~35-row frame, INCLUDING structurally-zero cells
  // (the marginal cross join rebuilds them — dropping empty cells would
  // understate χ²). Everything after the one fact-table scan is
  // arithmetic on group-sized frames. ──
  def statsChi2(spark: SparkSession, dir: String): DataFrame = {
    val grid = typeDowCells(spark, dir)
      .select(col("event_type"), col("dow"),
        coalesce(col("o"), lit(0L)).as("o"),
        (col("rt").cast("double") * col("ct") / col("n")).as("e"),
        col("rt"), col("ct"), col("n"))
    grid.agg(
      r6(sum((col("o") - col("e")) * (col("o") - col("e")) / col("e")))
        .as("chi2"),
      ((countDistinct(col("event_type")) - 1) *
        (countDistinct(col("dow")) - 1)).as("df"),
      first(col("n")).as("n"))
  }

  // ── two-sample Kolmogorov–Smirnov: D = sup |F₁ − F₂| between the value
  // distributions of two event types. ECDFs are evaluated only at
  // observed values (where the sup is attained): group by value ONCE,
  // running integer counts per sample over the value order, one max.
  // Counts are integers, so the only doubles are two divisions and the
  // final λ = D·√(n₁n₂/(n₁+n₂)) — rounded at the boundary. Scale shape:
  // one shuffle onto the value grid; the running counts parallelize per
  // range partition. ──
  def statsKs(spark: SparkSession, dir: String): DataFrame = {
    val g = ksCounts(spark, dir)
    // the cumulative pass runs over the GROUPED value grid (≤ |distinct
    // values| rows — the 2-dp metric domain), not the raw events; a
    // global ECDF over an unbounded domain would use the bucketed rank
    // reconstruction of window_rank_family_scaled instead
    val byVal = Window.orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = g.withColumn("ca", sum(col("a")).over(byVal))
      .withColumn("cb", sum(col("b")).over(byVal))
    val tot = g.agg(sum(col("a")).as("n1"), sum(col("b")).as("n2"))
    cum.crossJoin(broadcast(tot))
      .groupBy(col("n1"), col("n2"))
      .agg(max(abs(col("ca").cast("double") / col("n1") -
        col("cb").cast("double") / col("n2"))).as("d"))
      .select(col("n1"), col("n2"), r6(col("d")).as("d_stat"),
        r6(col("d") * sqrt(col("n1").cast("double") * col("n2") /
          (col("n1") + col("n2")))).as("lambda"))
  }

  // ── Mann–Whitney U (two-sample rank-sum) between the same two value
  // distributions statsKs compares — the nonparametric location test that
  // complements KS's shape test. Ranks never materialize per row: on the
  // grouped value grid, a tie group spanning ranks
  // (cumBefore, cumBefore+t] has average rank cumBefore + (t+1)/2, so
  // U = Σ a·avgrank − n₁(n₁+1)/2 comes from ONE running count over the
  // grid (group-sized, like statsKs). The z-score uses the standard
  // tie-corrected variance n₁n₂/12·((N+1) − Σ(t³−t)/(N(N−1))). All sums
  // are integer-or-dyadic (·.5) arithmetic — exact in both engines —
  // and rounded once at the boundary. ──
  def statsMannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val g = ksCounts(spark, dir)
    val byVal = Window.orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = g.withColumn("cum_before",
      coalesce(sum(col("t")).over(byVal), lit(0L)))
    val tot = g.agg(sum(col("a")).as("n1"), sum(col("b")).as("n2"),
      sum(col("t") * col("t") * col("t") - col("t")).as("tie3"))
    ranked.crossJoin(broadcast(tot))
      .groupBy(col("n1"), col("n2"), col("tie3"))
      .agg(sum(col("a").cast("double") *
        (col("cum_before") + (col("t") + 1).cast("double") / 2)).as("r1"))
      .select(col("n1"), col("n2"),
        (col("r1") - col("n1").cast("double") * (col("n1") + 1) / 2).as("u1"),
        col("tie3"))
      .select(col("n1"), col("n2"), col("u1"),
        (col("n1").cast("double") * col("n2") - col("u1")).as("u2"),
        col("tie3"))
      .select(col("n1"), col("n2"),
        r6(col("u1")).as("u1"), r6(col("u2")).as("u2"),
        r6((col("u1") - col("n1").cast("double") * col("n2") / 2) /
          sqrt(col("n1").cast("double") * col("n2") / 12 *
            ((col("n1") + col("n2") + 1).cast("double") -
              col("tie3").cast("double") /
                ((col("n1") + col("n2")).cast("double") *
                  (col("n1") + col("n2") - 1))))).as("z"))
  }

  // ── Brunner–Munzel test between the click/purchase value
  // distributions: the rank test that drops Mann–Whitney's hidden
  // equal-variance assumption (under unequal spreads U's null is wrong
  // even when medians agree — the Behrens–Fisher problem in rank
  // form). Everything reduces on the exact-cents value GRID with the
  // doubled-midrank identity (combined D = 2F+t+1, within-group
  // Dᵢ = 2Fᵢ+tᵢ+1 — all integers); the rank-variance moments Σc·u,
  // Σc·u² accumulate in DECIMAL(38,0) so no corpus size overflows
  // them, and W, the Satterthwaite df and the normal-approximation
  // two-sided p (df is reported so a reader can judge the t≈Φ step)
  // are single cast-first expressions. Only grid-sized windows run. ──
  def statsBrunnerMunzel(spark: SparkSession, dir: String): DataFrame = {
    val byVal = Window.orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val r = ksCounts(spark, dir)
      .withColumn("f", coalesce(sum(col("t")).over(byVal), lit(0L)))
      .withColumn("fa", coalesce(sum(col("a")).over(byVal), lit(0L)))
      .withColumn("fb", coalesce(sum(col("b")).over(byVal), lit(0L)))
      .withColumn("dd", expr("2 * f + t + 1"))
      .withColumn("ua", expr("dd - (2 * fa + a + 1)"))
      .withColumn("ub", expr("dd - (2 * fb + b + 1)"))
    val m = r.agg(sum(col("a")).as("n1"), sum(col("b")).as("n2"),
      sum(expr("CAST(a AS DECIMAL(38,0)) * dd")).as("ad"),
      sum(expr("CAST(b AS DECIMAL(38,0)) * dd")).as("bd"),
      sum(expr("CAST(a AS DECIMAL(38,0)) * ua")).as("au1"),
      sum(expr("CAST(a AS DECIMAL(38,0)) * ua * ua")).as("au2"),
      sum(expr("CAST(b AS DECIMAL(38,0)) * ub")).as("bu1"),
      sum(expr("CAST(b AS DECIMAL(38,0)) * ub * ub")).as("bu2"))
    m.withColumn("rbar1", expr("cast(ad as double) / (2 * n1)"))
      .withColumn("rbar2", expr("cast(bd as double) / (2 * n2)"))
      .withColumn("ma", expr("cast(ad as double) / n1 - (n1 + 1)"))
      .withColumn("mb", expr("cast(bd as double) / n2 - (n2 + 1)"))
      .withColumn("s1", expr(
        "(cast(au2 as double) - 2 * ma * cast(au1 as double)" +
          " + n1 * ma * ma) / (4 * (cast(n1 as double) - 1))"))
      .withColumn("s2", expr(
        "(cast(bu2 as double) - 2 * mb * cast(bu1 as double)" +
          " + n2 * mb * mb) / (4 * (cast(n2 as double) - 1))"))
      .withColumn("w", expr(
        "cast(n1 as double) * n2 * (rbar2 - rbar1) / (n1 + n2)" +
          " / sqrt(n1 * s1 + n2 * s2)"))
      .withColumn("aw", abs(col("w")))
      .withColumn("p2", r6(expr(s"2.0 * (1.0 - ${phiSql("aw")})")))
      .select(col("n1"), col("n2"),
        r6(expr("(rbar2 - (n2 + 1) / 2.0) / n1")).as("p_hat"),
        r6(col("w")).as("w_stat"),
        r6(expr(
          "(n1 * s1 + n2 * s2) * (n1 * s1 + n2 * s2)" +
            " / ((n1 * s1) * (n1 * s1) / (cast(n1 as double) - 1)" +
            " + (n2 * s2) * (n2 * s2) / (cast(n2 as double) - 1))"))
          .as("df"),
        col("p2").as("p_two"),
        (col("p2") < lit(0.05d)).as("significant"))
  }

  // ── Mood's two-sample SCALE test (click vs purchase values): scores
  // each observation by its squared distance from the mid-rank center,
  // (R − (N+1)/2)², so it detects SPREAD differences where
  // Mann–Whitney detects location — the rank-based competitor to
  // stats_ansari_bradley, kept because the two weigh the tails
  // differently (Mood quadratically — more tail-sensitive). In doubled
  // midranks the score is the exact INTEGER (D − (N+1))² = 4·score, so
  // T accumulates in DECIMAL(38,0) on the cents value grid (midranks
  // stand in for ties; the null moments are the classical no-ties
  // forms, the standard practical approximation, noted here). One
  // grid-sized window + one reduce; z and p are single expressions. ──
  def statsMoodScale(spark: SparkSession, dir: String): DataFrame = {
    val g = ksCounts(spark, dir)
    val byVal = Window.orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val r = g
      .withColumn("f", coalesce(sum(col("t")).over(byVal), lit(0L)))
      .withColumn("dd", expr("2 * f + t + 1"))
    val withN = r.crossJoin(broadcast(
        g.agg(sum(col("a") + col("b")).as("nn"))))
      .select(col("a"),
        expr("CAST(a AS DECIMAL(38,0)) * (dd - (nn + 1)) * (dd - (nn + 1))")
          .as("sc"), col("nn"))
      .agg(first(col("nn")).as("nn"),
        sum(col("a")).as("n1"), sum(col("sc")).as("t4"))
    withN
      .crossJoin(broadcast(g.agg(sum(col("b")).as("n2"))))
      .withColumn("e4", expr(
        "cast(n1 as double) * (cast(nn as double) * nn - 1) / 3"))
      .withColumn("v4", expr(
        "4.0 * (cast(n1 as double) * n2 * (nn + 1)" +
          " * (cast(nn as double) * nn - 4)) / 45"))
      .withColumn("z", expr("(cast(t4 as double) - e4) / sqrt(v4)"))
      .withColumn("az", abs(col("z")))
      .withColumn("p2", r6(expr(s"2.0 * (1.0 - ${phiSql("az")})")))
      .select(col("n1"), col("n2"),
        r6(expr("cast(t4 as double) / 4")).as("t_stat"),
        r6(expr("e4 / 4")).as("t_expected"),
        r6(col("z")).as("z"), col("p2").as("p_two"),
        (col("p2") < lit(0.05d)).as("significant"))
  }

  // ── two-sample Poisson rate comparison (click vs purchase arrivals
  // over the same day exposure): the conditional test — given N = n₁+n₂
  // events, n₁ ~ Bin(N, ½) under equal rates — reduces to
  // z = (n₁−n₂)/√N, with the rate ratio and its log-scale Wald CI
  // alongside (the "is this stream running hot" check a pipeline
  // monitor wants as one row). Counts are exact int64; z, ln RR and
  // the CI are single cast-first expressions; p through the shared Φ
  // polynomial. ──
  def statsPoissonRate(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .filter(col("event_type").isin(KsTypeA, KsTypeB))
      .agg(sum(when(col("event_type") === KsTypeA, 1L).otherwise(0L))
        .as("n1"),
        sum(when(col("event_type") === KsTypeB, 1L).otherwise(0L))
          .as("n2"),
        countDistinct(col("day")).as("n_days"))
      .withColumn("z", expr(
        "cast(n1 - n2 as double) / sqrt(cast(n1 + n2 as double))"))
      .withColumn("az", abs(col("z")))
      .withColumn("p2", r6(expr(s"2.0 * (1.0 - ${phiSql("az")})")))
      .withColumn("lnrr", expr(
        "ln(cast(n1 as double) / cast(n2 as double))"))
      .withColumn("se", expr(
        "sqrt(1.0 / cast(n1 as double) + 1.0 / cast(n2 as double))"))
      .select(col("n1"), col("n2"), col("n_days"),
        r6(expr("cast(n1 as double) / n_days")).as("rate_1"),
        r6(expr("cast(n2 as double) / n_days")).as("rate_2"),
        r6(expr("cast(n1 as double) / cast(n2 as double)"))
          .as("rate_ratio"),
        r6(col("z")).as("z"), col("p2").as("p_two"),
        r6(exp(expr("lnrr - 1.959964 * se"))).as("rr_ci_lo"),
        r6(exp(expr("lnrr + 1.959964 * se"))).as("rr_ci_hi"),
        (col("p2") < lit(0.05d)).as("significant"))

  // ── distribution-free confidence interval for the per-type daily
  // revenue MEDIAN: the binomial order-statistic interval (ranks
  // n/2 ∓ z√n/2) — no normality assumed anywhere, the robust
  // companion of stats_wilson_ci's proportion interval. Rank fences
  // floor the SAME double in both engines; the median itself is the
  // explicit middle pair; endpoint picks are window-free argmax-by-
  // rank reads on the day-grid frame. ──
  def statsMedianCi(spark: SparkSession, dir: String): DataFrame = {
    val wo = Window.partitionBy(col("event_type"))
      .orderBy(col("revc"), col("day"))
    dailyTyped(spark, dir)
      .withColumn("rn", row_number().over(wo).cast("long"))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .withColumn("l", greatest(lit(1L), expr(
        "CAST(floor((cast(n as double)" +
          " - 1.959964 * sqrt(cast(n as double))) / 2) AS BIGINT)")))
      .withColumn("u", col("n") + 1 - col("l"))
      .groupBy(col("event_type"))
      .agg(first(col("n")).as("n_days"), first(col("l")).as("rank_lo"),
        first(col("u")).as("rank_hi"),
        avg(when(col("rn") === expr("(n + 1) div 2") ||
          col("rn") === expr("(n + 2) div 2"), col("revc"))).as("medc"),
        max(when(col("rn") === col("l"), col("revc"))).as("loc"),
        max(when(col("rn") === col("u"), col("revc"))).as("hic"))
      .select(col("event_type"), col("n_days"),
        r6(expr("medc / 100")).as("median"),
        col("rank_lo"), col("rank_hi"),
        r6(expr("cast(loc as double) / 100")).as("ci_lo"),
        r6(expr("cast(hic as double) / 100")).as("ci_hi"))
      .orderBy("event_type")
  }

  // ── bootstrap confidence interval for the mean, via the POISSON
  // bootstrap — the at-scale form: instead of drawing B independent
  // n-row resamples (undistributable), each row contributes to resample
  // b with multiplicity w ~ Poisson(1), approximated by thresholding the
  // portable Knuth-multiplicative uniform of (event_id, b) against the
  // Poisson CDF. ONE scan fans out ×B (the inherent bootstrap cost,
  // linear in B and embarrassingly parallel), per-resample means are
  // keyed aggregations of decimal-exact sums, and the CI is a percentile
  // over the B-row means frame. Every weight is integer-deterministic in
  // both engines; means are rounded before the interpolating percentile
  // so the CI arithmetic runs on identical doubles. ──
  def statsBootstrap(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
      .select(col("event_id"), col("value").cast("decimal(18,2)").as("v"))
    val Seq(p0, p1, p2, p3, p4) = BootCdfPpm
    val weighted = e
      .select(col("event_id"), col("v"),
        explode(expr(s"sequence(0, ${BootB - 1})")).as("b"))
      .withColumn("u", expr(s"pmod(pmod(event_id, 2147483648) * $BootB + b," +
        " 2147483648) * 2654435761 % 2147483648 % 1000000"))
      .withColumn("w", when(col("u") < p0, 0).when(col("u") < p1, 1)
        .when(col("u") < p2, 2).when(col("u") < p3, 3)
        .when(col("u") < p4, 4).otherwise(5))
    val means = weighted.groupBy(col("b"))
      .agg(r6(sum(col("v") * col("w")).cast("double") / sum(col("w")))
        .as("m"))
    means.agg(count(lit(1)).as("n_resamples"),
      r6(expr("percentile(m, 0.025)")).as("ci_lo"),
      r6(expr("percentile(m, 0.5)")).as("ci_med"),
      r6(expr("percentile(m, 0.975)")).as("ci_hi"),
      r6(min(col("m"))).as("mn"), r6(max(col("m"))).as("mx"))
  }

  // ── one-way ANOVA across event types: does mean value differ between
  // groups? Computed entirely from per-group (n, Σv, Σv²) — decimal-exact
  // sums, one keyed aggregation of the fact table, then a k-row reduce —
  // so the F statistic costs one scan regardless of corpus size (the
  // textbook sum-of-squares identities SSb = Σ S1ᵢ²/nᵢ − T²/N,
  // SSw = ΣS2 − Σ S1ᵢ²/nᵢ; Casella & Berger §11.2). Both engines form
  // identical decimal sums, cast once to double, and run the same IEEE
  // arithmetic — r6 seals the boundary. ──
  def statsAnova(spark: SparkSession, dir: String): DataFrame = {
    // The four cross-group reductions are DOUBLE sums over k rows, and
    // ss_between = sg − t²/nn cancels ~6 leading digits — an
    // engine-specific SUMMATION ORDER perturbs low bits that the
    // cancellation amplifies across the 6-dp grid (hash-failed at the
    // round-10 sf≈1 gate; the driver scales passed only by margin).
    // Fold the group rows in event_type order — the EMA device — so both
    // engines run the identical IEEE op sequence.
    val folded = valueMoments(spark, dir).agg(sort_array(collect_list(struct(
        col("event_type"), col("n"), col("s1"), col("s2")))).as("gs"))
      .select(size(col("gs")).cast("long").as("k"), expr(
        """aggregate(gs,
          |  named_struct('nn', 0L, 't', 0D, 'ss2', 0D, 'sg', 0D),
          |  (a, x) -> named_struct(
          |    'nn', a.nn + x.n, 't', a.t + x.s1,
          |    'ss2', a.ss2 + x.s2,
          |    'sg', a.sg + x.s1 * x.s1 / x.n))""".stripMargin).as("st"))
    folded.select(col("k"), col("st.nn").as("n"),
      r6(col("st.sg") - col("st.t") * col("st.t") / col("st.nn"))
        .as("ss_between"),
      r6(col("st.ss2") - col("st.sg")).as("ss_within"),
      (col("k") - 1).as("df1"), (col("st.nn") - col("k")).as("df2"),
      r6(((col("st.sg") - col("st.t") * col("st.t") / col("st.nn")) /
          (col("k") - 1)) /
        ((col("st.ss2") - col("st.sg")) / (col("st.nn") - col("k"))))
        .as("f_stat"))
  }

  // ── Gini coefficient of per-user spend: how concentrated is activity
  // value across users — the inequality summary every marketplace/usage
  // dashboard carries. Computed from the closed form
  // G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over per-user totals ranked
  // ascending (spend, user tiebreak). The rank runs over the |users|-sized
  // aggregate, never the events; Σ i·x sums DECIMAL products of an
  // integer rank and a decimal(18,2) spend — exact under any partition
  // order, one double division at the end. ──
  def statsGini(spark: SparkSession, dir: String): DataFrame = {
    val spend = ev(spark, dir).groupBy(col("user_id"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("x"))
    val ranked = spend.withColumn("i",
      row_number().over(Window.orderBy(col("x"), col("user_id"))))
    ranked.agg(count(lit(1)).as("n_users"),
        sum(col("x")).cast("double").as("total_value"),
        sum(col("i") * col("x")).cast("double").as("swx"))
      .select(col("n_users"), col("total_value"),
        r6(lit(2d) * col("swx") / (col("n_users") * col("total_value")) -
          (col("n_users") + 1).cast("double") / col("n_users")).as("gini"))
  }

  // ── Levene/Brown-Forsythe variance-homogeneity test: do the event
  // types share a spread, or is one metric noisier? (The assumption
  // behind stats_anova's F.) Deviations are from the per-group MEDIAN
  // (the robust Brown-Forsythe form), and the median comes from the
  // exact 2-dp VALUE GRID (the stats_ks device) — cumulative counts
  // over ≤|distinct values| rows per group, never a fact-table sort.
  // The trick that keeps both engines bit-equal: with m1/m2 the two
  // middle grid values, the deviation |v − med| scales to the EXACT
  // INTEGER |2·iv − (m1+m2)| — F is scale-invariant, so the ×200 never
  // needs undoing and every sum below it is DECIMAL-exact. The F ratio
  // itself is cast-first double arithmetic; per-group squared-sum
  // terms snap to 6 dp and sum in DECIMAL (order-free). ──
  def statsLevene(spark: SparkSession, dir: String): DataFrame = {
    val b = ev(spark, dir).select(col("event_type"),
      (col("value").cast("decimal(18,2)") * 100).cast("long").as("iv"))
    val grid = b.groupBy(col("event_type"), col("iv"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("event_type")).orderBy(col("iv"))))
      .withColumn("n", sum(col("c")).over(
        Window.partitionBy(col("event_type"))))
    val meds = grid.groupBy(col("event_type"))
      .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("iv")))
        .as("m1"),
        min(when(col("cum") >= expr("(n + 2) div 2"), col("iv"))).as("m2"))
    val z = b.join(broadcast(meds), Seq("event_type"))
      .select(col("event_type"),
        abs(col("iv") * 2 - (col("m1") + col("m2"))).as("z"))
    val per = z.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nj"),
        sum(col("z").cast("decimal(38,0)")).as("sj"),
        sum((col("z") * col("z")).cast("decimal(38,0)")).as("ssj"))
      .select(col("nj"), col("sj"), col("ssj"),
        expr("cast(round(cast(sj as double) * cast(sj as double) / nj, 6)" +
          " as decimal(24,6))").as("tj"))
    per.agg(count(lit(1)).as("k"), sum(col("nj")).as("n"),
        sum(col("sj")).as("s"), sum(col("ssj")).as("ss"),
        sum(col("tj")).as("b1"))
      .select(col("k"), col("n"),
        r6(expr("""((cast(b1 as double)
              - cast(s as double) * cast(s as double) / n) / (k - 1))
            / ((cast(ss as double) - cast(b1 as double)) / (n - k))"""))
          .as("f_stat"))
  }

  // ── Cramér's V effect size: chi2 says WHETHER type and weekday are
  // associated; V = √(χ²/(n·min(r−1,c−1))) says HOW MUCH on a 0..1
  // scale — the report a drift dashboard actually shows. Same
  // observed/expected grid as stats_chi2; V derives from the ROUNDED
  // χ² (the jarque_bera discipline), one sqrt, cast-first division. ──
  def statsCramersV(spark: SparkSession, dir: String): DataFrame = {
    val grid = typeDowCells(spark, dir)
      .select(coalesce(col("o"), lit(0L)).as("o"),
        (col("rt").cast("double") * col("ct") / col("n")).as("e"),
        col("event_type"), col("dow"), col("n"))
    grid.agg(
        (round(sum((col("o") - col("e")) * (col("o") - col("e")) /
          col("e")), 6) + lit(0.0d)).as("chi2"),
        countDistinct(col("event_type")).as("r"),
        countDistinct(col("dow")).as("c"),
        first(col("n")).as("n"))
      .select(col("chi2"), col("n"),
        r6(expr("sqrt(chi2 / (cast(n as double) * least(r - 1, c - 1)))"))
          .as("v"))
  }

  // ── Hodges-Lehmann location estimate of the daily total: the median
  // of all n(n+1)/2 Walsh averages (vᵢ+vⱼ)/2, i ≤ j — the robust
  // "typical day" with ~29% breakdown, the estimator behind the
  // signed-rank test's confidence interval. The pair join carries a
  // constant equi-key so it plans as a hash join with the i ≤ j
  // residual (the theilsen convention), O(n²/2) rows bounded on the
  // DAY-COUNT frame, never the fact table; the median is the explicit
  // middle pair on both engines. ──
  def statsHodgesLehmann(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir).groupBy(col("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
      .withColumn("k", lit(1))
    val pairs = daily.select(col("k"), col("day").as("d1"),
        col("v").as("v1"))
      .join(daily.select(col("k"), col("day").as("d2"), col("v").as("v2")),
        "k")
      .filter(col("d1") <= col("d2"))
      .select(((col("v1") + col("v2")) / 2).as("walsh"))
    val med = explicitMedian(pairs, "walsh", Nil)
    val n = daily.agg(count(lit(1)).as("n_days"),
      (count(lit(1)) * (count(lit(1)) + 1) / 2).cast("long").as("n_pairs"))
    n.crossJoin(broadcast(med))
      .select(col("n_days"), col("n_pairs"),
        r6(col("walsh")).as("hl_estimate"))
  }

  // ── Cohen's d effect size for every event_type pair: the
  // magnitude companion to stats_ttest's p-values (a tiny p with
  // d ≈ 0 is noise at scale, not signal). Per-group (n, Σv, Σv²)
  // decimal sums → sample variances; pooled SD and d are identical
  // double chains on both engines. The 5-row moment frame self-joins
  // on a < b (plan audit: group-domain frame, never fact-sized). ──
  def statsCohensD(spark: SparkSession, dir: String): DataFrame = {
    val d2 = col("value").cast("decimal(18,2)")
    val m = ev(spark, dir).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(d2).cast("double").as("sx"),
        sum(d2 * d2).cast("double").as("sxx"))
      .select(col("event_type"), col("n"),
        (col("sx") / col("n")).as("mean"),
        ((col("sxx") - col("sx") * col("sx") / col("n")) /
          (col("n") - 1)).as("var"))
    val a = m.select(col("event_type").as("type_a"), col("n").as("na"),
      col("mean").as("ma"), col("var").as("va"))
    val b = m.select(col("event_type").as("type_b"), col("n").as("nb"),
      col("mean").as("mb"), col("var").as("vb"))
    a.crossJoin(broadcast(b))
      .filter(col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"), col("na"), col("nb"),
        r6(col("ma")).as("mean_a"), r6(col("mb")).as("mean_b"),
        r6((col("ma") - col("mb")) /
          sqrt(((col("na") - 1) * col("va") + (col("nb") - 1) * col("vb"))
            / (col("na") + col("nb") - 2))).as("cohens_d"))
      .orderBy("type_a", "type_b")
  }

  // ── Kruskal–Wallis H: does `value`'s LOCATION differ across event
  // types — the k-group nonparametric ANOVA (stats_anova assumes
  // normality; stats_mannwhitney compares exactly two groups; this is
  // the k-group rank form between them). The rank device is the grid
  // trick, not a global sort: values collapse to exact CENTS, doubled
  // average ranks come from the distinct-cents frame (2r = 2·F + t + 1
  // with F = count below, t = ties at the value) — the cents grid is
  // bounded (≤100k rows) FOREVER, so the only window in the plan runs
  // on a fixed-size frame no matter how many events exist. Per-group
  // rank sums S2_g and counts are exact int64 (S2 ≤ 2N·n_g, inside
  // 2^53, so the double cast before squaring is exact); the tie term
  // Σ(t³−t) accumulates in DECIMAL(38,0) because a concentrated value
  // can push t³ past int64 at corpus scale. One double division per
  // output column, cast-first on both engines. ──
  def statsKruskal(spark: SparkSession, dir: String): DataFrame = {
    val j = ev(spark, dir)
      .groupBy(col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      .agg(count(lit(1)).as("c")).transform(Eager(_))
    val t = j.groupBy(col("cents")).agg(sum(col("c")).as("t"))
    val f = t.withColumn("fb",
      sum(col("t")).over(Window.orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, 0)) - col("t"))
    val g = j.join(f, "cents")
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n_g"),
        sum(col("c") * (col("fb") * 2 + col("t") + 1)).as("s2"))
    val tc = t.agg(sum(col("t").cast("decimal(38,0)") * col("t") * col("t")
      - col("t")).as("tsum"))
    // each s2²/n_g term snaps to 9-dp DECIMAL before the k-term sum:
    // s2² passes 2^53 at corpus scale, where a raw double sum becomes
    // partial-aggregation-order-dependent (the stats_quade B-side
    // class); the snapped DECIMAL sum is exact and order-free, with
    // each term the identical double expression in both engines
    g.agg(count(lit(1)).as("k"), sum(col("n_g")).as("n"),
        sum(expr("CAST(round(cast(s2 as double) * cast(s2 as double)" +
          " / n_g, 9) AS DECIMAL(38,9))")).as("q"))
      .crossJoin(broadcast(tc))
      .select(col("k"), col("n"),
        r6(expr("3.0 * cast(q as double) / (cast(n as double) * (n + 1))" +
          " - 3.0 * (n + 1)"))
          .as("h"),
        r6(expr("1.0 - cast(tsum as double)" +
          " / (cast(n as double) * n * n - n)")).as("tie_c"),
        r6(expr("(3.0 * cast(q as double)" +
          " / (cast(n as double) * (n + 1)) - 3.0 * (n + 1))" +
          " / (1.0 - cast(tsum as double)" +
          " / (cast(n as double) * n * n - n))")).as("h_adj"))
  }

  // ── Wilson score interval for the daily purchase rate: per day,
  // k = purchase events over n = all events, 95% CI by the Wilson
  // formula — the interval that stays inside [0,1] and behaves at
  // small n where the naive ±z√(p(1−p)/n) fails (the standard for
  // conversion dashboards). k and n are exact integers; p and the
  // interval are ONE shared double expression tree (cast-first, z²
  // written as cast(1.96 as double) on both engines so no decimal-
  // literal arithmetic sneaks in). Grid-sized output, keyed shuffle. ──
  def statsWilsonCi(spark: SparkSession, dir: String): DataFrame = {
    val z2 = "(cast(1.96 as double) * cast(1.96 as double))"
    val p = "(cast(k as double) / n)"
    val s = s"sqrt($p * (1 - $p) / n + $z2 / (4 * n * n))"
    val den = s"(1 + $z2 / n)"
    ev(spark, dir).groupBy(col("day"))
      .agg(count(lit(1)).as("n"),
        count(when(col("event_type") === "purchase", 1)).as("k"))
      .select(col("day"), col("n"), col("k"),
        r6(expr(p)).as("p_hat"),
        r6(expr(s"($p + $z2 / (2 * n) - cast(1.96 as double) * $s) / $den"))
          .as("ci_lo"),
        r6(expr(s"($p + $z2 / (2 * n) + cast(1.96 as double) * $s) / $den"))
          .as("ci_hi"))
      .orderBy("day")
  }

  // ── Friedman test: do the k event types keep the same revenue
  // ORDERING day after day — the blocked companion of [[statsKruskal]]
  // (Kruskal-Wallis pools all observations; Friedman ranks WITHIN each
  // day, so day-level shocks that lift every type together cancel
  // instead of inflating the statistic). Blocks are the complete
  // day×type grid (missing cells as 0 revenue, built identically in
  // the oracle); within-day midranks use the doubled-rank device over
  // PER-DAY windows — parallel by block, never a global sort. Rank
  // sums are exact small ints; Q = 3·ΣS2_j²/(nk(k+1)) − 3n(k+1) is one
  // cast-first division. ──
  def statsFriedman(spark: SparkSession, dir: String): DataFrame = {
    val ranked = friedmanGrid(spark, dir)
    val s = ranked.groupBy(col("event_type"))
      .agg(sum(col("r2x")).as("s2"), count(lit(1)).as("n"))
    s.agg(count(lit(1)).as("k"), first(col("n")).as("n_blocks"),
        sum(col("s2") * col("s2")).as("ss"))
      .select(col("n_blocks"), col("k"),
        r6(expr("cast(3 * ss as double)" +
          " / (cast(n_blocks as double) * k * (k + 1))" +
          " - cast(3 * n_blocks * (k + 1) as double)")).as("q"))
  }

  // ── Quade test: the block-WEIGHTED Friedman — blocks (days) with a
  // wider value range carry proportionally more evidence, which makes
  // Quade sharper than Friedman when treatment effects scale with the
  // block's overall level (revenue days do exactly that). Block weights
  // are doubled midranks of the integer day range; centered cell scores
  // S = q·(r − (k+1)/2) stay EXACT int64 in ×4 units, so A and the
  // per-treatment sums reduce exactly and the F statistic is pure
  // cast-first arithmetic ((b−1)·B/(A−B), the ×16 factors cancel). ──
  def statsQuade(spark: SparkSession, dir: String): DataFrame = {
    val ranked = friedmanGrid(spark, dir)
    val dayRange = ranked.groupBy(col("day"))
      .agg((max(col("revc")) - min(col("revc"))).as("rng"))
    val q2 = dayRange.withColumn("q2",
      rank().over(Window.orderBy(col("rng"))) * 2
        + count(lit(1)).over(Window.partitionBy(col("rng"))) - 1)
      .select(col("day"), col("q2"))
    val cells = ranked.join(q2, "day")
      .withColumn("k",
        count(lit(1)).over(Window.partitionBy(col("day"))))
      .withColumn("s4", col("q2") * (col("r2x") - (col("k") + 1)))
    val perType = cells.groupBy(col("event_type"))
      .agg(sum(col("s4")).as("t4"), count(lit(1)).as("b"),
        first(col("k")).as("k"))
    val a16 = cells.agg(
      sum(expr("CAST(s4 AS DECIMAL(38,0)) * s4")).as("a16"))
    perType
      .agg(first(col("k")).as("k"), first(col("b")).as("n_blocks"),
        // B side summed exactly like A (DECIMAL(38,0), HUGEINT in the
        // oracle): t4² can exceed 2^53, where a double sum becomes
        // partial-aggregation-order-dependent; double only at the ratio
        sum(expr("CAST(t4 AS DECIMAL(38,0)) * t4")).as("b16n"))
      .crossJoin(broadcast(a16))
      .withColumn("bb", expr("cast(b16n as double) / n_blocks"))
      .select(col("n_blocks"), col("k"),
        r6(expr("cast(a16 as double) / 16")).as("a_stat"),
        r6(expr("bb / 16")).as("b_stat"),
        r6(expr("(cast(n_blocks as double) - 1) * bb" +
          " / (cast(a16 as double) - bb)")).as("f_stat"),
        (col("k") - 1).as("df1"),
        ((col("n_blocks") - 1) * (col("k") - 1)).as("df2"))
  }

  // ── Nemenyi post-hoc after Friedman: WHICH event-type pairs differ —
  // the omnibus Q only says "some do". Mean ranks come from the shared
  // doubled-rank grid (exact integers / one division); a pair is
  // flagged when |R̄ᵢ − R̄ⱼ| exceeds the critical distance
  // q·√(k(k+1)/6n) with the published q constant for this k (literal
  // ladder, k ≤ 6 here — extend the table before adding types).
  // Verdicts compare 6-dp-snapped values. ──
  def statsNemenyi(spark: SparkSession, dir: String): DataFrame = {
    val s = friedmanGrid(spark, dir)
      .groupBy(col("event_type"))
      .agg(sum(col("r2x")).as("s2"), count(lit(1)).as("n"))
    val k = s.agg(count(lit(1)).as("k"))
    val qCase = NemenyiQ.toSeq.sortBy(_._1)
      .map { case (kk, q) => s"WHEN $kk THEN ${q}D" }.mkString(" ")
    val withK = s.crossJoin(broadcast(k))
      .withColumn("rbar", expr("cast(s2 as double) / (2 * n)"))
    withK.as("a").join(broadcast(withK.as("b")),
        col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"),
        col("a.n").as("n_blocks"), col("a.k").as("k"),
        col("a.rbar").as("rbar_a"), col("b.rbar").as("rbar_b"))
      .withColumn("diff6", r6(abs(col("rbar_a") - col("rbar_b"))))
      .withColumn("cd6", r6(expr(
        s"(CASE k $qCase END)" +
          " * sqrt(cast(k as double) * (k + 1) / (6.0 * n_blocks))")))
      .select(col("type_a"), col("type_b"),
        r6(col("rbar_a")).as("mean_rank_a"),
        r6(col("rbar_b")).as("mean_rank_b"),
        col("diff6").as("rank_diff"), col("cd6").as("critical_dist"),
        (col("diff6") > col("cd6")).as("significant"))
      .orderBy("type_a", "type_b")
  }

  // ── McNemar's paired test: did the SAME users change purchasing
  // behavior between the first and second half of the window — the
  // paired binary companion of stats_wilcoxon_signed (that tests a
  // paired CONTINUOUS shift; this tests a paired YES/NO flip). Only
  // the discordant users carry information: b = purchased-then-
  // stopped, c = started; χ² = (b−c)²/(b+c), 1 df (classic form, no
  // continuity correction — documented). The half-split midpoint is
  // integer day arithmetic on the observed range (scalar broadcast);
  // everything else is one keyed boolean aggregate per user. ──
  def statsMcnemar(spark: SparkSession, dir: String): DataFrame = {
    val p = ev(spark, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"),
        expr("us div 86400000000").as("dayno"))
    val span = p.agg(min(col("dayno")).as("lo"), max(col("dayno")).as("hi"))
    val flags = p.crossJoin(broadcast(span))
      .withColumn("mid", expr("(lo + hi + 1) div 2"))
      .groupBy(col("user_id"))
      .agg(max((col("dayno") < col("mid")).cast("int")).as("p1"),
        max((col("dayno") >= col("mid")).cast("int")).as("p2"))
    flags.agg(count(lit(1)).as("n_users"),
        sum((col("p1") === 1 && col("p2") === 1).cast("long")).as("n_both"),
        sum((col("p1") === 1 && col("p2") === 0).cast("long")).as("b"),
        sum((col("p1") === 0 && col("p2") === 1).cast("long")).as("c"))
      .select(col("n_users"), col("n_both"), col("b"), col("c"),
        // b + c = 0 (no discordant pair anywhere) leaves χ² undefined —
        // report NULL, not 0: "no evidence" ≠ "evidence of no change"
        r6(expr("CASE WHEN b + c > 0 THEN" +
          " cast((b - c) * (b - c) as double) / (b + c) END")).as("chi2"),
        expr("CASE WHEN b + c > 0 THEN" +
          " cast((b - c) * (b - c) as double) / (b + c) > 3.841d" +
          " ELSE false END").as("significant"))
  }

  // ── Tukey box-plot fences per event type: Q1/Q3 by the percentile ↔
  // quantile_cont pairing, fences at ±1.5·IQR SNAPPED to 6 dp before
  // any row compares against them — the snap makes the boundary
  // decision identical on both engines even if the interpolated
  // quantiles differ in the last ulp (values have 2 dp, quantile
  // fractions add 2 more, so 6 dp loses nothing). The quartile pass is
  // one keyed aggregate; the fence pass re-joins the 5-row threshold
  // table broadcast — the IQR-rule outlier gauge next to anomaly_mad's
  // MAD version (fences are the dashboard convention; MAD is the
  // robust-estimator one). ──
  def statsTukey(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val q = e.groupBy(col("event_type"))
      .agg(expr("round(percentile(value, 0.25), 6)").as("q1"),
        expr("round(percentile(value, 0.75), 6)").as("q3"))
      .withColumn("lo", expr("round(q1 - 1.5D * (q3 - q1), 6)"))
      .withColumn("hi", expr("round(q3 + 1.5D * (q3 - q1), 6)"))
    e.join(broadcast(q), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), first(col("q1")).as("q1"),
        first(col("q3")).as("q3"), first(col("lo")).as("lo"),
        first(col("hi")).as("hi"),
        sum((col("value") < col("lo") || col("value") > col("hi"))
          .cast("long")).as("n_outliers"))
      .select(col("event_type"), col("n"),
        r6(col("q1")).as("q1"), r6(col("q3")).as("q3"),
        r6(col("lo")).as("fence_lo"), r6(col("hi")).as("fence_hi"),
        col("n_outliers"),
        r6(expr("cast(n_outliers as double) / n")).as("pct_outliers"))
      .orderBy("event_type")
  }

  // ── Cochran's Q — the k-treatment extension of stats_mcnemar's
  // paired flip test: across the k event types, do USERS (the blocks)
  // participate at the same rate, judged on the within-user binary
  // profile rather than raw totals (a few hyperactive users can't fake
  // a difference, and user-level correlation is conditioned away).
  // X_ij = "user i emitted a HIGH-VALUE (>150) event of type j" — the
  // plain any-event mark saturates (every user touches every type, k·T
  // = ΣR², denominator 0), so the mark must be selective to carry
  // information; degenerate saturation still guards to NULL. The
  // whole statistic
  // is the closed form (k−1)·(k·ΣC_j² − T²) / (k·T − ΣR_i²) — every
  // term an exact int64 from two keyed aggregations (per-type column
  // sums, per-user row sums), ONE final division. All-zero / all-one
  // users cancel between numerator and denominator, so no block
  // filtering is needed — the fact table reduces to |users|+k rows of
  // state no matter the scale. ──
  def statsCochranQ(spark: SparkSession, dir: String): DataFrame = {
    val pres = ev(spark, dir)
      .filter(col("value") > 150)
      .select(col("user_id"), col("event_type")).distinct()
    val rowsSq = pres.groupBy(col("user_id"))
      .agg(count(lit(1)).as("r"))
      .agg(sum(col("r")).as("t"), sum(col("r") * col("r")).as("sr2"),
        count(lit(1)).as("n_subjects"))
    val colsSq = pres.groupBy(col("event_type"))
      .agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("k"), sum(col("c") * col("c")).as("sc2"))
    rowsSq.crossJoin(broadcast(colsSq))
      .select(col("n_subjects"), col("k"), col("t").as("total_marks"),
        (col("k") - 1).as("df"),
        r6(expr("CASE WHEN k * t - sr2 > 0 THEN" +
          " cast((k - 1) * (k * sc2 - t * t) as double)" +
          " / (k * t - sr2) END")).as("q_stat"))
  }

  // ── Cochran–Armitage trend test: does the purchase RATE rise
  // monotonically across the ordered day-of-week groups (scores w =
  // 0..6) — stats_chi2 detects ANY association at k−1 df; spending its
  // single df on the ordered alternative makes this strictly more
  // powerful when a trend is the hypothesis. The χ² form
  // N·(N·Σwr − R·Σwn)² / (R·(N−R)·(N·Σw²n − (Σwn)²)) is evaluated on
  // five exact int64 sums from ONE keyed aggregation; the products run
  // in DECIMAL (≤1e37 — no int64 wrap at any corpus size) and exactly
  // one final double division crosses the oracle boundary. trend_dir is
  // the sign of the numerator: +1 = rate rising over the week. ──
  def statsPropTrend(spark: SparkSession, dir: String): DataFrame = {
    val g = ev(spark, dir)
      .groupBy(expr("pmod(datediff(day, DATE'1970-01-01'), 7)").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("r"))
    g.agg(sum(col("n")).as("nt"), sum(col("r")).as("rt"),
        sum(col("w") * col("n")).as("swn"),
        sum(col("w") * col("w") * col("n")).as("sw2n"),
        sum(col("w") * col("r")).as("swr"))
      .withColumn("num", expr(
        "cast(nt as decimal(18,0)) * swr - cast(rt as decimal(18,0)) * swn"))
      .withColumn("den1", expr("cast(rt as decimal(18,0)) * (nt - rt)"))
      .withColumn("den2", expr(
        "cast(nt as decimal(18,0)) * sw2n" +
          " - cast(swn as decimal(18,0)) * swn"))
      .select(col("nt").as("n_total"), col("rt").as("r_total"),
        expr("cast(sign(cast(num as double)) as int)").as("trend_dir"),
        r6(expr("cast(num as double) * cast(num as double)" +
          " * nt / (cast(den1 as double) * cast(den2 as double))"))
          .as("chi2_trend"))
  }

  // ── difference-in-proportions confidence interval for the hash-A/B
  // purchase rate — ab_srm_check validates the SPLIT, stats_wilson_ci
  // bounds each arm alone; the decision quantity is Δ = p₁ − p₀ with
  // its Wald 95% interval, plus the Newcombe hybrid (Wilson bounds per
  // arm, combined) that stays honest at extreme rates. Counts are four
  // exact int64s from one keyed pass over the deterministic split;
  // every interval bound is textual-identical arithmetic on them. The
  // "ship it / no difference" row an experimentation platform emits
  // per metric. ──
  def statsTwoPropCi(spark: SparkSession, dir: String): DataFrame = {
    val g = ev(spark, dir)
      .groupBy(expr(
        "pmod(pmod(user_id, 2147483648) * 2654435761, 2147483648) % 2")
        .as("g"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("r"))
    val wide = g.agg(
      sum(when(col("g") === 0, col("n"))).as("n0"),
      sum(when(col("g") === 0, col("r"))).as("r0"),
      sum(when(col("g") === 1, col("n"))).as("n1"),
      sum(when(col("g") === 1, col("r"))).as("r1"))
    wide
      .withColumn("p0", expr("cast(r0 as double) / n0"))
      .withColumn("p1", expr("cast(r1 as double) / n1"))
      .withColumn("se", expr(
        "sqrt(p0 * (1.0 - p0) / n0 + p1 * (1.0 - p1) / n1)"))
      // Wilson bounds per arm (z = 1.96), the stats_wilson_ci device
      .withColumn("w0l", expr(
        "(p0 + 1.9208D / n0 - 1.96 * sqrt(p0 * (1.0 - p0) / n0" +
          " + 0.9604D / (cast(n0 as double) * n0))) / (1.0 + 3.8416D / n0)"))
      .withColumn("w0u", expr(
        "(p0 + 1.9208D / n0 + 1.96 * sqrt(p0 * (1.0 - p0) / n0" +
          " + 0.9604D / (cast(n0 as double) * n0))) / (1.0 + 3.8416D / n0)"))
      .withColumn("w1l", expr(
        "(p1 + 1.9208D / n1 - 1.96 * sqrt(p1 * (1.0 - p1) / n1" +
          " + 0.9604D / (cast(n1 as double) * n1))) / (1.0 + 3.8416D / n1)"))
      .withColumn("w1u", expr(
        "(p1 + 1.9208D / n1 + 1.96 * sqrt(p1 * (1.0 - p1) / n1" +
          " + 0.9604D / (cast(n1 as double) * n1))) / (1.0 + 3.8416D / n1)"))
      .select(col("n0"), col("r0"), col("n1"), col("r1"),
        r6(expr("p1 - p0")).as("delta"),
        r6(expr("p1 - p0 - 1.96 * se")).as("wald_lo"),
        r6(expr("p1 - p0 + 1.96 * se")).as("wald_hi"),
        r6(expr("p1 - p0 - sqrt((p1 - w1l) * (p1 - w1l)" +
          " + (w0u - p0) * (w0u - p0))")).as("newcombe_lo"),
        r6(expr("p1 - p0 + sqrt((w1u - p1) * (w1u - p1)" +
          " + (p0 - w0l) * (p0 - w0l))")).as("newcombe_hi"))
  }

  // ── Mantel–Haenszel pooled odds ratio + CMH test: does the exposure
  // arm shift the purchase rate AFTER controlling for day-of-week —
  // the stratified-confounding answer a raw 2×2 (stats_chi2's shape)
  // gets wrong whenever traffic mix differs by day. Cell counts are
  // exact int64; each stratum's a·d/n, b·c/n, E[a] and hypergeometric
  // variance term is ONE cast-first double expression snapped to 9 dp
  // before its DECIMAL sum (7-row frame, order can't leak), and the
  // verdict compares the 6-dp CMH χ² against the 1-df 5% point. ──
  def statsMantelHaenszel(spark: SparkSession, dir: String): DataFrame =
    strataTables(spark, dir)
      .select(
        expr("CAST(round(cast(a as double) * d / n, 9)" +
          " AS DECIMAL(28,9))").as("adn"),
        expr("CAST(round(cast(b as double) * c / n, 9)" +
          " AS DECIMAL(28,9))").as("bcn"),
        expr("CAST(round(cast(a + b as double) * (a + c) / n, 9)" +
          " AS DECIMAL(28,9))").as("ea"),
        expr("CAST(round(cast(a + b as double) * (c + d) * (a + c)" +
          " * (b + d) / (cast(n as double) * n * (n - 1)), 9)" +
          " AS DECIMAL(28,9))").as("va"),
        col("a"))
      .agg(count(lit(1)).as("k_strata"), sum(col("a")).as("sa"),
        sum(col("adn")).as("num"), sum(col("bcn")).as("den"),
        sum(col("ea")).as("sea"), sum(col("va")).as("sva"))
      .withColumn("chi2r", r6(expr(
        "(cast(sa as double) - cast(sea as double))" +
          " * (cast(sa as double) - cast(sea as double))" +
          " / cast(sva as double)")))
      .select(col("k_strata"), col("sa").as("exposed_successes"),
        r6(expr("cast(sea as double)")).as("expected"),
        r6(expr("cast(num as double) / cast(den as double)"))
          .as("or_mh"),
        col("chi2r").as("chi2_cmh"),
        (col("chi2r") > lit(3.841d)).as("significant"))

  // ── Woolf homogeneity test over the same strata: is the odds ratio
  // the SAME on every day-of-week — the check that must pass before
  // anyone quotes stats_mantel_haenszel's single pooled OR (effect
  // modification means no one number exists). Haldane +0.5 correction
  // keeps zero cells finite; per-stratum ln OR and inverse-variance
  // weight are cast-first double expressions snapped to 9 dp, the
  // pooled ln OR is a ratio of exact DECIMAL sums, and the χ² against
  // k−1 df compares at 6 dp. Two group-sized aggregations. ──
  def statsWoolf(spark: SparkSession, dir: String): DataFrame = {
    val per = strataTables(spark, dir)
      .select(col("dow"),
        expr("CAST(round(ln(((cast(a as double) + 0.5)" +
          " * (cast(d as double) + 0.5))" +
          " / ((cast(b as double) + 0.5)" +
          " * (cast(c as double) + 0.5))), 9) AS DECIMAL(18,9))")
          .as("lnor"),
        expr("CAST(round(1.0 / (1.0 / (cast(a as double) + 0.5)" +
          " + 1.0 / (cast(b as double) + 0.5)" +
          " + 1.0 / (cast(c as double) + 0.5)" +
          " + 1.0 / (cast(d as double) + 0.5)), 9) AS DECIMAL(18,9))")
          .as("w"))
    val pooled = per
      .select(col("w"),
        expr("CAST(round(cast(w as double) * cast(lnor as double), 9)" +
          " AS DECIMAL(28,9))").as("wl"))
      .agg(count(lit(1)).as("k_strata"), sum(col("w")).as("sw"),
        sum(col("wl")).as("swl"))
      .withColumn("pooled", expr(
        "cast(swl as double) / cast(sw as double)"))
    per.crossJoin(broadcast(pooled))
      .select(col("k_strata"), col("pooled"),
        expr("CAST(round(cast(w as double)" +
          " * (cast(lnor as double) - pooled)" +
          " * (cast(lnor as double) - pooled), 9) AS DECIMAL(28,9))")
          .as("x2t"))
      .groupBy(col("k_strata"), col("pooled"))
      .agg(sum(col("x2t")).as("x2s"))
      .withColumn("x2r", r6(expr("cast(x2s as double)")))
      .select(col("k_strata"),
        r6(col("pooled")).as("ln_or_pooled"),
        r6(exp(col("pooled"))).as("or_pooled"),
        col("x2r").as("x2_homogeneity"),
        (col("k_strata") - 1).as("df"),
        (col("x2r") <= lit(12.592d)).as("homogeneous"))
  }

  // ── Bartlett's test for homogeneity of variance across event types —
  // the parametric companion to stats_levene (Bartlett is the likelihood
  // -ratio test under normality; Levene is its robust cousin — a report
  // quotes both). Per-group moments are DECIMAL-exact one-scan sums (the
  // stats_anova frame); the k-row reduction snaps each log/reciprocal
  // term to fixed-dp DECIMAL before summing, so the tiny cross-group sum
  // is associative too. χ²-distributed with k−1 df under H₀. ──
  def statsBartlett(spark: SparkSession, dir: String): DataFrame = {
    val g = valueMoments(spark, dir)
      .withColumn("vi",
        (col("n") * col("s2") - col("s1") * col("s1")) /
          (col("n").cast("double") * (col("n") - 1)))
    g.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
        sum(expr("CAST(round((n - 1) * vi, 6) AS DECIMAL(18,6))"))
          .as("sp_num"),
        sum(expr("CAST(round((n - 1) * ln(vi), 9) AS DECIMAL(18,9))"))
          .as("t_lnv"),
        sum(expr("CAST(round(1.0D / (n - 1), 12) AS DECIMAL(18,12))"))
          .as("c_sum"))
      .withColumn("sp2", expr("cast(sp_num as double) / (nn - k)"))
      .select(col("k"), col("nn").as("n"), r6(col("sp2")).as("pooled_var"),
        r6(expr("(nn - k) * ln(sp2) - cast(t_lnv as double)")).as("t_stat"),
        r6(expr("1 + (cast(c_sum as double) - 1.0D / (nn - k))" +
          " / (3 * (k - 1))")).as("c_factor"),
        r6(expr("((nn - k) * ln(sp2) - cast(t_lnv as double))" +
          " / (1 + (cast(c_sum as double) - 1.0D / (nn - k))" +
          " / (3 * (k - 1)))")).as("stat"))
  }

  // ── Cliff's delta between the click/purchase value distributions —
  // the ordinal effect SIZE that says how big the stats_mannwhitney
  // shift actually is (δ = P(x>y) − P(x<y); U tells you it's
  // significant, δ tells you whether anyone should care). Dominance
  // counts come from ONE cumulative pass over the grouped value grid
  // (#(x>y) = Σ aᵥ·cum_b_before — the U-statistic identity), all
  // int64-exact; the single division and the standard
  // 0.147/0.33/0.474 magnitude fences branch on the 6-dp value. ──
  def statsCliffDelta(spark: SparkSession, dir: String): DataFrame = {
    val g = ksCounts(spark, dir)
    val byVal = Window.orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = g.withColumn("cb_before",
        coalesce(sum(col("b")).over(byVal), lit(0L)))
      .withColumn("cb_thru",
        coalesce(sum(col("b")).over(byVal), lit(0L)) + col("b"))
    val tot = g.agg(sum(col("a")).as("n1"), sum(col("b")).as("n2"))
    cum.crossJoin(broadcast(tot))
      .groupBy(col("n1"), col("n2"))
      .agg(sum(col("a") * col("cb_before")).as("n_gt"),
        sum(col("a") * (col("n2") - col("cb_thru"))).as("n_lt"))
      .withColumn("delta6", r6(expr(
        "cast(n_gt - n_lt as double) / (n1 * n2)")))
      .select(col("n1"), col("n2"), col("n_gt"), col("n_lt"),
        col("delta6").as("delta"),
        when(abs(col("delta6")) < 0.147, "negligible")
          .when(abs(col("delta6")) < 0.33, "small")
          .when(abs(col("delta6")) < 0.474, "medium")
          .otherwise("large").as("magnitude"))
  }

  // ── Mood's median test across ALL event types: are the k per-type
  // value distributions centered on the same median — the quick-and-
  // robust k-group location screen (stats_kruskal ranks everything;
  // this only asks above/below the GRAND median, so it survives wild
  // tails and censoring). The grand median is the explicit middle pair
  // read off the grouped value grid's cumulative counts (no global
  // row sort — grid-sized window only); the 2×k χ² is then pure
  // integer-count arithmetic with one double division per cell. ──
  def statsMoodMedian(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir).select(col("event_type"), col("value"))
    val g = e.groupBy(col("value")).agg(count(lit(1)).as("t"))
    // the grid total rides the SAME single-partition window pass as the
    // cumulative (round 13, session 3) — one WindowExec hosts both
    // frames, replacing the former separate total aggregate + broadcast
    // (integer sums either way, so nn is bit-identical)
    val cum = g.withColumn("cum", sum(col("t")).over(
      Window.orderBy(col("value"))
        .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("nn", sum(col("t")).over(
        Window.orderBy(col("value"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val med = cum
      .select(col("value"), col("cum"), col("nn"),
        expr("(nn + 1) div 2").as("p1"), expr("(nn + 2) div 2").as("p2"))
      .agg(min(when(col("cum") >= col("p1"), col("value"))).as("v1"),
        min(when(col("cum") >= col("p2"), col("value"))).as("v2"))
      .select(((col("v1") + col("v2")) / 2).as("med"))
    val counts = e.crossJoin(broadcast(med))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("value") > col("med")).cast("long")).as("above"),
        // med is constant across the group (a broadcast scalar); carrying
        // it here spares the former second med branch + broadcast at the
        // end of the chain
        first(col("med")).as("med"))
    // 2×k marginals over the k-row counts frame via one grid window
    // (round 13, session 3) — replaces the former count/sum aggregate +
    // broadcast crossJoin; exact integer sums, identical values
    val oneK = Window.partitionBy(lit(1))
    counts
      .withColumn("k", count(lit(1)).over(oneK))
      .withColumn("nn", sum(col("n")).over(oneK))
      .withColumn("ta", sum(col("above")).over(oneK))
      .select(col("k"), col("nn"), col("ta"), col("n"), col("above"),
        col("med"),
        expr("cast(n * ta as double) / nn").as("e_above"),
        expr("cast(n * (nn - ta) as double) / nn").as("e_below"))
      .groupBy(col("k"), col("nn"), col("ta"), col("med"))
      .agg(sum(expr("CAST(round((above - e_above) * (above - e_above)" +
          " / e_above + ((n - above) - e_below)" +
          " * ((n - above) - e_below) / e_below, 9)" +
          " AS DECIMAL(18,9))")).as("chi2d"))
      .select(col("k"), col("nn").as("n"), r6(col("med")).as("grand_median"),
        col("ta").as("n_above"),
        r6(expr("cast(chi2d as double)")).as("chi2"),
        (col("k") - 1).as("df"))
  }

  // ── Welch's heteroscedastic one-way ANOVA across event types — the
  // F-test to reach for when stats_bartlett REJECTS equal variances
  // (classic ANOVA's pooled denominator is then wrong; Welch weights
  // each group by n/s²). Group moments are the DECIMAL-exact
  // stats_anova frame; the k-row weight reduction snaps each term to
  // fixed-dp DECIMAL (associative), with the weight-sum broadcast back
  // for the second pass. Welch–Satterthwaite df₂ comes from the same
  // Σ(1−wᵢ/W)²/(nᵢ−1) term as the denominator. ──
  def statsWelchAnova(spark: SparkSession, dir: String): DataFrame = {
    val g = valueMoments(spark, dir)
      .withColumn("xb", expr("s1 / n"))
      .withColumn("vi", expr(
        "(n * s2 - s1 * s1) / (cast(n as double) * (n - 1))"))
      // the 9-dp snap makes wi identical in both engines BEFORE any
      // cross-group arithmetic reuses it
      .withColumn("wi", expr("cast(CAST(round(n / vi, 9)" +
        " AS DECIMAL(18,9)) as double)"))
    val tot = g.agg(count(lit(1)).as("k"),
      sum(expr("CAST(round(wi, 9) AS DECIMAL(18,9))")).as("wsum"),
      sum(expr("CAST(round(wi * xb, 6) AS DECIMAL(28,6))")).as("wxsum"))
      .withColumn("mw", expr("cast(wxsum as double) / cast(wsum as double)"))
    g.crossJoin(broadcast(tot))
      .groupBy(col("k"), col("wsum"), col("mw"))
      .agg(sum(expr("CAST(round(wi * (xb - mw) * (xb - mw), 6)" +
          " AS DECIMAL(28,6))")).as("a_num"),
        sum(expr("CAST(round((1 - wi / cast(wsum as double))" +
          " * (1 - wi / cast(wsum as double))" +
          " / (n - 1), 12) AS DECIMAL(18,12))")).as("lam"))
      .select(col("k"), r6(col("mw")).as("weighted_mean"),
        r6(expr("(cast(a_num as double) / (k - 1))" +
          " / (1 + 2 * cast(k - 2 as double) / (cast(k as double) * k - 1)" +
          " * cast(lam as double))")).as("f_stat"),
        (col("k") - 1).as("df1"),
        r6(expr("(cast(k as double) * k - 1)" +
          " / (3 * cast(lam as double))")).as("df2"))
  }

  // ── Ansari–Bradley two-sample SCALE test between the click/purchase
  // value distributions — do the two distributions differ in SPREAD
  // around a common median (mannwhitney asks about location; KS about
  // shape; this isolates dispersion). Symmetric scores min(r, N+1−r)
  // with midrank ties are computed PER TIE GROUP in closed form on the
  // grouped value grid: the score-sum over ranks (lo..hi] is two
  // arithmetic series clamped at the fold point — exact int64 — and
  // the tie group's members each take S/t. T = Σ_A scores; the z uses
  // the finite-population linear-rank moments E[T] = n₁·s̄ and
  // Var[T] = n₁n₂/(N(N−1))·Σ(sᵢ−s̄)², with Σsᵢ² = Σ S²/t per group.
  // One cumulative pass, grid-sized. ──
  def statsAnsariBradley(spark: SparkSession, dir: String): DataFrame = {
    val g = ksCounts(spark, dir)
    val byVal = Window.orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = g.agg(sum(col("a")).as("n1"), sum(col("b")).as("n2"),
      (sum(col("a")) + sum(col("b"))).as("nn"))
    val ranked = g.withColumn("lo",
        coalesce(sum(col("t")).over(byVal), lit(0L)) + 1)
      .withColumn("hi",
        coalesce(sum(col("t")).over(byVal), lit(0L)) + col("t"))
      .crossJoin(broadcast(tot))
      // Σ_{r=lo..hi} min(r, N+1−r): ascending arm r ≤ (N+1) div 2 plus
      // descending arm N+1−r beyond it, each a clamped integer series
      .withColumn("m", expr("(nn + 1) div 2"))
      .withColumn("ua", least(col("hi"), col("m")))
      .withColumn("sasc", expr(
        "CASE WHEN ua >= lo THEN (lo + ua) * (ua - lo + 1) div 2" +
          " ELSE 0 END"))
      .withColumn("lb", greatest(col("lo"), col("m") + 1))
      .withColumn("sdesc", expr(
        "CASE WHEN hi >= lb THEN (nn + 1) * (hi - lb + 1)" +
          " - (lb + hi) * (hi - lb + 1) div 2 ELSE 0 END"))
      .withColumn("s", col("sasc") + col("sdesc"))
    ranked
      .groupBy(col("n1"), col("n2"), col("nn"))
      .agg(sum(expr("CAST(round(a * (cast(s as double) / t), 9)" +
          " AS DECIMAL(28,9))")).as("t_a"),
        sum(col("s")).as("s_all"),
        sum(expr("CAST(round(cast(s as double) * s / t, 9)" +
          " AS DECIMAL(28,9))")).as("s2_all"))
      .withColumn("sbar", expr("cast(s_all as double) / nn"))
      .withColumn("varsum", expr(
        "cast(s2_all as double) - nn * sbar * sbar"))
      .select(col("n1"), col("n2"),
        r6(expr("cast(t_a as double)")).as("ab_stat"),
        r6(expr("n1 * sbar")).as("expected"),
        r6(expr("(cast(t_a as double) - n1 * sbar)" +
          " / sqrt(cast(n1 as double) * n2 / (cast(nn as double)" +
          " * (nn - 1)) * varsum)")).as("z"))
  }

  // ── TOST equivalence test between the click and purchase mean
  // values: stats_ttest asks "are they different"; TOST asks the
  // question a migration sign-off actually needs — "are they the SAME
  // to within ±δ" (two one-sided Welch t's against a ±5%-of-pooled-mean
  // margin; equivalence requires BOTH to reject). Group moments are the
  // DECIMAL-exact frames; the one-sided p's go through the shared
  // token-identical Φ polynomial, and the verdict branches on the 6-dp
  // p (both engines compare identical values). ──
  def statsTost(spark: SparkSession, dir: String): DataFrame = {
    val g = valueMoments(spark, dir)
      .filter(col("event_type").isin(KsTypeA, KsTypeB))
      .withColumn("m", expr("s1 / n"))
      .withColumn("vi", expr(
        "(n * s2 - s1 * s1) / (cast(n as double) * (n - 1))"))
    val a = g.filter(col("event_type") === KsTypeA)
      .select(col("n").as("n1"), col("m").as("m1"), col("vi").as("v1"))
    val b = g.filter(col("event_type") === KsTypeB)
      .select(col("n").as("n2"), col("m").as("m2"), col("vi").as("v2"))
    a.crossJoin(broadcast(b))
      .withColumn("d", expr("m1 - m2"))
      .withColumn("delta", expr("abs(0.05D * (m1 + m2) / 2)"))
      .withColumn("se", expr("sqrt(v1 / n1 + v2 / n2)"))
      .withColumn("tl", expr("(d + delta) / se"))
      .withColumn("tu", expr("(delta - d) / se"))
      .withColumn("pmax6", r6(expr(
        s"greatest(1.0 - ${phiSql("tl")}, 1.0 - ${phiSql("tu")})")))
      .select(col("n1"), col("n2"), r6(col("d")).as("diff"),
        r6(col("delta")).as("margin"), r6(col("se")).as("se"),
        r6(col("tl")).as("t_lower"), r6(col("tu")).as("t_upper"),
        col("pmax6").as("p_max"),
        (col("pmax6") < 0.05).as("equivalent"))
  }

  // ── Bayesian A/B readout on user-level purchase conversion: the same
  // portable-hash arms as ab_srm_check, Beta(x+1, n−x+1) posteriors,
  // and P(B > A) by the normal approximation to the posterior
  // difference — the "probability B is actually better" number a
  // decision memo quotes instead of a p-value. Counts are exact int64;
  // posterior moments are closed-form rationals of them; the single Φ
  // goes through the shared token-identical polynomial. One user-level
  // distinct + one flag aggregation. ──
  def abBayesApprox(spark: SparkSession, dir: String): DataFrame = {
    val u = ev(spark, dir)
      .groupBy(col("user_id"))
      .agg(max((col("event_type") === "purchase").cast("long"))
        .as("converted"))
      .withColumn("arm",
        expr("pmod(pmod(user_id, 2147483648) * 2654435761, 2147483648)" +
          " % 2"))
    u.agg(
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 0L, col("converted")).otherwise(0L))
          .as("x_a"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("arm") === 1L, col("converted")).otherwise(0L))
          .as("x_b"))
      .withColumn("ma", expr("cast(x_a + 1 as double) / (n_a + 2)"))
      .withColumn("mb", expr("cast(x_b + 1 as double) / (n_b + 2)"))
      .withColumn("va", expr("cast(x_a + 1 as double) * (n_a - x_a + 1)" +
        " / (cast(n_a + 2 as double) * (n_a + 2) * (n_a + 3))"))
      .withColumn("vb", expr("cast(x_b + 1 as double) * (n_b - x_b + 1)" +
        " / (cast(n_b + 2 as double) * (n_b + 2) * (n_b + 3))"))
      .withColumn("zs", expr("(mb - ma) / sqrt(va + vb)"))
      .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        r6(expr("cast(x_a as double) / n_a")).as("cr_a"),
        r6(expr("cast(x_b as double) / n_b")).as("cr_b"),
        r6(expr("(cast(x_b as double) / n_b)" +
          " / (cast(x_a as double) / n_a) - 1")).as("rel_lift"),
        r6(expr(phiSql("zs"))).as("p_b_beats_a"))
  }

  // ── 10% trimmed and winsorized means of `value` per event type —
  // the robust-location pair a metrics report quotes when stats_ttest's
  // plain mean is hostage to tails (trimming DROPS the extreme k=⌊n/10⌋
  // each side; winsorizing CLAMPS them to the surviving extremes). Both
  // are EXACT on the grouped cents grid: each tie group spans an
  // integer rank range, the trim window [k+1, n−k] intersects it in
  // closed form (the eval_lift span-overlap device), and the clamp
  // values are the grid rows covering ranks k+1 and n−k — int64
  // arithmetic to the final divisions. ──
  def statsTrimmedMean(spark: SparkSession, dir: String): DataFrame = {
    val g = ev(spark, dir)
      .withColumn("vc",
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .groupBy(col("event_type"), col("vc"))
      .agg(count(lit(1)).as("t"))
    val byVal = Window.partitionBy(col("event_type")).orderBy(col("vc"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val spans = g
      .withColumn("lo", coalesce(sum(col("t")).over(byVal), lit(0L)) + 1)
      .withColumn("hi",
        coalesce(sum(col("t")).over(byVal), lit(0L)) + col("t"))
    val tot = g.groupBy(col("event_type"))
      .agg(sum(col("t")).as("n"), sum(col("t") * col("vc")).as("sv"))
      .withColumn("k", expr("n div 10"))
    spans.join(broadcast(tot), "event_type")
      .withColumn("ov", expr(
        "greatest(0L, least(hi, n - k) - greatest(lo, k + 1) + 1)"))
      .groupBy(col("event_type"), col("n"), col("k"), col("sv"))
      .agg(sum(expr("ov * vc")).as("trim_sum"),
        sum(col("ov")).as("n_kept"),
        min(when(col("hi") >= col("k") + 1, col("vc"))).as("v_lo"),
        min(when(col("hi") >= expr("n - k"), col("vc"))).as("v_hi"))
      .select(col("event_type"), col("n"),
        r6(expr("cast(sv as double) / (100 * n)")).as("mean"),
        r6(expr("cast(trim_sum as double) / (100 * n_kept)"))
          .as("trimmed_mean_10"),
        r6(expr("cast(trim_sum + k * (v_lo + v_hi) as double)" +
          " / (100 * n)")).as("winsor_mean_10"),
        r6(expr("cast(v_lo as double) / 100")).as("clamp_lo"),
        r6(expr("cast(v_hi as double) / 100")).as("clamp_hi"))
      .orderBy("event_type")
  }

  // ── Tukey boxplot fences per event type: Q1/Q3 (the established
  // percentile ↔ quantile_cont interpolation pairing), IQR, the
  // 1.5·IQR inner and 3·IQR outer fences, and HOW MANY observations
  // fall outside each — the outlier budget that decides between
  // anomaly_mad's robust band and a plain threshold. Fences snap to
  // 6 dp BEFORE the comparison pass, so both engines count identical
  // outlier sets. Two scans (quantiles, then counts vs the broadcast
  // fences). ──
  def statsIqrFences(spark: SparkSession, dir: String): DataFrame = {
    val q = ev(spark, dir).groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.25D)").as("q1"),
        expr("percentile(value, 0.75D)").as("q3"))
      .withColumn("iqr", expr("q3 - q1"))
      .withColumn("lo_in", r6(expr("q1 - 1.5D * iqr")))
      .withColumn("hi_in", r6(expr("q3 + 1.5D * iqr")))
      .withColumn("lo_out", r6(expr("q1 - 3.0D * iqr")))
      .withColumn("hi_out", r6(expr("q3 + 3.0D * iqr")))
    ev(spark, dir).join(broadcast(q), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), first(col("q1")).as("q1d"),
        first(col("q3")).as("q3d"), first(col("lo_in")).as("li"),
        first(col("hi_in")).as("hi"), first(col("lo_out")).as("lo"),
        first(col("hi_out")).as("ho"),
        sum(((col("value") < col("lo_in")) ||
          (col("value") > col("hi_in"))).cast("long")).as("n_mild"),
        sum(((col("value") < col("lo_out")) ||
          (col("value") > col("hi_out"))).cast("long")).as("n_extreme"))
      .select(col("event_type"), col("n"),
        r6(col("q1d")).as("q1"), r6(col("q3d")).as("q3"),
        col("li").as("fence_lo"), col("hi").as("fence_hi"),
        col("n_mild"), col("n_extreme"))
      .orderBy("event_type")
  }

  // ── ordinal-association panel (Goodman–Kruskal γ, Somers' D both
  // directions, Kendall τ-b) between the value's 100-band bucket and
  // the 6-hour shift of day — stats_kendall_tau ranks raw pairs; THIS
  // is the grid identity for ordinal×ordinal data where ties are the
  // norm, and the three coefficients differ exactly in which ties they
  // charge for (γ none, Somers' one side, τ-b both). Concordant /
  // discordant pair counts come from a ~40-cell contingency self-join
  // (corpus reduces to the grid first — the O(n²) pair space never
  // materializes), tie terms from marginals; everything is exact int64
  // until the three final divisions. τ-b's denominator multiplies the
  // two tie-adjusted pair counts in DOUBLE (their int64 product can
  // overflow at corpus scale; one expression, same operands → both
  // engines compute the identical double). ──
  def statsOrdinalAssoc(spark: SparkSession, dir: String): DataFrame = {
    val cells = ev(spark, dir)
      .select(floor(col("value") / 100).cast("long").as("xb"),
        expr("((us div 3600000000) % 24) div 6").as("yb"))
      .groupBy(col("xb"), col("yb")).agg(count(lit(1)).as("m"))
      .transform(Eager(_))
    val a = cells.select(col("xb").as("x1"), col("yb").as("y1"),
      col("m").as("m1"))
    val b = cells.select(col("xb").as("x2"), col("yb").as("y2"),
      col("m").as("m2"))
    val cd = a.join(broadcast(b), col("x2") > col("x1"))
      .agg(sum(when(col("y2") > col("y1"),
          col("m1") * col("m2")).otherwise(0L)).as("cp"),
        sum(when(col("y2") < col("y1"),
          col("m1") * col("m2")).otherwise(0L)).as("dp"))
    val nTot = cells.agg(sum(col("m")).as("n"))
    val tx = cells.groupBy(col("xb")).agg(sum(col("m")).as("r"))
      .agg(sum(expr("r * (r - 1)")).as("tx2"))
    val ty = cells.groupBy(col("yb")).agg(sum(col("m")).as("s"))
      .agg(sum(expr("s * (s - 1)")).as("ty2"))
    cd.crossJoin(broadcast(nTot)).crossJoin(broadcast(tx))
      .crossJoin(broadcast(ty))
      .withColumn("dx", expr("n * (n - 1) - tx2"))
      .withColumn("dy", expr("n * (n - 1) - ty2"))
      .select(col("n"), col("cp").as("c_pairs"), col("dp").as("d_pairs"),
        expr("tx2 div 2").as("tied_x_pairs"),
        expr("ty2 div 2").as("tied_y_pairs"),
        r6(expr("cast(cp - dp as double) / (cp + dp)")).as("gamma"),
        r6(expr("cast(2 * (cp - dp) as double) / dx")).as("somers_d_yx"),
        r6(expr("cast(2 * (cp - dp) as double) / dy")).as("somers_d_xy"),
        r6(expr("cast(2 * (cp - dp) as double)" +
          " / sqrt(cast(dx as double) * dy)")).as("tau_b"))
  }

  // ── paired sign test per event type: did week-over-week daily revenue
  // SHIFT, asking only the sign of each (day, day+7) difference — the
  // assumption-free floor under stats_wilcoxon_signed (which adds rank
  // magnitudes) and forecast-drift monitors: valid under any
  // distribution, immune to outliers. Pairs come from the calendar
  // self-join (gap days drop from both engines identically), zero
  // differences are discarded per the classical test, counts are exact
  // int64, and the normal-approximation z = (2S − n)/√n and its
  // two-sided p through the shared token-identical Φ polynomial are
  // single double expressions; the verdict compares the 6-dp p. ──
  def statsSignTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyTyped(spark, dir)
    daily.select(col("event_type"), col("day").as("d1"),
        col("revc").as("r1"))
      .join(daily.select(col("event_type"), col("day").as("d2"),
        col("revc").as("r2")),
        Seq("event_type"))
      .filter(col("d2") === date_add(col("d1"), 7))
      .select(col("event_type"), (col("r2") - col("r1")).as("diff"))
      .filter(col("diff") =!= 0L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("diff") > 0, 1L).otherwise(0L)).as("n_plus"))
      .withColumn("z", expr(
        "cast(2 * n_plus - n_pairs as double)" +
          " / sqrt(cast(n_pairs as double))"))
      .withColumn("az", abs(col("z")))
      .withColumn("p2", r6(expr(s"2.0 * (1.0 - ${phiSql("az")})")))
      .select(col("event_type"), col("n_pairs"), col("n_plus"),
        (col("n_pairs") - col("n_plus")).as("n_minus"),
        r6(col("z")).as("z"), col("p2").as("p_two"),
        (col("z") > 0).as("shift_up"),
        (col("p2") < lit(0.05d)).as("significant"))
      .orderBy("event_type")
  }

  /** The event_type × weekday cells of the χ² keys: observed count o
    * (null for an empty cell), the row and column totals rt and ct, and
    * the grand total n — every cell, so expected counts cover the
    * structural zeros too. */
  private def typeDowCells(spark: SparkSession, dir: String): DataFrame = {
    val o = ev(spark, dir)
      .select(col("event_type"),
        expr("pmod(datediff(day, DATE'1970-01-01'), 7)").as("dow"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("o"))
    val rowT = o.groupBy(col("event_type")).agg(sum(col("o")).as("rt"))
    val colT = o.groupBy(col("dow")).agg(sum(col("o")).as("ct"))
    val n = o.agg(sum(col("o")).as("n"))
    rowT.crossJoin(colT).crossJoin(broadcast(n))
      .join(o, Seq("event_type", "dow"), "left")
  }

  /** Oracle CTEs mirroring [[typeDowCells]]: `grid(event_type, dow, o,
    * e)` with the expected count e. Ends at its closing parenthesis. */
  private val duckTypeDowGrid: String =
    """WITH e0 AS (
      |  SELECT event_type,
      |    ((CAST(ts AS DATE) - DATE '1970-01-01') % 7 + 7) % 7 AS dow
      |  FROM events),
      |o AS (SELECT event_type, CAST(dow AS INTEGER) AS dow,
      |        count(*) AS o FROM e0 GROUP BY 1, 2),
      |rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt FROM o GROUP BY 1),
      |ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS ct FROM o GROUP BY 1),
      |n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM o),
      |grid AS (
      |  SELECT rt.event_type, ct.dow,
      |    CAST(COALESCE(o.o, 0) AS BIGINT) AS o,
      |    CAST(rt.rt AS DOUBLE) * ct.ct / n.n AS e
      |  FROM rt CROSS JOIN ct CROSS JOIN n
      |  LEFT JOIN o ON o.event_type = rt.event_type AND o.dow = ct.dow)""".stripMargin

  /** Oracle CTEs of the click-vs-purchase rank tests: `g(v, a, b)`, each
    * distinct value's click and purchase counts, and `gt`, plus the tie
    * size t = a + b. Comma-terminated. */
  private val duckTiedCounts: String =
    """WITH g AS (
      |  SELECT "value" AS v,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
      |      END) AS BIGINT) AS b
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |  GROUP BY 1),
      |gt AS (SELECT *, a + b AS t FROM g),
      |""".stripMargin

  /** The Wilson 95% interval bound of k successes in n trials, the lower
    * for `sign` "-" and the upper for "+", 6-dp snapped. */
  private def duckWilsonBound(sign: String): String =
    s"""  round((CAST(k AS DOUBLE) / n
       |      + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / (2 * n)
       |      $sign CAST(1.96 AS DOUBLE)
       |        * sqrt((CAST(k AS DOUBLE) / n) * (1 - (CAST(k AS DOUBLE) / n)) / n
       |          + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))
       |            / (4 * n * n)))
       |    / (1 + (CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)) / n), 6)
       |    + 0.0""".stripMargin

  protected val testKeys: Seq[Key] = Seq(
    Key("stats_brunner_munzel", statsBrunnerMunzel, Some {
      val pw = phiSql("aw")
      s"""${duckTiedCounts}r AS (SELECT *,
         |    COALESCE(sum(t) OVER wb, 0) AS f,
         |    COALESCE(sum(a) OVER wb, 0) AS fa,
         |    COALESCE(sum(b) OVER wb, 0) AS fb
         |  FROM gt
         |  WINDOW wb AS (ORDER BY v
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         |rr AS (SELECT *, 2 * f + t + 1 AS dd,
         |    2 * f + t + 1 - (2 * fa + a + 1) AS ua,
         |    2 * f + t + 1 - (2 * fb + b + 1) AS ub
         |  FROM r),
         |m AS (SELECT CAST(sum(a) AS BIGINT) AS n1,
         |    CAST(sum(b) AS BIGINT) AS n2,
         |    sum(CAST(a AS HUGEINT) * dd) AS ad,
         |    sum(CAST(b AS HUGEINT) * dd) AS bd,
         |    sum(CAST(a AS HUGEINT) * ua) AS au1,
         |    sum(CAST(a AS HUGEINT) * ua * ua) AS au2,
         |    sum(CAST(b AS HUGEINT) * ub) AS bu1,
         |    sum(CAST(b AS HUGEINT) * ub * ub) AS bu2
         |  FROM rr),
         |d1 AS (SELECT *,
         |    CAST(ad AS DOUBLE) / (2 * n1) AS rbar1,
         |    CAST(bd AS DOUBLE) / (2 * n2) AS rbar2,
         |    CAST(ad AS DOUBLE) / n1 - (n1 + 1) AS ma,
         |    CAST(bd AS DOUBLE) / n2 - (n2 + 1) AS mb
         |  FROM m),
         |d2 AS (SELECT *,
         |    (CAST(au2 AS DOUBLE) - 2 * ma * CAST(au1 AS DOUBLE)
         |      + n1 * ma * ma) / (4 * (CAST(n1 AS DOUBLE) - 1)) AS s1,
         |    (CAST(bu2 AS DOUBLE) - 2 * mb * CAST(bu1 AS DOUBLE)
         |      + n2 * mb * mb) / (4 * (CAST(n2 AS DOUBLE) - 1)) AS s2
         |  FROM d1),
         |d3 AS (SELECT *,
         |    CAST(n1 AS DOUBLE) * n2 * (rbar2 - rbar1) / (n1 + n2)
         |      / sqrt(n1 * s1 + n2 * s2) AS w
         |  FROM d2),
         |d4 AS (SELECT *, abs(w) AS aw FROM d3),
         |d5 AS (SELECT *, round(2.0 * (1.0 - $pw), 6) + 0.0 AS p2
         |  FROM d4)
         |SELECT n1, n2,
         |  round((rbar2 - (n2 + 1) / 2.0) / n1, 6) + 0.0 AS p_hat,
         |  round(w, 6) + 0.0 AS w_stat,
         |  round((n1 * s1 + n2 * s2) * (n1 * s1 + n2 * s2)
         |    / ((n1 * s1) * (n1 * s1) / (CAST(n1 AS DOUBLE) - 1)
         |    + (n2 * s2) * (n2 * s2) / (CAST(n2 AS DOUBLE) - 1)), 6)
         |    + 0.0 AS df,
         |  p2 AS p_two, p2 < 0.05 AS significant
         |FROM d5""".stripMargin
    }),
    Key("stats_quade", statsQuade, Some(duckFriedmanGrid +
      """rng AS (SELECT day,
        |    CAST(max(revc) - min(revc) AS BIGINT) AS rng
        |  FROM rk GROUP BY 1),
        |q2 AS (SELECT day,
        |    rank() OVER (ORDER BY rng) * 2
        |      + count(*) OVER (PARTITION BY rng) - 1 AS q2
        |  FROM rng),
        |cells AS (SELECT rk.event_type,
        |    CAST(count(*) OVER (PARTITION BY rk.day) AS BIGINT) AS k,
        |    q2.q2 * (rk.r2x - (count(*) OVER (PARTITION BY rk.day) + 1))
        |      AS s4
        |  FROM rk JOIN q2 ON q2.day = rk.day),
        |pt AS (SELECT event_type, CAST(sum(s4) AS BIGINT) AS t4,
        |    CAST(count(*) AS BIGINT) AS b,
        |    CAST(any_value(k) AS BIGINT) AS k
        |  FROM cells GROUP BY 1),
        |a16 AS (SELECT sum(CAST(s4 AS HUGEINT) * s4) AS a16 FROM cells),
        |f AS (SELECT CAST(any_value(k) AS BIGINT) AS k,
        |    CAST(any_value(b) AS BIGINT) AS n_blocks,
        |    sum(CAST(t4 AS HUGEINT) * t4) AS b16n
        |  FROM pt),
        |g AS (SELECT f.*, a16.a16,
        |      CAST(b16n AS DOUBLE) / n_blocks AS bb
        |      FROM f, a16)
        |SELECT n_blocks, k,
        |  round(CAST(a16 AS DOUBLE) / 16, 6) + 0.0 AS a_stat,
        |  round(bb / 16, 6) + 0.0 AS b_stat,
        |  round((CAST(n_blocks AS DOUBLE) - 1) * bb
        |    / (CAST(a16 AS DOUBLE) - bb), 6) + 0.0 AS f_stat,
        |  k - 1 AS df1, (n_blocks - 1) * (k - 1) AS df2
        |FROM g""".stripMargin)),
    Key("stats_nemenyi", statsNemenyi, Some(duckFriedmanGrid +
      s"""s AS (SELECT event_type, CAST(sum(r2x) AS BIGINT) AS s2,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM rk GROUP BY 1),
         |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM s),
         |wk AS (SELECT s.*, kk.k,
         |    CAST(s2 AS DOUBLE) / (2 * n) AS rbar
         |  FROM s, kk),
         |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
         |    a.n AS n_blocks, a.k AS k, a.rbar AS rbar_a,
         |    b.rbar AS rbar_b
         |  FROM wk a JOIN wk b ON a.event_type < b.event_type),
         |d AS (SELECT *,
         |    round(abs(rbar_a - rbar_b), 6) + 0.0 AS diff6,
         |    round((CASE k ${NemenyiQ.toSeq.sortBy(_._1)
              .map { case (kk2, q) => s"WHEN $kk2 THEN $q" }
              .mkString(" ")} END)
         |      * sqrt(CAST(k AS DOUBLE) * (k + 1) / (6.0 * n_blocks)),
         |      6) + 0.0 AS cd6
         |  FROM p)
         |SELECT type_a, type_b,
         |  round(rbar_a, 6) + 0.0 AS mean_rank_a,
         |  round(rbar_b, 6) + 0.0 AS mean_rank_b,
         |  diff6 AS rank_diff, cd6 AS critical_dist,
         |  diff6 > cd6 AS significant
         |FROM d ORDER BY type_a, type_b""".stripMargin)),
    Key("stats_mood_scale", statsMoodScale, Some {
      val pz = phiSql("az")
      s"""${duckTiedCounts}r AS (SELECT *,
         |    CAST(COALESCE(sum(t) OVER (ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS f
         |  FROM gt),
         |rr AS (SELECT *, 2 * f + t + 1 AS dd FROM r),
         |nn0 AS (SELECT CAST(sum(a + b) AS BIGINT) AS nn FROM g),
         |m AS (SELECT CAST(any_value(nn) AS BIGINT) AS nn,
         |    CAST(sum(a) AS BIGINT) AS n1,
         |    sum(CAST(a AS HUGEINT)
         |      * (dd - (nn + 1)) * (dd - (nn + 1))) AS t4
         |  FROM rr, nn0),
         |n2t AS (SELECT CAST(sum(b) AS BIGINT) AS n2 FROM g),
         |d1 AS (SELECT m.*, n2t.n2,
         |    CAST(n1 AS DOUBLE) * (CAST(nn AS DOUBLE) * nn - 1) / 3
         |      AS e4,
         |    4.0 * (CAST(n1 AS DOUBLE) * n2 * (nn + 1)
         |      * (CAST(nn AS DOUBLE) * nn - 4)) / 45 AS v4
         |  FROM m, n2t),
         |d2 AS (SELECT *, (CAST(t4 AS DOUBLE) - e4) / sqrt(v4) AS z
         |  FROM d1),
         |d3 AS (SELECT *, abs(z) AS az FROM d2),
         |d4 AS (SELECT *, round(2.0 * (1.0 - $pz), 6) + 0.0 AS p2
         |  FROM d3)
         |SELECT n1, n2,
         |  round(CAST(t4 AS DOUBLE) / 4, 6) + 0.0 AS t_stat,
         |  round(e4 / 4, 6) + 0.0 AS t_expected,
         |  round(z, 6) + 0.0 AS z, p2 AS p_two, p2 < 0.05 AS significant
         |FROM d4""".stripMargin
    }),
    Key("stats_poisson_rate", statsPoissonRate, Some {
      val pz = phiSql("az")
      s"""WITH g AS (SELECT
         |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n1,
         |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
         |      END) AS BIGINT) AS n2,
         |    CAST(count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE))
         |      AS BIGINT) AS n_days
         |  FROM events
         |  WHERE event_type IN ('click', 'purchase')),
         |z AS (SELECT *,
         |    CAST(n1 - n2 AS DOUBLE) / sqrt(CAST(n1 + n2 AS DOUBLE))
         |      AS z,
         |    ln(CAST(n1 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS lnrr,
         |    sqrt(1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))
         |      AS se
         |  FROM g),
         |za AS (SELECT *, abs(z) AS az FROM z),
         |pp AS (SELECT *, round(2.0 * (1.0 - $pz), 6) + 0.0 AS p2
         |       FROM za)
         |SELECT n1, n2, n_days,
         |  round(CAST(n1 AS DOUBLE) / n_days, 6) + 0.0 AS rate_1,
         |  round(CAST(n2 AS DOUBLE) / n_days, 6) + 0.0 AS rate_2,
         |  round(CAST(n1 AS DOUBLE) / CAST(n2 AS DOUBLE), 6) + 0.0
         |    AS rate_ratio,
         |  round(z, 6) + 0.0 AS z, p2 AS p_two,
         |  round(exp(lnrr - 1.959964 * se), 6) + 0.0 AS rr_ci_lo,
         |  round(exp(lnrr + 1.959964 * se), 6) + 0.0 AS rr_ci_hi,
         |  p2 < 0.05 AS significant
         |FROM pp""".stripMargin
    }),
    Key("stats_median_ci", statsMedianCi, Some(duckDailyTyped +
      """r AS (SELECT *,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY revc, day) AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM daily),
        |l AS (SELECT *,
        |    greatest(CAST(1 AS BIGINT), CAST(floor((CAST(n AS DOUBLE)
        |      - 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2) AS BIGINT))
        |      AS lo_rank
        |  FROM r),
        |g AS (SELECT event_type, CAST(any_value(n) AS BIGINT) AS n_days,
        |    CAST(any_value(lo_rank) AS BIGINT) AS rank_lo,
        |    CAST(any_value(n) + 1 - any_value(lo_rank) AS BIGINT)
        |      AS rank_hi,
        |    avg(CASE WHEN rn = (n + 1) // 2 OR rn = (n + 2) // 2
        |        THEN revc END) AS medc,
        |    max(CASE WHEN rn = lo_rank THEN revc END) AS loc,
        |    max(CASE WHEN rn = n + 1 - lo_rank THEN revc END) AS hic
        |  FROM l GROUP BY 1)
        |SELECT event_type, n_days, round(medc / 100, 6) + 0.0 AS median,
        |  rank_lo, rank_hi,
        |  round(CAST(loc AS DOUBLE) / 100, 6) + 0.0 AS ci_lo,
        |  round(CAST(hic AS DOUBLE) / 100, 6) + 0.0 AS ci_hi
        |FROM g ORDER BY event_type""".stripMargin)),
    Key("stats_mantel_haenszel", statsMantelHaenszel, Some(duckStrataTables +
      """t AS (SELECT
        |    CAST(round(CAST(a AS DOUBLE) * d / n, 9) AS DECIMAL(28,9))
        |      AS adn,
        |    CAST(round(CAST(b AS DOUBLE) * c / n, 9) AS DECIMAL(28,9))
        |      AS bcn,
        |    CAST(round(CAST(a + b AS DOUBLE) * (a + c) / n, 9)
        |      AS DECIMAL(28,9)) AS ea,
        |    CAST(round(CAST(a + b AS DOUBLE) * (c + d) * (a + c)
        |      * (b + d) / (CAST(n AS DOUBLE) * n * (n - 1)), 9)
        |      AS DECIMAL(28,9)) AS va,
        |    a
        |  FROM tn),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS k_strata,
        |    CAST(sum(a) AS BIGINT) AS sa, sum(adn) AS num,
        |    sum(bcn) AS den, sum(ea) AS sea, sum(va) AS sva
        |  FROM t),
        |f AS (SELECT *,
        |    round((CAST(sa AS DOUBLE) - CAST(sea AS DOUBLE))
        |      * (CAST(sa AS DOUBLE) - CAST(sea AS DOUBLE))
        |      / CAST(sva AS DOUBLE), 6) + 0.0 AS chi2r
        |  FROM g)
        |SELECT k_strata, sa AS exposed_successes,
        |  round(CAST(sea AS DOUBLE), 6) + 0.0 AS expected,
        |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) + 0.0
        |    AS or_mh,
        |  chi2r AS chi2_cmh, chi2r > 3.841 AS significant
        |FROM f""".stripMargin)),
    Key("stats_woolf", statsWoolf, Some(duckStrataTables +
      """per AS (SELECT dow,
        |    CAST(round(ln(((CAST(a AS DOUBLE) + 0.5)
        |      * (CAST(d AS DOUBLE) + 0.5))
        |      / ((CAST(b AS DOUBLE) + 0.5)
        |      * (CAST(c AS DOUBLE) + 0.5))), 9) AS DECIMAL(18,9))
        |      AS lnor,
        |    CAST(round(1.0 / (1.0 / (CAST(a AS DOUBLE) + 0.5)
        |      + 1.0 / (CAST(b AS DOUBLE) + 0.5)
        |      + 1.0 / (CAST(c AS DOUBLE) + 0.5)
        |      + 1.0 / (CAST(d AS DOUBLE) + 0.5)), 9) AS DECIMAL(18,9))
        |      AS w
        |  FROM tn),
        |po AS (SELECT CAST(count(*) AS BIGINT) AS k_strata,
        |    sum(w) AS sw,
        |    sum(CAST(round(CAST(w AS DOUBLE) * CAST(lnor AS DOUBLE), 9)
        |        AS DECIMAL(28,9))) AS swl
        |  FROM per),
        |pl AS (SELECT *, CAST(swl AS DOUBLE) / CAST(sw AS DOUBLE)
        |    AS pooled FROM po),
        |x AS (SELECT pl.k_strata, pl.pooled,
        |    CAST(round(CAST(w AS DOUBLE)
        |      * (CAST(lnor AS DOUBLE) - pooled)
        |      * (CAST(lnor AS DOUBLE) - pooled), 9) AS DECIMAL(28,9))
        |      AS x2t
        |  FROM per, pl),
        |g AS (SELECT k_strata, pooled, sum(x2t) AS x2s
        |      FROM x GROUP BY 1, 2),
        |f AS (SELECT *, round(CAST(x2s AS DOUBLE), 6) + 0.0 AS x2r
        |      FROM g)
        |SELECT k_strata, round(pooled, 6) + 0.0 AS ln_or_pooled,
        |  round(exp(pooled), 6) + 0.0 AS or_pooled,
        |  x2r AS x2_homogeneity, k_strata - 1 AS df,
        |  x2r <= 12.592 AS homogeneous
        |FROM f""".stripMargin)),
    Key("stats_sign_test", statsSignTest, Some {
      val pz = phiSql("az")
      duckDailyTyped +
      s"""p AS (SELECT a.event_type, b.revc - a.revc AS diff
         |      FROM daily a JOIN daily b
         |        ON b.event_type = a.event_type
         |        AND b.day = a.day + 7
         |      WHERE b.revc - a.revc <> 0),
         |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
         |        CAST(sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS n_plus
         |      FROM p GROUP BY 1),
         |zt AS (SELECT *,
         |        CAST(2 * n_plus - n_pairs AS DOUBLE)
         |          / sqrt(CAST(n_pairs AS DOUBLE)) AS z
         |      FROM g),
         |za AS (SELECT *, abs(z) AS az FROM zt),
         |pp AS (SELECT *, round(2.0 * (1.0 - $pz), 6) + 0.0 AS p2
         |       FROM za)
         |SELECT event_type, n_pairs, n_plus, n_pairs - n_plus AS n_minus,
         |  round(z, 6) + 0.0 AS z, p2 AS p_two, z > 0 AS shift_up,
         |  p2 < 0.05 AS significant
         |FROM pp ORDER BY event_type""".stripMargin
    }),
    Key("stats_ordinal_assoc", statsOrdinalAssoc, Some(
      """WITH cells AS (
        |  SELECT CAST(floor("value" / 100) AS BIGINT) AS xb,
        |    ((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24) // 6
        |      AS yb,
        |    CAST(count(*) AS BIGINT) AS m
        |  FROM events GROUP BY 1, 2),
        |cd AS (SELECT
        |    CAST(sum(CASE WHEN b.yb > a.yb THEN a.m * b.m ELSE 0 END)
        |      AS BIGINT) AS cp,
        |    CAST(sum(CASE WHEN b.yb < a.yb THEN a.m * b.m ELSE 0 END)
        |      AS BIGINT) AS dp
        |  FROM cells a JOIN cells b ON b.xb > a.xb),
        |nn AS (SELECT CAST(sum(m) AS BIGINT) AS n FROM cells),
        |tx AS (SELECT CAST(sum(r * (r - 1)) AS BIGINT) AS tx2 FROM
        |       (SELECT CAST(sum(m) AS BIGINT) AS r FROM cells
        |        GROUP BY xb)),
        |ty AS (SELECT CAST(sum(s * (s - 1)) AS BIGINT) AS ty2 FROM
        |       (SELECT CAST(sum(m) AS BIGINT) AS s FROM cells
        |        GROUP BY yb)),
        |dd AS (SELECT n, cp, dp, tx2, ty2,
        |    n * (n - 1) - tx2 AS dx, n * (n - 1) - ty2 AS dy
        |  FROM cd CROSS JOIN nn CROSS JOIN tx CROSS JOIN ty)
        |SELECT n, cp AS c_pairs, dp AS d_pairs,
        |  tx2 // 2 AS tied_x_pairs, ty2 // 2 AS tied_y_pairs,
        |  round(CAST(cp - dp AS DOUBLE) / (cp + dp), 6) + 0.0 AS gamma,
        |  round(CAST(2 * (cp - dp) AS DOUBLE) / dx, 6) + 0.0
        |    AS somers_d_yx,
        |  round(CAST(2 * (cp - dp) AS DOUBLE) / dy, 6) + 0.0
        |    AS somers_d_xy,
        |  round(CAST(2 * (cp - dp) AS DOUBLE)
        |    / sqrt(CAST(dx AS DOUBLE) * dy), 6) + 0.0 AS tau_b
        |FROM dd""".stripMargin)),
    Key("stats_trimmed_mean", statsTrimmedMean, Some(
      """WITH g AS (
        |  SELECT event_type,
        |    CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc,
        |    CAST(count(*) AS BIGINT) AS t
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT *,
        |    COALESCE(sum(t) OVER (PARTITION BY event_type ORDER BY vc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
        |      AS lo,
        |    COALESCE(sum(t) OVER (PARTITION BY event_type ORDER BY vc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t
        |      AS hi
        |  FROM g),
        |tot AS (SELECT event_type, CAST(sum(t) AS BIGINT) AS n,
        |    CAST(sum(t * vc) AS BIGINT) AS sv,
        |    CAST(sum(t) AS BIGINT) // 10 AS k
        |  FROM g GROUP BY 1),
        |ov AS (SELECT sp.*, tot.n, tot.sv, tot.k,
        |    greatest(0, least(sp.hi, tot.n - tot.k)
        |      - greatest(sp.lo, tot.k + 1) + 1) AS ov
        |  FROM sp JOIN tot USING (event_type)),
        |a AS (SELECT event_type, n, k, sv,
        |    CAST(sum(ov * vc) AS BIGINT) AS trim_sum,
        |    CAST(sum(ov) AS BIGINT) AS n_kept,
        |    min(CASE WHEN hi >= k + 1 THEN vc END) AS v_lo,
        |    min(CASE WHEN hi >= n - k THEN vc END) AS v_hi
        |  FROM ov GROUP BY 1, 2, 3, 4)
        |SELECT event_type, n,
        |  round(CAST(sv AS DOUBLE) / (100 * n), 6) + 0.0 AS mean,
        |  round(CAST(trim_sum AS DOUBLE) / (100 * n_kept), 6) + 0.0
        |    AS trimmed_mean_10,
        |  round(CAST(trim_sum + k * (v_lo + v_hi) AS DOUBLE)
        |    / (100 * n), 6) + 0.0 AS winsor_mean_10,
        |  round(CAST(v_lo AS DOUBLE) / 100, 6) + 0.0 AS clamp_lo,
        |  round(CAST(v_hi AS DOUBLE) / 100, 6) + 0.0 AS clamp_hi
        |FROM a ORDER BY event_type""".stripMargin)),
    Key("stats_iqr_fences", statsIqrFences, Some(
      """WITH q AS (
        |  SELECT event_type,
        |    quantile_cont("value", 0.25) AS q1,
        |    quantile_cont("value", 0.75) AS q3
        |  FROM events GROUP BY 1),
        |f AS (SELECT *, q3 - q1 AS iqr,
        |    round(q1 - 1.5 * (q3 - q1), 6) + 0.0 AS lo_in,
        |    round(q3 + 1.5 * (q3 - q1), 6) + 0.0 AS hi_in,
        |    round(q1 - 3.0 * (q3 - q1), 6) + 0.0 AS lo_out,
        |    round(q3 + 3.0 * (q3 - q1), 6) + 0.0 AS hi_out
        |  FROM q)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(f.q1, 6) + 0.0 AS q1, round(f.q3, 6) + 0.0 AS q3,
        |  f.lo_in AS fence_lo, f.hi_in AS fence_hi,
        |  CAST(sum(CASE WHEN e."value" < f.lo_in
        |    OR e."value" > f.hi_in THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_mild,
        |  CAST(sum(CASE WHEN e."value" < f.lo_out
        |    OR e."value" > f.hi_out THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_extreme
        |FROM events e JOIN f USING (event_type)
        |GROUP BY 1, 3, 4, 5, 6 ORDER BY e.event_type""".stripMargin)),
    Key("stats_tost", statsTost, Some(
      s"""WITH g AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |$duckValueSums
         |  FROM events WHERE event_type IN ('click', 'purchase')
         |  GROUP BY 1),
         |v AS (SELECT *, s1 / n AS m,
         |        (n * s2 - s1 * s1) / (CAST(n AS DOUBLE) * (n - 1)) AS vi
         |      FROM g),
         |ab AS (SELECT
         |    max(CASE WHEN event_type = 'click' THEN n END) AS n1,
         |    max(CASE WHEN event_type = 'click' THEN m END) AS m1,
         |    max(CASE WHEN event_type = 'click' THEN vi END) AS v1,
         |    max(CASE WHEN event_type = 'purchase' THEN n END) AS n2,
         |    max(CASE WHEN event_type = 'purchase' THEN m END) AS m2,
         |    max(CASE WHEN event_type = 'purchase' THEN vi END) AS v2
         |  FROM v),
         |c AS (SELECT *, m1 - m2 AS d,
         |        abs(0.05 * (m1 + m2) / 2) AS delta,
         |        sqrt(v1 / n1 + v2 / n2) AS se
         |      FROM ab),
         |t AS (SELECT *, (d + delta) / se AS tl, (delta - d) / se AS tu
         |      FROM c),
         |p AS (SELECT *,
         |        round(greatest(1.0 - ${phiSql("tl")},
         |          1.0 - ${phiSql("tu")}), 6) + 0.0 AS pmax6
         |      FROM t)
         |SELECT n1, n2, round(d, 6) + 0.0 AS diff,
         |  round(delta, 6) + 0.0 AS margin, round(se, 6) + 0.0 AS se,
         |  round(tl, 6) + 0.0 AS t_lower, round(tu, 6) + 0.0 AS t_upper,
         |  pmax6 AS p_max, pmax6 < 0.05 AS equivalent
         |FROM p""".stripMargin)),
    Key("ab_bayes_approx", abBayesApprox, Some(
      s"""WITH u AS (
         |  SELECT user_id,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS converted,
         |    (user_id % 2147483648) * 2654435761 % 2147483648 % 2 AS arm
         |  FROM events GROUP BY user_id),
         |c AS (SELECT
         |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_a,
         |    CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END)
         |      AS BIGINT) AS x_a,
         |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_b,
         |    CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END)
         |      AS BIGINT) AS x_b
         |  FROM u),
         |m AS (SELECT *,
         |    CAST(x_a + 1 AS DOUBLE) / (n_a + 2) AS ma,
         |    CAST(x_b + 1 AS DOUBLE) / (n_b + 2) AS mb,
         |    CAST(x_a + 1 AS DOUBLE) * (n_a - x_a + 1)
         |      / (CAST(n_a + 2 AS DOUBLE) * (n_a + 2) * (n_a + 3)) AS va,
         |    CAST(x_b + 1 AS DOUBLE) * (n_b - x_b + 1)
         |      / (CAST(n_b + 2 AS DOUBLE) * (n_b + 2) * (n_b + 3)) AS vb
         |  FROM c),
         |z AS (SELECT *, (mb - ma) / sqrt(va + vb) AS zs FROM m)
         |SELECT n_a, x_a, n_b, x_b,
         |  round(CAST(x_a AS DOUBLE) / n_a, 6) + 0.0 AS cr_a,
         |  round(CAST(x_b AS DOUBLE) / n_b, 6) + 0.0 AS cr_b,
         |  round((CAST(x_b AS DOUBLE) / n_b)
         |    / (CAST(x_a AS DOUBLE) / n_a) - 1, 6) + 0.0 AS rel_lift,
         |  round(${phiSql("zs")}, 6) + 0.0 AS p_b_beats_a
         |FROM z""".stripMargin)),
    Key("stats_welch_anova", statsWelchAnova, Some(duckValueMoments +
      """v AS (SELECT *, s1 / n AS xb,
        |        (n * s2 - s1 * s1) / (CAST(n AS DOUBLE) * (n - 1)) AS vi
        |      FROM g),
        |w AS (SELECT *, CAST(CAST(round(n / vi, 9) AS DECIMAL(18,9))
        |        AS DOUBLE) AS wi FROM v),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    sum(CAST(round(wi, 9) AS DECIMAL(18,9))) AS wsum,
        |    sum(CAST(round(wi * xb, 6) AS DECIMAL(28,6))) AS wxsum
        |  FROM w),
        |tm AS (SELECT *, CAST(wxsum AS DOUBLE) / CAST(wsum AS DOUBLE)
        |        AS mw FROM tot),
        |agg AS (SELECT k, wsum, mw,
        |    sum(CAST(round(wi * (xb - mw) * (xb - mw), 6)
        |        AS DECIMAL(28,6))) AS a_num,
        |    sum(CAST(round((1 - wi / CAST(wsum AS DOUBLE))
        |        * (1 - wi / CAST(wsum AS DOUBLE)) / (n - 1), 12)
        |        AS DECIMAL(18,12))) AS lam
        |  FROM w, tm GROUP BY 1, 2, 3)
        |SELECT k, round(mw, 6) + 0.0 AS weighted_mean,
        |  round((CAST(a_num AS DOUBLE) / (k - 1))
        |    / (1 + 2 * CAST(k - 2 AS DOUBLE)
        |       / (CAST(k AS DOUBLE) * k - 1) * CAST(lam AS DOUBLE)), 6)
        |    + 0.0 AS f_stat,
        |  k - 1 AS df1,
        |  round((CAST(k AS DOUBLE) * k - 1)
        |    / (3 * CAST(lam AS DOUBLE)), 6) + 0.0 AS df2
        |FROM agg""".stripMargin)),
    Key("stats_ansari_bradley", statsAnsariBradley, Some(duckKsCounts +
      """gt AS (SELECT *, a + b AS t FROM g),
        |tot AS (SELECT CAST(sum(a) AS BIGINT) AS n1,
        |          CAST(sum(b) AS BIGINT) AS n2,
        |          CAST(sum(a) + sum(b) AS BIGINT) AS nn FROM g),
        |r AS (SELECT *,
        |    COALESCE(sum(t) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
        |      AS lo,
        |    COALESCE(sum(t) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t
        |      AS hi
        |  FROM gt),
        |s AS (SELECT r.*, tot.n1, tot.n2, tot.nn,
        |    (tot.nn + 1) // 2 AS m FROM r, tot),
        |s2 AS (SELECT *, least(hi, m) AS ua,
        |    greatest(lo, m + 1) AS lb FROM s),
        |s3 AS (SELECT *,
        |    CASE WHEN ua >= lo THEN (lo + ua) * (ua - lo + 1) // 2
        |         ELSE 0 END
        |    + CASE WHEN hi >= lb THEN (nn + 1) * (hi - lb + 1)
        |        - (lb + hi) * (hi - lb + 1) // 2 ELSE 0 END AS sc
        |  FROM s2),
        |agg AS (SELECT n1, n2, nn,
        |    sum(CAST(round(a * (CAST(sc AS DOUBLE) / t), 9)
        |        AS DECIMAL(28,9))) AS t_a,
        |    CAST(sum(sc) AS BIGINT) AS s_all,
        |    sum(CAST(round(CAST(sc AS DOUBLE) * sc / t, 9)
        |        AS DECIMAL(28,9))) AS s2_all
        |  FROM s3 GROUP BY 1, 2, 3),
        |f AS (SELECT *, CAST(s_all AS DOUBLE) / nn AS sbar,
        |    CAST(s2_all AS DOUBLE) - nn * (CAST(s_all AS DOUBLE) / nn)
        |      * (CAST(s_all AS DOUBLE) / nn) AS varsum
        |  FROM agg)
        |SELECT n1, n2, round(CAST(t_a AS DOUBLE), 6) + 0.0 AS ab_stat,
        |  round(n1 * sbar, 6) + 0.0 AS expected,
        |  round((CAST(t_a AS DOUBLE) - n1 * sbar)
        |    / sqrt(CAST(n1 AS DOUBLE) * n2
        |      / (CAST(nn AS DOUBLE) * (nn - 1)) * varsum), 6) + 0.0 AS z
        |FROM f""".stripMargin)),
    Key("stats_cliff_delta", statsCliffDelta, Some(duckKsCounts +
      """c AS (SELECT *,
        |    COALESCE(sum(b) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cb_before,
        |    COALESCE(sum(b) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + b
        |      AS cb_thru
        |  FROM g),
        |tot AS (SELECT CAST(sum(a) AS BIGINT) AS n1,
        |          CAST(sum(b) AS BIGINT) AS n2 FROM g),
        |d AS (SELECT n1, n2,
        |        CAST(sum(a * cb_before) AS BIGINT) AS n_gt,
        |        CAST(sum(a * (n2 - cb_thru)) AS BIGINT) AS n_lt
        |      FROM c, tot GROUP BY 1, 2),
        |f AS (SELECT *,
        |        round(CAST(n_gt - n_lt AS DOUBLE) / (n1 * n2), 6) + 0.0
        |          AS delta
        |      FROM d)
        |SELECT n1, n2, n_gt, n_lt, delta,
        |  CASE WHEN abs(delta) < 0.147 THEN 'negligible'
        |       WHEN abs(delta) < 0.33 THEN 'small'
        |       WHEN abs(delta) < 0.474 THEN 'medium'
        |       ELSE 'large' END AS magnitude
        |FROM f""".stripMargin)),
    Key("stats_mood_median", statsMoodMedian, Some(
      """WITH g AS (SELECT "value" AS value, count(*) AS t
        |           FROM events GROUP BY 1),
        |c AS (SELECT value,
        |        sum(t) OVER (ORDER BY value
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cum
        |      FROM g),
        |tot AS (SELECT CAST(sum(t) AS BIGINT) AS nn FROM g),
        |med AS (SELECT (min(CASE WHEN cum >= (nn + 1) // 2
        |            THEN value END)
        |          + min(CASE WHEN cum >= (nn + 2) // 2 THEN value END))
        |          / 2 AS med
        |        FROM c, tot),
        |cnt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |          CAST(sum(CASE WHEN "value" > med.med THEN 1 ELSE 0 END)
        |            AS BIGINT) AS above
        |        FROM events, med GROUP BY 1),
        |ct AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |         CAST(sum(n) AS BIGINT) AS nn,
        |         CAST(sum(above) AS BIGINT) AS ta FROM cnt),
        |cell AS (SELECT k, nn, ta, n, above,
        |           CAST(n * ta AS DOUBLE) / nn AS e_above,
        |           CAST(n * (nn - ta) AS DOUBLE) / nn AS e_below
        |         FROM cnt, ct),
        |x AS (SELECT k, nn, ta,
        |        sum(CAST(round((above - e_above) * (above - e_above)
        |          / e_above + ((n - above) - e_below)
        |          * ((n - above) - e_below) / e_below, 9)
        |          AS DECIMAL(18,9))) AS chi2d
        |      FROM cell GROUP BY 1, 2, 3)
        |SELECT k, nn AS n, round(med.med, 6) + 0.0 AS grand_median,
        |  ta AS n_above, round(CAST(chi2d AS DOUBLE), 6) + 0.0 AS chi2,
        |  k - 1 AS df
        |FROM x, med""".stripMargin)),
    Key("stats_bartlett", statsBartlett, Some(duckValueMoments +
      """v AS (SELECT *, (n * s2 - s1 * s1)
        |        / (CAST(n AS DOUBLE) * (n - 1)) AS vi FROM g),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |        CAST(sum(n) AS BIGINT) AS nn,
        |        sum(CAST(round((n - 1) * vi, 6) AS DECIMAL(18,6)))
        |          AS sp_num,
        |        sum(CAST(round((n - 1) * ln(vi), 9) AS DECIMAL(18,9)))
        |          AS t_lnv,
        |        sum(CAST(round(CAST(1 AS DOUBLE) / (n - 1), 12)
        |            AS DECIMAL(18,12))) AS c_sum
        |      FROM v),
        |s AS (SELECT *, CAST(sp_num AS DOUBLE) / (nn - k) AS sp2 FROM t)
        |SELECT k, nn AS n, round(sp2, 6) + 0.0 AS pooled_var,
        |  round((nn - k) * ln(sp2) - CAST(t_lnv AS DOUBLE), 6) + 0.0
        |    AS t_stat,
        |  round(1 + (CAST(c_sum AS DOUBLE) - CAST(1 AS DOUBLE) / (nn - k))
        |    / (3 * (k - 1)), 6) + 0.0 AS c_factor,
        |  round(((nn - k) * ln(sp2) - CAST(t_lnv AS DOUBLE))
        |    / (1 + (CAST(c_sum AS DOUBLE) - CAST(1 AS DOUBLE) / (nn - k))
        |       / (3 * (k - 1))), 6) + 0.0 AS stat
        |FROM s""".stripMargin)),
    Key("stats_two_prop_ci", statsTwoPropCi, Some(
      """WITH g AS (
        |  SELECT ((user_id % 2147483648) * 2654435761 % 2147483648) % 2
        |      AS g,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS r
        |  FROM events GROUP BY 1),
        |w AS (SELECT
        |    CAST(sum(CASE WHEN g = 0 THEN n END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN g = 0 THEN r END) AS BIGINT) AS r0,
        |    CAST(sum(CASE WHEN g = 1 THEN n END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN g = 1 THEN r END) AS BIGINT) AS r1
        |  FROM g),
        |p AS (SELECT *, CAST(r0 AS DOUBLE) / n0 AS p0,
        |    CAST(r1 AS DOUBLE) / n1 AS p1 FROM w),
        |se AS (SELECT *,
        |    sqrt(p0 * (1.0 - p0) / n0 + p1 * (1.0 - p1) / n1) AS se,
        |    (p0 + CAST(1.9208 AS DOUBLE) / n0
        |      - 1.96 * sqrt(p0 * (1.0 - p0) / n0
        |        + CAST(0.9604 AS DOUBLE) / (CAST(n0 AS DOUBLE) * n0)))
        |      / (1.0 + CAST(3.8416 AS DOUBLE) / n0) AS w0l,
        |    (p0 + CAST(1.9208 AS DOUBLE) / n0
        |      + 1.96 * sqrt(p0 * (1.0 - p0) / n0
        |        + CAST(0.9604 AS DOUBLE) / (CAST(n0 AS DOUBLE) * n0)))
        |      / (1.0 + CAST(3.8416 AS DOUBLE) / n0) AS w0u,
        |    (p1 + CAST(1.9208 AS DOUBLE) / n1
        |      - 1.96 * sqrt(p1 * (1.0 - p1) / n1
        |        + CAST(0.9604 AS DOUBLE) / (CAST(n1 AS DOUBLE) * n1)))
        |      / (1.0 + CAST(3.8416 AS DOUBLE) / n1) AS w1l,
        |    (p1 + CAST(1.9208 AS DOUBLE) / n1
        |      + 1.96 * sqrt(p1 * (1.0 - p1) / n1
        |        + CAST(0.9604 AS DOUBLE) / (CAST(n1 AS DOUBLE) * n1)))
        |      / (1.0 + CAST(3.8416 AS DOUBLE) / n1) AS w1u
        |  FROM p)
        |SELECT n0, r0, n1, r1,
        |  round(p1 - p0, 6) + 0.0 AS delta,
        |  round(p1 - p0 - 1.96 * se, 6) + 0.0 AS wald_lo,
        |  round(p1 - p0 + 1.96 * se, 6) + 0.0 AS wald_hi,
        |  round(p1 - p0 - sqrt((p1 - w1l) * (p1 - w1l)
        |    + (w0u - p0) * (w0u - p0)), 6) + 0.0 AS newcombe_lo,
        |  round(p1 - p0 + sqrt((w1u - p1) * (w1u - p1)
        |    + (p0 - w0l) * (p0 - w0l)), 6) + 0.0 AS newcombe_hi
        |FROM se""".stripMargin)),
    Key("stats_prop_trend", statsPropTrend, Some(
      """WITH g AS (
        |  SELECT ((CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |       - DATE '1970-01-01') % 7 + 7) % 7 AS w,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |         AS BIGINT) AS r
        |  FROM events GROUP BY 1),
        |s AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
        |    CAST(sum(r) AS BIGINT) AS rt,
        |    CAST(sum(w * n) AS BIGINT) AS swn,
        |    CAST(sum(w * w * n) AS BIGINT) AS sw2n,
        |    CAST(sum(w * r) AS BIGINT) AS swr
        |  FROM g),
        |t AS (SELECT *,
        |    CAST(nt AS DECIMAL(18,0)) * swr
        |      - CAST(rt AS DECIMAL(18,0)) * swn AS num,
        |    CAST(rt AS DECIMAL(18,0)) * (nt - rt) AS den1,
        |    CAST(nt AS DECIMAL(18,0)) * sw2n
        |      - CAST(swn AS DECIMAL(18,0)) * swn AS den2
        |  FROM s)
        |SELECT nt AS n_total, rt AS r_total,
        |  CAST(sign(CAST(num AS DOUBLE)) AS INTEGER) AS trend_dir,
        |  round(CAST(num AS DOUBLE) * CAST(num AS DOUBLE) * nt
        |    / (CAST(den1 AS DOUBLE) * CAST(den2 AS DOUBLE)), 6) + 0.0
        |    AS chi2_trend
        |FROM t""".stripMargin)),
    Key("stats_cochran_q", statsCochranQ, Some(
      """WITH pres AS (SELECT DISTINCT user_id, event_type FROM events
        |             WHERE "value" > 150),
        |r AS (SELECT user_id, CAST(count(*) AS BIGINT) AS r
        |      FROM pres GROUP BY 1),
        |rs AS (SELECT CAST(sum(r) AS BIGINT) AS t,
        |    CAST(sum(r * r) AS BIGINT) AS sr2,
        |    CAST(count(*) AS BIGINT) AS n_subjects FROM r),
        |c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c
        |      FROM pres GROUP BY 1),
        |cs AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(c * c) AS BIGINT) AS sc2 FROM c)
        |SELECT n_subjects, k, t AS total_marks, k - 1 AS df,
        |  round(CASE WHEN k * t - sr2 > 0 THEN
        |      CAST((k - 1) * (k * sc2 - t * t) AS DOUBLE)
        |      / (k * t - sr2) END, 6) + 0.0 AS q_stat
        |FROM rs CROSS JOIN cs""".stripMargin)),
    Key("stats_tukey", statsTukey, Some(
      """WITH q AS (
        |  SELECT event_type,
        |    round(quantile_cont("value", 0.25), 6) AS q1,
        |    round(quantile_cont("value", 0.75), 6) AS q3
        |  FROM events GROUP BY 1),
        |f AS (SELECT event_type, q1, q3,
        |    round(q1 - CAST(1.5 AS DOUBLE) * (q3 - q1), 6) AS lo,
        |    round(q3 + CAST(1.5 AS DOUBLE) * (q3 - q1), 6) AS hi
        |  FROM q)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(any_value(q1), 6) + 0.0 AS q1,
        |  round(any_value(q3), 6) + 0.0 AS q3,
        |  round(any_value(lo), 6) + 0.0 AS fence_lo,
        |  round(any_value(hi), 6) + 0.0 AS fence_hi,
        |  CAST(sum(CASE WHEN e."value" < lo OR e."value" > hi
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  round(CAST(sum(CASE WHEN e."value" < lo OR e."value" > hi
        |      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) + 0.0
        |    AS pct_outliers
        |FROM events e JOIN f ON e.event_type = f.event_type
        |GROUP BY 1 ORDER BY e.event_type""".stripMargin)),
    Key("stats_mcnemar", statsMcnemar, Some(
      """WITH p AS (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS dayno
        |  FROM events WHERE event_type = 'purchase'),
        |s AS (SELECT min(dayno) AS lo, max(dayno) AS hi FROM p),
        |f AS (SELECT user_id,
        |    max(CASE WHEN dayno < (lo + hi + 1) // 2 THEN 1 ELSE 0 END)
        |      AS p1,
        |    max(CASE WHEN dayno >= (lo + hi + 1) // 2 THEN 1 ELSE 0 END)
        |      AS p2
        |  FROM p CROSS JOIN s GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(CASE WHEN p1 = 1 AND p2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_both,
        |    CAST(sum(CASE WHEN p1 = 1 AND p2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN p1 = 0 AND p2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM f)
        |SELECT n_users, n_both, b, c,
        |  round(CASE WHEN b + c > 0 THEN
        |      CAST((b - c) * (b - c) AS DOUBLE) / (b + c) END, 6) + 0.0
        |    AS chi2,
        |  CASE WHEN b + c > 0 THEN
        |      CAST((b - c) * (b - c) AS DOUBLE) / (b + c) > 3.841
        |    ELSE false END AS significant
        |FROM t""".stripMargin)),
    Key("stats_friedman", statsFriedman, Some(duckFriedmanGrid +
      """s AS (SELECT event_type, CAST(sum(r2x) AS BIGINT) AS s2,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM rk GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(any_value(n) AS BIGINT) AS n_blocks,
        |    CAST(sum(s2 * s2) AS BIGINT) AS ss
        |  FROM s)
        |SELECT n_blocks, k,
        |  round(CAST(3 * ss AS DOUBLE)
        |    / (CAST(n_blocks AS DOUBLE) * k * (k + 1))
        |    - CAST(3 * n_blocks * (k + 1) AS DOUBLE), 6) + 0.0 AS q
        |FROM t""".stripMargin)),
    Key("stats_wilson_ci", statsWilsonCi, Some(
      s"""WITH d AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END)
        |      AS BIGINT) AS k
        |  FROM events GROUP BY 1)
        |SELECT day, n, k,
        |  round(CAST(k AS DOUBLE) / n, 6) + 0.0 AS p_hat,
        |${duckWilsonBound("-")} AS ci_lo,
        |${duckWilsonBound("+")} AS ci_hi
        |FROM d ORDER BY day""".stripMargin)),
    Key("stats_kruskal", statsKruskal, Some(
      """WITH j AS (SELECT event_type,
        |    CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT cents, CAST(sum(c) AS BIGINT) AS t FROM j GROUP BY 1),
        |f AS (SELECT cents, t,
        |    CAST(sum(t) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t
        |      AS BIGINT) AS fb
        |  FROM t),
        |g AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_g,
        |    CAST(sum(c * (fb * 2 + t + 1)) AS BIGINT) AS s2
        |  FROM j JOIN f USING (cents) GROUP BY 1),
        |tc AS (SELECT sum(CAST(t AS DECIMAL(38,0)) * t * t - t) AS tsum
        |       FROM t),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(sum(n_g) AS BIGINT) AS n,
        |    sum(CAST(round(CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
        |      / n_g, 9) AS DECIMAL(38,9))) AS q
        |  FROM g)
        |SELECT k, n,
        |  round(3.0 * CAST(q AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1), 6)
        |    + 0.0 AS h,
        |  round(1.0 - CAST(tsum AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * n * n - n), 6) + 0.0 AS tie_c,
        |  round((3.0 * CAST(q AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * (n + 1)) - 3.0 * (n + 1))
        |    / (1.0 - CAST(tsum AS DOUBLE)
        |       / (CAST(n AS DOUBLE) * n * n - n)), 6) + 0.0 AS h_adj
        |FROM tot, tc""".stripMargin)),
    Key("stats_cramers_v", statsCramersV, Some(
      duckTypeDowGrid + """,
        |t AS (
        |  SELECT round(sum((o - e) * (o - e) / e), 6) + 0.0 AS chi2,
        |    count(DISTINCT event_type) AS r, count(DISTINCT dow) AS c,
        |    any_value(n.n) AS n
        |  FROM grid, n)
        |SELECT chi2, CAST(n AS BIGINT) AS n,
        |  round(sqrt(chi2 / (CAST(n AS DOUBLE) * least(r - 1, c - 1))), 6)
        |    + 0.0 AS v
        |FROM t""".stripMargin)),
    // the identical grid-median + integer-deviation pipeline; HUGEINT
    // sums mirror DECIMAL(38,0),
    Key("stats_levene", statsLevene, Some(
      """WITH b AS (
        |  SELECT event_type,
        |    CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT) AS iv
        |  FROM events),
        |grid AS (
        |  SELECT event_type, iv, count(*) AS c FROM b GROUP BY 1, 2),
        |g2 AS (
        |  SELECT event_type, iv, c,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY iv) AS cum,
        |    sum(c) OVER (PARTITION BY event_type) AS n
        |  FROM grid),
        |meds AS (
        |  SELECT event_type,
        |    min(CASE WHEN cum >= (n + 1) // 2 THEN iv END) AS m1,
        |    min(CASE WHEN cum >= (n + 2) // 2 THEN iv END) AS m2
        |  FROM g2 GROUP BY 1),
        |z AS (
        |  SELECT b.event_type, abs(iv * 2 - (m1 + m2)) AS z
        |  FROM b JOIN meds USING (event_type)),
        |per AS (
        |  SELECT event_type, count(*) AS nj,
        |    sum(CAST(z AS HUGEINT)) AS sj,
        |    sum(CAST(z * z AS HUGEINT)) AS ssj
        |  FROM z GROUP BY 1),
        |p2 AS (
        |  SELECT nj, sj, ssj,
        |    CAST(round(CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE) / nj, 6)
        |      AS DECIMAL(24,6)) AS tj
        |  FROM per),
        |t AS (
        |  SELECT count(*) AS k, sum(nj) AS n, sum(sj) AS s,
        |    sum(ssj) AS ss, sum(tj) AS b1
        |  FROM p2)
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |  round(((CAST(b1 AS DOUBLE)
        |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (k - 1))
        |    / ((CAST(ss AS DOUBLE) - CAST(b1 AS DOUBLE)) / (n - k)),
        |    6) + 0.0 AS f_stat
        |FROM t""".stripMargin)),
    Key("stats_gini", statsGini, Some(
      """WITH spend AS (
        |  SELECT user_id, sum(CAST("value" AS DECIMAL(18,2))) AS x
        |  FROM events GROUP BY 1),
        |r AS (SELECT x, row_number() OVER (ORDER BY x, user_id) AS i
        |      FROM spend)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(x) AS DOUBLE) AS total_value,
        |  round(2.0 * CAST(sum(i * x) AS DOUBLE) /
        |          (count(*) * CAST(sum(x) AS DOUBLE))
        |        - CAST(count(*) + 1 AS DOUBLE) / count(*), 6) + 0.0 AS gini
        |FROM r""".stripMargin)),
    Key("stats_anova", statsAnova, Some(
      """WITH g AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST("value" AS DECIMAL(18,2)) *
        |             CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS s2
        |  FROM events GROUP BY 1),
        |l AS (SELECT list(struct_pack(n := n, s1 := s1, s2 := s2)
        |               ORDER BY event_type) AS gs,
        |        CAST(count(*) AS BIGINT) AS k FROM g),
        |f AS (SELECT k, list_reduce(list_transform(gs, x -> struct_pack(
        |          nn := x.n, t := x.s1, ss2 := x.s2,
        |          sg := x.s1 * x.s1 / x.n)),
        |        (a, x) -> struct_pack(nn := a.nn + x.nn, t := a.t + x.t,
        |          ss2 := a.ss2 + x.ss2, sg := a.sg + x.sg)) AS st
        |      FROM l)
        |SELECT k, st.nn AS n,
        |  round(st.sg - st.t * st.t / st.nn, 6) + 0.0 AS ss_between,
        |  round(st.ss2 - st.sg, 6) + 0.0 AS ss_within,
        |  k - 1 AS df1, st.nn - k AS df2,
        |  round(((st.sg - st.t * st.t / st.nn) / (k - 1)) /
        |        ((st.ss2 - st.sg) / (st.nn - k)), 6) + 0.0 AS f_stat
        |FROM f""".stripMargin)),
    Key("stats_cohens_d", statsCohensD, Some(
      """WITH m AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST("value" AS DECIMAL(18,2)) *
        |             CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sxx
        |  FROM events GROUP BY 1),
        |s AS (SELECT event_type, n, sx / n AS mean,
        |        (sxx - sx * sx / n) / (n - 1) AS var
        |      FROM m)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  a.n AS na, b.n AS nb,
        |  round(a.mean, 6) + 0.0 AS mean_a,
        |  round(b.mean, 6) + 0.0 AS mean_b,
        |  round((a.mean - b.mean) /
        |        sqrt(((a.n - 1) * a.var + (b.n - 1) * b.var) /
        |             (a.n + b.n - 2)), 6) + 0.0 AS cohens_d
        |FROM s a JOIN s b ON a.event_type < b.event_type
        |ORDER BY type_a, type_b""".stripMargin)),
    Key("stats_hodges_lehmann", statsHodgesLehmann, Some(
      duckDayTotals + """
        |p AS (SELECT (a.v + b.v) / 2 AS walsh
        |      FROM daily a JOIN daily b ON a.day <= b.day),
        |pr AS (SELECT walsh, row_number() OVER (ORDER BY walsh) AS rn,
        |              count(*) OVER () AS m FROM p),
        |med AS (SELECT avg(walsh) AS walsh FROM pr
        |        WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2),
        |n AS (SELECT count(*) AS n_days,
        |             CAST(count(*) * (count(*) + 1) / 2 AS BIGINT)
        |               AS n_pairs
        |      FROM daily)
        |SELECT n_days, n_pairs, round(walsh, 6) + 0.0 AS hl_estimate
        |FROM n CROSS JOIN med""".stripMargin)),
    Key("stats_ttest", statsTtest, Some(
      """WITH m AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    avg("value") AS m, var_samp("value") AS v
        |  FROM events GROUP BY 1)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 6) + 0.0
        |    AS t_stat,
        |  round((a.v / a.n + b.v / b.n) * (a.v / a.n + b.v / b.n) /
        |    ((a.v / a.n) * (a.v / a.n) / (a.n - 1) +
        |     (b.v / b.n) * (b.v / b.n) / (b.n - 1)), 6) + 0.0 AS df
        |FROM m a, m b WHERE a.event_type < b.event_type
        |ORDER BY type_a, type_b""".stripMargin)),
    Key("stats_chi2", statsChi2, Some(
      duckTypeDowGrid + """
        |SELECT round(sum((o - e) * (o - e) / e), 6) + 0.0 AS chi2,
        |  CAST((count(DISTINCT event_type) - 1) * (count(DISTINCT dow) - 1)
        |       AS BIGINT) AS df,
        |  any_value(n.n) AS n
        |FROM grid, n""".stripMargin)),
    Key("stats_ks", statsKs, Some(duckKsCounts +
      """c AS (SELECT *, sum(a) OVER w AS ca, sum(b) OVER w AS cb
        |      FROM g WINDOW w AS (ORDER BY value
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t AS (SELECT CAST(sum(a) AS BIGINT) AS n1,
        |        CAST(sum(b) AS BIGINT) AS n2 FROM g),
        |d AS (SELECT n1, n2,
        |        max(abs(CAST(ca AS DOUBLE) / n1 - CAST(cb AS DOUBLE) / n2))
        |          AS d
        |      FROM c, t GROUP BY 1, 2)
        |SELECT n1, n2, round(d, 6) + 0.0 AS d_stat,
        |  round(d * sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)), 6) + 0.0
        |    AS lambda
        |FROM d""".stripMargin)),
    Key("stats_mannwhitney", statsMannWhitney, Some(duckKsCounts +
      """gt AS (SELECT *, a + b AS t FROM g),
        |r AS (SELECT *, COALESCE(sum(t) OVER (ORDER BY value
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS cum_before
        |      FROM gt),
        |tot AS (SELECT CAST(sum(a) AS BIGINT) AS n1,
        |          CAST(sum(b) AS BIGINT) AS n2,
        |          CAST(sum(t * t * t - t) AS BIGINT) AS tie3 FROM gt),
        |agg AS (SELECT n1, n2, tie3,
        |          sum(CAST(a AS DOUBLE) *
        |              (cum_before + CAST(t + 1 AS DOUBLE) / 2)) AS r1
        |        FROM r, tot GROUP BY 1, 2, 3),
        |u AS (SELECT n1, n2, tie3,
        |        r1 - CAST(n1 AS DOUBLE) * (n1 + 1) / 2 AS u1 FROM agg)
        |SELECT n1, n2, round(u1, 6) + 0.0 AS u1,
        |  round(CAST(n1 AS DOUBLE) * n2 - u1, 6) + 0.0 AS u2,
        |  round((u1 - CAST(n1 AS DOUBLE) * n2 / 2) /
        |    sqrt(CAST(n1 AS DOUBLE) * n2 / 12 *
        |      (CAST(n1 + n2 + 1 AS DOUBLE) -
        |       CAST(tie3 AS DOUBLE) /
        |         (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1)))), 6) + 0.0 AS z
        |FROM u""".stripMargin)),
    Key("stats_bootstrap", statsBootstrap, Some(
      """WITH e AS (
        |  SELECT event_id, CAST("value" AS DECIMAL(18,2)) AS v FROM events),
        |x AS (SELECT event_id, v, CAST(i AS BIGINT) AS b
        |      FROM e CROSS JOIN (SELECT unnest(range(0, 32)) AS i)),
        |u AS (SELECT b, v,
        |        ((((event_id % 2147483648) * 32 + b) % 2147483648)
        |         * 2654435761 % 2147483648) % 1000000 AS u
        |      FROM x),
        |w AS (SELECT b, v,
        |        CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
        |             WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
        |             WHEN u < 996340 THEN 4 ELSE 5 END AS w
        |      FROM u),
        |m AS (SELECT b, round(CAST(sum(v * w) AS DOUBLE) / sum(w), 6) + 0.0
        |        AS m FROM w GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_resamples,
        |  round(quantile_cont(m, 0.025), 6) + 0.0 AS ci_lo,
        |  round(quantile_cont(m, 0.5), 6) + 0.0 AS ci_med,
        |  round(quantile_cont(m, 0.975), 6) + 0.0 AS ci_hi,
        |  round(min(m), 6) + 0.0 AS mn, round(max(m), 6) + 0.0 AS mx
        |FROM m""".stripMargin)),
    // seasonal_decompose's residual pipeline + explicit middle-pair
    // median/MAD band; the flag compares the unrounded score exactly as
    // the Spark plan does,
  )
}
