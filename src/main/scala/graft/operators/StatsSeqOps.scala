package graft.operators
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Key
import graft.functions.GramMatrixAgg
import graft.sources.Tables
import graft.operators.OpsHelpers.{ev, r6, userDayGrid}

/** Time-series diagnostics, drift/changepoint monitors, process control and survival analysis — one of the [[StatsOps]] family traits (split from
  * the former single-file StatsOps with zero behavior change;
  * shared helpers live in [[StatsOpsBase]]). */
private[operators] trait StatsSeqOps extends StatsOpsBase {

  def statsCorrMatrix(spark: SparkSession, dir: String): DataFrame = {
    val d = CorrCols.length
    val g1 = Tables.lineitem(spark, dir)
      .select(array(CorrCols.map(c => col(c).cast("double")): _*).as("v"))
      .agg(GramMatrixAgg(col("v"), d).as("g"))
    def el(k: Int): Column = element_at(col("g"), k + 1)
    val n = el(0)
    def s(i: Int): Column = el(1 + i)
    def gram(i: Int, j: Int): Column =
      el(1 + d + i * d - i * (i - 1) / 2 + (j - i)) // upper-tri flat index
    def cov(i: Int, j: Int): Column =
      gram(i, j) / n - (s(i) / n) * (s(j) / n)
    val pairs = for {
      i <- 0 until d; j <- (i + 1) until d
    } yield struct(
      lit(CorrCols(i)).as("col_a"), lit(CorrCols(j)).as("col_b"),
      r6(cov(i, j) / sqrt(cov(i, i) * cov(j, j))).as("r"))
    g1.select(explode(array(pairs: _*)).as("p"))
      .select(col("p.col_a").as("col_a"), col("p.col_b").as("col_b"),
        col("p.r").as("r"))
      .orderBy("col_a", "col_b")
  }

  // ── per-group OLS trend: slope / intercept / R² of `value` against the
  // event's day number, per event_type — "is this metric drifting, and
  // how fast". Uses the engine's codegen'd regression aggregates
  // (regr_slope/…): single keyed aggregation, partial-aggregated
  // map-side, so the fact table shuffles only 5 tiny moment tuples. ──
  def regrTrend(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .select(col("event_type"), col("value"),
        expr("CAST(us div 86400000000 AS DOUBLE)").as("x"))
      .groupBy(col("event_type"))
      .agg(r6(expr("regr_slope(value, x)")).as("slope"),
        r6(expr("regr_intercept(value, x)")).as("intercept"),
        r6(expr("regr_r2(value, x)")).as("r2"),
        expr("CAST(regr_count(value, x) AS BIGINT)").as("n"))
      .orderBy("event_type")

  // ── linear-interpolation resample: the imputation twin of
  // resample_ffill for VALUE series where a straight-line estimate beats
  // carrying the last level. Same per-user day spine + left join; the
  // fill is two frame-bounded IGNORE NULLS carries (previous / next
  // known point, each dragging its day along) and a pure-arithmetic
  // lerp — no self-join against known points. Spine endpoints are known
  // by construction (min/max come from observed days), so every gap has
  // both neighbors. ──
  def resampleInterp(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir)
      .groupBy(col("user_id"), col("day"))
      .agg(avg(col("value")).as("v"))
    val grid = userDayGrid(daily)
    val byDay = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val prevF = byDay.rowsBetween(Window.unboundedPreceding, -1)
    val nextF = byDay.rowsBetween(1, Window.unboundedFollowing)
    grid.join(daily, Seq("user_id", "day"), "left")
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(prevF))
      .withColumn("pd", last(when(col("v").isNotNull, col("day")),
        ignoreNulls = true).over(prevF))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(nextF))
      .withColumn("nd", first(when(col("v").isNotNull, col("day")),
        ignoreNulls = true).over(nextF))
      .select(col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day_s"),
        when(col("v").isNotNull, r6(col("v")))
          .otherwise(r6(col("pv") + (col("nv") - col("pv")) *
            (datediff(col("day"), col("pd")).cast("double") /
              datediff(col("nd"), col("pd")).cast("double")))).as("val"),
        col("v").isNull.as("is_gap"))
      .orderBy("user_id", "day_s")
  }

  // ── autocorrelation function of the daily total value series at lags
  // 1..7 — the "is there weekly structure" diagnostic that decides
  // whether seasonal_dow is worth modeling. The daily series is built
  // ONCE with a decimal-exact sum (order-independent), then each lag is
  // a co-partitioned self-join on the shifted calendar day; gap days
  // simply drop out of both sides identically. Pearson per lag comes
  // from decimal moment sums (the statsCorr discipline), so both
  // engines do the identical integer-like arithmetic and ONE final
  // rounded division chain. The series is one row per day — tiny — but
  // the same plan holds for a per-entity ACF at any cardinality (swap
  // the join/group keys). ──
  def statsAcf(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir).groupBy(col("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
    lagCorr(daily, 7)
      .select(col("lag"), col("n"), col("r").as("acf"))
      .orderBy("lag")
  }

  // ── partial autocorrelation of the same daily series at lags 1..3 —
  // the AR-order-selection companion of stats_acf: the ACF says "is
  // there memory", the PACF says "how many AR terms carry it" (φkk ≈ 0
  // beyond the true order). Lag correlations come from stats_acf's
  // exact-decimal lagged-pair device, [[lagCorr]] (calendar join,
  // DECIMAL(18,2) moments, r snapped to 6 dp); the Durbin–Levinson
  // recursion through order 3 — φ11 = r1, φ22 = (r2−r1²)/(1−r1²),
  // φ21 = r1 − φ22·r1, φ33 = (r3 − φ21·r2 − φ22·r1)/(1 − φ21·r1 −
  // φ22·r2) — is then pure scalar arithmetic on a 1-row frame, written
  // with the SAME token sequence in both engines so every derived
  // double is bit-identical. The ±2/√n white-noise band gives the
  // significance flag. ──
  def statsPacf(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir).groupBy(col("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
    val nDays = daily.agg(count(lit(1)).as("n_days"))
    lagCorr(daily, 3).agg(max(when(col("lag") === 1, col("r"))).as("r1"),
        max(when(col("lag") === 2, col("r"))).as("r2"),
        max(when(col("lag") === 3, col("r"))).as("r3"))
      .crossJoin(broadcast(nDays))
      .withColumn("phi22", expr("(r2 - r1 * r1) / (1.0 - r1 * r1)"))
      .withColumn("phi21", expr("r1 - phi22 * r1"))
      .withColumn("phi33", expr(
        "(r3 - phi21 * r2 - phi22 * r1)" +
          " / (1.0 - phi21 * r1 - phi22 * r2)"))
      .withColumn("band", r6(expr(
        "2.0 / sqrt(cast(n_days as double))")))
      .select(explode(array(
        struct(lit(1L).as("lag"), col("r1").as("acf"),
          col("r1").as("pacf")),
        struct(lit(2L).as("lag"), col("r2").as("acf"),
          r6(col("phi22")).as("pacf")),
        struct(lit(3L).as("lag"), col("r3").as("acf"),
          r6(col("phi33")).as("pacf")))).as("p"),
        col("n_days"), col("band"))
      .select(col("p.lag").as("lag"), col("n_days"), col("p.acf").as("acf"),
        col("p.pacf").as("pacf"), col("band").as("band_95"),
        (abs(col("p.pacf")) > col("band")).as("significant"))
      .orderBy("lag")
  }

  // ── rolling correlation of two aligned daily series (trailing 14 full
  // days): does view volume track purchase volume this fortnight? The
  // moment sums feeding Pearson's r are INTEGER window sums of integer
  // daily counts (Σx, Σy, Σxy, Σx², Σy² over a ROWS frame), so every
  // engine derives bit-identical moments under any partitioning; r is one
  // final double formula, rounded once. Degenerate frames (either series
  // constant) yield null rather than a NaN. The window runs over the
  // |days|-sized daily grid, never the events — one keyed aggregation
  // then a tiny partitionless frame, same discipline as stats_ks. ──
  def rollingCorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir).groupBy(col("day"))
      .agg(sum((col("event_type") === "view").cast("long")).as("x"),
        sum((col("event_type") === "purchase").cast("long")).as("y"))
    val w = Window.orderBy(col("day")).rowsBetween(-13, 0)
    daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum(col("x")).over(w))
      .withColumn("sy", sum(col("y")).over(w))
      .withColumn("sxy", sum(col("x") * col("y")).over(w))
      .withColumn("sxx", sum(col("x") * col("x")).over(w))
      .withColumn("syy", sum(col("y") * col("y")).over(w))
      .filter(col("n") === 14)
      .select(col("day"), col("x"), col("y"),
        when((col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("syy") - col("sy") * col("sy")) > 0,
          r6((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt(((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))).cast("double"))))
          .as("r14"))
      .orderBy("day")
  }

  // ── population stability index: the standard ML-monitoring drift
  // metric between a reference period and a current period,
  // PSI = Σ_buckets (p_i − q_i)·ln(p_i/q_i), per event type. Bucket
  // edges are the REFERENCE period's exact deciles (9 cut points,
  // |types|×9 rows, broadcast back like rfm_segments' quintiles — no
  // global sort); bucket membership is an integer edge-comparison sum,
  // counts are integers, and shares use add-one smoothing
  // ((c_i+1)/(n+10)) so empty buckets stay finite and every ratio is
  // derived from identical integers in both engines. One scan per
  // period, grid-sized state everywhere. ──
  def statsPsi(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
      .select(col("event_type"), col("value"),
        (col("us") < PsiSplitUs).as("is_ref"))
    val edgeCols = (1 to 9).map(i =>
      r6(expr(s"percentile(value, 0.$i)")).as(s"e$i"))
    val edges = e.filter(col("is_ref"))
      .groupBy(col("event_type"))
      .agg(edgeCols.head, edgeCols.tail: _*)
    val bucket = (1 to 9).map(i => (col("value") > col(s"e$i")).cast("int"))
      .reduce(_ + _)
    val counts = e.join(broadcast(edges), "event_type")
      .groupBy(col("event_type"), col("is_ref"), bucket.as("b"))
      .agg(count(lit(1)).as("c"))
    // dense (type, bucket) grid so buckets empty on ONE side still pair
    val grid = counts.select(col("event_type")).distinct()
      .crossJoin(spark.range(0, 10).select(col("id").cast("int").as("b")))
    val shares = grid
      .join(counts.filter(col("is_ref")).select(col("event_type"), col("b"),
        col("c").as("cr")), Seq("event_type", "b"), "left")
      .join(counts.filter(!col("is_ref")).select(col("event_type"), col("b"),
        col("c").as("cc")), Seq("event_type", "b"), "left")
      .select(col("event_type"), col("b"),
        coalesce(col("cr"), lit(0L)).as("cr"),
        coalesce(col("cc"), lit(0L)).as("cc"))
    val sums = Window.partitionBy(col("event_type"))
    shares
      .withColumn("p", (col("cr") + 1).cast("double") /
        (sum(col("cr")).over(sums) + 10))
      .withColumn("q", (col("cc") + 1).cast("double") /
        (sum(col("cc")).over(sums) + 10))
      .groupBy(col("event_type"))
      .agg(r6(sum((col("p") - col("q")) * log(col("p") / col("q"))))
        .as("psi"))
      .orderBy("event_type")
  }

  // ── Benford first-digit audit: observed first-significant-digit shares
  // of the value measure vs Benford's law — the classic
  // fabricated-numbers screen auditors run on transaction feeds. The
  // digit comes from integer CENTS through a CASE magnitude ladder, NOT
  // floor(log10(v)) — float log of a near-power-of-ten is exactly the
  // knife edge cross-engine floats disagree on, while the integer ladder
  // is branch-identical everywhere. Expected shares are ln(1+1/d)/ln(10)
  // on literal digits. One keyed aggregation; 9 rows out. ──
  def statsBenford(spark: SparkSession, dir: String): DataFrame = {
    val cents = abs(col("value")).cast("decimal(18,2)") * 100
    val digit = (1 to 15).foldLeft(lit(0L)) { (acc, p) =>
      val lo = math.pow(10, p - 1).toLong
      val hi = math.pow(10, p).toLong
      when(cents >= lo && cents < hi, (cents.cast("long") / lo).cast("long"))
        .otherwise(acc)
    }
    val counts = ev(spark, dir)
      .filter(col("value").isNotNull && abs(col("value")) >= 0.01)
      .select(digit.as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    counts
      .withColumn("share",
        r6(col("n").cast("double") / sum(col("n")).over(Window.partitionBy())))
      .withColumn("benford",
        r6(log(lit(1d) + lit(1d) / col("digit")) / log(lit(10d))))
      .orderBy("digit")
  }

  // ── Theil-Sen robust trend per event_type: the median of all pairwise
  // slopes of the daily-revenue series, with the intercept as the median
  // residual at that slope — the robust-statistics twin of regr_trend's
  // OLS line (one corrupted day drags an OLS slope arbitrarily; Theil-Sen
  // tolerates up to ~29% outliers). Same scale shape as forecast_holt:
  // the fact table collapses to a group-sized series FIRST, and the
  // O(n²/2) pair enumeration runs on that series (366 days → 67k pairs
  // per key) as a keyed self-join — bounded per key, parallel across
  // keys, never a pass over raw events. The median is computed EXPLICITLY
  // (row_number + the (m+1)÷2/(m+2)÷2 middle pair) rather than through
  // either engine's quantile function, so no interpolation-implementation
  // drift can leak into the compare; the intercept pass reuses the
  // UNROUNDED slope, and each output rounds once at the boundary. ──
  def statsTheilSen(spark: SparkSession, dir: String): DataFrame = {
    // cached: this group-sized frame (|types|×|days| rows) feeds the
    // pair self-join, the residual pass, and the count — uncached, each
    // consumer re-aggregates the FULL fact table (4 extra corpus scans
    // at sf≈1, measured 18.5 s → 3.9 s)
    val daily = ev(spark, dir)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("1970-01-01")).cast("double").as("x"),
        col("y"))
      .transform(Eager(_))
    def medianOf(df: DataFrame, v: String): DataFrame =
      explicitMedian(df, v, Seq("event_type"))
    val a = daily.alias("a")
    val b = daily.alias("b")
    val slopes = a.join(b, col("a.event_type") === col("b.event_type") &&
        col("b.x") > col("a.x"))
      .select(col("a.event_type").as("event_type"),
        ((col("b.y") - col("a.y")) / (col("b.x") - col("a.x"))).as("slope"))
    val slope = medianOf(slopes, "slope")
    val resid = daily.join(broadcast(slope), "event_type")
      .select(col("event_type"),
        (col("y") - col("slope") * col("x")).as("icpt"))
    val n = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
    n.join(slope, "event_type").join(medianOf(resid, "icpt"), "event_type")
      .select(col("event_type"), col("n_days"),
        r6(col("slope")).as("slope"), r6(col("icpt")).as("intercept"))
      .orderBy("event_type")
  }

  // ── Exact distribution-shape moments per group: skewness and excess
  // kurtosis from DECIMAL-exact raw power sums — the "is this metric's
  // distribution drifting" gauge behind the dashboard's mean/sum cards
  // (`/root/reference/app.py:80-84` stops at first moments).
  //
  // Determinism device: `value` is known 2-dp, so iv = value·100 is an
  // EXACT int64 (via the decimal(18,2) cast both engines already agree
  // on). Power sums Σiv, Σiv², Σiv³, Σiv⁴ accumulate in DECIMAL(38,0) —
  // associative and partitioning-independent, unlike double sums. iv ≤
  // 5.7e4 keeps iv⁴ ≤ 1.1e19 per row and the sf-corpus totals ≤ ~1e24,
  // far under the 1e38 ceiling (headroom to ~1e13 rows — 100 TB-class —
  // before the iv⁴ sum needs a second-level split). Moments then combine
  // in DOUBLE with an op-for-op identical formula on both engines:
  // casting the same exact integer to double is deterministic IEEE, and
  // +,-,*,/,sqrt are all correctly rounded, so skew/kurt agree bit-for-
  // bit before the final 6-dp display rounding. Skew/kurt are scale-
  // invariant, so the ×100 never needs undoing; only the mean rescales.
  // ONE scan, map-side partial aggregation, group-sized state — the
  // at-scale shape is a plain keyed agg. ──
  def statsMoments(spark: SparkSession, dir: String): DataFrame = {
    val df = ev(spark, dir)
      .withColumn("iv",
        (col("value").cast("decimal(18,2)") * 100).cast("long"))
    df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("iv").cast("decimal(38,0)")).as("s1"),
        sum((col("iv") * col("iv")).cast("decimal(38,0)")).as("s2"),
        sum((col("iv") * col("iv") * col("iv")).cast("decimal(38,0)"))
          .as("s3"),
        // iv⁴ would overflow int64 per-row at iv > 5.5e4: square once in
        // int64 (exact), then multiply in decimal
        sum((col("iv") * col("iv")).cast("decimal(38,0)") *
          (col("iv") * col("iv"))).as("s4"))
      .select(col("event_type"), col("n"),
        expr("round(cast(s1 as double) / n / 100, 6) + 0.0d").as("mean"),
        expr("""round(
            (cast(s3 as double) / n
              - 3 * (cast(s1 as double) / n) * (cast(s2 as double) / n)
              + 2 * (cast(s1 as double) / n) * (cast(s1 as double) / n)
                  * (cast(s1 as double) / n))
            / ((cast(s2 as double) / n
                 - (cast(s1 as double) / n) * (cast(s1 as double) / n))
               * sqrt(cast(s2 as double) / n
                 - (cast(s1 as double) / n) * (cast(s1 as double) / n))),
            6) + 0.0d""").as("skewness"),
        expr("""round(
            (cast(s4 as double) / n
              - 4 * (cast(s1 as double) / n) * (cast(s3 as double) / n)
              + 6 * (cast(s1 as double) / n) * (cast(s1 as double) / n)
                  * (cast(s2 as double) / n)
              - 3 * (cast(s1 as double) / n) * (cast(s1 as double) / n)
                  * (cast(s1 as double) / n) * (cast(s1 as double) / n))
            / ((cast(s2 as double) / n
                 - (cast(s1 as double) / n) * (cast(s1 as double) / n))
               * (cast(s2 as double) / n
                 - (cast(s1 as double) / n) * (cast(s1 as double) / n)))
            - 3, 6) + 0.0d""").as("kurtosis"))
      .orderBy("event_type")
  }

  // ── Durbin-Watson residual autocorrelation: fit the per-type OLS
  // trend (the regr_trend builtins), then DW = Σ(eᵢ−eᵢ₋₁)²/Σeᵢ² over
  // the daily residuals — THE "is the trend model missing serial
  // structure" diagnostic (DW≈2 independent, →0 positive
  // autocorrelation). Residuals are snapped to 6 dp and accumulated in
  // DECIMAL: the two sums are order-independent, so the statistic
  // can't flake on partition order; regr_slope/intercept agree
  // cross-engine far inside the snap (regr_trend's green row is the
  // precedent). All windows partition by event_type over ≤|days|
  // rows. ──
  def statsDw(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailySeries(spark, dir)
    val fit = daily.groupBy(col("event_type"))
      .agg(expr("regr_slope(v, CAST(dayno AS DOUBLE))").as("b"),
        expr("regr_intercept(v, CAST(dayno AS DOUBLE))").as("a"),
        count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("dayno"))
    daily.join(broadcast(fit), Seq("event_type"))
      .withColumn("e",
        expr("CAST(round(v - (a + b * CAST(dayno AS DOUBLE)), 6)" +
          " AS DECIMAL(24,6))"))
      .withColumn("de", col("e") - lag(col("e"), 1).over(w))
      .groupBy(col("event_type"))
      .agg(first(col("n")).as("n"),
        (sum(col("de") * col("de")).cast("double") /
          sum(col("e") * col("e")).cast("double")).as("raw"))
      .select(col("event_type"), col("n"),
        r6(col("raw")).as("dw"))
      .orderBy("event_type")
  }

  // ── Wald-Wolfowitz RUNS test on the daily series: are above-median /
  // below-median days randomly interleaved, or does the metric move in
  // streaks? The median is the explicit middle-pair rule (engine-
  // neutral); days equal to the median drop (standard treatment); the
  // run count R and the n₊/n₋ totals are pure integers, and the
  // normal approximation z = (R − μ)/σ divides exact integers in
  // double with one sqrt — bit-identical cross-engine. Group-sized
  // frames throughout. ──
  def statsRuns(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailySeries(spark, dir)
    val med = explicitMedian(daily.select(col("event_type"), col("v")),
      "v", Seq("event_type"))
      .withColumnRenamed("v", "med")
    val w = Window.partitionBy(col("event_type")).orderBy(col("dayno"))
    daily.join(broadcast(med), Seq("event_type"))
      .filter(col("v") =!= col("med"))
      .withColumn("s", when(col("v") > col("med"), 1L).otherwise(0L))
      .withColumn("chg",
        when(lag(col("s"), 1).over(w).isNull ||
          lag(col("s"), 1).over(w) =!= col("s"), 1L).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(sum(col("chg")).as("runs"), sum(col("s")).as("n_plus"),
        (count(lit(1)) - sum(col("s"))).as("n_minus"))
      // exact INTEGER products, then one explicit double division per
      // term — a bare `2.0 * …/ …` would be DECIMAL division in Spark
      // SQL vs double in DuckDB (the jarque_bera lesson)
      .select(col("event_type"), col("runs"), col("n_plus"), col("n_minus"),
        r6(expr("""(runs - (1 + CAST(2 * n_plus * n_minus AS DOUBLE)
              / (n_plus + n_minus)))
            / sqrt(CAST(2 * n_plus * n_minus
                * (2 * n_plus * n_minus - (n_plus + n_minus)) AS DOUBLE)
              / (CAST(n_plus + n_minus AS DOUBLE)
                 * (n_plus + n_minus) * (n_plus + n_minus - 1)))"""))
          .as("z"))
      .orderBy("event_type")
  }

  // ── Jarque-Bera normality test per group: JB = n/6·(S² + K²/4) from
  // [[statsMoments]]' exact-sum skewness and excess kurtosis — the
  // "can I use z-tables on this metric" gate. Computed from the
  // 6-dp-rounded moments (both engines hold identical values there, so
  // the derived statistic is trivially identical); reject at the χ²₂
  // 5% critical value 5.991. ──
  def statsJarqueBera(spark: SparkSession, dir: String): DataFrame =
    statsMoments(spark, dir)
      // CAST-first double arithmetic: a bare `n / 6.0` would parse as
      // DECIMAL division in Spark SQL (6.0 is a decimal literal) while
      // DuckDB divides in double — ~1e-6 divergence that round(…, 6)
      // cannot absorb
      .withColumn("jb_raw",
        expr("cast(n as double) / 6 *" +
          " (skewness * skewness + kurtosis * kurtosis / 4)"))
      .select(col("event_type"), col("n"),
        r6(col("jb_raw")).as("jb"),
        (col("jb_raw") > 5.991d).as("reject_normal"))
      .orderBy("event_type")

  // ── Ljung-Box portmanteau test: Q = n(n+2) Σ_{k=1..7} ρ_k²/(n−k) over
  // the daily-series ACF — "is there ANY autocorrelation structure",
  // the whiteness gate run before trusting i.i.d. assumptions in the
  // other tests. ρ_k comes from the decimal-moment pipeline of
  // stats_acf ([[lagCorr]]) and is ROUNDED before entering Q, so both engines sum
  // the same 6-dp terms; n is the day count (1-row broadcast — plan
  // audit). Reject at the χ²(7) 5% critical value on the rounded Q. ──
  def statsLjungBox(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir).groupBy(col("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
    val nDays = daily.agg(count(lit(1)).as("n_days"))
    lagCorr(daily, 7).crossJoin(broadcast(nDays))
      .groupBy(col("n_days"))
      .agg(count(lit(1)).as("df"),
        sum(col("r") * col("r") /
          (col("n_days") - col("lag")).cast("double")).as("s"))
      .select(col("n_days"), col("df"),
        r6(col("n_days").cast("double") *
          (col("n_days") + 2).cast("double") * col("s")).as("q_stat"))
      .withColumn("reject_5pct", col("q_stat") > 14.06714)
  }

  // ── Jensen-Shannon drift per event_type between the stats_psi
  // reference/current halves (same PsiSplitUs cut): JSD term
  // ½p·ln(p/m) + ½q·ln(q/m), m = (p+q)/2 — always finite, so unlike
  // KL/PSI it needs NO smoothing and a type absent on one side still
  // contributes a bounded term. Shares p, q are exact bigint/total
  // divisions; the term is rounded once. Counts partial-aggregate
  // map-side; the 1-row totals frame broadcasts (plan audit). ──
  def statsJsd(spark: SparkSession, dir: String): DataFrame = {
    val c = ev(spark, dir)
      .groupBy(col("event_type"), (col("us") < PsiSplitUs).as("is_ref"))
      .agg(count(lit(1)).as("c"))
    val totals = c.agg(
      sum(when(col("is_ref"), col("c")).otherwise(lit(0L))).as("tr"),
      sum(when(!col("is_ref"), col("c")).otherwise(lit(0L))).as("tc"))
    val types = c.select(col("event_type")).distinct()
    val shares = types
      .join(c.filter(col("is_ref"))
        .select(col("event_type"), col("c").as("cr")),
        Seq("event_type"), "left")
      .join(c.filter(!col("is_ref"))
        .select(col("event_type"), col("c").as("cc")),
        Seq("event_type"), "left")
      .crossJoin(broadcast(totals))
      .select(col("event_type"),
        (coalesce(col("cr"), lit(0L)).cast("double") / col("tr")).as("p"),
        (coalesce(col("cc"), lit(0L)).cast("double") / col("tc")).as("q"))
      .withColumn("m", (col("p") + col("q")) / 2)
    shares.select(col("event_type"),
        r6(col("p")).as("p"), r6(col("q")).as("q"),
        r6(when(col("p") > 0, col("p") * log(col("p") / col("m")))
            .otherwise(lit(0.0d)) / 2 +
          when(col("q") > 0, col("q") * log(col("q") / col("m")))
            .otherwise(lit(0.0d)) / 2).as("jsd_term"))
      .orderBy("event_type")
  }

  // ── QQ table: per-type deciles of `value` against the GLOBAL deciles
  // — "which segment's distribution is shifted, and where in the
  // body/tail". Exact interpolated percentiles on both engines (the
  // stats_psi parity), rounded before the diff so the comparison is
  // 6-dp arithmetic. Two keyed aggregations + a 9-row broadcast join
  // on decile (equi — hash, not nested loop). ──
  def statsQq(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    // ONE array-fraction percentile, not 9 scalar ones (round 13): each
    // scalar percentile(…, 0.i) aggregate kept its OWN full value-counts
    // buffer per group — 9 copies of the multiset and 9 sorts. The array
    // form sorts one buffer and interpolates all 9 fractions with the
    // identical per-fraction arithmetic — values bit-identical.
    val fracs = "array(" + (1 to 9).map(i => s"0.$i").mkString(", ") + ")"
    def unstack(d: org.apache.spark.sql.DataFrame, out: String) = d
      .select(d.columns.filter(_ != "qs").map(col) :+
        posexplode(col("qs")).as(Seq("i", "qv")): _*)
      .select(d.columns.filter(_ != "qs").map(col) :+
        (col("i") + 1).cast("int").as("decile") :+
        r6(col("qv")).as(out): _*)
    val typed = unstack(e.groupBy(col("event_type"))
      .agg(expr(s"percentile(value, $fracs)").as("qs")), "q_type")
    val glob = unstack(e.agg(expr(s"percentile(value, $fracs)").as("qs")),
      "q_global")
    typed.join(broadcast(glob), "decile")
      .select(col("event_type"), col("decile"), col("q_type"),
        col("q_global"), r6(col("q_type") - col("q_global")).as("shift"))
      .orderBy("event_type", "decile")
  }

  // ── single changepoint location (binary-segmentation first split) on
  // the daily series: argmax_t |S_t − (t/n)·S_n|. The statistic is
  // compared SCALED BY n — |n·S_t − t·S_n| is an exact decimal
  // (decimal × int), so the argmax is picked by integer-exact
  // comparison and no float ever decides between candidate days; the
  // reported magnitude divides back by n once at the end. Prefix sums
  // ride the ordered day frame (one row per day); the 1-row (n, S_n)
  // totals broadcast (plan audit). ──
  def statsChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir).groupBy(col("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("v"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pre = daily
      .withColumn("t", row_number().over(Window.orderBy(col("day"))))
      .withColumn("st", sum(col("v")).over(w))
    val tot = daily.agg(count(lit(1)).as("n"),
      sum(col("v")).as("sn"))
    pre.crossJoin(broadcast(tot))
      .filter(col("t") < col("n"))
      .select(col("day"), col("t"), col("n"),
        abs(col("st") * col("n") - col("sn") * col("t")).as("cn"))
      .orderBy(col("cn").desc, col("day"))
      .limit(1)
      .select(col("day").as("change_day"), col("t").cast("long").as("t"),
        col("n").as("n_days"),
        r6(col("cn").cast("double") / col("n")).as("cusum_stat"))
  }

  // ── partial correlation r_xy·z = (r_xy − r_xz·r_yz) /
  // √((1−r_xz²)(1−r_yz²)) for the lineitem measure pairs, controlling
  // for discount — "is the qty↔price association real or
  // discount-driven". The pairwise r's come from the engine's corr()
  // and are ROUNDED to 6 dp before entering the formula (the
  // stats_corr_matrix parity: corr is scale-invariant so pop/sample
  // forms agree), so the partial is 6-dp arithmetic both engines
  // reproduce bit-for-bit. One scan, one 1-row moment frame. ──
  def statsPartialCorr(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val m = li.agg(
      r6(corr(col("l_quantity"), col("l_extendedprice"))).as("r_qp"),
      r6(corr(col("l_quantity"), col("l_tax"))).as("r_qt"),
      r6(corr(col("l_extendedprice"), col("l_tax"))).as("r_pt"),
      r6(corr(col("l_quantity"), col("l_discount"))).as("r_qd"),
      r6(corr(col("l_extendedprice"), col("l_discount"))).as("r_pd"),
      r6(corr(col("l_tax"), col("l_discount"))).as("r_td"))
    def partial(rxy: Column, rxz: Column, ryz: Column): Column =
      r6((rxy - rxz * ryz) /
        sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)))
    m.withColumn("pqp", partial(col("r_qp"), col("r_qd"), col("r_pd")))
      .withColumn("pqt", partial(col("r_qt"), col("r_qd"), col("r_td")))
      .withColumn("ppt", partial(col("r_pt"), col("r_pd"), col("r_td")))
      .select(expr("stack(3, " +
        "'l_quantity', 'l_extendedprice', r_qp, pqp, " +
        "'l_quantity', 'l_tax', r_qt, pqt, " +
        "'l_extendedprice', 'l_tax', r_pt, ppt) " +
        "as (x, y, r_xy, r_partial)"),
        lit("l_discount").as("control"))
      .select(col("x"), col("y"), col("control"), col("r_xy"),
        col("r_partial"))
      .orderBy("x", "y")
  }

  // ── empirical CDF per event_type, evaluated on ONE shared 21-point
  // global grid (so the 5 curves are directly comparable — the visual
  // twin of stats_ks's max-gap statistic). F(g) = |v ≤ g| / n is pure
  // integer counting; the grid points are the identical double chain
  // on both engines, and the ≤ comparisons branch on identical
  // doubles. The 21-row grid broadcasts (plan audit); the expansion is
  // map-side and collapses into 105 output rows. ──
  def statsEcdf(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir).select(col("event_type"), col("value"))
    val st = e.agg(min(col("value")).cast("double").as("lo"),
      max(col("value")).cast("double").as("hi"))
    val grid = st.select(col("lo"), col("hi"),
        explode(sequence(lit(0), lit(20))).as("j"))
      .withColumn("gx",
        col("lo") + (col("hi") - col("lo")) * col("j").cast("double") / 20)
    e.crossJoin(broadcast(grid))
      .groupBy(col("event_type"), col("j"), col("gx"))
      .agg(count(lit(1)).as("n"),
        sum((col("value") <= col("gx")).cast("long")).as("c"))
      .select(col("event_type"), col("j").cast("int").as("grid_id"),
        r6(col("gx")).as("x"),
        r6(col("c").cast("double") / col("n")).as("ecdf"))
      .orderBy("event_type", "grid_id")
  }

  // ── Granger-style predictive test: does yesterday's CLICK volume
  // help predict today's PURCHASE revenue beyond purchase's own lag?
  // Uses the partial-correlation identity — F(1, n−3) =
  // (n−3)·r²_p/(1−r²_p) with r_p = corr(y_t, x_{t−1} | y_{t−1}) — so
  // the whole test is three pairwise correlations (ROUNDED, the
  // stats_partial_corr parity) and pure 6-dp arithmetic; no normal
  // equations, no matrix solve. Lags are calendar joins on the
  // two-series day frame. Reject at the F(1,60) ≈ 4.00 5% line on the
  // rounded statistic. ──
  def statsGranger(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
    val y = daily.filter(col("event_type") === "purchase")
      .select(col("day"), col("v").as("y"))
    val x = daily.filter(col("event_type") === "click")
      .select(col("day"), col("v").as("x"))
    val frame = y
      .join(y.select(date_add(col("day"), 1).as("day"),
        col("y").as("ylag")), "day")
      .join(x.select(date_add(col("day"), 1).as("day"),
        col("x").as("xlag")), "day")
    val m = frame.agg(count(lit(1)).as("n"),
      r6(corr(col("y"), col("xlag"))).as("r_yx"),
      r6(corr(col("y"), col("ylag"))).as("r_yy"),
      r6(corr(col("xlag"), col("ylag"))).as("r_xy"))
    m.select(col("n"),
        r6((col("r_yx") - col("r_yy") * col("r_xy")) /
          sqrt((lit(1.0) - col("r_yy") * col("r_yy")) *
            (lit(1.0) - col("r_xy") * col("r_xy")))).as("r_partial"),
        col("r_yx"), col("r_yy"))
      .withColumn("f_stat",
        r6((col("n") - 3).cast("double") * col("r_partial") *
          col("r_partial") /
          (lit(1.0) - col("r_partial") * col("r_partial"))))
      .withColumn("reject_5pct", col("f_stat") > 4.0)
      .select(col("n"), col("r_yx"), col("r_yy"), col("r_partial"),
        col("f_stat"), col("reject_5pct"))
  }

  // ── mutual information between event_type and the value's 100-band
  // bucket, with the normalized variant NMI = I/√(H_t·H_b) — the
  // dependence measure stats_chi2 tests but doesn't quantify in bits.
  // Every probability is an exact bigint ratio; each log argument is a
  // ratio of exact integer PRODUCTS (c·n vs r·s, both inside int64),
  // so the two engines feed ln identical doubles and the ≤35-term sums
  // round at 6 dp. Marginals join back equi (hash); the 1-row total
  // broadcasts (plan audit). ──
  def statsMutualInfo(spark: SparkSession, dir: String): DataFrame = {
    val j = ev(spark, dir)
      .groupBy(col("event_type"), floor(col("value") / 100).as("vb"))
      .agg(count(lit(1)).as("c")).transform(Eager(_))
    val rT = j.groupBy(col("event_type")).agg(sum(col("c")).as("r"))
    val cT = j.groupBy(col("vb")).agg(sum(col("c")).as("s"))
    val n = j.agg(sum(col("c")).as("n"), count(lit(1)).as("n_cells"))
    val mi = j.join(rT, "event_type").join(cT, "vb")
      .crossJoin(broadcast(n))
      .agg(r6(sum((col("c").cast("double") / col("n")) *
        log((col("c") * col("n")).cast("double") /
          (col("r") * col("s")).cast("double")))).as("mi_nats"))
    val hT = rT.crossJoin(broadcast(n.select(col("n"))))
      .agg(r6(-sum((col("r").cast("double") / col("n")) *
        log(col("r").cast("double") / col("n")))).as("h_type"))
    val hB = cT.crossJoin(broadcast(n.select(col("n"))))
      .agg(r6(-sum((col("s").cast("double") / col("n")) *
        log(col("s").cast("double") / col("n")))).as("h_bucket"))
    n.crossJoin(broadcast(mi)).crossJoin(broadcast(hT))
      .crossJoin(broadcast(hB))
      .select(col("n"), col("n_cells"), col("mi_nats"),
        col("h_type"), col("h_bucket"),
        r6(col("mi_nats") / sqrt(col("h_type") * col("h_bucket")))
          .as("nmi"))
  }

  // ── two-regressor OLS: daily revenue (whole dollars — floor(cents/
  // 100) keeps y an EXACT integer whose squared moments stay inside
  // int64 at any achievable SF, where cents² · days overflows at 10×)
  // on daily click and view counts, solved in closed form by Cramer's
  // rule on the centered normal equations — the multi-feature step up
  // from regr_trend's single regressor. Raw moments are exact int64
  // sums on the |days| grid; centered combinations (n·Sxx − Sx²) stay
  // int64; the determinant and coefficients cast each EXACT moment to
  // double once and share one expression tree with the oracle, so both
  // engines feed IEEE math identical inputs in identical order. R² =
  // (b1·S1y + b2·S2y)/(n·Syy − Sy²) — the /n in SSR and SST cancels. ──
  def statsOlsMulti(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir)
      .groupBy(col("day"))
      .agg(count(when(col("event_type") === "click", 1)).as("x1"),
        count(when(col("event_type") === "view", 1)).as("x2"),
        floor(sum(col("value").cast("decimal(18,2)"))).cast("long").as("y"))
    val m = daily.agg(count(lit(1)).as("n"),
      sum(col("x1")).as("sx1"), sum(col("x2")).as("sx2"),
      sum(col("y")).as("sy"),
      sum(col("x1") * col("x1")).as("s11r"),
      sum(col("x2") * col("x2")).as("s22r"),
      sum(col("x1") * col("x2")).as("s12r"),
      sum(col("x1") * col("y")).as("s1yr"),
      sum(col("x2") * col("y")).as("s2yr"),
      sum(col("y") * col("y")).as("syyr"))
    m.select(col("n"),
        expr("n * s11r - sx1 * sx1").as("c11"),
        expr("n * s22r - sx2 * sx2").as("c22"),
        expr("n * s12r - sx1 * sx2").as("c12"),
        expr("n * s1yr - sx1 * sy").as("c1y"),
        expr("n * s2yr - sx2 * sy").as("c2y"),
        expr("n * syyr - sy * sy").as("cyy"),
        col("sx1"), col("sx2"), col("sy"))
      .select(col("n"),
        r6(expr("(cast(c1y as double) * c22 - cast(c2y as double) * c12)" +
          " / (cast(c11 as double) * c22 - cast(c12 as double) * c12)"))
          .as("b1"),
        r6(expr("(cast(c2y as double) * c11 - cast(c1y as double) * c12)" +
          " / (cast(c11 as double) * c22 - cast(c12 as double) * c12)"))
          .as("b2"),
        r6(expr("(cast(sy as double)" +
          " - ((cast(c1y as double) * c22 - cast(c2y as double) * c12)" +
          "    / (cast(c11 as double) * c22 - cast(c12 as double) * c12))" +
          "   * sx1" +
          " - ((cast(c2y as double) * c11 - cast(c1y as double) * c12)" +
          "    / (cast(c11 as double) * c22 - cast(c12 as double) * c12))" +
          "   * sx2) / n")).as("b0"),
        r6(expr("(((cast(c1y as double) * c22 - cast(c2y as double) * c12)" +
          "    / (cast(c11 as double) * c22 - cast(c12 as double) * c12))" +
          "   * c1y" +
          " + ((cast(c2y as double) * c11 - cast(c1y as double) * c12)" +
          "    / (cast(c11 as double) * c22 - cast(c12 as double) * c12))" +
          "   * c2y) / cast(cyy as double)")).as("r2"))
  }

  // ── regression influence diagnostics for the daily revenue trend:
  // per day, the OLS residual, leverage h = 1/n + n(x−x̄)² written as
  // the exact-integer ratio (n·x−Sx)²/(n·(n·Sxx−Sx²)), and Cook's
  // distance e²h/(p·s²·(1−h)²) — which days SINGLE-HANDEDLY steer the
  // trend line regr_trend reports (a launch-day spike can own the
  // slope; this is the audit that finds it). The fit comes from exact
  // int64 moments (y in cents, x = epoch day), residuals are snapped
  // to 6 dp and squared in DECIMAL (the stats_dw device) so SSE is
  // order-independent on both engines; every double division is
  // cast-first from exact integers. Flag at the standard 4/n cut. ──
  def statsInfluence(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir).groupBy(col("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long")
        .as("y"))
      .withColumn("x", datediff(col("day"), lit("1970-01-01")).cast("long"))
    val m = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    val withFit = daily.crossJoin(broadcast(m))
      .withColumn("b", expr("cast(n * sxy - sx * sy as double)" +
        " / (n * sxx - sx * sx)"))
      .withColumn("a", expr("(cast(sy as double) - b * sx) / n"))
      .withColumn("ei6", expr(
        "cast(round((y - (a + b * x)) * 1000000, 0) as bigint)"))
      .withColumn("h", expr("cast(1 as double) / n" +
        " + cast((n * x - sx) * (n * x - sx) as double)" +
        " / (cast(n as double) * (n * sxx - sx * sx))"))
    val sse = withFit
      .agg(sum(expr("cast(ei6 as decimal(38,0)) * ei6")).as("ssei"))
    withFit.crossJoin(broadcast(sse))
      .withColumn("s2",
        expr("(cast(ssei as double) / 1000000000000) / (n - 2)"))
      .withColumn("e2", expr("(cast(ei6 as double) / 1000000)" +
        " * (cast(ei6 as double) / 1000000)"))
      .select(col("day"), col("x"), col("y"),
        r6(expr("cast(ei6 as double) / 1000000")).as("resid"),
        r6(col("h")).as("leverage"),
        r6(expr("e2 * h / (2 * s2 * (1 - h) * (1 - h))")).as("cooks_d"),
        (expr("e2 * h / (2 * s2 * (1 - h) * (1 - h))")
          > expr("cast(4 as double) / n")).as("influential"))
      .orderBy("day")
  }

  // ── circular statistics of purchase time-of-day: the arithmetic mean
  // of hours is meaningless on a clock (23h and 1h average to noon);
  // the circular mean direction and resultant length R̄ (Fisher 1993)
  // are the right "when do purchases happen / how concentrated" pair.
  // Per type: reduce to the 24-hour integer grid FIRST (counts exact,
  // corpus-size-independent), snap sin/cos of the 24 constant angles
  // to 9 dp DECIMAL (the text_lm_score libm device — JVM and C math
  // libraries are not bit-identical beyond ~1 ulp; snapping makes the
  // weighted sums exact decimal arithmetic), and finish with atan2 +
  // sqrt on the two exact totals. mean_hour is mapped to [0,24). ──
  def statsCircular(spark: SparkSession, dir: String): DataFrame = {
    val g = ev(spark, dir)
      .groupBy(col("event_type"),
        expr("(us div 3600000000) % 24").as("hr"))
      .agg(count(lit(1)).as("c"))
      .withColumn("s9", expr("cast(round(sin(2 * pi() * hr / cast(24 " +
        "as double)), 9) as decimal(12,9))"))
      .withColumn("c9", expr("cast(round(cos(2 * pi() * hr / cast(24 " +
        "as double)), 9) as decimal(12,9))"))
    g.groupBy(col("event_type"))
      .agg(sum(col("c")).as("n"),
        sum(col("s9") * col("c")).as("ss"),
        sum(col("c9") * col("c")).as("sc"))
      .select(col("event_type"), col("n"),
        r6(expr("pmod(atan2(cast(ss as double), cast(sc as double))" +
          " / (2 * pi()) * 24, cast(24 as double))")).as("mean_hour"),
        r6(expr("sqrt(cast(ss as double) * cast(ss as double)" +
          " + cast(sc as double) * cast(sc as double)) / n")).as("r_bar"))
      .orderBy("event_type")
  }

  // ── Kaplan–Meier product-limit curve of the conversion survival
  // function. n_risk(t) = subjects with T ≥ t (the standard convention:
  // censored-at-t still at risk at t), and S(t) multiplies (1 − d/n)
  // over event times ≤ t. The product crosses the oracle boundary as a
  // 9-dp-snapped DECIMAL sum of ln terms (the text_lm_score device —
  // libm's ~1 ulp can't move a 1e-9 grid), exp'd and rounded at the
  // very end; full extinction (d = n_risk, ln 0 diverges between
  // engines) short-circuits to exactly 0. ──
  def statsKaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    val s = survSubjects(spark, dir)
    val curve = kmSteps(s)
      .filter(col("d") > 0)
    curve.select(col("t").as("t_hours"), col("n_risk"),
        col("d").as("d_events"), col("c").as("c_censored"),
        r6(expr("CASE WHEN d = n_risk THEN 0.0" +
          " ELSE exp(cast(cuml as double)) END")).as("survival"))
      .orderBy("t_hours")
  }

  // ── two-sample log-rank test: does the hash-A/B split (the
  // ab_srm_check coin — portable Knuth hash of user_id, so both engines
  // and any rerun deal the same groups) convert at the same RATE over
  // time, the censoring-aware alternative to comparing raw conversion
  // fractions. At each pooled event time, group 1's expected events
  // E₁ = d·n₁/n and the hypergeometric variance accumulate as
  // 9-dp-snapped DECIMAL sums; χ² = (ΣO−E)²/ΣV is two exact sums and
  // one final division. Same subjects frame as the KM curve — the two
  // keys share one user-level reduction shape. ──
  def statsLogrank(spark: SparkSession, dir: String): DataFrame = {
    val s = survSubjects(spark, dir).withColumn("g",
      expr("pmod(pmod(user_id, 2147483648) * 2654435761, 2147483648) % 2"))
    val byT = s.groupBy(col("t"))
      .agg(count(lit(1)).as("a"), sum(col("observed")).as("d"),
        sum(when(col("g") === 1, 1L).otherwise(0L)).as("a1"),
        sum(when(col("g") === 1, col("observed")).otherwise(0L)).as("d1"))
    val w = Window.orderBy(col("t"))
    val terms = byT
      .withColumn("n", sum(col("a")).over(
        w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("n1", sum(col("a1")).over(
        w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .filter(col("d") > 0)
      .withColumn("ome", expr(
        """CAST(round(d1 - cast(d as double) * n1 / n, 9)
          |     AS DECIMAL(18,9))""".stripMargin))
      .withColumn("v", expr(
        """CASE WHEN n > 1 THEN CAST(round(
          |  cast(d as double) * n1 / n * (1.0 - cast(n1 as double) / n)
          |    * (n - d) / (n - 1), 9) AS DECIMAL(18,9))
          |ELSE CAST(0 AS DECIMAL(18,9)) END""".stripMargin))
    val grp = s.agg(
      sum(when(col("g") === 1, 1L).otherwise(0L)).as("n1_subj"),
      sum(when(col("g") === 0, 1L).otherwise(0L)).as("n0_subj"),
      sum(when(col("g") === 1, col("observed")).otherwise(0L)).as("o1"),
      sum(when(col("g") === 0, col("observed")).otherwise(0L)).as("o0"))
    terms.agg(sum(col("ome")).as("ome"), sum(col("v")).as("v"))
      .crossJoin(broadcast(grp))
      .select(col("n1_subj"), col("n0_subj"), col("o1"), col("o0"),
        r6(col("ome").cast("double")).as("o_minus_e"),
        r6(col("v").cast("double")).as("var_sum"),
        r6(expr("CASE WHEN cast(v as double) > 0 THEN" +
          " cast(ome as double) * cast(ome as double)" +
          " / cast(v as double) END")).as("chi2"))
  }

  // ── Page's L trend test — Friedman asks "do the treatments differ
  // AT ALL"; Page asks the sharper ordered question "does daily revenue
  // INCREASE along a hypothesized treatment order" (here the event
  // types in name order — the test's order input is a modeling choice;
  // any fixed order replays identically). Within each day-block, types
  // get DOUBLED average ranks on exact cent revenue (the stats_friedman
  // tie device — integers even under ties), L accumulates as the pure
  // int64 Σ_j j·R2_j (halved at the very end), and the normal
  // approximation z = (L − Nk(k+1)²/4) / √(Nk²(k+1)(k²−1)/144) is
  // arithmetic on those integers (classic untied-variance form; ties
  // make it conservative — documented, matched in the oracle). Block
  // grid is |days|×k — group-sized forever. ──
  def statsPageTrend(spark: SparkSession, dir: String): DataFrame = {
    val ranked = friedmanGrid(spark, dir, typeIndex = true)
    val perType = ranked.groupBy(col("j"))
      .agg(sum(col("r2x")).as("r2"), count(lit(1)).as("n"))
    perType.agg(count(lit(1)).as("k"), first(col("n")).as("n_blocks"),
        sum(col("j") * col("r2")).as("l2"))
      .select(col("n_blocks"), col("k"),
        r6(expr("cast(l2 as double) / 2")).as("l_stat"),
        r6(expr("(cast(l2 as double) / 2" +
          " - cast(n_blocks * k * (k + 1) * (k + 1) as double) / 4)" +
          " / sqrt(cast(n_blocks * k * k * (k + 1) as double)" +
          " * (k * k - 1) / 144)")).as("z"))
  }

  // ── Hill tail-index estimator: how heavy is the right tail of order
  // values — α ≈ 1 means Zipf-like (means barely exist; a top-sample
  // IS the mass), α > 3 means thin enough that averages are honest.
  // stats_benford audits digit plausibility and dist_lorenz measures
  // overall inequality; this estimates the tail EXPONENT itself, the
  // number that decides whether p99-based capacity planning works. The
  // estimator only touches the top k+1 = 101 order statistics — at any
  // corpus size that is ONE TakeOrderedAndProject (per-partition heaps,
  // driver merge, deterministic price-then-key total order), then a
  // 101-row frame: H = mean ln(xᵢ/x₍ₖ₊₁₎) over the top k, α = 1/H,
  // with ln terms 9-dp-snapped and DECIMAL-summed. ──
  def statsHillTail(spark: SparkSession, dir: String): DataFrame = {
    val top = Tables.orders(spark, dir)
      .select(col("o_totalprice").as("x"), col("o_orderkey"))
      .orderBy(desc("x"), col("o_orderkey"))
      .limit(101)
    val w = Window.partitionBy(lit(1))
      .orderBy(desc("x"), col("o_orderkey"))
    top
      .withColumn("rn", row_number().over(w))
      .withColumn("thr", min(col("x")).over(Window.partitionBy(lit(1))))
      .filter(col("rn") <= 100)
      .withColumn("term", expr(
        "CAST(round(ln(x / thr), 9) AS DECIMAL(18,9))"))
      .agg(count(lit(1)).as("k"), min(col("thr")).as("x_threshold"),
        sum(col("term")).as("s"))
      .select(col("k"), col("x_threshold"),
        r6(expr("cast(s as double) / k")).as("hill_h"),
        r6(expr("cast(k as double) / cast(s as double)")).as("alpha"))
  }

  // ── peaks-over-threshold EVT fit — stats_hill_tail estimates the tail
  // EXPONENT; this fits the full generalized-Pareto excess model the
  // capacity planner actually simulates from (P(X−u > y | X > u) ≈
  // GPD(ξ, σ)). Threshold u = the 51st order statistic under the
  // deterministic (price desc, orderkey) total order — a rank threshold,
  // not an engine quantile, so both engines select the identical excess
  // set via ONE TakeOrderedAndProject. Excesses snap to exact int64
  // CENTS (prices are 2-dp); mean and variance come from integer
  // Σy/Σy² via the n·Σy²−(Σy)² form, and the ξ/σ method-of-moments
  // (ξ = ½(1−m²/s²), σ = ½m(m²/s²+1)) is pure arithmetic on those two
  // exact numbers, in identical textual order in the oracle. ──
  def anomalyPot(spark: SparkSession, dir: String): DataFrame = {
    val top = Tables.orders(spark, dir)
      .select(col("o_totalprice").as("x"), col("o_orderkey"))
      .orderBy(desc("x"), col("o_orderkey"))
      .limit(51)
    val w = Window.partitionBy(lit(1))
      .orderBy(desc("x"), col("o_orderkey"))
    top
      .withColumn("rn", row_number().over(w))
      .withColumn("u", min(col("x")).over(Window.partitionBy(lit(1))))
      .filter(col("rn") <= 50)
      .withColumn("yc", expr("CAST(round((x - u) * 100, 0) AS BIGINT)"))
      .groupBy(col("u"))
      .agg(count(lit(1)).as("n"), sum(col("yc")).as("sy"),
        sum(col("yc") * col("yc")).as("sy2"))
      .withColumn("m", expr("cast(sy as double) / 100 / n"))
      .withColumn("s2", expr(
        "cast(n * sy2 - sy * sy as double) / (n * (n - 1)) / 10000"))
      .withColumn("rr", expr("m * m / s2"))
      .select(col("n").as("n_exceed"), col("u").as("threshold"),
        r6(col("m")).as("mean_excess"),
        r6(expr("0.5 * (1.0 - rr)")).as("xi"),
        r6(expr("0.5 * m * (rr + 1.0)")).as("sigma"))
  }

  // ── Lincoln–Petersen / Chapman capture–recapture: estimate the TOTAL
  // user population from two one-week sighting windows — the ecology
  // estimator that answers "how many users exist that we have not seen
  // yet" from overlap alone (approx_distinct counts who DID appear;
  // this extrapolates to who exists). Windows are the first and second
  // 7-day spans from the corpus min day (data-derived, integer day
  // arithmetic); n₁, n₂ and the recapture overlap m reduce to per-user
  // presence flags — ONE scan, |users| rows of state. Both the classic
  // n₁n₂/m and the small-sample Chapman form (with its standard error)
  // are pure arithmetic on three exact integers, and the ACTUAL
  // two-window distinct count rides along so the estimate is audited
  // against truth in the same row. ──
  def statsLincolnPetersen(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val mn = e.agg(min(col("day")).as("d0"))
    val flags = e.crossJoin(broadcast(mn))
      .withColumn("off", datediff(col("day"), col("d0")))
      .filter(col("off") < 14)
      .groupBy(col("user_id"))
      .agg(max((col("off") < 7).cast("long")).as("in_a"),
        max((col("off") >= 7).cast("long")).as("in_b"))
    flags.agg(sum(col("in_a")).as("n1"), sum(col("in_b")).as("n2"),
        sum(col("in_a") * col("in_b")).as("m"),
        count(lit(1)).as("n_seen"))
      .select(col("n1"), col("n2"), col("m"), col("n_seen"),
        r6(expr("CASE WHEN m > 0 THEN" +
          " cast(n1 as double) * n2 / m END")).as("n_hat_lp"),
        r6(expr("cast((n1 + 1) as double) * (n2 + 1) / (m + 1) - 1.0"))
          .as("n_hat_chapman"),
        r6(expr("sqrt(cast((n1 + 1) as double) * (n2 + 1) * (n1 - m)" +
          " * (n2 - m) / (cast((m + 1) as double) * (m + 1) * (m + 2)))"))
          .as("se_chapman"))
  }

  // ── overdispersion check + negative-binomial fit on per-user event
  // counts: a Poisson process has variance ≈ mean; real user activity
  // clumps (sessions, bursts), and the dispersion index D = s²/m says
  // HOW badly the Poisson assumption fails — with the method-of-moments
  // NB parameters (r = m²/(s²−m), p = m/s²) as the distribution you
  // should be simulating load with instead. Counts reduce to exact
  // int64 (Σk, Σk²) in one keyed-then-global aggregation; sample
  // variance uses the n·Σk²−(Σk)² form (no mean subtraction, no
  // cancellation), and every output is one double op on those integers.
  // Equidispersed data (s² ≤ m) yields NULL NB parameters, not a
  // division blow-up. ──
  def statsOverdispersion(spark: SparkSession, dir: String): DataFrame = {
    val counts = ev(spark, dir).groupBy(col("user_id"))
      .agg(count(lit(1)).as("k"))
    counts.agg(count(lit(1)).as("n"), sum(col("k")).as("sk"),
        sum(col("k") * col("k")).as("sk2"))
      .withColumn("m", expr("cast(sk as double) / n"))
      .withColumn("s2", expr(
        "cast(n * sk2 - sk * sk as double) / (cast(n as double) * (n - 1))"))
      .select(col("n").as("n_users"), r6(col("m")).as("mean_events"),
        r6(col("s2")).as("var_events"),
        r6(expr("s2 / m")).as("dispersion"),
        r6(expr("CASE WHEN s2 > m THEN m * m / (s2 - m) END")).as("nb_r"),
        r6(expr("CASE WHEN s2 > m THEN m / s2 END")).as("nb_p"),
        expr("s2 <= 1.5 * m").as("near_poisson"))
  }

  // ── Nelson–Aalen cumulative hazard over the same censored
  // conversion-time frame as [[statsKaplanMeier]]: H(t) = Σ dᵢ/nᵢ —
  // the hazard-scale view (KM answers "what fraction survives";
  // the hazard increments answer "how INTENSE is conversion pressure
  // at each age", and Breslow's e^{−H} is the estimator that stays
  // defined past full extinction). Same one-pass subjects reduction;
  // the d/n increments snap to the 1e-9 grid and cumulate as an exact
  // DECIMAL window sum over the time-grid-sized frame. ──
  def statsNelsonAalen(spark: SparkSession, dir: String): DataFrame = {
    val s = survSubjects(spark, dir)
    val byT = s.groupBy(col("t"))
      .agg(sum(col("observed")).as("d"),
        sum(lit(1L) - col("observed")).as("c"))
    val w = Window.orderBy(col("t"))
    byT
      .withColumn("n_risk",
        sum(col("d") + col("c")).over(
          w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("h_term", expr(
        """CASE WHEN d > 0
          |THEN CAST(round(cast(d as double) / n_risk, 9)
          |          AS DECIMAL(18,9))
          |ELSE CAST(0 AS DECIMAL(18,9)) END""".stripMargin))
      .withColumn("ch",
        sum(col("h_term")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .filter(col("d") > 0)
      .select(col("t").as("t_hours"), col("n_risk"),
        col("d").as("d_events"),
        r6(col("ch").cast("double")).as("cum_hazard"),
        r6(expr("exp(-cast(ch as double))")).as("s_breslow"))
      .orderBy("t_hours")
  }

  // ── Breusch–Pagan heteroscedasticity test on the daily revenue
  // trend: stats_dw asks whether the trend's residuals are serially
  // correlated; this asks whether their VARIANCE grows along the trend
  // (fan-shaped residuals make every OLS standard error a lie, which
  // is exactly when regr_trend's r² overstates confidence). The
  // auxiliary regression e² ~ day reduces to the closed R² form on
  // exact sums: residuals snap to 6 dp (the stats_dw device), e²
  // snaps to integer µ-units, and all five moments accumulate in
  // DECIMAL — LM = n·R² is one double expression at the end, flagged
  // against the χ²(1) 5% critical value. ──
  def statsBreuschPagan(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailySeries(spark, dir)
    val fit = daily.groupBy(col("event_type"))
      .agg(expr("regr_slope(v, CAST(dayno AS DOUBLE))").as("b"),
        expr("regr_intercept(v, CAST(dayno AS DOUBLE))").as("a"))
    daily.join(broadcast(fit), Seq("event_type"))
      .withColumn("e", expr(
        "CAST(round(v - (a + b * CAST(dayno AS DOUBLE)), 6)" +
          " AS DECIMAL(24,6))"))
      .withColumn("e2m", expr(
        "CAST(round(cast(e as double) * cast(e as double) * 1000000, 0)" +
          " AS DECIMAL(18,0))"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(dayno AS DECIMAL(18,0))")).as("sx"),
        sum(expr("CAST(dayno AS DECIMAL(18,0))" +
          " * CAST(dayno AS DECIMAL(18,0))")).as("sx2"),
        sum(col("e2m")).as("se"),
        sum(expr("CAST(e2m AS DECIMAL(28,0)) * e2m")).as("se2"),
        sum(expr("CAST(dayno AS DECIMAL(18,0)) * e2m")).as("sxe"))
      .withColumn("r2", expr(
        """(cast(n * sxe - sx * se as double)
          |  * cast(n * sxe - sx * se as double))
          |/ (cast(n * sx2 - sx * sx as double)
          |  * cast(n * se2 - se * se as double))""".stripMargin))
      .select(col("event_type"), col("n"),
        r6(expr("n * r2")).as("lm_stat"),
        expr("n * r2 > 3.841459").as("heteroscedastic"))
      .orderBy("event_type")
  }

  def statsQqNormal(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir).groupBy(col("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long")
        .as("revc"))
    val moments = daily.agg(count(lit(1)).as("n"),
        sum(col("revc")).as("s"),
        sum(expr("CAST(revc AS DECIMAL(28,0)) * revc")).as("s2"))
      .withColumn("m", expr("cast(s as double) / n"))
      .withColumn("sd", expr(
        "sqrt(cast(n * s2 - CAST(s AS DECIMAL(28,0)) * s as double)" +
          " / (cast(n as double) * (n - 1)))"))
    val decCols = (1 to 9).map(d =>
      expr(s"percentile(revc, 0.$d)").as(s"q$d"))
    val decs = daily.agg(decCols.head, decCols.tail: _*)
    decs.crossJoin(broadcast(moments))
      .select(col("m"), col("sd"),
        explode(array(NormalDeciles.map { case (d, z) =>
          struct(lit(d).as("decile"), col(s"q$d").as("q"),
            lit(z).as("z_normal"))
        }: _*)).as("e"))
      .select(col("e.decile").as("decile"),
        r6(expr("(e.q - m) / sd")).as("z_empirical"),
        r6(col("e.z_normal")).as("z_normal"),
        r6(expr("(e.q - m) / sd - e.z_normal")).as("gap"))
      .orderBy("decile")
  }

  // ── Grubbs outlier statistic per event type: the most extreme
  // standardized daily revenue and WHICH day it was — anomaly_mad
  // flags rows robustly; Grubbs is the classical single-outlier test
  // a reviewer asks for on small daily panels. Moments are exact
  // int64/decimal cent sums; the deviation snaps to 6 dp BEFORE the
  // argmax (so the picked day is engine-identical even at a near-tie),
  // ties broken by earliest day via the (dev, −dayno) struct max.
  // Day-grid frames; one scan. ──
  def statsGrubbs(spark: SparkSession, dir: String): DataFrame =
    dailyZ(spark, dir)
      .withColumn("dayno", expr("datediff(day, DATE'1970-01-01')"))
      .withColumn("dev", expr("round(abs(revc - mu) / sd, 6)"))
      .groupBy(col("event_type"))
      .agg(first(col("n")).as("n_days"),
        max(struct(col("dev"), (-col("dayno")).as("nd"))).as("mx"))
      .select(col("event_type"), col("n_days"),
        r6(col("mx.dev")).as("g_stat"),
        expr("date_add(DATE'1970-01-01', cast(-mx.nd as int))")
          .as("outlier_day"))
      .orderBy("event_type")

  // ── Mann–Kendall trend test per event type: S = Σ_{i<j} sign(xⱼ−xᵢ)
  // over the daily-revenue series, tie-corrected variance, and Kendall's
  // tau-a — THE classical "is there a monotone trend" test that
  // complements stats_theilsen's slope ESTIMATE and stats_page_trend's
  // ordered-alternative test. Pairwise self-join runs on the GROUP-SIZED
  // daily frame (≤|days|² per type, the theilsen shape — never the fact
  // table); S and the tie term are pure int64 (exact cents comparisons),
  // divided once in double for z and tau. ──
  def statsMannKendall(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyTyped(spark, dir)
      .withColumn("dayno", expr("datediff(day, DATE'1970-01-01')"))
      .transform(Eager(_))
    val a = daily.alias("a")
    val b = daily.alias("b")
    val s = a.join(b, col("a.event_type") === col("b.event_type") &&
        col("b.dayno") > col("a.dayno"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(signum(col("b.revc") - col("a.revc")).cast("long"))
        .as("s_stat"))
    val ties = daily.groupBy(col("event_type"), col("revc"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_distinct"), sum(col("t")).as("n_days"),
        sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tie_term"))
    s.join(ties, "event_type")
      .withColumn("var_s", expr(
        "cast(n_days * (n_days - 1) * (2 * n_days + 5) - tie_term" +
          " as double) / 18"))
      .select(col("event_type"), col("n_days"), col("s_stat"),
        r6(col("var_s")).as("var_s"),
        r6(expr("cast(2 * s_stat as double) / (n_days * (n_days - 1))"))
          .as("tau_a"),
        r6(expr("CASE WHEN s_stat > 0" +
          " THEN cast(s_stat - 1 as double) / sqrt(var_s)" +
          " WHEN s_stat < 0" +
          " THEN cast(s_stat + 1 as double) / sqrt(var_s)" +
          " ELSE 0.0D END")).as("z"))
      .orderBy("event_type")
  }

  // ── Pettitt changepoint test per event type: the rank-based
  // single-changepoint detector (stats_changepoint's CUSUM cousin,
  // robust to outliers because only SIGNS enter). U_t accumulates
  // V_t = Σ_{j≠t} sign(xⱼ−x_t) — the O(n²) pair pass collapses to one
  // group-sized self-join plus ONE cumulative window, instead of
  // materializing U for every split point separately. K = max|U_t| is
  // exact int64; the earliest argmax day comes from the (|U|, −dayno)
  // struct-max (the stats_grubbs tie discipline); the approximate
  // significance 2·exp(−6K²/(n³+n²)) is one closed-form double. ──
  def statsPettitt(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyTyped(spark, dir)
      .withColumn("dayno", expr("datediff(day, DATE'1970-01-01')"))
      .transform(Eager(_))
    val a = daily.alias("a")
    val b = daily.alias("b")
    val v = a.join(b, col("a.event_type") === col("b.event_type") &&
        col("b.dayno") =!= col("a.dayno"))
      .groupBy(col("a.event_type").as("event_type"),
        col("a.dayno").as("dayno"))
      .agg(sum(signum(col("b.revc") - col("a.revc")).cast("long")).as("vt"))
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("dayno"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val u = v.withColumn("ut", sum(col("vt")).over(byDay))
    val n = daily.groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
    u.groupBy(col("event_type"))
      .agg(max(struct(abs(col("ut")).as("k"), (-col("dayno")).as("nd")))
        .as("mx"))
      .join(n, "event_type")
      .select(col("event_type"), col("n_days"),
        col("mx.k").as("k_stat"),
        expr("date_add(DATE'1970-01-01', cast(-mx.nd as int))")
          .as("cp_day"),
        r6(expr("least(2 * exp(cast(-6 * mx.k * mx.k as double)" +
          " / (cast(n_days as double) * n_days * n_days" +
          " + cast(n_days as double) * n_days)), 1.0D)")).as("p_approx"))
      .orderBy("event_type")
  }

  // ── 1-D Wasserstein (earth-mover) distance between the same two
  // value distributions stats_ks and stats_mannwhitney compare — the
  // drift metric that weighs HOW FAR mass moved, not just whether the
  // CDFs separate (KS) or shifted (U). W₁ = Σ|F₁−F₂|·Δv over the
  // GROUPED value grid: one cumulative window on ≤|distinct values|
  // rows, each trapezoid term snapped to 9 dp DECIMAL so the grid-sized
  // sum is associative. ──
  def statsWasserstein(spark: SparkSession, dir: String): DataFrame = {
    val g = ksCounts(spark, dir)
    val byVal = Window.orderBy(col("value"))
    val cum = g
      .withColumn("ca", sum(col("a")).over(
        byVal.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cb", sum(col("b")).over(
        byVal.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("nextv", lead(col("value"), 1).over(byVal))
    val tot = g.agg(sum(col("a")).as("n1"), sum(col("b")).as("n2"))
    cum.crossJoin(broadcast(tot))
      .filter(col("nextv").isNotNull)
      .select(col("n1"), col("n2"),
        expr("CAST(round(abs(cast(ca as double) / n1" +
          " - cast(cb as double) / n2) * (nextv - value), 9)" +
          " AS DECIMAL(18,9))").as("term"))
      .groupBy(col("n1"), col("n2"))
      .agg(sum(col("term")).as("w1"))
      .select(col("n1"), col("n2"),
        r6(expr("cast(w1 as double)")).as("w1_dist"))
  }

  // ── Weibull fit of the conversion-time distribution, by linearized
  // regression on the Kaplan–Meier curve: ln(−ln S(t)) is LINEAR in
  // ln t exactly when T ~ Weibull, so the OLS slope IS the shape k
  // (k<1 infant-mortality, k>1 wear-out) and exp(−intercept/k) the
  // scale — the parametric summary stats_kaplan_meier's curve points
  // at. The regression consumes the 6-dp-SNAPPED survival (already
  // engine-pinned by the KM ln-sum device), so every (x, y) point is
  // identical cross-engine; moments are 9-dp DECIMAL term sums over
  // the grid-sized curve. Points need 0 < S < 1 and t ≥ 1 h. ──
  def statsWeibullFit(spark: SparkSession, dir: String): DataFrame = {
    val s = survSubjects(spark, dir)
    val pts = kmSteps(s)
      .filter(col("d") > 0 && col("d") < col("n_risk") && col("t") >= 1)
      .withColumn("s6", r6(expr("exp(cast(cuml as double))")))
      .filter(col("s6") > 0 && col("s6") < 1)
      .select(expr("ln(cast(t as double))").as("x"),
        expr("ln(-ln(s6))").as("y"))
    pts.agg(count(lit(1)).as("n_points"),
        sum(expr("CAST(round(x, 9) AS DECIMAL(18,9))")).as("sx"),
        sum(expr("CAST(round(y, 9) AS DECIMAL(18,9))")).as("sy"),
        sum(expr("CAST(round(x * y, 9) AS DECIMAL(18,9))")).as("sxy"),
        sum(expr("CAST(round(x * x, 9) AS DECIMAL(18,9))")).as("sxx"))
      .withColumn("k", expr(
        "(n_points * cast(sxy as double) - cast(sx as double)" +
          " * cast(sy as double)) / (n_points * cast(sxx as double)" +
          " - cast(sx as double) * cast(sx as double))"))
      .withColumn("a", expr(
        "(cast(sy as double) - k * cast(sx as double)) / n_points"))
      .select(col("n_points"), r6(col("k")).as("shape_k"),
        r6(expr("exp(-a / k)")).as("scale_hours"),
        r6(col("a")).as("intercept"))
  }

  // ── negative-binomial method-of-moments fit of per-user event counts
  // per type — stats_overdispersion DETECTS var > mean; this fits the
  // (r, p) the detection implies, the distribution a capacity planner
  // simulates arrivals from (Poisson underestimates tails whenever the
  // dispersion index exceeds 1). Moments are exact int64 (counts of
  // counts); r = m²/(v−m), p = m/v are closed forms, nulled when the
  // data is UNDER-dispersed and NB degenerates. One user-level
  // reduction + one k-row pass. ──
  def statsNegbinFit(spark: SparkSession, dir: String): DataFrame = {
    val u = ev(spark, dir).groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("k"))
    u.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"), sum(col("k")).as("sk"),
        sum(col("k") * col("k")).as("sk2"))
      .withColumn("m", expr("cast(sk as double) / n_users"))
      .withColumn("v", expr(
        "cast(n_users * sk2 - CAST(sk AS DECIMAL(28,0)) * sk as double)" +
          " / (cast(n_users as double) * (n_users - 1))"))
      .select(col("event_type"), col("n_users"),
        r6(col("m")).as("mean"), r6(col("v")).as("variance"),
        r6(expr("v / m")).as("dispersion"),
        r6(expr("CASE WHEN v > m THEN m * m / (v - m) END")).as("r_fit"),
        r6(expr("CASE WHEN v > m THEN m / v END")).as("p_fit"))
      .orderBy("event_type")
  }

  // ── Hurst exponent (rescaled-range, block sizes 16 and 32) of the
  // per-type daily revenue: H>0.5 trending/persistent, H<0.5
  // mean-reverting — the long-memory diagnostic that says whether
  // window_ewma-style momentum or contrarian logic fits this series.
  // Per (type, size): full blocks only, R = range of the cumulative
  // deviation from the block mean (int cumsums minus k·mean — exact
  // inputs), S = population σ from exact block moments; H = the
  // two-point log-log slope ln(RS₁₆/RS₈)/ln 2. Block R/S terms snap
  // to 9-dp DECIMAL before the cross-block mean. Everything runs on
  // the grouped day grid. ──
  def statsHurst(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyTyped(spark, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("day"))))
    val sized = daily.select(col("event_type"), col("revc"), col("rn"),
      explode(array(lit(8), lit(16))).as("sz"))
      .withColumn("b", expr("(rn - 1) div sz"))
      .withColumn("k", expr("(rn - 1) % sz + 1"))
    val blocks = sized.groupBy(col("event_type"), col("sz"), col("b"))
      .agg(count(lit(1)).as("nb"), sum(col("revc")).as("s1"),
        sum(expr("CAST(revc AS DECIMAL(28,0)) * revc")).as("s2"))
      .filter(col("nb") === col("sz"))
      .withColumn("mean", expr("cast(s1 as double) / sz"))
      .withColumn("sd", expr(
        "sqrt(cast(sz * s2 - CAST(s1 AS DECIMAL(28,0)) * s1 as double))" +
          " / sz"))
    val withCum = sized.join(blocks.select(col("event_type"), col("sz"),
        col("b"), col("mean"), col("sd")), Seq("event_type", "sz", "b"))
      .withColumn("cum", sum(col("revc")).over(
        Window.partitionBy(col("event_type"), col("sz"), col("b"))
          .orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("dev", expr("cum - k * mean"))
    val rs = withCum.groupBy(col("event_type"), col("sz"), col("b"))
      .agg((max(col("dev")) - min(col("dev"))).as("r"),
        first(col("sd")).as("sd"))
      .filter(col("sd") > 0)
      .groupBy(col("event_type"), col("sz"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(expr("CAST(round(r / sd, 9) AS DECIMAL(18,9))")).as("rss"))
      .withColumn("rs", expr("cast(rss as double) / n_blocks"))
    val p8 = rs.filter(col("sz") === 8)
      .select(col("event_type"), col("rs").as("rsa"),
        col("n_blocks").as("blocks_8"))
    val p16 = rs.filter(col("sz") === 16)
      .select(col("event_type"), col("rs").as("rsb"),
        col("n_blocks").as("blocks_16"))
    p8.join(p16, "event_type")
      .select(col("event_type"), col("blocks_8"), col("blocks_16"),
        r6(col("rsa")).as("rs_8"), r6(col("rsb")).as("rs_16"),
        r6(expr("ln(rsb / rsa) / ln(2.0D)")).as("hurst"))
      .orderBy("event_type")
  }

  // ── sample entropy (m=2, r=0.2σ) of the per-type daily revenue —
  // the regularity score anomaly hunters read BEFORE trusting a
  // forecast: low SampEn = repeating patterns (forecastable), high =
  // irregular. A = template pairs matching on 3 consecutive points, B
  // on 2; SampEn = −ln(A/B). The O(n²) template join runs on the
  // GROUP-SIZED day grid per type (the theilsen pair-join class, never
  // the fact table); matches compare exact int64 cents against the
  // 6-dp-snapped tolerance, so the pair counts are engine-identical
  // integers and the single ln is the only float. ──
  def statsSampleEntropy(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    // Eager (round 12): the group-sized template frame feeds THREE
    // consumers (the tolerance moments and both sides of the template
    // self-join) — lazily each re-ran the fact scan + aggregation +
    // window; the concurrent self-join sides are Eager's race case
    val daily = Eager(dailyTyped(spark, dir)
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("y1", lead(col("revc"), 1).over(wOrd))
      .withColumn("y2", lead(col("revc"), 2).over(wOrd))
      .filter(col("y2").isNotNull))
    val tol = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("revc")).as("s1"),
        sum(expr("CAST(revc AS DECIMAL(28,0)) * revc")).as("s2"))
      .withColumn("r_tol", expr(
        "round(0.2D * sqrt(cast(n * s2 - CAST(s1 AS DECIMAL(28,0)) * s1" +
          " as double)) / n, 6)"))
      .select(col("event_type"), col("n"), col("r_tol"))
    val a = daily.alias("a")
    val b = daily.alias("b")
    val pairs = a.join(b, col("a.event_type") === col("b.event_type") &&
        col("b.rn") > col("a.rn"))
      .join(broadcast(tol.select(col("event_type").as("tet"), col("r_tol"))),
        col("a.event_type") === col("tet"))
      .select(col("a.event_type").as("et"),
        (abs(col("a.revc") - col("b.revc")) <= col("r_tol")).as("m0"),
        (abs(col("a.y1") - col("b.y1")) <= col("r_tol")).as("m1"),
        (abs(col("a.y2") - col("b.y2")) <= col("r_tol")).as("m2"))
    pairs.groupBy(col("et").as("event_type"))
      .agg(sum((col("m0") && col("m1")).cast("long")).as("b_pairs"),
        sum((col("m0") && col("m1") && col("m2")).cast("long"))
          .as("a_pairs"))
      .join(broadcast(tol), "event_type")
      .select(col("event_type"), col("n").as("n_templates"),
        r6(col("r_tol") / 100).as("tolerance"),
        col("b_pairs"), col("a_pairs"),
        r6(expr("CASE WHEN a_pairs > 0 AND b_pairs > 0" +
          " THEN -ln(cast(a_pairs as double) / b_pairs) END"))
          .as("sampen"))
      .orderBy("event_type")
  }

  // ── process-capability indices Cp/Cpk of `value` per event type
  // against fixed spec limits [10, 190] — the SPC summary that says
  // whether a metric pipeline stays inside its contract (Cp = spec
  // width over 6σ ignores centering; Cpk penalizes a drifted mean;
  // < 1.33 is the classic "process not capable" fence). Pure
  // moment arithmetic on the DECIMAL-exact group sums — one scan, one
  // k-row pass; the capability verdict branches on the 6-dp Cpk. ──
  def statsCpk(spark: SparkSession, dir: String): DataFrame =
    valueMoments(spark, dir)
      .withColumn("m", expr("s1 / n"))
      .withColumn("sd", expr(
        "sqrt((n * s2 - s1 * s1) / (cast(n as double) * (n - 1)))"))
      .withColumn("cpk6", r6(expr(
        "least((190.0D - m) / (3 * sd), (m - 10.0D) / (3 * sd))")))
      .select(col("event_type"), col("n"), r6(col("m")).as("mean"),
        r6(col("sd")).as("sd"),
        r6(expr("(190.0D - 10.0D) / (6 * sd)")).as("cp"),
        col("cpk6").as("cpk"),
        (col("cpk6") >= 1.33).as("capable"))
      .orderBy("event_type")

  // ── X̄ control chart on daily subgroups: each day's mean value per
  // type against the grand mean ± 3σ/√n_day limits — the monitoring
  // twin of stats_cpk (capability says CAN it stay in spec; the chart
  // says IS it in control today). Limits derive from the same exact
  // grand moments broadcast back to the |days|-grid; per-day means are
  // exact cents/count divisions and the violation flag compares the
  // 6-dp z so both engines flag identical days. Emits the full chart
  // with per-day flags plus each type's violation totals. ──
  def statsXbarChart(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyTyped(spark, dir, count(lit(1)).as("nd"))
    val grand = valueMoments(spark, dir)
      .withColumn("gm", expr("s1 / n"))
      .withColumn("gsd", expr(
        "sqrt((n * s2 - s1 * s1) / (cast(n as double) * (n - 1)))"))
      .select(col("event_type"), col("gm"), col("gsd"))
    val z = daily.join(broadcast(grand), "event_type")
      .withColumn("xbar", expr("cast(revc as double) / (100 * nd)"))
      .withColumn("z6", r6(expr(
        "(xbar - gm) / (gsd / sqrt(cast(nd as double)))")))
      .withColumn("violation", abs(col("z6")) > 3.0)
    val days = z.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("violation").cast("long")).as("n_violations"))
    z.join(days, "event_type")
      .select(col("event_type"), col("day"), col("nd").as("n_obs"),
        r6(col("xbar")).as("xbar"), col("z6").as("z"),
        col("violation"), col("n_days"), col("n_violations"))
      .orderBy("event_type", "day")
  }

  /** Each type's day count n_days and its [[dailyZ]] series as one (day, z)
    * array `s` in day order: the input of the sequential drift folds. */
  private def dailyZArrays(spark: SparkSession, dir: String): DataFrame =
    dailyZ(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sort_array(collect_list(struct(col("day"), col("z")))).as("s"))

  // ── tabular two-sided CUSUM chart (k=0.5σ slack, h=4σ decision
  // interval, reset-on-alarm) on the standardized daily revenue —
  // window_cusum plots the raw cumulative deviation; THIS is the
  // SPC-grade detector with the slack that ignores noise and the
  // decision limit that fires on a sustained small shift (the case
  // ±3σ X̄ charts are blind to). The genuinely sequential recursion
  // C⁺ₜ = max(0, C⁺ₜ₋₁ + zₜ − k) runs as one codegen'd fold per type
  // (the forecast_holt shape); z comes from exact grand moments
  // broadcast into the fold. Emits each type's final state + alarm
  // count. ──
  def statsCusumChart(spark: SparkSession, dir: String): DataFrame =
    dailyZArrays(spark, dir)
      .withColumn("st", expr(
        """aggregate(s,
          |  named_struct('cp', 0.0D, 'cn', 0.0D, 'al', 0L),
          |  (st, x) -> IF(
          |    greatest(0.0D, st.cp + x.z - 0.5D) > 4.0D OR
          |    least(0.0D, st.cn + x.z + 0.5D) < -4.0D,
          |    named_struct('cp', 0.0D, 'cn', 0.0D, 'al', st.al + 1),
          |    named_struct('cp', greatest(0.0D, st.cp + x.z - 0.5D),
          |      'cn', least(0.0D, st.cn + x.z + 0.5D), 'al', st.al)))"""
          .stripMargin))
      .select(col("event_type"), col("n_days"),
        r6(col("st.cp")).as("cusum_pos"),
        r6(col("st.cn")).as("cusum_neg"),
        col("st.al").as("n_alarms"))
      .orderBy("event_type")

  // ── Page–Hinkley drift detector (δ=0.1, λ=5, standardized units) —
  // the ONLINE change detector a streaming ingest pipeline embeds
  // (stats_pettitt is the offline retrospective twin): mₜ accumulates
  // deviations from the RUNNING mean, PH = m − min m fires when the
  // recent level drifts up relative to history. The whole
  // (count, sum, m, min m, alarm) state advances in one sequential
  // fold per type; the recursion is replayed verbatim by the oracle's
  // recursive CTE. ──
  def statsPageHinkley(spark: SparkSession, dir: String): DataFrame =
    dailyZArrays(spark, dir)
      .withColumn("st", expr(
        """aggregate(s,
          |  named_struct('i', 0L, 'sm', 0.0D, 'm', 0.0D,
          |    'mn', 0.0D, 'al', 0L),
          |  (st, x) -> named_struct(
          |    'i', st.i + 1,
          |    'sm', st.sm + x.z,
          |    'm', st.m + x.z - (st.sm + x.z) / (st.i + 1) - 0.1D,
          |    'mn', least(st.mn,
          |      st.m + x.z - (st.sm + x.z) / (st.i + 1) - 0.1D),
          |    'al', st.al + IF(st.m + x.z - (st.sm + x.z) / (st.i + 1)
          |      - 0.1D - least(st.mn, st.m + x.z - (st.sm + x.z)
          |      / (st.i + 1) - 0.1D) > 5.0D, 1L, 0L)))""".stripMargin))
      .select(col("event_type"), col("n_days"),
        r6(col("st.m")).as("m_stat"),
        r6(col("st.mn")).as("m_min"),
        r6(expr("st.m - st.mn")).as("ph_stat"),
        (round(expr("st.m - st.mn"), 6) + lit(0.0d) > 5.0)
          .as("drift_flag"),
        col("st.al").as("n_alarm_days"))
      .orderBy("event_type")

  // ── restricted mean survival time per hash arm — the censoring-robust
  // A/B effect measure when proportional hazards fails (stats_logrank
  // tests the event RATE over time; THIS reports expected event-free
  // hours up to a shared horizon τ = the smaller arm's own follow-up
  // limit, so neither arm extrapolates beyond what it observed). Area
  // under each arm's KM step curve: S is snapped to a 9-dp DECIMAL the
  // moment it leaves exp(), and every interval contribution S·Δt is
  // DECIMAL × integer hours — the accumulated area is exact, so
  // summation order can't diverge between engines. Median survival =
  // first event time where the snapped S ≤ 0.5 (NULL when the curve
  // never crosses — itself a deterministic fact). Same subject frame
  // and arm coin as stats_logrank: the survival family shares ONE
  // user-level reduction however many diagnostics read it. ──
  def statsRmst(spark: SparkSession, dir: String): DataFrame = {
    val s = survSubjects(spark, dir).withColumn("g",
      expr("pmod(pmod(user_id, 2147483648) * 2654435761, 2147483648) % 2"))
    val tau = s.groupBy(col("g")).agg(max(col("t")).as("mxt"))
      .agg(min(col("mxt")).as("tau"))
    val w = Window.partitionBy(col("g")).orderBy(col("t"))
    val curve = kmSteps(s, "g")
      .filter(col("d") > 0)
      .withColumn("s9", expr(
        """CASE WHEN d = n_risk THEN CAST(0 AS DECIMAL(18,9))
          |ELSE CAST(round(exp(cast(cuml as double)), 9)
          |     AS DECIMAL(18,9)) END""".stripMargin))
      .crossJoin(broadcast(tau))
      .withColumn("tn",
        least(coalesce(lead(col("t"), 1).over(w), col("tau")), col("tau")))
    val ar = curve.groupBy(col("g"), col("tau"))
      .agg(min(col("t")).as("t1"),
        sum(expr("s9 * CAST(greatest(0L, tn - t) AS DECIMAL(10,0))"))
          .as("area_ev"),
        min(expr("CASE WHEN s9 <= 0.5 THEN t END")).as("median_t"))
    val grp = s.groupBy(col("g"))
      .agg(count(lit(1)).as("n_subj"), sum(col("observed")).as("n_events"))
    ar.join(broadcast(grp), "g")
      .select(col("g"), col("n_subj"), col("n_events"),
        col("tau").as("tau_hours"), col("median_t").as("median_t_hours"),
        r6(expr("cast(least(t1, tau) + area_ev as double)"))
          .as("rmst_hours"),
        r6(expr("cast(least(t1, tau) + area_ev as double) / tau"))
          .as("rmst_frac"))
      .orderBy("g")
  }

  // ── actuarial (weekly-interval) life table on the same conversion
  // cohort: the grouped-time presentation an ops review reads when the
  // exact KM curve has too many rows. Subjects censored inside an
  // interval count as half an exposure (the classical n′ = n − c/2
  // adjustment, carried as the EXACT integer 2n − c so no engine ever
  // divides early); q̂ = 2d / (2n − c) and the survival-to-interval-start
  // column multiplies (1 − q̂) via the repo's 9-dp-snapped Σln device,
  // collapsing to exactly 0 past any interval that exhausts its risk
  // set. One keyed aggregation to weekly bins (≈ dozens of rows at any
  // corpus size) + one tiny window pass. ──
  def statsLifeTable(spark: SparkSession, dir: String): DataFrame = {
    val byI = survSubjects(spark, dir)
      .groupBy(expr("t div 168").as("wk"))
      .agg(sum(col("observed")).as("d"),
        sum(lit(1L) - col("observed")).as("c"))
    val w = Window.orderBy(col("wk"))
    byI
      .withColumn("n_enter", sum(col("d") + col("c")).over(
        w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("n2", expr("2 * n_enter - c"))
      .withColumn("term", expr(
        """CASE WHEN 2 * d < n2
          |THEN CAST(round(ln(1.0 - cast(2 * d as double) / n2), 9)
          |          AS DECIMAL(18,9)) END""".stripMargin))
      .withColumn("cuml", sum(col("term")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("extinct", coalesce(
        max(expr("CASE WHEN 2 * d >= n2 THEN 1 ELSE 0 END")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0)))
      .select(col("wk").as("interval_wk"),
        (col("wk") * 168).as("t_lo_hours"),
        col("n_enter"), col("d").as("d_events"), col("c").as("c_censored"),
        r6(expr("cast(2 * d as double) / n2")).as("q_hat"),
        r6(expr(
          """CASE WHEN extinct = 1 THEN 0.0D
            |WHEN cuml IS NULL THEN 1.0D
            |ELSE exp(cast(cuml as double)) END""".stripMargin))
          .as("surv_start"))
      .orderBy("interval_wk")
  }

  // ── Kendall's coefficient of concordance W — stats_friedman answers
  // "is the day-to-day type ordering non-random"; W answers "HOW MUCH
  // do the days agree" on a calibrated 0..1 scale (1 = every day ranks
  // the k types identically), with the standard tie correction
  // m²(k³−k) − m·ΣT so the zero-filled grid cells can't inflate
  // agreement. Same complete day×type grid and doubled-midrank device
  // as Friedman (rank sums stay exact int64); the tie term Σ(t³−t)
  // reduces per (day, value) group. Both W and its χ² = m(k−1)·W are
  // ONE cast-first division from exact integers. ──
  def statsKendallW(spark: SparkSession, dir: String): DataFrame = {
    val ranked = friedmanGrid(spark, dir)
    val rs = ranked.groupBy(col("event_type"))
      .agg(sum(col("r2x")).as("r2"), count(lit(1)).as("m"))
    val km = rs.agg(count(lit(1)).as("k"), first(col("m")).as("m0"))
    val s2 = rs.crossJoin(broadcast(km))
      .agg(first(col("k")).as("k"), first(col("m0")).as("m"),
        sum(expr("(r2 - m0 * (k + 1)) * (r2 - m0 * (k + 1))")).as("s2c"))
    val ties = ranked.groupBy(col("day"), col("revc"))
      .agg(count(lit(1)).as("t"))
      .agg(sum(expr("t * t * t - t")).as("tt"))
    s2.crossJoin(broadcast(ties))
      .select(col("m").as("n_blocks"), col("k"), col("tt").as("ties_term"),
        r6(expr("cast(3 * s2c as double)" +
          " / (cast(m as double) * (m * (k * k * k - k) - tt))")).as("w"),
        r6(expr("cast(3 * s2c * (k - 1) as double)" +
          " / (m * (k * k * k - k) - tt)")).as("chi2"))
  }

  // ── Theil's uncertainty coefficient U on the documents lang×source
  // contingency — the DIRECTIONAL companion of stats_cramers_v /
  // stats_mutual_info: U(lang|source) = I/H(lang) reads "what fraction
  // of language uncertainty does knowing the source remove", and the
  // asymmetry between the two conditionals is itself the diagnostic (a
  // source that pins its language vs a language spread over sources).
  // One contingency aggregation (cells are corpus-reduced: |langs| ×
  // |sources| rows regardless of scale), marginals re-aggregated from
  // the CACHED cells, every ln argument a ratio of exact int64
  // products (the stats_mutual_info device), ≤ dozens of terms summed
  // then 6-dp-snapped before the three ratio divisions. ──
  def statsTheilU(spark: SparkSession, dir: String): DataFrame = {
    val j = Tables.documents(spark, dir)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("c"))
      .transform(Eager(_))
    val rT = j.groupBy(col("lang")).agg(sum(col("c")).as("r"))
    val cT = j.groupBy(col("source")).agg(sum(col("c")).as("s"))
    val n = j.agg(sum(col("c")).as("n"), count(lit(1)).as("n_cells"))
    val mi = j.join(rT, "lang").join(cT, "source").crossJoin(broadcast(n))
      .agg(r6(sum((col("c").cast("double") / col("n")) *
        log((col("c") * col("n")).cast("double") /
          (col("r") * col("s")).cast("double")))).as("mi_nats"))
    val hL = rT.crossJoin(broadcast(n.select(col("n"))))
      .agg(r6(-sum((col("r").cast("double") / col("n")) *
        log(col("r").cast("double") / col("n")))).as("h_lang"))
    val hS = cT.crossJoin(broadcast(n.select(col("n"))))
      .agg(r6(-sum((col("s").cast("double") / col("n")) *
        log(col("s").cast("double") / col("n")))).as("h_source"))
    n.crossJoin(broadcast(mi)).crossJoin(broadcast(hL))
      .crossJoin(broadcast(hS))
      .select(col("n").as("n_docs"), col("n_cells"), col("mi_nats"),
        col("h_lang"), col("h_source"),
        r6(col("mi_nats") / col("h_lang")).as("u_lang_given_source"),
        r6(col("mi_nats") / col("h_source")).as("u_source_given_lang"),
        r6(lit(2.0d) * col("mi_nats") / (col("h_lang") + col("h_source")))
          .as("u_symmetric"))
  }

  // ── Lilliefors test per event type: is the daily revenue NORMAL once
  // its own mean and sd are estimated from the data — the honest
  // version of a one-sample KS (using estimated parameters shrinks the
  // null distribution; the 0.886/√n critical value is the Lilliefors
  // 5% point, not Kolmogorov's). z comes from exact int64 cents
  // moments, Φ from the shared token-identical polynomial, the ECDF
  // rank from a per-type (value, day) total order, so D⁺/D⁻ maxima
  // compare engine-identical doubles; the verdict compares 6-dp-snapped
  // D and critical value. Group-sized series frame, parallel by type. ──
  def statsLilliefors(spark: SparkSession, dir: String): DataFrame =
    dailyZ(spark, dir)
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("event_type")).orderBy(col("revc"), col("day"))))
      .withColumn("phi", expr(phiSql("z")))
      .groupBy(col("event_type"))
      .agg(first(col("n")).as("n_days"),
        max(expr("cast(rn as double) / n - phi")).as("d_plus"),
        max(expr("phi - cast(rn - 1 as double) / n")).as("d_minus"))
      .withColumn("d6", r6(greatest(col("d_plus"), col("d_minus"))))
      .withColumn("crit6", r6(expr(
        "cast(0.886 as double) / sqrt(cast(n_days as double))")))
      .select(col("event_type"), col("n_days"),
        r6(col("d_plus")).as("d_plus"), r6(col("d_minus")).as("d_minus"),
        col("d6").as("d_stat"), col("crit6").as("crit_05"),
        (col("d6") > col("crit6")).as("normal_rejected"))
      .orderBy("event_type")

  // ── Anderson–Darling normality test per event type: the tail-weighted
  // companion of stats_lilliefors — AD integrates the squared ECDF−Φ gap
  // with weight 1/(Φ(1−Φ)), so it catches heavy/light TAILS that the
  // sup-norm D statistic (which peaks mid-distribution) misses. The
  // order-statistic form A² = −n − (1/n)Σ[(2i−1)lnΦᵢ + (2(n−i)+1)
  // ln(1−Φᵢ)] needs only each row's own rank, so it is ONE keyed
  // aggregation over the shared frame — no reverse-index self-join. Each
  // ln term is snapped to 9 dp and summed as an exact DECIMAL (double
  // addition isn't associative; the snap makes the sum order-free), Φ is
  // the shared token-identical polynomial, and the verdict compares the
  // 6-dp A*² against the 0.752 case-3 (estimated params) 5% point. ──
  def statsAndersonDarling(spark: SparkSession, dir: String): DataFrame =
    normalityFrame(spark, dir)
      .withColumn("term", expr(
        "CAST(round((2 * rn - 1) * ln(phi)" +
          " + (2 * (n - rn) + 1) * ln(1.0 - phi), 9) AS DECIMAL(28,9))"))
      .groupBy(col("event_type"))
      .agg(first(col("n")).as("n_days"), sum(col("term")).as("tsum"))
      .withColumn("a2", expr(
        "-cast(n_days as double) - cast(tsum as double) / n_days"))
      .withColumn("a2s", r6(expr(
        "a2 * (1.0 + 0.75 / n_days" +
          " + 2.25 / (cast(n_days as double) * n_days))")))
      .select(col("event_type"), col("n_days"), r6(col("a2")).as("a2"),
        col("a2s").as("a2_star"),
        expr("CAST(0.752 AS DOUBLE)").as("crit_05"),
        (col("a2s") > expr("CAST(0.752 AS DOUBLE)")).as("normal_rejected"))
      .orderBy("event_type")

  // ── Cramér–von Mises normality test per event type: the L²-norm
  // member of the EDF-test triple (Lilliefors = sup norm, AD = tail-
  // weighted L²) — W² = 1/(12n) + Σ(Φᵢ − (2i−1)/(2n))² weighs the WHOLE
  // curve equally, the middle ground a distribution-drift monitor
  // usually wants. Same shared frame and discipline: each squared gap is
  // a product of engine-identical doubles snapped to 9 dp, summed as
  // exact DECIMAL, and the verdict compares the 6-dp size-adjusted
  // W²(1 + 0.5/n) against the 0.126 estimated-params 5% point. ──
  def statsCvm(spark: SparkSession, dir: String): DataFrame =
    normalityFrame(spark, dir)
      .withColumn("term", expr(
        "CAST(round((phi - (2 * rn - 1) / (2.0 * n))" +
          " * (phi - (2 * rn - 1) / (2.0 * n)), 9) AS DECIMAL(28,9))"))
      .groupBy(col("event_type"))
      .agg(first(col("n")).as("n_days"), sum(col("term")).as("tsum"))
      .withColumn("w2", expr(
        "1.0 / (12.0 * n_days) + cast(tsum as double)"))
      .withColumn("w2s", r6(expr("w2 * (1.0 + 0.5 / n_days)")))
      .select(col("event_type"), col("n_days"), r6(col("w2")).as("w2"),
        col("w2s").as("w2_star"),
        expr("CAST(0.126 AS DOUBLE)").as("crit_05"),
        (col("w2s") > expr("CAST(0.126 AS DOUBLE)")).as("normal_rejected"))
      .orderBy("event_type")

  protected val seqKeys: Seq[Key] = Seq(
    Key("stats_lilliefors", statsLilliefors, Some(
      duckDailyTyped + duckZRanked +
      s"""pp AS (SELECT event_type, n, rn, ${phiSql("z")} AS phi FROM zz),
         |ag AS (SELECT event_type, CAST(any_value(n) AS BIGINT) AS n_days,
         |    max(CAST(rn AS DOUBLE) / n - phi) AS d_plus,
         |    max(phi - CAST(rn - 1 AS DOUBLE) / n) AS d_minus
         |  FROM pp GROUP BY 1)
         |SELECT event_type, n_days,
         |  round(d_plus, 6) + 0.0 AS d_plus,
         |  round(d_minus, 6) + 0.0 AS d_minus,
         |  round(greatest(d_plus, d_minus), 6) + 0.0 AS d_stat,
         |  round(CAST(0.886 AS DOUBLE) / sqrt(CAST(n_days AS DOUBLE)), 6)
         |    + 0.0 AS crit_05,
         |  (round(greatest(d_plus, d_minus), 6) + 0.0) >
         |    (round(CAST(0.886 AS DOUBLE) / sqrt(CAST(n_days AS DOUBLE)),
         |      6) + 0.0) AS normal_rejected
         |FROM ag ORDER BY event_type""".stripMargin)),
    Key("stats_anderson_darling", statsAndersonDarling, Some(
      duckDailyTyped + duckNormalityFrame +
      s"""tt AS (SELECT event_type, n,
         |    CAST(round((2 * rn - 1) * ln(phi)
         |      + (2 * (n - rn) + 1) * ln(1.0 - phi), 9) AS DECIMAL(28,9))
         |      AS term
         |  FROM pp),
         |ag AS (SELECT event_type, CAST(any_value(n) AS BIGINT) AS n_days,
         |    sum(term) AS tsum
         |  FROM tt GROUP BY 1),
         |f AS (SELECT event_type, n_days,
         |    -CAST(n_days AS DOUBLE) - CAST(tsum AS DOUBLE) / n_days AS a2
         |  FROM ag)
         |SELECT event_type, n_days, round(a2, 6) + 0.0 AS a2,
         |  round(a2 * (1.0 + 0.75 / n_days
         |    + 2.25 / (CAST(n_days AS DOUBLE) * n_days)), 6) + 0.0
         |    AS a2_star,
         |  CAST(0.752 AS DOUBLE) AS crit_05,
         |  (round(a2 * (1.0 + 0.75 / n_days
         |    + 2.25 / (CAST(n_days AS DOUBLE) * n_days)), 6) + 0.0)
         |    > CAST(0.752 AS DOUBLE) AS normal_rejected
         |FROM f ORDER BY event_type""".stripMargin)),
    Key("stats_cvm", statsCvm, Some(duckDailyTyped + duckNormalityFrame +
      s"""tt AS (SELECT event_type, n,
         |    CAST(round((phi - (2 * rn - 1) / (2.0 * n))
         |      * (phi - (2 * rn - 1) / (2.0 * n)), 9) AS DECIMAL(28,9))
         |      AS term
         |  FROM pp),
         |ag AS (SELECT event_type, CAST(any_value(n) AS BIGINT) AS n_days,
         |    sum(term) AS tsum
         |  FROM tt GROUP BY 1),
         |f AS (SELECT event_type, n_days,
         |    1.0 / (12.0 * n_days) + CAST(tsum AS DOUBLE) AS w2
         |  FROM ag)
         |SELECT event_type, n_days, round(w2, 6) + 0.0 AS w2,
         |  round(w2 * (1.0 + 0.5 / n_days), 6) + 0.0 AS w2_star,
         |  CAST(0.126 AS DOUBLE) AS crit_05,
         |  (round(w2 * (1.0 + 0.5 / n_days), 6) + 0.0)
         |    > CAST(0.126 AS DOUBLE) AS normal_rejected
         |FROM f ORDER BY event_type""".stripMargin)),
    Key("stats_pacf", statsPacf, Some(
      duckDayLags(3) + s"""
        |m AS (
        |  SELECT lag, count(*) AS n,
        |$duckLagSums
        |  FROM lagged GROUP BY 1),
        |rk AS (SELECT lag,
        |$duckLagR
        |  FROM m),
        |rr AS (SELECT
        |    max(CASE WHEN lag = 1 THEN r END) AS r1,
        |    max(CASE WHEN lag = 2 THEN r END) AS r2,
        |    max(CASE WHEN lag = 3 THEN r END) AS r3,
        |    (SELECT CAST(count(*) AS BIGINT) FROM daily) AS n_days
        |  FROM rk),
        |dl AS (SELECT *,
        |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi22,
        |    round(2.0 / sqrt(CAST(n_days AS DOUBLE)), 6) + 0.0 AS band
        |  FROM rr),
        |dl2 AS (SELECT *, r1 - phi22 * r1 AS phi21 FROM dl),
        |dl3 AS (SELECT *,
        |    (r3 - phi21 * r2 - phi22 * r1)
        |      / (1.0 - phi21 * r1 - phi22 * r2) AS phi33
        |  FROM dl2),
        |rows3 AS (
        |  SELECT CAST(1 AS BIGINT) AS lag, n_days, r1 AS acf, r1 AS pacf,
        |    band FROM dl3
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), n_days, r2,
        |    round(phi22, 6) + 0.0, band FROM dl3
        |  UNION ALL
        |  SELECT CAST(3 AS BIGINT), n_days, r3,
        |    round(phi33, 6) + 0.0, band FROM dl3)
        |SELECT lag, n_days, acf, pacf, band AS band_95,
        |  abs(pacf) > band AS significant
        |FROM rows3 ORDER BY lag""".stripMargin)),
    Key("stats_kendall_w", statsKendallW, Some(duckFriedmanGrid +
      """rs AS (SELECT event_type, CAST(sum(r2x) AS BIGINT) AS r2,
        |    CAST(count(*) AS BIGINT) AS m
        |  FROM rk GROUP BY 1),
        |km AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(any_value(m) AS BIGINT) AS m0 FROM rs),
        |s2 AS (SELECT CAST(any_value(k) AS BIGINT) AS k,
        |    CAST(any_value(m0) AS BIGINT) AS m,
        |    CAST(sum((r2 - m0 * (k + 1)) * (r2 - m0 * (k + 1)))
        |      AS BIGINT) AS s2c
        |  FROM rs CROSS JOIN km),
        |tt AS (SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tt FROM
        |       (SELECT CAST(count(*) AS BIGINT) AS t FROM grid
        |        GROUP BY day, revc))
        |SELECT m AS n_blocks, k, tt AS ties_term,
        |  round(CAST(3 * s2c AS DOUBLE)
        |    / (CAST(m AS DOUBLE) * (m * (k * k * k - k) - tt)), 6) + 0.0
        |    AS w,
        |  round(CAST(3 * s2c * (k - 1) AS DOUBLE)
        |    / (m * (k * k * k - k) - tt), 6) + 0.0 AS chi2
        |FROM s2 CROSS JOIN tt""".stripMargin)),
    Key("stats_theil_u", statsTheilU, Some(
      """WITH j AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2),
        |rt AS (SELECT lang, CAST(sum(c) AS BIGINT) AS r FROM j GROUP BY 1),
        |ct AS (SELECT source, CAST(sum(c) AS BIGINT) AS s
        |  FROM j GROUP BY 1),
        |nn AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_cells FROM j),
        |mi AS (SELECT round(sum((CAST(c AS DOUBLE) / n)
        |      * ln(CAST(c * n AS DOUBLE) / CAST(r * s AS DOUBLE))), 6)
        |      + 0.0 AS mi_nats
        |  FROM j JOIN rt USING (lang) JOIN ct USING (source)
        |  CROSS JOIN nn),
        |hl AS (SELECT round(-sum((CAST(r AS DOUBLE) / n)
        |      * ln(CAST(r AS DOUBLE) / n)), 6) + 0.0 AS h_lang
        |  FROM rt CROSS JOIN nn),
        |hs AS (SELECT round(-sum((CAST(s AS DOUBLE) / n)
        |      * ln(CAST(s AS DOUBLE) / n)), 6) + 0.0 AS h_source
        |  FROM ct CROSS JOIN nn)
        |SELECT n AS n_docs, n_cells, mi_nats, h_lang, h_source,
        |  round(mi_nats / h_lang, 6) + 0.0 AS u_lang_given_source,
        |  round(mi_nats / h_source, 6) + 0.0 AS u_source_given_lang,
        |  round(2 * mi_nats / (h_lang + h_source), 6) + 0.0 AS u_symmetric
        |FROM nn CROSS JOIN mi CROSS JOIN hl CROSS JOIN hs""".stripMargin)),
    Key("stats_rmst", statsRmst, Some(
      s"""$survCtes,
         |sg AS (SELECT *, ((user_id % 2147483648) * 2654435761
         |         % 2147483648) % 2 AS g FROM s),
         |tau AS (SELECT min(mxt) AS tau FROM
         |         (SELECT g, max(t) AS mxt FROM sg GROUP BY 1)),
         |byt AS (SELECT g, t, CAST(count(*) AS BIGINT) AS a,
         |    CAST(sum(observed) AS BIGINT) AS d
         |  FROM sg GROUP BY 1, 2),
         |r AS (SELECT *, sum(a) OVER (PARTITION BY g ORDER BY t
         |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         |        AS n_risk FROM byt),
         |tm AS (SELECT *, CASE WHEN d > 0 AND d < n_risk
         |    THEN CAST(round(ln(1.0 - CAST(d AS DOUBLE) / n_risk), 9)
         |         AS DECIMAL(18,9)) END AS term FROM r),
         |cm AS (SELECT *, sum(term) OVER (PARTITION BY g ORDER BY t
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |        AS cuml FROM tm),
         |cv AS (SELECT g, t, CASE WHEN d = n_risk
         |    THEN CAST(0 AS DECIMAL(18,9))
         |    ELSE CAST(round(exp(CAST(cuml AS DOUBLE)), 9)
         |         AS DECIMAL(18,9)) END AS s9
         |  FROM cm WHERE d > 0),
         |iv AS (SELECT g, t, s9, tau,
         |    least(COALESCE(lead(t) OVER (PARTITION BY g ORDER BY t),
         |      tau), tau) AS tn
         |  FROM cv CROSS JOIN tau),
         |ar AS (SELECT g, tau, min(t) AS t1,
         |    sum(s9 * CAST(greatest(0, tn - t) AS DECIMAL(10,0)))
         |      AS area_ev,
         |    min(CASE WHEN s9 <= 0.5 THEN t END) AS median_t
         |  FROM iv GROUP BY 1, 2),
         |grp AS (SELECT g, CAST(count(*) AS BIGINT) AS n_subj,
         |    CAST(sum(observed) AS BIGINT) AS n_events
         |  FROM sg GROUP BY 1)
         |SELECT ar.g, n_subj, n_events, tau AS tau_hours,
         |  median_t AS median_t_hours,
         |  round(CAST(least(t1, tau) + area_ev AS DOUBLE), 6) + 0.0
         |    AS rmst_hours,
         |  round(CAST(least(t1, tau) + area_ev AS DOUBLE) / tau, 6) + 0.0
         |    AS rmst_frac
         |FROM ar JOIN grp ON ar.g = grp.g ORDER BY ar.g""".stripMargin)),
    Key("stats_life_table", statsLifeTable, Some(
      s"""$survCtes,
         |byi AS (SELECT t // 168 AS wk,
         |    CAST(sum(observed) AS BIGINT) AS d,
         |    CAST(sum(1 - observed) AS BIGINT) AS c
         |  FROM s GROUP BY 1),
         |r AS (SELECT *, CAST(sum(d + c) OVER (ORDER BY wk
         |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         |        AS BIGINT) AS n_enter FROM byi),
         |r2 AS (SELECT *, 2 * n_enter - c AS n2 FROM r),
         |tm AS (SELECT *, CASE WHEN 2 * d < n2
         |    THEN CAST(round(ln(1.0 - CAST(2 * d AS DOUBLE) / n2), 9)
         |         AS DECIMAL(18,9)) END AS term FROM r2),
         |cm AS (SELECT *,
         |    sum(term) OVER (ORDER BY wk
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cuml,
         |    COALESCE(max(CASE WHEN 2 * d >= n2 THEN 1 ELSE 0 END)
         |      OVER (ORDER BY wk
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS extinct
         |  FROM tm)
         |SELECT wk AS interval_wk, wk * 168 AS t_lo_hours, n_enter,
         |  d AS d_events, c AS c_censored,
         |  round(CAST(2 * d AS DOUBLE) / n2, 6) + 0.0 AS q_hat,
         |  round(CASE WHEN extinct = 1 THEN 0.0
         |    WHEN cuml IS NULL THEN 1.0
         |    ELSE exp(CAST(cuml AS DOUBLE)) END, 6) + 0.0 AS surv_start
         |FROM cm ORDER BY interval_wk""".stripMargin)),
    Key("stats_cusum_chart", statsCusumChart, Some("WITH RECURSIVE " + duckDailyTyped.drop(5) +
      duckZSeries +
      """rec AS (
        |  SELECT event_type, n, rn,
        |    CASE WHEN greatest(0.0, z - 0.5) > 4.0
        |      OR least(0.0, z + 0.5) < -4.0 THEN 0.0
        |      ELSE greatest(0.0, z - 0.5) END AS cp,
        |    CASE WHEN greatest(0.0, z - 0.5) > 4.0
        |      OR least(0.0, z + 0.5) < -4.0 THEN 0.0
        |      ELSE least(0.0, z + 0.5) END AS cn,
        |    CASE WHEN greatest(0.0, z - 0.5) > 4.0
        |      OR least(0.0, z + 0.5) < -4.0 THEN 1 ELSE 0 END
        |      AS al
        |  FROM zs WHERE rn = 1
        |  UNION ALL
        |  SELECT r.event_type, r.n, p.rn,
        |    CASE WHEN greatest(0.0, r.cp + p.z - 0.5) > 4.0
        |      OR least(0.0, r.cn + p.z + 0.5) < -4.0 THEN 0.0
        |      ELSE greatest(0.0, r.cp + p.z - 0.5) END,
        |    CASE WHEN greatest(0.0, r.cp + p.z - 0.5) > 4.0
        |      OR least(0.0, r.cn + p.z + 0.5) < -4.0 THEN 0.0
        |      ELSE least(0.0, r.cn + p.z + 0.5) END,
        |    r.al + CASE WHEN greatest(0.0, r.cp + p.z - 0.5) > 4.0
        |      OR least(0.0, r.cn + p.z + 0.5) < -4.0 THEN 1 ELSE 0 END
        |  FROM rec r JOIN zs p
        |    ON p.event_type = r.event_type AND p.rn = r.rn + 1
        |  WHERE r.rn < r.n)
        |SELECT event_type, n AS n_days,
        |  round(cp, 6) + 0.0 AS cusum_pos,
        |  round(cn, 6) + 0.0 AS cusum_neg,
        |  CAST(al AS BIGINT) AS n_alarms
        |FROM rec WHERE rn = n ORDER BY event_type""".stripMargin)),
    Key("stats_page_hinkley", statsPageHinkley, Some(
      "WITH RECURSIVE " + duckDailyTyped.drop(5) +
      duckZSeries +
      """rec AS (
        |  SELECT event_type, n, rn, CAST(1 AS BIGINT) AS i,
        |    z AS sm, z - z / 1 - 0.1 AS m,
        |    least(0.0, z - z / 1 - 0.1) AS mn,
        |    CAST(CASE WHEN z - z / 1 - 0.1
        |      - least(0.0, z - z / 1 - 0.1) > 5.0
        |      THEN 1 ELSE 0 END AS BIGINT) AS al
        |  FROM zs WHERE rn = 1
        |  UNION ALL
        |  SELECT r.event_type, r.n, p.rn, r.i + 1,
        |    r.sm + p.z,
        |    r.m + p.z - (r.sm + p.z) / (r.i + 1) - 0.1,
        |    least(r.mn, r.m + p.z - (r.sm + p.z) / (r.i + 1) - 0.1),
        |    r.al + CASE WHEN r.m + p.z - (r.sm + p.z) / (r.i + 1)
        |      - 0.1 - least(r.mn, r.m + p.z - (r.sm + p.z)
        |      / (r.i + 1) - 0.1) > 5.0 THEN 1 ELSE 0 END
        |  FROM rec r JOIN zs p
        |    ON p.event_type = r.event_type AND p.rn = r.rn + 1
        |  WHERE r.rn < r.n)
        |SELECT event_type, n AS n_days,
        |  round(m, 6) + 0.0 AS m_stat, round(mn, 6) + 0.0 AS m_min,
        |  round(m - mn, 6) + 0.0 AS ph_stat,
        |  round(m - mn, 6) + 0.0 > 5.0 AS drift_flag,
        |  al AS n_alarm_days
        |FROM rec WHERE rn = n ORDER BY event_type""".stripMargin)),
    Key("stats_cpk", statsCpk, Some(duckValueMoments +
      """v AS (SELECT *, s1 / n AS m,
        |        sqrt((n * s2 - s1 * s1)
        |          / (CAST(n AS DOUBLE) * (n - 1))) AS sd
        |      FROM g),
        |c AS (SELECT *,
        |        round(least((190.0 - m) / (3 * sd),
        |          (m - 10.0) / (3 * sd)), 6) + 0.0 AS cpk6
        |      FROM v)
        |SELECT event_type, n, round(m, 6) + 0.0 AS mean,
        |  round(sd, 6) + 0.0 AS sd,
        |  round((190.0 - 10.0) / (6 * sd), 6) + 0.0 AS cp,
        |  cpk6 AS cpk, cpk6 >= 1.33 AS capable
        |FROM c ORDER BY event_type""".stripMargin)),
    Key("stats_xbar_chart", statsXbarChart, Some(
      duckDailyTypedWith("CAST(count(*) AS BIGINT) AS nd") +
      s"""g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |$duckValueSums
        |  FROM events GROUP BY 1),
        |gr AS (SELECT event_type, s1 / n AS gm,
        |    sqrt((n * s2 - s1 * s1) / (CAST(n AS DOUBLE) * (n - 1)))
        |      AS gsd
        |  FROM g),
        |z AS (SELECT d.*, gr.gm, gr.gsd,
        |    CAST(d.revc AS DOUBLE) / (100 * d.nd) AS xbar,
        |    round((CAST(d.revc AS DOUBLE) / (100 * d.nd) - gr.gm)
        |      / (gr.gsd / sqrt(CAST(d.nd AS DOUBLE))), 6) + 0.0 AS z6
        |  FROM daily d JOIN gr USING (event_type)),
        |zz AS (SELECT *, abs(z6) > 3.0 AS violation FROM z),
        |t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(CASE WHEN violation THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violations
        |  FROM zz GROUP BY 1)
        |SELECT zz.event_type, zz.day, zz.nd AS n_obs,
        |  round(zz.xbar, 6) + 0.0 AS xbar, zz.z6 AS z,
        |  zz.violation, t.n_days, t.n_violations
        |FROM zz JOIN t USING (event_type)
        |ORDER BY zz.event_type, zz.day""".stripMargin)),
    Key("stats_hurst", statsHurst, Some(duckDailyTyped +
      """dr AS (SELECT event_type, revc AS yc,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY day) AS BIGINT) AS rn
        |  FROM daily),
        |sz AS (SELECT dr.*, s.sz, (rn - 1) // s.sz AS b,
        |    (rn - 1) % s.sz + 1 AS k
        |  FROM dr, (SELECT unnest([8, 16]) AS sz) s),
        |bl AS (SELECT event_type, sz, b,
        |    CAST(count(*) AS BIGINT) AS nb,
        |    CAST(sum(yc) AS BIGINT) AS s1,
        |    sum(CAST(yc AS DECIMAL(28,0)) * yc) AS s2
        |  FROM sz GROUP BY 1, 2, 3),
        |bf AS (SELECT *, CAST(s1 AS DOUBLE) / sz AS mean,
        |    sqrt(CAST(sz * s2 - CAST(s1 AS DECIMAL(28,0)) * s1
        |      AS DOUBLE)) / sz AS sd
        |  FROM bl WHERE nb = sz),
        |wc AS (SELECT sz.event_type, sz.sz, sz.b, sz.k, sz.yc,
        |    bf.mean, bf.sd,
        |    sum(sz.yc) OVER (PARTITION BY sz.event_type, sz.sz, sz.b
        |      ORDER BY sz.k
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - sz.k * bf.mean AS dev
        |  FROM sz JOIN bf ON sz.event_type = bf.event_type
        |    AND sz.sz = bf.sz AND sz.b = bf.b),
        |rb AS (SELECT event_type, sz, b,
        |    max(dev) - min(dev) AS r, max(sd) AS sd
        |  FROM wc GROUP BY 1, 2, 3),
        |rs AS (SELECT event_type, sz,
        |    CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(sum(CAST(round(r / sd, 9) AS DECIMAL(18,9)))
        |      AS DOUBLE) / count(*) AS rs
        |  FROM rb WHERE sd > 0 GROUP BY 1, 2)
        |SELECT p16.event_type,
        |  p16.n_blocks AS blocks_8, p32.n_blocks AS blocks_16,
        |  round(p16.rs, 6) + 0.0 AS rs_8,
        |  round(p32.rs, 6) + 0.0 AS rs_16,
        |  round(ln(p32.rs / p16.rs) / ln(2.0), 6) + 0.0 AS hurst
        |FROM (SELECT * FROM rs WHERE sz = 8) p16
        |JOIN (SELECT * FROM rs WHERE sz = 16) p32
        |  USING (event_type)
        |ORDER BY event_type""".stripMargin)),
    Key("stats_sample_entropy", statsSampleEntropy, Some(duckDailyTyped +
      """dr AS (SELECT event_type, revc AS yc,
        |    CAST(row_number() OVER w AS BIGINT) AS rn,
        |    lead(revc, 1) OVER w AS y1, lead(revc, 2) OVER w AS y2
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |df AS (SELECT * FROM dr WHERE y2 IS NOT NULL),
        |tol AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    round(0.2 * sqrt(CAST(count(*) *
        |      sum(CAST(yc AS DECIMAL(28,0)) * yc)
        |      - CAST(sum(yc) AS DECIMAL(28,0)) * sum(yc) AS DOUBLE))
        |      / count(*), 6) AS r_tol
        |  FROM df GROUP BY 1),
        |pr AS (SELECT a.event_type,
        |    abs(a.yc - b.yc) <= t.r_tol AS m0,
        |    abs(a.y1 - b.y1) <= t.r_tol AS m1,
        |    abs(a.y2 - b.y2) <= t.r_tol AS m2
        |  FROM df a JOIN df b
        |    ON a.event_type = b.event_type AND b.rn > a.rn
        |  JOIN tol t ON a.event_type = t.event_type),
        |c AS (SELECT event_type,
        |    CAST(sum(CASE WHEN m0 AND m1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS b_pairs,
        |    CAST(sum(CASE WHEN m0 AND m1 AND m2 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a_pairs
        |  FROM pr GROUP BY 1)
        |SELECT c.event_type, tol.n AS n_templates,
        |  round(tol.r_tol / 100, 6) + 0.0 AS tolerance,
        |  c.b_pairs, c.a_pairs,
        |  round(CASE WHEN a_pairs > 0 AND b_pairs > 0
        |    THEN -ln(CAST(a_pairs AS DOUBLE) / b_pairs) END, 6) + 0.0
        |    AS sampen
        |FROM c JOIN tol USING (event_type)
        |ORDER BY event_type""".stripMargin)),
    Key("stats_weibull_fit", statsWeibullFit, Some(
      """WITH e AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, "value"
        |  FROM events),
        |subj AS (SELECT user_id, min(us) AS t0,
        |    min(CASE WHEN event_type = 'purchase' AND "value" >= 80
        |        THEN us END) AS tp
        |  FROM e GROUP BY 1),
        |mx AS (SELECT max(us) AS mxus FROM e),
        |s AS (SELECT CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END
        |        AS observed,
        |    (COALESCE(tp, mxus) - t0) // 3600000000 AS t
        |  FROM subj, mx),
        |byt AS (SELECT t, CAST(sum(observed) AS BIGINT) AS d,
        |    CAST(sum(1 - observed) AS BIGINT) AS c
        |  FROM s GROUP BY 1),
        |cv AS (SELECT *,
        |    sum(d + c) OVER (ORDER BY t
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        |      AS n_risk
        |  FROM byt),
        |tm AS (SELECT *,
        |    CASE WHEN d > 0 AND d < n_risk
        |      THEN CAST(round(ln(1.0 - CAST(d AS DOUBLE) / n_risk), 9)
        |           AS DECIMAL(18,9)) END AS term
        |  FROM cv),
        |cm AS (SELECT *,
        |    sum(term) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuml
        |  FROM tm),
        |pt AS (SELECT ln(CAST(t AS DOUBLE)) AS x,
        |    ln(-ln(round(exp(CAST(cuml AS DOUBLE)), 6) + 0.0)) AS y
        |  FROM cm
        |  WHERE d > 0 AND d < n_risk AND t >= 1
        |    AND round(exp(CAST(cuml AS DOUBLE)), 6) + 0.0 > 0
        |    AND round(exp(CAST(cuml AS DOUBLE)), 6) + 0.0 < 1),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_points,
        |    sum(CAST(round(x, 9) AS DECIMAL(18,9))) AS sx,
        |    sum(CAST(round(y, 9) AS DECIMAL(18,9))) AS sy,
        |    sum(CAST(round(x * y, 9) AS DECIMAL(18,9))) AS sxy,
        |    sum(CAST(round(x * x, 9) AS DECIMAL(18,9))) AS sxx
        |  FROM pt),
        |k AS (SELECT *,
        |    (n_points * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
        |      * CAST(sy AS DOUBLE)) / (n_points * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS kk
        |  FROM agg),
        |a AS (SELECT *,
        |    (CAST(sy AS DOUBLE) - kk * CAST(sx AS DOUBLE)) / n_points
        |      AS aa
        |  FROM k)
        |SELECT n_points, round(kk, 6) + 0.0 AS shape_k,
        |  round(exp(-aa / kk), 6) + 0.0 AS scale_hours,
        |  round(aa, 6) + 0.0 AS intercept
        |FROM a""".stripMargin)),
    Key("stats_negbin_fit", statsNegbinFit, Some(
      """WITH u AS (SELECT event_type, user_id,
        |    CAST(count(*) AS BIGINT) AS k
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(k) AS BIGINT) AS sk,
        |    CAST(sum(k * k) AS BIGINT) AS sk2
        |  FROM u GROUP BY 1),
        |m AS (SELECT *, CAST(sk AS DOUBLE) / n_users AS m,
        |    CAST(n_users * sk2 - CAST(sk AS DECIMAL(28,0)) * sk
        |      AS DOUBLE) / (CAST(n_users AS DOUBLE) * (n_users - 1))
        |      AS v
        |  FROM g)
        |SELECT event_type, n_users, round(m, 6) + 0.0 AS mean,
        |  round(v, 6) + 0.0 AS variance,
        |  round(v / m, 6) + 0.0 AS dispersion,
        |  round(CASE WHEN v > m THEN m * m / (v - m) END, 6) + 0.0
        |    AS r_fit,
        |  round(CASE WHEN v > m THEN m / v END, 6) + 0.0 AS p_fit
        |FROM m ORDER BY event_type""".stripMargin)),
    Key("stats_wasserstein", statsWasserstein, Some(duckKsCounts +
      """c AS (SELECT value,
        |        sum(a) OVER (ORDER BY value
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |        sum(b) OVER (ORDER BY value
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        |        lead(value) OVER (ORDER BY value) AS nextv
        |      FROM g),
        |tot AS (SELECT CAST(sum(a) AS BIGINT) AS n1,
        |          CAST(sum(b) AS BIGINT) AS n2 FROM g),
        |tm AS (SELECT n1, n2,
        |         CAST(round(abs(CAST(ca AS DOUBLE) / n1
        |           - CAST(cb AS DOUBLE) / n2) * (nextv - value), 9)
        |           AS DECIMAL(18,9)) AS term
        |       FROM c, tot WHERE nextv IS NOT NULL)
        |SELECT n1, n2,
        |  round(CAST(sum(term) AS DOUBLE), 6) + 0.0 AS w1_dist
        |FROM tm GROUP BY 1, 2""".stripMargin)),
    Key("stats_mann_kendall", statsMannKendall, Some(duckDailyTyped +
      """s AS (SELECT a.event_type,
        |        CAST(sum(CASE WHEN b.revc > a.revc THEN 1
        |                      WHEN b.revc < a.revc THEN -1
        |                      ELSE 0 END) AS BIGINT) AS s_stat
        |      FROM daily a JOIN daily b
        |        ON a.event_type = b.event_type AND b.dayno > a.dayno
        |      GROUP BY 1),
        |tg AS (SELECT event_type, revc, CAST(count(*) AS BIGINT) AS t
        |       FROM daily GROUP BY 1, 2),
        |ti AS (SELECT event_type, CAST(sum(t) AS BIGINT) AS n_days,
        |         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT)
        |           AS tie_term
        |       FROM tg GROUP BY 1),
        |v AS (SELECT s.event_type, ti.n_days, s.s_stat,
        |        CAST(ti.n_days * (ti.n_days - 1) * (2 * ti.n_days + 5)
        |             - ti.tie_term AS DOUBLE) / 18 AS var_s
        |      FROM s JOIN ti USING (event_type))
        |SELECT event_type, n_days, s_stat,
        |  round(var_s, 6) + 0.0 AS var_s,
        |  round(CAST(2 * s_stat AS DOUBLE) / (n_days * (n_days - 1)), 6)
        |    + 0.0 AS tau_a,
        |  round(CASE WHEN s_stat > 0
        |          THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
        |        WHEN s_stat < 0
        |          THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
        |        ELSE 0.0 END, 6) + 0.0 AS z
        |FROM v ORDER BY event_type""".stripMargin)),
    Key("stats_pettitt", statsPettitt, Some(duckDailyTyped +
      """v AS (SELECT a.event_type, a.dayno,
        |        CAST(sum(CASE WHEN b.revc > a.revc THEN 1
        |                      WHEN b.revc < a.revc THEN -1
        |                      ELSE 0 END) AS BIGINT) AS vt
        |      FROM daily a JOIN daily b
        |        ON a.event_type = b.event_type AND b.dayno <> a.dayno
        |      GROUP BY 1, 2),
        |u AS (SELECT event_type, dayno,
        |        sum(vt) OVER (PARTITION BY event_type ORDER BY dayno
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS ut
        |      FROM v),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        |      FROM daily GROUP BY 1),
        |rk AS (SELECT event_type, dayno, abs(ut) AS k,
        |         row_number() OVER (PARTITION BY event_type
        |           ORDER BY abs(ut) DESC, dayno) AS rn
        |       FROM u)
        |SELECT rk.event_type, n.n_days, CAST(rk.k AS BIGINT) AS k_stat,
        |  DATE '1970-01-01' + CAST(rk.dayno AS INTEGER) AS cp_day,
        |  round(least(2 * exp(CAST(-6 * rk.k * rk.k AS DOUBLE)
        |    / (CAST(n.n_days AS DOUBLE) * n.n_days * n.n_days
        |       + CAST(n.n_days AS DOUBLE) * n.n_days)), 1.0), 6) + 0.0
        |    AS p_approx
        |FROM rk JOIN n USING (event_type) WHERE rk.rn = 1
        |ORDER BY event_type""".stripMargin)),
    Key("stats_qq_normal", statsQqNormal, Some(
      s"""${OracleSql.DayCents}
         |mo AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(revc) AS BIGINT) AS s,
         |    sum(CAST(revc AS DECIMAL(28,0)) * revc) AS s2
         |  FROM daily),
         |$duckMeanSd
         |qs AS (SELECT 1 AS decile, quantile_cont(revc, 0.1) AS q FROM daily
         |  UNION ALL SELECT 2 AS decile, quantile_cont(revc, 0.2) AS q FROM daily
         |  UNION ALL SELECT 3 AS decile, quantile_cont(revc, 0.3) AS q FROM daily
         |  UNION ALL SELECT 4 AS decile, quantile_cont(revc, 0.4) AS q FROM daily
         |  UNION ALL SELECT 5 AS decile, quantile_cont(revc, 0.5) AS q FROM daily
         |  UNION ALL SELECT 6 AS decile, quantile_cont(revc, 0.6) AS q FROM daily
         |  UNION ALL SELECT 7 AS decile, quantile_cont(revc, 0.7) AS q FROM daily
         |  UNION ALL SELECT 8 AS decile, quantile_cont(revc, 0.8) AS q FROM daily
         |  UNION ALL SELECT 9 AS decile, quantile_cont(revc, 0.9) AS q FROM daily),
         |zl AS (SELECT * FROM (VALUES $duckNormalDeciles)
         |       AS t(decile, z_normal))
         |SELECT CAST(q.decile AS INTEGER) AS decile,
         |  round((q.q - mm.m) / mm.sd, 6) + 0.0 AS z_empirical,
         |  round(zl.z_normal, 6) + 0.0 AS z_normal,
         |  round((q.q - mm.m) / mm.sd - zl.z_normal, 6) + 0.0 AS gap
         |FROM qs q JOIN zl ON q.decile = zl.decile CROSS JOIN mm
         |ORDER BY decile""".stripMargin)),
    Key("stats_grubbs", statsGrubbs, Some(duckDailyTyped +
      """mo AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(revc) AS BIGINT) AS s,
        |    sum(CAST(revc AS DECIMAL(28,0)) * revc) AS s2
        |  FROM daily GROUP BY 1),
        |""".stripMargin + duckMeanSd + """
        |dv AS (SELECT d.event_type, mm.n, d.dayno,
        |    round(abs(d.revc - mm.m) / mm.sd, 6) AS dev
        |  FROM daily d JOIN mm USING (event_type)),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY dev DESC, dayno) AS rn FROM dv)
        |SELECT event_type, n AS n_days, round(dev, 6) + 0.0 AS g_stat,
        |  DATE '1970-01-01' + CAST(dayno AS INTEGER) AS outlier_day
        |FROM rk WHERE rn = 1 ORDER BY event_type""".stripMargin)),
    Key("stats_breusch_pagan", statsBreuschPagan, Some(duckDailyDayno +
      """fit AS (SELECT event_type,
        |    regr_slope(v, CAST(dayno AS DOUBLE)) AS b,
        |    regr_intercept(v, CAST(dayno AS DOUBLE)) AS a
        |  FROM dd GROUP BY 1),
        |e AS (SELECT d.event_type, d.dayno,
        |    CAST(round(d.v - (f.a + f.b * CAST(d.dayno AS DOUBLE)), 6)
        |         AS DECIMAL(24,6)) AS e
        |  FROM dd d JOIN fit f USING (event_type)),
        |m AS (SELECT event_type, dayno,
        |    CAST(round(CAST(e AS DOUBLE) * CAST(e AS DOUBLE) * 1000000,
        |               0) AS DECIMAL(18,0)) AS e2m
        |  FROM e),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(dayno AS DECIMAL(18,0))) AS sx,
        |    sum(CAST(dayno AS DECIMAL(18,0))
        |      * CAST(dayno AS DECIMAL(18,0))) AS sx2,
        |    sum(e2m) AS se,
        |    sum(CAST(e2m AS DECIMAL(28,0)) * e2m) AS se2,
        |    -- DECIMAL(28), not (18): dayno(~2e4) x e2m grows with the
        |    -- SQUARE of the corpus scale and crossed 10^18 at sf~1
        |    -- (DuckDB DECIMAL(18) x DECIMAL(18) does not widen; caught
        |    -- by the round-10 sf~1 gate)
        |    sum(CAST(dayno AS DECIMAL(28,0)) * e2m) AS sxe
        |  FROM m GROUP BY 1),
        |r AS (SELECT *,
        |    (CAST(n * sxe - sx * se AS DOUBLE)
        |      * CAST(n * sxe - sx * se AS DOUBLE))
        |    / (CAST(n * sx2 - sx * sx AS DOUBLE)
        |      * CAST(n * se2 - se * se AS DOUBLE)) AS r2
        |  FROM s)
        |SELECT event_type, n, round(n * r2, 6) + 0.0 AS lm_stat,
        |  n * r2 > 3.841459 AS heteroscedastic
        |FROM r ORDER BY event_type""".stripMargin)),
    Key("stats_nelson_aalen", statsNelsonAalen, Some(
      s"""$survCtes,
         |byt AS (SELECT t, CAST(sum(observed) AS BIGINT) AS d,
         |    CAST(sum(1 - observed) AS BIGINT) AS c
         |  FROM s GROUP BY 1),
         |r AS (SELECT *, CAST(sum(d + c) OVER (ORDER BY t
         |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         |      AS BIGINT) AS n_risk FROM byt),
         |tm AS (SELECT *, CASE WHEN d > 0
         |    THEN CAST(round(CAST(d AS DOUBLE) / n_risk, 9)
         |         AS DECIMAL(18,9))
         |    ELSE CAST(0 AS DECIMAL(18,9)) END AS h_term FROM r),
         |cm AS (SELECT *, sum(h_term) OVER (ORDER BY t
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch
         |  FROM tm)
         |SELECT t AS t_hours, n_risk, d AS d_events,
         |  round(CAST(ch AS DOUBLE), 6) + 0.0 AS cum_hazard,
         |  round(exp(-CAST(ch AS DOUBLE)), 6) + 0.0 AS s_breslow
         |FROM cm WHERE d > 0 ORDER BY t_hours""".stripMargin)),
    Key("stats_overdispersion", statsOverdispersion, Some(
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS k
        |           FROM events GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(k) AS BIGINT) AS sk,
        |    CAST(sum(k * k) AS BIGINT) AS sk2 FROM c),
        |m AS (SELECT n, CAST(sk AS DOUBLE) / n AS m,
        |    CAST(n * sk2 - sk * sk AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (n - 1)) AS s2
        |  FROM s)
        |SELECT n AS n_users, round(m, 6) + 0.0 AS mean_events,
        |  round(s2, 6) + 0.0 AS var_events,
        |  round(s2 / m, 6) + 0.0 AS dispersion,
        |  round(CASE WHEN s2 > m THEN m * m / (s2 - m) END, 6) + 0.0
        |    AS nb_r,
        |  round(CASE WHEN s2 > m THEN m / s2 END, 6) + 0.0 AS nb_p,
        |  s2 <= 1.5 * m AS near_poisson
        |FROM m""".stripMargin)),
    Key("stats_lincoln_petersen", statsLincolnPetersen, Some(
      """WITH mn AS (SELECT min(CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS d0
        |           FROM events),
        |f AS (
        |  SELECT user_id,
        |    CAST(max(CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE) - d0
        |        < 7 THEN 1 ELSE 0 END) AS BIGINT) AS in_a,
        |    CAST(max(CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE) - d0
        |        >= 7 THEN 1 ELSE 0 END) AS BIGINT) AS in_b
        |  FROM events CROSS JOIN mn
        |  WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) - d0 < 14
        |  GROUP BY user_id),
        |s AS (SELECT CAST(sum(in_a) AS BIGINT) AS n1,
        |    CAST(sum(in_b) AS BIGINT) AS n2,
        |    CAST(sum(in_a * in_b) AS BIGINT) AS m,
        |    CAST(count(*) AS BIGINT) AS n_seen
        |  FROM f)
        |SELECT n1, n2, m, n_seen,
        |  round(CASE WHEN m > 0 THEN CAST(n1 AS DOUBLE) * n2 / m END, 6)
        |    + 0.0 AS n_hat_lp,
        |  round(CAST((n1 + 1) AS DOUBLE) * (n2 + 1) / (m + 1) - 1.0, 6)
        |    + 0.0 AS n_hat_chapman,
        |  round(sqrt(CAST((n1 + 1) AS DOUBLE) * (n2 + 1) * (n1 - m)
        |    * (n2 - m) / (CAST((m + 1) AS DOUBLE) * (m + 1) * (m + 2))),
        |    6) + 0.0 AS se_chapman
        |FROM s""".stripMargin)),
    Key("anomaly_pot", anomalyPot, Some(
      """WITH top AS (SELECT o_totalprice AS x, o_orderkey FROM orders
        |             ORDER BY x DESC, o_orderkey LIMIT 51),
        |r AS (SELECT x,
        |    row_number() OVER (ORDER BY x DESC, o_orderkey) AS rn,
        |    min(x) OVER () AS u
        |  FROM top),
        |c AS (SELECT u, CAST(round((x - u) * 100, 0) AS BIGINT) AS yc
        |      FROM r WHERE rn <= 50),
        |a AS (SELECT u, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(yc) AS BIGINT) AS sy,
        |    CAST(sum(yc * yc) AS BIGINT) AS sy2
        |  FROM c GROUP BY u),
        |m AS (SELECT *, CAST(sy AS DOUBLE) / 100 / n AS m,
        |    CAST(n * sy2 - sy * sy AS DOUBLE) / (n * (n - 1)) / 10000
        |      AS s2
        |  FROM a),
        |f AS (SELECT *, m * m / s2 AS rr FROM m)
        |SELECT n AS n_exceed, u AS threshold,
        |  round(m, 6) + 0.0 AS mean_excess,
        |  round(0.5 * (1.0 - rr), 6) + 0.0 AS xi,
        |  round(0.5 * m * (rr + 1.0), 6) + 0.0 AS sigma
        |FROM f""".stripMargin)),
    Key("stats_hill_tail", statsHillTail, Some(
      """WITH top AS (SELECT o_totalprice AS x, o_orderkey FROM orders
        |             ORDER BY x DESC, o_orderkey LIMIT 101),
        |r AS (SELECT x,
        |    row_number() OVER (ORDER BY x DESC, o_orderkey) AS rn,
        |    min(x) OVER () AS thr
        |  FROM top),
        |t AS (SELECT x, thr,
        |    CAST(round(ln(x / thr), 9) AS DECIMAL(18,9)) AS term
        |  FROM r WHERE rn <= 100)
        |SELECT CAST(count(*) AS BIGINT) AS k, min(thr) AS x_threshold,
        |  round(CAST(sum(term) AS DOUBLE) / count(*), 6) + 0.0 AS hill_h,
        |  round(CAST(count(*) AS DOUBLE) / CAST(sum(term) AS DOUBLE), 6)
        |    + 0.0 AS alpha
        |FROM t""".stripMargin)),
    Key("stats_page_trend", statsPageTrend, Some(duckDailyTyped +
      """days AS (SELECT DISTINCT day FROM daily),
        |types AS (SELECT event_type,
        |    CAST(row_number() OVER (ORDER BY event_type) AS BIGINT) AS j
        |  FROM (SELECT DISTINCT event_type FROM daily)),
        |grid AS (SELECT d.day, t.event_type, t.j,
        |    COALESCE(r.revc, 0) AS revc
        |  FROM days d CROSS JOIN types t
        |  LEFT JOIN daily r ON r.day = d.day AND r.event_type = t.event_type),
        |ranked AS (SELECT j,
        |    CAST(rank() OVER (PARTITION BY day ORDER BY revc) * 2
        |      + count(*) OVER (PARTITION BY day, revc) - 1 AS BIGINT)
        |      AS r2x
        |  FROM grid),
        |pt AS (SELECT j, CAST(sum(r2x) AS BIGINT) AS r2,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM ranked GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS k,
        |    CAST(min(n) AS BIGINT) AS n_blocks,
        |    CAST(sum(j * r2) AS BIGINT) AS l2 FROM pt)
        |SELECT n_blocks, k, round(CAST(l2 AS DOUBLE) / 2, 6) + 0.0
        |    AS l_stat,
        |  round((CAST(l2 AS DOUBLE) / 2
        |      - CAST(n_blocks * k * (k + 1) * (k + 1) AS DOUBLE) / 4)
        |    / sqrt(CAST(n_blocks * k * k * (k + 1) AS DOUBLE)
        |      * (k * k - 1) / 144), 6) + 0.0 AS z
        |FROM s""".stripMargin)),
    Key("stats_kaplan_meier", statsKaplanMeier, Some(
      s"""$survCtes,
         |byt AS (SELECT t, CAST(count(*) AS BIGINT) AS a,
         |    CAST(sum(observed) AS BIGINT) AS d,
         |    CAST(sum(1 - observed) AS BIGINT) AS c
         |  FROM s GROUP BY 1),
         |r AS (SELECT *, sum(a) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
         |        AND UNBOUNDED FOLLOWING) AS n_risk FROM byt),
         |tm AS (SELECT *, CASE WHEN d > 0 AND d < n_risk
         |    THEN CAST(round(ln(1.0 - CAST(d AS DOUBLE) / n_risk), 9)
         |         AS DECIMAL(18,9)) END AS term FROM r),
         |cm AS (SELECT *, sum(term) OVER (ORDER BY t
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuml
         |  FROM tm)
         |SELECT t AS t_hours, CAST(n_risk AS BIGINT) AS n_risk,
         |  d AS d_events, c AS c_censored,
         |  round(CASE WHEN d = n_risk THEN 0.0
         |    ELSE exp(CAST(cuml AS DOUBLE)) END, 6) + 0.0 AS survival
         |FROM cm WHERE d > 0 ORDER BY t_hours""".stripMargin)),
    Key("stats_logrank", statsLogrank, Some(
      s"""$survCtes,
         |sg AS (SELECT *, ((user_id % 2147483648) * 2654435761
         |         % 2147483648) % 2 AS g FROM s),
         |byt AS (SELECT t, CAST(count(*) AS BIGINT) AS a,
         |    CAST(sum(observed) AS BIGINT) AS d,
         |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
         |    CAST(sum(CASE WHEN g = 1 THEN observed ELSE 0 END) AS BIGINT)
         |      AS d1
         |  FROM sg GROUP BY 1),
         |r AS (SELECT *,
         |    sum(a) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
         |      AND UNBOUNDED FOLLOWING) AS n,
         |    sum(a1) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW
         |      AND UNBOUNDED FOLLOWING) AS n1
         |  FROM byt),
         |tm AS (SELECT
         |    CAST(round(d1 - CAST(d AS DOUBLE) * n1 / n, 9)
         |      AS DECIMAL(18,9)) AS ome,
         |    CASE WHEN n > 1 THEN CAST(round(
         |      CAST(d AS DOUBLE) * n1 / n * (1.0 - CAST(n1 AS DOUBLE) / n)
         |        * (n - d) / (n - 1), 9) AS DECIMAL(18,9))
         |    ELSE CAST(0 AS DECIMAL(18,9)) END AS v
         |  FROM r WHERE d > 0),
         |grp AS (SELECT
         |    CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n1_subj,
         |    CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n0_subj,
         |    CAST(sum(CASE WHEN g = 1 THEN observed ELSE 0 END) AS BIGINT)
         |      AS o1,
         |    CAST(sum(CASE WHEN g = 0 THEN observed ELSE 0 END) AS BIGINT)
         |      AS o0
         |  FROM sg)
         |SELECT n1_subj, n0_subj, o1, o0,
         |  round(CAST(sum(ome) AS DOUBLE), 6) + 0.0 AS o_minus_e,
         |  round(CAST(sum(v) AS DOUBLE), 6) + 0.0 AS var_sum,
         |  round(CASE WHEN CAST(sum(v) AS DOUBLE) > 0 THEN
         |      CAST(sum(ome) AS DOUBLE) * CAST(sum(ome) AS DOUBLE)
         |      / CAST(sum(v) AS DOUBLE) END, 6) + 0.0 AS chi2
         |FROM tm CROSS JOIN grp
         |GROUP BY n1_subj, n0_subj, o1, o0""".stripMargin)),
    Key("stats_circular", statsCircular, Some(
      """WITH e AS (SELECT event_type,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hr
        |  FROM events),
        |g AS (SELECT event_type, hr, count(*) AS c FROM e GROUP BY 1, 2),
        |w AS (SELECT event_type, c,
        |    CAST(round(sin(2 * pi() * hr / CAST(24 AS DOUBLE)), 9)
        |      AS DECIMAL(12,9)) AS s9,
        |    CAST(round(cos(2 * pi() * hr / CAST(24 AS DOUBLE)), 9)
        |      AS DECIMAL(12,9)) AS c9
        |  FROM g),
        |t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
        |    sum(s9 * c) AS ss, sum(c9 * c) AS sc
        |  FROM w GROUP BY 1)
        |SELECT event_type, n,
        |  round(((atan2(CAST(ss AS DOUBLE), CAST(sc AS DOUBLE))
        |    / (2 * pi()) * 24) % 24 + 24) % 24, 6) + 0.0 AS mean_hour,
        |  round(sqrt(CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
        |    + CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)) / n, 6) + 0.0
        |    AS r_bar
        |FROM t ORDER BY event_type""".stripMargin)),
    Key("stats_influence", statsInfluence, Some(
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(sum(CAST("value" AS DECIMAL(18,2))) * 100 AS BIGINT) AS y,
        |    CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01'
        |      AS BIGINT) AS x
        |  FROM events GROUP BY 1, 3),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM daily),
        |f AS (SELECT day, x, y, n, sx, sxx,
        |    CAST(round((y - ((CAST(sy AS DOUBLE)
        |        - (CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx))
        |          * sx) / n
        |      + (CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx))
        |        * x)) * 1000000, 0) AS BIGINT) AS ei6,
        |    CAST(1 AS DOUBLE) / n
        |      + CAST((n * x - sx) * (n * x - sx) AS DOUBLE)
        |        / (CAST(n AS DOUBLE) * (n * sxx - sx * sx)) AS h
        |  FROM daily CROSS JOIN m),
        |sse AS (SELECT sum(CAST(ei6 AS DECIMAL(38,0)) * ei6) AS ssei
        |        FROM f),
        |g AS (SELECT day, x, y, n, h, ei6,
        |    (CAST(ssei AS DOUBLE) / 1000000000000) / (n - 2) AS s2,
        |    (CAST(ei6 AS DOUBLE) / 1000000)
        |      * (CAST(ei6 AS DOUBLE) / 1000000) AS e2
        |  FROM f CROSS JOIN sse)
        |SELECT day, x, y,
        |  round(CAST(ei6 AS DOUBLE) / 1000000, 6) + 0.0 AS resid,
        |  round(h, 6) + 0.0 AS leverage,
        |  round(e2 * h / (2 * s2 * (1 - h) * (1 - h)), 6) + 0.0 AS cooks_d,
        |  e2 * h / (2 * s2 * (1 - h) * (1 - h)) > CAST(4 AS DOUBLE) / n
        |    AS influential
        |FROM g ORDER BY day""".stripMargin)),
    Key("stats_ols_multi", statsOlsMulti, Some(
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    count(CASE WHEN event_type = 'click' THEN 1 END) AS x1,
        |    count(CASE WHEN event_type = 'view' THEN 1 END) AS x2,
        |    CAST(floor(sum(CAST("value" AS DECIMAL(18,2)))) AS BIGINT)
        |      AS y
        |  FROM events GROUP BY 1),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x1) AS BIGINT) AS sx1, CAST(sum(x2) AS BIGINT) AS sx2,
        |    CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x1 * x1) AS BIGINT) AS s11r,
        |    CAST(sum(x2 * x2) AS BIGINT) AS s22r,
        |    CAST(sum(x1 * x2) AS BIGINT) AS s12r,
        |    CAST(sum(x1 * y) AS BIGINT) AS s1yr,
        |    CAST(sum(x2 * y) AS BIGINT) AS s2yr,
        |    CAST(sum(y * y) AS BIGINT) AS syyr
        |  FROM daily),
        |c AS (SELECT n, sx1, sx2, sy,
        |    n * s11r - sx1 * sx1 AS c11, n * s22r - sx2 * sx2 AS c22,
        |    n * s12r - sx1 * sx2 AS c12, n * s1yr - sx1 * sy AS c1y,
        |    n * s2yr - sx2 * sy AS c2y, n * syyr - sy * sy AS cyy
        |  FROM m)
        |SELECT n,
        |  round((CAST(c1y AS DOUBLE) * c22 - CAST(c2y AS DOUBLE) * c12)
        |    / (CAST(c11 AS DOUBLE) * c22 - CAST(c12 AS DOUBLE) * c12), 6)
        |    + 0.0 AS b1,
        |  round((CAST(c2y AS DOUBLE) * c11 - CAST(c1y AS DOUBLE) * c12)
        |    / (CAST(c11 AS DOUBLE) * c22 - CAST(c12 AS DOUBLE) * c12), 6)
        |    + 0.0 AS b2,
        |  round((CAST(sy AS DOUBLE)
        |    - ((CAST(c1y AS DOUBLE) * c22 - CAST(c2y AS DOUBLE) * c12)
        |       / (CAST(c11 AS DOUBLE) * c22 - CAST(c12 AS DOUBLE) * c12))
        |      * sx1
        |    - ((CAST(c2y AS DOUBLE) * c11 - CAST(c1y AS DOUBLE) * c12)
        |       / (CAST(c11 AS DOUBLE) * c22 - CAST(c12 AS DOUBLE) * c12))
        |      * sx2) / n, 6) + 0.0 AS b0,
        |  round((((CAST(c1y AS DOUBLE) * c22 - CAST(c2y AS DOUBLE) * c12)
        |       / (CAST(c11 AS DOUBLE) * c22 - CAST(c12 AS DOUBLE) * c12))
        |      * c1y
        |    + ((CAST(c2y AS DOUBLE) * c11 - CAST(c1y AS DOUBLE) * c12)
        |       / (CAST(c11 AS DOUBLE) * c22 - CAST(c12 AS DOUBLE) * c12))
        |      * c2y) / CAST(cyy AS DOUBLE), 6) + 0.0 AS r2
        |FROM c""".stripMargin)),
    Key("stats_jarque_bera", statsJarqueBera, Some(
      s"""WITH m AS ($MomentsSql)
         |SELECT event_type, n,
         |  round(CAST(n AS DOUBLE) / 6
         |      * (skewness * skewness + kurtosis * kurtosis / 4),
         |    6) + 0.0 AS jb,
         |  CAST(n AS DOUBLE) / 6
         |      * (skewness * skewness + kurtosis * kurtosis / 4) > 5.991
         |    AS reject_normal
         |FROM m ORDER BY event_type""".stripMargin)),
    // residuals snapped to 6 dp then DECIMAL-summed — order-free; the
    // regr_* builtins agree cross-engine far inside the snap,
    Key("stats_dw", statsDw, Some(duckDailyDayno +
      """fit AS (SELECT event_type,
        |    regr_slope(v, CAST(dayno AS DOUBLE)) AS b,
        |    regr_intercept(v, CAST(dayno AS DOUBLE)) AS a,
        |    count(*) AS n
        |  FROM dd GROUP BY 1),
        |r AS (SELECT d.event_type, dayno, n,
        |    CAST(round(v - (a + b * CAST(dayno AS DOUBLE)), 6)
        |      AS DECIMAL(24,6)) AS e
        |  FROM dd d JOIN fit USING (event_type)),
        |x AS (SELECT event_type, n, e,
        |    e - lag(e) OVER (PARTITION BY event_type ORDER BY dayno) AS de
        |  FROM r)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n,
        |  round(CAST(sum(de * de) AS DOUBLE) / CAST(sum(e * e) AS DOUBLE),
        |    6) + 0.0 AS dw
        |FROM x GROUP BY 1 ORDER BY event_type""".stripMargin)),
    // integer run/sign counts; one double division + sqrt at the end,
    Key("stats_runs", statsRuns, Some(duckDailyDayno +
      """med AS (
        |  SELECT event_type, avg(v) AS med FROM (
        |    SELECT event_type, v,
        |      row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS m
        |    FROM dd) t
        |  WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
        |  GROUP BY 1),
        |f AS (SELECT d.event_type, dayno,
        |    CASE WHEN v > med THEN 1 ELSE 0 END AS s
        |  FROM dd d JOIN med USING (event_type)
        |  WHERE v <> med),
        |c AS (SELECT event_type, s,
        |    CASE WHEN lag(s) OVER w IS NULL OR lag(s) OVER w <> s
        |         THEN 1 ELSE 0 END AS chg
        |  FROM f WINDOW w AS (PARTITION BY event_type ORDER BY dayno)),
        |g AS (SELECT event_type, CAST(sum(chg) AS BIGINT) AS runs,
        |    CAST(sum(s) AS BIGINT) AS n_plus,
        |    CAST(count(*) - sum(s) AS BIGINT) AS n_minus
        |  FROM c GROUP BY 1)
        |SELECT event_type, runs, n_plus, n_minus,
        |  round((runs - (1 + CAST(2 * n_plus * n_minus AS DOUBLE)
        |      / (n_plus + n_minus)))
        |    / sqrt(CAST(2 * n_plus * n_minus
        |        * (2 * n_plus * n_minus - (n_plus + n_minus)) AS DOUBLE)
        |      / (CAST(n_plus + n_minus AS DOUBLE)
        |         * (n_plus + n_minus) * (n_plus + n_minus - 1))),
        |    6) + 0.0 AS z
        |FROM g ORDER BY event_type""".stripMargin)),
    // the naive per-group cumulative-weight scan; the banded refine
    // picks the same first-qualifying row because band cums decompose,
    Key("stats_moments", statsMoments, Some(MomentsSql)),
    // the identical Holt recursion replayed as a recursive CTE: same
    // init (l₁=y₁, b₁=y₂−y₁), same literals, same operation order — the
    // doubles stay bit-equal until the single boundary round,
    Key("stats_theilsen", statsTheilSen, Some(duckDailyY +
      """xy AS (
        |  SELECT event_type,
        |    CAST(day - DATE '1970-01-01' AS DOUBLE) AS x, y
        |  FROM d),
        |p AS (
        |  SELECT a.event_type, (b.y - a.y) / (b.x - a.x) AS slope
        |  FROM xy a JOIN xy b
        |    ON a.event_type = b.event_type AND b.x > a.x),
        |pr AS (
        |  SELECT event_type, slope,
        |    row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS m
        |  FROM p),
        |sl AS (
        |  SELECT event_type, avg(slope) AS slope FROM pr
        |  WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
        |  GROUP BY event_type),
        |res AS (
        |  SELECT xy.event_type, xy.y - sl.slope * xy.x AS icpt
        |  FROM xy JOIN sl ON xy.event_type = sl.event_type),
        |rr AS (
        |  SELECT event_type, icpt,
        |    row_number() OVER (PARTITION BY event_type ORDER BY icpt) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS m
        |  FROM res),
        |ic AS (
        |  SELECT event_type, avg(icpt) AS icpt FROM rr
        |  WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
        |  GROUP BY event_type),
        |n AS (
        |  SELECT event_type, count(*) AS n_days FROM d GROUP BY event_type)
        |SELECT n.event_type, n.n_days,
        |  round(sl.slope, 6) + 0.0 AS slope,
        |  round(ic.icpt, 6) + 0.0 AS intercept
        |FROM n JOIN sl ON n.event_type = sl.event_type
        |  JOIN ic ON n.event_type = ic.event_type
        |ORDER BY n.event_type""".stripMargin)),
    Key("stats_benford", statsBenford, Some(
      """WITH c AS (
        |  SELECT CAST(CAST(abs("value") AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS cents
        |  FROM events
        |  WHERE "value" IS NOT NULL AND abs("value") >= 0.01),
        |dg AS (
        |  SELECT CASE
        |    WHEN cents < 10 THEN cents
        |    WHEN cents < 100 THEN cents // 10
        |    WHEN cents < 1000 THEN cents // 100
        |    WHEN cents < 10000 THEN cents // 1000
        |    WHEN cents < 100000 THEN cents // 10000
        |    WHEN cents < 1000000 THEN cents // 100000
        |    WHEN cents < 10000000 THEN cents // 1000000
        |    WHEN cents < 100000000 THEN cents // 10000000
        |    WHEN cents < 1000000000 THEN cents // 100000000
        |    WHEN cents < 10000000000 THEN cents // 1000000000
        |    WHEN cents < 100000000000 THEN cents // 10000000000
        |    WHEN cents < 1000000000000 THEN cents // 100000000000
        |    WHEN cents < 10000000000000 THEN cents // 1000000000000
        |    WHEN cents < 100000000000000 THEN cents // 10000000000000
        |    ELSE cents // 100000000000000 END AS digit
        |  FROM c),
        |n AS (SELECT CAST(digit AS BIGINT) AS digit, count(*) AS n
        |      FROM dg GROUP BY 1)
        |SELECT digit, n,
        |  round(CAST(n AS DOUBLE) / sum(n) OVER (), 6) + 0.0 AS share,
        |  round(ln(1 + 1.0 / digit) / ln(10), 6) + 0.0 AS benford
        |FROM n ORDER BY digit""".stripMargin)),
    Key("stats_psi", statsPsi, Some {
      val edgeSel = (1 to 9)
        .map(i => s"round(quantile_cont(v, 0.$i), 6) AS e$i").mkString(",\n        |    ")
      val bucketSum = (1 to 9).map(i => s"CAST(v > e$i AS INT)").mkString(" + ")
      s"""WITH e AS (
        |  SELECT event_type, "value" AS v,
        |    epoch_us(CAST(ts AS TIMESTAMP)) < 1705363200000000 AS is_ref
        |  FROM events),
        |edges AS (
        |  SELECT event_type,
        |    $edgeSel
        |  FROM e WHERE is_ref GROUP BY 1),
        |bk AS (
        |  SELECT e.event_type, e.is_ref, $bucketSum AS b
        |  FROM e JOIN edges USING (event_type)),
        |counts AS (
        |  SELECT event_type, is_ref, b, count(*) AS c FROM bk GROUP BY 1, 2, 3),
        |grid AS (
        |  SELECT t.event_type, CAST(g.range AS INT) AS b
        |  FROM (SELECT DISTINCT event_type FROM counts) t, range(0, 10) g),
        |sh AS (
        |  SELECT g.event_type, g.b,
        |    COALESCE(cr.c, 0) AS cr, COALESCE(cc.c, 0) AS cc
        |  FROM grid g
        |  LEFT JOIN (SELECT * FROM counts WHERE is_ref) cr
        |    ON g.event_type = cr.event_type AND g.b = cr.b
        |  LEFT JOIN (SELECT * FROM counts WHERE NOT is_ref) cc
        |    ON g.event_type = cc.event_type AND g.b = cc.b),
        |pq AS (
        |  SELECT event_type, b,
        |    CAST(cr + 1 AS DOUBLE) /
        |      (sum(cr) OVER (PARTITION BY event_type) + 10) AS p,
        |    CAST(cc + 1 AS DOUBLE) /
        |      (sum(cc) OVER (PARTITION BY event_type) + 10) AS q
        |  FROM sh)
        |SELECT event_type, round(sum((p - q) * ln(p / q)), 6) + 0.0 AS psi
        |FROM pq GROUP BY event_type ORDER BY event_type""".stripMargin
    }),
    Key("rolling_corr", rollingCorr, Some(
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT day, x, y,
        |    count(*) OVER w AS n,
        |    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
        |    sum(x * y) OVER w AS sxy,
        |    sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT day, x, y,
        |  CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
        |       THEN round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |            sqrt(CAST((n * sxx - sx * sx) * (n * syy - sy * sy)
        |                 AS DOUBLE)), 6) + 0.0
        |  END AS r14
        |FROM m WHERE n = 14 ORDER BY day""".stripMargin)),
    Key("stats_mutual_info", statsMutualInfo, Some(
      """WITH j AS (SELECT event_type,
        |    CAST(floor("value" / 100) AS BIGINT) AS vb, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS r
        |      FROM j GROUP BY 1),
        |s AS (SELECT vb, CAST(sum(c) AS BIGINT) AS s FROM j GROUP BY 1),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS n_cells
        |      FROM j),
        |mi AS (SELECT round(sum((c / CAST(n.n AS DOUBLE)) *
        |         ln(CAST(c * n.n AS DOUBLE) /
        |            CAST(r.r * s.s AS DOUBLE))), 6) + 0.0 AS mi_nats
        |       FROM j JOIN r USING (event_type) JOIN s USING (vb)
        |       CROSS JOIN n),
        |ht AS (SELECT round(-sum((r / CAST(n.n AS DOUBLE)) *
        |         ln(r / CAST(n.n AS DOUBLE))), 6) + 0.0 AS h_type
        |       FROM r CROSS JOIN n),
        |hb AS (SELECT round(-sum((s / CAST(n.n AS DOUBLE)) *
        |         ln(s / CAST(n.n AS DOUBLE))), 6) + 0.0 AS h_bucket
        |       FROM s CROSS JOIN n)
        |SELECT n.n, n.n_cells, mi.mi_nats, ht.h_type, hb.h_bucket,
        |  round(mi.mi_nats / sqrt(ht.h_type * hb.h_bucket), 6) + 0.0
        |    AS nmi
        |FROM n CROSS JOIN mi CROSS JOIN ht CROSS JOIN hb""".stripMargin)),
    Key("stats_granger", statsGranger, Some(
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type,
        |    CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |  GROUP BY 1, 2),
        |y AS (SELECT day, v AS y FROM daily WHERE event_type = 'purchase'),
        |x AS (SELECT day, v AS x FROM daily WHERE event_type = 'click'),
        |f AS (SELECT a.day, a.y, b.y AS ylag, c.x AS xlag
        |      FROM y a JOIN y b ON b.day = a.day - 1
        |      JOIN x c ON c.day = a.day - 1),
        |m AS (SELECT count(*) AS n,
        |    round(corr(y, xlag), 6) + 0.0 AS r_yx,
        |    round(corr(y, ylag), 6) + 0.0 AS r_yy,
        |    round(corr(xlag, ylag), 6) + 0.0 AS r_xy
        |  FROM f),
        |p AS (SELECT n, r_yx, r_yy,
        |    round((r_yx - r_yy * r_xy) /
        |          sqrt((1.0 - r_yy * r_yy) * (1.0 - r_xy * r_xy)), 6)
        |      + 0.0 AS r_partial
        |  FROM m),
        |q AS (SELECT *,
        |    round(CAST(n - 3 AS DOUBLE) * r_partial * r_partial /
        |          (1.0 - r_partial * r_partial), 6) + 0.0 AS f_stat
        |  FROM p)
        |SELECT n, r_yx, r_yy, r_partial, f_stat,
        |  f_stat > 4.0 AS reject_5pct
        |FROM q""".stripMargin)),
    Key("stats_ecdf", statsEcdf, Some(
      """WITH st AS (SELECT CAST(min("value") AS DOUBLE) AS lo,
        |                   CAST(max("value") AS DOUBLE) AS hi
        |            FROM events),
        |grid AS (SELECT CAST(j AS BIGINT) AS j,
        |    lo + (hi - lo) * CAST(j AS DOUBLE) / 20 AS gx
        |  FROM st CROSS JOIN (SELECT unnest(range(0, 21)) AS j))
        |SELECT event_type, CAST(j AS INT) AS grid_id,
        |  round(gx, 6) + 0.0 AS x,
        |  round(sum(CASE WHEN "value" <= gx THEN 1 ELSE 0 END)
        |        / CAST(count(*) AS DOUBLE), 6) + 0.0 AS ecdf
        |FROM events CROSS JOIN grid
        |GROUP BY event_type, j, gx
        |ORDER BY event_type, grid_id""".stripMargin)),
    Key("stats_partial_corr", statsPartialCorr, Some(
      """WITH m AS (SELECT
        |    round(corr(l_quantity, l_extendedprice), 6) + 0.0 AS r_qp,
        |    round(corr(l_quantity, l_tax), 6) + 0.0 AS r_qt,
        |    round(corr(l_extendedprice, l_tax), 6) + 0.0 AS r_pt,
        |    round(corr(l_quantity, l_discount), 6) + 0.0 AS r_qd,
        |    round(corr(l_extendedprice, l_discount), 6) + 0.0 AS r_pd,
        |    round(corr(l_tax, l_discount), 6) + 0.0 AS r_td
        |  FROM lineitem),
        |rows_ AS (
        |  SELECT 'l_quantity' AS x, 'l_extendedprice' AS y,
        |    r_qp AS r_xy, r_qd AS r_xz, r_pd AS r_yz FROM m
        |  UNION ALL
        |  SELECT 'l_quantity', 'l_tax', r_qt, r_qd, r_td FROM m
        |  UNION ALL
        |  SELECT 'l_extendedprice', 'l_tax', r_pt, r_pd, r_td FROM m)
        |SELECT x, y, 'l_discount' AS control, r_xy,
        |  round((r_xy - r_xz * r_yz) /
        |        sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz)), 6) + 0.0
        |    AS r_partial
        |FROM rows_ ORDER BY x, y""".stripMargin)),
    Key("stats_changepoint", statsChangepoint, Some(
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    sum(CAST("value" AS DECIMAL(18,2))) AS v
        |  FROM events GROUP BY 1),
        |pre AS (SELECT day, v,
        |    row_number() OVER (ORDER BY day) AS t,
        |    sum(v) OVER (ORDER BY day
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS st
        |  FROM daily),
        |tot AS (SELECT count(*) AS n, sum(v) AS sn FROM daily)
        |SELECT day AS change_day, CAST(t AS BIGINT) AS t,
        |  n AS n_days,
        |  round(CAST(abs(st * n - sn * t) AS DOUBLE) / n, 6) + 0.0
        |    AS cusum_stat
        |FROM pre CROSS JOIN tot
        |WHERE t < n
        |ORDER BY abs(st * n - sn * t) DESC, day LIMIT 1""".stripMargin)),
    Key("stats_qq", statsQq, Some {
      val sq = (1 to 9)
        .map(i => s"round(quantile_cont(\"value\", 0.$i), 6) + 0.0 AS q$i")
        .mkString(",\n        |    ")
      val pick = (1 to 9).map(i => s"WHEN $i THEN q$i").mkString(" ")
      s"""WITH t AS (SELECT event_type,
        |    $sq
        |  FROM events GROUP BY 1),
        |g AS (SELECT
        |    $sq
        |  FROM events),
        |d AS (SELECT CAST(unnest(range(1, 10)) AS INT) AS decile),
        |ts AS (SELECT event_type, decile,
        |         CASE decile $pick END AS q_type
        |       FROM t CROSS JOIN d),
        |gs AS (SELECT decile, CASE decile $pick END AS q_global
        |       FROM g CROSS JOIN d)
        |SELECT ts.event_type, ts.decile, ts.q_type, gs.q_global,
        |  round(ts.q_type - gs.q_global, 6) + 0.0 AS shift
        |FROM ts JOIN gs USING (decile)
        |ORDER BY event_type, decile""".stripMargin
    }),
    Key("stats_jsd", statsJsd, Some(
      """WITH c AS (
        |  SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) < 1705363200000000 AS is_ref,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT
        |    CAST(sum(CASE WHEN is_ref THEN c ELSE 0 END) AS BIGINT) AS tr,
        |    CAST(sum(CASE WHEN NOT is_ref THEN c ELSE 0 END) AS BIGINT) AS tc
        |  FROM c),
        |s AS (
        |  SELECT ty.event_type,
        |    COALESCE(r.c, 0) / CAST(t.tr AS DOUBLE) AS p,
        |    COALESCE(u.c, 0) / CAST(t.tc AS DOUBLE) AS q
        |  FROM (SELECT DISTINCT event_type FROM c) ty
        |  LEFT JOIN (SELECT event_type, c FROM c WHERE is_ref) r
        |    USING (event_type)
        |  LEFT JOIN (SELECT event_type, c FROM c WHERE NOT is_ref) u
        |    USING (event_type)
        |  CROSS JOIN t)
        |SELECT event_type, round(p, 6) + 0.0 AS p, round(q, 6) + 0.0 AS q,
        |  round(CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2))
        |             ELSE 0.0 END / 2 +
        |        CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2))
        |             ELSE 0.0 END / 2, 6) + 0.0 AS jsd_term
        |FROM s ORDER BY event_type""".stripMargin)),
    Key("stats_ljung_box", statsLjungBox, Some(
      duckAcfMoments + """,
        |acf AS (
        |  SELECT lag,
        |    round((CAST(n AS DOUBLE) * sxy - sx * sy) /
        |          sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) *
        |               (CAST(n AS DOUBLE) * syy - sy * sy)), 6) + 0.0 AS acf
        |  FROM m),
        |nd AS (SELECT count(*) AS n_days FROM daily)
        |SELECT n_days, count(*) AS df,
        |  round(CAST(n_days AS DOUBLE) * CAST(n_days + 2 AS DOUBLE) *
        |        sum(acf * acf / CAST(n_days - lag AS DOUBLE)), 6) + 0.0
        |    AS q_stat,
        |  (round(CAST(n_days AS DOUBLE) * CAST(n_days + 2 AS DOUBLE) *
        |         sum(acf * acf / CAST(n_days - lag AS DOUBLE)), 6) + 0.0
        |   > 14.06714) AS reject_5pct
        |FROM acf CROSS JOIN nd GROUP BY n_days""".stripMargin)),
    Key("stats_acf", statsAcf, Some(
      duckAcfMoments + """
        |SELECT lag, n,
        |  round((CAST(n AS DOUBLE) * sxy - sx * sy) /
        |        sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) *
        |             (CAST(n AS DOUBLE) * syy - sy * sy)), 6) + 0.0 AS acf
        |FROM m ORDER BY lag""".stripMargin)),
    Key("stats_corr_matrix", statsCorrMatrix, Some {
      val pairs = for {
        i <- CorrCols.indices; j <- (i + 1) until CorrCols.length
      } yield
        s"""SELECT '${CorrCols(i)}' AS col_a, '${CorrCols(j)}' AS col_b,
           |  round(corr(${CorrCols(i)}, ${CorrCols(j)}), 6) + 0.0 AS r
           |FROM lineitem""".stripMargin
      pairs.mkString("", "\nUNION ALL\n", "\nORDER BY col_a, col_b")
    }),
    Key("regr_trend", regrTrend, Some(
      """SELECT event_type,
        |  round(regr_slope("value", x), 6) + 0.0 AS slope,
        |  round(regr_intercept("value", x), 6) + 0.0 AS intercept,
        |  round(regr_r2("value", x), 6) + 0.0 AS r2,
        |  CAST(regr_count("value", x) AS BIGINT) AS n
        |FROM (SELECT event_type, "value",
        |        CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000
        |             AS DOUBLE) AS x
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Key("resample_interp", resampleInterp, Some(
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, avg("value") AS v
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(d0, d1,
        |    INTERVAL 1 DAY))::DATE AS day
        |  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
        |        FROM daily GROUP BY 1)),
        |j AS (
        |  SELECT g.user_id, g.day, d.v FROM grid g
        |  LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day),
        |f AS (
        |  SELECT *,
        |    last_value(v IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wp AS pd,
        |    first_value(v IGNORE NULLS) OVER wn AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER wn AS nd
        |  FROM j
        |  WINDOW
        |    wp AS (PARTITION BY user_id ORDER BY day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    wn AS (PARTITION BY user_id ORDER BY day
        |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day_s,
        |  CASE WHEN v IS NOT NULL THEN round(v, 6) + 0.0
        |       ELSE round(pv + (nv - pv) *
        |         ((day - pd) / CAST(nd - pd AS DOUBLE)), 6) + 0.0
        |  END AS val,
        |  v IS NULL AS is_gap
        |FROM f ORDER BY user_id, day_s""".stripMargin)),
  )
}
