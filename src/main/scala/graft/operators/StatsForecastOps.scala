package graft.operators
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Key
import graft.sources.Tables
import graft.operators.OpsHelpers.{ev, r6}

/** Forecasting, smoothing and seasonal decomposition — one of the [[StatsOps]] family traits (split from
  * the former single-file StatsOps with zero behavior change;
  * shared helpers live in [[StatsOpsBase]]). */
private[operators] trait StatsForecastOps extends StatsOpsBase {

  // ── additive seasonal decomposition of the daily value series:
  // value = trend (centered 7-day moving average) + seasonal (per-weekday
  // mean of the detrended series) + residual. Only days with a FULL
  // ±3-day window are decomposed, so every engine sees identical frames.
  // The daily series and the detrended deviations are exact decimals
  // (trend is rounded before subtraction), making the per-weekday means
  // order-independent; each output double is rounded once. ──
  /** The decomposed daily series, memoized per corpus (round 13): the
    * |days|-row (day, v, trend, seasonal, resid) frame is read sorted by
    * the seasonal_decompose key AND re-scored by anomaly_seasonal, which
    * previously re-ran the fact aggregation + windows per invocation. */
  private def decomposedDaily(spark: SparkSession, dir: String): DataFrame =
    SharedCorpus.memo(spark, "seasonal_decompose", dir, "events") {
      val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
      val daily = ev(spark, dir).groupBy(col("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("vd"))
      val trended = daily
        .withColumn("cnt7", count(lit(1)).over(w7))
        .withColumn("trend6", r6(sum(col("vd")).over(w7).cast("double") / 7)
          .cast("decimal(24,6)"))
        .filter(col("cnt7") === 7)
        .withColumn("dow", dayofweek(col("day")))
        .withColumn("det", col("vd") - col("trend6"))
      val seasonal = trended.groupBy(col("dow"))
        .agg((round(sum(col("det")).cast("double") / count(lit(1)), 6) + lit(0.0d))
          .as("seasonal"))
      trended.join(broadcast(seasonal), "dow")
        .select(col("day"), col("vd").cast("double").as("v"),
          col("trend6").cast("double").as("trend"), col("seasonal"),
          r6(col("det").cast("double") - col("seasonal")).as("resid"))
    }

  def seasonalDecompose(spark: SparkSession, dir: String): DataFrame =
    decomposedDaily(spark, dir).orderBy("day")

  // ── STL strength-of-components per event type (Hyndman's Fₜ/Fₛ):
  // ONE number each for "how much of this series is trend" and "how
  // much is weekly seasonality" — the triage that says whether
  // forecast_holt (trend) or forecast_holt_winters (seasonal) is the
  // right model before fitting either. Same decomposition recipe as
  // seasonal_decompose (centered 7-day trend on full windows, dow-mean
  // seasonal at 6 dp) but per type, and every component stays an EXACT
  // DECIMAL (resid = det − seasonal is decimal arithmetic, never a
  // rounded double), so the three variance moment-sets sum exactly and
  // each strength is pure IEEE arithmetic at the boundary. ──
  def statsStlStrength(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val w7 = wOrd.rowsBetween(-3, 3)
    val daily = ev(spark, dir).groupBy(col("event_type"), col("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("vd"))
    val trended = daily
      .withColumn("cnt7", count(lit(1)).over(w7))
      .withColumn("trend6",
        r6(sum(col("vd")).over(w7).cast("double") / 7)
          .cast("decimal(24,6)"))
      .filter(col("cnt7") === 7)
      .withColumn("dow", dayofweek(col("day")))
      .withColumn("det", expr("CAST(vd - trend6 AS DECIMAL(18,6))"))
    val seasonal = trended.groupBy(col("event_type"), col("dow"))
      .agg((round(sum(col("det")).cast("double") / count(lit(1)), 6)
        + lit(0.0d)).cast("decimal(18,6)").as("seas"))
    // square at (18,6)×(18,6) = (37,12) — inside Spark's width-38 cap,
    // so the product keeps scale 12 exactly. (Widening an operand past
    // 19 digits would push precision over 38 and Spark silently RESCALES
    // the product to 6 dp while DuckDB keeps 12 — a 1e-6 divergence; the
    // oracle side instead widens ONE operand to int128 storage, which
    // DuckDB caps to (38,12) without the int64 runtime overflow.)
    def mom(c: String) = Seq(
      sum(col(c)).as(s"s_$c"),
      sum(expr(s"CAST($c AS DECIMAL(18,6)) * CAST($c AS DECIMAL(18,6))"))
        .as(s"q_$c"))
    val comp = trended.join(broadcast(seasonal), Seq("event_type", "dow"))
      .withColumn("resid", expr("CAST(det - seas AS DECIMAL(18,6))"))
      .withColumn("des", expr("CAST(vd - seas AS DECIMAL(18,6))"))
    def varOf(c: String) = expr(
      s"(n * cast(q_$c as double) - cast(s_$c as double)" +
        s" * cast(s_$c as double)) / (cast(n as double) * (n - 1))")
    comp.groupBy(col("event_type"))
      .agg((Seq(count(lit(1)).as("n")) ++ mom("resid") ++ mom("det") ++
        mom("des")).head,
        (Seq(count(lit(1)).as("n")) ++ mom("resid") ++ mom("det") ++
          mom("des")).tail: _*)
      .select(col("event_type"), col("n").as("n_days"),
        r6(varOf("resid")).as("var_resid"),
        r6(varOf("det")).as("var_detrended"),
        r6(varOf("des")).as("var_deseasonalized"),
        r6(greatest(lit(0.0d),
          lit(1.0d) - varOf("resid") / varOf("des")))
          .as("trend_strength"),
        r6(greatest(lit(0.0d),
          lit(1.0d) - varOf("resid") / varOf("det")))
          .as("seasonal_strength"))
      .orderBy("event_type")
  }

  def forecastHolt(spark: SparkSession, dir: String): DataFrame =
    dailyYArrays(spark, dir)
      // the init needs two observations; a 1-point series would index
      // past the array under ANSI mode AND vanish from the oracle's
      // recursion (base t=2 never equals n=1) — drop it on BOTH sides
      .filter(size(col("s")) >= 2)
      .withColumn("st", expr(
        s"""aggregate(
           |  slice(s, 3, greatest(size(s) - 2, 0)),
           |  named_struct('l', s[0].y, 'b', s[1].y - s[0].y),
           |  (st, p) -> named_struct(
           |    'l', $HoltA * p.y + (1.0D - $HoltA) * (st.l + st.b),
           |    'b', $HoltB * (($HoltA * p.y + (1.0D - $HoltA) * (st.l + st.b))
           |           - st.l) + (1.0D - $HoltB) * st.b))""".stripMargin))
      .select(col("event_type"),
        size(col("s")).cast("long").as("n_days"),
        r6(col("st.l")).as("level"),
        r6(col("st.b")).as("trend"),
        r6(col("st.l") + lit(7.0d) * col("st.b")).as("forecast_7"))
      .orderBy("event_type")

  def forecastHoltWinters(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("y"))
      .withColumn("dw",
        pmod(datediff(col("day"), lit("1970-01-01")), lit(7)) + 1)
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("y"), col("dw"))))
        .as("obs"))
      // a weekly seasonal state cannot be fit from under one season;
      // the oracle drops such keys naturally (its base row carries t=7,
      // which never equals n < 7) — match it explicitly here
      .filter(size(col("obs")) >= 7)
      .withColumn("l0",
        expr("aggregate(slice(obs, 1, 7), 0D, (a, x) -> a + x.y) / 7.0D"))
      // first-week seasonal: the FIRST first-week observation on each
      // slot (unique when days are contiguous; get() — not [0], which
      // throws under ANSI mode on an empty filter result — pins the
      // gap case to null→0D deterministically, oracle mirrors via
      // arg_min FILTER)
      .withColumn("s0", expr(
        """transform(sequence(1, 7),
          |  d -> coalesce(
          |    get(filter(slice(obs, 1, 7), p -> p.dw = d), 0).y - l0,
          |    0D))""".stripMargin))
      .withColumn("st", expr(
        s"""aggregate(
           |  slice(obs, 8, greatest(size(obs) - 7, 0)),
           |  named_struct('l', l0, 'b', 0D, 's', s0),
           |  (st, p) -> named_struct(
           |    'l', $HwA * (p.y - element_at(st.s, p.dw))
           |           + (1.0D - $HwA) * (st.l + st.b),
           |    'b', $HwB * (($HwA * (p.y - element_at(st.s, p.dw))
           |           + (1.0D - $HwA) * (st.l + st.b)) - st.l)
           |           + (1.0D - $HwB) * st.b,
           |    's', transform(st.s, (x, i) ->
           |           if(i + 1 = p.dw,
           |             $HwG * (p.y - st.l - st.b) + (1.0D - $HwG) * x,
           |             x))))""".stripMargin))
      .select(col("event_type"),
        size(col("obs")).cast("long").as("n_days"),
        r6(col("st.l")).as("level"),
        r6(col("st.b")).as("trend"),
        // 7 days out lands on the SAME weekday as the last observation
        r6(col("st.l") + lit(7.0d) * col("st.b") +
          expr("element_at(st.s, element_at(obs, size(obs)).dw)"))
          .as("forecast_7"),
        r6(expr("array_max(st.s) - array_min(st.s)")).as("amplitude"))
      .orderBy("event_type")

  // ── seasonal anomaly detection: anomaly_mad on the DESEASONALIZED
  // daily series. A Monday always looks anomalous against a plain global
  // band when weekends are quiet — the robust band must be fit on the
  // residual AFTER the trend and day-of-week effects are removed
  // ([[seasonalDecompose]]'s resid), which is exactly what an on-call
  // alert on daily revenue needs. Median and MAD use the explicit
  // middle-pair form (same anti-quantile-drift discipline as
  // stats_theilsen) over the |days|-sized residual frame; every window
  // here runs on aggregated group-sized data, never the fact table. The
  // flag compares the UNROUNDED score (both engines derive it from the
  // same 6-dp-rounded residuals, so the comparison is bit-identical);
  // the reported score is rounded once at the boundary. ──
  def anomalySeasonal(spark: SparkSession, dir: String): DataFrame = {
    // dec reads the per-corpus decompose memo (round 13) — already
    // checkpointed, so its multi-branch consumers (median, deviation,
    // final select) share materialized blocks without a per-key Eager;
    // dev keeps its own Eager (per-key derivation, multiple consumers —
    // uncached the branch tree re-evaluated it ~6×, measured 45 s at
    // sf≈1)
    val dec = decomposedDaily(spark, dir)
      .select(col("day"), col("v"), col("trend"), col("seasonal"),
        col("resid"))
    val med = explicitMedian(dec, "resid", Nil)
      .select(col("resid").as("med"))
    val dev = dec.crossJoin(broadcast(med))
      .withColumn("dev", abs(col("resid") - col("med")))
      .transform(Eager(_))
    val mad = explicitMedian(dev.select(col("dev")), "dev", Nil)
      .select(col("dev").as("mad"))
    dev.crossJoin(broadcast(mad))
      .withColumn("raw", col("dev") / expr("nullif(mad, 0.0D)"))
      .select(col("day"), col("v"),
        r6(col("trend") + col("seasonal")).as("expected"), col("resid"),
        r6(col("raw")).as("score"), (col("raw") > 3.5d).as("is_anomaly"))
      .orderBy("day")
  }

  // ── forecast-accuracy backtest: per event_type, the MAE of the
  // seasonal-naive forecast (v[day−7]) against the MAE of the plain
  // naive (v[day−1]) over every day where both calendar lags exist —
  // MASE < 1 means weekly structure beats persistence, i.e. the
  // forecast_holt_winters seasonal machinery is earning its keep.
  // Calendar joins (the stats_acf discipline), NOT row-lags, so gap
  // days drop out identically on both engines; absolute errors are
  // exact decimals and each reported ratio is ONE double division. ──
  def forecastMase(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir).groupBy(col("event_type"), col("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("v"))
    daily.join(calendarLag(daily, 1), Seq("event_type", "day"))
      .join(calendarLag(daily, 7), Seq("event_type", "day"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("v") - col("v1"))).as("sn"),
        sum(abs(col("v") - col("v7"))).as("ss"))
      .select(col("event_type"), col("n_eval"),
        r6(col("sn").cast("double") / col("n_eval")).as("mae_naive"),
        r6(col("ss").cast("double") / col("n_eval")).as("mae_snaive"),
        r6(col("ss").cast("double") / col("sn").cast("double"))
          .as("mase"))
      .orderBy("event_type")
  }

  // ── SES hyperparameter grid search — forecast_holt runs ONE fixed
  // smoothing constant; real forecasting picks α by backtest. Each α in
  // the grid folds the same group-sized daily series through the
  // s ← αy + (1−α)s recursion accumulating the one-step-ahead SSE
  // (e_t = y_t − s_{t−1}), the standard selection criterion; the
  // winner is flagged by exact (rounded-SSE, α) rank. The corpus
  // reduces to ONE daily series once, then the 4-point grid explodes
  // against it — adding grid points costs |grid| folds over an
  // in-memory array, never another corpus scan. The oracle replays
  // every fold step bit-for-bit as a recursive CTE carrying α. ──
  def forecastSesGrid(spark: SparkSession, dir: String): DataFrame = {
    val series = ev(spark, dir)
      .groupBy(col("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("y"))
      .agg(sort_array(collect_list(struct(col("day"), col("y")))).as("s"))
      .filter(size(col("s")) >= 2)
    val grid = series.select(col("s"),
      explode(expr("array(0.2D, 0.4D, 0.6D, 0.8D)")).as("alpha"))
    val folded = grid.withColumn("st", expr(
      """aggregate(
        |  slice(s, 2, size(s) - 1),
        |  named_struct('sv', s[0].y, 'sse', 0D),
        |  (st, p) -> named_struct(
        |    'sv', alpha * p.y + (1.0D - alpha) * st.sv,
        |    'sse', st.sse + (p.y - st.sv) * (p.y - st.sv)))""".stripMargin))
      // report RMSE, not raw SSE: the corpus-scale SSE grows with the
      // square of the daily magnitudes (~3.9e10 at sf≈1), and above
      // ~2^53/10^6 the 6-dp round itself diverges between engines
      // (DuckDB multiplies by 10^6 in double; Java routes through exact
      // BigDecimal — caught by the round-10 sf≈1 gate). RMSE is the
      // same selection criterion (sqrt∘÷ is monotonic), reads in the
      // series' own units, and sits at ~1e4 where 6-dp rounding is in
      // the exact regime for many scale decades. sqrt and the single
      // division are IEEE-correctly-rounded in both engines, so the
      // value stays bit-identical given the bit-identical fold SSE.
      .select(col("alpha"), size(col("s")).cast("long").as("n_days"),
        r6(col("st.sv")).as("level"),
        r6(sqrt(col("st.sse") /
          (size(col("s")) - 1).cast("double"))).as("rmse"))
    folded
      .withColumn("is_best", (row_number().over(Window.partitionBy(lit(1))
        .orderBy(col("rmse"), col("alpha"))) === 1))
      .orderBy("alpha")
  }

  // ── Croston's method for INTERMITTENT demand — Holt/Holt-Winters
  // assume a dense series; per-part order quantities are mostly-zero
  // spiky series where exponential smoothing of the raw signal decays
  // to noise between spikes. Croston smooths two things separately at
  // demand OCCURRENCES only: the nonzero demand size z and the
  // inter-arrival gap p; the per-day forecast is z/p. No dense spine
  // is ever materialized — the fold walks the occurrence list
  // (group-sized per part) carrying (z, p, prev-day) state, exactly
  // the forecast_holt scale shape, and the oracle replays the
  // recursion per part as a recursive CTE. Init pinned: z from the
  // first two demands, p from their gap. Top-50 series by occurrence
  // count via TakeOrderedAndProject. ──
  /** Memoized (part, dayno, dd) intermittent-demand table — the
    * lineitem⋈orders aggregation both Croston-family keys (croston, sba)
    * fold over; corpus state per the [[SharedCorpus]] discipline. The
    * decimal sum is the memoized column; each consumer applies its own
    * cast (bit-identical to casting inline in the aggregate). */
  private def partDayDemand(spark: SparkSession, dir: String): DataFrame =
    SharedCorpus.memo(spark, "forecast_demand", dir, "lineitem", "orders")(
      Tables.lineitem(spark, dir)
        .join(Tables.orders(spark, dir),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_partkey").as("part"),
          expr("datediff(to_date(o_orderdate), DATE'1970-01-01')")
            .cast("long").as("dayno"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("dd")))

  def forecastCroston(spark: SparkSession, dir: String): DataFrame = {
    val dem = partDayDemand(spark, dir)
      .select(col("part"), col("dayno"), col("dd").cast("double").as("d"))
    crostonFold(dem)
      .select(col("part"), size(col("s")).cast("long").as("n_points"),
        r6(col("st.z")).as("z_size"), r6(col("st.p")).as("p_interval"),
        r6(expr("st.z / st.p")).as("rate_per_day"))
      .orderBy(desc("n_points"), col("part"))
      .limit(50)
  }

  // ── random-walk-with-drift backtest per event type: one-step
  // forecasts v̂ₜ₊₁ = vₜ + (vₜ − v₁)/(t−1) with the drift estimated on
  // the EXPANDING window (no look-ahead — the honest form of the
  // M-competition drift baseline), scored against the next calendar
  // day. Rounds out the baseline ladder forecast_mase starts: naive,
  // seasonal-naive, now drift — a trended series should beat naive
  // here BEFORE anyone reaches for Holt. Daily totals are exact
  // decimals; the naive error stays exact decimal, the drift error is
  // one double expression snapped to 9 dp before its sum; rel_mae < 1
  // means the drift term earns its keep. ──
  def forecastDrift(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir).groupBy(col("event_type"), col("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("v"))
    val wo = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val f = daily
      .withColumn("t", row_number().over(wo))
      .withColumn("v1", first(col("v")).over(
        wo.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("t") >= 2)
      .select(col("event_type"), date_add(col("day"), 1).as("day"),
        expr("cast(v as double)" +
          " + (cast(v as double) - cast(v1 as double)) / (t - 1)")
          .as("f"),
        col("v").as("vprev"))
    daily.join(f, Seq("event_type", "day"))
      .select(col("event_type"),
        expr("CAST(round(abs(cast(v as double) - f), 9)" +
          " AS DECIMAL(28,9))").as("ed"),
        abs(col("v") - col("vprev")).as("en"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"), sum(col("ed")).as("sd"),
        sum(col("en")).as("sn"))
      .select(col("event_type"), col("n_eval"),
        r6(expr("cast(sd as double) / n_eval")).as("mae_drift"),
        r6(expr("cast(sn as double) / n_eval")).as("mae_naive"),
        r6(expr("cast(sd as double) / cast(sn as double)"))
          .as("rel_mae"))
      .orderBy("event_type")
  }

  // ── Syntetos–Boylan approximation + demand classification per part:
  // Croston's z/p estimator is POSITIVELY biased; the published SBA
  // correction (1 − α/2)·z/p removes it, and the
  // Syntetos–Boylan–Kostenko quadrant — mean inter-demand interval
  // vs CV² of demand sizes against the 1.32 / 0.49 fences — says which
  // estimator each series should use at all (smooth / intermittent /
  // erratic / lumpy). Shares forecast_croston's occurrence-list fold
  // verbatim (same α, same init); the classification moments are exact
  // DECIMAL sums reduced per part, fences compare 6-dp-snapped values.
  // Group-sized state; top-50 by occurrence count, never a global
  // sort. ──
  def forecastSba(spark: SparkSession, dir: String): DataFrame = {
    // the memoized demand table serves the Croston fold AND the
    // size/interval moments (and the sibling croston key)
    val demD = partDayDemand(spark, dir)
    val dem = demD.withColumn("d", col("dd").cast("double"))
    val folded = crostonFold(dem)
    val mom = demD.groupBy(col("part"))
      .agg(count(lit(1)).as("n"), sum(col("dd")).as("s1"),
        // re-narrow before squaring: a widened decimal sum squared would
        // pass width 38 (binder error in DuckDB, silent rescale in Spark)
        sum(col("dd").cast("decimal(18,2)") *
          col("dd").cast("decimal(18,2)")).as("s2"),
        min(col("dayno")).as("mn"), max(col("dayno")).as("mx"))
    folded.join(mom, "part")
      .withColumn("pbar6",
        r6(expr("cast(mx - mn as double) / (n - 1)")))
      .withColumn("cv26", r6(expr(
        "(cast(n as double) * cast(s2 as double)" +
          " - cast(s1 as double) * cast(s1 as double))" +
          " / (cast(n as double) * (n - 1))" +
          " / ((cast(s1 as double) / n) * (cast(s1 as double) / n))")))
      .select(col("part"), size(col("s")).cast("long").as("n_points"),
        r6(expr("st.z / st.p")).as("croston_rate"),
        r6(expr("0.95 * (st.z / st.p)")).as("sba_rate"),
        col("pbar6").as("mean_interval"), col("cv26").as("cv2_size"),
        when(col("pbar6") < 1.32 && col("cv26") < 0.49, "smooth")
          .when(col("pbar6") >= 1.32 && col("cv26") < 0.49, "intermittent")
          .when(col("pbar6") < 1.32, "erratic")
          .otherwise("lumpy").as("demand_class"))
      .orderBy(desc("n_points"), col("part"))
      .limit(50)
  }

  // ── Theta-method forecast (θ=2, the M3-competition configuration):
  // average of the LS trend line (θ=0) and an SES fold over the
  // double-curvature theta line zₜ = 2yₜ − (a + b·t) — the
  // deceptively-simple method that beat every entrant at M3. The OLS
  // moments are EXACT int64 (daily cents × integer t, with Σt and Σt²
  // in closed form), so a and b are engine-identical doubles; the SES
  // recursion is one codegen'd aggregate fold carrying (i, l) state
  // (the forecast_holt shape — fact table reduces to a group-sized
  // series first). F(7) = ½(a + b(n+7)) + ½·l_n. ──
  def forecastTheta(spark: SparkSession, dir: String): DataFrame =
    dailyTyped(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("revc")).as("syc"),
        sort_array(collect_list(struct(col("day"), col("revc").as("yc"))))
          .as("s"))
      .filter(col("n") >= 2)
      // Σt·yc via an indexed fold (the array is day-sorted, t = 1-based
      // position); Σt, Σt² in closed form — every moment exact int64
      .withColumn("styc", expr(
        "aggregate(s, named_struct('i', 0L, 'a', 0L)," +
          " (st, x) -> named_struct('i', st.i + 1," +
          " 'a', st.a + (st.i + 1) * x.yc)).a"))
      .withColumn("stt", expr("n * (n + 1) div 2"))
      .withColumn("st2", expr("n * (n + 1) * (2 * n + 1) div 6"))
      .withColumn("bc", expr("cast(n * styc - stt * syc as double)" +
        " / cast(n * st2 - stt * stt as double)"))
      .withColumn("ac", expr("(syc - bc * stt) / n"))
      .withColumn("lz", expr(
        s"""aggregate(
           |  slice(s, 2, greatest(size(s) - 1, 0)),
           |  named_struct('i', 1L, 'l', 2.0D * s[0].yc - (ac + bc)),
           |  (st, x) -> named_struct('i', st.i + 1,
           |    'l', $ThetaA * (2.0D * x.yc - (ac + bc * (st.i + 1)))
           |         + (1.0D - $ThetaA) * st.l)).l""".stripMargin))
      .select(col("event_type"), col("n").as("n_days"),
        r6(expr("bc / 100")).as("slope"),
        r6(expr("lz / 100")).as("ses_level"),
        r6(expr("(0.5D * (ac + bc * (n + 7)) + 0.5D * lz) / 100"))
          .as("forecast_7"))
      .orderBy("event_type")

  // ── damped-trend Holt: the forecast_holt recursion with the trend
  // damped by φ at every step AND in the forecast horizon — the fix
  // for linear-trend extrapolation marching off to infinity (Gardner &
  // McKenzie; the default "safe" trender in practice). Same one-fold
  // group-sized shape as forecast_holt; F(7) sums the geometric
  // φ+φ²+…+φ⁷ in closed form, shared verbatim with the oracle. ──
  def forecastDamped(spark: SparkSession, dir: String): DataFrame =
    dailyYArrays(spark, dir)
      .filter(size(col("s")) >= 2)
      .withColumn("st", expr(
        s"""aggregate(
           |  slice(s, 3, greatest(size(s) - 2, 0)),
           |  named_struct('l', s[0].y, 'b', s[1].y - s[0].y),
           |  (st, p) -> named_struct(
           |    'l', $DampA * p.y
           |         + (1.0D - $DampA) * (st.l + $DampP * st.b),
           |    'b', $DampB * (($DampA * p.y + (1.0D - $DampA)
           |           * (st.l + $DampP * st.b)) - st.l)
           |         + (1.0D - $DampB) * $DampP * st.b))""".stripMargin))
      .select(col("event_type"),
        size(col("s")).cast("long").as("n_days"),
        r6(col("st.l")).as("level"),
        r6(col("st.b")).as("trend"),
        r6(expr(s"st.l + st.b * ${DampSum7}D")).as("forecast_7"))
      .orderBy("event_type")

  // ── AR(2) fit by Yule–Walker on per-type daily revenue — the
  // autoregressive companion of forecast_holt's trend smoothing: φ₁/φ₂
  // capture "tomorrow echoes today AND the day before" (oscillation /
  // mean-reversion that exponential smoothing can't express). Lag
  // correlations come from stats_acf's exact-decimal lagged-pair device,
  // [[lagCorr]] (calendar-day join, DECIMAL(18,2) moments cast once to double,
  // r snapped to 6 dp), so the YW solve φ₁ = r₁(1−r₂)/(1−r₁²),
  // φ₂ = (r₂−r₁²)/(1−r₁²) runs on engine-identical inputs; the
  // one-step forecast reads the last two days via a window rank. The
  // stationarity triangle check compares 6-dp-snapped φ's, so the flag
  // can't flap between engines. ──
  def forecastAr2(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir).groupBy(col("event_type"), col("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("v"))
    val rr = lagCorr(daily, 2, "event_type").groupBy(col("event_type"))
      .agg(max(when(col("lag") === 1, col("r"))).as("r1"),
        max(when(col("lag") === 2, col("r"))).as("r2"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val last = daily
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("m",
        count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(first(col("m")).as("n_days"),
        sum(col("v")).cast("double").as("sv"),
        max(when(col("rn") === col("m"), col("v"))).cast("double")
          .as("x_last"),
        max(when(col("rn") === col("m") - 1, col("v"))).cast("double")
          .as("x_prev"))
    rr.join(last, "event_type")
      .withColumn("mu", expr("sv / n_days"))
      .withColumn("phi1", expr("r1 * (1.0 - r2) / (1.0 - r1 * r1)"))
      .withColumn("phi2", expr("(r2 - r1 * r1) / (1.0 - r1 * r1)"))
      .withColumn("phi1r", r6(col("phi1")))
      .withColumn("phi2r", r6(col("phi2")))
      .select(col("event_type"), col("n_days"), col("r1"), col("r2"),
        col("phi1r").as("phi1"), col("phi2r").as("phi2"),
        r6(col("mu")).as("mean_rev"),
        r6(expr("mu + phi1 * (x_last - mu) + phi2 * (x_prev - mu)"))
          .as("forecast_next"),
        (abs(col("phi2r")) < 1.0 &&
          (col("phi1r") + col("phi2r")) < 1.0 &&
          (col("phi2r") - col("phi1r")) < 1.0).as("stationary"))
      .orderBy("event_type")
  }

  /** Each type's daily revenue y as one (day, y) array `s` in day
    * order: the series the Holt recursions fold. */
  private def dailyYArrays(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("y"))
      .groupBy(col("event_type"))
      .agg(sort_array(collect_list(struct(col("day"), col("y")))).as("s"))

  /** The Croston recursion over each part's (dayno, d) demand days, as
    * `st` (z size, p interval, pt last day) on the parts with at least
    * three: the Spark twin of [[duckCrostonRec]]. */
  private def crostonFold(dem: DataFrame): DataFrame = {
    val a = CrostonA
    dem.groupBy(col("part"))
      .agg(sort_array(collect_list(struct(col("dayno"), col("d"))))
        .as("s"))
      .filter(size(col("s")) >= 3)
      .withColumn("st", expr(
        s"""aggregate(
           |  slice(s, 3, size(s) - 2),
           |  named_struct(
           |    'z', ${a}D * s[1].d + (1.0D - ${a}D) * s[0].d,
           |    'p', CAST(s[1].dayno - s[0].dayno AS DOUBLE),
           |    'pt', s[1].dayno),
           |  (st, pp) -> named_struct(
           |    'z', ${a}D * pp.d + (1.0D - ${a}D) * st.z,
           |    'p', ${a}D * CAST(pp.dayno - st.pt AS DOUBLE)
           |           + (1.0D - ${a}D) * st.p,
           |    'pt', pp.dayno))""".stripMargin))
  }

  /** [[duckDailyY]] opened as `WITH RECURSIVE`, then each type's day rank
    * t and day count n in `s(event_type, y, t, n)`. Comma-terminated. */
  private val duckHoltSeries: String =
    "WITH RECURSIVE " + duckDailyY.drop(5) +
    """s AS (
      |  SELECT event_type, y,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM d),
      |""".stripMargin

  /** Oracle CTEs of the Croston recursion over `s(part, dayno, d, t, n)`:
    * the parts with at least three demand days `el` and `rec(part, n, t,
    * z, p, pt)`, the state after day t — the twin of [[crostonFold]].
    * Comma-terminated. */
  private val duckCrostonRec: String =
    s"""el AS (SELECT * FROM s WHERE n >= 3),
       |rec AS (
       |  SELECT part, n, 2 AS t,
       |    CAST('$CrostonA' AS DOUBLE) * max(CASE WHEN t = 2 THEN d END)
       |      + (1.0 - CAST('$CrostonA' AS DOUBLE))
       |        * max(CASE WHEN t = 1 THEN d END) AS z,
       |    CAST(max(CASE WHEN t = 2 THEN dayno END)
       |      - max(CASE WHEN t = 1 THEN dayno END) AS DOUBLE) AS p,
       |    max(CASE WHEN t = 2 THEN dayno END) AS pt
       |  FROM el GROUP BY part, n
       |  UNION ALL
       |  SELECT r.part, r.n, r.t + 1,
       |    CAST('$CrostonA' AS DOUBLE) * pp.d
       |      + (1.0 - CAST('$CrostonA' AS DOUBLE)) * r.z,
       |    CAST('$CrostonA' AS DOUBLE) * CAST(pp.dayno - r.pt AS DOUBLE)
       |      + (1.0 - CAST('$CrostonA' AS DOUBLE)) * r.p,
       |    pp.dayno
       |  FROM rec r JOIN el pp
       |    ON pp.part = r.part AND pp.t = r.t + 1
       |  WHERE r.t < r.n),""".stripMargin

  /** The daily decomposition CTEs mirroring [[decomposedDaily]]: daily
    * DECIMAL revenue `daily(day, vd)`, the centered 7-day trend `t` on
    * full windows, the detrended `f(.., dow, det)` and the day-of-week
    * seasonal `s(dow, seasonal)`. Ends at `FROM f GROUP BY 1)`. */
  private val duckSeasonalSplit: String =
    """WITH daily AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    sum(CAST("value" AS DECIMAL(18,2))) AS vd
      |  FROM events GROUP BY 1),
      |t AS (SELECT *, count(*) OVER w7 AS cnt7,
      |        CAST(round(CAST(sum(vd) OVER w7 AS DOUBLE) / 7, 6) + 0.0
      |             AS DECIMAL(24,6)) AS trend6
      |      FROM daily
      |      WINDOW w7 AS (ORDER BY day
      |        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |f AS (SELECT *, dayofweek(day) AS dow, vd - trend6 AS det
      |      FROM t WHERE cnt7 = 7),
      |s AS (SELECT dow,
      |        round(CAST(sum(det) AS DOUBLE) / count(*), 6) + 0.0
      |          AS seasonal
      |      FROM f GROUP BY 1)""".stripMargin

  protected val forecastKeys: Seq[Key] = Seq(
    Key("forecast_ar2", forecastAr2, Some(duckDailyV +
      s"""lg AS (
        |  SELECT a.event_type, l.lag, a.v, b.v AS pv
        |  FROM dv a
        |  CROSS JOIN (SELECT unnest(range(1, 3)) AS lag) l
        |  JOIN dv b ON b.event_type = a.event_type
        |    AND b.day = a.day - CAST(l.lag AS INTEGER)),
        |m AS (
        |  SELECT event_type, lag, count(*) AS n,
        |$duckLagSums
        |  FROM lg GROUP BY 1, 2),
        |rk AS (SELECT event_type, lag,
        |$duckLagR
        |  FROM m),
        |rr AS (SELECT event_type,
        |    max(CASE WHEN lag = 1 THEN r END) AS r1,
        |    max(CASE WHEN lag = 2 THEN r END) AS r2
        |  FROM rk GROUP BY 1),
        |lx AS (SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS m
        |  FROM dv),
        |lastv AS (SELECT event_type, CAST(any_value(m) AS BIGINT)
        |      AS n_days,
        |    CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sv,
        |    CAST(max(CASE WHEN rn = m THEN v END) AS DOUBLE) AS x_last,
        |    CAST(max(CASE WHEN rn = m - 1 THEN v END) AS DOUBLE)
        |      AS x_prev
        |  FROM lx GROUP BY 1),
        |f AS (SELECT rr.event_type, n_days, r1, r2,
        |    sv / n_days AS mu,
        |    r1 * (1.0 - r2) / (1.0 - r1 * r1) AS phi1,
        |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi2,
        |    x_last, x_prev
        |  FROM rr JOIN lastv ON rr.event_type = lastv.event_type)
        |SELECT event_type, n_days, r1, r2,
        |  round(phi1, 6) + 0.0 AS phi1, round(phi2, 6) + 0.0 AS phi2,
        |  round(mu, 6) + 0.0 AS mean_rev,
        |  round(mu + phi1 * (x_last - mu) + phi2 * (x_prev - mu), 6)
        |    + 0.0 AS forecast_next,
        |  (abs(round(phi2, 6) + 0.0) < 1.0
        |   AND (round(phi1, 6) + 0.0) + (round(phi2, 6) + 0.0) < 1.0
        |   AND (round(phi2, 6) + 0.0) - (round(phi1, 6) + 0.0) < 1.0)
        |    AS stationary
        |FROM f ORDER BY event_type""".stripMargin)),
    Key("forecast_theta", forecastTheta, Some(
      "WITH RECURSIVE " + duckDailyTyped.drop(5) +
      """s AS (
        |  SELECT event_type, revc AS yc,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY day) AS BIGINT) AS t,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM daily),
        |m AS (
        |  SELECT event_type, n, CAST(sum(yc) AS BIGINT) AS syc,
        |    CAST(sum(t * yc) AS BIGINT) AS styc,
        |    n * (n + 1) // 2 AS stt,
        |    n * (n + 1) * (2 * n + 1) // 6 AS st2
        |  FROM s WHERE n >= 2 GROUP BY 1, 2),
        |coef AS (
        |  SELECT event_type, n,
        |    CAST(n * styc - stt * syc AS DOUBLE)
        |      / CAST(n * st2 - stt * stt AS DOUBLE) AS bc, syc, stt
        |  FROM m),
        |c2 AS (SELECT *, (syc - bc * stt) / n AS ac FROM coef),
        |rec AS (
        |  SELECT s.event_type, s.n, CAST(1 AS BIGINT) AS t,
        |    2.0 * s.yc - (c2.ac + c2.bc) AS l, c2.ac, c2.bc
        |  FROM s JOIN c2 USING (event_type) WHERE s.t = 1
        |  UNION ALL
        |  SELECT r.event_type, r.n, r.t + 1,
        |    0.3 * (2.0 * p.yc - (r.ac + r.bc * (r.t + 1)))
        |      + (1.0 - 0.3) * r.l, r.ac, r.bc
        |  FROM rec r JOIN s p
        |    ON p.event_type = r.event_type AND p.t = r.t + 1
        |  WHERE r.t < r.n)
        |SELECT event_type, n AS n_days,
        |  round(bc / 100, 6) + 0.0 AS slope,
        |  round(l / 100, 6) + 0.0 AS ses_level,
        |  round((0.5 * (ac + bc * (n + 7)) + 0.5 * l) / 100, 6) + 0.0
        |    AS forecast_7
        |FROM rec WHERE t = n ORDER BY event_type""".stripMargin)),
    Key("forecast_damped", forecastDamped, Some(
      duckHoltSeries +
      s"""rec AS (
        |  SELECT event_type, n, 2 AS t,
        |    max(CASE WHEN t = 1 THEN y END) AS l,
        |    max(CASE WHEN t = 2 THEN y END) -
        |      max(CASE WHEN t = 1 THEN y END) AS b
        |  FROM s GROUP BY event_type, n
        |  UNION ALL
        |  SELECT r.event_type, r.n, r.t + 1,
        |    0.5 * p.y + (1.0 - 0.5) * (r.l + 0.9 * r.b),
        |    0.3 * ((0.5 * p.y + (1.0 - 0.5) * (r.l + 0.9 * r.b)) - r.l)
        |      + (1.0 - 0.3) * 0.9 * r.b
        |  FROM rec r JOIN s p
        |    ON p.event_type = r.event_type AND p.t = r.t + 1
        |  WHERE r.t < r.n)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  round(l, 6) + 0.0 AS level, round(b, 6) + 0.0 AS trend,
        |  round(l + b * CAST('$DampSum7' AS DOUBLE), 6)
        |    + 0.0 AS forecast_7
        |FROM rec WHERE t = n ORDER BY event_type""".stripMargin)),
    Key("forecast_croston", forecastCroston, Some(
      s"""WITH RECURSIVE dem AS (
         |  SELECT l_partkey AS part,
         |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
         |         AS BIGINT) AS dayno,
         |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS d
         |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2),
         |s AS (SELECT part, dayno, d,
         |    row_number() OVER (PARTITION BY part ORDER BY dayno) AS t,
         |    count(*) OVER (PARTITION BY part) AS n
         |  FROM dem),
         |$duckCrostonRec
         |fin AS (SELECT part, CAST(n AS BIGINT) AS n_points,
         |    round(z, 6) + 0.0 AS z_size, round(p, 6) + 0.0 AS p_interval,
         |    round(z / p, 6) + 0.0 AS rate_per_day
         |  FROM rec WHERE t = n)
         |SELECT part, n_points, z_size, p_interval, rate_per_day
         |FROM fin ORDER BY n_points DESC, part LIMIT 50""".stripMargin)),
    Key("forecast_sba", forecastSba, Some(
      s"""WITH RECURSIVE dem AS (
         |  SELECT l_partkey AS part,
         |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
         |         AS BIGINT) AS dayno,
         |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS dd
         |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
         |  GROUP BY 1, 2),
         |s AS (SELECT part, dayno, CAST(dd AS DOUBLE) AS d,
         |    row_number() OVER (PARTITION BY part ORDER BY dayno) AS t,
         |    count(*) OVER (PARTITION BY part) AS n
         |  FROM dem),
         |$duckCrostonRec
         |mom AS (SELECT part, CAST(count(*) AS BIGINT) AS n,
         |    sum(dd) AS s1,
         |    sum(CAST(dd AS DECIMAL(18,2)) * CAST(dd AS DECIMAL(18,2)))
         |      AS s2,
         |    min(dayno) AS mn, max(dayno) AS mx
         |  FROM dem GROUP BY 1),
         |fin AS (SELECT r.part, CAST(r.n AS BIGINT) AS n_points,
         |    round(z / p, 6) + 0.0 AS croston_rate,
         |    round(0.95 * (z / p), 6) + 0.0 AS sba_rate,
         |    round(CAST(mx - mn AS DOUBLE) / (m.n - 1), 6) + 0.0
         |      AS mean_interval,
         |    round((CAST(m.n AS DOUBLE) * CAST(s2 AS DOUBLE)
         |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
         |      / (CAST(m.n AS DOUBLE) * (m.n - 1))
         |      / ((CAST(s1 AS DOUBLE) / m.n)
         |         * (CAST(s1 AS DOUBLE) / m.n)), 6) + 0.0 AS cv2_size
         |  FROM rec r JOIN mom m ON m.part = r.part
         |  WHERE r.t = r.n)
         |SELECT part, n_points, croston_rate, sba_rate, mean_interval,
         |  cv2_size,
         |  CASE WHEN mean_interval < 1.32 AND cv2_size < 0.49
         |         THEN 'smooth'
         |       WHEN mean_interval >= 1.32 AND cv2_size < 0.49
         |         THEN 'intermittent'
         |       WHEN mean_interval < 1.32 THEN 'erratic'
         |       ELSE 'lumpy' END AS demand_class
         |FROM fin ORDER BY n_points DESC, part LIMIT 50""".stripMargin)),
    Key("forecast_drift", forecastDrift, Some(duckDailyV +
      """p AS (SELECT *, row_number() OVER wo AS t,
        |    first_value(v) OVER wo2 AS v1
        |  FROM dv
        |  WINDOW wo AS (PARTITION BY event_type ORDER BY day),
        |    wo2 AS (PARTITION BY event_type ORDER BY day
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |f AS (SELECT event_type, day + 1 AS day,
        |    CAST(v AS DOUBLE)
        |      + (CAST(v AS DOUBLE) - CAST(v1 AS DOUBLE)) / (t - 1) AS f,
        |    v AS vprev
        |  FROM p WHERE t >= 2),
        |j AS (SELECT d.event_type,
        |    CAST(round(abs(CAST(d.v AS DOUBLE) - f.f), 9)
        |         AS DECIMAL(28,9)) AS ed,
        |    abs(d.v - f.vprev) AS en
        |  FROM dv d JOIN f
        |    ON f.event_type = d.event_type AND f.day = d.day),
        |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
        |    sum(ed) AS sd, sum(en) AS sn
        |  FROM j GROUP BY 1)
        |SELECT event_type, n_eval,
        |  round(CAST(sd AS DOUBLE) / n_eval, 6) + 0.0 AS mae_drift,
        |  round(CAST(sn AS DOUBLE) / n_eval, 6) + 0.0 AS mae_naive,
        |  round(CAST(sd AS DOUBLE) / CAST(sn AS DOUBLE), 6) + 0.0
        |    AS rel_mae
        |FROM g ORDER BY event_type""".stripMargin)),
    Key("forecast_ses_grid", forecastSesGrid, Some(
      """WITH RECURSIVE d AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS y
        |  FROM events GROUP BY 1),
        |s AS (SELECT y, row_number() OVER (ORDER BY day) AS t,
        |    count(*) OVER () AS n
        |  FROM d),
        |al AS (SELECT CAST(a AS DOUBLE) AS alpha
        |       FROM (VALUES (0.2), (0.4), (0.6), (0.8)) AS v(a)),
        |rec AS (
        |  SELECT alpha, n, 1 AS t,
        |    (SELECT y FROM s WHERE s.t = 1) AS sv,
        |    CAST(0 AS DOUBLE) AS sse
        |  FROM al CROSS JOIN (SELECT DISTINCT n FROM s) q
        |  UNION ALL
        |  SELECT r.alpha, r.n, r.t + 1,
        |    r.alpha * p.y + (1.0 - r.alpha) * r.sv,
        |    r.sse + (p.y - r.sv) * (p.y - r.sv)
        |  FROM rec r JOIN s p ON p.t = r.t + 1
        |  WHERE r.t < r.n),
        |fin AS (
        |  SELECT alpha, CAST(n AS BIGINT) AS n_days,
        |    round(sv, 6) + 0.0 AS level,
        |    round(sqrt(sse / CAST(n - 1 AS DOUBLE)), 6) + 0.0 AS rmse
        |  FROM rec WHERE t = n AND n >= 2),
        |rk AS (SELECT *, row_number() OVER (ORDER BY rmse, alpha) AS rn
        |       FROM fin)
        |SELECT alpha, n_days, level, rmse, rn = 1 AS is_best
        |FROM rk ORDER BY alpha""".stripMargin)),
    Key("forecast_holt", forecastHolt, Some(
      duckHoltSeries +
      """rec AS (
        |  -- base = the state AFTER the first two observations (they are
        |  -- consumed by the init), so the recursion's first update is y3
        |  SELECT event_type, n, 2 AS t,
        |    max(CASE WHEN t = 1 THEN y END) AS l,
        |    max(CASE WHEN t = 2 THEN y END) -
        |      max(CASE WHEN t = 1 THEN y END) AS b
        |  FROM s GROUP BY event_type, n
        |  UNION ALL
        |  SELECT r.event_type, r.n, r.t + 1,
        |    0.5 * p.y + (1.0 - 0.5) * (r.l + r.b),
        |    0.3 * ((0.5 * p.y + (1.0 - 0.5) * (r.l + r.b)) - r.l)
        |      + (1.0 - 0.3) * r.b
        |  FROM rec r JOIN s p
        |    ON p.event_type = r.event_type AND p.t = r.t + 1
        |  WHERE r.t < r.n)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  round(l, 6) + 0.0 AS level, round(b, 6) + 0.0 AS trend,
        |  round(l + 7.0 * b, 6) + 0.0 AS forecast_7
        |FROM rec WHERE t = n ORDER BY event_type""".stripMargin)),
    // the triple-smoothing recursion replayed with the 7 seasonal slots
    // carried as columns; slot = epoch-day mod 7 (engine-neutral), init
    // left-associates the first-week mean exactly like the Spark fold,
    // arg_min pins the first-week slot value to the FIRST observation,
    Key("forecast_holt_winters", forecastHoltWinters, Some(
      "WITH RECURSIVE " + duckDailyY.drop(5) +
      """s AS (
        |  SELECT event_type, y,
        |    CAST(day - DATE '1970-01-01' AS INT) % 7 + 1 AS dw,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS t,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM d),
        |base AS (
        |  SELECT event_type, n,
        |    (max(CASE WHEN t = 1 THEN y END) + max(CASE WHEN t = 2 THEN y END)
        |     + max(CASE WHEN t = 3 THEN y END) + max(CASE WHEN t = 4 THEN y END)
        |     + max(CASE WHEN t = 5 THEN y END) + max(CASE WHEN t = 6 THEN y END)
        |     + max(CASE WHEN t = 7 THEN y END)) / 7.0 AS l0,
        |    arg_min(y, t) FILTER (WHERE t <= 7 AND dw = 1) AS w1,
        |    arg_min(y, t) FILTER (WHERE t <= 7 AND dw = 2) AS w2,
        |    arg_min(y, t) FILTER (WHERE t <= 7 AND dw = 3) AS w3,
        |    arg_min(y, t) FILTER (WHERE t <= 7 AND dw = 4) AS w4,
        |    arg_min(y, t) FILTER (WHERE t <= 7 AND dw = 5) AS w5,
        |    arg_min(y, t) FILTER (WHERE t <= 7 AND dw = 6) AS w6,
        |    arg_min(y, t) FILTER (WHERE t <= 7 AND dw = 7) AS w7
        |  FROM s GROUP BY event_type, n),
        |rec AS (
        |  SELECT event_type, n, 7 AS t, l0 AS l, CAST(0.0 AS DOUBLE) AS b,
        |    coalesce(w1 - l0, 0.0) AS s1, coalesce(w2 - l0, 0.0) AS s2,
        |    coalesce(w3 - l0, 0.0) AS s3, coalesce(w4 - l0, 0.0) AS s4,
        |    coalesce(w5 - l0, 0.0) AS s5, coalesce(w6 - l0, 0.0) AS s6,
        |    coalesce(w7 - l0, 0.0) AS s7
        |  FROM base
        |  UNION ALL
        |  SELECT r.event_type, r.n, r.t + 1,
        |    0.3 * (p.y - CASE p.dw WHEN 1 THEN r.s1 WHEN 2 THEN r.s2
        |        WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5
        |        WHEN 6 THEN r.s6 ELSE r.s7 END)
        |      + (1.0 - 0.3) * (r.l + r.b),
        |    0.1 * ((0.3 * (p.y - CASE p.dw WHEN 1 THEN r.s1 WHEN 2 THEN r.s2
        |        WHEN 3 THEN r.s3 WHEN 4 THEN r.s4 WHEN 5 THEN r.s5
        |        WHEN 6 THEN r.s6 ELSE r.s7 END)
        |      + (1.0 - 0.3) * (r.l + r.b)) - r.l) + (1.0 - 0.1) * r.b,
        |    CASE WHEN p.dw = 1
        |      THEN 0.2 * (p.y - r.l - r.b) + (1.0 - 0.2) * r.s1
        |      ELSE r.s1 END,
        |    CASE WHEN p.dw = 2
        |      THEN 0.2 * (p.y - r.l - r.b) + (1.0 - 0.2) * r.s2
        |      ELSE r.s2 END,
        |    CASE WHEN p.dw = 3
        |      THEN 0.2 * (p.y - r.l - r.b) + (1.0 - 0.2) * r.s3
        |      ELSE r.s3 END,
        |    CASE WHEN p.dw = 4
        |      THEN 0.2 * (p.y - r.l - r.b) + (1.0 - 0.2) * r.s4
        |      ELSE r.s4 END,
        |    CASE WHEN p.dw = 5
        |      THEN 0.2 * (p.y - r.l - r.b) + (1.0 - 0.2) * r.s5
        |      ELSE r.s5 END,
        |    CASE WHEN p.dw = 6
        |      THEN 0.2 * (p.y - r.l - r.b) + (1.0 - 0.2) * r.s6
        |      ELSE r.s6 END,
        |    CASE WHEN p.dw = 7
        |      THEN 0.2 * (p.y - r.l - r.b) + (1.0 - 0.2) * r.s7
        |      ELSE r.s7 END
        |  FROM rec r JOIN s p
        |    ON p.event_type = r.event_type AND p.t = r.t + 1
        |  WHERE r.t < r.n),
        |last AS (SELECT event_type, dw AS dwl FROM s WHERE t = n)
        |SELECT r.event_type, CAST(r.n AS BIGINT) AS n_days,
        |  round(r.l, 6) + 0.0 AS level, round(r.b, 6) + 0.0 AS trend,
        |  round(r.l + 7.0 * r.b + CASE l2.dwl WHEN 1 THEN r.s1
        |      WHEN 2 THEN r.s2 WHEN 3 THEN r.s3 WHEN 4 THEN r.s4
        |      WHEN 5 THEN r.s5 WHEN 6 THEN r.s6 ELSE r.s7 END, 6) + 0.0
        |    AS forecast_7,
        |  round(greatest(r.s1, r.s2, r.s3, r.s4, r.s5, r.s6, r.s7)
        |      - least(r.s1, r.s2, r.s3, r.s4, r.s5, r.s6, r.s7), 6) + 0.0
        |    AS amplitude
        |FROM rec r JOIN last l2 ON r.event_type = l2.event_type
        |WHERE r.t = r.n ORDER BY r.event_type""".stripMargin)),
    // explicit middle-pair median on both sides — no engine quantile
    // implementation in the loop; the intercept pass reuses the
    // UNROUNDED slope exactly as the Spark plan does,
    Key("forecast_mase", forecastMase, Some(duckDailyV +
      """j AS (SELECT a.event_type, a.v, b.v AS v1, c.v AS v7
        |      FROM dv a
        |      JOIN dv b ON a.event_type = b.event_type
        |        AND b.day = a.day - 1
        |      JOIN dv c ON a.event_type = c.event_type
        |        AND c.day = a.day - 7)
        |SELECT event_type, count(*) AS n_eval,
        |  round(CAST(sum(abs(v - v1)) AS DOUBLE) / count(*), 6) + 0.0
        |    AS mae_naive,
        |  round(CAST(sum(abs(v - v7)) AS DOUBLE) / count(*), 6) + 0.0
        |    AS mae_snaive,
        |  round(CAST(sum(abs(v - v7)) AS DOUBLE) /
        |        CAST(sum(abs(v - v1)) AS DOUBLE), 6) + 0.0 AS mase
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),
    Key("anomaly_seasonal", anomalySeasonal, Some(
      duckSeasonalSplit + """,
        |r0 AS (
        |  SELECT day, CAST(vd AS DOUBLE) AS v,
        |    CAST(trend6 AS DOUBLE) AS trend, seasonal,
        |    round(CAST(det AS DOUBLE) - seasonal, 6) + 0.0 AS resid
        |  FROM f JOIN s USING (dow)),
        |mr AS (SELECT resid, row_number() OVER (ORDER BY resid) AS rn,
        |         count(*) OVER () AS m FROM r0),
        |med AS (SELECT avg(resid) AS med FROM mr
        |        WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2),
        |dv AS (SELECT abs(resid - med) AS dev FROM r0, med),
        |dr AS (SELECT dev, row_number() OVER (ORDER BY dev) AS rn,
        |         count(*) OVER () AS m FROM dv),
        |mad AS (SELECT avg(dev) AS mad FROM dr
        |        WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2)
        |SELECT day, v, round(trend + seasonal, 6) + 0.0 AS expected, resid,
        |  round(abs(resid - med) / nullif(mad, 0), 6) + 0.0 AS score,
        |  abs(resid - med) / nullif(mad, 0) > 3.5 AS is_anomaly
        |FROM r0, med, mad ORDER BY day""".stripMargin)),
    Key("stats_stl_strength", statsStlStrength, Some(duckDailyV +
      """t AS (SELECT *, count(*) OVER w7 AS cnt7,
        |        CAST(round(CAST(sum(v) OVER w7 AS DOUBLE) / 7, 6) + 0.0
        |             AS DECIMAL(24,6)) AS trend6
        |      FROM dv
        |      WINDOW w7 AS (PARTITION BY event_type ORDER BY day
        |        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |f AS (SELECT *, dayofweek(day) AS dow,
        |        CAST(v - trend6 AS DECIMAL(18,6)) AS det
        |      FROM t WHERE cnt7 = 7),
        |s AS (SELECT event_type, dow,
        |        CAST(round(CAST(sum(det) AS DOUBLE) / count(*), 6) + 0.0
        |             AS DECIMAL(18,6)) AS seas
        |      FROM f GROUP BY 1, 2),
        |c AS (SELECT f.event_type,
        |        CAST(f.det - s.seas AS DECIMAL(18,6)) AS resid,
        |        f.det AS det,
        |        CAST(f.v - s.seas AS DECIMAL(18,6)) AS des
        |      FROM f JOIN s
        |        ON s.event_type = f.event_type AND s.dow = f.dow),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    sum(resid) AS s_resid,
        |    CAST(CAST(sum(CAST(resid AS DECIMAL(24,6)) * resid)
        |      AS VARCHAR) AS DOUBLE) AS q_resid,
        |    sum(det) AS s_det,
        |    CAST(CAST(sum(CAST(det AS DECIMAL(24,6)) * det)
        |      AS VARCHAR) AS DOUBLE) AS q_det,
        |    sum(des) AS s_des,
        |    CAST(CAST(sum(CAST(des AS DECIMAL(24,6)) * des)
        |      AS VARCHAR) AS DOUBLE) AS q_des
        |  FROM c GROUP BY 1)
        |-- q_* go DECIMAL(38,12)→VARCHAR→DOUBLE: DuckDB's direct
        |-- decimal→double cast rounds twice (int128→double, then
        |-- ÷10^12) and is off by an ulp once the unscaled value
        |-- passes 2^53 (gate-measured at sf0.1: q_des of the signup
        |-- group); the string path is correctly rounded, matching
        |-- Spark/Java's BigDecimal.doubleValue exactly.
        |SELECT event_type, n AS n_days,
        |  round((n * CAST(q_resid AS DOUBLE)
        |    - CAST(s_resid AS DOUBLE) * CAST(s_resid AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * (n - 1)), 6) + 0.0 AS var_resid,
        |  round((n * CAST(q_det AS DOUBLE)
        |    - CAST(s_det AS DOUBLE) * CAST(s_det AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * (n - 1)), 6) + 0.0 AS var_detrended,
        |  round((n * CAST(q_des AS DOUBLE)
        |    - CAST(s_des AS DOUBLE) * CAST(s_des AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * (n - 1)), 6) + 0.0
        |    AS var_deseasonalized,
        |  round(greatest(CAST(0.0 AS DOUBLE), 1.0
        |    - ((n * CAST(q_resid AS DOUBLE)
        |        - CAST(s_resid AS DOUBLE) * CAST(s_resid AS DOUBLE))
        |       / (CAST(n AS DOUBLE) * (n - 1)))
        |      / ((n * CAST(q_des AS DOUBLE)
        |        - CAST(s_des AS DOUBLE) * CAST(s_des AS DOUBLE))
        |       / (CAST(n AS DOUBLE) * (n - 1)))), 6) + 0.0
        |    AS trend_strength,
        |  round(greatest(CAST(0.0 AS DOUBLE), 1.0
        |    - ((n * CAST(q_resid AS DOUBLE)
        |        - CAST(s_resid AS DOUBLE) * CAST(s_resid AS DOUBLE))
        |       / (CAST(n AS DOUBLE) * (n - 1)))
        |      / ((n * CAST(q_det AS DOUBLE)
        |        - CAST(s_det AS DOUBLE) * CAST(s_det AS DOUBLE))
        |       / (CAST(n AS DOUBLE) * (n - 1)))), 6) + 0.0
        |    AS seasonal_strength
        |FROM m ORDER BY event_type""".stripMargin)),
    Key("seasonal_decompose", seasonalDecompose, Some(
      duckSeasonalSplit + """
        |SELECT day, CAST(vd AS DOUBLE) AS v, CAST(trend6 AS DOUBLE) AS trend,
        |  seasonal, round(CAST(det AS DOUBLE) - seasonal, 6) + 0.0 AS resid
        |FROM f JOIN s USING (dow) ORDER BY day""".stripMargin)),
  )
}
