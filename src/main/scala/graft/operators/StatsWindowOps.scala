package graft.operators
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Key
import graft.sources.Tables
import graft.operators.OpsHelpers.{ev, r6}

/** Windowed technical-analysis operators over the integer daily bars — one of the [[StatsOps]] family traits (split from
  * the former single-file StatsOps with zero behavior change;
  * shared helpers live in [[StatsOpsBase]]). */
private[operators] trait StatsWindowOps extends StatsOpsBase {

  // ── exponentially-weighted moving average per user (decay 0.9,
  // normalized weights — pandas `ewm(alpha=0.1, adjust=True)`): the
  // smoothing primitive behind every "trend line" card. One shuffle onto
  // user_id, then a 50-row frame collected in event-time order and
  // reduced by codegen'd higher-order functions — no self-join, no
  // per-row UDF. The truncated closed form makes the recurrence
  // expressible as a frame aggregate (windowed sums can't carry
  // position-dependent weights), which is what lets it run as ONE
  // window pass at any scale. ──
  def windowEwma(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(-EwmaLags, 0)
    ev(spark, dir)
      .select(col("event_id"), col("user_id"), col("us"), col("value"))
      .withColumn("hist", collect_list(col("value")).over(w))
      .withColumn("ewma", expr(
        s"round(${sparkEma("hist", EwmaDecay)}, 6) + 0.0D"))
      .select(col("event_id"), col("user_id"), col("ewma"))
      .orderBy("user_id", "event_id")
  }

  // ── gaps-and-islands: consecutive-day activity streaks per user via
  // the classic day−row_number island key — pure integer arithmetic
  // (bit-exact in any engine), one shuffle on user_id, per-user state
  // bounded by distinct active days. ──
  def windowStreaks(spark: SparkSession, dir: String): DataFrame = {
    val byDay = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val islands = ev(spark, dir)
      .select(col("user_id"), col("day")).distinct()
      .withColumn("grp",
        expr("datediff(day, DATE'1970-01-01')") - row_number().over(byDay))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
    islands.groupBy(col("user_id"))
      .agg(max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"),
        sum(col("len")).as("active_days"))
      .orderBy("user_id")
  }

  // ── rolling z-score anomaly: each value against its own trailing
  // 20-event window's mean/σ (the self-adapting threshold — unlike
  // anomaly_mad's global per-type stats, this tracks drift). Entity-
  // partitioned frame; only rows with a FULL window are emitted, so
  // every engine computes the identical frame. σ rounded before the
  // comparison so both engines take the same branch at the 3σ line. ──
  def windowRollingZscore(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id")).rowsBetween(-19, 0)
    ev(spark, dir)
      .select(col("event_id"), col("user_id"), col("us"), col("value"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))))
      .withColumn("m", avg(col("value")).over(w))
      .withColumn("s", stddev_samp(col("value")).over(w))
      .filter(col("rn") >= 20 && col("s") > 0)
      .withColumn("z", r6((col("value") - col("m")) / col("s")))
      // the 3σ branch tests the ROUNDED z, so both engines agree at the line
      .select(col("event_id"), col("user_id"), col("z"),
        (abs(col("z")) > 3).as("is_out"))
      .orderBy("user_id", "event_id")
  }

  // ── CUSUM drift detection per user: the one-sided cumulative-sum
  // statistic S_t = max(0, S_{t-1} + (x_t − μ − k)) — which looks like an
  // un-windowable recurrence but has the exact closed form
  // S_t = P_t − min_{j≤t} P_j over the prefix sums P of the slack-adjusted
  // deviations. That identity is what makes CUSUM a TWO-WINDOW-PASS
  // operator (running sum + running min) instead of a sequential scan —
  // the whole point at scale. μ and σ come from decimal moment sums and
  // are ROUNDED before use; the deviations are then exact decimals, so
  // the running sum/min are integer-exact in both engines regardless of
  // how each engine associates its window aggregation. k = σ/2 (the
  // standard half-sigma slack), alarm at S > 5σ. ──
  def windowCusum(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    val tl = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val base = ev(spark, dir)
      .select(col("event_id"), col("user_id"), col("us"),
        col("value").cast("decimal(18,2)").as("v"))
      .withColumn("n", count(lit(1)).over(byUser))
      .withColumn("sx", sum(col("v")).over(byUser))
      .withColumn("sxx", sum(col("v") * col("v")).over(byUser))
      .filter(col("n") >= 2)
      .withColumn("mu6", r6(col("sx").cast("double") / col("n"))
        .cast("decimal(24,6)"))
      .withColumn("sd6", r6(sqrt(
        (col("n").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) /
          (col("n").cast("double") * (col("n").cast("double") - 1))))
        .cast("decimal(24,6)"))
      .filter(col("sd6") > 0)
      // slack k = σ/2, exact at scale 7; dev is a pure decimal
      .withColumn("dev",
        col("v") - col("mu6") - col("sd6") * lit(BigDecimal("0.5")))
    base
      .withColumn("p", sum(col("dev")).over(tl))
      .withColumn("m", min(col("p")).over(tl))
      .withColumn("s", r6((col("p") - col("m")).cast("double") /
        col("sd6").cast("double")))
      .select(col("event_id"), col("user_id"), col("s"),
        (col("s") > 5).as("alarm"))
      .orderBy("user_id", "event_id")
  }

  // ── floor-trader pivot points per event type: yesterday's bar sets
  // today's pivot grid (P = (H+L+C)/3, R1/S1 = 2P∓L/H, R2/S2 = P±range)
  // — the reference-level ladder intraday dashboards draw before the
  // session opens, on the same integer OHLC-ish bars as window_atr.
  // Everything is integer cents until the /3-grid maps; the position
  // flag compares the close against the 6-dp pivot. ──
  def windowPivotPoints(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    ohlcBars(spark, dir)
      .withColumn("ph", lag(col("h"), 1).over(wOrd))
      .withColumn("pl", lag(col("l"), 1).over(wOrd))
      .withColumn("pc", lag(col("c"), 1).over(wOrd))
      .filter(col("ph").isNotNull)
      .withColumn("p", expr("cast(ph + pl + pc as double) / 3"))
      .withColumn("p6", r6(expr("p / 100")))
      .select(col("event_type"), col("day"),
        r6(expr("cast(c as double) / 100")).as("close"),
        col("p6").as("pivot"),
        r6(expr("(2 * p - pl) / 100")).as("r1"),
        r6(expr("(2 * p - ph) / 100")).as("s1"),
        r6(expr("(p + (ph - pl)) / 100")).as("r2"),
        r6(expr("(p - (ph - pl)) / 100")).as("s2"),
        (expr("cast(c as double) / 100") > col("p6")).as("above_pivot"))
      .orderBy("event_type", "day")
  }

  // ── running drawdown of daily order revenue: each day's distance below
  // the all-time peak, the time-under-water series every
  // capacity/forecast dashboard tracks. Daily revenue and the running
  // peak are exact decimals (max is order-free), so the only double is
  // the final ratio — rounded once. The window runs over the |days| grid. ──
  def windowDrawdown(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("v"))
    val run = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    daily
      .withColumn("peak", max(col("v")).over(run))
      .select(col("day"), col("v").cast("double").as("revenue"),
        col("peak").cast("double").as("peak"),
        r6((col("peak") - col("v")).cast("double") /
          col("peak").cast("double")).as("drawdown"))
      .orderBy("day")
  }

  // ── Bollinger bands on the per-type daily series: 7-day trailing
  // mean ± 2σ, breakout = today's total outside the ROUNDED bands (both
  // engines branch on identical 6-dp values — the windowRollingZscore
  // discipline). Entity-partitioned frame (event_type) so the window
  // never single-partitions at scale; only full 7-day windows emit. ──
  def windowBollinger(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir).groupBy(col("event_type"), col("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val w7 = wOrd.rowsBetween(-6, 0)
    daily
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("m", avg(col("v")).over(w7))
      .withColumn("s", stddev_samp(col("v")).over(w7))
      .filter(col("rn") >= 7 && col("s") > 0)
      .select(col("event_type"), col("day"), col("v"),
        r6(col("m")).as("ma7"), r6(col("s")).as("sd7"),
        r6(col("m") + lit(2) * col("s")).as("upper"),
        r6(col("m") - lit(2) * col("s")).as("lower"))
      .withColumn("is_break",
        col("v") > col("upper") || col("v") < col("lower"))
      .orderBy("event_type", "day")
  }

  // ── RSI-14 (Cutler's simple-average form — window-pure, unlike
  // Wilder's recursive smoothing) on the per-type daily series:
  // rsi = 100·Σgains / (Σgains + Σlosses) over the trailing 14 deltas.
  // Day-over-day deltas are exact DECIMAL(·,2) differences and the
  // window sums stay decimal, so the single double division at the end
  // is the only float op — order-independent by construction. Deltas
  // are filtered non-null BEFORE the frame is applied so both engines
  // window over identical row sets; only full 14-delta windows with
  // movement emit. ──
  def windowRsi(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir).groupBy(col("event_type"), col("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("v"))
    val wo = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val w14 = wo.rowsBetween(-13, 0)
    daily
      .withColumn("delta", col("v") - lag(col("v"), 1).over(wo))
      .filter(col("delta").isNotNull)
      .withColumn("rn", row_number().over(wo))
      // CASE, not greatest(): DuckDB's greatest() promotes DECIMAL
      // arguments to DOUBLE (measured), which would turn the window sum
      // into an order-dependent float sum — CASE keeps decimal on both
      // engines, and the typed zero keeps Spark's branch coercion
      // decimal too
      .withColumn("sg", sum(when(col("delta") > 0, col("delta"))
        .otherwise(expr("CAST(0 AS DECIMAL(18,2))"))).over(w14))
      .withColumn("sl", sum(when(col("delta") < 0, -col("delta"))
        .otherwise(expr("CAST(0 AS DECIMAL(18,2))"))).over(w14))
      .filter(col("rn") >= 14 && (col("sg") + col("sl")) > 0)
      .select(col("event_type"), col("day"),
        col("sg").cast("double").as("sum_gain"),
        col("sl").cast("double").as("sum_loss"),
        r6(lit(100) * col("sg").cast("double") /
          (col("sg") + col("sl")).cast("double")).as("rsi14"))
      .orderBy("event_type", "day")
  }

  // ── growth-rate table: per-type daily revenue with day-over-day and
  // week-over-week percentage change via CALENDAR joins (gap days give
  // NULL growth on both engines, never a wrong row-lag). The decimal
  // daily sums are cast to double once and each rate is one subtraction
  // + one division on identical doubles. ──
  def windowGrowth(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir).groupBy(col("event_type"), col("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
    daily.join(calendarLag(daily, 1), Seq("event_type", "day"), "left")
      .join(calendarLag(daily, 7), Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), col("v").as("rev"),
        r6((col("v") - col("v1")) / col("v1") * 100).as("dod_pct"),
        r6((col("v") - col("v7")) / col("v7") * 100).as("wow_pct"))
      .orderBy("event_type", "day")
  }

  // ── Ulcer Index of the daily revenue series per event type: RMS of
  // the running-peak drawdown percentage — window_drawdown reports how
  // DEEP the worst trough went; UI also charges for how LONG the
  // series sat below its peak (the risk gauge that distinguishes one
  // bad day from a bad month). The series is DECIMAL-exact daily cents
  // with a per-type running max (keyed windows, grid-sized frames);
  // each drawdown% is one double division from exact ints, snapped to
  // 6 dp DECIMAL(12,6) and SQUARED IN DECIMAL so the mean is order-
  // independent; sqrt of one exact total closes it. ──
  def windowUlcer(spark: SparkSession, dir: String): DataFrame = {
    val peaked = dailyTyped(spark, dir).withColumn("peak",
      max(col("revc")).over(Window.partitionBy(col("event_type"))
        .orderBy(col("day")).rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("dd6", expr("cast(round(100 * cast(peak - revc" +
        " as double) / peak, 6) as decimal(12,6))"))
    peaked.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        max(col("dd6")).cast("double").as("max_drawdown_pct"),
        sum(col("dd6") * col("dd6")).as("ssq"))
      .select(col("event_type"), col("n_days"),
        r6(col("max_drawdown_pct")).as("max_drawdown_pct"),
        r6(expr("sqrt(cast(ssq as double) / n_days)")).as("ulcer_index"))
      .orderBy("event_type")
  }

  // ── stochastic oscillator (%K/%D) on daily revenue — window_rsi asks
  // "how one-sided were the last 14 changes"; this asks the complement
  // "WHERE in the last-14-day range does today close": %K = 100·(C −
  // L14)/(H14 − L14) positions today between the trailing low and high,
  // %D smooths %K over 3 days. Daily revenue reduces to exact int64
  // CENTS first (the window_rsi device), so L14/H14 are integer window
  // min/max and %K is one cast-first division; %D snaps %K to a 6-dp
  // DECIMAL and averages THOSE (3-row frame — exact sum, one division),
  // so no order-dependent double accumulation anywhere. Flat 14-day
  // ranges (H = L) yield NULL, not 0/0. Per-type windows — parallel,
  // bounded state, the series frame is group-sized at any corpus. ──
  def windowStochastic(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val w14 = wOrd.rowsBetween(-13, 0)
    val w3 = wOrd.rowsBetween(-2, 0)
    dailyTyped(spark, dir)
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("l14", min(col("revc")).over(w14))
      .withColumn("h14", max(col("revc")).over(w14))
      .withColumn("k6", expr(
        """CASE WHEN h14 > l14 THEN
          |CAST(round(100.0 * cast(revc - l14 as double) / (h14 - l14), 6)
          |     AS DECIMAL(12,6)) END""".stripMargin))
      .withColumn("ks", sum(col("k6")).over(w3))
      .withColumn("kn", count(col("k6")).over(w3))
      .filter(col("rn") >= 14)
      .select(col("event_type"), col("day"),
        r6(col("k6").cast("double")).as("pct_k"),
        r6(expr("CASE WHEN kn > 0 THEN cast(ks as double) / kn END"))
          .as("pct_d"))
      .orderBy("event_type", "day")
  }

  // ── time-decayed engagement score over IRREGULAR event times —
  // window_ewma decays per ROW, which treats a 5-second burst like a
  // 5-day absence; this decays by the ACTUAL gap (τ = 6 h half-life
  // scale): score = Σᵢ vᵢ·e^{−(T_last−tᵢ)/τ}. The recursion
  // s ← v + e^{−Δt/τ}·s unrolls exactly to that weighted sum (the
  // exponentials compose), so NO sequential fold is needed: one
  // per-user window max for T_last, then a keyed aggregation whose
  // terms snap to the 1e-9 grid before an exact DECIMAL sum — scan
  // speed at any corpus size, and the one libm call per row (exp)
  // is absorbed by the snap. The freshness-weighted user-value score
  // a ranking feature store recomputes continuously. ──
  def windowEwmaTimedecay(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Window.partitionBy(col("user_id"))
    ev(spark, dir)
      .withColumn("last_us", max(col("us")).over(perUser))
      .withColumn("term", expr(
        """CAST(round(value
          |  * exp(-(cast(last_us - us as double) / 21600000000.0D)), 9)
          |  AS DECIMAL(28,9))""".stripMargin))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        r6(sum(col("term")).cast("double")).as("decayed_score"))
      .orderBy("user_id")
  }

  // ── MACD(12, 26, 9) on daily revenue — the trend-vs-momentum
  // completion of the TA family (RSI positions within the recent range,
  // Bollinger bands the level, MACD reads the CROSSOVER of two decay
  // horizons). Each EMA is the pandas adjust=true form — a
  // geometric-weighted mean over a bounded trailing frame, computed by
  // the shared Horner fold [[sparkEma]] (pure IEEE mul+add; the earlier
  // pow()-weighted form diverged from the oracle by a libm ulp that
  // crossed a 6-dp round boundary at sf0.1). MACD snaps to 6 dp BEFORE
  // the signal EMA consumes it, so the second smoothing stage reads
  // provably identical inputs in both engines. Per-type windows; the
  // series frame is day-grid-sized at any corpus. ──
  def windowMacd(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val staged = dailyTyped(spark, dir)
      .withColumn("h12",
        collect_list(col("revc").cast("double")).over(
          wOrd.rowsBetween(-11, 0)))
      .withColumn("h26",
        collect_list(col("revc").cast("double")).over(
          wOrd.rowsBetween(-25, 0)))
      .withColumn("macd", round(
        expr(sparkEma("h12", MacdD12)) -
          expr(sparkEma("h26", MacdD26)), 6) + lit(0.0d))
    staged
      .withColumn("h9",
        collect_list(col("macd")).over(wOrd.rowsBetween(-8, 0)))
      .withColumn("signal",
        round(expr(sparkEma("h9", MacdD9)), 6) + lit(0.0d))
      .select(col("event_type"), col("day"), col("macd"), col("signal"),
        r6(col("macd") - col("signal")).as("histogram"))
      .orderBy("event_type", "day")
  }

  // ── Keltner channel per event type: 20-EMA of the typical price
  // (h+l+c)/3 banded at ±2·ATR(10) — the volatility-adaptive envelope
  // (window_bollinger's bands breathe with stddev; Keltner's with true
  // range, so gaps widen them too). Composes the two audited devices:
  // the window-listed finite-history EMA (window_macd's fold, summed
  // in identical element order in both engines) and window_atr's
  // integer true range. Bands and flags compare 6-dp-snapped values;
  // entity-partitioned, full frames only. ──
  def windowKeltner(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    trueRangeBars(spark, dir)
      .withColumn("tpd", expr("cast(h + l + c as double) / 3"))
      .withColumn("h20",
        collect_list(col("tpd")).over(wOrd.rowsBetween(-19, 0)))
      .withColumn("atr_c", sum(col("tr")).over(wOrd.rowsBetween(-9, 0)))
      .filter(col("rn") >= 20)
      .withColumn("mid6",
        round(expr(sparkEma("h20", KeltD) + "/ 100"), 6) + lit(0.0d))
      .withColumn("atr6", r6(expr("cast(atr_c as double) / 1000")))
      .withColumn("up6", r6(col("mid6") + lit(2.0d) * col("atr6")))
      .withColumn("lo6", r6(col("mid6") - lit(2.0d) * col("atr6")))
      .select(col("event_type"), col("day"),
        r6(expr("cast(c as double) / 100")).as("close"),
        col("mid6").as("mid_ema20"), col("atr6").as("atr10"),
        col("up6").as("upper"), col("lo6").as("lower"),
        (expr("cast(c as double) / 100") > col("up6")).as("above_upper"),
        (expr("cast(c as double) / 100") < col("lo6")).as("below_lower"))
      .orderBy("event_type", "day")
  }

  // ── Heikin-Ashi candles per event type: the smoothed OHLC transform
  // (haClose = mean of the bar, haOpen = midpoint of the PRIOR HA
  // candle) chart platforms use to de-noise trend runs. The haOpen
  // recursion unrolls to the exact geometric form haOpen_t =
  // c₁·½^(t−1) + Σ_{j<t} haClose_j·½^(t−j) — the window-listed
  // power-weight fold again (summed in identical element order in
  // both engines), so no sequential scan exists in the plan; ½-powers
  // of the day-count-bounded history underflow double well past any
  // real series length. Open is the previous close (first bar: its own
  // close) since the bars carry no session open. ──
  def windowHeikinAshi(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    ohlcBars(spark, dir)
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("o", coalesce(lag(col("c"), 1).over(wOrd), col("c")))
      .withColumn("hc", expr("cast(o + h + l + c as double) / 4"))
      .withColumn("c1", first(col("c")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("hist", collect_list(col("hc")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ho", expr(
        """cast(c1 as double) * pow(0.5, rn - 1)
          |+ aggregate(transform(hist,
          |    (x, i) -> x * pow(0.5, size(hist) - i)),
          |  0D, (acc, t) -> acc + t)""".stripMargin))
      .withColumn("ho6", r6(expr("ho / 100")))
      .withColumn("hc6", r6(expr("hc / 100")))
      .select(col("event_type"), col("day"),
        col("ho6").as("ha_open"), col("hc6").as("ha_close"),
        r6(expr("greatest(cast(h as double), ho, hc) / 100"))
          .as("ha_high"),
        r6(expr("least(cast(l as double), ho, hc) / 100")).as("ha_low"),
        (col("hc6") > col("ho6")).as("bullish"))
      .orderBy("event_type", "day")
  }

  // ── Average True Range (14-day) per event type: the volatility
  // gauge the Bollinger/RSI/MACD family is missing — TR folds intraday
  // range AND overnight gap (|high−prev_close| / |low−prev_close|)
  // into one number. The daily OHLC-ish bar is built in exact cents
  // (high/low = max/min of value; close = last event of the day by the
  // unique (us, event_id) order, via struct-max — no argmax ambiguity);
  // TR is a greatest() of INTEGER differences, so every input to the
  // 14-row mean is engine-identical. Entity-partitioned windows; only
  // full frames emit. ──
  def windowAtr(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val withTr = trueRangeBars(spark, dir)
    withTr
      .withColumn("atr_c",
        sum(col("tr")).over(wOrd.rowsBetween(-13, 0)))
      .filter(col("rn") >= 15)
      .select(col("event_type"), col("day"),
        r6(expr("cast(h as double) / 100")).as("high"),
        r6(expr("cast(l as double) / 100")).as("low"),
        r6(expr("cast(c as double) / 100")).as("close"),
        r6(expr("cast(tr as double) / 100")).as("true_range"),
        r6(expr("cast(atr_c as double) / 1400")).as("atr14"))
      .orderBy("event_type", "day")
  }

  // ── Williams %R (14-day) per event type: where today's close sits in
  // the trailing high–low channel, on the window_atr OHLC-ish bar —
  // the fast stochastic's raw positioning line (−100 = at the channel
  // low, 0 = at the high). Channel edges are integer window max/min of
  // exact cents; the single −100·(HH−c)/(HH−LL) map is one double
  // division, and the +0.0 normalization covers the c = HH bin (a bare
  // −100·0 would be −0.0). Entity-partitioned, full frames only; flat
  // channels (HH = LL) are skipped on the INTEGER compare, so both
  // engines drop identical rows. ──
  def windowWilliamsR(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val w14 = wOrd.rowsBetween(-13, 0)
    ohlcBars(spark, dir)
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("hh", max(col("h")).over(w14))
      .withColumn("ll", min(col("l")).over(w14))
      .filter(col("rn") >= 14 && col("hh") > col("ll"))
      .select(col("event_type"), col("day"),
        r6(expr("cast(c as double) / 100")).as("close"),
        r6(expr("cast(hh as double) / 100")).as("hh14"),
        r6(expr("cast(ll as double) / 100")).as("ll14"),
        r6(expr("-100.0 * cast(hh - c as double)" +
          " / cast(hh - ll as double)")).as("williams_r"))
      .orderBy("event_type", "day")
  }

  // ── Money Flow Index (14-day) per event type: volume-weighted RSI —
  // each bar's 3×typical-price (h+l+c, exact cents) times its trade
  // count flows into the positive or negative pool by the INTEGER
  // tpc-vs-prev compare, and MFI = 100·pos/(pos+neg) over 14 bars.
  // window_rsi weighs price change alone; MFI says whether the moves
  // carried participation. Pools are int64 sums of integer products
  // (tpc·vol ≲ 3·10⁵·day-volume — drop the cents scale one decade if a
  // single key's daily volume approaches 3·10¹³); ONE double division
  // at the boundary. Unchanged-tpc bars feed neither pool (the
  // classical convention), and both engines decide that on integers. ──
  def windowMfi(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val w14 = wOrd.rowsBetween(-13, 0)
    ohlcBars(spark, dir)
      .withColumn("tpc", col("h") + col("l") + col("c"))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("ptpc", lag(col("tpc"), 1).over(wOrd))
      .withColumn("pos",
        when(col("tpc") > col("ptpc"), col("tpc") * col("vol"))
          .otherwise(0L))
      .withColumn("neg",
        when(col("tpc") < col("ptpc"), col("tpc") * col("vol"))
          .otherwise(0L))
      .withColumn("p14", sum(col("pos")).over(w14))
      .withColumn("n14", sum(col("neg")).over(w14))
      .filter(col("rn") >= 15 && (col("p14") + col("n14")) > 0)
      .select(col("event_type"), col("day"), col("vol"),
        r6(expr("cast(tpc as double) / 300")).as("typical_price"),
        r6(expr("100.0 * cast(p14 as double)" +
          " / cast(p14 + n14 as double)")).as("mfi14"),
        (expr("100.0 * cast(p14 as double)" +
          " / cast(p14 + n14 as double)") > lit(80.0d)).as("overbought"),
        (expr("100.0 * cast(p14 as double)" +
          " / cast(p14 + n14 as double)") < lit(20.0d)).as("oversold"))
      .orderBy("event_type", "day")
  }

  // ── Ichimoku baseline pair per event type: tenkan (9-bar) and kijun
  // (26-bar) channel MIDPOINTS — (HH+LL)/2, a different statistic from
  // the EMAs/means every other overlay here uses (midpoints ignore
  // in-channel distribution entirely, so they hold level through
  // one-sided noise). Channel edges are integer window max/min of exact
  // cents; the midpoints are single /200 maps; the cross signal
  // (tenkan vs kijun) compares 6-dp-snapped values. Entity-partitioned
  // windows, full 26-bar frames only. ──
  def windowIchimoku(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val w9 = wOrd.rowsBetween(-8, 0)
    val w26 = wOrd.rowsBetween(-25, 0)
    ohlcBars(spark, dir)
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("th", max(col("h")).over(w9))
      .withColumn("tl", min(col("l")).over(w9))
      .withColumn("kh", max(col("h")).over(w26))
      .withColumn("kl", min(col("l")).over(w26))
      .filter(col("rn") >= 26)
      .withColumn("t6", r6(expr("cast(th + tl as double) / 200")))
      .withColumn("k6", r6(expr("cast(kh + kl as double) / 200")))
      .select(col("event_type"), col("day"),
        r6(expr("cast(c as double) / 100")).as("close"),
        col("t6").as("tenkan9"), col("k6").as("kijun26"),
        r6(expr("(cast(th + tl as double) / 200" +
          " + cast(kh + kl as double) / 200) / 2")).as("senkou_a"),
        (col("t6") > col("k6")).as("bullish_cross"))
      .orderBy("event_type", "day")
  }

  // ── chandelier exit per event type: trailing stop at
  // HH(22) − 3·ATR(22) — the volatility-scaled exit line that ratchets
  // under a long position (window_atr prices the volatility; this
  // turns it into the risk rule). Highest-high and the 22-bar true-
  // range sum are integer window aggregates; the stop is one double
  // map, and the exit flag compares the integer close against the
  // 6-dp-snapped stop. Entity-partitioned, full frames only. ──
  def windowChandelierExit(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val w22 = wOrd.rowsBetween(-21, 0)
    trueRangeBars(spark, dir)
      .withColumn("hh", max(col("h")).over(w22))
      .withColumn("atr_c", sum(col("tr")).over(w22))
      .filter(col("rn") >= 23)
      .withColumn("stop6", r6(expr(
        "cast(hh as double) / 100" +
          " - 3.0 * (cast(atr_c as double) / 2200)")))
      .select(col("event_type"), col("day"),
        r6(expr("cast(c as double) / 100")).as("close"),
        r6(expr("cast(hh as double) / 100")).as("hh22"),
        r6(expr("cast(atr_c as double) / 2200")).as("atr22"),
        col("stop6").as("chandelier_stop"),
        (expr("cast(c as double) / 100") < col("stop6")).as("exit_long"))
      .orderBy("event_type", "day")
  }

  // ── Aroon oscillator (14-period) on the per-type daily revenue: how
  // recently the trailing-14 high/low printed — a trend-freshness
  // signal orthogonal to level-based bands (window_bollinger) and
  // momentum (window_rsi). The in-window argmax/argmin use struct
  // max/min on (revenue, row-index) — exact integers, latest-bar ties
  // by lexicographic order in BOTH engines — so periods-since is pure
  // row arithmetic; the only doubles are the two final 100·(14−ps)/14
  // maps. Entity-partitioned, full frames only. ──
  def windowAroon(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val w14 = wOrd.rowsBetween(-13, 0)
    dailyTyped(spark, dir)
      .withColumn("rn", row_number().over(wOrd).cast("long"))
      .withColumn("hi",
        max(struct(col("revc"), col("rn"))).over(w14))
      .withColumn("lo",
        // (revc, −rn): min picks the smallest revenue, ties resolved to
        // the LATEST bar (most negative −rn) — same freshest-bar
        // convention as the struct-max on the high side
        min(struct(col("revc"), (-col("rn")).as("nrn"))).over(w14))
      .filter(col("rn") >= 14)
      .select(col("event_type"), col("day"), col("revc"),
        (col("rn") - col("hi.rn")).as("ps_high"),
        (col("rn") + col("lo.nrn")).as("ps_low"),
        r6(expr("100 * cast(14 - (rn - hi.rn) as double) / 14"))
          .as("aroon_up"),
        r6(expr("100 * cast(14 - (rn + lo.nrn) as double) / 14"))
          .as("aroon_down"),
        r6(expr("100 * (cast(14 - (rn - hi.rn) as double) / 14" +
          " - cast(14 - (rn + lo.nrn) as double) / 14)"))
          .as("aroon_osc"))
      .orderBy("event_type", "day")
  }

  // ── on-balance volume per event type: running Σ of ±(daily event
  // count) signed by whether the daily close (last value of the day by
  // the unique (us, event_id) order, same bar as window_atr) rose or
  // fell — the flow-confirms-price indicator: OBV diverging from the
  // revenue level flags moves without participation. Sign and volume
  // are exact integers, so the running sum is int64 end to end; one
  // keyed aggregation + one entity-partitioned window. ──
  def windowObv(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    ohlcBars(spark, dir)
      .withColumn("pc", lag(col("c"), 1).over(wOrd))
      .withColumn("flow",
        when(col("pc").isNull, 0L)
          .when(col("c") > col("pc"), col("vol"))
          .when(col("c") < col("pc"), -col("vol"))
          .otherwise(0L))
      .withColumn("obv", sum(col("flow")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("event_type"), col("day"), col("vol"),
        r6(expr("cast(c as double) / 100")).as("close"),
        col("flow"), col("obv"))
      .orderBy("event_type", "day")
  }

  // ── cumulative VWAP per event type: running Σ(value·1)/Σ(1) where
  // each event is one "trade" — the benchmark price an execution desk
  // compares fills against, and the drift-free denominator for the
  // daily close (window_macd smooths price; VWAP anchors it to
  // participation). Numerator stays exact int64 cents cumulatively;
  // ONE division per emitted row. Also emits the day's own VWAP.
  // Grouped to daily first — the 100 TB fact table never enters a
  // window. ──
  def windowVwap(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir)
      .withColumn("vc",
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("vol"), sum(col("vc")).as("pv"))
    val cumW = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    daily
      .withColumn("cum_pv", sum(col("pv")).over(cumW))
      .withColumn("cum_vol", sum(col("vol")).over(cumW))
      .select(col("event_type"), col("day"), col("vol"),
        r6(expr("cast(pv as double) / (100 * vol)")).as("day_vwap"),
        r6(expr("cast(cum_pv as double) / (100 * cum_vol)"))
          .as("cum_vwap"))
      .orderBy("event_type", "day")
  }

  // ── Kaufman adaptive moving average (10/2/30) on the per-type daily
  // revenue: the smoother that SPEEDS UP in trends and flattens in
  // chop — efficiency ratio ER = |10-day net move| / Σ|daily moves|
  // gates the EMA constant between the fast(2) and slow(30) bounds.
  // ER is exact int64 cents (window sums of integer |diffs|); the
  // squared smoothing constant and the varying-coefficient recursion
  // kamaₜ = kamaₜ₋₁ + scₜ(yₜ−kamaₜ₋₁) run as ONE codegen'd fold over
  // the collected (day, y, sc) series (the forecast_holt shape —
  // windows do the O(1)-state parts, the fold does the one genuinely
  // sequential part). Emits the LAST bar per type with its full
  // adaptive state. ──
  def windowKama(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val er = dailyTyped(spark, dir)
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("net",
        abs(col("revc") - lag(col("revc"), 10).over(wOrd)))
      .withColumn("vol",
        sum(abs(col("revc") - lag(col("revc"), 1).over(wOrd)))
          .over(wOrd.rowsBetween(-9, 0)))
      // the smoothing constant is scb², squared by explicit multiply:
      // pow(x, 2) is a libm call whose low bit Java and C may disagree
      // on, x*x is a single IEEE multiply — bit-identical everywhere
      .withColumn("scb", expr(
        "CASE WHEN rn >= 11 THEN" +
          " (CASE WHEN vol > 0 THEN cast(net as double) / vol" +
          " ELSE 0.0D END) * (2.0D / 3 - 2.0D / 31) + 2.0D / 31 END"))
      .withColumn("sc", expr("scb * scb"))
    er.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sort_array(collect_list(struct(col("day"), col("revc"), col("sc"),
          col("rn")))).as("s"))
      .filter(col("n_days") >= 11)
      .withColumn("kama", expr(
        """aggregate(
          |  filter(s, x -> x.rn >= 12),
          |  CAST(s[10].revc AS DOUBLE),
          |  (k, x) -> k + x.sc * (x.revc - k))""".stripMargin))
      .select(col("event_type"), col("n_days"),
        r6(expr("element_at(s, -1).revc / 100.0D")).as("last_close"),
        r6(expr("element_at(s, -1).sc")).as("last_sc"),
        r6(expr("kama / 100.0D")).as("kama"))
      .orderBy("event_type")
  }

  // ── Commodity Channel Index (20-day) on per-type daily revenue —
  // window_bollinger standardizes by the rolling STDDEV (outliers
  // inflate their own yardstick); CCI divides by the rolling MEAN
  // ABSOLUTE deviation, the robust yardstick the indicator was designed
  // around. The whole statistic stays integer-exact until one division:
  // with S = Σ₂₀ revc, TP − SMA = (20·revc − S)/20 and MD =
  // Σ|20·xᵢ − S|/400, so CCI = (20·revc − S)·20000 / (15·Σ|20·xᵢ − S|)
  // — the deviation sum runs over the window's COLLECTED list (20
  // int64s per row, bounded state) because each |xᵢ − SMA_t| depends
  // on the CURRENT row's mean, not its own. Per-type windows
  // parallelize; the daily frame is group-sized at any corpus. ──
  def windowCci(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val w20 = wOrd.rowsBetween(-19, 0)
    dailyTyped(spark, dir)
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("s", sum(col("revc")).over(w20))
      .withColumn("h", collect_list(col("revc")).over(w20))
      .filter(col("rn") >= 20)
      .withColumn("a", expr(
        "aggregate(h, 0L, (acc, x) -> acc + abs(20L * x - s))"))
      .select(col("event_type"), col("day"),
        r6(expr("cast(revc as double) / 100")).as("close"),
        r6(expr("cast(s as double) / 2000")).as("sma20"),
        r6(expr("cast(a as double) / 40000")).as("mean_dev"),
        r6(expr("CASE WHEN a > 0 THEN" +
          " cast(20 * revc - s as double) * 20000 / (15 * a) END"))
          .as("cci"))
      .orderBy("event_type", "day")
  }

  // ── Donchian channel (20-day, EXCLUSIVE of today) with breakout
  // flags — the rolling high/low envelope window_stochastic positions
  // within, but with the frame shifted one day back so "today broke
  // the channel" means today exceeded what any of the PRIOR 20 days
  // reached (include today and a breakout can never register — today
  // would be its own channel edge). Channel edges are integer window
  // min/max over cents, flags are integer comparisons, the two dollar
  // conversions are the only doubles. ──
  def windowDonchian(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val w20x = wOrd.rowsBetween(-20, -1)
    dailyTyped(spark, dir)
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("up", max(col("revc")).over(w20x))
      .withColumn("lo", min(col("revc")).over(w20x))
      .filter(col("rn") >= 21)
      .select(col("event_type"), col("day"),
        r6(expr("cast(revc as double) / 100")).as("close"),
        r6(expr("cast(up as double) / 100")).as("channel_hi"),
        r6(expr("cast(lo as double) / 100")).as("channel_lo"),
        r6(expr("cast(up - lo as double) / 100")).as("width"),
        (col("revc") > col("up")).as("breakout_up"),
        (col("revc") < col("lo")).as("breakout_dn"))
      .orderBy("event_type", "day")
  }

  protected val windowKeys: Seq[Key] = Seq(
    Key("window_cci", windowCci, Some(duckDailyTyped +
      """w AS (SELECT event_type, day, revc,
        |    row_number() OVER wt AS rn,
        |    CAST(sum(revc) OVER w20 AS BIGINT) AS s,
        |    list(revc) OVER w20 AS h
        |  FROM daily
        |  WINDOW wt AS (PARTITION BY event_type ORDER BY day),
        |    w20 AS (PARTITION BY event_type ORDER BY day
        |            ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |ag AS (SELECT *, CAST(list_sum(list_transform(h,
        |    x -> abs(20 * x - s))) AS BIGINT) AS dv
        |  FROM w WHERE rn >= 20)
        |SELECT event_type, day,
        |  round(CAST(revc AS DOUBLE) / 100, 6) + 0.0 AS close,
        |  round(CAST(s AS DOUBLE) / 2000, 6) + 0.0 AS sma20,
        |  round(CAST(dv AS DOUBLE) / 40000, 6) + 0.0 AS mean_dev,
        |  round(CASE WHEN dv > 0 THEN CAST(20 * revc - s AS DOUBLE)
        |    * 20000 / (15 * dv) END, 6) + 0.0 AS cci
        |FROM ag ORDER BY event_type, day""".stripMargin)),
    Key("window_donchian", windowDonchian, Some(duckDailyTyped +
      """w AS (SELECT event_type, day, revc,
        |    row_number() OVER wt AS rn,
        |    max(revc) OVER w20 AS up, min(revc) OVER w20 AS lo
        |  FROM daily
        |  WINDOW wt AS (PARTITION BY event_type ORDER BY day),
        |    w20 AS (PARTITION BY event_type ORDER BY day
        |            ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day,
        |  round(CAST(revc AS DOUBLE) / 100, 6) + 0.0 AS close,
        |  round(CAST(up AS DOUBLE) / 100, 6) + 0.0 AS channel_hi,
        |  round(CAST(lo AS DOUBLE) / 100, 6) + 0.0 AS channel_lo,
        |  round(CAST(up - lo AS DOUBLE) / 100, 6) + 0.0 AS width,
        |  revc > up AS breakout_up, revc < lo AS breakout_dn
        |FROM w WHERE rn >= 21 ORDER BY event_type, day""".stripMargin)),
    Key("window_kama", windowKama, Some("WITH RECURSIVE " + duckDailyTyped.drop(5) +
      """s0 AS (SELECT event_type, day, revc AS yc,
        |    CAST(row_number() OVER w AS BIGINT) AS rn,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n,
        |    abs(revc - lag(revc, 10) OVER w) AS net,
        |    abs(revc - lag(revc, 1) OVER w) AS d1
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |s AS (SELECT *, sum(d1) OVER (
        |    PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS vol
        |  FROM s0),
        |s1 AS (SELECT *, CASE WHEN rn >= 11 THEN
        |    (CASE WHEN vol > 0 THEN CAST(net AS DOUBLE) / vol
        |      ELSE 0.0 END) * (2.0 / 3 - 2.0 / 31) + 2.0 / 31
        |    END AS scb
        |  FROM s),
        |s2 AS (SELECT *, scb * scb AS sc FROM s1),
        |rec AS (
        |  SELECT event_type, n, rn, CAST(yc AS DOUBLE) AS kama
        |  FROM s2 WHERE rn = 11
        |  UNION ALL
        |  SELECT r.event_type, r.n, p.rn,
        |    r.kama + p.sc * (p.yc - r.kama)
        |  FROM rec r JOIN s2 p
        |    ON p.event_type = r.event_type AND p.rn = r.rn + 1
        |  WHERE r.rn < r.n),
        |lastbar AS (SELECT event_type, yc, sc FROM s2
        |            WHERE rn = n)
        |SELECT rec.event_type, rec.n AS n_days,
        |  round(lastbar.yc / 100.0, 6) + 0.0 AS last_close,
        |  round(lastbar.sc, 6) + 0.0 AS last_sc,
        |  round(rec.kama / 100.0, 6) + 0.0 AS kama
        |FROM rec JOIN lastbar USING (event_type)
        |WHERE rec.rn = rec.n AND rec.n >= 11
        |ORDER BY event_type""".stripMargin)),
    Key("window_obv", windowObv, Some(
      duckBarEvents + """bars AS (SELECT event_type, day,
        |    CAST(count(*) AS BIGINT) AS vol,
        |    max({'us': us, 'event_id': event_id, 'vc': vc}).vc AS c
        |  FROM e GROUP BY 1, 2),
        |fl AS (SELECT *,
        |    lag(c) OVER (PARTITION BY event_type ORDER BY day) AS pc
        |  FROM bars),
        |f2 AS (SELECT *,
        |    CASE WHEN pc IS NULL THEN 0
        |         WHEN c > pc THEN vol WHEN c < pc THEN -vol
        |         ELSE 0 END AS flow
        |  FROM fl)
        |SELECT event_type, day, vol,
        |  round(CAST(c AS DOUBLE) / 100, 6) + 0.0 AS close,
        |  CAST(flow AS BIGINT) AS flow,
        |  CAST(sum(flow) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS obv
        |FROM f2 ORDER BY event_type, day""".stripMargin)),
    Key("window_vwap", windowVwap, Some(
      """WITH daily AS (
        |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS vol,
        |    CAST(sum(CAST(CAST("value" AS DECIMAL(18,2)) * 100
        |      AS BIGINT)) AS BIGINT) AS pv
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT *,
        |    sum(pv) OVER w AS cum_pv, sum(vol) OVER w AS cum_vol
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_type, day, vol,
        |  round(CAST(pv AS DOUBLE) / (100 * vol), 6) + 0.0 AS day_vwap,
        |  round(CAST(cum_pv AS DOUBLE) / (100 * cum_vol), 6) + 0.0
        |    AS cum_vwap
        |FROM c ORDER BY event_type, day""".stripMargin)),
    Key("window_atr", windowAtr, Some(duckBars +
      """tr AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      AS rn,
        |    lag(c) OVER (PARTITION BY event_type ORDER BY day) AS pc
        |  FROM bars),
        |t2 AS (SELECT *,
        |    greatest(h - l, abs(h - pc), abs(l - pc)) AS tr FROM tr),
        |t3 AS (SELECT *,
        |    sum(tr) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS atr_c
        |  FROM t2)
        |SELECT event_type, day,
        |  round(CAST(h AS DOUBLE) / 100, 6) + 0.0 AS high,
        |  round(CAST(l AS DOUBLE) / 100, 6) + 0.0 AS low,
        |  round(CAST(c AS DOUBLE) / 100, 6) + 0.0 AS close,
        |  round(CAST(tr AS DOUBLE) / 100, 6) + 0.0 AS true_range,
        |  round(CAST(atr_c AS DOUBLE) / 1400, 6) + 0.0 AS atr14
        |FROM t3 WHERE rn >= 15 ORDER BY event_type, day""".stripMargin)),
    Key("window_ichimoku", windowIchimoku, Some(duckBars +
      """w AS (SELECT *, row_number() OVER wo AS rn,
        |    max(h) OVER w9 AS th, min(l) OVER w9 AS tl,
        |    max(h) OVER w26 AS kh, min(l) OVER w26 AS kl
        |  FROM bars
        |  WINDOW wo AS (PARTITION BY event_type ORDER BY day),
        |    w9 AS (PARTITION BY event_type ORDER BY day
        |           ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
        |    w26 AS (PARTITION BY event_type ORDER BY day
        |            ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)),
        |f AS (SELECT *,
        |    round(CAST(th + tl AS DOUBLE) / 200, 6) + 0.0 AS t6,
        |    round(CAST(kh + kl AS DOUBLE) / 200, 6) + 0.0 AS k6
        |  FROM w WHERE rn >= 26)
        |SELECT event_type, day,
        |  round(CAST(c AS DOUBLE) / 100, 6) + 0.0 AS close,
        |  t6 AS tenkan9, k6 AS kijun26,
        |  round((CAST(th + tl AS DOUBLE) / 200
        |    + CAST(kh + kl AS DOUBLE) / 200) / 2, 6) + 0.0 AS senkou_a,
        |  t6 > k6 AS bullish_cross
        |FROM f ORDER BY event_type, day""".stripMargin)),
    Key("window_chandelier_exit", windowChandelierExit, Some(duckBars +
      """t1 AS (SELECT *, row_number() OVER wo AS rn, lag(c) OVER wo AS pc
        |  FROM bars WINDOW wo AS (PARTITION BY event_type ORDER BY day)),
        |t2 AS (SELECT *,
        |    greatest(h - l, abs(h - pc), abs(l - pc)) AS tr FROM t1),
        |t3 AS (SELECT *, max(h) OVER w22 AS hh, sum(tr) OVER w22 AS atr_c
        |  FROM t2
        |  WINDOW w22 AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 21 PRECEDING AND CURRENT ROW)),
        |f AS (SELECT *,
        |    round(CAST(hh AS DOUBLE) / 100
        |      - 3.0 * (CAST(atr_c AS DOUBLE) / 2200), 6) + 0.0 AS stop6
        |  FROM t3 WHERE rn >= 23)
        |SELECT event_type, day,
        |  round(CAST(c AS DOUBLE) / 100, 6) + 0.0 AS close,
        |  round(CAST(hh AS DOUBLE) / 100, 6) + 0.0 AS hh22,
        |  round(CAST(atr_c AS DOUBLE) / 2200, 6) + 0.0 AS atr22,
        |  stop6 AS chandelier_stop,
        |  CAST(c AS DOUBLE) / 100 < stop6 AS exit_long
        |FROM f ORDER BY event_type, day""".stripMargin)),
    Key("window_williams_r", windowWilliamsR, Some(duckBars +
      """w AS (SELECT *,
        |    row_number() OVER wo AS rn,
        |    max(h) OVER w14 AS hh, min(l) OVER w14 AS ll
        |  FROM bars
        |  WINDOW wo AS (PARTITION BY event_type ORDER BY day),
        |    w14 AS (PARTITION BY event_type ORDER BY day
        |            ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, day,
        |  round(CAST(c AS DOUBLE) / 100, 6) + 0.0 AS close,
        |  round(CAST(hh AS DOUBLE) / 100, 6) + 0.0 AS hh14,
        |  round(CAST(ll AS DOUBLE) / 100, 6) + 0.0 AS ll14,
        |  round(-100.0 * CAST(hh - c AS DOUBLE)
        |    / CAST(hh - ll AS DOUBLE), 6) + 0.0 AS williams_r
        |FROM w WHERE rn >= 14 AND hh > ll
        |ORDER BY event_type, day""".stripMargin)),
    Key("window_mfi", windowMfi, Some(
      duckBarEvents + """bars AS (SELECT event_type, day,
        |    CAST(max(vc) AS BIGINT) AS h, CAST(min(vc) AS BIGINT) AS l,
        |    max({'us': us, 'event_id': event_id, 'vc': vc}).vc AS c,
        |    CAST(count(*) AS BIGINT) AS vol
        |  FROM e GROUP BY 1, 2),
        |tp AS (SELECT *, h + l + c AS tpc,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day)
        |      AS rn,
        |    lag(h + l + c) OVER (PARTITION BY event_type ORDER BY day)
        |      AS ptpc
        |  FROM bars),
        |fl AS (SELECT *,
        |    CASE WHEN tpc > ptpc THEN tpc * vol ELSE 0 END AS pos,
        |    CASE WHEN tpc < ptpc THEN tpc * vol ELSE 0 END AS neg
        |  FROM tp),
        |s AS (SELECT *,
        |    sum(pos) OVER w14 AS p14, sum(neg) OVER w14 AS n14
        |  FROM fl
        |  WINDOW w14 AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, day, vol,
        |  round(CAST(tpc AS DOUBLE) / 300, 6) + 0.0 AS typical_price,
        |  round(100.0 * CAST(p14 AS DOUBLE) / CAST(p14 + n14 AS DOUBLE),
        |    6) + 0.0 AS mfi14,
        |  100.0 * CAST(p14 AS DOUBLE) / CAST(p14 + n14 AS DOUBLE) > 80.0
        |    AS overbought,
        |  100.0 * CAST(p14 AS DOUBLE) / CAST(p14 + n14 AS DOUBLE) < 20.0
        |    AS oversold
        |FROM s WHERE rn >= 15 AND p14 + n14 > 0
        |ORDER BY event_type, day""".stripMargin)),
    Key("window_aroon", windowAroon, Some(duckDailyTyped +
      """r AS (SELECT event_type, day, revc,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY day) AS BIGINT) AS rn
        |  FROM daily),
        |w AS (SELECT *,
        |    max({'revc': revc, 'rn': rn}) OVER (PARTITION BY event_type
        |      ORDER BY rn ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |      AS hi,
        |    min({'revc': revc, 'nrn': -rn}) OVER (PARTITION BY event_type
        |      ORDER BY rn ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |      AS lo
        |  FROM r)
        |SELECT event_type, day, revc,
        |  rn - hi.rn AS ps_high, rn + lo.nrn AS ps_low,
        |  round(100 * CAST(14 - (rn - hi.rn) AS DOUBLE) / 14, 6) + 0.0
        |    AS aroon_up,
        |  round(100 * CAST(14 - (rn + lo.nrn) AS DOUBLE) / 14, 6) + 0.0
        |    AS aroon_down,
        |  round(100 * (CAST(14 - (rn - hi.rn) AS DOUBLE) / 14
        |    - CAST(14 - (rn + lo.nrn) AS DOUBLE) / 14), 6) + 0.0
        |    AS aroon_osc
        |FROM w WHERE rn >= 14 ORDER BY event_type, day""".stripMargin)),
    Key("window_macd", windowMacd, Some(duckDailyTyped +
      s"""h AS (SELECT event_type, day,
         |    list(CAST(revc AS DOUBLE))
         |      OVER (wo ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
         |      AS h12,
         |    list(CAST(revc AS DOUBLE))
         |      OVER (wo ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)
         |      AS h26
         |  FROM daily
         |  WINDOW wo AS (PARTITION BY event_type ORDER BY day)),
         |m AS (SELECT event_type, day,
         |    round(${duckEma("h12", MacdD12)}
         |      - ${duckEma("h26", MacdD26)}, 6) + 0.0 AS macd
         |  FROM h),
         |s AS (SELECT event_type, day, macd,
         |    list(macd) OVER (wo ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
         |      AS h9
         |  FROM m WINDOW wo AS (PARTITION BY event_type ORDER BY day)),
         |f AS (SELECT event_type, day, macd,
         |    round(${duckEma("h9", MacdD9)}, 6) + 0.0 AS signal
         |  FROM s)
         |SELECT event_type, day, macd, signal,
         |  round(macd - signal, 6) + 0.0 AS histogram
         |FROM f ORDER BY event_type, day""".stripMargin)),
    Key("window_keltner", windowKeltner, Some(duckBars +
      s"""t1 AS (SELECT *, row_number() OVER wo AS rn,
         |    lag(c) OVER wo AS pc, CAST(h + l + c AS DOUBLE) / 3 AS tpd
         |  FROM bars
         |  WINDOW wo AS (PARTITION BY event_type ORDER BY day)),
         |t2 AS (SELECT *,
         |    greatest(h - l, abs(h - pc), abs(l - pc)) AS tr FROM t1),
         |t3 AS (SELECT *, list(tpd) OVER w20 AS h20,
         |    sum(tr) OVER w10 AS atr_c
         |  FROM t2
         |  WINDOW w20 AS (PARTITION BY event_type ORDER BY day
         |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
         |    w10 AS (PARTITION BY event_type ORDER BY day
         |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
         |t4 AS (SELECT *,
         |    round((${duckEma("h20", KeltD)}) / 100, 6) + 0.0
         |      AS mid6,
         |    round(CAST(atr_c AS DOUBLE) / 1000, 6) + 0.0 AS atr6
         |  FROM t3 WHERE rn >= 20),
         |t5 AS (SELECT *, round(mid6 + 2.0 * atr6, 6) + 0.0 AS up6,
         |    round(mid6 - 2.0 * atr6, 6) + 0.0 AS lo6
         |  FROM t4)
         |SELECT event_type, day,
         |  round(CAST(c AS DOUBLE) / 100, 6) + 0.0 AS close,
         |  mid6 AS mid_ema20, atr6 AS atr10, up6 AS upper, lo6 AS lower,
         |  CAST(c AS DOUBLE) / 100 > up6 AS above_upper,
         |  CAST(c AS DOUBLE) / 100 < lo6 AS below_lower
         |FROM t5 ORDER BY event_type, day""".stripMargin)),
    Key("window_heikin_ashi", windowHeikinAshi, Some(duckBars +
      """t1 AS (SELECT *, row_number() OVER wo AS rn,
        |    COALESCE(lag(c) OVER wo, c) AS o,
        |    first_value(c) OVER wo2 AS c1
        |  FROM bars
        |  WINDOW wo AS (PARTITION BY event_type ORDER BY day),
        |    wo2 AS (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |t2 AS (SELECT *, CAST(o + h + l + c AS DOUBLE) / 4 AS hc
        |  FROM t1),
        |t3 AS (SELECT *, list(hc) OVER (PARTITION BY event_type
        |    ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hist
        |  FROM t2),
        |t4 AS (SELECT *,
        |    CAST(c1 AS DOUBLE) * pow(0.5, rn - 1)
        |      + CASE WHEN rn = 1 THEN 0.0
        |          ELSE list_sum(list_transform(range(1, len(hist) + 1),
        |            k -> hist[k] * pow(0.5, len(hist) - k + 1))) END
        |      AS ho
        |  FROM t3),
        |t5 AS (SELECT *, round(ho / 100, 6) + 0.0 AS ho6,
        |    round(hc / 100, 6) + 0.0 AS hc6
        |  FROM t4)
        |SELECT event_type, day, ho6 AS ha_open, hc6 AS ha_close,
        |  round(greatest(CAST(h AS DOUBLE), ho, hc) / 100, 6) + 0.0
        |    AS ha_high,
        |  round(least(CAST(l AS DOUBLE), ho, hc) / 100, 6) + 0.0
        |    AS ha_low,
        |  hc6 > ho6 AS bullish
        |FROM t5 ORDER BY event_type, day""".stripMargin)),
    Key("window_ewma_timedecay", windowEwmaTimedecay, Some(
      """WITH e AS (SELECT user_id, "value",
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |w AS (SELECT *, max(us) OVER (PARTITION BY user_id) AS last_us
        |      FROM e),
        |t AS (SELECT user_id,
        |    CAST(round("value"
        |      * exp(-(CAST(last_us - us AS DOUBLE) / 21600000000.0)), 9)
        |      AS DECIMAL(28,9)) AS term
        |  FROM w)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  round(CAST(sum(term) AS DOUBLE), 6) + 0.0 AS decayed_score
        |FROM t GROUP BY 1 ORDER BY user_id""".stripMargin)),
    Key("window_stochastic", windowStochastic, Some(duckDailyTyped +
      """w AS (SELECT event_type, day, revc,
        |    row_number() OVER wo AS rn,
        |    min(revc) OVER (wo ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |      AS l14,
        |    max(revc) OVER (wo ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |      AS h14
        |  FROM daily
        |  WINDOW wo AS (PARTITION BY event_type ORDER BY day)),
        |k AS (SELECT *,
        |    CASE WHEN h14 > l14 THEN
        |      CAST(round(100.0 * CAST(revc - l14 AS DOUBLE) / (h14 - l14),
        |                 6) AS DECIMAL(12,6)) END AS k6
        |  FROM w),
        |d AS (SELECT *,
        |    sum(k6) OVER (wo ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |      AS ks,
        |    count(k6) OVER (wo ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |      AS kn
        |  FROM k WINDOW wo AS (PARTITION BY event_type ORDER BY day))
        |SELECT event_type, day, round(CAST(k6 AS DOUBLE), 6) + 0.0
        |    AS pct_k,
        |  round(CASE WHEN kn > 0 THEN CAST(ks AS DOUBLE) / kn END, 6)
        |    + 0.0 AS pct_d
        |FROM d WHERE rn >= 14 ORDER BY event_type, day""".stripMargin)),
    Key("window_ulcer", windowUlcer, Some(duckDailyTyped +
      """p AS (SELECT event_type, day, revc,
        |    max(revc) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM daily),
        |d AS (SELECT event_type,
        |    CAST(round(100 * CAST(peak - revc AS DOUBLE) / peak, 6)
        |      AS DECIMAL(12,6)) AS dd6
        |  FROM p)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  round(CAST(max(dd6) AS DOUBLE), 6) + 0.0 AS max_drawdown_pct,
        |  round(sqrt(CAST(sum(dd6 * dd6) AS DOUBLE) / count(*)), 6) + 0.0
        |    AS ulcer_index
        |FROM d GROUP BY 1 ORDER BY event_type""".stripMargin)),
    Key("window_drawdown", windowDrawdown, Some(
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS v
        |  FROM orders GROUP BY 1),
        |r AS (SELECT day, v,
        |        max(v) OVER (ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |      FROM daily)
        |SELECT day, CAST(v AS DOUBLE) AS revenue, CAST(peak AS DOUBLE) AS peak,
        |  round(CAST(peak - v AS DOUBLE) / CAST(peak AS DOUBLE), 6) + 0.0
        |    AS drawdown
        |FROM r ORDER BY day""".stripMargin)),
    Key("window_growth", windowGrowth, Some(duckDailyY.dropRight(2) +
      """
        |SELECT a.event_type, a.day, a.y AS rev,
        |  round((a.y - b.y) / b.y * 100, 6) + 0.0 AS dod_pct,
        |  round((a.y - c.y) / c.y * 100, 6) + 0.0 AS wow_pct
        |FROM d a
        |LEFT JOIN d b ON a.event_type = b.event_type
        |  AND b.day = a.day - 1
        |LEFT JOIN d c ON a.event_type = c.event_type
        |  AND c.day = a.day - 7
        |ORDER BY a.event_type, a.day""".stripMargin)),
    Key("window_rsi", windowRsi, Some(duckDailyV +
      """d AS (SELECT *, v - lag(v) OVER wo AS delta FROM dv
        |      WINDOW wo AS (PARTITION BY event_type ORDER BY day)),
        |f AS (SELECT * FROM d WHERE delta IS NOT NULL),
        |r AS (SELECT event_type, day,
        |    row_number() OVER wo AS rn,
        |    sum(CASE WHEN delta > 0 THEN delta
        |             ELSE CAST(0 AS DECIMAL(18,2)) END) OVER w AS sg,
        |    sum(CASE WHEN delta < 0 THEN -delta
        |             ELSE CAST(0 AS DECIMAL(18,2)) END) OVER w AS sl
        |  FROM f
        |  WINDOW wo AS (PARTITION BY event_type ORDER BY day),
        |    w AS (PARTITION BY event_type ORDER BY day
        |          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, day,
        |  CAST(sg AS DOUBLE) AS sum_gain, CAST(sl AS DOUBLE) AS sum_loss,
        |  round(100 * CAST(sg AS DOUBLE) / CAST(sg + sl AS DOUBLE), 6)
        |    + 0.0 AS rsi14
        |FROM r WHERE rn >= 14 AND sg + sl > 0
        |ORDER BY event_type, day""".stripMargin)),
    Key("window_bollinger", windowBollinger, Some(duckDailyY +
      """r AS (SELECT *,
        |    row_number() OVER wo AS rn,
        |    avg(y) OVER w AS m,
        |    stddev_samp(y) OVER w AS s
        |  FROM d
        |  WINDOW wo AS (PARTITION BY event_type ORDER BY day),
        |    w AS (PARTITION BY event_type ORDER BY day
        |          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, day, y AS v,
        |  round(m, 6) + 0.0 AS ma7, round(s, 6) + 0.0 AS sd7,
        |  round(m + 2 * s, 6) + 0.0 AS upper,
        |  round(m - 2 * s, 6) + 0.0 AS lower,
        |  (y > round(m + 2 * s, 6) + 0.0 OR
        |   y < round(m - 2 * s, 6) + 0.0) AS is_break
        |FROM r WHERE rn >= 7 AND s > 0
        |ORDER BY event_type, day""".stripMargin)),
    Key("window_rolling_zscore", windowRollingZscore, Some(
      """WITH e AS (
        |  SELECT event_id, user_id, "value" AS v,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |r AS (SELECT *,
        |        row_number() OVER wo AS rn,
        |        avg(v) OVER w AS m,
        |        stddev_samp(v) OVER w AS s
        |      FROM e
        |      WINDOW
        |        wo AS (PARTITION BY user_id ORDER BY us, event_id),
        |        w AS (PARTITION BY user_id ORDER BY us, event_id
        |              ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |z AS (SELECT event_id, user_id,
        |        round((v - m) / s, 6) + 0.0 AS z
        |      FROM r WHERE rn >= 20 AND s > 0)
        |SELECT event_id, user_id, z, abs(z) > 3 AS is_out
        |FROM z ORDER BY user_id, event_id""".stripMargin)),
    Key("window_ewma", windowEwma, Some(
      // same window-listed Horner fold as the engine (the earlier
      // join-GROUP BY form summed pow()-weighted terms in whatever
      // order the hash aggregate emitted — two float-determinism holes
      // the shared [[duckEma]] device closes at once)
      s"""WITH e AS (
         |  SELECT event_id, user_id, "value" AS v,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
         |  FROM events),
         |r AS (SELECT *, list(v) OVER (PARTITION BY user_id
         |        ORDER BY us, event_id
         |        ROWS BETWEEN $EwmaLags PRECEDING AND CURRENT ROW)
         |        AS hist FROM e)
         |SELECT event_id, user_id,
         |  round(${duckEma("hist", EwmaDecay)}, 6) + 0.0 AS ewma
         |FROM r
         |ORDER BY user_id, event_id""".stripMargin)),
    Key("window_streaks", windowStreaks, Some(
      """WITH d AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |i AS (SELECT user_id,
        |        (day - DATE '1970-01-01')
        |          - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |          AS grp
        |      FROM d),
        |s AS (SELECT user_id, grp, count(*) AS len FROM i GROUP BY 1, 2)
        |SELECT user_id, max(len) AS longest_streak, count(*) AS n_streaks,
        |  CAST(sum(len) AS BIGINT) AS active_days
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Key("window_cusum", windowCusum, Some(
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST("value" AS DECIMAL(18,2)) AS v
        |  FROM events),
        |m AS (SELECT *, count(*) OVER wu AS n, sum(v) OVER wu AS sx,
        |        sum(v * v) OVER wu AS sxx
        |      FROM e WINDOW wu AS (PARTITION BY user_id)),
        |b AS (SELECT *,
        |        CAST(round(CAST(sx AS DOUBLE) / n, 6) + 0.0
        |             AS DECIMAL(24,6)) AS mu6,
        |        CAST(round(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
        |              (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))), 6)
        |             + 0.0 AS DECIMAL(24,6)) AS sd6
        |      FROM m WHERE n >= 2),
        |d AS (SELECT *, v - mu6 - sd6 * CAST(0.5 AS DECIMAL(2,1)) AS dev
        |      FROM b WHERE sd6 > 0),
        |p AS (SELECT *, sum(dev) OVER (PARTITION BY user_id
        |        ORDER BY us, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |      FROM d),
        |s AS (SELECT event_id, user_id,
        |        round(CAST(p - min(p) OVER (PARTITION BY user_id
        |            ORDER BY us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS DOUBLE) / CAST(sd6 AS DOUBLE), 6) + 0.0 AS s
        |      FROM p)
        |SELECT event_id, user_id, s, s > 5 AS alarm
        |FROM s ORDER BY user_id, event_id""".stripMargin)),
    Key("window_pivot_points", windowPivotPoints, Some(duckBars +
      """p0 AS (SELECT *,
        |    lag(h) OVER wo AS ph, lag(l) OVER wo AS pl,
        |    lag(c) OVER wo AS pc
        |  FROM bars
        |  WINDOW wo AS (PARTITION BY event_type ORDER BY day)),
        |p1 AS (SELECT *, CAST(ph + pl + pc AS DOUBLE) / 3 AS p
        |       FROM p0 WHERE ph IS NOT NULL),
        |p2 AS (SELECT *, round(p / 100, 6) + 0.0 AS p6 FROM p1)
        |SELECT event_type, day,
        |  round(CAST(c AS DOUBLE) / 100, 6) + 0.0 AS close,
        |  p6 AS pivot,
        |  round((2 * p - pl) / 100, 6) + 0.0 AS r1,
        |  round((2 * p - ph) / 100, 6) + 0.0 AS s1,
        |  round((p + (ph - pl)) / 100, 6) + 0.0 AS r2,
        |  round((p - (ph - pl)) / 100, 6) + 0.0 AS s2,
        |  CAST(c AS DOUBLE) / 100 > p6 AS above_pivot
        |FROM p2 ORDER BY event_type, day""".stripMargin)),
  )
}
