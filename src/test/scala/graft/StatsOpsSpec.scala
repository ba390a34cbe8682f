package graft

import org.apache.spark.sql.functions._
import graft.operators.StatsOps

/** Invariants for the statistics/time-series family beyond the DuckDB
  * hash oracle: mathematical properties that must hold at ANY scale
  * factor (correlation bounds and symmetry-free pair layout, regression
  * identities, entropy bounds, equi-depth balance, EWMA range-boundedness,
  * streak accounting, interpolation between-neighbors bounds).
  */
class StatsOpsSpec extends SparkSuite {

  /** Daily DECIMAL-exact revenue series per event_type, sorted by day —
    * the shared input of the forecast_holt / stats_theilsen replays. */
  private def dailySeries(): Map[String, Array[(Int, Double)]] =
    graft.sources.Tables.events(spark, sf0001)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("y"))
      .select(col("event_type"),
        datediff(col("day"), lit("1970-01-01")).as("x"), col("y"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1)
      .map { case (k, v) => k -> v.map(t => (t._2, t._3)).sortBy(_._1) }

  test("forecast_holt: matches a driver-side replay of the recursion " +
    "exactly (pre-round), and a constant series yields zero trend") {
    val out = StatsOps.forecastHolt(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val series = dailySeries()
    assert(out.keySet === series.keySet)
    series.foreach { case (k, s) =>
      var l = s(0)._2
      var b = s(1)._2 - s(0)._2
      s.drop(2).foreach { case (_, y) =>
        val l2 = 0.5 * y + (1.0 - 0.5) * (l + b)
        b = 0.3 * (l2 - l) + (1.0 - 0.3) * b
        l = l2
      }
      val (n, lev, tr, fc) = out(k)
      assert(n === s.length.toLong)
      assert(math.abs(lev - l) < 1e-6, s"$k level")
      assert(math.abs(tr - b) < 1e-6, s"$k trend")
      assert(math.abs(fc - (l + 7.0 * b)) < 2e-6, s"$k forecast")
    }
    // analytic invariant: on a constant series the recursion is a fixed
    // point — level stays at the constant, trend at zero
    var (l, b) = (5.0, 0.0)
    (1 to 50).foreach { _ =>
      val l2 = 0.5 * 5.0 + 0.5 * (l + b)
      b = 0.3 * (l2 - l) + 0.7 * b; l = l2
    }
    assert(l === 5.0 && b === 0.0)
  }

  test("forecast_holt_winters: matches a driver-side replay of the " +
    "triple-smoothing recursion, amplitude = seasonal spread") {
    val out = StatsOps.forecastHoltWinters(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val series = dailySeries()
    assert(out.keySet === series.keySet)
    series.foreach { case (k, sr) =>
      val dw = sr.map { case (x, y) => (((x % 7) + 7) % 7 + 1, y) }
      var l = 0.0
      dw.take(7).foreach { case (_, y) => l += y }
      l /= 7.0
      var b = 0.0
      val s = new Array[Double](8)
      val seen = scala.collection.mutable.Set[Int]()
      dw.take(7).foreach { case (d, y) =>
        if (!seen.contains(d)) { s(d) = y - l; seen += d }
      }
      dw.drop(7).foreach { case (d, y) =>
        // all three updates read the PRE-update state, as the engine's
        // named_struct does (st.l / st.b / st.s are the old values)
        val l2 = 0.3 * (y - s(d)) + (1.0 - 0.3) * (l + b)
        val b2 = 0.1 * (l2 - l) + (1.0 - 0.1) * b
        val s2 = 0.2 * (y - l - b) + (1.0 - 0.2) * s(d)
        l = l2; b = b2; s(d) = s2
      }
      val (n, lev, tr, fc, amp) = out(k)
      assert(n === sr.length.toLong)
      assert(math.abs(lev - l) < 1e-6, s"$k level")
      assert(math.abs(tr - b) < 1e-6, s"$k trend")
      val slots = (1 to 7).map(s(_))
      assert(math.abs(amp - (slots.max - slots.min)) < 2e-6, s"$k amplitude")
      val lastDw = dw.last._1
      assert(math.abs(fc - (l + 7.0 * b + s(lastDw))) < 2e-6, s"$k forecast")
    }
  }
  test("stats_theilsen: matches a driver-side pairwise-median replay, " +
    "and the slope is bracketed by the extreme pairwise slopes") {
    val out = StatsOps.statsTheilSen(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val series = dailySeries()
    def median(a: Array[Double]): Double = {
      val s = a.sorted; val m = s.length
      (s((m + 1) / 2 - 1) + s((m + 2) / 2 - 1)) / 2
    }
    series.foreach { case (k, s) =>
      val slopes = for {
        i <- s.indices.toArray; j <- (i + 1) until s.length
      } yield (s(j)._2 - s(i)._2) / (s(j)._1 - s(i)._1).toDouble
      val m = median(slopes)
      val icpt = median(s.map { case (x, y) => y - m * x })
      val (n, os, oi) = out(k)
      assert(n === s.length.toLong)
      assert(math.abs(os - m) < 1e-6, s"$k slope")
      assert(math.abs(oi - icpt) < 1e-6, s"$k intercept")
      assert(os >= slopes.min - 1e-9 && os <= slopes.max + 1e-9)
    }
  }

  test("anomaly_seasonal: scores non-negative, flag agrees with the " +
    "threshold, anomalies are a small minority, rows = full-window days") {
    val rows = StatsOps.anomalySeasonal(spark, sf0001).collect()
    val expected = StatsOps.seasonalDecompose(spark, sf0001).count()
    assert(rows.length.toLong === expected)
    var flagged = 0
    rows.foreach { r =>
      if (!r.isNullAt(4)) {
        val score = r.getDouble(4)
        assert(score >= 0.0)
        // flag computed on the unrounded score; the reported score is
        // 6-dp rounded, so allow the boundary half-ulp
        if (r.getBoolean(5)) { flagged += 1; assert(score >= 3.499999) }
        else assert(score <= 3.500001)
      }
    }
    // a robust 3.5×MAD band must not flag a large fraction of days
    assert(flagged <= rows.length / 5, s"$flagged/${rows.length} flagged")
  }

  test("asof_join_nearest: the matched click IS the closest click, ties " +
    "go backward, and delta sign tracks direction") {
    val out = graft.operators.AdvancedOps.asofJoinNearest(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(out.nonEmpty)
    // replay: per user, all click timestamps; per purchase, the true
    // nearest distance (backward on ties)
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val clicksByUser = ev.filter(_._3 == "click")
      .groupBy(_._2).map { case (u, v) => u -> v.map(_._4).sorted }
    val purchases = ev.filter(_._3 == "purchase")
      .map(e => (e._1, e._2, e._4)).sortBy(_._1)
    assert(out.length === purchases.length)
    out.zip(purchases).foreach { case ((pid, u, clk, dlt), (pid2, u2, us)) =>
      assert(pid === pid2 && u === u2)
      clicksByUser.get(u) match {
        case None => assert(clk.isEmpty && dlt.isEmpty)
        case Some(clicks) =>
          val best = clicks.minBy(c => (math.abs(us - c), c - us))
          assert(math.abs(us - clk.get) === math.abs(us - best),
            s"purchase $pid: not nearest")
          assert(dlt.get === us - clk.get)
      }
    }
  }

  test("sessions_concurrent: day-partitioned prefix decomposition equals " +
    "a straight global running sum replayed on the driver") {
    val out = graft.operators.AdvancedOps.sessionsConcurrent(spark, sf0001)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    val sess = graft.operators.AdvancedOps.sessionize(spark, sf0001)
      .select(col("start_us"), col("end_us")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // global replay: +1/-1 deltas plus midnight sentinels (delta 0 —
    // they sample the carry-in level so a day whose peak is held over
    // from midnight reports it), sorted (us, +1 before 0 before -1)
    val dayUs = 86400000000L
    val lo = sess.map(_._1).min / dayUs
    val hi = sess.map(_._2 + 1).max / dayUs
    val pts = (sess.map(s => (s._1, 1L)) ++ sess.map(s => (s._2 + 1, -1L))
        ++ (lo to hi).map(d => (d * dayUs, 0L)))
      .sortBy(p => (p._1, -p._2))
    var run = 0L
    val perDay = scala.collection.mutable.Map[String, (Long, Long)]()
    pts.foreach { case (us, d) =>
      run += d
      val day = java.time.Instant.ofEpochSecond(us / 1000000L)
        .toString.take(10)
      val (mx, st) = perDay.getOrElse(day, (Long.MinValue, 0L))
      perDay(day) = (math.max(mx, run), st + (if (d == 1) 1L else 0L))
    }
    assert(out.length === perDay.size)
    out.foreach { case (day, mx, started) =>
      assert((mx, started) === perDay(day), s"day $day")
      assert(mx >= 1 && mx <= sess.length.toLong)
    }
  }

  test("stats_corr_matrix: one row per unordered pair, r in [-1, 1], and " +
    "self-consistent with the two-column corr aggregate") {
    val rows = StatsOps.statsCorrMatrix(spark, sf0001).collect()
    assert(rows.length == 6) // C(4,2) unordered pairs
    rows.foreach(r => assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
    // the Gram-derived value must agree with Spark's own corr() pairwise
    // aggregate to well inside the 6-dp boundary discipline
    val li = graft.sources.Tables.lineitem(spark, sf0001)
    val direct = li.agg(corr(col("l_quantity"), col("l_extendedprice")))
      .head().getDouble(0)
    val gram = rows.find(r =>
      r.getString(0) == "l_quantity" && r.getString(1) == "l_extendedprice")
      .get.getDouble(2)
    assert(math.abs(direct - gram) < 1e-6)
  }

  test("regr_trend: slope/intercept reproduce the mean point (the OLS " +
    "line passes through (x̄, ȳ)) and r2 in [0, 1]") {
    val t = StatsOps.regrTrend(spark, sf0001).collect()
    assert(t.nonEmpty)
    val means = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_type"), col("value"),
        expr("CAST(unix_micros(ts) div 86400000000 AS DOUBLE)").as("x"))
      .groupBy("event_type").agg(avg("x").as("mx"), avg("value").as("my"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    t.foreach { r =>
      val (mx, my) = means(r.getString(0))
      // slope/intercept are 6-dp rounded in the output; the identity's
      // tolerance scales with x̄ (≈ 2·10⁴ days since epoch)
      assert(math.abs(r.getDouble(1) * mx + r.getDouble(2) - my) <
        (mx + 1) * 1e-6 + 1e-6)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0 + 1e-9)
    }
  }

  test("stats_anova: partition of total sum of squares and F consistency") {
    val r = StatsOps.statsAnova(spark, sf0001).head()
    val (k, n) = (r.getLong(0), r.getLong(1))
    val (ssb, ssw) = (r.getDouble(2), r.getDouble(3))
    val (df1, df2, f) = (r.getLong(4), r.getLong(5), r.getDouble(6))
    assert(k >= 2 && df1 == k - 1 && df2 == n - k)
    assert(ssb >= -1e-6 && ssw >= -1e-6 && f >= 0.0)
    // SSb + SSw must equal the total sum of squares (computed directly
    // from the population variance — the ANOVA decomposition identity)
    val ev = graft.sources.Tables.events(spark, sf0001)
    val sst = ev.agg((var_pop(col("value")) * count(col("value"))).as("sst"))
      .head().getDouble(0)
    assert(math.abs(ssb + ssw - sst) < sst * 1e-9 + 1e-2)
    // reported F agrees with the ratio of the reported mean squares
    // (both 6-dp rounded, so compare loosely)
    assert(math.abs(f - (ssb / df1) / (ssw / df2)) < math.abs(f) * 1e-3 + 1e-3)
  }

  test("rolling_corr: r bounded to [-1, 1] and agrees with Spark's corr " +
    "on the trailing frame") {
    val rows = StatsOps.rollingCorr(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      if (!r.isNullAt(3)) assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-9)
    }
    // spot-check the LAST frame against the two-column corr aggregate
    val lastDay = rows.last.getDate(0).toLocalDate
    val daily = graft.sources.Tables.events(spark, sf0001)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum((col("event_type") === "view").cast("long")).as("x"),
        sum((col("event_type") === "purchase").cast("long")).as("y"))
      .filter(col("day") > lit(lastDay.minusDays(14).toString) &&
        col("day") <= lit(lastDay.toString))
    val direct = daily.agg(corr(col("x"), col("y"))).head().getDouble(0)
    assert(math.abs(rows.last.getDouble(3) - direct) < 1e-6)
  }

  test("stats_psi: non-negative per type (each PSI term has matching signs)") {
    val rows = StatsOps.statsPsi(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(1) >= -1e-9,
      s"${r.getString(0)}: psi ${r.getDouble(1)}"))
  }

  test("stats_gini: bounded to [0, 1) and counts every user once") {
    val r = StatsOps.statsGini(spark, sf0001).head()
    val users = graft.sources.Tables.events(spark, sf0001)
      .select(col("user_id")).distinct().count()
    assert(r.getLong(0) == users)
    val g = r.getDouble(2)
    assert(g >= -1e-9 && g < 1.0)
  }

  test("stats_benford: digits are 1-9 and both share columns sum to 1") {
    val rows = StatsOps.statsBenford(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSet.subsetOf((1L to 9L).toSet))
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-4)
    if (rows.length == 9) // expected-law shares only total 1 when all appear
      assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < 1e-4)
  }

  test("window_drawdown: bounded to [0, 1) and zero exactly at peaks") {
    val rows = StatsOps.windowDrawdown(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (v, peak, dd) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(v <= peak + 1e-9)
      assert(dd >= -1e-9 && dd < 1.0)
      if (v == peak) assert(dd == 0.0)
    }
    // the peak series is monotone non-decreasing
    val peaks = rows.map(_.getDouble(2))
    assert(peaks.zip(peaks.tail).forall { case (a, b) => b >= a })
  }

  test("group_entropy: bounded by ln(n_langs) and non-negative") {
    StatsOps.groupEntropy(spark, sf0001).collect().foreach { r =>
      val (nLangs, h) = (r.getLong(1), r.getDouble(3))
      assert(h >= 0.0)
      assert(h <= math.log(nLangs.toDouble) + 1e-9)
    }
  }

  test("hist_equidepth: buckets cover each group exactly, counts within 1, " +
    "and ranges are ordered and non-overlapping") {
    val h = StatsOps.histEquidepth(spark, sf0001).collect()
      .groupBy(_.getString(0))
    val totals = graft.sources.Tables.events(spark, sf0001)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    h.foreach { case (et, rows) =>
      assert(rows.map(_.getLong(4)).sum == totals(et))
      val counts = rows.map(_.getLong(4))
      assert(counts.max - counts.min <= 1) // equi-depth balance
      val sorted = rows.sortBy(_.getLong(1))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getDouble(3) <= b.getDouble(2)) // hi(k) <= lo(k+1)
        case _ =>
      }
    }
  }

  test("window_ewma: every smoothed value lies within the min/max of its " +
    "user's history (convex combination)") {
    val ew = StatsOps.windowEwma(spark, sf0001).collect()
      .map(r => r.getLong(1) -> r.getDouble(2))
    val bounds = graft.sources.Tables.events(spark, sf0001)
      .groupBy("user_id").agg(min("value").as("lo"), max("value").as("hi"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(ew.nonEmpty)
    ew.foreach { case (u, v) =>
      val (lo, hi) = bounds(u)
      assert(v >= lo - 1e-6 && v <= hi + 1e-6)
    }
  }

  test("window_ewma: bit-exact against a driver-side Horner replay " +
    "(pins the libm-free EMA device of round 9)") {
    // the shared sparkEma/duckEma device must be pure IEEE mul+add over
    // the window's element order: st ← st·d + x for numerator and
    // weight-sum alike. A Scala replay of that exact op sequence must
    // therefore match to the BIT (===, not a tolerance) — any pow(),
    // reordering, or fused-multiply creeping back into the fold breaks
    // this test even when the DuckDB gate's magnitudes mask the ulp.
    val out = StatsOps.windowEwma(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val hist = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_id"), col("user_id"), col("value"),
        unix_micros(col("ts")).as("us"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._2)
    assert(out.nonEmpty)
    val d = 0.9
    hist.foreach { case (user, rows) =>
      val ordered = rows.sortBy(t => (t._4, t._1)) // (us, event_id)
      ordered.indices.foreach { i =>
        val window = ordered.slice(math.max(0, i - 49), i + 1)
        var num = 0.0; var g = 0.0
        window.foreach { t => num = num * d + t._3; g = g * d + 1.0 }
        val expected = BigDecimal(num / g)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0d
        assert(out((ordered(i)._1, user)) === expected,
          s"user $user event ${ordered(i)._1}")
      }
    }
  }

  test("window_streaks: longest <= active days, streak count positive, " +
    "and active days equals the user's distinct-day count") {
    val s = StatsOps.windowStreaks(spark, sf0001).collect()
    val dd = graft.sources.Tables.events(spark, sf0001)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s.nonEmpty)
    s.foreach { r =>
      assert(r.getLong(1) <= r.getLong(3))
      assert(r.getLong(2) >= 1)
      assert(r.getLong(3) == dd(r.getLong(0)))
    }
  }

  test("stats_ttest: one row per unordered type pair; Welch df between " +
    "min(n)-1 and n1+n2-2") {
    val ns = graft.sources.Tables.events(spark, sf0001)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = StatsOps.statsTtest(spark, sf0001).collect()
    assert(rows.length == ns.size * (ns.size - 1) / 2)
    rows.foreach { r =>
      val (na, nb) = (ns(r.getString(0)), ns(r.getString(1)))
      val df = r.getDouble(3)
      assert(df >= math.min(na, nb) - 1 - 1e-6)
      assert(df <= na + nb - 2 + 1e-6)
    }
  }

  test("stats_chi2: non-negative statistic, df = (R-1)(C-1), n equals the " +
    "event count") {
    val r = StatsOps.statsChi2(spark, sf0001).head()
    assert(r.getDouble(0) >= 0.0)
    assert(r.getLong(1) == (5 - 1) * (7 - 1)) // 5 event types × 7 weekdays
    assert(r.getLong(2) ==
      graft.sources.Tables.events(spark, sf0001).count())
  }

  test("window_rolling_zscore: emitted only for full windows; flag matches " +
    "the 3-sigma rule on the rounded score") {
    val rows = StatsOps.windowRollingZscore(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(3) == (math.abs(r.getDouble(2)) > 3))
    }
    // row count = events minus the 19-row warmup per user (no σ=0 groups
    // in this continuous-valued data)
    val expected = graft.sources.Tables.events(spark, sf0001)
      .groupBy("user_id").count().collect()
      .map(r => math.max(r.getLong(1) - 19, 0)).sum
    assert(rows.length == expected)
  }

  test("stats_acf: 7 lags, |acf| <= 1, and lag-1 matches a driver-side " +
    "Pearson on the same daily series") {
    val daily = graft.sources.Tables.events(spark, sf0001)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
      .collect().map(r => r.getDate(0).toLocalDate -> r.getDouble(1)).toMap
    val rows = StatsOps.statsAcf(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 7L))
    rows.foreach(r => assert(math.abs(r.getDouble(2)) <= 1.0))
    val pairs = daily.toSeq.flatMap { case (d, v) =>
      daily.get(d.minusDays(1)).map(pv => (v, pv))
    }
    val n = pairs.length.toDouble
    val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
    val sxy = pairs.map(p => p._1 * p._2).sum
    val sxx = pairs.map(p => p._1 * p._1).sum
    val syy = pairs.map(p => p._2 * p._2).sum
    val ref = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    val lag1 = rows.find(_.getLong(0) == 1L).get
    assert(lag1.getLong(1) == pairs.length)
    assert(math.abs(lag1.getDouble(2) - ref) < 1e-6)
  }

  test("resample_interp: known days round-trip, gap days lie between their " +
    "neighbors' values, and the spine is dense per user") {
    val rows = StatsOps.resampleInterp(spark, sf0001).collect()
    val byUser = rows.groupBy(_.getLong(0))
    byUser.foreach { case (_, rs) =>
      val days = rs.map(_.getString(1)).sorted
      // dense day spine: consecutive calendar days
      days.sliding(2).foreach {
        case Array(a, b) =>
          assert(java.time.LocalDate.parse(b).toEpochDay ==
            java.time.LocalDate.parse(a).toEpochDay + 1)
        case _ =>
      }
      // first and last rows are observed (spine spans known endpoints)
      val sortedRows = rs.sortBy(_.getString(1))
      assert(!sortedRows.head.getBoolean(3) && !sortedRows.last.getBoolean(3))
      // every gap value lies within [min, max] of the known values
      val known = rs.filter(!_.getBoolean(3)).map(_.getDouble(2))
      val (lo, hi) = (known.min, known.max)
      rs.filter(_.getBoolean(3)).foreach { g =>
        assert(g.getDouble(2) >= lo - 1e-6 && g.getDouble(2) <= hi + 1e-6)
      }
    }
  }

  test("window_cusum: statistic is non-negative, zero at each user's first " +
    "event, and alarm fires exactly when s > 5") {
    val rows = StatsOps.windowCusum(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0)
      assert(r.getBoolean(3) == (r.getDouble(2) > 5.0))
    }
    // rows arrive ordered (user_id, event_id) = the CUSUM time order per
    // user, so the first row of each user group is that user's first
    // event: P_1 - min(P_1) = 0
    rows.groupBy(_.getLong(1)).foreach { case (_, rs) =>
      assert(rs.head.getDouble(2) == 0.0)
    }
  }

  test("stats_ks: one row; D in [0, 1] and matches a driver-side exact " +
    "two-sample ECDF sup; lambda consistent with D") {
    val Seq(row) = StatsOps.statsKs(spark, sf0001).collect().toSeq
    val (n1, n2, d, lambda) =
      (row.getLong(0), row.getLong(1), row.getDouble(2), row.getDouble(3))
    assert(d >= 0.0 && d <= 1.0)
    val vals = graft.sources.Tables.events(spark, sf0001)
      .filter(col("event_type").isin("click", "purchase"))
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val a = vals.filter(_._1 == "click").map(_._2).sorted
    val b = vals.filter(_._1 == "purchase").map(_._2).sorted
    assert(a.length == n1 && b.length == n2)
    val grid = (a ++ b).distinct.sorted
    val refD = grid.map { x =>
      math.abs(a.count(_ <= x).toDouble / a.length -
        b.count(_ <= x).toDouble / b.length)
    }.max
    assert(math.abs(d - refD) < 1e-6)
    assert(math.abs(lambda -
      refD * math.sqrt(n1.toDouble * n2 / (n1 + n2))) < 1e-5)
  }

  test("stats_mannwhitney: U1 + U2 = n1*n2, and U1 matches a driver-side " +
    "exact rank-sum with tie-averaged ranks") {
    val Seq(row) = StatsOps.statsMannWhitney(spark, sf0001).collect().toSeq
    val (n1, n2, u1, u2) =
      (row.getLong(0), row.getLong(1), row.getDouble(2), row.getDouble(3))
    assert(math.abs((u1 + u2) - n1.toDouble * n2) < 1e-6)
    val vals = graft.sources.Tables.events(spark, sf0001)
      .filter(col("event_type").isin("click", "purchase"))
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val all = vals.sortBy(_._2)
    // tie-averaged ranks: group equal values, average their 1-based ranks
    val ranks = scala.collection.mutable.Map.empty[Double, Double]
    var i = 0
    while (i < all.length) {
      var j = i
      while (j < all.length && all(j)._2 == all(i)._2) j += 1
      val avg = (i + 1 + j).toDouble / 2 // mean of ranks i+1 .. j
      ranks(all(i)._2) = avg
      i = j
    }
    val r1 = vals.filter(_._1 == "click").map(v => ranks(v._2)).sum
    val na = vals.count(_._1 == "click")
    assert(na == n1)
    assert(math.abs(u1 - (r1 - na.toDouble * (na + 1) / 2)) < 1e-5)
  }

  test("stats_bootstrap: 32 resamples, ordered quantiles bracketed by " +
    "min/max, and the CI covers the plain sample mean") {
    val Seq(row) = StatsOps.statsBootstrap(spark, sf0001).collect().toSeq
    assert(row.getLong(0) == 32L)
    val (lo, med, hi, mn, mx) = (row.getDouble(1), row.getDouble(2),
      row.getDouble(3), row.getDouble(4), row.getDouble(5))
    assert(mn <= lo && lo <= med && med <= hi && hi <= mx)
    val mean = graft.sources.Tables.events(spark, sf0001)
      .agg(avg(col("value"))).head.getDouble(0)
    // Poisson resample means center on the sample mean; at n=1000 the
    // 95% CI comfortably covers it (deterministic: fixed hash weights)
    assert(mean >= lo && mean <= hi, s"$mean notin [$lo, $hi]")
  }

  test("seasonal_decompose: components reassemble the series " +
    "(v = trend + seasonal + resid) and seasonal takes <= 7 values") {
    val rows = StatsOps.seasonalDecompose(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (v, t, s, res) =
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(math.abs(v - (t + s + res)) < 5e-6)
    }
    assert(rows.map(_.getDouble(3)).distinct.length <= 7)
  }

  test("stats_anderson_darling: finite A² under an extreme-outlier day " +
    "(phi clamp keeps ln terms off the {0,1} saturation points)") {
    // one day at 1e6 against 89 days at 1.00 puts the outlier's z at
    // ~sqrt(n-1) ≈ 9.4 — past the |z| ≈ 8.5 point where the A–S
    // polynomial saturates to exactly 1.0 and ln(1-phi) would be -Inf
    val dir = tempDir("graft_adclamp").toString
    val rows = (0 until 90).map { i =>
      val v = if (i == 89) 1000000.0 else 1.0
      val day = java.time.LocalDate.of(2026, 1, 1).plusDays(i.toLong)
      (i.toLong, java.sql.Timestamp.valueOf(day.atTime(12, 0)),
        1L, "click", v, "{}")
    }
    spark.createDataFrame(rows).toDF(
      "event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val out = StatsOps.statsAndersonDarling(spark, dir).collect()
    assert(out.length === 1)
    val r = out.head
    val a2 = r.getDouble(r.fieldIndex("a2"))
    val a2s = r.getDouble(r.fieldIndex("a2_star"))
    assert(!a2.isNaN && !a2.isInfinite, s"a2 = $a2")
    assert(!a2s.isNaN && !a2s.isInfinite, s"a2_star = $a2s")
    // and the test still does its job: the outlier day is decidedly
    // non-normal
    assert(r.getBoolean(r.fieldIndex("normal_rejected")))
  }

  test("dailyTyped: per-(type, day) revenue equals a driver-side sum of " +
    "each value's exact cents; dailyZ's z has mean 0 per type") {
    val daily = StatsOps.dailyTyped(spark, sf0001)
    assert(daily.columns.toSeq === Seq("event_type", "day", "revc"))
    val got = daily.collect().map(r =>
      (r.getString(0), r.getDate(1).toLocalDate) -> r.getLong(2)).toMap
    val want = graft.sources.Tables.events(spark, sf0001)
      .select(col("event_type"), to_date(col("ts")), col("value"))
      .collect()
      .groupBy(r => (r.getString(0), r.getDate(1).toLocalDate))
      .map { case (k, rs) => k -> rs.map(r =>
        (BigDecimal(r.getDouble(2))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact)
        .sum }
    assert(got.size > 50)
    assert(got === want)
    val z = StatsOps.dailyZ(spark, sf0001)
      .groupBy(col("event_type"))
      .agg(avg(col("z")).as("mz"), count(lit(1)).as("k"),
        first(col("n")).as("n"))
      .collect()
    assert(z.map(_.getString(0)).toSet === want.keySet.map(_._1))
    z.foreach { r =>
      assert(math.abs(r.getDouble(1)) < 1e-9, r.toString)
      assert(r.getLong(2) === r.getLong(3), r.toString)
    }
  }
}
