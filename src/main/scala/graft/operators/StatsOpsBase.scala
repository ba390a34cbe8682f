package graft.operators
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.OpsHelpers.{ev, pearsonSums, r6}

/** Shared devices of the [[StatsOps]] family traits: median/grid/survival
  * frames, the Φ polynomial, and the DuckDB CTE strings their oracles
  * compose (the events loader and rounding are [[OpsHelpers]]').
  * `protected` — they are implementation details of the StatsOps object,
  * not API. */
private[operators] trait StatsOpsBase {

  /** Explicit middle-pair median of `v`, one row per `keys` combination
    * (global when `keys` is empty): order, take rows (m+1)÷2 and
    * (m+2)÷2, average — identical arithmetic in DuckDB, so no engine
    * quantile-interpolation implementation ever enters an oracle
    * compare. Shared by stats_theilsen and anomaly_seasonal. Integer
    * `div`, not Column./ — the latter is DOUBLE division on longs, and
    * an even m would yield k+0.5, matching neither middle row. */
  protected def explicitMedian(df: DataFrame, v: String,
      keys: Seq[String]): DataFrame = {
    val part =
      if (keys.isEmpty) Window.partitionBy(lit(1))
      else Window.partitionBy(keys.map(col): _*)
    val ranked = df
      .withColumn("rn", row_number().over(part.orderBy(col(v))))
      .withColumn("m", count(lit(1)).over(part))
      .filter(col("rn") === expr("(m + 1) div 2") ||
        col("rn") === expr("(m + 2) div 2"))
    if (keys.isEmpty) ranked.agg(avg(col(v)).as(v))
    else ranked.groupBy(keys.map(col): _*).agg(avg(col(v)).as(v))
  }

  // ── full Pearson correlation matrix over lineitem's measures in ONE
  // pass: graft_gram accumulates n, Σxᵢ and the Σxᵢxⱼ upper triangle as a
  // single mergeable aggregate, and the 6 pairwise correlations are pure
  // arithmetic on the resulting 1-row array — where a naive corr(a,b)
  // per pair either rescans or at best re-aggregates per pair, this is
  // one scan + one ~120-byte reduce regardless of table size. corr is
  // scale-factor-invariant, so the population-moment form here equals
  // DuckDB's sample corr exactly (the n/(n−1) factors cancel). ──
  protected val CorrCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** [[windowEwma]] truncation: weights beyond 49 lags are ≤ 0.9⁵⁰ ≈
    * 0.5%, below the 6-dp output rounding for this data's magnitudes —
    * so a 50-row frame gives the exact same rounded answer as the
    * unbounded recurrence while keeping per-row state O(1). */
  protected val EwmaLags = 49

  protected val EwmaDecay = "0.9"

  /** [[statsKs]] samples: the two behavioral distributions compared. */
  protected val KsTypeA = "click"

  protected val KsTypeB = "purchase"

  /** [[statsBootstrap]] resample count and the Poisson(1) CDF in ppm —
    * P(X≤k) for k=0..4, tail folded into weight 5 (P(X≥6) ≈ 6e-4). The
    * SAME integer constants appear in the DuckDB oracle, so the resample
    * weights are engine-identical by construction. */
  protected val BootB = 32

  protected val BootCdfPpm = Seq(367879, 735759, 919699, 981012, 996340)

  /** [[statsPsi]] period split (2024-01-16 UTC, µs) — the same boundary
    * the versioned-store keys commit at, so the two periods are the two
    * snapshots a monitoring job would actually compare. */
  protected val PsiSplitUs = 1705363200000000L

  // ── Holt linear-trend exponential smoothing of each event_type's daily
  // revenue series — the forecasting step up from window_ewma (level only)
  // and regr_trend (global OLS line): level AND trend adapt recursively,
  // so the 7-day-ahead forecast tracks recent drift instead of the
  // all-history average. The recursion is inherently sequential, which is
  // exactly why it runs on the RIGHT side of the aggregation boundary: the
  // 100 TB fact table reduces to group-sized daily series via one keyed
  // partial-aggregated groupBy (DECIMAL sums → order-independent, so the
  // collected y values are bit-identical to the oracle's), and the fold
  // itself is a per-key `aggregate` HOF over ≤ a-few-thousand elements —
  // codegen'd arithmetic on group-sized state, never a pass over raw rows.
  // Init (Hyndman & Athanasopoulos, fpp3 §8.2 simple-init form): the
  // first two observations are consumed by l=y₁, b=y₂−y₁, and the update
  // lₜ=αyₜ+(1−α)(lₜ₋₁+bₜ₋₁), bₜ=β(lₜ−lₜ₋₁)+(1−β)bₜ₋₁ then runs over
  // y₃…yₙ (y₂ initializes, it is not also re-smoothed). The oracle replays
  // the identical recursion as a recursive CTE — same literals, same
  // operation order, bit-equal doubles until the single boundary round. ──
  protected val HoltA = "0.5"

  protected val HoltB = "0.3"

  // ── Holt-Winters additive triple smoothing: [[forecastHolt]] plus a
  // 7-slot weekly seasonal state — the forecaster that knows Mondays
  // differ from Sundays. Same scale shape: ONE keyed aggregation reduces
  // the fact table to group-sized daily series; the recursion folds over
  // that series as a codegen'd `aggregate` HOF whose state is a
  // (level, trend, s[7]) struct. Update (Hyndman fpp3 §8.3, additive):
  //   lₜ = α(yₜ−s_slot) + (1−α)(lₜ₋₁+bₜ₋₁)
  //   bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁
  //   s_slot ← γ(yₜ−lₜ₋₁−bₜ₋₁) + (1−γ)s_slot
  // Pinned simple init: l₀ = mean of the first 7 observations
  // (left-associated sum — the oracle repeats the same association),
  // b₀ = 0, s_slot = (that slot's first-week y) − l₀. The weekday slot
  // is epoch-day mod 7 — ENGINE-NEUTRAL, unlike dayofweek() whose
  // Sunday origin differs between Spark (1) and DuckDB (0). Assumes ≥ 8
  // observations per key (every tested SF has ≥ 30); the oracle replays
  // the recursion as a recursive CTE carrying the 7 slots as columns. ──
  protected val HwA = "0.3"

  protected val HwB = "0.1"

  protected val HwG = "0.2"

  /** Daily DECIMAL-exact value sums per event_type with an integer day
    * index — the group-sized series the residual-diagnostic keys
    * ([[statsDw]], [[statsRuns]]) analyze. The 100 TB fact table
    * reduces to ≤|days| rows per group FIRST; everything after runs on
    * model-sized frames. */
  protected def dailySeries(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(col("event_type"),
        expr("us div 86400000000").as("dayno"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))

  /** The stats_friedman block grid (zero-filled day×type cells with
    * doubled within-day midranks), shared by [[statsQuade]],
    * [[statsNemenyi]], [[statsKendallW]] and [[statsPageTrend]] so the
    * blocked-rank keys rank identically. `typeIndex` adds j, each type's
    * 1-based position in name order. */
  protected def friedmanGrid(spark: SparkSession, dir: String,
      typeIndex: Boolean = false): DataFrame = {
    val rev = dailyTyped(spark, dir)
    val days = rev.select(col("day")).distinct()
    val names = rev.select(col("event_type")).distinct()
    val types = if (!typeIndex) names else names.withColumn("j",
      row_number().over(Window.partitionBy(lit(1)).orderBy(col("event_type"))))
    val grid = days.crossJoin(broadcast(types))
      .join(rev, Seq("day", "event_type"), "left")
      .withColumn("revc", coalesce(col("revc"), lit(0L)))
    grid.withColumn("r2x",
      rank().over(Window.partitionBy(col("day")).orderBy(col("revc"))) * 2
        + count(lit(1)).over(Window.partitionBy(col("day"), col("revc")))
        - 1)
  }

  /** Nemenyi q_0.05/√2 critical constants by treatment count (published
    * Studentized-range table; the SAME literals appear in the oracle). */
  protected val NemenyiQ = Map(2 -> "1.959964", 3 -> "2.343701",
    4 -> "2.569032", 5 -> "2.727774", 6 -> "2.849705")

  // ── survival analysis over the event stream: per user, hours from
  // FIRST activity to first high-value purchase (value ≥ 80); users who
  // never convert are right-CENSORED at the corpus horizon — the
  // "time-to-convert with censoring done right" upgrade of
  // funnel_time_to_convert, which silently drops non-converters and so
  // overstates conversion speed. One row per user (keyed aggregation of
  // the 100 TB stream), then every curve/test below runs on the
  // time-grid-sized frame (≤ distinct hours — group-sized state, the
  // stats_ecdf convention for its windows). Durations are pure int64
  // epoch-µs arithmetic, bit-equal in any engine. ──
  protected def survSubjects(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val subj = e.groupBy(col("user_id"))
      .agg(min(col("us")).as("t0"),
        min(when(col("event_type") === "purchase" && col("value") >= 80,
          col("us"))).as("tp"))
    val mx = e.agg(max(col("us")).as("mxus"))
    subj.crossJoin(broadcast(mx))
      .select(col("user_id"),
        when(col("tp").isNotNull, 1L).otherwise(0L).as("observed"),
        expr("(coalesce(tp, mxus) - t0) div 3600000000").as("t"))
  }

  /** Kaplan–Meier steps of [[survSubjects]] rows `s` per `keys` group:
    * the events d and censorings c at each t, the at-risk count n_risk,
    * and cuml, the running DECIMAL sum of ln(1 − d/n_risk) snapped to
    * 9 dp (its term is null where d is 0 or d = n_risk). */
  protected def kmSteps(s: DataFrame, keys: String*): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("t"))
    s.groupBy(keys.map(col) :+ col("t"): _*)
      .agg(sum(col("observed")).as("d"),
        sum(lit(1L) - col("observed")).as("c"))
      .withColumn("n_risk",
        sum(col("d") + col("c")).over(
          w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("term", expr(
        """CASE WHEN d > 0 AND d < n_risk
          |THEN CAST(round(ln(1.0 - cast(d as double) / n_risk), 9)
          |          AS DECIMAL(18,9)) END""".stripMargin))
      .withColumn("cuml",
        sum(col("term")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
  }

  // One shared set of smoothing constants, stringified from the SAME
  // Scala doubles the oracle interpolates — Scala's Double.toString is
  // the shortest round-trip representation, so both engines parse the
  // bit-identical constant.
  protected val MacdD12 = (11.0 / 13.0).toString

  protected val MacdD26 = (25.0 / 27.0).toString

  protected val MacdD9 = (0.8).toString

  protected val KeltD = (19.0 / 21.0).toString

  protected val CrostonA = (0.1).toString

  /** Stratified 2×2 table frame shared by [[statsMantelHaenszel]] and
    * [[statsWoolf]]: stratum = day-of-week, exposure = the portable
    * user-hash arm (ab_srm_check's replayable assignment), outcome =
    * purchase event. One keyed aggregation to 7 rows of exact int64
    * cell counts. */
  protected def strataTables(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .withColumn("arm", expr(
        "pmod(pmod(user_id, 2147483648) * 2654435761, 2147483648) % 2"))
      .withColumn("dow", expr("pmod(datediff(day, DATE'1970-01-01'), 7)"))
      .withColumn("succ", (col("event_type") === "purchase").cast("long"))
      .groupBy(col("dow"))
      .agg(sum(when(col("arm") === 1, col("succ")).otherwise(0L)).as("a"),
        sum(when(col("arm") === 1, lit(1L) - col("succ")).otherwise(0L))
          .as("b"),
        sum(when(col("arm") === 0, col("succ")).otherwise(0L)).as("c"),
        sum(when(col("arm") === 0, lit(1L) - col("succ")).otherwise(0L))
          .as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))

  // ── normal Q-Q table for daily revenue: empirical deciles of the
  // standardized series against the STANDARD NORMAL deciles —
  // stats_jarque_bera gives one number; this shows WHERE normality
  // fails (tails vs shoulders), which decides between a log transform
  // and a robust method. Empirical deciles use the established
  // percentile ↔ quantile_cont pairing on the day-grid frame;
  // standardization comes from exact cent moments; the reference
  // quantiles are the published Φ⁻¹ decile constants (a fixed literal
  // ladder — no erf needed in either engine). ──
  protected val NormalDeciles = Seq(
    1 -> -1.2815515655446004, 2 -> -0.8416212335729142,
    3 -> -0.5244005127080407, 4 -> -0.2533471031357997,
    5 -> 0.0, 6 -> 0.2533471031357997, 7 -> 0.5244005127080407,
    8 -> 0.8416212335729142, 9 -> 1.2815515655446004)

  /** User-spend-in-cents frame shared by the entropy-inequality keys:
    * positive totals only (log/reciprocal domains), exact int64. */
  protected def userSpendPos(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir).groupBy(col("user_id"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long")
        .as("xc"))
      .filter(col("xc") > 0)

  /** [[forecastTheta]] SES smoothing constant (shared with the oracle). */
  protected val ThetaA = "0.3"

  /** [[forecastDamped]] parameters (shared with the oracle): the
    * forecast_holt α/β plus the damping φ. */
  protected val DampA = "0.5"

  protected val DampB = "0.3"

  protected val DampP = "0.9"

  /** The 7-step damping multiplier Σ_{k=1..7} φᵏ = φ(1−φ⁷)/(1−φ),
    * pre-evaluated HERE by repeated IEEE multiply and interpolated into
    * both engines as the same shortest-round-trip literal — the closed
    * form called pow(φ, 7), a libm function whose low bit Java and C
    * may disagree on inside a 6-dp-rounded compare. */
  protected val DampSum7: String = {
    var s = 0.0; var p = 1.0
    for (_ <- 1 to 7) { p *= 0.9; s += p }
    s.toString
  }

  /** Standard-normal CDF as a SQL snippet — Abramowitz & Stegun 7.1.26
    * (max abs error 1.5e-7, well inside the 6-dp compare): the SAME
    * string is embedded in the Spark expr and the DuckDB oracle, so the
    * arithmetic is token-identical in both engines. `x` must be a plain
    * column reference or parenthesized expression. */
  protected def phiSql(x: String): String = {
    val z = s"(abs($x) / sqrt(2.0))"
    val t = s"(1.0 / (1.0 + 0.3275911 * $z))"
    val poly = s"($t * (0.254829592 + $t * (-0.284496736 + $t *" +
      s" (1.421413741 + $t * (-1.453152027 + $t * 1.061405429)))))"
    s"(0.5 * (1.0 + (CASE WHEN $x < 0 THEN -1.0 ELSE 1.0 END)" +
      s" * (1.0 - $poly * exp(-$z * $z))))"
  }

  /** Shared frame of the estimated-parameter normality tests
    * ([[statsAndersonDarling]], [[statsCvm]]): [[dailyZ]] plus the ECDF
    * rank over the (revc, day) total order and Φ(z) via the
    * token-identical [[phiSql]] polynomial, clamped off {0, 1}.
    * [[statsLilliefors]] ranks the same frame but keeps the unclamped Φ,
    * so its D statistic differs from a clamped one only for |z| ≳ 8.5. */
  protected def normalityFrame(spark: SparkSession, dir: String): DataFrame =
    dailyZ(spark, dir)
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("event_type")).orderBy(col("revc"), col("day"))))
      // clamped off the exact {0,1} saturation points of the A–S
      // polynomial (|z| ≳ 8.5): one extreme-outlier day would otherwise
      // make AD's ln(phi)/ln(1−phi) a -Inf/NaN in BOTH engines — and
      // non-finite doubles serialize differently across them, breaking
      // the bit-exact gate. Identity everywhere else (the clamp binds
      // only within 1e-15 of the endpoints; outputs snap at 6-9 dp).
      .withColumn("phi", expr(
        s"greatest(least(${phiSql("z")}, 1.0 - 1e-15), 1e-15)"))

  /** The stats_moments oracle, shared verbatim by stats_jarque_bera
    * (which derives JB from the rounded moments). */
  protected val MomentsSql: String =
    """WITH b AS (
      |  SELECT event_type,
      |    CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT) AS iv
      |  FROM events),
      |s AS (
      |  SELECT event_type, count(*) AS n,
      |    sum(CAST(iv AS HUGEINT)) AS s1,
      |    sum(CAST(iv * iv AS HUGEINT)) AS s2,
      |    sum(CAST(iv * iv * iv AS HUGEINT)) AS s3,
      |    sum(CAST(iv * iv AS HUGEINT) * (iv * iv)) AS s4
      |  FROM b GROUP BY 1)
      |SELECT event_type, n,
      |  round(CAST(s1 AS DOUBLE) / n / 100, 6) + 0.0 AS mean,
      |  round(
      |    (CAST(s3 AS DOUBLE) / n
      |      - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
      |      + 2 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
      |          * (CAST(s1 AS DOUBLE) / n))
      |    / ((CAST(s2 AS DOUBLE) / n
      |         - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
      |       * sqrt(CAST(s2 AS DOUBLE) / n
      |         - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))),
      |    6) + 0.0 AS skewness,
      |  round(
      |    (CAST(s4 AS DOUBLE) / n
      |      - 4 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
      |      + 6 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
      |          * (CAST(s2 AS DOUBLE) / n)
      |      - 3 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
      |          * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
      |    / ((CAST(s2 AS DOUBLE) / n
      |         - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
      |       * (CAST(s2 AS DOUBLE) / n
      |         - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
      |    - 3, 6) + 0.0 AS kurtosis
      |FROM s ORDER BY event_type""".stripMargin

  /** Shared subject-level CTE block of the survival keys: one row per
    * user with (observed, t hours), censoring at the corpus horizon —
    * the SQL twin of [[survSubjects]]. */
  protected val survCtes: String =
    """WITH mx AS (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS mxus
      |           FROM events),
      |subj AS (
      |  SELECT user_id, min(epoch_us(CAST(ts AS TIMESTAMP))) AS t0,
      |    min(CASE WHEN event_type = 'purchase' AND "value" >= 80
      |        THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS tp
      |  FROM events GROUP BY 1),
      |s AS (SELECT user_id,
      |        CAST(CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
      |          AS observed,
      |        (COALESCE(tp, mxus) - t0) // 3600000000 AS t
      |      FROM subj CROSS JOIN mx)""".stripMargin

  /** Spark-side finite-history EMA over a window-listed history `h` as a
    * HORNER fold: one pass accumulates numerator Σ xᵢ·d^(n−1−i) and
    * weight-sum Σ d^k together via st ← st·d + x — ONLY IEEE mul+add, no
    * libm. The previous closed form (per-term `pow(d, k)` weights and a
    * (1−dⁿ)/α normalizer) called `pow`, and Java vs C pow disagree by an
    * ulp on non-exact bases: at sf0.1 that ulp crossed a 6-dp round
    * boundary in window_macd (gate-measured, 3 rows on adjacent 1e-6
    * grid points). A mul/add chain is bit-identical in any IEEE-754
    * engine given the same element order, which the ordered window list
    * pins — [[duckEma]] replays the identical op sequence (init 0 here
    * folds 0·d + x₁ = x₁, exactly DuckDB's reduce-from-first-element). */
  protected def sparkEma(h: String, d: String): String =
    s"""(aggregate($h,
       |  named_struct('num', CAST(0 AS DOUBLE), 'g', CAST(0 AS DOUBLE)),
       |  (st, x) -> named_struct(
       |    'num', st.num * ${d}D + x,
       |    'g',   st.g * ${d}D + 1.0D),
       |  st -> st.num / st.g))""".stripMargin

  /** Duck-side twin of [[sparkEma]] — same Horner mul/add chain over the
    * same list order (list_reduce seeds with element 1, matching the
    * Spark fold's first step); the fold runs twice (num, then g) because
    * DuckDB lacks a finish lambda — day-grid-sized lists, negligible. */
  protected def duckEma(h: String, d: String): String = {
    // the decay constant is QUOTED so DuckDB takes its correctly-rounded
    // string→double path: an unquoted 16-dp literal parses as
    // DECIMAL(17,16), whose unscaled value exceeds 2^53 — the
    // DECIMAL→DOUBLE cast then double-rounds to a double one ulp away
    // from Spark's Java-parsed `<literal>D` (measured on MacdD26,
    // 0.9259259259259259). Same class as the q_* VARCHAR route in
    // stats_stl_strength.
    val fold =
      s"""list_reduce(
         |  list_transform($h, x -> struct_pack(num := x,
         |    g := CAST(1 AS DOUBLE))),
         |  (acc, x) -> struct_pack(
         |    num := acc.num * CAST('$d' AS DOUBLE) + x.num,
         |    g   := acc.g * CAST('$d' AS DOUBLE) + x.g))""".stripMargin
    s"(struct_extract($fold, 'num') / struct_extract($fold, 'g'))"
  }

  // z constants are quoted for the same reason as duckEma's decay: a
  // 17-sig-digit literal parses as DECIMAL(17,16) whose unscaled value
  // exceeds 2^53, and the DECIMAL→DOUBLE cast double-rounds (these
  // particular values happen to survive, measured — but that is margin,
  // not correctness; the string→double path is always correctly rounded)
  protected val duckNormalDeciles: String = NormalDeciles
    .map { case (d, z) => s"($d, CAST('$z' AS DOUBLE))" }.mkString(", ")

  // ── the shared base frames. Each is a lazy DataFrame (nothing runs
  // until a key's plan does, so every Eager checkpoint stays at its key)
  // and the Spark twin of the duck* CTE named in its doc. ──

  /** Per-type daily revenue in exact int64 cents: (event_type, day, revc)
    * plus any `extra` aggregates over the same groups. The fact table
    * reduces here to ≤ |types|×|days| rows; every daily-series key runs
    * on this frame. Twin of [[duckDailyTyped]]. */
  private[graft] def dailyTyped(spark: SparkSession, dir: String,
      extra: Column*): DataFrame =
    ev(spark, dir).groupBy(col("event_type"), col("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long")
        .as("revc"), extra: _*)

  /** [[dailyTyped]] standardized per type: adds the day count n, mean mu
    * and sample sd from exact int64/DECIMAL cents moments, and
    * z = (revc − mu)/sd. Twin of [[duckZSeries]]' mo/mm/zs CTEs. */
  private[graft] def dailyZ(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyTyped(spark, dir)
    val mom = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("revc")).as("s1"),
        sum(expr("CAST(revc AS DECIMAL(28,0)) * revc")).as("s2"))
      .withColumn("mu", expr("cast(s1 as double) / n"))
      .withColumn("sd", expr(
        "sqrt(cast(n * s2 - CAST(s1 AS DECIMAL(28,0)) * s1 as double)" +
          " / (cast(n as double) * (n - 1)))"))
      .select(col("event_type"), col("n"), col("mu"), col("sd"))
    daily.join(broadcast(mom), "event_type")
      .withColumn("z", expr("(revc - mu) / sd"))
  }

  /** Per-type daily bars in exact cents: high h, low l, close c (the
    * day's last value by the unique (us, event_id) order, via struct-max
    * — no argmax ambiguity) and the event count vol. Twin of
    * [[duckBars]], which carries no vol. */
  protected def ohlcBars(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .withColumn("vc",
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .groupBy(col("event_type"), col("day"))
      .agg(max(col("vc")).as("h"), min(col("vc")).as("l"),
        max(struct(col("us"), col("event_id"), col("vc")))
          .getField("vc").as("c"),
        count(lit(1)).as("vol"))

  /** [[ohlcBars]] with each type's day rank rn, the previous close pc and
    * the integer true range tr = max(h − l, |h − pc|, |l − pc|). */
  protected def trueRangeBars(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    ohlcBars(spark, dir)
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("pc", lag(col("c"), 1).over(wOrd))
      .withColumn("tr", greatest(col("h") - col("l"),
        abs(col("h") - col("pc")), abs(col("l") - col("pc"))))
  }

  /** `daily` (event_type, day, v) moved `k` calendar days later, its v
    * as v<k>: joined on (event_type, day) it pairs each day with the day
    * k earlier, and a gap day drops out on both engines alike. */
  protected def calendarLag(daily: DataFrame, k: Int): DataFrame =
    daily.select(col("event_type"), date_add(col("day"), k).as("day"),
      col("v").as(s"v$k"))

  /** Per-type (n, s1, s2) of `value`: count, Σv and Σv² as DECIMAL-exact
    * sums cast once to double. */
  protected def valueMoments(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("s1"),
        sum(col("value").cast("decimal(18,2)") *
          col("value").cast("decimal(18,2)")).cast("double").as("s2"))

  /** The two-sample value grid of the [[KsTypeA]]/[[KsTypeB]] tests: one
    * row per distinct value with its sample counts a, b and tie size
    * t = a + b — ≤ |distinct values| rows, the 2-dp metric domain. */
  protected def ksCounts(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .filter(col("event_type").isin(KsTypeA, KsTypeB))
      .groupBy(col("value"))
      .agg(sum(when(col("event_type") === KsTypeA, 1L).otherwise(0L)).as("a"),
        sum(when(col("event_type") === KsTypeB, 1L).otherwise(0L)).as("b"))
      .withColumn("t", col("a") + col("b"))

  /** Lag-k Pearson r of a daily series `v` against itself k calendar days
    * earlier, k = 1..maxLag, per `keys` group: (keys…, lag, n, r). Pairs
    * come from a calendar-day self-join (gap days drop out of both sides
    * identically); moments are DECIMAL(18,2) sums cast once to double,
    * and r is snapped to 6 dp. */
  protected def lagCorr(daily: DataFrame, maxLag: Int,
      keys: String*): DataFrame = {
    val lagged = daily
      .withColumn("lag", explode(sequence(lit(1), lit(maxLag))))
      .withColumn("prev_day", date_sub(col("day"), col("lag")))
      .join(daily.select(keys.map(col) ++
        Seq(col("day").as("prev_day"), col("v").as("pv")): _*),
        keys :+ "prev_day")
    // daily totals carry exactly 2 decimals: DECIMAL(18,2) is lossless and
    // keeps products inside width 38 in BOTH engines (28,6)² would spill
    // DuckDB to double and reintroduce order-dependence)
    val x = col("v").cast("decimal(18,2)")
    val y = col("pv").cast("decimal(18,2)")
    val nD = col("n").cast("double")
    lagged.groupBy(keys.map(col) :+ col("lag").cast("long").as("lag"): _*)
      .agg(count(lit(1)).as("n"), pearsonSums(x, y): _*)
      .select(keys.map(col) ++ Seq(col("lag"), col("n"),
        r6((nD * col("sxy") - col("sx") * col("sy")) /
          sqrt((nD * col("sxx") - col("sx") * col("sx")) *
            (nD * col("syy") - col("sy") * col("sy")))).as("r")): _*)
  }

  /** Oracle CTE `e(event_type, day, us, event_id, vc)`: each event with
    * its day and value in cents, the input of [[ohlcBars]]' twins;
    * comma-terminated. */
  protected val duckBarEvents: String =
    """WITH e AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
      |    CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc
      |  FROM events),
      |""".stripMargin

  /** Oracle CTEs `e` and `bars(event_type, day, h, l, c)` mirroring
    * [[ohlcBars]]; comma-terminated. */
  protected val duckBars: String = duckBarEvents +
    """bars AS (SELECT event_type, day,
      |    CAST(max(vc) AS BIGINT) AS h, CAST(min(vc) AS BIGINT) AS l,
      |    max({'us': us, 'event_id': event_id, 'vc': vc}).vc AS c
      |  FROM e GROUP BY 1, 2),
      |""".stripMargin

  /** Shared daily-cents-per-type oracle CTE, the twin of [[dailyTyped]]
    * (plus the integer day index dayno), with any `extra` aggregates over
    * the same groups. */
  protected def duckDailyTypedWith(extra: String*): String =
    s"""WITH daily AS (
      |  SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01'
      |      AS dayno,
      |    CAST(sum(CAST("value" AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS revc${extra.map(",\n    " + _).mkString}
      |  FROM events GROUP BY 1, 2, 3),
      |""".stripMargin

  protected val duckDailyTyped: String = duckDailyTypedWith()

  /** [[duckDailyTyped]] plus `d(event_type, day, y)`, the day's revenue
    * as a double in currency units — the series the Holt recursions and
    * Theil–Sen fold. revc is an integer far below 2^53, so revc / 100 in
    * double is the correctly rounded decimal sum. */
  protected val duckDailyY: String = duckDailyTyped +
    """d AS (SELECT event_type, day, CAST(revc AS DOUBLE) / 100 AS y
      |  FROM daily),
      |""".stripMargin

  /** [[duckDailyTyped]] plus `dd(event_type, dayno, v)`: [[duckDailyY]]'s
    * double revenue keyed by the integer day index, the regressor of the
    * Breusch–Pagan, Durbin–Watson and runs keys. */
  protected val duckDailyDayno: String = duckDailyTyped +
    """dd AS (SELECT event_type, dayno, CAST(revc AS DOUBLE) / 100 AS v
      |  FROM daily),
      |""".stripMargin

  /** [[duckDailyTyped]] plus `dv(event_type, day, v)`, the day's revenue
    * as an exact DECIMAL in currency units — the series the lag moments,
    * the drift and MASE errors, RSI's gains and the STL split keep in
    * DECIMAL. revc times DECIMAL 0.01 is exact; DuckDB divides a DECIMAL
    * in double. */
  protected val duckDailyV: String = duckDailyTyped +
    """dv AS (SELECT event_type, day,
      |    CAST(revc AS DECIMAL(18,0)) * CAST('0.01' AS DECIMAL(3,2)) AS v
      |  FROM daily),
      |""".stripMargin

  /** Oracle CTE `daily(day, v)`: each day's total revenue as a double,
    * its DECIMAL sum cast once. Comma-terminated. */
  protected val duckDayTotals: String =
    """WITH daily AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS v
      |  FROM events GROUP BY 1),""".stripMargin

  /** The lag-moment select items over (v, pv): DECIMAL(18,2) sums of v,
    * pv, v·pv, v² and pv², each cast once to double, as sx, sy, sxy, sxx
    * and syy on eight indented lines. */
  protected val duckLagSums: String =
    """    CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(pv AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(v AS DECIMAL(18,2)) * CAST(pv AS DECIMAL(18,2)))
      |      AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(v AS DECIMAL(18,2)) * CAST(v AS DECIMAL(18,2)))
      |      AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(pv AS DECIMAL(18,2)) * CAST(pv AS DECIMAL(18,2)))
      |      AS DOUBLE) AS syy""".stripMargin

  /** The 6-dp Pearson r over [[duckLagSums]] and the pair count n, on
    * three indented lines. */
  protected val duckLagR: String =
    """    round((CAST(n AS DOUBLE) * sxy - sx * sy) /
      |      sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) *
      |           (CAST(n AS DOUBLE) * syy - sy * sy)), 6) + 0.0 AS r""".stripMargin

  /** [[duckDayTotals]] plus `lagged(lag, v, pv)`: each day's v with pv, the
    * v of the day `lag` calendar days earlier, lag = 1..maxLag.
    * Comma-terminated. */
  protected def duckDayLags(maxLag: Int): String = duckDayTotals +
    s"""
       |lagged AS (
       |  SELECT l.lag, a.v, b.v AS pv
       |  FROM daily a
       |  CROSS JOIN (SELECT unnest(range(1, ${maxLag + 1})) AS lag) l
       |  JOIN daily b ON b.day = a.day - CAST(l.lag AS INTEGER)),""".stripMargin

  /** [[duckDayLags]] over 7 lags plus the lag-k Pearson moments `m(lag,
    * n, sx, sy, sxy, sxx, syy)` of the ACF keys. Ends at
    * `FROM lagged GROUP BY 1)`. */
  protected val duckAcfMoments: String = duckDayLags(7) +
    """
      |m AS (
      |  SELECT CAST(lag AS BIGINT) AS lag, count(*) AS n,
      |    CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(pv AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |    CAST(sum(CAST(v AS DECIMAL(18,2)) * CAST(pv AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
      |    CAST(sum(CAST(v AS DECIMAL(18,2)) * CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
      |    CAST(sum(CAST(pv AS DECIMAL(18,2)) * CAST(pv AS DECIMAL(18,2))) AS DOUBLE) AS syy
      |  FROM lagged GROUP BY 1)""".stripMargin

  /** Shared oracle CTE block mirroring [[friedmanGrid]]: zero-filled
    * day×type grid with doubled within-day midranks. Ends at
    * `rk(day, event_type, revc, r2x)`, comma-terminated. */
  protected val duckFriedmanGrid: String = duckDailyTyped +
    """grid AS (
      |  SELECT d.day, t.event_type, COALESCE(r.revc, 0) AS revc
      |  FROM (SELECT DISTINCT day FROM daily) d
      |  CROSS JOIN (SELECT DISTINCT event_type FROM daily) t
      |  LEFT JOIN daily r ON r.day = d.day AND r.event_type = t.event_type),
      |rk AS (SELECT day, event_type, revc,
      |    rank() OVER (PARTITION BY day ORDER BY revc) * 2
      |      + count(*) OVER (PARTITION BY day, revc) - 1 AS r2x
      |  FROM grid),
      |""".stripMargin

  /** Shared oracle CTE block mirroring [[strataTables]]: day-of-week
    * strata × hash-arm exposure × purchase outcome, exact int64 cells.
    * Ends at `tn(dow, a, b, c, d, n)`, comma-terminated. */
  protected val duckStrataTables: String =
    """WITH s0 AS (SELECT
      |    ((user_id % 2147483648) * 2654435761) % 2147483648 % 2 AS arm,
      |    (CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01') % 7
      |      AS dow,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS succ
      |  FROM events),
      |tbl AS (SELECT dow,
      |    CAST(sum(CASE WHEN arm = 1 THEN succ ELSE 0 END) AS BIGINT)
      |      AS a,
      |    CAST(sum(CASE WHEN arm = 1 THEN 1 - succ ELSE 0 END)
      |      AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN arm = 0 THEN succ ELSE 0 END) AS BIGINT)
      |      AS c,
      |    CAST(sum(CASE WHEN arm = 0 THEN 1 - succ ELSE 0 END)
      |      AS BIGINT) AS d
      |  FROM s0 GROUP BY 1),
      |tn AS (SELECT *, a + b + c + d AS n FROM tbl),
      |""".stripMargin

  /** Oracle CTE `mm`: `mo`'s rows (n, s, s2 over cents) plus the mean m
    * and the sample sd. Comma-terminated, on its own lines. */
  protected val duckMeanSd: String =
    """mm AS (SELECT *, CAST(s AS DOUBLE) / n AS m,
      |    sqrt(CAST(n * s2 - CAST(s AS DECIMAL(28,0)) * s AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * (n - 1))) AS sd
      |  FROM mo),""".stripMargin

  /** Oracle CTE `mo(event_type, n, s1, s2)`: the count, sum and DECIMAL
    * sum of squares of each type's daily cents in `daily`.
    * Comma-terminated. */
  protected val duckCentsMoments: String =
    """mo AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(revc) AS BIGINT) AS s1,
      |    sum(CAST(revc AS DECIMAL(28,0)) * revc) AS s2
      |  FROM daily GROUP BY 1),
      |""".stripMargin

  /** Oracle CTE block appended to [[duckDailyTyped]]: int64 cents
    * moments → z, plus the ECDF rank over the (revc, day) total order.
    * Ends at `zz(event_type, n, z, rn)`, comma-terminated. The ranked
    * z of [[statsLilliefors]] and [[duckNormalityFrame]]. */
  protected val duckZRanked: String =
    duckCentsMoments + """mm AS (SELECT event_type, n, CAST(s1 AS DOUBLE) / n AS mu,
      |    sqrt(CAST(n * s2 - CAST(s1 AS DECIMAL(28,0)) * s1 AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * (n - 1))) AS sd
      |  FROM mo),
      |zz AS (SELECT d.event_type, mm.n,
      |    (d.revc - mm.mu) / mm.sd AS z,
      |    CAST(row_number() OVER (PARTITION BY d.event_type
      |      ORDER BY d.revc, d.day) AS BIGINT) AS rn
      |  FROM daily d JOIN mm USING (event_type)),
      |""".stripMargin

  /** Shared oracle CTE block of the estimated-parameter normality tests
    * (appended to [[duckDailyTyped]]): mirrors [[normalityFrame]] —
    * [[duckZRanked]] plus Φ via the token-identical polynomial, clamped.
    * Ends at `pp(event_type, n, rn, phi)`, comma-terminated for the
    * test-specific CTEs to follow. */
  protected lazy val duckNormalityFrame: String = duckZRanked +
    s"""pp AS (SELECT event_type, n, rn,
       |    greatest(least(${phiSql("z")}, 1.0 - 1e-15), 1e-15) AS phi
       |  FROM zz),
       |""".stripMargin

  /** Oracle CTE `g(value, a, b)` mirroring [[ksCounts]] (without t);
    * comma-terminated. */
  protected val duckKsCounts: String =
    """WITH g AS (
      |  SELECT "value" AS value,
      |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |  GROUP BY 1),
      |""".stripMargin

  /** The s1 and s2 select items of [[valueMoments]]' oracle twins: the
    * DECIMAL sum and sum of squares of `value`, each cast once to double,
    * on three indented lines. */
  protected val duckValueSums: String =
    """    CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS s1,
      |    CAST(sum(CAST("value" AS DECIMAL(18,2))
      |             * CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS s2""".stripMargin

  /** Oracle CTE `g(event_type, n, s1, s2)` mirroring [[valueMoments]];
    * comma-terminated. */
  protected val duckValueMoments: String =
    s"""WITH g AS (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |$duckValueSums
      |  FROM events GROUP BY 1),
      |""".stripMargin

  /** Shared user-spend oracle CTE (mirrors [[userSpendPos]]). */
  protected val duckUserSpendPos: String =
    """WITH spend AS (
      |  SELECT user_id,
      |    CAST(sum(CAST("value" AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS xc
      |  FROM events GROUP BY 1 HAVING
      |    CAST(sum(CAST("value" AS DECIMAL(18,2))) * 100 AS BIGINT) > 0),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
      |          CAST(sum(xc) AS BIGINT) AS s,
      |          CAST(sum(xc) AS DOUBLE) / count(*) AS mu
      |        FROM spend),
      |""".stripMargin

  /** Standardized daily series + row numbers for the sequential drift
    * oracles (appended to the daily CTE, recursion-ready) — the twin of
    * [[dailyZ]] plus a per-type day rank. */
  protected val duckZSeries: String =
    duckCentsMoments + """mm AS (SELECT event_type, CAST(s1 AS DOUBLE) / n AS mu,
      |    sqrt(CAST(n * s2 - CAST(s1 AS DECIMAL(28,0)) * s1 AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * (n - 1))) AS sd
      |  FROM mo),
      |zs AS (SELECT d.event_type,
      |    (d.revc - mm.mu) / mm.sd AS z,
      |    CAST(row_number() OVER (PARTITION BY d.event_type
      |      ORDER BY d.day) AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY d.event_type) AS BIGINT)
      |      AS n
      |  FROM daily d JOIN mm USING (event_type)),
      |""".stripMargin

}
