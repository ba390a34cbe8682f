package graft.operators
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Key
import graft.sources.Tables
import graft.operators.OpsHelpers.{ev, r6}

/** Distribution shape, inequality, histograms, privacy and data-quality reports — one of the [[StatsOps]] family traits (split from
  * the former single-file StatsOps with zero behavior change;
  * shared helpers live in [[StatsOpsBase]]). */
private[operators] trait StatsDistOps extends StatsOpsBase {

  // ── Shannon entropy of the language mix per source — the corpus-
  // diversity diagnostic an LLM-data curator tracks per provider (a
  // source whose entropy collapses started scraping one language).
  // Two keyed aggregations over group-sized frames; the natural-log
  // p·ln p sum is rounded once at the boundary. ──
  def groupEntropy(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("tot", sum(col("cnt")).over(Window.partitionBy("source")))
    c.groupBy(col("source"))
      .agg(count(lit(1)).as("n_langs"),
        first(col("tot")).as("n_docs"),
        r6(-sum((col("cnt") / col("tot")) * log(col("cnt") / col("tot"))))
          .as("entropy"))
      .orderBy("source")
  }

  // ── equi-depth histogram: 10 equal-count buckets of `value` per
  // event_type via ntile over a TOTAL order (value, event_id — the
  // tie-break makes bucket assignment deterministic), then per-bucket
  // lo/hi/count. The windows are entity-partitioned, so unlike a global
  // ntile this parallelizes per key; for a single global histogram at
  // scale, window_rank_family_scaled's bucketed rank reconstruction is
  // the drop-in form. Bounds pass through un-arithmetic'd → bit-exact. ──
  def histEquidepth(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    ev(spark, dir)
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("bucket", ntile(10).over(w).cast("long"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi"),
        count(lit(1)).as("cnt"))
      .orderBy("event_type", "bucket")
  }

  // ── Exact WEIGHTED median per group (lower weighted median: the
  // first value whose cumulative weight reaches half the total) —
  // weighted medians are how a corpus-weighted pipeline summarizes
  // "typical price per unit sold" instead of per line. At scale the
  // naive per-group cumulative sort is a 3-task cliff on a 10⁹-row
  // fact table, so this runs the bucket-then-refine two-pass: integer
  // price-cent BANDS (≤1025) carry per-(group, band) weight sums; the
  // tiny band frame locates each group's BOUNDARY band and its
  // carry-in offset; only boundary-band rows (1/1024 of the table)
  // enter a window — partitioned by (group, band), bounded state. The
  // first row with 2·(offset + running weight) ≥ total weight is the
  // same row the naive global cumulative picks (band cums decompose
  // exactly), which is what the oracle runs. All weights and
  // comparisons are integer — no cross-engine arithmetic anywhere. ──
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(
      col("l_returnflag").as("g"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
        .as("pc"),
      col("l_quantity").cast("long").as("wt"),
      (col("l_orderkey") * 8 + col("l_linenumber")).as("tb"))
    val width = li.agg(greatest(lit(1L),
      floor(max(col("pc")) / 1024).cast("long")).as("w"))
    val banded = li.crossJoin(broadcast(width))
      .withColumn("band", (col("pc") / col("w")).cast("long"))
    val wCum = Window.partitionBy(col("g")).orderBy(col("band"))
    val wAll = Window.partitionBy(col("g"))
    val targets = banded.groupBy(col("g"), col("band"))
      .agg(sum(col("wt")).as("bw"))
      .withColumn("cum", sum(col("bw")).over(wCum))
      .withColumn("tw", sum(col("bw")).over(wAll))
      .filter(col("cum") * 2 >= col("tw"))
      .withColumn("rn", row_number().over(wCum))
      .filter(col("rn") === 1)
      .select(col("g"), col("band"), (col("cum") - col("bw")).as("off"),
        col("tw"))
    val wIn = Window.partitionBy(col("g"), col("band"))
      .orderBy(col("pc"), col("tb"))
    banded.join(broadcast(targets), Seq("g", "band"))
      .withColumn("cumw", col("off") + sum(col("wt")).over(
        wIn.rowsBetween(Window.unboundedPreceding, 0)))
      .filter(col("cumw") * 2 >= col("tw"))
      .withColumn("rn", row_number().over(wIn))
      .filter(col("rn") === 1)
      .select(col("g").as("l_returnflag"),
        (col("pc").cast("double") / 100).as("med_price"),
        col("tw").as("total_weight"))
      .orderBy("l_returnflag")
  }

  // ── Gaussian kernel density estimate of `value` on a 64-point grid:
  // Silverman bandwidth h = 1.06·σ·n^(−1/5) (rounded to 6 dp so both
  // engines share the exact h), density = Σ K((x−g)/h) / (n·h·√2π).
  // The kernel terms are rounded to 9 dp and summed in DECIMAL (the
  // text_lm_score discipline) — a raw double sum over n·64 terms would
  // be order-dependent beyond what round(…,6) absorbs. The 64-row
  // grid broadcasts (plan audit); the expansion is map-side only and
  // partial-aggregates into 64 groups, so at 100 TB the shuffle is 64
  // rows per task regardless of corpus size. ──
  def histKde(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir).select(col("value"))
    val d2 = col("value").cast("decimal(18,2)")
    val st = e.agg(
        min(col("value")).cast("double").as("lo"),
        max(col("value")).cast("double").as("hi"),
        count(lit(1)).as("n"),
        sum(d2).cast("double").as("sx"),
        sum(d2 * d2).cast("double").as("sxx"))
      .withColumn("sigma", sqrt((col("sxx") -
        col("sx") * col("sx") / col("n")) / (col("n") - 1)))
      .withColumn("h", round(lit(1.06) * col("sigma") *
        pow(col("n").cast("double"), lit(-0.2)), 6))
    val grid = st
      .select(col("n"), col("h"), col("lo"), col("hi"),
        explode(sequence(lit(0), lit(63))).as("j"))
      .withColumn("gx",
        col("lo") + (col("hi") - col("lo")) * col("j").cast("double") / 63)
    e.crossJoin(broadcast(grid))
      .withColumn("z", (col("value") - col("gx")) / col("h"))
      .withColumn("term",
        round(exp(col("z") * col("z") / -2), 9).cast("decimal(18,9)"))
      .groupBy(col("j"), col("gx"), col("n"), col("h"))
      .agg(sum(col("term")).as("s"))
      .select(col("j").cast("int").as("grid_id"), r6(col("gx")).as("x"),
        r6(col("s").cast("double") /
          (col("n").cast("double") * col("h") * lit(2.5066282746310002)))
          .as("density"))
      .orderBy("grid_id")
  }

  // ── k-anonymity audit over the quasi-identifier tuple
  // (event_type, day-of-week, value bucketed to 100s) — "how many rows
  // could be singled out if this event log were released". One keyed
  // aggregation to group sizes, then a 1-row integer summary: group and
  // row counts under k = 5 and k = 10. All-integer arithmetic except
  // the two final rounded percentages. ──
  def privacyKanon(spark: SparkSession, dir: String): DataFrame = {
    val g = ev(spark, dir)
      .groupBy(col("event_type"),
        expr("pmod(datediff(day, DATE'1970-01-01'), 7)").as("dow"),
        floor(col("value") / 100).as("vb"))
      .agg(count(lit(1)).as("k"))
    g.agg(count(lit(1)).as("n_groups"), sum(col("k")).as("n_rows"),
        sum((col("k") < 5).cast("long")).as("groups_lt_5"),
        sum(when(col("k") < 5, col("k")).otherwise(lit(0L)))
          .as("rows_lt_5"),
        sum((col("k") < 10).cast("long")).as("groups_lt_10"),
        sum(when(col("k") < 10, col("k")).otherwise(lit(0L)))
          .as("rows_lt_10"))
      .select(col("n_groups"), col("n_rows"),
        col("groups_lt_5"), col("rows_lt_5"),
        r6(col("rows_lt_5").cast("double") / col("n_rows"))
          .as("pct_rows_lt_5"),
        col("groups_lt_10"), col("rows_lt_10"),
        r6(col("rows_lt_10").cast("double") / col("n_rows"))
          .as("pct_rows_lt_10"))
  }

  // ── inter-event gap histogram: per-user think-time deltas bucketed
  // on a log-ish ladder (<1 s, <10 s, <1 min, <10 min, <1 h, ≥1 h) —
  // the distribution that justifies (or indicts) the sessionizer's
  // 30-minute timeout. Gaps are integer-second floors of µs
  // differences (`div`, truncating; both engines floor the same
  // nonnegative values), buckets and counts are pure integers, and the
  // share divides by the 6-row frame's own window total. ──
  def sessionGapHist(spark: SparkSession, dir: String): DataFrame = {
    val wo = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val g = ev(spark, dir)
      .select(col("user_id"), col("us"), col("event_id"))
      .withColumn("prev", lag(col("us"), 1).over(wo))
      .filter(col("prev").isNotNull)
      .withColumn("gap_s", expr("(us - prev) div 1000000"))
      .withColumn("b",
        when(col("gap_s") < 1, 0).when(col("gap_s") < 10, 1)
          .when(col("gap_s") < 60, 2).when(col("gap_s") < 600, 3)
          .when(col("gap_s") < 3600, 4).otherwise(5))
      .groupBy(col("b")).agg(count(lit(1)).as("cnt"))
    g.withColumn("bucket",
        when(col("b") === 0, "lt_1s").when(col("b") === 1, "lt_10s")
          .when(col("b") === 2, "lt_1m").when(col("b") === 3, "lt_10m")
          .when(col("b") === 4, "lt_1h").otherwise("ge_1h"))
      .withColumn("share",
        r6(col("cnt").cast("double") /
          sum(col("cnt")).over(Window.partitionBy(lit(1)))))
      .select(col("b").cast("int").as("b"), col("bucket"), col("cnt"),
        col("share"))
      .orderBy("b")
  }

  // ── effective sample size under importance reweighting to a UNIFORM
  // event-type mix: w_t = n/(k·c_t), ESS = (Σw)²/Σw² — the one number
  // that says whether rebalancing by weighting (sample_temperature's
  // alternative) would collapse onto a handful of rare-class rows.
  // Weights are ROUNDED before use so the 3.0 clip branches
  // identically; Σ's run over the k-row class frame, not the corpus.
  // The 1-row totals broadcast (plan audit). ──
  def sampleEss(spark: SparkSession, dir: String): DataFrame = {
    val c = ev(spark, dir).groupBy(col("event_type"))
      .agg(count(lit(1)).as("ct"))
    val tot = c.agg(sum(col("ct")).as("n"), count(lit(1)).as("k"))
    val w = c.crossJoin(broadcast(tot))
      .withColumn("w",
        r6(col("n").cast("double") / (col("k") * col("ct"))))
      .withColumn("wc", least(col("w"), lit(3.0)))
    w.groupBy(col("n"), col("k"))
      .agg(sum(col("ct") * col("w")).as("sw"),
        sum(col("ct") * col("w") * col("w")).as("sww"),
        sum(col("ct") * col("wc")).as("scw"),
        sum(col("ct") * col("wc") * col("wc")).as("scww"))
      .select(col("n"), col("k").cast("int").as("n_types"),
        r6(col("sw") * col("sw") / col("sww")).as("ess_raw"),
        r6(col("scw") * col("scw") / col("scww")).as("ess_clipped"),
        r6(col("sw") * col("sw") / col("sww") / col("n")).as("ess_frac"))
  }

  // ── order-fulfilment backlog curve: lines placed vs lines shipped,
  // cumulated over the calendar — the operational "are we falling
  // behind" series. Two keyed day-counts full-outer-joined on the day
  // spine, integer prefix sums over the |days|-sized frame (the fact
  // table never enters a window). ──
  def backlogCurve(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship_d"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("ord_d")),
        col("l_orderkey") === col("o_orderkey"))
    val placed = li.groupBy(col("ord_d").as("day"))
      .agg(count(lit(1)).as("placed"))
    val shipped = li.groupBy(col("ship_d").as("day"))
      .agg(count(lit(1)).as("shipped"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    placed.join(shipped, Seq("day"), "full_outer")
      .select(col("day"), coalesce(col("placed"), lit(0L)).as("placed"),
        coalesce(col("shipped"), lit(0L)).as("shipped"))
      .withColumn("cum_placed", sum(col("placed")).over(w))
      .withColumn("cum_shipped", sum(col("shipped")).over(w))
      .withColumn("backlog", col("cum_placed") - col("cum_shipped"))
      .orderBy("day")
  }

  // ── data-volume anomaly days: daily row counts against the robust
  // median ± 3.5·MAD band (the anomaly_mad discipline applied to the
  // PIPELINE itself — a day whose ingest volume collapses or doubles
  // is a data incident before it is a statistics incident). Counts
  // are integers; median and MAD are explicit middle pairs; the band
  // compares the integer count against the ROUNDED threshold so both
  // engines flag identical days. ──
  def dqVolumeAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val c = ev(spark, dir).groupBy(col("day"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    val med = explicitMedian(c.select(col("cnt")), "cnt", Nil)
      .select(col("cnt").as("med"))
    val dev = c.crossJoin(broadcast(med))
      .withColumn("dev", abs(col("cnt") - col("med")))
    val mad = explicitMedian(dev.select(col("dev")), "dev", Nil)
      .select(col("dev").as("mad"))
    c.crossJoin(broadcast(med)).crossJoin(broadcast(mad))
      .select(col("day"), col("cnt").cast("long").as("n_rows"),
        r6(col("med")).as("med"), r6(col("mad")).as("mad"),
        (abs(col("cnt") - col("med")) >
          r6(lit(3.5) * col("mad"))).as("is_anomaly"))
      .orderBy("day")
  }

  /** Oracle CTEs mirroring [[rankedSpend]]: `spend(user_id, v)` and the
    * start of `r(v, rn, m`, which each key closes. */
  private val duckRankedSpend: String =
    """WITH spend AS (SELECT user_id,
      |    sum(CAST("value" AS DECIMAL(18,2))) AS v
      |  FROM events GROUP BY 1),
      |r AS (SELECT v, row_number() OVER (ORDER BY v, user_id) AS rn,
      |        count(*) OVER () AS m""".stripMargin

  /** Each user's exact DECIMAL spend v with rn, its rank in the (v,
    * user_id) total order, and m, the user count: the explicit-rank
    * device of the Lorenz, Palma and quintile keys. */
  private def rankedSpend(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir).groupBy(col("user_id"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("v"))
      .withColumn("rn",
        row_number().over(Window.orderBy(col("v"), col("user_id"))))
      .withColumn("m", count(lit(1)).over(Window.partitionBy(lit(1))))

  /** The band columns of the Lorenz and quintile tables: users, exact
    * spend, and its share and cumulative share of the total. */
  private def shareCols: Seq[Column] = Seq(col("n_users"),
        col("spend").cast("double").as("spend"),
        r6(col("spend").cast("double") / col("tot").cast("double"))
          .as("share"),
        r6(col("cum_spend").cast("double") / col("tot").cast("double"))
          .as("cum_share"))

  // ── Lorenz curve of user spend: users ranked by (spend, id) into 10
  // explicit integer deciles — ((rn−1)·10) div m + 1, never ntile() —
  // each decile's user count and DECIMAL-exact spend, and the running
  // cumulative share. The rank runs over the user-dimension frame (the
  // stats_gini waiver class: |users|, not |events|); everything until
  // the two share divisions is integer/decimal-exact. ──
  def distLorenz(spark: SparkSession, dir: String): DataFrame = {
    val m = Window.partitionBy(lit(1))
    val ranked = rankedSpend(spark, dir)
      .withColumn("tot", sum(col("v")).over(m))
      .withColumn("decile", expr("((rn - 1) * 10) div m + 1"))
    ranked.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("v")).as("spend"), first(col("tot")).as("tot"))
      .withColumn("cum_spend",
        sum(col("spend")).over(Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("decile").cast("int").as("decile") +: shareCols: _*)
      .orderBy("decile")
  }

  // ── Palma ratio of user spend: top-10% share over bottom-40% share —
  // the inequality headline number policy reports quote instead of the
  // full Lorenz table (the middle 50% is empirically stable, so the
  // tails' ratio IS the story). Reuses dist_lorenz's explicit-decile
  // device verbatim (rank over the (v, user_id) total order, integer
  // decile fences) so the shares reconcile with that key's table
  // row-for-row; tail sums stay exact DECIMAL until the two final
  // divisions. Same at-scale note as dist_lorenz: the global rank is
  // the explicit form — window_rank_family_scaled's bucketed rank
  // reconstruction is the drop-in when one panel outgrows a window. ──
  def distPalma(spark: SparkSession, dir: String): DataFrame = {
    rankedSpend(spark, dir)
      .withColumn("decile", expr("((rn - 1) * 10) div m + 1"))
      .agg(count(lit(1)).as("n_users"), sum(col("v")).as("tot"),
        sum(when(col("decile") === 10, col("v"))).as("top10"),
        sum(when(col("decile") <= 4, col("v"))).as("bot40"))
      .select(col("n_users"),
        r6(expr("cast(top10 as double) / cast(tot as double)"))
          .as("top10_share"),
        r6(expr("cast(bot40 as double) / cast(tot as double)"))
          .as("bot40_share"),
        r6(expr("cast(top10 as double) / cast(bot40 as double)"))
          .as("palma_ratio"))
  }

  // ── quintile share table of user spend (+ the S80/S20 income-share
  // ratio on the top row's cumulative read): the 5-band summary between
  // dist_lorenz's 10-row curve and dist_palma's single number — the EU
  // at-risk-of-inequality format. Same explicit-rank device and exact
  // DECIMAL band sums; shares divide once at the boundary. ──
  def distQuintileShares(spark: SparkSession, dir: String): DataFrame = {
    val m = Window.partitionBy(lit(1))
    val ranked = rankedSpend(spark, dir)
      .withColumn("tot", sum(col("v")).over(m))
      .withColumn("quintile", expr("((rn - 1) * 5) div m + 1"))
    val byQ = ranked.groupBy(col("quintile"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("v")).as("spend"), first(col("tot")).as("tot"))
    byQ
      .withColumn("cum_spend",
        sum(col("spend")).over(Window.orderBy(col("quintile"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("q1", sum(when(col("quintile") === 1, col("spend")))
        .over(m))
      .withColumn("q5", sum(when(col("quintile") === 5, col("spend")))
        .over(m))
      .select(col("quintile").cast("int").as("quintile") +: shareCols :+
        r6(col("q5").cast("double") / col("q1").cast("double"))
          .as("s80_s20"): _*)
      .orderBy("quintile")
  }

  // ── ingest freshness audit: per event type, when did data last
  // arrive, how far it lags the corpus watermark (the max timestamp any
  // type reached), and whether the lag breaches a 60-minute SLA — the
  // staleness companion of [[dqVolumeAnomaly]]'s volume check (a feed
  // can keep its volume and still be replaying yesterday). All
  // arithmetic is integer µs (exact on both engines); the 1-row
  // watermark broadcasts (scalar-broadcast idiom); one shuffle, keyed
  // by type. ──
  def dqFreshness(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val wm = e.agg(max(col("us")).as("wm"))
    e.crossJoin(broadcast(wm))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        max(col("us")).as("last_us"),
        first(col("wm")).as("wm"),
        sum(when(col("us") >= col("wm") - lit(86400000000L), 1L)
          .otherwise(0L)).as("n_last_24h"))
      .select(col("event_type"), col("n_events"), col("last_us"),
        expr("(wm - last_us) div 60000000").as("lag_min"),
        col("n_last_24h"),
        (expr("(wm - last_us) div 60000000") >= 60L).as("is_stale"))
      .orderBy("event_type")
  }

  // ── 2-D activity histogram: the weekday × hour event-density grid
  // (the heatmap behind every "when are users active" panel) — the
  // 2-dim member of the histogram family (width_bucket = 1-D value,
  // hist_equidepth = quantile bins, hist_kde = smoothed). BOTH axes
  // derive from pure integer µs arithmetic (dayno+4 mod 7 anchors
  // 1=Sunday on the epoch's Thursday; hour = µs div 3600000000 mod
  // 24) — no calendar function whose week convention could differ
  // between engines. One keyed aggregation onto a ≤168-row grid; the
  // 1-row total broadcasts for the share. ──
  def hist2d(spark: SparkSession, dir: String): DataFrame = {
    val g = ev(spark, dir)
      .select(expr("pmod(us div 86400000000 + 4, 7) + 1").as("dow"),
        expr("(us div 3600000000) % 24").as("hr"))
      .groupBy(col("dow"), col("hr")).agg(count(lit(1)).as("cnt"))
    val tot = g.agg(sum(col("cnt")).as("total"))
    g.crossJoin(broadcast(tot))
      .select(col("dow"), col("hr"), col("cnt"),
        r6(expr("cast(cnt as double) / total")).as("share"))
      .orderBy("dow", "hr")
  }

  // ── l-diversity audit: k-anonymity ([[privacyKanon]]) only counts
  // HOW MANY rows share a quasi-identifier group — if all of them carry
  // the same sensitive value, the group still leaks it (the homogeneity
  // attack k-anonymity misses; Machanavajjhala et al. 2007). Same QI
  // grid as the kanon key minus the sensitive column (weekday ×
  // value-band), sensitive attribute = event_type; per group l =
  // distinct sensitive values, summarized as the l<2 / l<3 exposure.
  // Two keyed aggregations on the bounded QI grid; all counts exact. ──
  def privacyLDiversity(spark: SparkSession, dir: String): DataFrame = {
    val g = ev(spark, dir)
      .groupBy(expr("pmod(datediff(day, DATE'1970-01-01'), 7)").as("dow"),
        floor(col("value") / 100).as("vb"))
      .agg(count(lit(1)).as("k"),
        countDistinct(col("event_type")).as("l"))
    g.agg(count(lit(1)).as("n_groups"), sum(col("k")).as("n_rows"),
        min(col("l")).as("min_l"),
        sum((col("l") < 2).cast("long")).as("groups_lt_2"),
        sum(when(col("l") < 2, col("k")).otherwise(lit(0L)))
          .as("rows_lt_2"),
        sum((col("l") < 3).cast("long")).as("groups_lt_3"),
        sum(when(col("l") < 3, col("k")).otherwise(lit(0L)))
          .as("rows_lt_3"))
      .select(col("n_groups"), col("n_rows"), col("min_l"),
        col("groups_lt_2"), col("rows_lt_2"),
        col("groups_lt_3"), col("rows_lt_3"),
        r6(col("rows_lt_3").cast("double") / col("n_rows"))
          .as("pct_rows_lt_3"))
  }

  // ── Herfindahl–Hirschman concentration: per part brand, the supplier
  // revenue-share HHI Σshareᵢ² — the standard "is this market owned by
  // one player" gauge (dist_lorenz/stats_gini measure inequality across
  // a population; HHI measures concentration within a named market).
  // Supplier revenues are DECIMAL-exact (18,2) sums; Σrᵢ² squares in
  // DECIMAL (37,4) — exact on both engines — and the single division
  // casts the two exact totals to double once (den² as the product of
  // two identical casts, deterministic). The part dim broadcasts;
  // per-brand supplier counts are bounded, so every aggregate is
  // keyed + partial. Flag at the DOJ 0.25 threshold. ──
  def distHhi(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("l_suppkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("r"))
      .withColumn("r", col("r").cast("decimal(18,2)"))
    r.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("r")).as("tot"), sum(col("r") * col("r")).as("sq"))
      .select(col("p_brand"), col("n_suppliers"),
        col("tot").cast("double").as("total_rev"),
        r6(expr("cast(sq as double)" +
          " / (cast(tot as double) * cast(tot as double))")).as("hhi"),
        (expr("cast(sq as double)" +
          " / (cast(tot as double) * cast(tot as double))") > lit(0.25d))
          .as("concentrated"))
      .orderBy("p_brand")
  }

  // ── t-closeness audit, completing the k/l/t privacy triad
  // ([[privacyKanon]] counts group sizes, [[privacyLDiversity]] counts
  // distinct sensitive values; this measures how far each group's
  // sensitive DISTRIBUTION sits from the corpus-wide one — a group can
  // be large and diverse yet still 90% 'purchase' against a 20% base
  // rate, which IS the leak). Distance = total variation (the standard
  // for categorical sensitive attributes): per QI group, TVD·(2·n_g·N)
  // = Σ_t |c_gt·N − C_t·n_g| is EXACT int64 over the complete
  // group×type grid (missing cells as 0), so both engines compare and
  // divide identical integers. Summary = worst group + the t>0.2
  // exposure. ──
  def privacyTCloseness(spark: SparkSession, dir: String): DataFrame = {
    val cells = ev(spark, dir)
      .groupBy(expr("pmod(datediff(day, DATE'1970-01-01'), 7)").as("dow"),
        floor(col("value") / 100).as("vb"), col("event_type"))
      .agg(count(lit(1)).as("c")).transform(Eager(_))
    val glob = cells.groupBy(col("event_type")).agg(sum(col("c")).as("ct"))
    val tot = glob.agg(sum(col("ct")).as("n"))
    val groups = cells.groupBy(col("dow"), col("vb"))
      .agg(sum(col("c")).as("ng"))
    val grid = groups.crossJoin(broadcast(glob))
      .join(cells, Seq("dow", "vb", "event_type"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .crossJoin(broadcast(tot))
    val tvd = grid.groupBy(col("dow"), col("vb"))
      .agg(first(col("ng")).as("ng"), first(col("n")).as("n"),
        sum(abs(col("c") * col("n") - col("ct") * col("ng"))).as("num"))
      .withColumn("t", expr("cast(num as double) / (2 * ng * n)"))
    tvd.agg(count(lit(1)).as("n_groups"), sum(col("ng")).as("n_rows"),
        r6(max(col("t"))).as("max_t"),
        sum((col("t") > 0.2).cast("long")).as("groups_gt_02"),
        sum(when(col("t") > 0.2, col("ng")).otherwise(lit(0L)))
          .as("rows_gt_02"))
      .select(col("n_groups"), col("n_rows"), col("max_t"),
        col("groups_gt_02"), col("rows_gt_02"),
        r6(expr("cast(rows_gt_02 as double) / n_rows")).as("pct_rows_gt_02"))
  }

  // ── central-DP Laplace release of the event-type histogram — the
  // third privacy mechanism next to privacy_rr_counts (local DP, noise
  // at the client) and the k/l/t audits (no noise, just measurement):
  // a trusted curator adds Laplace(1/ε) to each count (sensitivity 1
  // for a histogram under add/remove-one adjacency) and releases ONLY
  // the noisy values. The noise is inverse-CDF Laplace driven by the
  // portable Knuth-hash uniform seeded on the category's name-order
  // index — like privacy_rr_counts' coin, a REPLAYABLE pseudo-noise
  // (auditable, bit-identical in both engines, and exactly what a
  // seeded production PRNG does); swap in a real entropy source for an
  // actual release. ln snaps to the 1e-9 grid; counts are one keyed
  // aggregation of the fact table — k rows of state. ──
  def privacyDpCounts(spark: SparkSession, dir: String): DataFrame = {
    val counts = ev(spark, dir).groupBy(col("event_type"))
      .agg(count(lit(1)).as("c"))
      .withColumn("j", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("event_type"))).cast("long"))
    counts
      .withColumn("u", expr(
        "(pmod(pmod(j, 2147483648) * 2654435761, 2147483648) + 1)" +
          " / 2147483649.0"))
      .withColumn("noise", expr(
        """CASE WHEN u < 0.5
          |THEN round(ln(2.0 * u), 9)
          |ELSE -round(ln(2.0 * (1.0 - u)), 9) END""".stripMargin))
      .select(col("event_type"), lit(1.0d).as("epsilon"),
        r6(col("c") + col("noise")).as("noisy_count"))
      .orderBy("event_type")
  }

  // ── Neyman-optimal stratified-sample allocation: given a 1,000-row
  // budget over the event-type strata, n_h ∝ N_h·S_h — big AND noisy
  // strata get the rows, tiny/homogeneous ones don't waste them (the
  // design step BEFORE sample_stratified's fixed rates; proportional
  // allocation rides along to show what naive stratification would
  // do). Per-stratum S_h comes from exact int64 cent moments
  // (n·Σx²−(Σx)² — the stats_overdispersion form); allocations use
  // floor(budget·share) with the remainder going to the largest
  // fractional parts (largest-remainder rounding, deterministic by
  // (frac desc, type)), so Σn_h = budget exactly in both engines. ──
  def sampleNeymanAlloc(spark: SparkSession, dir: String): DataFrame = {
    val strata = ev(spark, dir).groupBy(col("event_type"))
      .agg(count(lit(1)).as("nh"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
          .as("sx"),
        sum(expr(
          "cast(cast(value as decimal(18,2)) * 100 as bigint)" +
            " * cast(cast(value as decimal(18,2)) * 100 as bigint)"))
          .as("sx2"))
      .withColumn("sh", expr(
        "sqrt(cast(nh * sx2 - sx * sx as double)" +
          " / (cast(nh as double) * (nh - 1))) / 100"))
      .withColumn("w", expr(
        "CAST(round(nh * sh, 6) AS DECIMAL(28,6))"))
    val tot = strata.agg(sum(col("w")).as("tw"), sum(col("nh")).as("tn"))
    val alloc = strata.crossJoin(broadcast(tot))
      .withColumn("share", expr("cast(w as double) / cast(tw as double)"))
      .withColumn("n_base", expr("CAST(floor(1000 * share) AS BIGINT)"))
      .withColumn("frac", expr("1000 * share - n_base"))
    val short = alloc.agg((lit(1000L) - sum(col("n_base"))).as("rem"))
    alloc.crossJoin(broadcast(short))
      .withColumn("rk", row_number().over(Window.partitionBy(lit(1))
        .orderBy(desc("frac"), col("event_type"))))
      .select(col("event_type"), col("nh").as("n_stratum"),
        r6(col("sh")).as("stddev_value"),
        r6(col("share")).as("neyman_share"),
        (col("n_base") + when(col("rk") <= col("rem"), 1L).otherwise(0L))
          .as("n_alloc"),
        expr("CAST(round(1000 * cast(nh as double) / tn, 0) AS BIGINT)")
          .as("n_proportional"))
      .orderBy("event_type")
  }

  /** [[userSpendPos]] with the user count n, the cents total s and the
    * mean mu beside every row. */
  private def spendWithMean(spark: SparkSession, dir: String): DataFrame = {
    val spend = userSpendPos(spark, dir)
    val tot = spend.agg(count(lit(1)).as("n"), sum(col("xc")).as("s"))
      .withColumn("mu", expr("cast(s as double) / n"))
    spend.crossJoin(broadcast(tot))
  }

  // ── Theil T and L inequality indices of user spend — the
  // entropy-based decomposable cousins of dist_lorenz/stats_gini
  // (Theil is additive across subgroups, which Gini is not — the index
  // a fairness report aggregates per region then rolls up). Per-user
  // log terms are snapped to 9 dp and summed in DECIMAL — associative,
  // so the |users|-sized reduce is partitioning-invariant — with the
  // scalar mean broadcast (one scan + one model-sized agg). ──
  def distTheil(spark: SparkSession, dir: String): DataFrame = {
    spendWithMean(spark, dir)
      .select(col("n"), col("mu"),
        expr("CAST(round(xc / mu * ln(xc / mu), 9)" +
          " AS DECIMAL(18,9))").as("tt"),
        expr("CAST(round(ln(mu / xc), 9) AS DECIMAL(18,9))").as("tl"))
      .groupBy(col("n"), col("mu"))
      .agg(sum(col("tt")).as("st"), sum(col("tl")).as("sl"))
      .select(col("n").as("n_users"), r6(col("mu")).as("mean_cents"),
        r6(expr("cast(st as double) / n")).as("theil_t"),
        r6(expr("cast(sl as double) / n")).as("theil_l"))
  }

  // ── Atkinson inequality indices at ε ∈ {0.5, 1, 2} — the
  // welfare-weighted family: ε dials how much the bottom of the
  // distribution matters (ε→0 ~ mean-preserving, ε=2 ~ harmonic-mean
  // driven). ε=1 uses the geometric mean, ε=2 the reciprocal mean in
  // the O(1)-magnitude μ/x form (1/x in raw cents would underflow the
  // 9-dp snap). Same associative decimal-term discipline and broadcast
  // scalar mean as [[distTheil]]; one scan. ──
  def distAtkinson(spark: SparkSession, dir: String): DataFrame = {
    spendWithMean(spark, dir)
      .select(col("n"), col("mu"),
        expr("CAST(round(sqrt(xc / mu), 9) AS DECIMAL(18,9))").as("th"),
        expr("CAST(round(ln(cast(xc as double)), 9)" +
          " AS DECIMAL(18,9))").as("tg"),
        expr("CAST(round(mu / xc, 9) AS DECIMAL(18,9))").as("tr"))
      .groupBy(col("n"), col("mu"))
      .agg(sum(col("th")).as("sh"), sum(col("tg")).as("sg"),
        sum(col("tr")).as("sr"))
      .select(col("n").as("n_users"), r6(col("mu")).as("mean_cents"),
        r6(expr("1 - cast(sh as double) / n * (cast(sh as double) / n)"))
          .as("a_eps_half"),
        r6(expr("1 - exp(cast(sg as double) / n) / mu")).as("a_eps_1"),
        r6(expr("1 - cast(n as double) / cast(sr as double)"))
          .as("a_eps_2"))
  }

  // ── calendar-gap scan per event type: which series have HOLES — the
  // data-quality twin of dq_freshness (freshness asks "is the tail
  // recent"; this asks "is the middle continuous", the property every
  // window/forecast key above silently assumes). Consecutive-day
  // deltas come from one lag over the grouped day grid; the whole
  // profile is integer date arithmetic (span+1 − observed = missing,
  // max gap, gap count). ──
  def dqGapScan(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir).groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_ev"))
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("gap", datediff(col("day"),
        lag(col("day"), 1).over(wOrd)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        min(col("day")).as("first_day"), max(col("day")).as("last_day"),
        sum(when(col("gap") > 1, 1L).otherwise(0L)).as("n_gaps"),
        coalesce(max(when(col("gap") > 1, col("gap") - 1)), lit(0))
          .cast("long").as("longest_gap"))
      .withColumn("span_days",
        datediff(col("last_day"), col("first_day")).cast("long") + 1)
      .select(col("event_type"), col("n_days"), col("first_day"),
        col("last_day"), col("span_days"),
        (col("span_days") - col("n_days")).as("n_missing"),
        col("n_gaps"), col("longest_gap"))
      .orderBy("event_type")
  }

  // ── central-DP mean with contribution clipping — the release
  // mechanism for a NUMERIC statistic (privacy_dp_counts handles
  // histograms): clip each value to [0, C] so one user moves the sum
  // by at most C, add Laplace(C/ε) to the clipped sum and Laplace(1/ε)
  // to the count, release noisy_sum/noisy_count. The clip bound is the
  // entire sensitivity argument — emitted alongside so an auditor can
  // check it. Same replayable inverse-CDF Laplace coin as
  // privacy_dp_counts (hash of the category index; seeds 1/2 for the
  // two releases); clipped sums are DECIMAL-exact. ──
  def privacyDpMean(spark: SparkSession, dir: String): DataFrame = {
    // CASE, not least/greatest: DuckDB's greatest() promotes DECIMAL to
    // DOUBLE, which would turn the exact clipped sum order-dependent
    val counts = ev(spark, dir).groupBy(col("event_type"))
      .agg(count(lit(1)).as("c"),
        sum(expr("CASE WHEN CAST(value AS DECIMAL(18,2)) < 0" +
          " THEN CAST(0 AS DECIMAL(18,2))" +
          " WHEN CAST(value AS DECIMAL(18,2)) > 200" +
          " THEN CAST(200 AS DECIMAL(18,2))" +
          " ELSE CAST(value AS DECIMAL(18,2)) END"))
          .cast("double").as("clipped_sum"))
      .withColumn("j", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("event_type"))).cast("long"))
    def lap(seed: Int, scale: String) = expr(
      s"""CASE WHEN (pmod(pmod(j * 2 + $seed, 2147483648) * 2654435761,
         |  2147483648) + 1) / 2147483649.0 < 0.5
         |THEN $scale * round(ln(2.0 * ((pmod(pmod(j * 2 + $seed,
         |  2147483648) * 2654435761, 2147483648) + 1) / 2147483649.0)),
         |  9)
         |ELSE -$scale * round(ln(2.0 * (1.0 - (pmod(pmod(j * 2 + $seed,
         |  2147483648) * 2654435761, 2147483648) + 1) / 2147483649.0)),
         |  9) END""".stripMargin)
    counts
      .withColumn("noisy_sum", col("clipped_sum") + lap(0, "200.0"))
      .withColumn("noisy_n", col("c") + lap(1, "1.0"))
      .select(col("event_type"), lit(1.0d).as("epsilon"),
        lit(200.0d).as("clip_bound"),
        r6(col("noisy_sum")).as("noisy_sum"),
        r6(col("noisy_n")).as("noisy_count"),
        r6(expr("noisy_sum / noisy_n")).as("dp_mean"))
      .orderBy("event_type")
  }

  // ── small-cell suppression of the (event type × weekday) release
  // table — the statistical-disclosure-control step every public data
  // release runs: cells under the k=10 threshold are withheld
  // (privacy_kanon MEASURES k-anonymity; this ENFORCES it on a
  // marginal release), plus per-type complementary suppression of the
  // minimum remaining cell whenever exactly one cell was withheld —
  // otherwise the row total reveals it by subtraction. Weekday is
  // epoch-day mod 7 (engine-neutral); the audit columns report how
  // much mass suppression withheld. ──
  def privacySuppression(spark: SparkSession, dir: String): DataFrame = {
    val cells = ev(spark, dir)
      .groupBy(col("event_type"),
        pmod(expr("datediff(day, DATE'1970-01-01')"), lit(7)).cast("long")
          .as("dow"))
      .agg(count(lit(1)).as("n"))
      .withColumn("primary_sup", col("n") < 10)
    val byType = Window.partitionBy(col("event_type"))
    val marked = cells
      .withColumn("n_sup", sum(col("primary_sup").cast("long")).over(byType))
      .withColumn("min_ok", min(when(!col("primary_sup"), col("n")))
        .over(byType))
      .withColumn("secondary_sup",
        col("n_sup") === 1 && !col("primary_sup") && col("n") === col("min_ok"))
      // complementary rule ties: suppress the LOWEST dow among equal-n
      .withColumn("min_dow", min(when(!col("primary_sup") &&
        (col("n") === col("min_ok")), col("dow"))).over(byType))
      .withColumn("suppressed", col("primary_sup") ||
        (col("secondary_sup") && col("dow") === col("min_dow")))
    marked.select(col("event_type"), col("dow"),
        when(!col("suppressed"), col("n")).as("released_n"),
        col("suppressed"),
        col("primary_sup").as("is_primary"))
      .orderBy("event_type", "dow")
  }

  protected val distKeys: Seq[Key] = Seq(
    Key("privacy_dp_mean", privacyDpMean, Some(
      """WITH c AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN CAST("value" AS DECIMAL(18,2)) < 0
        |      THEN CAST(0 AS DECIMAL(18,2))
        |      WHEN CAST("value" AS DECIMAL(18,2)) > 200
        |      THEN CAST(200 AS DECIMAL(18,2))
        |      ELSE CAST("value" AS DECIMAL(18,2)) END) AS DOUBLE)
        |      AS clipped_sum
        |  FROM events GROUP BY 1),
        |j AS (SELECT *, CAST(row_number() OVER (ORDER BY event_type)
        |        AS BIGINT) AS j FROM c),
        |u AS (SELECT *,
        |    ((j * 2 + 0) % 2147483648 * 2654435761 % 2147483648 + 1)
        |      / 2147483649.0 AS u0,
        |    ((j * 2 + 1) % 2147483648 * 2654435761 % 2147483648 + 1)
        |      / 2147483649.0 AS u1
        |  FROM j),
        |n AS (SELECT *,
        |    clipped_sum + (CASE WHEN u0 < 0.5
        |      THEN 200.0 * round(ln(2.0 * u0), 9)
        |      ELSE -200.0 * round(ln(2.0 * (1.0 - u0)), 9) END)
        |      AS noisy_sum,
        |    c + (CASE WHEN u1 < 0.5 THEN 1.0 * round(ln(2.0 * u1), 9)
        |      ELSE -1.0 * round(ln(2.0 * (1.0 - u1)), 9) END)
        |      AS noisy_n
        |  FROM u)
        |SELECT event_type, CAST(1.0 AS DOUBLE) AS epsilon,
        |  CAST(200.0 AS DOUBLE) AS clip_bound,
        |  round(noisy_sum, 6) + 0.0 AS noisy_sum,
        |  round(noisy_n, 6) + 0.0 AS noisy_count,
        |  round(noisy_sum / noisy_n, 6) + 0.0 AS dp_mean
        |FROM n ORDER BY event_type""".stripMargin)),
    Key("privacy_suppression", privacySuppression, Some(
      """WITH cells AS (
        |  SELECT event_type,
        |    (CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01')
        |      % 7 AS dow,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT *, n < 10 AS primary_sup FROM cells),
        |w AS (SELECT *,
        |    sum(CASE WHEN primary_sup THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY event_type) AS n_sup,
        |    min(CASE WHEN NOT primary_sup THEN n END)
        |      OVER (PARTITION BY event_type) AS min_ok
        |  FROM m),
        |w2 AS (SELECT *,
        |    n_sup = 1 AND NOT primary_sup AND n = min_ok
        |      AS secondary_sup,
        |    min(CASE WHEN NOT primary_sup AND n = min_ok THEN dow END)
        |      OVER (PARTITION BY event_type) AS min_dow
        |  FROM w),
        |f AS (SELECT *, primary_sup OR
        |        (secondary_sup AND dow = min_dow) AS suppressed
        |      FROM w2)
        |SELECT event_type, CAST(dow AS BIGINT) AS dow,
        |  CASE WHEN NOT suppressed THEN n END AS released_n,
        |  suppressed, primary_sup AS is_primary
        |FROM f ORDER BY event_type, dow""".stripMargin)),
    Key("dq_gap_scan", dqGapScan, Some(duckDailyTyped +
      """g AS (SELECT event_type, day,
        |    day - lag(day, 1) OVER (PARTITION BY event_type
        |      ORDER BY day) AS gap
        |  FROM daily),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    min(day) AS first_day, max(day) AS last_day,
        |    CAST(sum(CASE WHEN gap > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_gaps,
        |    CAST(COALESCE(max(CASE WHEN gap > 1 THEN gap - 1 END), 0)
        |      AS BIGINT) AS longest_gap
        |  FROM g GROUP BY 1)
        |SELECT event_type, n_days, first_day, last_day,
        |  CAST(last_day - first_day + 1 AS BIGINT) AS span_days,
        |  CAST(last_day - first_day + 1 - n_days AS BIGINT) AS n_missing,
        |  n_gaps, longest_gap
        |FROM a ORDER BY event_type""".stripMargin)),
    Key("dist_theil", distTheil, Some(duckUserSpendPos +
      """t AS (SELECT n, mu,
        |        CAST(round(xc / mu * ln(xc / mu), 9) AS DECIMAL(18,9))
        |          AS tt,
        |        CAST(round(ln(mu / xc), 9) AS DECIMAL(18,9)) AS tl
        |      FROM spend, tot)
        |SELECT n AS n_users, round(mu, 6) + 0.0 AS mean_cents,
        |  round(CAST(sum(tt) AS DOUBLE) / n, 6) + 0.0 AS theil_t,
        |  round(CAST(sum(tl) AS DOUBLE) / n, 6) + 0.0 AS theil_l
        |FROM t GROUP BY n, mu""".stripMargin)),
    Key("dist_atkinson", distAtkinson, Some(duckUserSpendPos +
      """t AS (SELECT n, mu,
        |        CAST(round(sqrt(xc / mu), 9) AS DECIMAL(18,9)) AS th,
        |        CAST(round(ln(CAST(xc AS DOUBLE)), 9) AS DECIMAL(18,9))
        |          AS tg,
        |        CAST(round(mu / xc, 9) AS DECIMAL(18,9)) AS tr
        |      FROM spend, tot)
        |SELECT n AS n_users, round(mu, 6) + 0.0 AS mean_cents,
        |  round(1 - CAST(sum(th) AS DOUBLE) / n
        |    * (CAST(sum(th) AS DOUBLE) / n), 6) + 0.0 AS a_eps_half,
        |  round(1 - exp(CAST(sum(tg) AS DOUBLE) / n) / mu, 6) + 0.0
        |    AS a_eps_1,
        |  round(1 - CAST(n AS DOUBLE) / CAST(sum(tr) AS DOUBLE), 6)
        |    + 0.0 AS a_eps_2
        |FROM t GROUP BY n, mu""".stripMargin)),
    Key("sample_neyman_alloc", sampleNeymanAlloc, Some(
      """WITH s AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS nh,
        |    CAST(sum(CAST(CAST("value" AS DECIMAL(18,2)) * 100
        |         AS BIGINT)) AS BIGINT) AS sx,
        |    CAST(sum(CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT)
        |         * CAST(CAST("value" AS DECIMAL(18,2)) * 100 AS BIGINT))
        |         AS BIGINT) AS sx2
        |  FROM events GROUP BY 1),
        |d AS (SELECT *,
        |    sqrt(CAST(nh * sx2 - sx * sx AS DOUBLE)
        |      / (CAST(nh AS DOUBLE) * (nh - 1))) / 100 AS sh
        |  FROM s),
        |ww AS (SELECT *, CAST(round(nh * sh, 6) AS DECIMAL(28,6)) AS w
        |       FROM d),
        |t AS (SELECT sum(w) AS tw, CAST(sum(nh) AS BIGINT) AS tn FROM ww),
        |al AS (SELECT ww.*, t.tn,
        |    CAST(w AS DOUBLE) / CAST(tw AS DOUBLE) AS share
        |  FROM ww CROSS JOIN t),
        |ab AS (SELECT *, CAST(floor(1000 * share) AS BIGINT) AS n_base,
        |    1000 * share - CAST(floor(1000 * share) AS BIGINT) AS frac
        |  FROM al),
        |sh2 AS (SELECT CAST(1000 - sum(n_base) AS BIGINT) AS rem FROM ab),
        |rk AS (SELECT ab.*, sh2.rem,
        |    row_number() OVER (ORDER BY frac DESC, event_type) AS rk
        |  FROM ab CROSS JOIN sh2)
        |SELECT event_type, nh AS n_stratum,
        |  round(sh, 6) + 0.0 AS stddev_value,
        |  round(share, 6) + 0.0 AS neyman_share,
        |  n_base + CASE WHEN rk <= rem THEN 1 ELSE 0 END AS n_alloc,
        |  CAST(round(1000 * CAST(nh AS DOUBLE) / tn, 0) AS BIGINT)
        |    AS n_proportional
        |FROM rk ORDER BY event_type""".stripMargin)),
    Key("privacy_dp_counts", privacyDpCounts, Some(
      """WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c,
        |    CAST(row_number() OVER (ORDER BY event_type) AS BIGINT) AS j
        |  FROM events GROUP BY event_type),
        |u AS (SELECT *,
        |    ((j % 2147483648) * 2654435761 % 2147483648 + 1)
        |      / 2147483649.0 AS u
        |  FROM c),
        |n AS (SELECT *, CASE WHEN u < 0.5 THEN round(ln(2.0 * u), 9)
        |    ELSE -round(ln(2.0 * (1.0 - u)), 9) END AS noise
        |  FROM u)
        |SELECT event_type, CAST(1.0 AS DOUBLE) AS epsilon,
        |  round(c + noise, 6) + 0.0 AS noisy_count
        |FROM n ORDER BY event_type""".stripMargin)),
    Key("privacy_t_closeness", privacyTCloseness, Some(
      """WITH cells AS (
        |  SELECT ((CAST(ts AS DATE) - DATE '1970-01-01') % 7 + 7) % 7
        |      AS dow,
        |    CAST(floor("value" / 100) AS BIGINT) AS vb, event_type,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2, 3),
        |gtyp AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS ct
        |         FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM gtyp),
        |groups AS (SELECT dow, vb, CAST(sum(c) AS BIGINT) AS ng
        |           FROM cells GROUP BY 1, 2),
        |grid AS (
        |  SELECT g.dow, g.vb, g.ng, gl.ct, COALESCE(c.c, 0) AS c, t.n
        |  FROM groups g CROSS JOIN gtyp gl
        |  LEFT JOIN cells c ON c.dow = g.dow AND c.vb = g.vb
        |    AND c.event_type = gl.event_type
        |  CROSS JOIN tot t),
        |tvd AS (SELECT dow, vb, any_value(ng) AS ng, any_value(n) AS n,
        |    CAST(sum(abs(c * n - ct * ng)) AS BIGINT) AS num
        |  FROM grid GROUP BY 1, 2),
        |s AS (SELECT ng, CAST(num AS DOUBLE) / (2 * ng * n) AS t
        |      FROM tvd)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(ng) AS BIGINT) AS n_rows,
        |  round(max(t), 6) + 0.0 AS max_t,
        |  CAST(sum(CASE WHEN t > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS groups_gt_02,
        |  CAST(sum(CASE WHEN t > 0.2 THEN ng ELSE 0 END) AS BIGINT)
        |    AS rows_gt_02,
        |  round(CAST(sum(CASE WHEN t > 0.2 THEN ng ELSE 0 END) AS DOUBLE)
        |    / sum(ng), 6) + 0.0 AS pct_rows_gt_02
        |FROM s""".stripMargin)),
    Key("dist_hhi", distHhi, Some(
      """WITH r AS (
        |  SELECT p.p_brand, l.l_suppkey,
        |    CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
        |      AS DECIMAL(18,2)) AS r
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1, 2),
        |g AS (SELECT p_brand, CAST(count(*) AS BIGINT) AS n_suppliers,
        |    sum(r) AS tot, sum(r * r) AS sq
        |  FROM r GROUP BY 1)
        |SELECT p_brand, n_suppliers,
        |  CAST(tot AS DOUBLE) AS total_rev,
        |  round(CAST(sq AS DOUBLE)
        |    / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)), 6) + 0.0
        |    AS hhi,
        |  CAST(sq AS DOUBLE)
        |    / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) > 0.25
        |    AS concentrated
        |FROM g ORDER BY p_brand""".stripMargin)),
    Key("privacy_l_diversity", privacyLDiversity, Some(
      """WITH g AS (
        |  SELECT (CAST(CAST(ts AS TIMESTAMP) AS DATE)
        |      - DATE '1970-01-01') % 7 AS dow,
        |    CAST(floor("value" / 100) AS BIGINT) AS vb,
        |    CAST(count(*) AS BIGINT) AS k,
        |    CAST(count(DISTINCT event_type) AS BIGINT) AS l
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(k) AS BIGINT) AS n_rows,
        |  CAST(min(l) AS BIGINT) AS min_l,
        |  CAST(sum(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS groups_lt_2,
        |  CAST(sum(CASE WHEN l < 2 THEN k ELSE 0 END) AS BIGINT)
        |    AS rows_lt_2,
        |  CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS groups_lt_3,
        |  CAST(sum(CASE WHEN l < 3 THEN k ELSE 0 END) AS BIGINT)
        |    AS rows_lt_3,
        |  round(CAST(sum(CASE WHEN l < 3 THEN k ELSE 0 END) AS DOUBLE)
        |    / sum(k), 6) + 0.0 AS pct_rows_lt_3
        |FROM g""".stripMargin)),
    Key("hist_2d", hist2d, Some(
      """WITH e AS (SELECT
        |    (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 4) % 7 + 1
        |      AS dow,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS hr
        |  FROM events),
        |g AS (SELECT dow, hr, CAST(count(*) AS BIGINT) AS cnt
        |      FROM e GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM g)
        |SELECT dow, hr, cnt,
        |  round(CAST(cnt AS DOUBLE) / total, 6) + 0.0 AS share
        |FROM g CROSS JOIN t ORDER BY dow, hr""".stripMargin)),
    Key("dq_freshness", dqFreshness, Some(
      """WITH e AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |w AS (SELECT max(us) AS wm FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(max(us) AS BIGINT) AS last_us,
        |  CAST((any_value(wm) - max(us)) // 60000000 AS BIGINT) AS lag_min,
        |  CAST(sum(CASE WHEN us >= wm - 86400000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_last_24h,
        |  (any_value(wm) - max(us)) // 60000000 >= 60 AS is_stale
        |FROM e CROSS JOIN w
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // the stats_chi2 grid + V from the ROUNDED chi2,
    Key("weighted_median", weightedMedian, Some(
      """WITH li AS (
        |  SELECT l_returnflag AS g,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS pc,
        |    CAST(l_quantity AS BIGINT) AS wt,
        |    l_orderkey * 8 + l_linenumber AS tb
        |  FROM lineitem),
        |t AS (SELECT g, sum(wt) AS tw FROM li GROUP BY 1),
        |c AS (SELECT g, pc, wt, tb,
        |    sum(wt) OVER (PARTITION BY g ORDER BY pc, tb) AS cum FROM li),
        |q AS (SELECT c.g, pc, cum, tw,
        |    row_number() OVER (PARTITION BY c.g ORDER BY pc, tb) AS rn
        |  FROM c JOIN t ON c.g = t.g WHERE 2 * cum >= tw)
        |SELECT g AS l_returnflag, CAST(pc AS DOUBLE) / 100 AS med_price,
        |  CAST(tw AS BIGINT) AS total_weight
        |FROM q WHERE rn = 1 ORDER BY l_returnflag""".stripMargin)),
    // HUGEINT power sums = Spark's DECIMAL(38,0) (both exact 128-bit);
    // the double combination below is op-for-op the Spark expression,
    Key("dist_lorenz", distLorenz, Some(
      duckRankedSpend + """, sum(v) OVER () AS tot
        |      FROM spend),
        |d AS (SELECT ((rn - 1) * 10) // m + 1 AS decile, v, tot FROM r),
        |g AS (SELECT decile, count(*) AS n_users, sum(v) AS spend,
        |        any_value(tot) AS tot
        |      FROM d GROUP BY 1)
        |SELECT CAST(decile AS INT) AS decile, n_users,
        |  CAST(spend AS DOUBLE) AS spend,
        |  round(CAST(spend AS DOUBLE) / CAST(tot AS DOUBLE), 6) + 0.0
        |    AS share,
        |  round(CAST(sum(spend) OVER (ORDER BY decile
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        AS DOUBLE) / CAST(tot AS DOUBLE), 6) + 0.0 AS cum_share
        |FROM g ORDER BY decile""".stripMargin)),
    Key("dist_palma", distPalma, Some(
      duckRankedSpend + """
        |      FROM spend),
        |d AS (SELECT ((rn - 1) * 10) // m + 1 AS decile, v FROM r),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_users, sum(v) AS tot,
        |        sum(CASE WHEN decile = 10 THEN v END) AS top10,
        |        sum(CASE WHEN decile <= 4 THEN v END) AS bot40
        |      FROM d)
        |SELECT n_users,
        |  round(CAST(top10 AS DOUBLE) / CAST(tot AS DOUBLE), 6) + 0.0
        |    AS top10_share,
        |  round(CAST(bot40 AS DOUBLE) / CAST(tot AS DOUBLE), 6) + 0.0
        |    AS bot40_share,
        |  round(CAST(top10 AS DOUBLE) / CAST(bot40 AS DOUBLE), 6) + 0.0
        |    AS palma_ratio
        |FROM a""".stripMargin)),
    Key("dist_quintile_shares", distQuintileShares, Some(
      duckRankedSpend + """, sum(v) OVER () AS tot
        |      FROM spend),
        |d AS (SELECT ((rn - 1) * 5) // m + 1 AS quintile, v, tot FROM r),
        |g AS (SELECT quintile, CAST(count(*) AS BIGINT) AS n_users,
        |        sum(v) AS spend, any_value(tot) AS tot
        |      FROM d GROUP BY 1)
        |SELECT CAST(quintile AS INT) AS quintile, n_users,
        |  CAST(spend AS DOUBLE) AS spend,
        |  round(CAST(spend AS DOUBLE) / CAST(tot AS DOUBLE), 6) + 0.0
        |    AS share,
        |  round(CAST(sum(spend) OVER (ORDER BY quintile
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |        AS DOUBLE) / CAST(tot AS DOUBLE), 6) + 0.0 AS cum_share,
        |  round(CAST(max(CASE WHEN quintile = 5 THEN spend END) OVER ()
        |        AS DOUBLE)
        |    / CAST(max(CASE WHEN quintile = 1 THEN spend END) OVER ()
        |        AS DOUBLE), 6) + 0.0 AS s80_s20
        |FROM g ORDER BY quintile""".stripMargin)),
    Key("dq_volume_anomaly", dqVolumeAnomaly, Some(
      """WITH c AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(count(*) AS DOUBLE) AS cnt FROM events GROUP BY 1),
        |mr AS (SELECT cnt, row_number() OVER (ORDER BY cnt) AS rn,
        |              count(*) OVER () AS m FROM c),
        |med AS (SELECT avg(cnt) AS med FROM mr
        |        WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2),
        |dv AS (SELECT abs(c.cnt - med.med) AS dev
        |       FROM c CROSS JOIN med),
        |dr AS (SELECT dev, row_number() OVER (ORDER BY dev) AS rn,
        |              count(*) OVER () AS m FROM dv),
        |mad AS (SELECT avg(dev) AS mad FROM dr
        |        WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2)
        |SELECT c.day, CAST(c.cnt AS BIGINT) AS n_rows,
        |  round(med.med, 6) + 0.0 AS med, round(mad.mad, 6) + 0.0 AS mad,
        |  abs(c.cnt - med.med) > round(3.5 * mad.mad, 6) + 0.0
        |    AS is_anomaly
        |FROM c CROSS JOIN med CROSS JOIN mad ORDER BY day""".stripMargin)),
    Key("backlog_curve", backlogCurve, Some(
      """WITH li AS (
        |  SELECT CAST(l.l_shipdate AS DATE) AS ship_d,
        |         CAST(o.o_orderdate AS DATE) AS ord_d
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |p AS (SELECT ord_d AS day, count(*) AS placed FROM li GROUP BY 1),
        |s AS (SELECT ship_d AS day, count(*) AS shipped FROM li GROUP BY 1),
        |j AS (SELECT COALESCE(p.day, s.day) AS day,
        |        COALESCE(p.placed, 0) AS placed,
        |        COALESCE(s.shipped, 0) AS shipped
        |      FROM p FULL OUTER JOIN s ON p.day = s.day)
        |SELECT day, placed, shipped,
        |  CAST(sum(placed) OVER w AS BIGINT) AS cum_placed,
        |  CAST(sum(shipped) OVER w AS BIGINT) AS cum_shipped,
        |  CAST(sum(placed) OVER w - sum(shipped) OVER w AS BIGINT)
        |    AS backlog
        |FROM j
        |WINDOW w AS (ORDER BY day
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin)),
    Key("sample_ess", sampleEss, Some(
      """WITH c AS (SELECT event_type, count(*) AS ct
        |           FROM events GROUP BY 1),
        |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS n, count(*) AS k
        |        FROM c),
        |w AS (SELECT c.ct, tot.n, tot.k,
        |    round(n / CAST(k * ct AS DOUBLE), 6) + 0.0 AS w
        |  FROM c CROSS JOIN tot),
        |w2 AS (SELECT *, least(w, 3.0) AS wc FROM w)
        |SELECT n, CAST(k AS INT) AS n_types,
        |  round(sum(ct * w) * sum(ct * w) / sum(ct * w * w), 6) + 0.0
        |    AS ess_raw,
        |  round(sum(ct * wc) * sum(ct * wc) / sum(ct * wc * wc), 6) + 0.0
        |    AS ess_clipped,
        |  round(sum(ct * w) * sum(ct * w) / sum(ct * w * w) / n, 6) + 0.0
        |    AS ess_frac
        |FROM w2 GROUP BY n, k""".stripMargin)),
    Key("session_gap_hist", sessionGapHist, Some(
      """WITH e AS (
        |  SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |g0 AS (SELECT user_id, us,
        |    lag(us) OVER (PARTITION BY user_id
        |                  ORDER BY us, event_id) AS prev
        |  FROM e),
        |g AS (SELECT (us - prev) // 1000000 AS gap_s FROM g0
        |      WHERE prev IS NOT NULL),
        |b AS (SELECT CASE WHEN gap_s < 1 THEN 0 WHEN gap_s < 10 THEN 1
        |             WHEN gap_s < 60 THEN 2 WHEN gap_s < 600 THEN 3
        |             WHEN gap_s < 3600 THEN 4 ELSE 5 END AS b
        |      FROM g),
        |c AS (SELECT CAST(b AS INT) AS b, count(*) AS cnt
        |      FROM b GROUP BY 1)
        |SELECT b,
        |  CASE b WHEN 0 THEN 'lt_1s' WHEN 1 THEN 'lt_10s'
        |         WHEN 2 THEN 'lt_1m' WHEN 3 THEN 'lt_10m'
        |         WHEN 4 THEN 'lt_1h' ELSE 'ge_1h' END AS bucket,
        |  cnt,
        |  round(cnt / CAST(sum(cnt) OVER () AS DOUBLE), 6) + 0.0 AS share
        |FROM c ORDER BY b""".stripMargin)),
    Key("privacy_kanon", privacyKanon, Some(
      """WITH g AS (
        |  SELECT event_type,
        |    CAST(((CAST(ts AS DATE) - DATE '1970-01-01') % 7 + 7) % 7
        |         AS INTEGER) AS dow,
        |    CAST(floor("value" / 100) AS BIGINT) AS vb,
        |    count(*) AS k
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT count(*) AS n_groups, CAST(sum(k) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS groups_lt_5,
        |  CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
        |    AS rows_lt_5,
        |  round(sum(CASE WHEN k < 5 THEN k ELSE 0 END)
        |        / CAST(sum(k) AS DOUBLE), 6) + 0.0 AS pct_rows_lt_5,
        |  CAST(sum(CASE WHEN k < 10 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS groups_lt_10,
        |  CAST(sum(CASE WHEN k < 10 THEN k ELSE 0 END) AS BIGINT)
        |    AS rows_lt_10,
        |  round(sum(CASE WHEN k < 10 THEN k ELSE 0 END)
        |        / CAST(sum(k) AS DOUBLE), 6) + 0.0 AS pct_rows_lt_10
        |FROM g""".stripMargin)),
    Key("hist_kde", histKde, Some(
      """WITH st AS (
        |  SELECT CAST(min("value") AS DOUBLE) AS lo,
        |    CAST(max("value") AS DOUBLE) AS hi, count(*) AS n,
        |    CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST("value" AS DECIMAL(18,2)) *
        |             CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sxx
        |  FROM events),
        |p AS (SELECT *, round(1.06 * sqrt((sxx - sx * sx / n) / (n - 1)) *
        |                      pow(CAST(n AS DOUBLE), -0.2), 6) AS h
        |      FROM st),
        |grid AS (SELECT p.*, CAST(j AS BIGINT) AS j,
        |    lo + (hi - lo) * CAST(j AS DOUBLE) / 63 AS gx
        |  FROM p CROSS JOIN (SELECT unnest(range(0, 64)) AS j)),
        |terms AS (SELECT g.j, g.gx, g.n, g.h,
        |    CAST(round(exp((("value" - g.gx) / g.h) *
        |                   (("value" - g.gx) / g.h) / -2), 9)
        |         AS DECIMAL(18,9)) AS term
        |  FROM events CROSS JOIN grid g)
        |SELECT CAST(j AS INT) AS grid_id, round(gx, 6) + 0.0 AS x,
        |  round(CAST(sum(term) AS DOUBLE) /
        |        (CAST(n AS DOUBLE) * h *
        |         CAST('2.5066282746310002' AS DOUBLE)), 6) + 0.0
        |    AS density
        |FROM terms GROUP BY j, gx, n, h ORDER BY grid_id""".stripMargin)),
    Key("group_entropy", groupEntropy, Some(
      """WITH c AS (
        |  SELECT source, lang, count(*) AS cnt FROM documents GROUP BY 1, 2),
        |t AS (SELECT *, sum(cnt) OVER (PARTITION BY source) AS tot FROM c)
        |SELECT source, count(*) AS n_langs,
        |  CAST(any_value(tot) AS BIGINT) AS n_docs,
        |  round(-sum((cnt / CAST(tot AS DOUBLE)) *
        |             ln(cnt / CAST(tot AS DOUBLE))), 6) + 0.0 AS entropy
        |FROM t GROUP BY source ORDER BY source""".stripMargin)),
    Key("hist_equidepth", histEquidepth, Some(
      """SELECT event_type, bucket, min("value") AS lo, max("value") AS hi,
        |  count(*) AS cnt
        |FROM (SELECT event_type, "value", event_id,
        |        ntile(10) OVER (PARTITION BY event_type
        |                        ORDER BY "value", event_id) AS bucket
        |      FROM events)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
  )
}
