package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Key
import graft.sources.Tables
import graft.operators.OpsHelpers.{flagStatusTotals, pearsonSums, userDayGrid}

/** Operators beyond the reference and beyond plain relational algebra that
  * a production event/training-data pipeline needs: sessionization, as-of
  * joins, hierarchical rollups.
  *
  * All three follow the same scale shape: ONE shuffle on the entity key,
  * then per-partition ordered processing via window frames — the pattern
  * that holds at 1000 executors (no range joins, no driver loops, state
  * bounded per key).
  *
  * Timestamps are compared in epoch MICROSECONDS (`unix_micros` ≙ DuckDB
  * `epoch_us`) — both engines truncate the ns parquet source identically,
  * so gap/as-of boundary decisions agree exactly.
  */
object AdvancedOps {

  private val GapUs = 30L * 60 * 1000000 // 30-minute session gap

  /** Events with the µs epoch and a per-user ordering column. event_id is
    * the tiebreak (and primary order): it is assigned in ingest order, so
    * per-user it is time-monotone without the ns-ordering ambiguity. */
  private def seq(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))

  // ── gap-based sessionization: a new session starts when the gap to the
  // previous event of the same user exceeds 30 min; session_id is the
  // running count of session starts. Batch form of what
  // flatMapGroupsWithState computes incrementally in streaming
  // (graft.streaming.Sessionize). ──
  /** The session table, memoized per corpus (round 13): one row per
    * (user, session) with exact integer bounds — corpus state four keys
    * read (sessionize, sessions_coverage, sessions_concurrent,
    * join_interval_overlap), each of which previously re-ran the
    * events scan + per-user gap windows + session aggregate. */
  private def sessionTable(spark: SparkSession, dir: String): DataFrame =
    SharedCorpus.memo(spark, "sessions", dir, "events") {
      val order =
        Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val running = order.rowsBetween(Window.unboundedPreceding, 0)
      seq(spark, dir)
        .withColumn("prev_us", lag(col("us"), 1).over(order))
        .withColumn("is_new",
          when(col("prev_us").isNull || col("us") - col("prev_us") > GapUs, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("is_new")).over(running))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("us")).as("start_us"), max(col("us")).as("end_us"),
          // entry/exit events (round 13): the same min/max-struct argmin
          // sessions_entry_exit computed per invocation from its own
          // full re-sessionization — (us, event_id) is a total order, so
          // these are exactly the first/last events of the session
          min(struct(col("us"), col("event_id"), col("event_type")))
            .as("f"),
          max(struct(col("us"), col("event_id"), col("event_type")))
            .as("l"))
    }

  def sessionize(spark: SparkSession, dir: String): DataFrame =
    sessionTable(spark, dir)
      // the declared output is the 5-column session table — the memo's
      // entry/exit structs are for sessions_entry_exit only
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("start_us"), col("end_us"))
      .orderBy("user_id", "session_id")

  // ── interval-UNION coverage: for each day, how many µs were covered
  // by ≥1 active session — uptime/billing-style "covered time", the
  // companion gauge to sessions_concurrent's peak (stabbing MAX vs
  // union LENGTH). Sessions are day-clamped half-open [s, e) slices
  // (explode over the spanned day numbers), then each day runs the
  // textbook sorted sweep: order slices by (s, e desc); a slice's NEW
  // coverage is max(0, e − max(s, prefix-max of e)) — duplicate and
  // contained slices contribute 0, so the per-day SUM is exactly the
  // union length and is invariant to tie order among equal starts.
  // Every window partitions by day (parallel, bounded state); the
  // explode fans a session into its spanned days only. All arithmetic
  // is integer µs — the oracle replays it exactly. ──
  def sessionsCoverage(spark: SparkSession, dir: String): DataFrame = {
    val DayUs = 86400000000L
    val sess = sessionTable(spark, dir)
      .select(col("start_us"), (col("end_us") + 1).as("end_x"))
    val clamped = sess
      .select(col("start_us"), col("end_x"),
        explode(expr(s"sequence(start_us div ${DayUs}L," +
          s" (end_x - 1) div ${DayUs}L)")).as("dayno"))
      .select(col("dayno"),
        greatest(col("start_us"), col("dayno") * DayUs).as("s"),
        least(col("end_x"), (col("dayno") + 1) * DayUs).as("e"))
    val sweep = Window.partitionBy(col("dayno"))
      .orderBy(col("s"), desc("e"))
      .rowsBetween(Window.unboundedPreceding, -1)
    clamped
      .withColumn("pmax", coalesce(max(col("e")).over(sweep), lit(0L)))
      .withColumn("cov",
        greatest(lit(0L), col("e") - greatest(col("s"), col("pmax"))))
      .groupBy(col("dayno"))
      .agg(sum(col("cov")).as("covered_us"))
      .select(col("dayno"), col("covered_us"),
        round(col("covered_us").cast("double") / DayUs, 6).as("coverage"))
      .orderBy("dayno")
  }

  // ── concurrent-sessions gauge: how many sessions were simultaneously
  // active, max per day — the interval-stabbing load metric every
  // capacity planner asks of a session store. Each session becomes a
  // (+1 at start, −1 at end+1µs) delta pair (inclusive [start, end]
  // activity); concurrency is the running sum of the deltas over time.
  // A global running sum is a single-task cliff at session-table scale,
  // so it is computed in the distributed-prefix form pack_sequences
  // uses: per-day running sums (day-partitioned windows, parallel) plus
  // a per-day carry-in offset from the |days|-row day-total frame (a
  // partitionless window over GROUP-SIZED data) broadcast back. Ties at
  // an instant order +1 before −1 (delta DESC), so the gauge counts a
  // session ending and one starting at the same µs as overlapping —
  // and the per-day MAX is invariant to the remaining tie order (the
  // max inside an equal-(us,delta) block is always the block's end
  // value). The oracle affords the straight global running sum, which
  // is the machine-checked equivalence proof of the decomposition. ──
  def sessionsConcurrent(spark: SparkSession, dir: String): DataFrame = {
    val sess = sessionTable(spark, dir)
    // delta-0 MIDNIGHT SENTINELS over the whole day span: without them a
    // day whose peak is the carry-in level (sessions held open across
    // midnight, only ends during the day) under-reports its max, and a
    // day lying entirely inside long sessions vanishes from the output —
    // the sentinel row samples the carry-in at 00:00 and guarantees
    // every day a row. Ties at an instant order +1 > 0 > −1 (delta
    // DESC), so the sentinel reads the level BEFORE that midnight's own
    // starts/ends.
    val spine = sess
      .agg(min(col("start_us")).as("lo"), max(col("end_us") + 1).as("hi"))
      .select(explode(expr(
        "sequence(CAST(lo div 86400000000 AS BIGINT)," +
          " CAST(hi div 86400000000 AS BIGINT))")).as("dayno"))
      .select((col("dayno") * 86400000000L).as("us"), lit(0L).as("delta"))
    val points = sess.select(col("start_us").as("us"), lit(1L).as("delta"))
      .unionByName(sess.select((col("end_us") + 1).as("us"),
        lit(-1L).as("delta")))
      .unionByName(spine)
      .withColumn("day", to_date(timestamp_micros(col("us"))))
      // consumed by BOTH the day-total and running-sum branches
      .transform(Eager(_))
    val withinDay = Window.partitionBy(col("day"))
      .orderBy(col("us"), desc("delta"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val dayTotals = points.groupBy(col("day"))
      .agg(sum(col("delta")).as("day_delta"))
      .withColumn("carry_in",
        coalesce(sum(col("day_delta")).over(
          Window.partitionBy(lit(1)).orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("day"), col("carry_in"))
    points
      .withColumn("running", sum(col("delta")).over(withinDay))
      .join(broadcast(dayTotals), "day")
      .groupBy(col("day"))
      .agg(max(col("carry_in") + col("running")).as("max_concurrent"),
        sum((col("delta") === 1).cast("long")).as("sessions_started"))
      .orderBy("day")
  }

  // ── as-of join: each purchase matched to the latest click AT OR BEFORE
  // it by the same user. Implemented as union + running max over the
  // per-user timeline — one shuffle, no range join, no point-in-time
  // subquery per row (the plan that survives 100×: state per user is one
  // value). ──
  def asofJoin(spark: SparkSession, dir: String): DataFrame =
    lastClick(spark, dir)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("last_click_us"))
      .orderBy("purchase_id")

  /** Purchases with `last_click_us`, the user's latest click at or before
    * each: a running max over the per-user (us, event_id) timeline. */
  private def lastClick(spark: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    seq(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("last_click_us",
        max(when(col("event_type") === "click", col("us"))).over(order))
      .filter(col("event_type") === "purchase")
  }

  private val DayUs = 86400L * 1000000

  // ── interval-overlap join: user sessions × 3-day promo windows (every
  // day-of-month ≡ 1 mod 7 opens one) — "which sessions ran during the
  // promo". A theta join (a.start < b.end ∧ b.start ≤ a.end) is a cross
  // product at scale; the standard decomposition EQUI-joins on the coarse
  // day buckets each interval SPANS (a bounded explode: sessions span ≤2
  // days under the 30-min gap rule, promos exactly 3), dedups the pairs
  // that matched in several buckets, and applies the exact overlap
  // predicate as a residual — the interval-join shape Flink/KDB use, all
  // shuffles keyed on the bucket. The oracle can afford the plain theta
  // join, which is the equivalence proof of the decomposition. ──
  def joinIntervalOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sessions = sessionTable(spark, dir)
      .select(col("user_id"), col("session_id"),
        col("start_us"), col("end_us"))
    val promos = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("promo_day")).distinct()
      .filter(dayofmonth(col("promo_day")) % 7 === 1)
      .withColumn("p0", expr("unix_micros(CAST(promo_day AS TIMESTAMP))"))
      .withColumn("p1", col("p0") + lit(3 * DayUs))
    val sb = sessions.withColumn("bday",
      explode(expr(s"sequence(start_us div $DayUs, end_us div $DayUs)")))
    val pb = promos.withColumn("bday",
      explode(expr(s"sequence(p0 div $DayUs, (p1 - 1) div $DayUs)")))
    sb.join(pb, "bday")
      .filter(col("start_us") < col("p1") && col("p0") <= col("end_us"))
      .select(col("user_id"), col("session_id"), col("promo_day")).distinct()
      .groupBy(col("promo_day"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("promo_day")
  }

  private val AsofTolUs = 3600L * 1000000 // 1-hour as-of tolerance

  // ── as-of join WITH TOLERANCE (the pandas merge_asof(tolerance=…)
  // surface): like [[asofJoin]], but a click only matches a purchase if
  // it happened within the last hour — staler state is treated as no
  // match (null), the semantics every feature-freshness join needs.
  // Same single running-max pass; the tolerance is a post-projection on
  // the matched timestamp, so the plan is identical to the untoleranced
  // form: one shuffle, per-user O(1) state. ──
  def asofJoinTolerance(spark: SparkSession, dir: String): DataFrame =
    lastClick(spark, dir)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        when(col("us") - col("last_click_us") <= AsofTolUs,
          col("last_click_us")).as("click_us_1h"),
        when(col("us") - col("last_click_us") <= AsofTolUs,
          col("us") - col("last_click_us")).as("lag_us"))
      .orderBy("purchase_id")

  // ── nearest-direction as-of join: each purchase matched to its CLOSEST
  // click in either direction, ties to the earlier one — pandas
  // merge_asof(direction='nearest'), completing the family next to the
  // backward default ([[asofJoin]]) and the tolerance variant
  // ([[asofJoinTolerance]]). Same single-sort shape: ONE
  // entity-partitioned ordered window computes both the running last
  // click (unbounded-preceding frame) and the upcoming next click
  // (unbounded-following frame) — no self-join, no per-row probe; the
  // nearest pick is then plain row-local arithmetic. Scale = one shuffle
  // on user_id, per-key state bounded by the user's timeline. ──
  def asofJoinNearest(spark: SparkSession, dir: String): DataFrame = {
    val spec = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val click = when(col("event_type") === "click", col("us"))
    seq(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("back_us",
        max(click).over(spec.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("fwd_us",
        min(click).over(spec.rowsBetween(0, Window.unboundedFollowing)))
      .filter(col("event_type") === "purchase")
      .withColumn("click_us",
        when(col("back_us").isNull, col("fwd_us"))
          .when(col("fwd_us").isNull, col("back_us"))
          .when(col("us") - col("back_us") <= col("fwd_us") - col("us"),
            col("back_us"))
          .otherwise(col("fwd_us")))
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("click_us"), (col("us") - col("click_us")).as("delta_us"))
      .orderBy("purchase_id")
  }

  // ── time-series gap-fill (resample to a daily grid): per-user daily
  // event counts with MISSING days zero-filled across each user's active
  // span — the regularization step every time-series feature pipeline
  // needs before windowed models. The day grid comes from sequence() +
  // explode per user (bounded by span length, generated on executors —
  // no calendar table, no driver loop) and the fill is a left join keyed
  // on (user, day): every stage is keyed on the entity, so the shape is
  // one shuffle + one map-side grid expansion at any scale. ──
  def resampleDaily(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).as("cnt"))
    val grid = userDayGrid(daily)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day_s"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
      .orderBy("user_id", "day_s")
  }

  // ── forward-fill twin of [[resampleDaily]]: LOCF (last observation
  // carried forward) — gap days inherit the most recent known per-user
  // daily average instead of zero, the imputation step for VALUE series
  // (zero-fill is right for counts, wrong for levels). Same grid + left
  // join shape; the fill itself is `last(value, ignoreNulls)` over the
  // per-user day order — frame-bounded running state, partitioned on the
  // entity, so it parallelizes per user like every other stage. is_gap
  // rides along so downstream quality gates can weight imputed points. ──
  def resampleFfill(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val daily = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
      .groupBy(col("user_id"), col("day"))
      .agg(Exact.avgMoney(col("value")).as("avg_v"))
    val grid = userDayGrid(daily)
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"),
        date_format(col("day"), "yyyy-MM-dd").as("day_s"),
        round(last(col("avg_v"), ignoreNulls = true).over(w), 6)
          .as("avg_value"),
        col("avg_v").isNull.as("is_gap"))
      .orderBy("user_id", "day_s")
  }

  // ── rollup: hierarchical subtotals over returnflag → linestatus, with
  // grouping indicators disambiguating the subtotal rows (free in Spark —
  // SURVEY §2.5 notes cube/rollup as the natural extension the reference
  // never had). ──
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    flagStatusTotals(Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus")))

  // ── exact distinct-aggregate: users per event type. Spark plans this as
  // the two-phase expand/partial/final pipeline (dedup on (group, value)
  // first, then count) — the exact-distinct pattern that scales; HLL
  // (approx_count_distinct) is the sketch alternative, exercised in tests
  // because "approx" can't hash-match an oracle. ──
  def distinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  // ── salted aggregation: the hot-key pattern spelled out. Phase 1 fans a
  // skewed group key across 16 salt buckets (partial aggregate per
  // (key, salt)), phase 2 merges the per-salt partials. For plain
  // count/sum Spark's map-side partial aggregation already achieves this;
  // the explicit form is the template for aggregates WITHOUT partial
  // pushdown (collect_list, exact quantiles) on skewed keys at 100 TB —
  // and its result is provably identical to the direct groupBy (oracled). ──
  def saltedAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("c"),
        sum(col("value").cast("decimal(18,2)")).as("s"))
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("cnt"),
        sum(col("s")).cast("double").as("sum_value"))
      .orderBy("event_type")

  // ── TPC-H Q1 pricing summary, THROUGH THE SQL FRONT DOOR: temp view +
  // spark.sql — the engine's SQL surface is first-class, same Catalyst
  // plan as the DataFrame form. Decimal-exact sums per the house rule. ──
  def tpchQ1(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_lineitem")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE), 4) AS sum_disc_price,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,4))) * (1 + CAST(l_tax AS DECIMAL(6,4)))) AS DOUBLE), 4) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
        |  count(*) AS count_order
        |FROM graft_lineitem
        |WHERE l_shipdate < TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  // ── TPC-H Q3 shipping-priority: the classic filter→join→join→agg→top-k
  // pipeline. Customer is dim-sized → broadcast; lineitem⋈orders is the
  // large pair and shuffles once on orderkey; the final top-10 is
  // TakeOrderedAndProject (per-partition heaps), never a global sort.
  // (Our orders table has no o_shippriority; o_orderpriority stands in.) ──
  def tpchQ3(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val cutoff = lit(java.sql.Timestamp.valueOf("1998-06-01 00:00:00"))
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < cutoff)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(Exact.sumRevenue(col("l_extendedprice"), col("l_discount"))
        .as("revenue"))
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_orderpriority"), col("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)
  }

  // ── TPC-H Q6 forecast-revenue: pure scan-side query — every predicate
  // pushes into the parquet scan (row-group skipping on shipdate), the
  // aggregate is a single partial+final sum with no groups. The canonical
  // "is pushdown actually happening" probe at 100 TB. ──
  def tpchQ6(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")) &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(Exact.money(col("l_extendedprice")) * Exact.frac(col("l_discount")))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  // ── TPC-H Q12 shipping-modes: large-large join + conditional aggregation
  // (high/low priority counts per returnflag standing in for shipmode,
  // which our lineitem lacks). One shuffle on orderkey, counts folded into
  // a single Aggregate via when(). ──
  def tpchQ12(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
    val o = Tables.orders(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
          .as("high_line_count"),
        count(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1))
          .as("low_line_count"))
      .orderBy("l_returnflag")
  }

  // ── TPC-H Q14 promo-revenue share: conditional revenue ratio over a
  // fact⋈dim join. Both the numerator (CASE'd) and denominator come out of
  // ONE aggregate pass; exact decimal arithmetic until the final division. ──
  def tpchQ14(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-09-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-10-01 00:00:00")))
    val p = Tables.part(spark, dir)
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .agg(
        (lit(BigDecimal(100)) * sum(when(col("p_type") === "PROMO",
            Exact.revenueTerm(col("l_extendedprice"), col("l_discount")))
          .otherwise(lit(BigDecimal(0)))))
          .cast("double").as("promo_numer"),
        Exact.sumRevenue(col("l_extendedprice"), col("l_discount")).as("total_revenue"),
        count(lit(1)).as("n_items"))
      .select(round(col("promo_numer") / col("total_revenue"), 6).as("promo_pct"),
        col("total_revenue"), col("n_items"))
  }

  /** The (n_nationkey, n_name) nations of the region named `region`. */
  private def regionNations(spark: SparkSession, dir: String,
      region: String): DataFrame = {
    val r = Tables.region(spark, dir)
      .filter(col("r_name") === region).select(col("r_regionkey"))
    Tables.nation(spark, dir)
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
  }

  // ── TPC-H Q5 local-supplier revenue: the 6-table star+snowflake join —
  // the canonical join-ORDER showcase. Plan shape by size class: region
  // and nation prune FIRST (broadcast, region filter cuts nations 5×),
  // supplier broadcasts into the big side, the one genuinely large-large
  // join (lineitem⋈orders, date-filtered) shuffles on orderkey, then
  // customer joins on custkey with the c_nationkey = s_nationkey
  // LOCAL-supplier equality applied as a post-join filter (it correlates
  // the two dimension paths, so it can't push below either join). At
  // 100 TB the orders date filter is the partition-pruning column and
  // AQE re-plans the customer join from the shrunken intermediate. ──
  def tpchQ5(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val lo = lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00"))
    val hi = lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))
    val n = regionNations(spark, dir, "ASIA")
    val s = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(c, col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(Exact.sumRevenue(col("l_extendedprice"), col("l_discount"))
        .as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))
  }

  // ── TPC-H Q10 returned-item reporting: which customers returned the
  // most revenue last quarter. lineitem pre-filters on returnflag, orders
  // on the quarter — both cut BEFORE the fact-fact shuffle join; customer
  // joins on custkey, nation broadcasts. Group keys include the
  // descriptive columns (name, nation) so no second join after the
  // aggregate. ──
  def tpchQ10(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-10-01 00:00:00")) &&
        col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val n = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(Exact.sumRevenue(col("l_extendedprice"), col("l_discount"))
        .as("revenue"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(20)
  }

  // ── TPC-H Q18 large-volume customers: orders whose total quantity
  // crosses a threshold. The classic formulation re-joins lineitem to
  // re-sum inside the outer query; aggregating ONCE and carrying
  // total_qty through the joins is equivalent and halves the lineitem
  // passes — the aggregate-then-join discipline. The HAVING filter cuts
  // the aggregate output to a sliver before it ever touches orders. ──
  def tpchQ18(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
        .as("total_qty"))
      .filter(col("total_qty") > 200)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate"), col("o_totalprice"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"))
    big.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(desc("o_totalprice"), col("orderdate"), col("o_orderkey"))
      .limit(100)
  }

  // ── TPC-H Q4 order-priority checking (adapted: this schema has no
  // l_commitdate/l_receiptdate, so "late" = shipped >30 days after the
  // order date). The EXISTS compiles to LEFT-SEMI carrying the
  // cross-table lateness predicate: only the order keys shuffle, the
  // matching lineitem payload never materializes, and each order emits
  // at most once no matter how many late lines it has. ──
  def tpchQ4(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1997-04-01 00:00:00")))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(li, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  // ── TPC-H Q13 customer distribution (adapted: no o_comment filter in
  // this schema). LEFT OUTER from customer keeps the zero-order
  // customers (count(o_orderkey) skips their nulls); the second
  // aggregate groups ON the count — it runs over one row per customer,
  // so the second shuffle is customer-sized, not order-sized. ──
  def tpchQ13(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey"))
    val o = Tables.orders(spark, dir).select(col("o_custkey"), col("o_orderkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(desc("custdist"), desc("c_count"))
  }

  // ── TPC-H Q17 small-quantity-order revenue. The spec's correlated
  // per-part avg subquery is DECORRELATED: restrict lineitem to the
  // brand's parts once, aggregate the per-part threshold from that same
  // slice, broadcast the part-sized threshold table back. Lineitem is
  // touched once; the correlated form would rescan it per row. Both
  // engines build the threshold with the identical expression tree
  // (decimal sum → double ÷ count × 0.2), so the strict `<` comparison
  // can't flip on a ULP. ──
  def tpchQ17(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") === "Brand#23").select(col("p_partkey"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val thresh = li.groupBy(col("l_partkey"))
      .agg((sum(col("l_quantity").cast("decimal(18,2)")).cast("double") /
        count(col("l_quantity")) * lit(0.2d)).as("qty_thresh"))
    li.join(broadcast(thresh), Seq("l_partkey"))
      .filter(col("l_quantity") < col("qty_thresh"))
      .agg((sum(Exact.money(col("l_extendedprice"))).cast("double") / lit(7.0d))
        .as("avg_yearly"))
  }

  // ── TPC-H Q22 global sales opportunity (adapted: no c_phone in this
  // schema, so market segments stand in for country codes, and — every
  // customer here has SOME order — "no orders" becomes "no orders since
  // 2000", the churn form). Shape preserved exactly: scalar avg over
  // positive balances broadcast (1-row nested-loop), rich-but-inactive
  // customers found by LEFT-ANTI against the recent orders, grouped
  // per segment. ──
  def tpchQ22(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val segs = Seq("AUTOMOBILE", "BUILDING", "MACHINERY")
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment").isin(segs: _*))
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
    val avgBal = c.filter(col("c_acctbal") > 0)
      .agg((sum(Exact.money(col("c_acctbal"))).cast("double") /
        count(col("c_acctbal"))).as("avg_bal"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")))
      .select(col("o_custkey"))
    c.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"),
        Exact.sumMoney(col("c_acctbal")).as("totacctbal"))
      .orderBy("c_mktsegment")
  }

  // ── TPC-H Q7 volume shipping between two nations. TWO nation paths —
  // supplier's and customer's — so nation broadcasts twice under
  // different aliases; the only large-large join (lineitem⋈orders)
  // shuffles once on orderkey. The bidirectional pair predicate stays a
  // post-join filter because it correlates both dimension paths. Revenue
  // per (supp_nation, cust_nation, year) in exact decimal. ──
  def tpchQ7(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
      .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(Exact.sumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  // ── TPC-H Q8 national market share: NATION_3's share of PROMO-part
  // revenue sold to EUROPE customers, per year. The share is a
  // conditional-aggregate ratio — numerator and denominator come out of
  // ONE aggregate pass (no second scan, no self-join), the same
  // discipline as Q14. Part and both nation hops broadcast; region cuts
  // the customer-nation list 5× before it ever reaches the fact join. ──
  def tpchQ8(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val r = Tables.region(spark, dir)
      .filter(col("r_name") === "EUROPE").select(col("r_regionkey"))
    val nc = Tables.nation(spark, dir)
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey").as("cn_key"))
    val ns = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val p = Tables.part(spark, dir)
      .filter(col("p_type") === "PROMO").select(col("p_partkey"))
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("o_orderdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nc), col("c_nationkey") === col("cn_key"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(ns), col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_3",
            Exact.revenueTerm(col("l_extendedprice"), col("l_discount")))
          .otherwise(lit(BigDecimal(0)))).cast("double").as("nation_volume"),
        Exact.sumRevenue(col("l_extendedprice"), col("l_discount")).as("total_volume"))
      .select(col("o_year"),
        round(col("nation_volume") / col("total_volume"), 6).as("mkt_share"),
        col("total_volume"))
      .orderBy("o_year")
  }

  // ── TPC-H Q9 product-type profit (adapted: no ps_supplycost in this
  // schema, so cost = 0.5 × p_retailprice × l_quantity). Profit is kept
  // as TWO exact decimal sums (revenue, retail cost) subtracted once in
  // doubles at the end — both engines produce bit-identical sums, then
  // one IEEE multiply-by-0.5 (exact) and one subtraction, so no rounding
  // is needed. Part filtered on name and broadcast; one orderkey
  // shuffle. ──
  def tpchQ9(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val p = Tables.part(spark, dir)
      .filter(col("p_name").contains("widget"))
      .select(col("p_partkey"), col("p_retailprice"))
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val n = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderdate"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"))
      .agg(
        Exact.sumRevenue(col("l_extendedprice"), col("l_discount")).as("rev"),
        sum(Exact.money(col("p_retailprice")) * Exact.money(col("l_quantity")))
          .cast("double").as("retail"))
      .select(col("nation"), col("o_year"),
        (col("rev") - lit(0.5d) * col("retail")).as("sum_profit"))
      .orderBy(col("nation"), desc("o_year"))
  }

  // ── TPC-H Q15 top supplier: the revenue view + scalar-max subquery.
  // Per-supplier quarterly revenue aggregates once (supplier-sized
  // output); the max is a 1-row broadcast nested-loop back onto it —
  // never a global sort, never a second lineitem pass. The double
  // equality is safe cross-engine because both sides derive from the
  // SAME exact decimal sum cast once to double. ──
  def tpchQ15(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1997-04-01 00:00:00")))
      .groupBy(col("l_suppkey"))
      .agg(Exact.sumRevenue(col("l_extendedprice"), col("l_discount"))
        .as("total_revenue"))
    val top = rev.agg(max(col("total_revenue")).as("max_revenue"))
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name"))
    rev.crossJoin(broadcast(top))
      .filter(col("total_revenue") === col("max_revenue"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  // ── TPC-H Q16 parts/supplier relationship (adapted: no partsupp table —
  // lineitem IS the observed part↔supplier relation here). COUNT DISTINCT
  // suppliers per (brand, type, size) bucket: the distinct expands
  // (brand,type,size,suppkey) keys in a first shuffle, then collapses to
  // the bucket — Spark's two-phase distinct-aggregate keeps both passes
  // partial-aggregated, so the wide key never concentrates. ──
  def tpchQ16(spark: SparkSession, dir: String): DataFrame = {
    val sizes = Seq(1, 5, 10, 15, 20, 25, 30, 35, 40, 45, 50)
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(sizes: _*))
      .select(col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"))
    val li = Tables.lineitem(spark, dir).select(col("l_partkey"), col("l_suppkey"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"), col("p_size"))
  }

  // ── TPC-H Q19 discounted revenue: the disjunctive-predicate query.
  // The three OR'd (brand × quantity-band × size-band) arms reference
  // both join sides, so they evaluate post-join — but the per-side
  // prefixes (brand IN (...), size ≥ 1, quantity bounds) are what a
  // 100 TB run needs pushed, and Catalyst extracts exactly those
  // common-prefix conjuncts below the join on its own (visible as
  // PushedFilters on both scans). ──
  def tpchQ19(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
    val arm1 = col("p_brand") === "Brand#11" &&
      col("l_quantity").between(1, 11) && col("p_size").between(1, 5)
    val arm2 = col("p_brand") === "Brand#22" &&
      col("l_quantity").between(10, 20) && col("p_size").between(1, 10)
    val arm3 = col("p_brand") === "Brand#33" &&
      col("l_quantity").between(20, 30) && col("p_size").between(1, 15)
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(arm1 || arm2 || arm3)
      .agg(Exact.sumRevenue(col("l_extendedprice"), col("l_discount"))
        .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  // ── TPC-H Q21 suppliers who kept orders waiting (adapted lateness:
  // shipped >30 days after the order date; finished orders only). The
  // spec's EXISTS / NOT-EXISTS pair is DECORRELATED into one per-order
  // aggregate: n_supps > 1 (someone else was on the order) and
  // late_supps = 1 (nobody else was late) — min(late suppkey) then IS
  // the sole offender, and sum(late lines) its per-order wait count.
  // One lineitem pass, one orderkey shuffle; the correlated form would
  // rescan lineitem twice per row.
  //
  // SCHEMA NOTE (driver consumers): unlike canonical Q21's (s_name,
  // numwait) ordered by numwait/name, this key returns (s_suppkey,
  // s_name, numwait) grouped and ORDERED BY THE ENTITY KEY. Deliberate
  // (round 11): the inflated sf≈1 store key-shifts supplier copies
  // WITHOUT renaming, so s_name is not a bijection for s_suppkey there —
  // grouping/ordering by display name silently merges distinct suppliers
  // at scale. Same deviation on both engines; a consumer expecting the
  // canonical 2-column shape should project/sort downstream. ──
  def tpchQ21(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    // two-level aggregate instead of two countDistincts (round 12): the
    // multi-distinct form planned an Expand (3 rows per input) plus the
    // distinct-key shuffle; pre-aggregating per (order, supp) computes
    // the same exact integers — n_supps = #(order, supp) groups,
    // late_supps = #groups with any late line, late_supp = min late
    // supp, late_lines = total late rows — with two plain keyed
    // aggregations and no row multiplication (guide §2.3).
    val perSupp = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("late")).as("any_late"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"))
    val perOrder = perSupp
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n_supps"),
        sum(col("any_late").cast("long")).as("late_supps"),
        min(when(col("any_late"), col("l_suppkey"))).as("late_supp"),
        sum(col("n_late")).as("late_lines"))
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name"))
    perOrder
      .filter(col("n_supps") > 1 && col("late_supps") === 1)
      .groupBy(col("late_supp"))
      .agg(sum(col("late_lines")).as("numwait"))
      .join(broadcast(s), col("late_supp") === col("s_suppkey"))
      // group + order by the supplier KEY, with the name as display: the
      // round-11 sf≈1 gate caught the by-name form double-counting when
      // the inflated store repeats s_name across key-shifted copies (and
      // name ties made the top-20 cut nondeterministic). Entity identity
      // is the key; TPC-H's name⇔key bijection made the two accidentally
      // equivalent at base scale.
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(desc("numwait"), col("s_suppkey"))
      .limit(20)
  }

  // ── TPC-H Q2 minimum-cost supplier (adapted: no partsupp table — the
  // observed part↔supplier relation is lineitem, and supplycost is the
  // minimum unit price ever charged, min(extendedprice/quantity)). The
  // correlated min-cost subquery decorrelates into ONE per-part argmin:
  // min(struct(cost, suppkey, ...)) — lexicographic struct min gives the
  // cheapest supplier with a deterministic suppkey tiebreak, no second
  // pass, no self-join. The (part,supp) aggregate is the only
  // lineitem-sized shuffle; everything after is part-sized. Unit price
  // stays a RAW IEEE division (no intermediate rounding) so min() picks
  // bit-identical values cross-engine. ──
  def tpchQ2(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_size").between(10, 20) && col("p_type") === "STANDARD")
      .select(col("p_partkey"), col("p_name"), col("p_size"))
    val n = regionNations(spark, dir, "EUROPE")
    val s = Tables.supplier(spark, dir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    // broadcast part filter BEFORE the (part,supp) aggregate: the shuffle
    // carries only matching parts' lines, not all of lineitem
    val ps = Tables.lineitem(spark, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"), col("l_suppkey"), col("p_name"), col("p_size"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("supplycost"))
    ps.join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_partkey"))
      .agg(min(struct(col("supplycost"), col("s_suppkey"), col("s_name"),
        col("s_acctbal"), col("n_name"), col("p_name"), col("p_size"))).as("w"))
      .select(col("w.s_acctbal").as("s_acctbal"), col("w.s_name").as("s_name"),
        col("w.n_name").as("n_name"), col("p_partkey"),
        col("w.p_name").as("p_name"), col("w.p_size").as("p_size"),
        round(col("w.supplycost"), 2).as("supplycost"))
      .orderBy(desc("s_acctbal"), col("n_name"), col("s_name"), col("p_partkey"))
      .limit(100)
  }

  // ── TPC-H Q11 important stock (adapted: part "value" is total revenue
  // supplied by NATION_19 suppliers). The fraction threshold stays in
  // EXACT decimal end to end: value·10000 > total compares two exact
  // decimals (never value > total·1e-4, which would reintroduce a float
  // boundary). Total is a 1-row broadcast back onto the part-sized
  // aggregate — lineitem is scanned once. ──
  def tpchQ11(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val sn = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .filter(col("n_name") === "NATION_19").select(col("n_nationkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val perPart = Tables.lineitem(spark, dir)
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(Exact.revenueTerm(col("l_extendedprice"), col("l_discount")))
        .cast("decimal(28,6)").as("value_dec"))
    val total = perPart.agg(sum(col("value_dec")).cast("decimal(28,6)")
      .as("total_dec"))
    perPart.crossJoin(broadcast(total))
      .filter(col("value_dec") * lit(10000) > col("total_dec"))
      .select(col("l_partkey").as("p_partkey"),
        col("value_dec").cast("double").as("value"))
      .orderBy(desc("value"), col("p_partkey"))
  }

  // ── TPC-H Q20 excess-stock suppliers (adapted: no availqty — a
  // supplier "holds excess stock" of a part when MORE than half its
  // all-time shipped quantity of that part went out in 1997, i.e. its
  // supply is concentrated in the window). Both quantity sums come out
  // of ONE (supp,part) aggregate pass via conditional aggregation; the
  // half-threshold compares exact decimals as 2·q97 > qall. The
  // qualifying (supp,part) set collapses to a distinct supplier
  // left-semi result. ──
  def tpchQ20(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    val p = Tables.part(spark, dir)
      .filter(col("p_name").contains("widget")).select(col("p_partkey"))
    val excess = Tables.lineitem(spark, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(
        sum(when(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
              col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")),
            Exact.money(col("l_quantity"))).otherwise(lit(BigDecimal(0)))).as("q97"),
        sum(Exact.money(col("l_quantity"))).as("qall"))
      // 2·q97 > qall, written subtraction-style so the exact decimals
      // never widen past their sum precision
      .filter(col("q97") > col("qall") - col("q97"))
      .select(col("l_suppkey")).distinct()
    val n = Tables.nation(spark, dir)
      .filter(col("n_name") === "NATION_18").select(col("n_nationkey"))
    Tables.supplier(spark, dir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy("s_suppkey")
  }

  // ── salted JOIN: the hot-key template for fact⋈dim when one probe key
  // dominates (AQE skew-join handles sorted/shuffled joins at runtime;
  // explicit salting is the portable fallback and the only option for
  // deliberate key-spreading in streaming). The dim side is replicated
  // across 8 salt values; the fact side picks a deterministic salt; the
  // join key becomes (key, salt) so one hot key spreads over 8 tasks.
  // Provably result-identical to the unsalted join — oracled as such. ──
  def joinSkewSalted(spark: SparkSession, dir: String): DataFrame = {
    val salts = 8
    val userDim = Tables.events(spark, dir)
      .select(col("user_id")).distinct()
      .withColumn("segment", pmod(col("user_id"), lit(5)))
    val dimSalted = userDim
      .withColumn("salt", explode(expr(s"sequence(0, ${salts - 1})")))
    val facts = Tables.events(spark, dir)
      .withColumn("salt", pmod(col("event_id"), lit(salts)).cast("int"))
    facts.join(dimSalted, Seq("user_id", "salt"))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("segment")
  }

  // ── cube: all grouping-set combinations (rollup's full-lattice sibling,
  // same Expand-based plan). ──
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    flagStatusTotals(Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus")))

  // ── lead/lag: the remaining window family — previous/next value along
  // the per-user timeline (entity-partitioned, single shuffle). ──
  def windowLeadLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"),
        lead(col("value"), 1).over(w).as("next_value"))
      .orderBy("event_id")
  }

  // ── bivariate statistics: Pearson correlation + sample covariance per
  // group, computed from EXACT decimal power sums (n, Σx, Σy, Σxy, Σx²,
  // Σy²) + the closed-form formulas — not the built-in corr/covar_samp,
  // whose streaming co-moment merges are partition-order-sensitive in the
  // last ULPs (a value near a 1e-6 rounding boundary then flips the digit
  // across engines). Decimal sums are associative → bit-identical under
  // any partitioning; the oracle spells out the IDENTICAL double
  // expression tree over the same exact sums, so the doubles agree
  // bit-for-bit before round(6). Same one-aggregate scale shape. ──
  def statsCorr(spark: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast("decimal(18,2)")
    val y = col("l_extendedprice").cast("decimal(18,2)")
    val u = col("l_discount").cast("decimal(9,4)")
    val t = col("l_tax").cast("decimal(9,4)")
    val nD = col("n").cast("double")
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), pearsonSums(x, y) ++ Seq(
        sum(u).cast("double").as("su"), sum(t).cast("double").as("sv"),
        sum(u * t).cast("double").as("suv")): _*)
      .select(col("l_returnflag"),
        // degenerate groups (n=1, or zero variance in either column) get
        // an EXPLICIT NULL, guarded the same way in the oracle SQL: left
        // to the engines, Spark's non-ANSI Divide returns NULL on a zero
        // divisor while DuckDB's IEEE division returns NaN/±inf — a
        // cross-engine mismatch waiting for the first tiny group
        // `+ 0.0` after round: IEEE `-0.0 + 0.0 = +0.0`, so a covariance
        // that rounds to zero carries the SAME sign bit in both engines
        // (DuckDB emitted -0.0 here, Spark +0.0 — bit-hash mismatch while
        // every comparison operator says equal)
        when((nD * col("sxx") - col("sx") * col("sx")) *
             (nD * col("syy") - col("sy") * col("sy")) > 0,
          round((nD * col("sxy") - col("sx") * col("sy")) /
            sqrt((nD * col("sxx") - col("sx") * col("sx")) *
                 (nD * col("syy") - col("sy") * col("sy"))), 6) + lit(0.0d))
          .as("corr_qty_price"),
        when(col("n") > 1,
          round((nD * col("suv") - col("su") * col("sv")) /
            (nD * (nD - lit(1.0d))), 6) + lit(0.0d)).as("covar_disc_tax"),
        col("n"))
      .orderBy("l_returnflag")
  }

  // ── fulfilment lead time: ship date − order date per line, summarized
  // per order priority (count, mean, exact-interpolated p50/p90, max) —
  // the SLA distribution a fulfilment dashboard actually tracks, and the
  // orders⋈lineitem join in its natural co-partitioned form (both sides
  // shuffle once on the order key; at 100 TB the bucketed layouts make
  // it exchange-free). Lead times are exact integer DAYS; the mean is
  // one cast-first division and the percentiles use the Spark
  // `percentile` ↔ DuckDB `quantile_cont` pairing (identical linear
  // interpolation, pinned green since funnel_time_to_convert). ──
  def leadTimeStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
          .as("lead_days"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        (round(expr("cast(sum(lead_days) as double) / count(lead_days)"), 6)
          + lit(0.0d)).as("avg_days"),
        (round(expr("percentile(lead_days, 0.5)"), 6) + lit(0.0d))
          .as("p50_days"),
        (round(expr("percentile(lead_days, 0.9)"), 6) + lit(0.0d))
          .as("p90_days"),
        max(col("lead_days")).as("max_days"))
      .orderBy("o_orderpriority")
  }

  // ── entry/exit matrix over gap sessions: which event type OPENS a
  // session crossed with which type CLOSES it — the landing/exit-page
  // table of web analytics, and the sanity check on funnel design
  // (sessions that open on 'error' are an instrumentation bug, sessions
  // that close on 'purchase' ended satisfied). Rides the same one-
  // shuffle session assignment as [[sessionize]]; first/last event per
  // session come from min/max over a (us, event_id, type) struct — the
  // session's own total order, no second window pass — and the result
  // is a ≤ k² matrix with exact integer counts and µs durations. ──
  def sessionsEntryExit(spark: SparkSession, dir: String): DataFrame = {
    // reads the memoized session table (round 13) — this key previously
    // re-ran the full lag/running-sum sessionization per invocation for
    // the identical (f, l, n) triple the memo now carries
    val sess = sessionTable(spark, dir)
      .select(col("f"), col("l"), col("n_events").as("n"))
    sess.groupBy(col("f.event_type").as("entry_type"),
        col("l.event_type").as("exit_type"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n")).as("n_events"),
        sum(col("l.us") - col("f.us")).as("dur_us"))
      .select(col("entry_type"), col("exit_type"), col("n_sessions"),
        col("n_events"),
        round(expr("cast(n_events as double) / n_sessions"), 6).+(lit(0.0d))
          .as("avg_events"),
        round(expr("cast(dur_us as double) / n_sessions / 1000000"), 6)
          .+(lit(0.0d)).as("avg_duration_s"))
      .orderBy("entry_type", "exit_type")
  }

  /** Oracle CTEs mirroring [[userDayGrid]] over `daily(user_id, day,
    * ..)`: each user's first and last day `spans` and the day spine
    * `grid(user_id, day)`. Ends at its closing parenthesis. */
  private val duckUserDayGrid: String =
    """spans AS (SELECT user_id, min(day) AS d0, max(day) AS d1
      |          FROM daily GROUP BY 1),
      |grid AS (SELECT user_id,
      |           CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      |         FROM spans)""".stripMargin

  /** Oracle CTEs mirroring [[lastClick]] over clicks and purchases: the
    * events `seq` and `marked`, each with the user's latest click at or
    * before it as `alias`. Ends at that alias. */
  private def duckLastClick(alias: String): String =
    s"""WITH seq AS (
       |  SELECT event_id, user_id, event_type,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events WHERE event_type IN ('click', 'purchase')),
       |marked AS (
       |  SELECT *,
       |    max(CASE WHEN event_type = 'click' THEN us END) OVER (
       |      PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS $alias""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("sessions_entry_exit", sessionsEntryExit, Some(
      s"""WITH seq AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |flags AS (
        |  SELECT user_id, us, event_id, event_type,
        |    CASE WHEN lag(us) OVER w IS NULL
        |           OR ${OracleSql.SessionBreak}
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM seq WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (
        |  SELECT user_id, us, event_id, event_type,
        |    CAST(sum(is_new) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM flags),
        |rk AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY user_id, session_id
        |      ORDER BY us, event_id) AS rf,
        |    row_number() OVER (PARTITION BY user_id, session_id
        |      ORDER BY us DESC, event_id DESC) AS rl
        |  FROM sess),
        |agg AS (
        |  SELECT user_id, session_id,
        |    min(CASE WHEN rf = 1 THEN event_type END) AS entry_type,
        |    min(CASE WHEN rl = 1 THEN event_type END) AS exit_type,
        |    CAST(count(*) AS BIGINT) AS n,
        |    max(us) - min(us) AS dur
        |  FROM rk GROUP BY 1, 2)
        |SELECT entry_type, exit_type, CAST(count(*) AS BIGINT)
        |    AS n_sessions,
        |  CAST(sum(n) AS BIGINT) AS n_events,
        |  round(CAST(sum(n) AS DOUBLE) / count(*), 6) + 0.0 AS avg_events,
        |  round(CAST(sum(dur) AS DOUBLE) / count(*) / 1000000, 6) + 0.0
        |    AS avg_duration_s
        |FROM agg GROUP BY 1, 2 ORDER BY entry_type, exit_type""".stripMargin)),
    Key("lead_time_stats", leadTimeStats, Some(
      """WITH l AS (
        |  SELECT o.o_orderpriority,
        |    CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
        |      AS BIGINT) AS lead_days
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
        |  round(CAST(sum(lead_days) AS DOUBLE) / count(lead_days), 6)
        |    + 0.0 AS avg_days,
        |  round(quantile_cont(lead_days, 0.5), 6) + 0.0 AS p50_days,
        |  round(quantile_cont(lead_days, 0.9), 6) + 0.0 AS p90_days,
        |  max(lead_days) AS max_days
        |FROM l GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)),
    // the identical day-clamped sweep — integer µs arithmetic replays
    // bit-for-bit; unnest(generate_series) is Spark's explode(sequence)
    Key("sessions_coverage", sessionsCoverage, Some(
      OracleSql.sessionIdCtes("sess0", cast = false) +
      """,
        |sess AS (
        |  SELECT min(us) AS start_us, max(us) + 1 AS end_x
        |  FROM sess0 GROUP BY user_id, session_id),
        |cl AS (
        |  SELECT unnest(generate_series(start_us // 86400000000,
        |           (end_x - 1) // 86400000000)) AS dayno,
        |    start_us, end_x
        |  FROM sess),
        |iv AS (
        |  SELECT dayno, greatest(start_us, dayno * 86400000000) AS s,
        |    least(end_x, (dayno + 1) * 86400000000) AS e
        |  FROM cl),
        |sw AS (
        |  SELECT dayno, s, e,
        |    coalesce(max(e) OVER (PARTITION BY dayno ORDER BY s, e DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pmax
        |  FROM iv),
        |cov AS (
        |  SELECT dayno, greatest(0, e - greatest(s, pmax)) AS c FROM sw)
        |SELECT dayno, CAST(sum(c) AS BIGINT) AS covered_us,
        |  round(CAST(sum(c) AS DOUBLE) / 86400000000, 6) AS coverage
        |FROM cov GROUP BY dayno ORDER BY dayno""".stripMargin)),
    Key("sessionize", sessionize, Some(
      OracleSql.sessionIdCtes("sess", cast = true) +
      """
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(us) AS start_us, max(us) AS end_us
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin)),
    Key("resample_daily", resampleDaily, Some(
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |""".stripMargin + duckUserDayGrid + """
        |SELECT g.user_id AS user_id, strftime(g.day, '%Y-%m-%d') AS day_s,
        |  COALESCE(d.cnt, 0) AS cnt
        |FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
        |ORDER BY g.user_id, day_s""".stripMargin)),
    Key("resample_ffill", resampleFfill, Some(
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) / count("value") AS avg_v
        |  FROM events GROUP BY 1, 2),
        |""".stripMargin + duckUserDayGrid + """
        |SELECT g.user_id AS user_id, strftime(g.day, '%Y-%m-%d') AS day_s,
        |  round(last_value(d.avg_v IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS avg_value,
        |  d.avg_v IS NULL AS is_gap
        |FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
        |ORDER BY user_id, day_s""".stripMargin)),
    Key("join_interval_overlap", joinIntervalOverlap, Some(
      OracleSql.sessionIdCtes("sess", cast = false) +
      """,
        |sa AS (
        |  SELECT user_id, session_id, min(us) AS start_us, max(us) AS end_us
        |  FROM sess GROUP BY 1, 2),
        |promos AS (
        |  SELECT day, epoch_us(CAST(day AS TIMESTAMP)) AS p0,
        |    epoch_us(CAST(day AS TIMESTAMP)) + 259200000000 AS p1
        |  FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
        |  WHERE day(day) % 7 = 1)
        |SELECT promos.day AS promo_day,
        |  CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(count(DISTINCT sa.user_id) AS BIGINT) AS n_users
        |FROM sa JOIN promos
        |  ON sa.start_us < promos.p1 AND promos.p0 <= sa.end_us
        |GROUP BY 1 ORDER BY promo_day""".stripMargin)),
    Key("asof_join_tolerance", asofJoinTolerance, Some(
      duckLastClick("lc") + """
        |  FROM seq)
        |SELECT event_id AS purchase_id, user_id,
        |  CASE WHEN us - lc <= 3600000000 THEN lc END AS click_us_1h,
        |  CASE WHEN us - lc <= 3600000000 THEN us - lc END AS lag_us
        |FROM marked WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin)),
    // sessionize's CTEs + a STRAIGHT global running sum over the delta
    // timeline — the affordable-at-oracle-scale form whose equality
    // proves the engine's day-partitioned prefix decomposition exact
    Key("sessions_concurrent", sessionsConcurrent, Some(
      OracleSql.sessionIdCtes("s0", cast = true) +
      """,
        |sess AS (
        |  SELECT user_id, session_id, min(us) AS start_us, max(us) AS end_us
        |  FROM s0 GROUP BY user_id, session_id),
        |pts AS (
        |  SELECT start_us AS us, CAST(1 AS BIGINT) AS delta FROM sess
        |  UNION ALL
        |  SELECT end_us + 1, CAST(-1 AS BIGINT) FROM sess
        |  UNION ALL
        |  -- midnight sentinels over the whole span: sample the carry-in
        |  SELECT unnest(range(lo, hi + 1)) * 86400000000 AS us,
        |    CAST(0 AS BIGINT)
        |  FROM (SELECT min(start_us) // 86400000000 AS lo,
        |          max(end_us + 1) // 86400000000 AS hi FROM sess)),
        |r AS (
        |  SELECT CAST(make_timestamp(us) AS DATE) AS day, delta,
        |    CAST(sum(delta) OVER (ORDER BY us, delta DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS conc
        |  FROM pts)
        |SELECT day, max(conc) AS max_concurrent,
        |  CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS sessions_started
        |FROM r GROUP BY day ORDER BY day""".stripMargin)),
    Key("asof_join_nearest", asofJoinNearest, Some(
      duckLastClick("back_us") + """,
        |    min(CASE WHEN event_type = 'click' THEN us END) OVER (
        |      PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd_us
        |  FROM seq),
        |n AS (
        |  SELECT *,
        |    CASE WHEN back_us IS NULL THEN fwd_us
        |         WHEN fwd_us IS NULL THEN back_us
        |         WHEN us - back_us <= fwd_us - us THEN back_us
        |         ELSE fwd_us END AS click_us
        |  FROM marked WHERE event_type = 'purchase')
        |SELECT event_id AS purchase_id, user_id, click_us,
        |  us - click_us AS delta_us
        |FROM n ORDER BY purchase_id""".stripMargin)),
    Key("asof_join", asofJoin, Some(
      duckLastClick("last_click_us") + """
        |  FROM seq)
        |SELECT event_id AS purchase_id, user_id, last_click_us
        |FROM marked WHERE event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin)),
    Key("stats_corr", statsCorr, Some(
      """SELECT l_returnflag,
        |  CASE WHEN (nd * sxx - sx * sx) * (nd * syy - sy * sy) > 0
        |       THEN round((nd * sxy - sx * sy) /
        |         sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 6) + 0.0
        |  END AS corr_qty_price,
        |  CASE WHEN n > 1
        |       THEN round((nd * suv - su * sv) / (nd * (nd - 1.0)), 6) + 0.0
        |  END AS covar_disc_tax,
        |  n
        |FROM (
        |  SELECT l_returnflag, count(*) AS n, CAST(count(*) AS DOUBLE) AS nd,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(l_discount AS DECIMAL(9,4))) AS DOUBLE) AS su,
        |    CAST(sum(CAST(l_tax AS DECIMAL(9,4))) AS DOUBLE) AS sv,
        |    CAST(sum(CAST(l_discount AS DECIMAL(9,4)) * CAST(l_tax AS DECIMAL(9,4))) AS DOUBLE) AS suv
        |  FROM lineitem GROUP BY l_returnflag) t
        |ORDER BY l_returnflag""".stripMargin)),
    Key("cube_agg", cubeAgg, Some(
      OracleSql.lineitemGrouping("CUBE (l_returnflag, l_linestatus)"))),
    Key("window_lead_lag", windowLeadLag, Some(
      """SELECT event_id, user_id, "value",
        |  lag("value", 1) OVER w AS prev_value,
        |  lead("value", 1) OVER w AS next_value
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY event_id""".stripMargin)),
    Key("tpch_q12", tpchQ12, Some(
      """SELECT l_returnflag,
        |  count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS high_line_count,
        |  count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Key("tpch_q14", tpchQ14, Some(
      """SELECT round(promo_numer / total_revenue, 6) AS promo_pct, total_revenue, n_items FROM (
        |  SELECT
        |    CAST(100 * sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))
        |      ELSE 0 END) AS DOUBLE) AS promo_numer,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS total_revenue,
        |    count(*) AS n_items
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-09-01' AND l_shipdate < TIMESTAMP '1997-10-01') t""".stripMargin)),
    Key("tpch_q5", tpchQ5, Some(
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),
    Key("tpch_q10", tpchQ10, Some(
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-10-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),
    Key("tpch_q18", tpchQ18, Some(
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey HAVING total_qty > 200)
        |SELECT c_custkey, c_name, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  o_totalprice, total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, orderdate, o_orderkey LIMIT 100""".stripMargin)),
    Key("tpch_q7", tpchQ7, Some(
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(sum(vol) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS INTEGER) AS l_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4))) AS vol
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01') t
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),
    Key("tpch_q8", tpchQ8, Some(
      """SELECT o_year, round(nation_volume / total_volume, 6) AS mkt_share,
        |  total_volume
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |    CAST(sum(CASE WHEN ns.n_name = 'NATION_3'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))
        |      ELSE 0 END) AS DOUBLE) AS nation_volume,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS total_volume
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation nc ON c_nationkey = nc.n_nationkey
        |  JOIN region ON nc.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ns ON s_nationkey = ns.n_nationkey
        |  WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |  GROUP BY o_year) t
        |ORDER BY o_year""".stripMargin)),
    Key("tpch_q9", tpchQ9, Some(
      """SELECT nation, o_year, rev - 0.5 * retail AS sum_profit
        |FROM (
        |  SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS rev,
        |    CAST(sum(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS retail
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  WHERE p_name LIKE '%widget%'
        |  GROUP BY 1, 2) t
        |ORDER BY nation, o_year DESC""".stripMargin)),
    Key("tpch_q15", tpchQ15, Some(
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        |ORDER BY s_suppkey""".stripMargin)),
    Key("tpch_q16", tpchQ16, Some(
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35, 40, 45, 50)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),
    Key("tpch_q19", tpchQ19, Some(
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#11' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
        |   OR (p_brand = 'Brand#22' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
        |   OR (p_brand = 'Brand#33' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""".stripMargin)),
    Key("tpch_q21", tpchQ21, Some(
      """SELECT s_suppkey, s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON l1.l_orderkey = o_orderkey
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 30 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY s_suppkey, s_name
        |ORDER BY numwait DESC, s_suppkey LIMIT 20""".stripMargin)),
    Key("tpch_q2", tpchQ2, Some(
      """WITH ps AS (
        |  SELECT l_partkey AS p_partkey, l_suppkey, p_name, p_size,
        |    min(l_extendedprice / l_quantity) AS supplycost
        |  FROM lineitem JOIN part ON l_partkey = part.p_partkey
        |  WHERE p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD'
        |  GROUP BY 1, 2, 3, 4),
        |j AS (
        |  SELECT s_acctbal, s_name, n_name, p_partkey, p_name, p_size,
        |    supplycost,
        |    row_number() OVER (PARTITION BY p_partkey
        |      ORDER BY supplycost, l_suppkey) AS rn
        |  FROM ps
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'EUROPE')
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, p_size,
        |  round(supplycost, 2) AS supplycost
        |FROM j WHERE rn = 1
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin)),
    Key("tpch_q11", tpchQ11, Some(
      """WITH sn AS (
        |  SELECT s_suppkey FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_19'),
        |pp AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(28,6)) AS value_dec
        |  FROM lineitem JOIN sn ON l_suppkey = s_suppkey
        |  GROUP BY l_partkey)
        |SELECT l_partkey AS p_partkey, CAST(value_dec AS DOUBLE) AS value
        |FROM pp
        |WHERE value_dec * 10000 >
        |  (SELECT CAST(sum(value_dec) AS DECIMAL(28,6)) FROM pp)
        |ORDER BY value DESC, p_partkey""".stripMargin)),
    Key("tpch_q20", tpchQ20, Some(
      """WITH x AS (
        |  SELECT l_suppkey,
        |    sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
        |              AND l_shipdate < TIMESTAMP '1998-01-01'
        |        THEN CAST(l_quantity AS DECIMAL(18,2))
        |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS q97,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS qall
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE '%widget%'
        |  GROUP BY l_suppkey, l_partkey)
        |SELECT s_suppkey, s_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_18'
        |  AND s_suppkey IN (SELECT l_suppkey FROM x WHERE q97 > qall - q97)
        |ORDER BY s_suppkey""".stripMargin)),
    Key("tpch_q4", tpchQ4, Some(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o.o_orderkey
        |                AND l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    Key("tpch_q13", tpchQ13, Some(
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey) t
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin)),
    Key("tpch_q17", tpchQ17, Some(
      """WITH pb AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'),
        |li AS (SELECT l_partkey, l_quantity, l_extendedprice
        |       FROM lineitem JOIN pb ON l_partkey = p_partkey),
        |th AS (SELECT l_partkey,
        |         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |           / count(l_quantity) * 0.2 AS qty_thresh
        |       FROM li GROUP BY l_partkey)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
        |  AS avg_yearly
        |FROM li JOIN th USING (l_partkey)
        |WHERE l_quantity < qty_thresh""".stripMargin)),
    Key("tpch_q22", tpchQ22, Some(
      """WITH cs AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |            WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')),
        |ab AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |         / count(c_acctbal) AS avg_bal
        |       FROM cs WHERE c_acctbal > 0)
        |SELECT c_mktsegment, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM cs, ab
        |WHERE c_acctbal > avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),
    Key("tpch_q3", tpchQ3, Some(
      """SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-01'
        |  AND l_shipdate > TIMESTAMP '1998-06-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),
    Key("tpch_q6", tpchQ6, Some(
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin)),
    Key("tpch_q1", tpchQ1, Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,4)))) AS DOUBLE), 4) AS sum_disc_price,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(6,4))) * (1 + CAST(l_tax AS DECIMAL(6,4)))) AS DOUBLE), 4) AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    Key("join_skew_salted", joinSkewSalted, Some(
      """SELECT user_id % 5 AS segment, count(*) AS cnt,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY user_id % 5 ORDER BY segment""".stripMargin)),
    Key("distinct_agg", distinctAgg, Some(
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Key("salted_agg", saltedAgg, Some(
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Key("rollup_agg", rollupAgg, Some(
      OracleSql.lineitemGrouping("ROLLUP (l_returnflag, l_linestatus)"))),
  )
}
