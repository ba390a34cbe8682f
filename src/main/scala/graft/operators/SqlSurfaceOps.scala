package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Key
import graft.functions.Exact._
import graft.sources.Tables
import graft.operators.OpsHelpers.{flagStatusTotals, r6}

/** Second ring of declared relational completions (SURVEY.md §2.4–§2.7):
  * the ANSI-SQL surface a user coming from the reference's pandas workflow
  * would reach for next — grouping sets, set ops beyond UNION, full-outer /
  * range joins, running windows, filtered aggregates, ordered string
  * aggregation, deterministic sampling, mergeable-sketch distinct counts,
  * regexp and map functions. Every operator keeps the library's two house
  * rules: (1) deterministic output (explicit orderings + exact decimal
  * arithmetic for money sums, see [[graft.functions.Exact]]), and (2) a
  * 100 TB-shaped physical plan — no cross joins, no driver-side loops,
  * band joins bucketed so the candidate space is O(n), not O(n²).
  */
object SqlSurfaceOps {

  // ── GROUPING SETS with two non-nested sets — the shape neither rollup
  // nor cube produces. Spark plans one Expand + one hash aggregate: a
  // single pass over lineitem at any scale. ──
  def groupingSetsAgg(spark: SparkSession, dir: String): DataFrame =
    flagStatusTotals(Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus")))

  // ── INTERSECT (set semantics, distinct): users who both clicked and
  // purchased. Spark plans a left-semi join over distinct inputs — the
  // same hash-dedup + semi shape DuckDB uses; shuffle on user_id only. ──
  def setIntersect(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.filter(col("event_type") === "click").select(col("user_id"))
      .intersect(
        e.filter(col("event_type") === "purchase").select(col("user_id")))
      .orderBy("user_id")
  }

  // ── EXCEPT (set semantics): users who clicked but never purchased —
  // left-anti join over distincts. ──
  // ── MULTISET set operations (EXCEPT ALL / INTERSECT ALL): the
  // count-sensitive semantics analysts reach for when "how many more
  // times" matters — a user who clicked 5× and purchased 2× keeps 3
  // click rows under EXCEPT ALL where DISTINCT except keeps 0 or 1.
  // Spark implements both as a counted aggregation (one shuffle on the
  // row value, difference/min of per-side counts) — no row explosion.
  // except_all subtracts ONE occurrence per distinct pair (the
  // "remove each first sighting" multiset), so surviving counts are
  // original−1; intersect_all pairs each user's click stream against
  // their view stream and keeps min(#clicks, #views) rows. Outputs
  // aggregate the surviving multiset so multiplicities are visible. ──
  def setExceptAll(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"))
    e.exceptAll(e.distinct())
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("user_id", "event_type")
  }

  def setIntersectAll(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"))
    clicks.intersectAll(views)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .orderBy("user_id")
  }

  def setExcept(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.filter(col("event_type") === "click").select(col("user_id"))
      .except(
        e.filter(col("event_type") === "purchase").select(col("user_id")))
      .orderBy("user_id")
  }

  // ── FULL OUTER join of two aggregates: per-nation customer count vs
  // supplier count, nations present on either side. Aggregating BEFORE the
  // join shrinks both sides to dimension size — the join is then trivially
  // broadcastable; the unaggregated form would full-outer two fact tables. ──
  def joinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_customers"))
    val s = Tables.supplier(spark, dir)
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_suppliers"))
    c.join(s, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
      .orderBy("nationkey")
  }

  /** 60 seconds in microseconds — the band width of [[joinRange]]. */
  private val BandUs = 60L * 1000 * 1000

  // ── Bucketed range (band) join: for every `error` event, how many
  // `click` events did the same user make in the preceding 60 s (inclusive
  // both ends)? A naive `ON c.us BETWEEN e.us-60s AND e.us` is a
  // BroadcastNestedLoopJoin — O(errors × clicks), dead at scale. The
  // bucketed form bins both sides into 60 s buckets, explodes the probe
  // side into the (only) 2 buckets its band can overlap, equi-joins on
  // (user_id, bucket) — a plain shuffle hash join with O(n) candidates —
  // then applies the exact band predicate. Same rows, scale-safe plan.
  // All arithmetic on integer µs (events.ts nanos div 1000) so the DuckDB
  // oracle (epoch_ns // 1000) agrees exactly at the band boundaries. ──
  def joinRange(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.eventsRawNanos(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("us"))
    // integer `div`, not `/`: double division + cast can land a boundary
    // timestamp in the wrong bucket at epoch-µs magnitudes. The two
    // candidate buckets differ by exactly 1 for every row (subtracting
    // exactly one band width shifts the integer quotient by exactly one),
    // so the explode is duplicate-free by construction — no dedup needed.
    val errors = ev.filter(col("event_type") === "error")
      .withColumn("bucket",
        explode(array(expr(s"us div $BandUs"),
          expr(s"(us - $BandUs) div $BandUs"))))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("us").as("c_us"),
        expr(s"us div $BandUs").as("bucket"))
    errors.join(clicks,
        errors("user_id") === clicks("c_user_id") &&
          errors("bucket") === clicks("bucket") &&
          clicks("c_us").between(errors("us") - BandUs, errors("us")),
        "left")
      .groupBy(col("event_id"))
      .agg(count(col("c_us")).as("n_prior_clicks"))
      .orderBy("event_id")
  }

  // ── Running total (cumulative window): revenue-to-date per customer over
  // their order history. Frame is the default RANGE UNBOUNDED PRECEDING..
  // CURRENT ROW over a total order (o_orderdate, o_orderkey) — ties are
  // impossible, so RANGE ≡ ROWS and both engines agree. Decimal sum inside
  // the frame keeps the running values bitwise-stable. ──
  def windowCumsum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        sum(money(col("o_totalprice"))).over(w).cast("double")
          .as("revenue_to_date"))
      .orderBy("o_custkey", "o_orderkey")
  }

  // ── ratio_to_report: each event's share of its type's total — the
  // contribution view every BI layer derives from a raw measure. The
  // partition total is a DECIMAL window sum (exact, so the denominator
  // is partitioning-independent; a double window sum would hash-flake
  // vs the oracle AND vs Spark's own re-runs); the ratio itself divides
  // in double and rounds. Whole-partition frame, no ORDER BY → Spark
  // computes the total once per partition, not a running sum; one
  // shuffle on event_type, per-key state bounded by the partition. ──
  def windowRatioToReport(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("value") /
            sum(money(col("value"))).over(w).cast("double"), 9)
          .as("share"))
      .orderBy("event_id")
  }

  // ── Randomized-response private counts (Warner 1965 — the local-DP
  // mechanism production telemetry actually ships): each row reports
  // its sensitive bit (value > 100) TRUTHFULLY with probability p =
  // 3/4, flipped otherwise; the aggregate debiases the observed rate by
  // π̂ = (r/n − (1−p)) / (2p−1). No row's true bit is recoverable, yet
  // the population estimate is unbiased — ε = ln(p/(1−p)) = ln 3 local
  // DP. The coin is the repo's PORTABLE integer uniform (Knuth hash of
  // event_id reduced mod 2³¹, the sample_weighted device) and p·2³¹ =
  // 3·2²⁹ is EXACT, so both engines replay every flip bit-identically —
  // which is what makes a DP mechanism oracle-checkable at all. Plain
  // keyed agg: one scan, map-side partials, group-sized state. ──
  def privacyRrCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        expr("CASE WHEN value > 100 THEN 1L ELSE 0L END").as("y"),
        expr("pmod(pmod(event_id, 2147483648) * 2654435761, 2147483648)")
          .as("u31"))
      .withColumn("reported",
        expr("CASE WHEN u31 < 1610612736 THEN y ELSE 1 - y END"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("reported")).as("r"))
      .select(col("event_type"), col("n"), col("r"),
        expr("round((cast(r as double) / n - 0.25) / 0.5, 6) + 0.0d")
          .as("estimate"))
      .orderBy("event_type")

  // ── rolling exact median: a PERCENTILE as a framed window aggregate —
  // trailing-50-event median of `value` per event type, the robust
  // rolling baseline every monitoring pipeline wants (rolling mean is
  // what window_moving_avg shows; the median version survives outliers).
  // One shuffle on the partition key; frame state is the 50-row buffer
  // per partition cursor. Exact interpolation matches DuckDB's
  // quantile_cont bit-for-bit at 6 dp on this data. ──
  def windowRollingMedian(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(-49, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("us"))
      .select(col("event_id"),
        (round(expr("percentile(value, 0.5)").over(w), 6) + lit(0.0d)).as("med"))
      .orderBy("event_id")
  }

  // ── shared scaffold for EXACT ranks without a partitionless (or
  // low-cardinality-partition) window, used by windowNtile and
  // windowRankFamilyScaled: global value bounds (one aggregate, broadcast
  // back), width_bucket range-partitions rows into nBuckets value buckets
  // (ties share a bucket, so per-bucket order concatenated in bucket order
  // IS the total order), per-bucket row_number (parallel windows) +
  // broadcast per-(part,bucket) offsets from a ≤nBuckets² dimension-sized
  // non-equi self-join. Max window partition is table/(|parts|·nBuckets);
  // a pathological all-one-value distribution degrades to one bucket = the
  // naive plan, never worse. Output: input columns + `bkt` + `rnk` (exact
  // 1-based rank under the (partCols, value direction, tieCol) total
  // order). One implementation so the bucket-offset device — including the
  // direction-sensitive offset join the two call sites once hand-copied
  // with opposite comparisons — can't desynchronize. ──
  private def bucketedRank(df: DataFrame, partCols: Seq[String],
      valueCol: String, descending: Boolean, tieCol: String,
      nBuckets: Int = 64): DataFrame = {
    val bounds = df.agg(min(col(valueCol)).as("lo"), max(col(valueCol)).as("hi"))
    val b = df.crossJoin(broadcast(bounds))
      .withColumn("bkt", width_bucket(col(valueCol), col("lo"),
        col("hi") + lit(1.0), lit(nBuckets)).cast("int"))
      .drop("lo", "hi")
    val keyCols = partCols :+ "bkt"
    val counts = b.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("c"))
    val other = counts.select(
      keyCols.map(c => col(c).as(s"${c}_o")) :+ col("c").as("c_o"): _*)
    // rows ranked BEFORE bucket b = Σ counts of earlier buckets in the
    // same partition ("earlier" follows the sort direction)
    val before =
      if (descending) col("bkt_o") > col("bkt") else col("bkt_o") < col("bkt")
    val cond = partCols.map(c => col(s"${c}_o") === col(c))
      .foldLeft(before)(_ && _)
    val offsets = counts.join(broadcast(other), cond, "left")
      .groupBy(keyCols.map(col): _*)
      .agg(coalesce(sum(col("c_o")), lit(0L)).as("off"))
    val ord = if (descending) desc(valueCol) else asc(valueCol)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(ord, col(tieCol))
    b.join(broadcast(offsets), keyCols)
      .withColumn("rnk", col("off") + row_number().over(w))
      .drop("off")
  }

  // ── NTILE quartiles of order value, WITHOUT the global window. The
  // naive `ntile(4) OVER (ORDER BY ...)` funnels the whole table through
  // ONE task (a partitionless Window) — fine at sf0.1, dead at 100×. This
  // form computes the identical result distributed:
  //   1. min/max bounds — one aggregate, broadcast back (Layout.scale16
  //      pattern);
  //   2. width_bucket range-partitions rows into 64 price buckets; equal
  //      prices share a bucket, so per-bucket (price DESC, orderkey) order
  //      concatenated in bucket-DESC order IS the global order;
  //   3. per-bucket row_number (parallel windows) + broadcast per-bucket
  //      offsets (a ≤64-row non-equi self-join, no partitionless window
  //      anywhere) → exact global rank;
  //   4. ntile's row-split formula: first (N mod 4) quartiles get
  //      ⌈N/4⌉ rows, the rest ⌊N/4⌋ — integer-exact, matching the
  //      oracle's real ntile bit-for-bit (tie-free total order).
  // Bucket count scales with the cluster; a pathological all-one-value
  // distribution degrades to one bucket = the naive plan, never worse. ──
  def windowNtile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    val ranked = bucketedRank(o, Nil, "o_totalprice",
      descending = true, tieCol = "o_orderkey")
    val total = o.agg(count(lit(1)).as("nt"))
    ranked
      .crossJoin(broadcast(total))
      .withColumnRenamed("rnk", "rn")
      .withColumn("quartile", expr(
        // qq=0 (N<4) never reaches the ELSE branch: rn ≤ N = r there
        """CASE WHEN rn <= (nt % 4) * (nt div 4 + 1)
          |     THEN (rn - 1) div (nt div 4 + 1) + 1
          |     ELSE (nt % 4) + (rn - (nt % 4) * (nt div 4 + 1) - 1) div (nt div 4) + 1
          |END""".stripMargin).cast("int"))
      .select(col("o_orderkey"), col("o_totalprice"), col("quartile"))
      .orderBy("o_orderkey")
  }

  // ── Filtered (conditional) aggregates — one pass, no self-joins: the
  // `FILTER (WHERE ...)`/count_if surface. The reference computes its
  // branch stats in 4 pandas passes (`app.py:116-124`); this is the
  // single-Aggregate form Catalyst folds them into. ──
  def conditionalAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("cnt"),
        count(when(col("l_discount") > 0.05, 1)).as("cnt_discounted"),
        sum(when(col("l_discount") > 0.05, money(col("l_extendedprice")))
          .otherwise(lit(BigDecimal(0)))).cast("double").as("rev_discounted"),
        count(when(col("l_quantity") >= 25, 1)).as("cnt_bulk"))
      .orderBy("l_returnflag")

  // ── Ordered string aggregation (LISTAGG/string_agg): nations per region,
  // comma-joined in name order. collect_list is per-partition
  // nondeterministic, so sort INSIDE the row (array_sort) before joining —
  // the only deterministic formulation that also keeps the aggregation
  // partial-merge-friendly (arrays concat associatively; sort happens once
  // at the end on a dimension-sized result). ──
  def stringAgg(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(concat_ws(",", array_sort(collect_list(col("n_name"))))
        .as("nations"))
      .orderBy("r_name")
  }

  // ── Deterministic systematic sample: every 20th order key, then
  // aggregate. Unlike TABLESAMPLE (seeded per-split, engine-specific), a
  // key-modulus predicate is reproducible across engines, pushes down to
  // the scan, and at 100 TB gives an unbiased 5% systematic sample when
  // keys are uncorrelated with measures. ──
  def sampleHash(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(pmod(col("l_orderkey"), lit(20)) === 0)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        sumMoney(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")

  // ── Stratified deterministic sample: per-class sampling RATES — the
  // class-rebalancing step of a training-data pipeline (downsample the
  // dominant class, keep the rare one whole). Rates ride along as a
  // broadcast literal map (element_at, no join); the row key modulus is
  // (orderkey·8 + linenumber) so line items of one order fall in
  // different residues; like sample_hash the predicate is reproducible
  // across engines and engines-independent of partitioning. Output
  // reports kept counts + sampled revenue per class, with the rate for
  // lineage. AT SCALE: swap the modulus for xxhash64(key) % m — same
  // plan, better residue mixing on adversarial key patterns. ──
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val rates = typedLit(Map("A" -> 2, "N" -> 5))
    Tables.lineitem(spark, dir)
      // default rate for any class NOT in the map (the oracle's ELSE arm):
      // element_at alone returns null off-map, and pmod(x, null) = null
      // would silently DROP the unmapped class from the sample
      .withColumn("m", coalesce(element_at(rates, col("l_returnflag")), lit(10)))
      .filter(pmod(col("l_orderkey") * 8 + col("l_linenumber"), col("m")) === 0)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        sumMoney(col("l_extendedprice")).as("sum_price"),
        first(col("m")).as("rate_denom"))
      .orderBy("l_returnflag")
  }

  // ── Weighted sampling without replacement (the published Efraimidis &
  // Spirakis 2006 one-pass scheme): each doc draws key = u^(1/w); the
  // top-n keys ARE an exact weight-proportional sample without
  // replacement. Weight = n_chars — sampling by text mass, the
  // corpus-mixing step that keeps a subsample's length distribution
  // representative. The uniform u is PORTABLE integer arithmetic (Knuth
  // multiplicative hash of doc_id, reduced mod 2³¹, +1 so u>0) rather
  // than engine rand(), so both engines replay it bit-identically and
  // the key is oracle-checkable. doc_id is reduced mod 2³¹ BEFORE the
  // multiply — algebraically identical mod 2³¹, but it caps the product
  // at (2³¹−1)·2654435761 ≈ 5.7e18 < int64 max, so ids of any magnitude
  // (e.g. the 10⁸-stride inflated store) never overflow in either engine
  // or under ANSI mode. pow() is libm (~1 ulp cross-engine):
  // keys snap to a 1e-9 grid with doc_id as the final tiebreak — the
  // textTfidf ranking device. One scan, top-n as TakeOrderedAndProject
  // (per-partition heaps + driver merge of n·parts rows, never a global
  // sort) — the shape that samples a 100 TB corpus in one pass. ──
  def sampleWeighted(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        expr("round(pow((pmod(pmod(doc_id, 2147483648) * 2654435761," +
          " 2147483648) + 1)" +
          " / 2147483649.0, 1.0 / GREATEST(n_chars, 1)), 9)").as("es_key"))
      .orderBy(desc("es_key"), col("doc_id"))
      .limit(50)

  // ── negative sampling for training pairs: 5 parts each customer has
  // NEVER ordered — the contrastive-learning counterpart of the positive
  // (customer, part) interactions. Candidates are generated ARITHMETICALLY
  // (20 pseudo-random part ids per customer from the portable
  // Knuth-multiplicative hash, reduced mod the part count), so the
  // candidate stream is O(20·|customers|) regardless of catalog size — a
  // naive customer×part cross join would be O(|C|·|P|) and is exactly
  // what this op exists to avoid at scale. The anti-join against the
  // observed interactions and the min-i dedup both shuffle on the
  // candidate key. Same pmod-before-multiply overflow discipline as
  // sample_weighted; identical arithmetic in the DuckDB oracle.
  //
  // The interaction set is the expensive stage (it was this inventory's
  // slowest key at 8 s/sf0.1), so it is built the at-scale way:
  //  - orders⋈lineitem reads the CO-BUCKETED twins (both bucketed on
  //    orderkey at write time, graft.sources.Bucketed) — a zero-Exchange
  //    sort-merge join instead of shuffling two fact tables;
  //  - NO distinct() before the anti-join: LEFT ANTI only probes for
  //    existence, so duplicate (c, p) build rows change nothing, and
  //    deduplicating first costs a full extra shuffle of the interaction
  //    set just to shrink rows the join skips anyway. ──
  def sampleNegatives(spark: SparkSession, dir: String): DataFrame = {
    val np = Tables.part(spark, dir).agg(count(lit(1)).as("np"))
    val (ot, lt) = graft.sources.Bucketed.ensure(spark, dir)
    // hint("merge") pins the bucket-exploiting SMJ (joinBucketed's
    // device): at test SF the optimizer would broadcast orders, which at
    // 100 TB it cannot — the pinned plan is the at-scale one
    val purchased = spark.table(lt).select(col("l_orderkey"), col("l_partkey"))
      .join(spark.table(ot).select(col("o_orderkey"), col("o_custkey"))
          .hint("merge"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
    val cand = Tables.customer(spark, dir).select(col("c_custkey"))
      .crossJoin(broadcast(np))
      .select(col("c_custkey"), col("np"),
        explode(expr("sequence(0, 19)")).as("i"))
      .select(col("c_custkey"), col("i"),
        (expr("pmod(pmod(c_custkey, 2147483648) * 2654435761 + i * 40503," +
          " 2147483648)") % col("np") + 1).as("p_cand"))
      .groupBy(col("c_custkey"), col("p_cand"))
      .agg(min(col("i")).as("i")) // mod collisions: keep first draw
    val w = Window.partitionBy(col("c_custkey"))
      .orderBy(col("i"), col("p_cand"))
    cand.join(purchased,
        col("c_custkey") === col("c") && col("p_cand") === col("p"),
        "left_anti")
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= 5)
      .select(col("c_custkey"), col("p_cand").as("p_partkey"), col("neg_rank"))
      .orderBy("c_custkey", "neg_rank")
  }

  /** [[sampleMixture]] target language shares, in integer TENTHS (Σ = 10)
    * — the language-balance knob of a pretraining corpus. Integer weights
    * keep every sizing step exact in any engine. */
  // ── Horvitz–Thompson estimation from an UNEQUAL-probability sample —
  // the estimator that makes stratified/importance sampling honest:
  // each event type is kept with its own inclusion probability π_t
  // (rare-but-valuable purchases oversampled, noisy views decimated via
  // the portable Knuth-hash coin), and totals are recovered by
  // inverse-probability weighting Σ y/π. The corpus reduces to 5
  // per-type rows (sampled count + DECIMAL-exact sampled revenue);
  // each row's weighted term snaps to a 6-dp DECIMAL before the final
  // exact sum, so the estimate is engine-identical. True totals ride
  // along — the output row shows estimate vs truth and the achieved
  // sampling fraction in one glance. ──
  private val HtPpm: Map[String, Long] = Map(
    "purchase" -> 800000L, "signup" -> 400000L, "click" -> 200000L,
    "view" -> 100000L, "error" -> 50000L)

  def sampleHorvitzThompson(spark: SparkSession, dir: String): DataFrame = {
    val piCol = HtPpm.foldLeft(lit(25000L)) { case (acc, (t, p)) =>
      when(col("event_type") === t, lit(p)).otherwise(acc)
    }
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        piCol.as("pi_ppm"))
      .withColumn("u", expr(
        "pmod(pmod(event_id, 2147483648) * 2654435761, 2147483648)" +
          " % 1000000"))
    val perType = e
      .groupBy(col("event_type"), col("pi_ppm"))
      .agg(count(lit(1)).as("n_true"),
        sum(col("value").cast("decimal(18,2)")).as("sv_true"),
        sum(when(col("u") < col("pi_ppm"), 1L).otherwise(0L))
          .as("n_samp"),
        sum(when(col("u") < col("pi_ppm"),
          col("value").cast("decimal(18,2)"))
          .otherwise(lit(BigDecimal(0)))).as("sv_samp"))
      .withColumn("cnt_term", expr(
        """CAST(round(cast(n_samp as double) * 1000000 / pi_ppm, 6)
          |     AS DECIMAL(28,6))""".stripMargin))
      .withColumn("rev_term", expr(
        """CAST(round(cast(sv_samp as double) * 1000000 / pi_ppm, 6)
          |     AS DECIMAL(28,6))""".stripMargin))
    perType.agg(sum(col("n_samp")).as("n_sampled"),
        sum(col("n_true")).as("n_true"),
        sum(col("cnt_term")).as("ce"), sum(col("rev_term")).as("re"),
        sum(col("sv_true")).as("svt"))
      .select(col("n_sampled"), col("n_true"),
        r6(expr("cast(ce as double)")).as("est_count"),
        r6(expr("cast(re as double)")).as("est_revenue"),
        expr("cast(svt as double)").as("true_revenue"),
        r6(expr("cast(re as double) / cast(svt as double) - 1.0"))
          .as("rev_rel_err"))
  }

  private val MixtureWeights: Map[String, Long] =
    Map("en" -> 4L, "de" -> 2L, "fr" -> 2L, "es" -> 1L, "zh" -> 1L)

  // ── domain-mixture resampling (the corpus-mixing step of a pretraining
  // pipeline, à la fixed-ratio data recipes): resize the corpus to a
  // TARGET language mixture while keeping as much data as the mixture
  // allows. With weights w_l (tenths) and availability c_l, the largest
  // feasible corpus is N = min_l ⌊c_l·10/w_l⌋ — the scarcest language is
  // the binding constraint; every other language downsamples to
  // n_l = ⌊w_l·N/10⌋ via the portable Knuth-multiplicative uniform of
  // doc_id thresholded at ppm_l = ⌊n_l·1e6/c_l⌋ (same pmod-before-multiply
  // overflow discipline as sample_weighted). ALL sizing is integer
  // arithmetic on a |langs|-row frame broadcast back onto the corpus, so
  // both engines derive identical rates and identical kept sets. Scale
  // shape: pass 1 is a keyed count (map-side partials, |langs| rows out);
  // pass 2 is scan + broadcast-join + filter + keyed agg — nothing
  // shuffles but lang-sized aggregates, at any corpus size. ──
  def sampleMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // cached: the |langs|-row count frame feeds the feasibility scalar,
    // the target table, AND (via tgt) the acceptance join — uncached,
    // each consumer re-runs the full counting scan of the corpus
    val counts = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("available"))
      .withColumn("weight", element_at(typedLit(MixtureWeights), col("lang")))
      .filter(col("weight").isNotNull)
      .transform(Eager(_))
    val feas = counts.agg(min(expr("available * 10 div weight")).as("nfeas"))
    val tgt = counts.crossJoin(broadcast(feas))
      .select(col("lang"), col("available"), col("weight"),
        expr("weight * nfeas div 10").as("target_n"))
      .withColumn("accept_ppm", expr("target_n * 1000000 div available"))
    sampleToTargets(docs, tgt, "weight")
  }

  /** Draws each language's sample from `docs` at its `tgt` accept rate
    * (accept_ppm, by the portable hash-uniform ppm threshold) and reports
    * per language the sizing row — available, the `weight` column,
    * target_n, accept_ppm — with the kept count and characters. */
  private def sampleToTargets(docs: DataFrame, tgt: DataFrame,
      weight: String): DataFrame = {
    val kept = docs
      .join(broadcast(tgt.select(col("lang"), col("accept_ppm"))), "lang")
      .filter(expr("pmod(pmod(doc_id, 2147483648) * 2654435761, 2147483648)" +
        " % 1000000") < col("accept_ppm"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("kept_n"), sum(col("n_chars")).as("kept_chars"))
    tgt.join(broadcast(kept), Seq("lang"), "left")
      .select(col("lang"), col("available"), col(weight), col("target_n"),
        col("accept_ppm"),
        coalesce(col("kept_n"), lit(0L)).as("kept_n"),
        coalesce(col("kept_chars"), lit(0L)).as("kept_chars"))
      .orderBy("lang")
  }

  // ── temperature-scaled language rebalancing (the multilingual-corpus
  // mixing rule of XLM-R / mT5: sample language l with probability
  // ∝ n_l^α, α = 0.5, so low-resource languages are over-represented
  // relative to their raw share): weights w_l = ⌊√c_l · 1e6⌋ in integer
  // ppm (sqrt is IEEE correctly-rounded in both engines, the floor makes
  // every downstream step integer-exact), corpus budget = 60% of the
  // total, per-language target = min(⌊w_l·budget/Σw⌋, c_l) — capped at
  // one epoch, no replacement — realized by the same portable
  // hash-uniform ppm threshold as [[sampleMixture]]. Integer bounds:
  // w ≤ √c·1e6 and w·budget ≤ √c·1e6·N — under int64 through sf≈1000
  // inflation (c ≤ 1e9 ⇒ product ≈ 3e16). Scale shape: one keyed count
  // of the corpus, |langs|-row sizing frame broadcast back, one
  // filter+agg pass — nothing wider than |langs| ever shuffles. ──
  def sampleTemperature(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // cached: the |langs|-row count frame feeds sizing AND the accept join
    val counts = Eager(docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("available")))
    val w = counts.select(col("lang"), col("available"),
      floor(sqrt(col("available")) * lit(1000000d)).cast("long").as("wppm"))
    val tot = w.agg(sum(col("wppm")).as("wsum"),
      expr("sum(available) * 6 div 10").as("budget"))
    val tgt = w.crossJoin(broadcast(tot))
      .select(col("lang"), col("available"), col("wppm"),
        least(expr("wppm * budget div wsum"), col("available")).as("target_n"))
      .withColumn("accept_ppm", expr("target_n * 1000000 div available"))
    sampleToTargets(docs, tgt, "wppm")
  }

  // ── per-epoch training-data shuffle WITHOUT a global sort: each epoch
  // assigns every document to one of 8 shards by an epoch-salted portable
  // hash and orders it within its shard by the same hash — the standard
  // large-corpus delivery layout (a trainer streams shards in order;
  // consecutive docs are hash-random). The 100 TB point: a true global
  // shuffle is a full-corpus sort per epoch; this is ONE hash-partition
  // step plus SHARD-LOCAL sorts of corpus/8 rows each, re-seeded per
  // epoch by arithmetic alone (no stored permutation), reproducible on
  // any engine. Salt discipline (a measured lesson): an ADDITIVE salt is
  // a pure relabeling — u(e) differs by a constant, and because the
  // Knuth multiplier ≡ 1 (mod 8), low-bit shards AND within-shard order
  // survive verbatim between epochs. The epoch therefore enters by XOR
  // BEFORE the multiply (nonlinear w.r.t. the ordering) and the shard
  // comes from the HIGH bits of u (Knuth's rule: multiplicative hashing
  // randomizes high bits, never low) — validated: every epoch-1 shard
  // fans out across 6-8 epoch-2 shards and ~half of co-sharded pair
  // orders flip. Output = the first two epochs' full layout. ──
  def sampleEpochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val epochs = spark.range(1, 3)
      .select(col("id").cast("int").as("epoch"))
    docs.crossJoin(broadcast(epochs))
      .withColumn("u",
        expr("pmod((pmod(doc_id, 2147483648) ^ (epoch * 48271))" +
          " * 2654435761, 2147483648)"))
      .withColumn("shard", expr("CAST(u div 268435456 AS INT)"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("epoch"), col("shard"))
          .orderBy(col("u"), col("doc_id"))))
      .select(col("epoch"), col("shard"), col("pos"), col("doc_id"))
      .orderBy("epoch", "shard", "pos")
  }

  // ── canonical train/val/test split (98/1/1): every document lands in
  // exactly one split via disjoint ranges of the SAME portable
  // hash-uniform the sampling family uses — deterministic, reproducible
  // from doc_id alone (no shuffle-order dependence, no stored split
  // table), and stable under corpus growth: a document's split never
  // changes when neighbors arrive, the property that keeps eval sets
  // uncontaminated across refreshes. One scan, |splits|-row output. ──
  def splitTrainEval(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("u",
        expr("pmod(pmod(doc_id, 2147483648) * 2654435761, 2147483648)" +
          " % 1000000"))
      .withColumn("split",
        when(col("u") < 980000, "train")
          .when(col("u") < 990000, "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy("split")

  // ── Approximate distinct (HLL): users per event type via
  // approx_count_distinct, alongside the exact count. At 100 TB the
  // sketch is the only sane default: fixed memory per group, mergeable
  // across partitions (partial aggregation works), one shuffle of sketch
  // bytes instead of a (group, value) expand. HLL estimates differ across
  // engines, so the VALUE can't be oracled — but the ε-BOUND can
  // (round 11, invariant oracle): the key emits the exact count plus a
  // boolean |approx−exact|/exact ≤ 0.15, and the DuckDB oracle verifies
  // the exact count and asserts the boolean TRUE. Bound sized from
  // measurement: max observed group error 0.067 across
  // sf0.001/0.01/0.1/sf≈1 (approx_count_distinct rsd default 0.05) —
  // 0.15 is 2.2× margin yet still fails on any real HLL breakage
  // (which is order-of-magnitude, not percent). ──
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users"))
          <= lit(0.15) * col("exact_users")).as("approx_ok"))
      .orderBy("event_type")

  // ── mergeable-sketch distinct counting (Apache DataSketches HLL via
  // Spark 4 built-ins): per-day user sketches, then hll_union_agg for the
  // period total — the pattern that makes distinct counts INCREMENTAL at
  // scale (store a sketch per partition/day; any rollup is a cheap union,
  // never a rescan). approx_count_distinct can't do this: its sketch is
  // consumed inside one aggregation. Invariant oracle (round 11): the
  // union estimate itself is engine-specific, so the key emits the exact
  // day/total facts plus a boolean |union_est − exact_total| ≤ 0.05 ·
  // exact_total (max observed union error 0.016 across the four gate
  // scales), and DuckDB verifies the exact columns and asserts the
  // boolean TRUE. ──
  def approxDistinctMerge(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        countDistinct(col("user_id")).as("exact_daily"))
    daily.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_total"),
        count(lit(1)).as("n_days"),
        sum(col("exact_daily")).as("sum_daily_exact"))
      .crossJoin(broadcast(Tables.events(spark, dir)
        .agg(countDistinct(col("user_id")).as("exact_total_users"))))
      .select(col("n_days"), col("sum_daily_exact"),
        col("exact_total_users"),
        (abs(col("approx_total") - col("exact_total_users"))
          <= lit(0.05) * col("exact_total_users")).as("union_ok"))
  }

  // ── Regexp surface: leading word of each document (RE2-safe pattern),
  // frequency-counted. regexp_extract returns '' on no-match in BOTH Spark
  // and DuckDB — the empty-string group is kept to pin that semantic. ──
  def regexpFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(regexp_extract(col("text"), "^([A-Za-z]+)", 1).as("first_word"))
      .groupBy(col("first_word"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("first_word"))

  // ── MapType round-trip: per-user map of event_type → count built with
  // map_from_entries(collect_list(struct)), then exploded back to rows.
  // Proves the map column type end-to-end (build, carry through a shuffle,
  // explode) while staying oracle-able — the round-trip is semantically
  // the plain groupBy count. ──
  def mapFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("user_id"))
      .agg(map_from_entries(
        array_sort(collect_list(struct(col("event_type"), col("cnt")))))
        .as("type_counts"))
      .select(col("user_id"), explode(col("type_counts"))
        .as(Seq("event_type", "cnt")))
      .orderBy("user_id", "event_type")

  // ── UNPIVOT (melt): the inverse of A6's pivot — wide measure columns to
  // long (metric, value) rows, the shape feature stores and chart layers
  // want. Spark's native `unpivot` plans an Expand (no join, no shuffle);
  // one output row per (row × measure). ──
  def unpivotStack(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .unpivot(
        ids = Array(col("l_orderkey"), col("l_linenumber")),
        values = Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        variableColumnName = "metric", valueColumnName = "val")
      .orderBy("l_orderkey", "l_linenumber", "metric")

  // ── exact per-group percentiles: the groupBy form of A1's global
  // describe(). Spark `percentile` ≙ DuckDB `percentile_cont` (linear
  // interpolation) — the house pairing proven by describe_stats; medians
  // land on data values or exact midpoints of ≤2-decimal inputs, so
  // round(6) absorbs nothing but representation noise. At scale exact
  // percentiles shuffle (group, value) pairs; the approx_percentile
  // variant is the fixed-memory fallback (declared, not oracled). ──
  def percentileGroup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("p50_qty"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90_qty"),
        round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50_price"))
      .orderBy("l_returnflag")

  // ── fixed-memory percentile fallback: the SAME per-group quantiles via
  // approx_percentile (KLL-style sketch) — at 100 TB the exact form
  // shuffles every (group, value) pair, the sketch shuffles a bounded
  // summary per partition and merges. Accuracy 10000 → rank error ≤ 1e-4
  // of the group. The sketch VALUES are engine-specific, so the invariant
  // oracle (round 11) checks the defining property of a quantile sketch
  // instead — the RANK bracket: for estimate v at quantile q,
  // count(x < v)/n ≤ q + ε and count(x ≤ v)/n ≥ q − ε (the ≤/< split is
  // what makes the bracket tie-safe on l_quantity's 2%-mass integer
  // ties). ε = 0.002 — 20× the max observed margin (1e-4) across the
  // four gate scales, 20× tighter than a broken sketch. DuckDB verifies
  // the group row counts and asserts the three booleans TRUE. ──
  def percentileGroupApprox(spark: SparkSession, dir: String): DataFrame = {
    val eps = 0.002
    val approx = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_quantity, 0.5, 10000)").as("q50"),
        expr("approx_percentile(l_quantity, 0.9, 10000)").as("q90"),
        expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("p50"))
    def bracket(lt: Column, le: Column, q: Double): Column =
      (lt.cast("double") / col("n_rows") <= lit(q + eps)) &&
        (le.cast("double") / col("n_rows") >= lit(q - eps))
    Tables.lineitem(spark, dir)
      .join(broadcast(approx), "l_returnflag")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("l_quantity") < col("q50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("l_quantity") <= col("q50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("l_quantity") < col("q90"), 1L).otherwise(0L)).as("lt90"),
        sum(when(col("l_quantity") <= col("q90"), 1L).otherwise(0L)).as("le90"),
        sum(when(col("l_extendedprice") < col("p50"), 1L).otherwise(0L)).as("ltp"),
        sum(when(col("l_extendedprice") <= col("p50"), 1L).otherwise(0L)).as("lep"))
      .select(col("l_returnflag"), col("n_rows"),
        bracket(col("lt50"), col("le50"), 0.5).as("p50_qty_ok"),
        bracket(col("lt90"), col("le90"), 0.9).as("p90_qty_ok"),
        bracket(col("ltp"), col("lep"), 0.5).as("p50_price_ok"))
      .orderBy("l_returnflag")
  }

  // ── mergeable-sketch percentiles (the approx_distinct_merge pattern for
  // QUANTILES): one log-bucket relative-error sketch per (day, event_type)
  // — the binary column an incremental store persists — then any period
  // rollup is pure bucket addition (graft.functions.QSketch; the published
  // DDSketch design), never a rescan of values. Unlike approx_percentile,
  // whose sketch dies inside a single aggregation, the persisted form
  // answers "p90 of the last N days" from N stored rows. The estimates
  // are implementation-specific (DuckDB has no DDSketch twin), so the
  // invariant oracle (round 11) checks the sketch's own α-guarantee
  // instead: |merged estimate − exact percentile| ≤ 0.03·|exact| per
  // (event_type, quantile) — 2.2× the max observed merged error (0.0137)
  // across the four gate scales at α = 0.01, the log-bucket design's
  // relative-VALUE bound. DuckDB verifies n_days exactly and asserts the
  // booleans TRUE; QuantileSketchSpec still pins merge-order invariance
  // and the parquet round-trip. ──
  /** The estimates frame — the LIBRARY surface of the merged sketch store
    * (event_type, n_days, e50, e90), used directly by QuantileSketchSpec;
    * [[percentileStoreMerge]] wraps it with the gate's bound booleans. */
  def percentileStoreEstimates(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{QuantileEstimate, QuantileMergeAgg, QuantileSketchAgg}
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(QuantileSketchAgg(col("value"), 0.01).as("sk"))
    daily.groupBy(col("event_type"))
      .agg(QuantileMergeAgg(col("sk")).as("msk"), count(lit(1)).as("n_days"))
      .select(col("event_type"), col("n_days"),
        QuantileEstimate(col("msk"), 0.5).as("e50"),
        QuantileEstimate(col("msk"), 0.9).as("e90"))
  }

  def percentileStoreMerge(spark: SparkSession, dir: String): DataFrame = {
    val exact = Tables.events(spark, dir).groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("x50"),
        expr("percentile(value, 0.9)").as("x90"))
    def ok(e: Column, x: Column): Column =
      abs(e - x) <= lit(0.03) * greatest(abs(x), lit(1e-9))
    percentileStoreEstimates(spark, dir).join(exact, "event_type")
      .select(col("event_type"), col("n_days"),
        ok(col("e50"), col("x50")).as("p50_ok"),
        ok(col("e90"), col("x90")).as("p90_ok"))
      .orderBy("event_type")
  }

  // ── histogram binning via width_bucket: fixed-width value buckets as a
  // single scan-side expression + one groupBy — the distributed histogram
  // (no sort, no window). Bounds are literals here; at scale they come
  // from one min/max aggregate broadcast back (see Layout.scale16). ──
  def widthBucketHist(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(width_bucket(col("o_totalprice"), lit(0.0), lit(600000.0), lit(12))
        .as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bucket")

  // ── semi-structured VARIANT path (Spark 4): parse_json once into the
  // binary variant encoding, then typed variant_get extraction — the
  // schema-on-read upgrade over per-query get_json_object string parsing
  // (parse once, extract many, columnar-shreddable at the storage layer).
  // The reference's defensive JSON handling (consumer.py:36-45) is the
  // string-era version of exactly this. ──
  def variantJson(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        variant_get(parse_json(col("props")), "$.k", "int").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")

  // ── remaining ranked-window family in one pass: first/last value over
  // an explicit full frame, percent_rank and cume_dist (both exact
  // rationals — (rank-1)/(n-1) and peers/n — so the doubles are identical
  // across engines without rounding). One window spec, one sort.
  //
  // SKEW BOUND, explicit: event_type has tiny cardinality (5 here), so
  // each window partition is table_size/n_types rows — at 100 TB that is
  // tens of TB through one task, the low-cardinality-partition cliff.
  // Unlike window_ntile (rewritten bucketed), percent_rank/cume_dist are
  // rank-bearing: every row needs its exact position, so the semantics
  // FORCE a per-type total order. The at-scale mitigations, in order:
  // (a) the same two-pass device as window_ntile — range-bucket `value`
  //     within each type, per-(type,bucket) windows + broadcast bucket
  //     offsets/counts reconstruct rank and n exactly (percent_rank and
  //     cume_dist are functions of rank, peers and n only);
  // (b) for the rank-FREE members (first/last = per-type min/max here),
  //     a salted two-pass aggregate — partial min/max per (type, salt),
  //     merge 16 partials — broadcast back, no window at all.
  // At test scale the direct window is the faster plan and keeps the
  // oracle 1:1; the rewrite is proven by window_ntile's green row. ──
  def windowRankFamily(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"),
        first(col("value")).over(full).as("min_in_type"),
        last(col("value")).over(full).as("max_in_type"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"))
      .orderBy("event_type", "event_id")
  }

  // ── the scaladoc mitigation above, IMPLEMENTED: the same four window
  // values with the per-type partition split 64 ways. value-range buckets
  // within each type (broadcast global bounds, width_bucket — ties share
  // a bucket so per-(type,bucket) order concatenates to the per-type
  // order), per-bucket row_number + broadcast (type,bucket) offsets →
  // exact per-type rank; n and min/max per type from one aggregate each,
  // broadcast back. percent_rank = (rank-1)/(n-1) and cume_dist = rank/n
  // (tie-free total order ⇒ rank = row_number, peers = 1) — the same
  // exact rationals, so this key shares window_rank_family's ORACLE
  // verbatim: two green rows = machine-checked equivalence proof of the
  // rewrite. Max partition is table/(n_types·64) instead of
  // table/n_types. ──
  def windowRankFamilyScaled(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"))
    val ranked = bucketedRank(e, Seq("event_type"), "value",
      descending = false, tieCol = "event_id")
    val totals = e.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val mm = e.groupBy(col("event_type"))
      .agg(min(col("value")).as("min_in_type"), max(col("value")).as("max_in_type"))
    ranked
      .join(broadcast(totals), Seq("event_type"))
      .join(broadcast(mm), Seq("event_type"))
      .select(col("event_type"), col("event_id"), col("value"),
        col("min_in_type"), col("max_in_type"),
        when(col("n") === 1, lit(0.0)).otherwise(
          (col("rnk") - 1).cast("double") / (col("n") - 1)).as("pct_rank"),
        (col("rnk").cast("double") / col("n")).as("cume"))
      .orderBy("event_type", "event_id")
  }

  // ── array-function surface: per-user sorted distinct event types, plus
  // membership and set algebra against a literal — collect_set is
  // per-partition nondeterministic so array_sort canonicalizes before
  // anything order-sensitive (the same discipline as string_agg). The
  // array columns are serialized with array_join in the OUTPUT projection
  // only (the set algebra runs on real arrays): top-level array columns
  // are not hashable by the oracle harness, and a comma-joined sorted
  // array is the canonical string form in both engines. ──
  def arrayFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(array_sort(collect_set(col("event_type"))).as("types_arr"))
      .select(col("user_id"),
        array_join(col("types_arr"), ",").as("types"),
        size(col("types_arr")).as("n_types"),
        array_contains(col("types_arr"), "purchase").as("has_purchase"),
        array_join(
          array_sort(array_except(col("types_arr"), array(lit("click"), lit("view")))),
          ",").as("non_browse"))
      .orderBy("user_id")

  // ── per-class balanced downsample: cap every lang at the MINORITY
  // class's count, members chosen by the portable hash order — the
  // class-rebalancing step before training a classifier on skewed
  // labels (sample_stratified rebalances by fixed RATES; this derives
  // the cap from the data). The hash rank is per-lang (row_number over
  // an entity partition, heap-friendly under TopKRewrite's idiom) and
  // the 1-row minority count broadcasts — membership is reproducible
  // from doc_id alone under any partitioning. ──
  def sampleClassBalance(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("u",
        expr("pmod(pmod(doc_id, 2147483648) * 2654435761, 2147483648)"))
    val minc = d.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("cap"))
    val w = Window.partitionBy(col("lang")).orderBy(col("u"), col("doc_id"))
    d.withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(minc))
      .withColumn("kept", col("rn") <= col("cap"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_orig"), first(col("cap")).as("cap"),
        sum(col("kept").cast("long")).as("n_kept"),
        sum(when(col("kept"), col("n_chars")).otherwise(0L))
          .as("kept_chars"))
      .orderBy("lang")
  }

  // ── deterministic k-fold assignment (k=5) with a fold-balance audit:
  // fold = portable-hash(doc_id) mod 5 — every doc in exactly one fold,
  // stable under corpus growth (the split_train_eval property, k-way),
  // reproducible with no stored fold table. Output is the per-fold
  // profile a CV harness checks before trusting the folds: sizes, char
  // mass, lang coverage, and each fold's χ² contribution against the
  // uniform-size null. One scan, k-row output. ──
  def sampleKfold(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("fold",
        expr("pmod(pmod(doc_id, 2147483648) * 2654435761, 2147483648)" +
          " % 5"))
    val folds = d.groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"))
    val tot = folds.agg(sum(col("n_docs")).as("nn"))
    folds.crossJoin(broadcast(tot))
      .select(col("fold"), col("n_docs"), col("n_chars"), col("n_langs"),
        (round(expr("cast(n_docs as double) / nn"), 6) + lit(0.0d))
          .as("share"),
        (round(expr("(n_docs - cast(nn as double) / 5)" +
          " * (n_docs - cast(nn as double) / 5)" +
          " / (cast(nn as double) / 5)"), 6) + lit(0.0d))
          .as("chi2_term"))
      .orderBy("fold")
  }

  // ── rank-stride systematic sample of the USER dimension: users
  // totally ordered by (portable Knuth hash, id), every 20th taken —
  // where sample_hash's key-modulus rate drifts with the key
  // distribution (clustered or sparse ids over- or under-shoot 5%),
  // the rank stride guarantees EXACTLY ⌈n/20⌉ rows whatever the ids
  // look like, the property a fixed-size eval panel needs. The rank
  // runs over the user-level frame (the stats_gini waiver class:
  // |users|, not |events|); spend is the DECIMAL-exact per-user sum.
  // The hash is the repo's reproducible-coin (ab_srm_check) form, so
  // the panel is stable across engines AND across reruns. ──
  def sampleSystematic(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("sp"))
      .withColumn("h",
        expr("pmod(pmod(user_id, 2147483648) * 2654435761, 2147483648)"))
      .withColumn("rn",
        row_number().over(Window.orderBy(col("h"), col("user_id"))))
      .filter(expr("(rn - 1) % 20 = 0"))
      .select(col("user_id"), col("n_events"),
        r6(col("sp").cast("double")).as("spend"),
        col("rn").cast("long").as("rank_in_frame"))
      .orderBy("user_id")

  // ── probability-proportional-to-size systematic sample of the
  // documents table: k grid points laid midpoint-first across the
  // cumulative CHARACTER mass (stride T/k, offset T/2k) select each
  // doc as many times as grid points land in its mass interval —
  // sample_systematic draws units uniformly; PPS draws them by weight,
  // which is what a token-budgeted corpus subsample actually wants
  // (big docs proportionally likelier, n_hits the multiplicity). The
  // hit count has the closed integer form H(x) = (2kx − T) div 2T + 1,
  // so selection is pure int64 arithmetic on a doc-ordered prefix sum
  // (the pareto_abc banded form is the drop-in when one ordered window
  // can't hold the corpus; the grid math is unchanged). ──
  def samplePps(spark: SparkSession, dir: String): DataFrame = {
    val k = 20
    val d = Tables.documents(spark, dir).select(col("doc_id"),
      col("n_chars"))
    // banded prefix sum (the pack_sequences device): 64 integer doc-id
    // shards, per-shard offsets from the shard-sum frame, the window
    // partitioned BY SHARD — equal to the global running sum but never
    // a partitionless Window over the fact table
    val bounds = d.agg(min(col("doc_id")).as("lo"),
      (max(col("doc_id")) + 1).as("hi"))
    val b = d.crossJoin(broadcast(bounds))
      .withColumn("bkt", expr("((doc_id - lo) * 64) div (hi - lo) + 1"))
    val sums = b.groupBy(col("bkt")).agg(sum(col("n_chars")).as("s"))
    val offs = sums
      .join(broadcast(sums.select(col("bkt").as("bkt_o"),
        col("s").as("s_o"))), col("bkt_o") < col("bkt"), "left")
      .groupBy(col("bkt")).agg(coalesce(sum(col("s_o")), lit(0L))
        .as("off"))
    val wo = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = d.agg(sum(col("n_chars")).as("t"))
    b.join(broadcast(offs), "bkt")
      .withColumn("c",
        col("off") + coalesce(sum(col("n_chars")).over(wo), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("hi", expr(
        s"CASE WHEN 2 * $k * (c + n_chars) >= t" +
          s" THEN (2 * $k * (c + n_chars) - t) div (2 * t) + 1" +
          " ELSE 0 END"))
      .withColumn("lo", expr(
        s"CASE WHEN 2 * $k * c >= t" +
          s" THEN (2 * $k * c - t) div (2 * t) + 1 ELSE 0 END"))
      .withColumn("n_hits", col("hi") - col("lo"))
      .filter(col("n_hits") >= 1)
      .select(col("doc_id"), col("n_chars"), col("c").as("cum_before"),
        col("n_hits"),
        r6(expr(s"cast(n_chars as double) * $k / t"))
          .as("expected_hits"))
      .orderBy("doc_id")
  }

  // ── null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): per-user
  // dominant event type in the first vs second half of the corpus
  // window, distribution rows joined so the NULL bucket (inactive that
  // half) matches ITSELF instead of vanishing — the attribute-drift
  // read a plain equi-join silently drops (NULL = NULL is never true,
  // so churned/new users fall out of the comparison exactly when they
  // matter). Dominant type is a fully-ordered argmax; the null-safe
  // join runs on the |types|+1-row distribution frames; output keeps
  // the genuine NULL row and orders by a placeholder key. ──
  def joinNullSafe(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val mid = e.agg(expr("(min(us) + max(us)) div 2").as("m"))
    val halves = e.crossJoin(broadcast(mid))
      .withColumn("half", when(col("us") < col("m"), 1).otherwise(2))
      .transform(Eager(_))
    def dom(h: Int) = halves.filter(col("half") === h)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .withColumn("pick", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(desc("c"), col("event_type"))))
      .filter(col("pick") === 1)
      .select(col("user_id"), col("event_type").as(s"a$h"))
    // the user universe comes from the ALREADY-materialized halves (same
    // rows as e — the crossJoin adds a column, drops nothing), and prof
    // itself is Eager'd because g1 AND g2 both consume it: before round
    // 10's audit fix, each re-ran the distinct + both argmax joins AND
    // re-scanned events for the user list (2 fact scans, invisible while
    // the audit matcher was vacuous)
    val prof = Eager(halves.select(col("user_id")).distinct()
      .join(dom(1), Seq("user_id"), "left")
      .join(dom(2), Seq("user_id"), "left"))
    val g1 = prof.groupBy(col("a1")).agg(count(lit(1)).as("n_h1"))
    val g2 = prof.groupBy(col("a2")).agg(count(lit(1)).as("n_h2"))
    g1.join(g2, g1("a1") <=> g2("a2"), "full")
      .select(coalesce(col("a1"), col("a2")).as("attr"),
        coalesce(col("n_h1"), lit(0L)).as("n_h1"),
        coalesce(col("n_h2"), lit(0L)).as("n_h2"),
        (coalesce(col("n_h2"), lit(0L)) - coalesce(col("n_h1"), lit(0L)))
          .as("delta"))
      .orderBy(coalesce(col("attr"), lit("(null)")))
  }

  /** Shared by window_rank_family and its _scaled twin — identical oracle
    * = machine-checked equivalence of the distributed rewrite. */
  private val rankFamilyOracle =
    """SELECT event_type, event_id, "value",
      |  first("value") OVER (PARTITION BY event_type ORDER BY "value", event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS min_in_type,
      |  last("value") OVER (PARTITION BY event_type ORDER BY "value", event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS max_in_type,
      |  percent_rank() OVER (PARTITION BY event_type ORDER BY "value", event_id) AS pct_rank,
      |  cume_dist() OVER (PARTITION BY event_type ORDER BY "value", event_id) AS cume
      |FROM events ORDER BY event_type, event_id""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("join_null_safe", joinNullSafe, Some(
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |mid AS (SELECT (min(us) + max(us)) // 2 AS m FROM e),
        |h AS (SELECT e.*, CASE WHEN us < m THEN 1 ELSE 2 END AS half
        |      FROM e, mid),
        |d1 AS (SELECT user_id, event_type AS a1 FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY count(*) DESC, event_type) AS pick
        |    FROM h WHERE half = 1 GROUP BY 1, 2) WHERE pick = 1),
        |d2 AS (SELECT user_id, event_type AS a2 FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY count(*) DESC, event_type) AS pick
        |    FROM h WHERE half = 2 GROUP BY 1, 2) WHERE pick = 1),
        |prof AS (SELECT u.user_id, d1.a1, d2.a2
        |         FROM (SELECT DISTINCT user_id FROM e) u
        |         LEFT JOIN d1 ON d1.user_id = u.user_id
        |         LEFT JOIN d2 ON d2.user_id = u.user_id),
        |g1 AS (SELECT a1, CAST(count(*) AS BIGINT) AS n_h1
        |       FROM prof GROUP BY 1),
        |g2 AS (SELECT a2, CAST(count(*) AS BIGINT) AS n_h2
        |       FROM prof GROUP BY 1)
        |SELECT COALESCE(a1, a2) AS attr,
        |  COALESCE(n_h1, 0) AS n_h1, COALESCE(n_h2, 0) AS n_h2,
        |  COALESCE(n_h2, 0) - COALESCE(n_h1, 0) AS delta
        |FROM g1 FULL JOIN g2 ON g1.a1 IS NOT DISTINCT FROM g2.a2
        |ORDER BY COALESCE(COALESCE(a1, a2), '(null)')""".stripMargin)),
    Key("sample_pps", samplePps, Some(
      """WITH d AS (SELECT doc_id, n_chars FROM documents),
        |t AS (SELECT CAST(sum(n_chars) AS BIGINT) AS t FROM d),
        |c AS (SELECT doc_id, n_chars,
        |    CAST(COALESCE(sum(n_chars) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS c
        |  FROM d),
        |h AS (SELECT c.*, t.t,
        |    CASE WHEN 2 * 20 * (c + n_chars) >= t
        |      THEN (2 * 20 * (c + n_chars) - t) // (2 * t) + 1
        |      ELSE 0 END AS hi,
        |    CASE WHEN 2 * 20 * c >= t
        |      THEN (2 * 20 * c - t) // (2 * t) + 1 ELSE 0 END AS lo
        |  FROM c, t)
        |SELECT doc_id, n_chars, c AS cum_before,
        |  CAST(hi - lo AS BIGINT) AS n_hits,
        |  round(CAST(n_chars AS DOUBLE) * 20 / t, 6) + 0.0
        |    AS expected_hits
        |FROM h WHERE hi - lo >= 1 ORDER BY doc_id""".stripMargin)),
    Key("sample_systematic", sampleSystematic, Some(
      """WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    sum(CAST("value" AS DECIMAL(18,2))) AS sp
        |  FROM events GROUP BY 1),
        |h AS (SELECT *,
        |    (user_id % 2147483648) * 2654435761 % 2147483648 AS hh
        |  FROM u),
        |r AS (SELECT *, CAST(row_number() OVER (ORDER BY hh, user_id)
        |        AS BIGINT) AS rn
        |  FROM h)
        |SELECT user_id, n_events,
        |  round(CAST(sp AS DOUBLE), 6) + 0.0 AS spend,
        |  rn AS rank_in_frame
        |FROM r WHERE (rn - 1) % 20 = 0 ORDER BY user_id""".stripMargin)),
    Key("sample_class_balance", sampleClassBalance, Some(
      """WITH d AS (SELECT doc_id, lang, n_chars,
        |    (doc_id % 2147483648) * 2654435761 % 2147483648 AS u
        |  FROM documents),
        |minc AS (SELECT CAST(min(n) AS BIGINT) AS cap FROM
        |  (SELECT lang, count(*) AS n FROM d GROUP BY 1)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang
        |        ORDER BY u, doc_id) AS rn FROM d)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_orig,
        |  minc.cap AS cap,
        |  CAST(sum(CASE WHEN rn <= minc.cap THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN rn <= minc.cap THEN n_chars ELSE 0 END)
        |    AS BIGINT) AS kept_chars
        |FROM r, minc GROUP BY 1, 3 ORDER BY lang""".stripMargin)),
    Key("sample_kfold", sampleKfold, Some(
      """WITH d AS (SELECT *,
        |    (doc_id % 2147483648) * 2654435761 % 2147483648 % 5 AS fold
        |  FROM documents),
        |f AS (SELECT fold, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |      FROM d GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS nn FROM f)
        |SELECT fold, n_docs, n_chars, n_langs,
        |  round(CAST(n_docs AS DOUBLE) / nn, 6) + 0.0 AS share,
        |  round((n_docs - CAST(nn AS DOUBLE) / 5)
        |    * (n_docs - CAST(nn AS DOUBLE) / 5)
        |    / (CAST(nn AS DOUBLE) / 5), 6) + 0.0 AS chi2_term
        |FROM f, tot ORDER BY fold""".stripMargin)),
    Key("sample_negatives", sampleNegatives,
      prep = Some(graft.sources.Bucketed.prep), oracle = Some(
      """WITH np AS (SELECT count(*) AS np FROM part),
        |purchased AS (
        |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |cand AS (
        |  SELECT c_custkey,
        |    ((c_custkey % 2147483648) * 2654435761 + i * 40503)
        |      % 2147483648 % np.np + 1 AS p_cand,
        |    min(i) AS i
        |  FROM customer CROSS JOIN np
        |       CROSS JOIN (SELECT unnest(range(0, 20)) AS i)
        |  GROUP BY 1, 2),
        |neg AS (
        |  SELECT cand.* FROM cand
        |  LEFT JOIN purchased
        |    ON cand.c_custkey = purchased.c AND cand.p_cand = purchased.p
        |  WHERE purchased.c IS NULL),
        |r AS (SELECT c_custkey, p_cand AS p_partkey,
        |        CAST(row_number() OVER (PARTITION BY c_custkey
        |          ORDER BY i, p_cand) AS INTEGER) AS neg_rank
        |      FROM neg)
        |SELECT c_custkey, p_partkey, neg_rank FROM r WHERE neg_rank <= 5
        |ORDER BY c_custkey, neg_rank""".stripMargin)),
    Key("window_rank_family_scaled", windowRankFamilyScaled, Some(rankFamilyOracle)),
    Key("window_rank_family", windowRankFamily, Some(rankFamilyOracle)),
    Key("array_funcs", arrayFuncs, Some(
      """WITH t AS (
        |  SELECT user_id, list_sort(list(DISTINCT event_type)) AS types_arr
        |  FROM events GROUP BY user_id)
        |SELECT user_id,
        |  array_to_string(types_arr, ',') AS types,
        |  CAST(len(types_arr) AS INTEGER) AS n_types,
        |  list_contains(types_arr, 'purchase') AS has_purchase,
        |  array_to_string(list_sort(list_filter(types_arr, x -> x NOT IN ('click', 'view'))), ',') AS non_browse
        |FROM t ORDER BY user_id""".stripMargin)),
    Key("variant_json", variantJson, Some(
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(min(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
        |  CAST(max(CAST(json_extract(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Key("unpivot_stack", unpivotStack, Some(
      """SELECT l_orderkey, l_linenumber, metric, val FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem) t
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin)),
    Key("percentile_group", percentileGroup, Some(
      """SELECT l_returnflag,
        |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity), 6) AS p50_qty,
        |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_quantity), 6) AS p90_qty,
        |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice), 6) AS p50_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    // ── invariant oracles (round 11): the approx value is engine-specific
    // but its error BOUND is a boolean DuckDB can assert — the exact
    // columns are verified exactly, and the Spark side's bound booleans
    // must come out TRUE or the hash compare fails. ──
    Key("approx_distinct", approxDistinct, Some(
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Key("approx_distinct_merge", approxDistinctMerge, Some(
      """SELECT
        |  CAST(count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS n_days,
        |  (SELECT CAST(sum(c) AS BIGINT) FROM (
        |     SELECT count(DISTINCT user_id) AS c FROM events
        |     GROUP BY CAST(CAST(ts AS TIMESTAMP) AS DATE)) d) AS sum_daily_exact,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_total_users,
        |  TRUE AS union_ok
        |FROM events""".stripMargin)),
    Key("percentile_group_approx", percentileGroupApprox, Some(
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  TRUE AS p50_qty_ok, TRUE AS p90_qty_ok, TRUE AS p50_price_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Key("percentile_store_merge", percentileStoreMerge, Some(
      """SELECT event_type,
        |  CAST(count(DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS BIGINT) AS n_days,
        |  TRUE AS p50_ok, TRUE AS p90_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // DuckDB has no width_bucket; this spells out Spark's exact formula
    // (bucketSize = (hi-lo)/n, bucket = floor((x-lo)/bucketSize)+1, with
    // the out-of-range rails) so the arithmetic is IEEE-identical
    Key("width_bucket_hist", widthBucketHist, Some(
      """SELECT CASE WHEN o_totalprice < 0.0 THEN 0
        |            WHEN o_totalprice >= 600000.0 THEN 13
        |            ELSE CAST(floor(o_totalprice / 50000.0) AS BIGINT) + 1 END AS bucket,
        |  count(*) AS cnt
        |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin)),
    Key("grouping_sets", groupingSetsAgg, Some(OracleSql.lineitemGrouping(
      "GROUPING SETS ((l_returnflag), (l_linestatus))"))),
    Key("set_except_all", setExceptAll, Some(
      """SELECT user_id, event_type, count(*) AS cnt FROM (
        |  SELECT user_id, event_type FROM events
        |  EXCEPT ALL
        |  SELECT DISTINCT user_id, event_type FROM events) t
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin)),
    Key("set_intersect_all", setIntersectAll, Some(
      """SELECT user_id, count(*) AS cnt FROM (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  INTERSECT ALL
        |  SELECT user_id FROM events WHERE event_type = 'view') t
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Key("set_intersect", setIntersect, Some(
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin)),
    Key("set_except", setExcept, Some(
      """SELECT user_id FROM events WHERE event_type = 'click'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin)),
    Key("join_full_outer", joinFullOuter, Some(
      """SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
        |  COALESCE(c.n_customers, 0) AS n_customers,
        |  COALESCE(s.n_suppliers, 0) AS n_suppliers
        |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_customers
        |      FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
        |      FROM supplier GROUP BY 1) s
        |USING (nationkey)
        |ORDER BY nationkey""".stripMargin)),
    Key("join_range", joinRange, Some(
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000 AS us
        |  FROM events)
        |SELECT e.event_id, count(c.us) AS n_prior_clicks
        |FROM ev e
        |LEFT JOIN ev c ON c.user_id = e.user_id AND c.event_type = 'click'
        |  AND c.us BETWEEN e.us - 60000000 AND e.us
        |WHERE e.event_type = 'error'
        |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin)),
    Key("window_cumsum", windowCumsum, Some(
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |    AS DOUBLE) AS revenue_to_date
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),
    Key("privacy_rr_counts", privacyRrCounts, Some(
      """WITH b AS (
        |  SELECT event_type,
        |    CASE WHEN "value" > 100 THEN 1 ELSE 0 END AS y,
        |    ((event_id % 2147483648) * 2654435761) % 2147483648 AS u31
        |  FROM events),
        |f AS (SELECT event_type,
        |        CASE WHEN u31 < 1610612736 THEN y ELSE 1 - y END AS rep
        |      FROM b)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(rep) AS BIGINT) AS r,
        |  round((CAST(sum(rep) AS DOUBLE) / count(*) - 0.25) / 0.5, 6)
        |    + 0.0 AS estimate
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Key("window_ratio_to_report", windowRatioToReport, Some(
      """SELECT event_id, event_type, "value",
        |  round("value" /
        |    CAST(sum(CAST("value" AS DECIMAL(18,2)))
        |      OVER (PARTITION BY event_type) AS DOUBLE), 9) AS share
        |FROM events ORDER BY event_id""".stripMargin)),
    Key("window_rolling_median", windowRollingMedian, Some(
      """SELECT event_id,
        |  round(quantile_cont("value", 0.5) OVER (
        |    PARTITION BY event_type
        |    ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
        |    ROWS BETWEEN 49 PRECEDING AND CURRENT ROW), 6) + 0.0 AS med
        |FROM events ORDER BY event_id""".stripMargin)),
    Key("window_ntile", windowNtile, Some(
      """SELECT o_orderkey, o_totalprice,
        |  CAST(ntile(4) OVER (ORDER BY o_totalprice DESC, o_orderkey)
        |    AS INTEGER) AS quartile
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    Key("conditional_agg", conditionalAgg, Some(
      """SELECT l_returnflag, count(*) AS cnt,
        |  count(*) FILTER (WHERE l_discount > 0.05) AS cnt_discounted,
        |  CAST(COALESCE(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    FILTER (WHERE l_discount > 0.05), 0) AS DOUBLE) AS rev_discounted,
        |  count(*) FILTER (WHERE l_quantity >= 25) AS cnt_bulk
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Key("string_agg", stringAgg, Some(
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)),
    Key("sample_hash", sampleHash, Some(
      """SELECT l_returnflag, count(*) AS cnt,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem WHERE l_orderkey % 20 = 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Key("sample_stratified", sampleStratified, Some(
      """SELECT l_returnflag, count(*) AS cnt,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CASE l_returnflag WHEN 'A' THEN 2 WHEN 'N' THEN 5 ELSE 10 END AS rate_denom
        |FROM lineitem
        |WHERE (l_orderkey * 8 + l_linenumber) %
        |  (CASE l_returnflag WHEN 'A' THEN 2 WHEN 'N' THEN 5 ELSE 10 END) = 0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Key("sample_weighted", sampleWeighted, Some(
      """SELECT doc_id, n_chars,
        |  round(pow(((doc_id % 2147483648) * 2654435761 % 2147483648 + 1)
        |              / 2147483649.0,
        |            1.0 / GREATEST(n_chars, 1)), 9) AS es_key
        |FROM documents
        |ORDER BY es_key DESC, doc_id LIMIT 50""".stripMargin)),
    Key("sample_horvitz_thompson", sampleHorvitzThompson, Some(
      """WITH e AS (
        |  SELECT event_type, "value",
        |    CASE event_type WHEN 'purchase' THEN 800000
        |      WHEN 'signup' THEN 400000 WHEN 'click' THEN 200000
        |      WHEN 'view' THEN 100000 WHEN 'error' THEN 50000
        |      ELSE 25000 END AS pi_ppm,
        |    ((event_id % 2147483648) * 2654435761 % 2147483648)
        |      % 1000000 AS u
        |  FROM events),
        |pt AS (
        |  SELECT event_type, pi_ppm, CAST(count(*) AS BIGINT) AS n_true,
        |    sum(CAST("value" AS DECIMAL(18,2))) AS sv_true,
        |    CAST(sum(CASE WHEN u < pi_ppm THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_samp,
        |    sum(CASE WHEN u < pi_ppm THEN CAST("value" AS DECIMAL(18,2))
        |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS sv_samp
        |  FROM e GROUP BY 1, 2),
        |t AS (SELECT *,
        |    CAST(round(CAST(n_samp AS DOUBLE) * 1000000 / pi_ppm, 6)
        |         AS DECIMAL(28,6)) AS cnt_term,
        |    CAST(round(CAST(sv_samp AS DOUBLE) * 1000000 / pi_ppm, 6)
        |         AS DECIMAL(28,6)) AS rev_term
        |  FROM pt)
        |SELECT CAST(sum(n_samp) AS BIGINT) AS n_sampled,
        |  CAST(sum(n_true) AS BIGINT) AS n_true,
        |  round(CAST(sum(cnt_term) AS DOUBLE), 6) + 0.0 AS est_count,
        |  round(CAST(sum(rev_term) AS DOUBLE), 6) + 0.0 AS est_revenue,
        |  CAST(sum(sv_true) AS DOUBLE) AS true_revenue,
        |  round(CAST(sum(rev_term) AS DOUBLE)
        |    / CAST(sum(sv_true) AS DOUBLE) - 1.0, 6) + 0.0 AS rev_rel_err
        |FROM t""".stripMargin)),
    Key("sample_mixture", sampleMixture, Some(
      """WITH w AS (SELECT * FROM (VALUES ('en', 4), ('de', 2), ('fr', 2),
        |             ('es', 1), ('zh', 1)) AS t(lang, wt)),
        |c AS (SELECT lang, count(*) AS available FROM documents GROUP BY 1),
        |cw AS (SELECT c.lang, c.available, CAST(w.wt AS BIGINT) AS weight
        |       FROM c JOIN w USING (lang)),
        |n AS (SELECT min(available * 10 // weight) AS nfeas FROM cw),
        |tgt AS (SELECT lang, available, weight,
        |          weight * nfeas // 10 AS target_n,
        |          (weight * nfeas // 10) * 1000000 // available AS accept_ppm
        |        FROM cw, n),
        |kept AS (SELECT d.lang, count(*) AS kept_n,
        |           CAST(sum(n_chars) AS BIGINT) AS kept_chars
        |         FROM documents d JOIN tgt USING (lang)
        |         WHERE ((d.doc_id % 2147483648) * 2654435761 % 2147483648)
        |               % 1000000 < accept_ppm
        |         GROUP BY 1)
        |SELECT lang, available, weight, target_n, accept_ppm,
        |  COALESCE(kept_n, 0) AS kept_n, COALESCE(kept_chars, 0) AS kept_chars
        |FROM tgt LEFT JOIN kept USING (lang) ORDER BY lang""".stripMargin)),
    Key("split_train_eval", splitTrainEval, Some(
      """WITH d AS (
        |  SELECT lang, n_chars,
        |    ((doc_id % 2147483648) * 2654435761 % 2147483648) % 1000000 AS u
        |  FROM documents)
        |SELECT CASE WHEN u < 980000 THEN 'train'
        |            WHEN u < 990000 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM d GROUP BY 1 ORDER BY split""".stripMargin)),
    Key("sample_epoch_shuffle", sampleEpochShuffle, Some(
      """WITH e AS (SELECT unnest([1, 2]) AS epoch),
        |u AS (
        |  SELECT e.epoch, d.doc_id,
        |    (xor(d.doc_id % 2147483648, e.epoch * 48271) * 2654435761)
        |      % 2147483648 AS u
        |  FROM documents d CROSS JOIN e)
        |SELECT epoch, CAST(u // 268435456 AS INTEGER) AS shard,
        |  CAST(row_number() OVER (PARTITION BY epoch, u // 268435456
        |    ORDER BY u, doc_id) AS INTEGER) AS pos,
        |  doc_id
        |FROM u ORDER BY epoch, shard, pos""".stripMargin)),
    Key("sample_temperature", sampleTemperature, Some(
      """WITH c AS (SELECT lang, count(*) AS available FROM documents GROUP BY 1),
        |w AS (SELECT lang, available,
        |        CAST(floor(sqrt(available) * 1000000) AS BIGINT) AS wppm
        |      FROM c),
        |t AS (SELECT CAST(sum(wppm) AS BIGINT) AS wsum,
        |        CAST(sum(available) AS BIGINT) * 6 // 10 AS budget
        |      FROM w),
        |tgt AS (SELECT lang, available, wppm,
        |          least(CAST(wppm * budget // wsum AS BIGINT), available)
        |            AS target_n
        |        FROM w, t),
        |a AS (SELECT lang, available, wppm, target_n,
        |        target_n * 1000000 // available AS accept_ppm
        |      FROM tgt),
        |kept AS (SELECT d.lang, count(*) AS kept_n,
        |           CAST(sum(n_chars) AS BIGINT) AS kept_chars
        |         FROM documents d JOIN a USING (lang)
        |         WHERE ((d.doc_id % 2147483648) * 2654435761 % 2147483648)
        |               % 1000000 < accept_ppm
        |         GROUP BY 1)
        |SELECT lang, available, wppm, target_n, accept_ppm,
        |  COALESCE(kept_n, 0) AS kept_n, COALESCE(kept_chars, 0) AS kept_chars
        |FROM a LEFT JOIN kept USING (lang) ORDER BY lang""".stripMargin)),
    Key("regexp_funcs", regexpFuncs, Some(
      """SELECT COALESCE(regexp_extract(text, '^([A-Za-z]+)', 1), '') AS first_word,
        |  count(*) AS cnt
        |FROM documents GROUP BY 1 ORDER BY cnt DESC, first_word""".stripMargin)),
    Key("map_funcs", mapFuncs, Some(
      """SELECT user_id, event_type, count(*) AS cnt
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin)),
  )
}
