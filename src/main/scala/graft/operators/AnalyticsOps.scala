package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Key
import graft.sources.Tables
import graft.operators.OpsHelpers.{ev, r6}

/** Event-analytics and data-management operators a production engine is
  * expected to ship beyond plain relational algebra: cohort retention,
  * ordered funnels, robust outlier detection, iterative graph ranking, and
  * slowly-changing-dimension (SCD2) change capture.
  *
  * The reference's dashboard recomputes full-store aggregates every 300 s
  * (`/root/reference/app.py:80-84`); these are the analyses such a
  * dashboard grows into. Scale shapes:
  *   - retention/funnel: ONE shuffle on `user_id`, then window frames —
  *     per-user state is bounded, so the plan holds at 1000 executors.
  *   - anomaly_mad: two keyed aggregations over a low-cardinality group
  *     column + broadcast joins of the 5-row stats — the raw table is
  *     never shuffled.
  *   - pagerank: the edge list is shuffled ONCE onto its join key and
  *     cached; each iteration reshuffles only the rank vector (nodes ≪
  *     edges). Fixed-point integer arithmetic keeps every engine's sum
  *     bit-identical regardless of partitioning/order.
  *   - cdc_scd2: a single co-partitioned left join between snapshot and
  *     change batch; decimal arithmetic for the price restatement so both
  *     engines round identically.
  */
object AnalyticsOps {

  // ── cohort retention: users bucketed by their first active day; for each
  // (cohort, day-offset) cell, how many of the cohort were active. THE
  // product-analytics staple (Amplitude/Mixpanel retention grid). The
  // cohort day comes from a min-over-user window, so the whole query is
  // one shuffle on user_id + one on the (cohort, offset) grid — no
  // self-join of events against first-seen. ──
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Window.partitionBy(col("user_id"))
    ev(spark, dir)
      .select(col("user_id"), col("day"))
      .withColumn("cohort", min(col("day")).over(perUser))
      .withColumn("offset_d", datediff(col("day"), col("cohort")).cast("long"))
      .groupBy(col("cohort"), col("offset_d"))
      .agg(countDistinct(col("user_id")).as("users"))
      .orderBy("cohort", "offset_d")
  }

  // ── ordered funnel: view → click → purchase, where each step must occur
  // STRICTLY AFTER a completed previous step (a click only counts if some
  // view precedes it; a purchase only if some qualifying click precedes
  // it). One pass: running-max flags over the per-user timeline — the
  // classic funnel without a per-step self-join. The inclusive frame is
  // safe: a click row's own `seen_view` can only be set by a genuinely
  // earlier view, because the current row is not a view. ──
  def funnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val tl = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val flagged = ev(spark, dir)
      .select(col("user_id"), col("event_type"), col("us"), col("event_id"))
      .withColumn("seen_view",
        max(when(col("event_type") === "view", 1).otherwise(0)).over(tl))
      .withColumn("click_ok",
        when(col("event_type") === "click" && col("seen_view") === 1, 1).otherwise(0))
      .withColumn("seen_click", max(col("click_ok")).over(tl))
      .withColumn("purchase_ok",
        when(col("event_type") === "purchase" && col("seen_click") === 1, 1).otherwise(0))
    flagged.groupBy(col("user_id"))
      .agg(max(col("seen_view")).as("v"),
        max(col("click_ok")).as("c"),
        max(col("purchase_ok")).as("p"))
      .agg(sum(col("v")).as("u1"), sum(col("c")).as("u2"), sum(col("p")).as("u3"))
      .selectExpr(
        "stack(3, '1_view', u1, '2_view_click', u2, '3_view_click_purchase', u3) AS (step, users)")
      .orderBy("step")
  }

  // ── robust anomaly detection: per-event-type median + MAD (median
  // absolute deviation), flagging |x − med| > 3σ̂ where σ̂ = 1.4826·MAD —
  // the standard robust z-score (Hampel). Medians are exact
  // (`percentile`), rounded to 6 dp BEFORE the threshold comparison so
  // both engines take the same branch even if their interpolation differs
  // in the last ulp. The group column has 5 values, so both stats frames
  // broadcast; the events table itself is scanned twice but never
  // shuffled. ──
  def anomalyMad(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir).select(col("event_type"), col("value"))
    val med = e.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
    val mad = e.join(broadcast(med), "event_type")
      .groupBy(col("event_type"))
      .agg(round(expr("percentile(abs(value - med), 0.5)"), 6).as("mad"),
        first(col("med")).as("med"))
    e.join(broadcast(mad), "event_type")
      .withColumn("is_out",
        (abs(col("value") - col("med")) > lit(4.4478) * col("mad")).cast("int"))
      .groupBy(col("event_type"))
      .agg(sum(col("is_out")).as("n_outliers"), count(lit(1)).as("n_total"),
        first(col("med")).as("med"), first(col("mad")).as("mad"))
      .orderBy("event_type")
  }

  // ── multi-touch purchase attribution: for every purchase, which
  // earlier event type gets the credit — under the LAST-touch model (most
  // recent non-purchase event before it) and the FIRST-touch model (the
  // user's earliest non-purchase event). Both credits come from ONE
  // windowed pass over the per-user timeline (last/first with
  // ignoreNulls over a ROWS unbounded-to-previous frame on the total
  // (us, event_id) order — no per-purchase self-join against the touch
  // history), then two grid-sized aggregations. Purchases with no prior
  // touch credit '(none)'. Decimal-exact value sums; the per-user frame
  // keeps state bounded and keys parallel at any scale. ──
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val tl = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    val p = ev(spark, dir)
      .withColumn("last_touch", last(touch, ignoreNulls = true).over(tl))
      .withColumn("first_touch", first(touch, ignoreNulls = true).over(tl))
      .filter(col("event_type") === "purchase")
    // BOTH attribution models from the one timeline pass, in ONE
    // aggregation: each purchase row explodes into its (model, touch)
    // credit pair and a single keyed agg replaces the former
    // union-of-two-aggregations (which read a materialized copy of the
    // timeline twice) — the timeline now has exactly one consumer and
    // never materializes
    p.select(explode(array(
        struct(lit("first_touch").as("model"),
          coalesce(col("first_touch"), lit("(none)")).as("touch_type"),
          col("value")),
        struct(lit("last_touch").as("model"),
          coalesce(col("last_touch"), lit("(none)")).as("touch_type"),
          col("value")))).as("e"))
      .groupBy(col("e.model").as("model"),
        col("e.touch_type").as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("e.value").cast("decimal(18,2)")).cast("double")
          .as("attributed_value"))
      .orderBy("model", "touch_type")
  }

  /** Fixed-point PageRank scale: ranks are BIGINTs in units of 1e-12, so
    * every sum is integer arithmetic — bit-identical under ANY partitioning
    * or order, in Spark and in the DuckDB oracle alike. (A double-based
    * rank needs a tolerance; an integer one needs none.) At node counts
    * where 0.85·Σrank would overflow int64 (≈ 10^6 nodes at this scale
    * constant), drop SCALE one decade per 10× nodes. */
  private val PrScale = 1000000000000L // 1e12
  private val PrIters = 5

  // ── PageRank over the customer–supplier trade graph (who trades with
  // whom, via orders ⋈ lineitem), undirected, damping 0.85, 5 iterations.
  // The iterative-computation pattern every graph workload needs from the
  // engine: static edge+degree frame shuffled onto its join key ONCE and
  // cached; per iteration only the (node, rank) vector — orders of
  // magnitude smaller than the edges — moves. Contributions use integer
  // division (`div`), matching DuckDB `//` on positives, so the oracle can
  // replay all 5 iterations exactly. ──
  def graphPagerank(spark: SparkSession, dir: String): DataFrame = {
    // static per-edge frame: (src, dst, src-degree) over the MEMOIZED
    // dst-partitioned undirected trade graph (round 12 — was a per-key
    // Eager rebuild): HashPartitioning(dst) satisfies the per-iteration
    // groupBy(dst)'s clustered distribution, so the edge-sized
    // contribution set never crosses the wire; the broadcast degree join
    // (node-sized build side, re-run per round over the checkpointed
    // edges) preserves that partitioning
    val und = SharedGraph.tradeUndByDst(spark, dir)
    val deg = SharedGraph.tradeDeg(spark, dir)
    val adj = und.join(broadcast(deg), "src")
    var ranks = deg.select(col("src").as("node"), lit(PrScale).as("r"))
    for (_ <- 1 to PrIters) {
      // the rank vector is |nodes| ≪ |edges| — broadcast it so the cached
      // edge frame never reshuffles; only the dst-keyed partial-agg moves
      // data. (On a graph whose node vector outgrows broadcast, drop the
      // hint: the same plan degrades to a co-partitioned shuffle join.)
      // materialize + truncate lineage NOW: each iteration's broadcast
      // otherwise re-executes every prior iteration from scratch
      // (nothing below the broadcast is cached), turning k iterations
      // into O(k²) iteration-executions. Checkpointing the |nodes|-sized
      // vector keeps the loop linear; integer ranks make the result
      // bit-identical either way.
      ranks = Eager(adj.join(broadcast(ranks), adj("src") === ranks("node"))
        .select(col("dst"), expr("r div d").as("contrib"))
        .groupBy(col("dst"))
        .agg((lit(PrScale * 15L / 100L) +
          expr("sum(contrib) * 85 div 100")).as("r"))
        .select(col("dst").as("node"), col("r")))
    }
    ranks.orderBy("node")
  }

  /** Eigenvector-centrality fixed point: ranks in integer units,
    * re-normalized each round so the max node sits at exactly EcScale —
    * the normalization (a) keeps magnitudes bounded at ANY graph size
    * (unnormalized power iteration overflows int64 once λ₁·iters
    * compounds) and (b) stays bit-replayable: the only non-integer step
    * would be the division, and `div` floor-division on the int128-wide
    * product is exact in both engines. */
  private val EcScale = 1000000000L // 1e9
  private val EcIters = 4

  // ── eigenvector centrality over the same customer–supplier trade
  // graph as [[graphPagerank]]: 4 normalized power-iteration rounds of
  // x ← Ax / max(Ax). PageRank answers "who is visited" under damping;
  // the eigenvector answers "who is connected to the well-connected" —
  // the prestige score a marketplace ranks counterparties by. Scale
  // shape is pagerank's exactly: the static undirected edge frame
  // shuffles ONCE (cached pre-partitioned on dst, the per-round groupBy
  // key); each round moves only the |nodes|-sized rank vector
  // (broadcast) plus ONE scalar max. Sums are int64 (bounded by
  // d·EcScale), the normalizing product runs in DECIMAL(38,0)/HUGEINT
  // so it cannot overflow, and floor `div` matches DuckDB `//` on
  // positives — the oracle replays all 4 rounds bit-exactly. ──
  def graphEigenCentrality(spark: SparkSession, dir: String): DataFrame = {
    // the memoized dst-partitioned undirected trade frame (round 12 —
    // identical definition to the former per-key Eager rebuild)
    val adj = SharedGraph.tradeUndByDst(spark, dir)
    var x = adj.select(col("src").as("node")).distinct()
      .withColumn("r", lit(EcScale))
    for (_ <- 1 to EcIters) {
      val raw = adj.join(broadcast(x), adj("src") === x("node"))
        .groupBy(col("dst")).agg(sum(col("r")).as("s"))
      val mx = raw.agg(max(col("s")).as("mx"))
      // truncate lineage per round (the pagerank lesson): the broadcast
      // otherwise re-executes every prior round — O(k²)
      x = Eager(raw.crossJoin(broadcast(mx))
        .select(col("dst").as("node"), expr(
          s"CAST((CAST(s AS DECIMAL(38,0)) * $EcScale) div mx AS BIGINT)")
          .as("r")))
    }
    x.select(col("node"), col("r").as("centrality")).orderBy("node")
  }

  private val LpIters = 3

  // ── synchronous label propagation (community detection, Raghavan et al.
  // 2007) over the same customer–supplier trade graph as [[graphPagerank]]:
  // each node adopts the MOST FREQUENT label among its neighbors, ties
  // broken toward the smallest label, for a fixed 3 synchronous rounds.
  // Async LPA is visit-order-dependent; the fixed-round synchronous
  // min-tie-break variant is deterministic by construction, so any engine
  // replays it exactly. Scale shape mirrors PageRank: the static
  // undirected edge frame shuffles once and is cached; per round only the
  // |nodes|-sized label vector moves (broadcast), and the neighborhood
  // mode is two keyed aggregations — (node, label) counts, then an argmax
  // folded into one min(struct(-count, label)) — both with map-side
  // partials and no windows. localCheckpoint truncates lineage so round k
  // never re-executes rounds 1..k-1. ──
  /** The LP machinery shared by [[graphLabelProp]] and
    * [[graphModularity]]: (directed-both-ways edge frame, final labels)
    * — ONE definition so the partition the modularity key scores is
    * exactly the partition the community key reports. The edge frame is
    * eagerly checkpointed ([[Eager]]); its blocks are GC-managed, so
    * callers need no unpersist. */
  private def lpLabels(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    // the labels are memoized per corpus (round 12): graph_label_prop and
    // graph_modularity each re-ran the 3 synchronous rounds for the SAME
    // partition — LP state is corpus state ([[SharedCorpus]]); the
    // modularity key scores exactly the partition the community key
    // reports, by construction AND by sharing the frame.
    // The edge frame is the trade graph's undirected memo: the graph is
    // symmetric, so swapping the endpoints of the dst-partitioned frame
    // gives the same rows PRE-PARTITIONED ON src, the key every round
    // aggregates on: HashPartitioning(src) satisfies both the (src, lbl)
    // count's and the per-src argmax's clustered distributions
    // (partitioning exprs ⊆ grouping exprs), so every round is
    // exchange-free — broadcast label join, two in-partition aggregations
    val und = SharedGraph.tradeUndByDst(spark, dir)
      .select(col("dst").as("src"), col("src").as("dst"))
    val fin = SharedCorpus.memo(spark, "lp_labels", dir, "lineitem",
      "orders") {
      var labels = und.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lbl"))
      for (_ <- 1 to LpIters) {
        labels = Eager(und.join(broadcast(labels),
            und("dst") === labels("node"))
          .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
          .groupBy(col("src"))
          .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("m"))
          .select(col("src").as("node"), col("m").getField("l").as("lbl")))
      }
      labels
    }
    (und, fin)
  }

  def graphLabelProp(spark: SparkSession, dir: String): DataFrame = {
    val (und, labels) = lpLabels(spark, dir)
    val out = labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("min_node"))
      .orderBy("community")
    out
  }

  // ── Newman modularity of the LP partition: did label propagation
  // actually find STRUCTURE, or just relabel noise — Q = Σ_c e_c/A −
  // Σ_c (d_c/A)² over the directed-both-ways edge list (A = 2m), the
  // one number that makes a community detector auditable. Exact-integer
  // device: within-community edge count, per-community degree sums and
  // Σd_c² are all int64 (Q's two divisions are the only doubles), so
  // the DuckDB oracle replays the 3 LP rounds AND the score bit-for-
  // bit. Labels broadcast onto the edge frame twice (node-sized);
  // everything else is keyed aggregation. ──
  def graphModularity(spark: SparkSession, dir: String): DataFrame = {
    val (und, labels) = lpLabels(spark, dir)
    val lsrc = labels.select(col("node").as("src"), col("lbl").as("lu"))
    val ldst = labels.select(col("node").as("dst"), col("lbl").as("lv"))
    val tagged = und.join(broadcast(lsrc), "src")
      .join(broadcast(ldst), "dst")
    val m = tagged.agg(count(lit(1)).as("a"),
      sum((col("lu") === col("lv")).cast("long")).as("within"))
    val d2 = tagged.groupBy(col("lu")).agg(count(lit(1)).as("dc"))
      .agg(count(lit(1)).as("n_communities"),
        // DECIMAL(38,0): dc is a community DEGREE sum, so dc² passes
        // int64 once a community holds ~2e9 edge-endpoints — the long
        // product would wrap silently (the tie-cube guard's class)
        sum(expr("CAST(dc AS DECIMAL(38,0)) * dc")).as("sd2"))
    val out = m.crossJoin(broadcast(d2))
      .select(col("n_communities"), col("a").as("n_edges_directed"),
        col("within").as("within_edges"),
        r6(expr("cast(within as double) / a" +
          " - cast(sd2 as double) / (cast(a as double) * a)")).as("q"))
    out
  }

  // ── CDC / SCD type-2 merge: apply a change batch to a dimension
  // snapshot, versioning each changed key with [valid_from, valid_to)
  // intervals and an is_current flag — the standard warehouse pattern for
  // history-preserving upserts. The change batch here is derived
  // deterministically from orders (every 7th key is restated +5% a month
  // later) so the oracle can rebuild it; in production it would arrive
  // from the stream (graft.streaming.IngestPipeline's upsert sink is the
  // O(batch) physical form of the same merge). Price restatement is done
  // in DECIMAL so both engines round identically. ──
  def cdcScd2(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), to_date(col("o_orderdate")).as("eff"))
    val changes = base.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit("R").as("o_orderstatus"),
        round(col("o_totalprice").cast("decimal(18,2)") * lit(1.05).cast("decimal(3,2)"), 2)
          .cast("double").as("o_totalprice"),
        date_add(col("eff"), 30).as("eff"))
    val closed = base.join(
      changes.select(col("o_orderkey"), col("eff").as("chg_eff")),
      Seq("o_orderkey"), "left")
      .select(col("o_orderkey"), lit(1L).as("version"), col("o_orderstatus"),
        col("o_totalprice"), col("eff").as("valid_from"),
        col("chg_eff").as("valid_to"),
        col("chg_eff").isNull.as("is_current"))
    val current = changes
      .select(col("o_orderkey"), lit(2L).as("version"), col("o_orderstatus"),
        col("o_totalprice"), col("eff").as("valid_from"),
        lit(null).cast("date").as("valid_to"), lit(true).as("is_current"))
    closed.union(current).orderBy("o_orderkey", "version")
  }

  // ── point-in-time (temporal) join against the SCD2 history that
  // [[cdcScd2]] builds: every line item of a CHANGED order resolves the
  // dimension version that was valid on its ship date — the query shape
  // every SCD2 warehouse must answer ("what did this order's status
  // look like WHEN the line shipped", not what it looks like now).
  // Plan: equi-join on the dimension KEY (co-partitioned, the shuffle
  // the fact table needs anyway), then the [valid_from, valid_to)
  // half-open validity filter — correct because SCD2 fan-out per key is
  // the version count (2 here); a high-churn dimension would swap in
  // the asof_join window device instead (documented trade, same
  // result). Lines shipping before the first version match nothing and
  // are dropped (inner semantics, the warehouse convention). ──
  def joinScd2Asof(spark: SparkSession, dir: String): DataFrame = {
    val hist = cdcScd2(spark, dir)
    val probes = Tables.lineitem(spark, dir)
      .filter(col("l_orderkey") % 7 === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        to_date(col("l_shipdate")).as("ship_day"))
    probes.join(hist, col("l_orderkey") === col("o_orderkey"))
      .filter(col("valid_from") <= col("ship_day") &&
        (col("valid_to").isNull || col("ship_day") < col("valid_to")))
      .select(col("l_orderkey"), col("l_linenumber"), col("ship_day"),
        col("version"), col("o_orderstatus"), col("valid_from"))
      // (orderkey, linenumber) is NOT unique in the synthetic lineitem —
      // ship_day+version complete the total order
      .orderBy("l_orderkey", "l_linenumber", "ship_day", "version")
  }

  // ── data-quality profile: the assertion sweep a production pipeline
  // runs before publishing a dataset — null rates, domain violations,
  // duplicate keys, referential orphans, future timestamps — emitted as
  // one (check, bad_rows) relation so a scheduler can gate on
  // `max(bad_rows) = 0`. Each table is scanned ONCE (conditional
  // aggregation folds every per-table check into a single pass); the
  // referential check is a left-anti join on the key it would shuffle on
  // anyway. Counts are integers — bit-exact in any engine. ──
  def dqProfile(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).agg(
      count(lit(1)).as("rows"),
      sum(col("l_quantity").isNull.cast("long")).as("null_qty"),
      sum((col("l_extendedprice") <= 0).cast("long")).as("nonpos_price"),
      sum((col("l_discount") < 0 || col("l_discount") > 1).cast("long"))
        .as("bad_discount"))
    val ev = Tables.events(spark, dir).agg(
      (count(lit(1)) - countDistinct(col("event_id"))).as("dup_event_ids"),
      sum((col("ts") >= lit("2030-01-01")).cast("long")).as("future_ts"),
      sum(col("value").isNull.cast("long")).as("null_value"))
    val docs = Tables.documents(spark, dir).agg(
      sum((col("n_chars") === 0).cast("long")).as("empty_docs"),
      sum((length(col("text")) =!= col("n_chars")).cast("long"))
        .as("n_chars_mismatch"))
    val orphans = Tables.lineitem(spark, dir).select(col("l_orderkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orphan_lineitems"))
    li.crossJoin(ev).crossJoin(docs).crossJoin(orphans)
      .selectExpr("stack(9, " +
        "'lineitem_null_qty', null_qty, " +
        "'lineitem_nonpos_price', nonpos_price, " +
        "'lineitem_bad_discount', bad_discount, " +
        "'lineitem_orphans', orphan_lineitems, " +
        "'events_dup_ids', dup_event_ids, " +
        "'events_future_ts', future_ts, " +
        "'events_null_value', null_value, " +
        "'documents_empty', empty_docs, " +
        "'documents_n_chars_mismatch', n_chars_mismatch) AS (check, bad_rows)")
      .orderBy("check")
  }

  // ── referential-integrity audit across the whole star schema —
  // dq_profile samples per-table value sanity; this sweeps every FK
  // edge (7 anti-join orphan counts) and every dimension PK (4
  // count-vs-distinct checks) into one 11-row report with bad-row
  // RATES, the pre-flight a join-heavy pipeline runs before trusting
  // its own results (an orphan rate > 0 silently deflates every inner
  // join downstream). Scale shape: each FK check is a LEFT ANTI join
  // that broadcasts the smaller parent key set (dims) or co-partitions
  // on the key (lineitem→orders); each PK check is one count/distinct
  // aggregate. All counts exact int64; one division per row. ──
  def dqReferential(spark: SparkSession, dir: String): DataFrame = {
    def fk(name: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String): DataFrame =
      child.select(col(key))
        .join(parent.select(col(pkey)), col(key) === col(pkey),
          "left_anti")
        .agg(count(lit(1)).as("n_bad"))
        .crossJoin(child.agg(count(lit(1)).as("n_total")))
        .select(lit(name).as("check"), col("n_bad"), col("n_total"))
    def pk(name: String, t: DataFrame, key: String): DataFrame =
      t.agg((count(lit(1)) - countDistinct(col(key))).as("n_bad"),
          count(lit(1)).as("n_total"))
        .select(lit(name).as("check"), col("n_bad"), col("n_total"))
    val o = Tables.orders(spark, dir); val li = Tables.lineitem(spark, dir)
    val c = Tables.customer(spark, dir); val s = Tables.supplier(spark, dir)
    val p = Tables.part(spark, dir); val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    Seq(
      fk("fk_orders_custkey", o, "o_custkey", c, "c_custkey"),
      fk("fk_lineitem_orderkey", li, "l_orderkey", o, "o_orderkey"),
      fk("fk_lineitem_partkey", li, "l_partkey", p, "p_partkey"),
      fk("fk_lineitem_suppkey", li, "l_suppkey", s, "s_suppkey"),
      fk("fk_customer_nationkey", c, "c_nationkey", n, "n_nationkey"),
      fk("fk_supplier_nationkey", s, "s_nationkey", n, "n_nationkey"),
      fk("fk_nation_regionkey", n, "n_regionkey", r, "r_regionkey"),
      pk("pk_orders", o, "o_orderkey"),
      pk("pk_customer", c, "c_custkey"),
      pk("pk_part", p, "p_partkey"),
      pk("pk_supplier", s, "s_suppkey"))
      .reduce(_ union _)
      .select(col("check"), col("n_bad"), col("n_total"),
        r6(expr("cast(n_bad as double) / n_total")).as("bad_rate"))
      .orderBy("check")
  }

  // ── rolling engagement: DAU, trailing-7-day WAU, and stickiness
  // (DAU/WAU) per day. The sliding DISTINCT is deliberately NOT a window
  // over events: the distinct (user, day) activity relation (one shuffle,
  // already day-granular) fans out to the ≤7 cover days each activity row
  // can serve — a bounded ×7 expansion — and WAU is then a plain keyed
  // count-distinct on the cover day. Partial aggregation everywhere, no
  // single-task window, and the expansion never touches raw events, so
  // the shape holds on a 100 TB event store. Days with no activity don't
  // report (the inner join against DAU drops their cover rows). ──
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .transform(Eager(_)) // feeds both the DAU aggregate and the cover expansion
    val dau = act.groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val wau = act
      .select(col("user_id"), col("day"),
        explode(expr("sequence(0, 6)")).as("i"))
      .select(col("user_id"), expr("date_add(day, i)").as("cday"))
      .groupBy(col("cday")).agg(countDistinct(col("user_id")).as("wau7"))
    dau.join(wau, dau("day") === wau("cday"))
      .select(col("day"), col("dau"), col("wau7"),
        r6(col("dau").cast("double") / col("wau7")).as("stickiness"))
      .orderBy("day")
  }

  // ── CDC log compaction: keep only the LATEST record per entity key —
  // the read-side collapse of an append-only change stream into current
  // state (the upsert store's batch twin; every CDC consumer needs it).
  // Runs through the native TopKPerKey operator (k=1): per-partition
  // bounded "heaps" of one row flow into the shuffle, so only ≤
  // #partitions rows move per key — vs the window form's full shuffle +
  // full sort of the log. Order is total (ts desc, event_id desc), so
  // the survivor is well-defined under any partitioning. ──
  def dedupLatest(spark: SparkSession, dir: String): DataFrame =
    graft.plans.TopK.perKey(
        ev(spark, dir).select(col("user_id"), col("event_type"),
          col("event_id"), col("us"), col("value")),
        keyCols = Seq(col("user_id"), col("event_type")),
        orderCols = Seq(desc("us"), desc("event_id")),
        k = 1)
      .orderBy("user_id", "event_type")

  // ── MERGE INTO (upsert + delete in one pass): the lakehouse mutation
  // primitive — apply a change batch of updates, deletes, and inserts to
  // a snapshot atomically. The change batch derives deterministically
  // from the snapshot (update keys ≡3 mod 10, delete keys ≡7 mod 10,
  // insert keys = key+10⁸ for keys ≡1 mod 10) so the oracle replays it
  // exactly; price restatements stay in DECIMAL (the cdc_scd2 rule).
  // Executed as ONE full-outer join co-partitioned on the key — matched
  // rows update or drop, unmatched-target rows carry over, unmatched-
  // source rows insert. At scale both sides hash-partition on the key;
  // nothing driver-side, no second pass (the reference's store would
  // re-write the whole collection). ──
  def mergeInto(spark: SparkSession, dir: String): DataFrame = {
    val target = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val m = col("o_orderkey") % 10
    val src = target
      .filter(m === 3 || m === 7 || m === 1)
      .select(
        when(m === 1, col("o_orderkey") + 100000000L)
          .otherwise(col("o_orderkey")).as("k"),
        when(m === 3, lit("U")).when(m === 7, lit("D"))
          .otherwise(lit("I")).as("act"),
        when(m === 3,
            round(col("o_totalprice").cast("decimal(18,2)") *
              lit(1.10).cast("decimal(3,2)"), 2).cast("double"))
          .when(m === 1,
            round(col("o_totalprice").cast("decimal(18,2)") *
              lit(0.50).cast("decimal(3,2)"), 2).cast("double"))
          .otherwise(lit(null).cast("double")).as("new_price"))
    target.join(src, col("o_orderkey") === col("k"), "full_outer")
      .filter(col("act").isNull || col("act") =!= "D")
      .select(
        coalesce(col("o_orderkey"), col("k")).as("o_orderkey"),
        when(col("act") === "I", lit("N"))
          .otherwise(col("o_orderstatus")).as("status"),
        coalesce(col("new_price"), col("o_totalprice")).as("price"),
        when(col("act") === "U", lit("updated"))
          .when(col("act") === "I", lit("inserted"))
          .otherwise(lit("kept")).as("action"))
      .orderBy("o_orderkey")
  }

  // ── Cohort LTV curves: cumulative purchase revenue per user by
  // cohort age — the revenue companion of [[cohortRetention]]'s count
  // grid (the curve a growth team reads payback periods from). The
  // fact table reduces to the (cohort, age) grid FIRST with
  // DECIMAL-exact revenue; the cumulative runs as a window PARTITIONED
  // by cohort over grid-sized rows (≤ |days|² cells forever); cohort
  // sizes broadcast back for the per-user normalization. Sparse ages
  // (no purchases that day) are simply absent, documented — the oracle
  // produces the same sparse grid. ──
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Window.partitionBy(col("user_id"))
    val base = ev(spark, dir)
      .select(col("user_id"), col("day"), col("event_type"), col("value"))
      .withColumn("cohort", min(col("day")).over(perUser))
      .withColumn("age_d", datediff(col("day"), col("cohort")).cast("long"))
    val sizes = base.groupBy(col("cohort"))
      .agg(countDistinct(col("user_id")).as("users"))
    val wCum = Window.partitionBy(col("cohort")).orderBy(col("age_d"))
    base.filter(col("event_type") === "purchase")
      .groupBy(col("cohort"), col("age_d"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("rev"))
      .join(broadcast(sizes), Seq("cohort"))
      .withColumn("cum_rev", sum(col("rev")).over(wCum))
      .select(col("cohort"), col("age_d"), col("users"),
        col("cum_rev").cast("double").as("cum_revenue"),
        (round(col("cum_rev").cast("double") / col("users"), 6) + lit(0.0d))
          .as("ltv_per_user"))
      .orderBy("cohort", "age_d")
  }

  // ── Conversion LATENCY distribution: per user, time from first view
  // to the first purchase after it; report converted count + exact
  // median/p90 latency in seconds — the "how long does the funnel
  // take" companion to funnel_steps' "how many make it". Two user-
  // keyed aggregations + one co-partitioned join (user-sized frames);
  // the exact percentiles are Spark's `percentile` aggregate (map-side
  // counts-map partials — no sort cliff), which is the established
  // green pairing with DuckDB's percentile_cont. ──
  def funnelTimeToConvert(spark: SparkSession, dir: String): DataFrame = {
    val e = ev(spark, dir)
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("tv"))
    val lat = e.filter(col("event_type") === "purchase")
      .join(v, Seq("user_id"))
      .filter(col("us") > col("tv"))
      .groupBy(col("user_id"))
      .agg((min(col("us")) - first(col("tv"))).as("lat_us"))
    lat.agg(count(lit(1)).as("n_converted"),
      round(expr("percentile(lat_us, 0.5) / 1000000"), 6).as("median_s"),
      round(expr("percentile(lat_us, 0.9) / 1000000"), 6).as("p90_s"))
  }

  // ── Spearman rank correlation of the daily click vs purchase volume
  // series — the robust (monotone, outlier-tolerant) twin of
  // rolling_corr's Pearson. The engine-neutral device: DOUBLED average
  // ranks are exact INTEGERS (2r = 2·rank + ties − 1, rank/ties from
  // the |days|-row frame — tiny, the sessions_concurrent convention),
  // and ρ is Pearson over those integers: integer moment sums, ONE
  // sqrt, cast-first double division — bit-identical cross-engine.
  // Scaling ranks by 2 leaves ρ unchanged (correlation is scale-
  // invariant). ──
  def statsSpearman(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir)
      .groupBy(col("day"))
      .agg(count(when(col("event_type") === "click", 1)).as("c"),
        count(when(col("event_type") === "purchase", 1)).as("p"))
    val rc = daily
      .withColumn("rx",
        rank().over(Window.orderBy(col("c"))) * 2 +
          count(lit(1)).over(Window.partitionBy(col("c"))) - 1)
      .withColumn("ry",
        rank().over(Window.orderBy(col("p"))) * 2 +
          count(lit(1)).over(Window.partitionBy(col("p"))) - 1)
    rc.agg(count(lit(1)).as("n"), sum(col("rx")).as("sx"),
        sum(col("ry")).as("sy"),
        sum(col("rx") * col("rx")).as("sxx"),
        sum(col("ry") * col("ry")).as("syy"),
        sum(col("rx") * col("ry")).as("sxy"))
      .select(col("n"),
        (round(expr("cast(n * sxy - sx * sy as double)" +
          " / sqrt(cast(n * sxx - sx * sx as double)" +
          " * (n * syy - sy * sy))"), 6) + lit(0.0d)).as("rho"))
  }

  // ── Kendall τ-b of the daily click vs purchase series — the
  // concordance companion of [[statsSpearman]] (τ reads as a
  // probability: P(concordant) − P(discordant), with the τ-b tie
  // correction). The fact table reduces to the |days|-row grid FIRST;
  // the O(|days|²/2) pair enumeration (the stats_theilsen convention)
  // is ~465 rows at a month of days — bounded forever, since pairs
  // live on the aggregated series, never on facts. All counts integer;
  // one sqrt, cast-first. ──
  def statsKendallTau(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir)
      .groupBy(col("day"))
      .agg(count(when(col("event_type") === "click", 1)).as("c"),
        count(when(col("event_type") === "purchase", 1)).as("p"))
    val a = daily.select(col("day").as("d1"), col("c").as("c1"),
      col("p").as("p1"))
    val b = daily.select(col("day").as("d2"), col("c").as("c2"),
      col("p").as("p2"))
    val pairs = a.join(b, col("d1") < col("d2"))
      .select(
        ((col("c1") - col("c2")) * (col("p1") - col("p2"))).as("prod"),
        (col("c1") === col("c2")).cast("long").as("tie_c"),
        (col("p1") === col("p2")).cast("long").as("tie_p"))
    pairs.agg(count(lit(1)).as("n0"),
        sum((col("prod") > 0).cast("long")).as("conc"),
        sum((col("prod") < 0).cast("long")).as("disc"),
        sum(col("tie_c")).as("n1"), sum(col("tie_p")).as("n2"))
      .select(col("n0"), col("conc"), col("disc"),
        (round(expr("cast(conc - disc as double)" +
          " / sqrt(cast(n0 - n1 as double) * (n0 - n2))"), 6) + lit(0.0d))
          .as("tau_b"))
  }

  // ── Wilcoxon SIGNED-RANK test, week-over-week: pair each day with
  // the same weekday one week later, test whether daily revenue
  // shifted — the PAIRED companion of stats_mannwhitney's unpaired U
  // (kendall/spearman = association, wilcoxon = level shift). Exact
  // integer devices throughout: revenue diffs in cents, DOUBLED
  // average ranks of |diff| (2r = 2·rank + ties − 1), W₂ = Σ2r over
  // positive diffs, and the tie-corrected normal approximation written
  // so 4·(W−μ) = 2·W₂ − n(n+1) and 16σ² = (2n(n+1)(2n+1) − Σ(t³−t))/3
  // divide ONCE in double. Day pairing is an equi-join on date+7; all
  // frames are |days|-sized. ──
  def statsWilcoxonSigned(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir)
      .groupBy(col("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long")
        .as("revc"))
    val pairs = daily.select(col("day").as("d1"), col("revc").as("r1"))
      .join(daily.select(col("day").as("d2"), col("revc").as("r2")),
        col("d2") === date_add(col("d1"), 7))
      .select((col("r2") - col("r1")).as("diff"))
      .filter(col("diff") =!= 0L)
      .withColumn("ad", abs(col("diff")))
    val ranked = pairs
      .withColumn("r2x",
        rank().over(Window.orderBy(col("ad"))) * 2 +
          count(lit(1)).over(Window.partitionBy(col("ad"))) - 1)
    val ties = ranked.groupBy(col("ad")).agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(col("t") * col("t") * col("t") - col("t")),
        lit(0L)).as("tsum"))
    ranked.agg(count(lit(1)).as("n"),
        sum(when(col("diff") > 0, col("r2x")).otherwise(0L)).as("w2"))
      .crossJoin(broadcast(ties))
      .select(col("n"), (col("w2") / 2).cast("double").as("w_plus"),
        (round(expr("cast(2 * w2 - n * (n + 1) as double)" +
          " / sqrt(cast(2 * n * (n + 1) * (2 * n + 1) - tsum as double)" +
          " / 3)"), 6) + lit(0.0d)).as("z"))
  }

  // ── sample-ratio-mismatch guard: assign every user to an A/B arm by
  // the repo's portable integer hash (pmod-before-multiply Knuth form —
  // bit-identical in DuckDB, so the ASSIGNMENT itself is replayed by
  // the oracle, not just the counts) and chi-square the observed split
  // against 50/50 — the first gate any experimentation platform runs,
  // because a biased splitter invalidates every downstream metric. For
  // two arms χ² against equal expectation reduces to (n0−n1)²/N; flag
  // at 3.841 (p<0.05, 1 df). One distinct + one tiny aggregate; counts
  // exact int64, one cast-first division. ──
  def abSrmCheck(spark: SparkSession, dir: String): DataFrame = {
    ev(spark, dir).select(col("user_id")).distinct()
      .withColumn("arm",
        expr("pmod(pmod(user_id, 2147483648) * 2654435761, 2147483648) % 2"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n1"))
      .select(col("n_users"), col("n0"), col("n1"),
        r6(expr("cast((n0 - n1) * (n0 - n1) as double) / n_users"))
          .as("chi2"),
        (expr("cast((n0 - n1) * (n0 - n1) as double) / n_users") >
          lit(3.841d)).as("srm_flag"))
  }

  // ── A/B power planner from the observed base rate: given this
  // corpus's user→purchase conversion, what absolute/relative lift is
  // detectable at α=0.05 / 80% power with the users we HAVE split
  // 50/50, and how many users per arm would a 5%-relative-lift test
  // need — the sizing arithmetic every experiment review starts with
  // (ab_srm_check guards the split; this says whether the test is even
  // worth running). Two-proportion normal approximation with the
  // standard z constants as shared literal tokens; the base rate is a
  // ratio of exact int64 counts, every derived double is the same token
  // sequence in both engines, and the only boundary op is one ceil.
  // ONE distinct + ONE tiny aggregate — shuffle is user-sized. ──
  def abPowerMde(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_converted"))
      .withColumn("p", expr("cast(n_converted as double) / n_users"))
      .withColumn("npa", expr("n_users div 2"))
      .withColumn("mde_abs", expr(
        "(1.959964 + 0.841621)" +
          " * sqrt(2.0 * p * (1.0 - p) / cast(npa as double))"))
      .select(col("n_users"), col("n_converted"),
        r6(col("p")).as("p_base"), col("npa").as("n_per_arm"),
        r6(col("mde_abs")).as("mde_abs"),
        r6(expr("mde_abs / p")).as("mde_rel"),
        expr("CAST(ceil(2.0 * p * (1.0 - p)" +
          " * ((1.959964 + 0.841621) * (1.959964 + 0.841621))" +
          " / ((0.05 * p) * (0.05 * p))) AS BIGINT)")
          .as("n_per_arm_5pct_lift"))

  // ── exact-duplicate row audit of the event log: multiplicity classes
  // of the full business tuple (user, µs timestamp, type, value) — the
  // at-least-once-delivery damage report (the reference's blind
  // insert_one, consumer.py:78, makes replays duplicate rows silently;
  // this is the number that says whether dedup-on-ingest is needed).
  // ONE keyed aggregation to multiplicity classes, then a 1-row integer
  // summary; the only double is the final rate. ──
  def dqDuplicateRows(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .groupBy(col("user_id"), col("us"), col("event_type"), col("value"))
      .agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_distinct"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_classes"),
        sum(when(col("c") > 1, col("c") - 1).otherwise(0L))
          .as("n_dup_rows"),
        max(col("c")).as("max_multiplicity"))
      .select(col("n_rows"), col("n_distinct"), col("n_dup_classes"),
        col("n_dup_rows"), col("max_multiplicity"),
        r6(expr("cast(n_dup_rows as double) / n_rows")).as("dup_rate"))

  // ── out-of-order arrival audit: per user (event_id = arrival order),
  // how late does event time lag the running event-time maximum — THE
  // measurement that sizes a streaming watermark (withWatermark's delay
  // should cover the observed lateness tail; guessing it is how events
  // get dropped). Lateness is an integer-µs difference against a
  // per-user running max, bucketed on the session_gap_hist log ladder;
  // shares are exact counts over the ladder frame. Entity-partitioned
  // window, no global sort. ──
  def dqOutOfOrder(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val lad = ev(spark, dir)
      .withColumn("runmax", max(col("us")).over(w))
      .withColumn("late_s",
        when(col("runmax").isNotNull && col("us") < col("runmax"),
          expr("(runmax - us) div 1000000")))
      .withColumn("b",
        when(col("late_s").isNull, 0)
          .when(col("late_s") < 1, 1).when(col("late_s") < 60, 2)
          .when(col("late_s") < 3600, 3).otherwise(4))
      .groupBy(col("b")).agg(count(lit(1)).as("n_events"))
    val tot = lad.agg(sum(col("n_events")).as("t"))
    lad.crossJoin(broadcast(tot))
      .select(col("b").cast("int").as("bucket_id"),
        when(col("b") === 0, "in_order").when(col("b") === 1, "lt_1s")
          .when(col("b") === 2, "lt_1min").when(col("b") === 3, "lt_1h")
          .otherwise("ge_1h").as("lateness"),
        col("n_events"),
        r6(expr("cast(n_events as double) / t")).as("share"))
      .orderBy("bucket_id")
  }

  // ── Wald SPRT monitor over the event stream: the sequential log-
  // likelihood-ratio walk testing the observed purchase-conversion p₀
  // against a 10%-lifted alternative p₁, with the classic ±ln 19
  // (α = β = 0.05) decision rails — the always-valid "stop the test
  // early" machinery fixed-horizon ab_power_mde can't provide. The two
  // per-trial LLR constants derive from the 6-dp-snapped base rate and
  // are themselves snapped to 9 dp DECIMALs, so each day's increment
  // x·c₁ + (m−x)·c₂ and the running sum are EXACT decimal arithmetic —
  // the walk is bit-replayable and the crossing day cannot flap. One
  // keyed daily aggregation + a day-grid cumulative window. ──
  def abSprt(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir).groupBy(col("day"))
      .agg(count(lit(1)).as("m"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("x"))
    val base = daily.agg(sum(col("m")).as("tm"), sum(col("x")).as("tx"))
      .withColumn("p0", r6(expr("cast(tx as double) / tm")))
      .withColumn("p1", r6(expr("1.1 * p0")))
      .withColumn("c1", expr(
        "CAST(round(ln(p1 / p0), 9) AS DECIMAL(18,9))"))
      .withColumn("c2", expr(
        "CAST(round(ln((1.0 - p1) / (1.0 - p0)), 9) AS DECIMAL(18,9))"))
      .select(col("p0"), col("p1"), col("c1"), col("c2"))
    val cum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, 0)
    daily.crossJoin(broadcast(base))
      // counts cast to DECIMAL(12,0) first: a bare long×DECIMAL(18,9)
      // needs precision 39, which Spark silently rescales to 8 dp —
      // a 1e-8/day drift the cumulative walk amplifies
      .withColumn("term", expr(
        "CAST(x AS DECIMAL(12,0)) * c1" +
          " + CAST(m - x AS DECIMAL(12,0)) * c2"))
      .withColumn("llr6", r6(sum(col("term")).over(cum).cast("double")))
      .select(col("day"), col("m").as("n_trials"),
        col("x").as("n_success"), col("p0"), col("p1"),
        col("llr6").as("llr"),
        when(col("llr6") >= 2.944439, "accept_lift")
          .when(col("llr6") <= -2.944439, "accept_null")
          .otherwise("continue").as("decision"))
      .orderBy("day")
  }

  private val HitsIters = 2
  private val HitsScale = 1000000L

  // ── HITS (Kleinberg hubs & authorities) on the directed
  // customer→supplier purchase graph — PageRank scores IMPORTANCE on the
  // symmetrized graph; HITS keeps the direction and answers the two-
  // sided question: which customers aggregate the good suppliers (hubs)
  // and which suppliers are endorsed by the good customers
  // (authorities). Two mutual-reinforcement rounds in ppm FIXED-POINT:
  // each half-step is one broadcast-join + keyed sum of int64 scores,
  // renormalized by the current MAX via integer division (max-norm, the
  // HITS convention) — bit-replayable, so the oracle unrolls all four
  // half-steps exactly. Same scale shape as pagerank: node-sized score
  // vectors broadcast, the edge frame never reshuffles, eager
  // localCheckpoint keeps the loop linear. Score sums stay < 2⁶³ while
  // max-degree · Scale² < 9.2e18 (maxdeg ≲ 9e6 at ppm scale — drop
  // Scale to 1e3 beyond). ──
  def graphHits(spark: SparkSession, dir: String): DataFrame = {
    val e = SharedGraph.tradePairs(spark, dir)
    var h = e.select(col("cust")).distinct()
      .withColumn("h", lit(HitsScale))
    var a = e.select(col("supp")).distinct().withColumn("a", lit(HitsScale))
    for (_ <- 1 to HitsIters) {
      val araw = e.join(broadcast(h), "cust")
        .groupBy(col("supp")).agg(sum(col("h")).as("ar"))
      a = Eager(araw.crossJoin(broadcast(araw.agg(max(col("ar")).as("mx"))))
        .select(col("supp"), expr(s"ar * $HitsScale div mx").as("a")))
      val hraw = e.join(broadcast(a), "supp")
        .groupBy(col("cust")).agg(sum(col("a")).as("hr"))
      h = Eager(hraw.crossJoin(broadcast(hraw.agg(max(col("hr")).as("mx"))))
        .select(col("cust"), expr(s"hr * $HitsScale div mx").as("h")))
    }
    val both = h.select(lit("hub").as("side"), col("cust").as("node"),
        col("h").as("score"))
      .union(a.select(lit("authority").as("side"), col("supp").as("node"),
        col("a").as("score")))
    val out = both
      .withColumn("rnk", row_number().over(Window.partitionBy(col("side"))
        .orderBy(desc("score"), col("node"))))
      .filter(col("rnk") <= 10)
      .orderBy("side", "rnk")
    out
  }

  /** One candidate functional dependency X→Y audited to three numbers:
    * how many X keys exist, how many map to >1 Y, and the g3 repair
    * size (minimum rows to delete so the FD holds = n − Σₓ max_y
    * count). Two keyed aggregations; the (x,y) frame is
    * dictionary-sized, never |rows|. */
  private def fdAudit(label: String, df: DataFrame, xc: String,
      yc: String): DataFrame = {
    val c = df.groupBy(col(xc).as("x"), col(yc).as("y"))
      .agg(count(lit(1)).as("c"))
    c.groupBy(col("x"))
      .agg(count(lit(1)).as("ny"), sum(col("c")).as("nx"),
        max(col("c")).as("mx"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("ny") > 1, 1L).otherwise(0L)).as("n_violating_keys"),
        sum(col("nx")).as("n_rows"),
        sum(col("nx") - col("mx")).as("g3_rows"))
      .select(lit(label).as("fd"), col("n_keys"),
        col("n_violating_keys"), col("n_rows"), col("g3_rows"),
        r6(expr("cast(n_violating_keys as double) / n_keys"))
          .as("key_violation_rate"),
        r6(expr("cast(g3_rows as double) / n_rows")).as("g3"))
  }

  // ── functional-dependency audit across four candidate dependencies —
  // the data-contract check dq_referential doesn't cover: not "does the
  // foreign key resolve" but "does column X still DETERMINE column Y",
  // the invariant that silently breaks when an upstream join starts
  // fanning out or a dimension stops being slowly-changing. Each FD
  // reports its violating-key rate and Kivinen–Mannila g3 (the fraction
  // of rows a repair would delete) from exact integer counts; the four
  // audits union into one frame, each two group-sized aggregations. ──
  def dqFdViolations(spark: SparkSession, dir: String): DataFrame =
    fdAudit("events.user_id->event_type", ev(spark, dir),
        "user_id", "event_type")
      .unionByName(fdAudit("documents.source->lang",
        Tables.documents(spark, dir), "source", "lang"))
      .unionByName(fdAudit("orders.o_custkey->o_orderpriority",
        Tables.orders(spark, dir), "o_custkey", "o_orderpriority"))
      .unionByName(fdAudit("customer.c_nationkey->c_mktsegment",
        Tables.customer(spark, dir), "c_nationkey", "c_mktsegment"))
      .orderBy("fd")

  private val prIterSql: String = {
    // unrolled iterations: it0 = uniform PrScale; it{k} from it{k-1}
    val iters = (1 to PrIters).map { k =>
      val prev = if (k == 1) "r0" else s"it${k - 1}"
      s"""it$k AS (
         |  SELECT ue.dst AS node,
         |    CAST(${PrScale * 15L / 100L} + (sum(p.r // deg.d) * 85) // 100
         |         AS BIGINT) AS r
         |  FROM ue JOIN $prev p ON ue.src = p.node
         |         JOIN deg ON ue.src = deg.src
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |ue AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |deg AS (SELECT src, count(*) AS d FROM ue GROUP BY 1),
       |r0 AS (SELECT src AS node, CAST($PrScale AS BIGINT) AS r FROM deg),
       |$iters
       |SELECT node, r FROM it$PrIters ORDER BY node""".stripMargin
  }

  private val ecIterSql: String = {
    // unrolled normalized power iteration: raw sum, then renormalize so
    // max(s) ↦ EcScale — HUGEINT product, floor //, exactly the Spark arm
    val iters = (1 to EcIters).map { k =>
      val prev = if (k == 1) "r0" else s"n${k - 1}"
      s"""it$k AS (
         |  SELECT ue.dst AS node, CAST(sum(p.r) AS BIGINT) AS s
         |  FROM ue JOIN $prev p ON ue.src = p.node
         |  GROUP BY 1),
         |n$k AS (
         |  SELECT node, CAST(CAST(s AS HUGEINT) * $EcScale
         |    // (SELECT max(s) FROM it$k) AS BIGINT) AS r
         |  FROM it$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |ue AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |r0 AS (SELECT DISTINCT src AS node, CAST($EcScale AS BIGINT) AS r
       |       FROM ue),
       |$iters
       |SELECT node, r AS centrality FROM n$EcIters ORDER BY node"""
      .stripMargin
  }

  /** The unrolled-LP CTE block shared by the graph_label_prop and
    * graph_modularity oracles: l0 = own id; it{k}'s label is the
    * neighbor mode of it{k-1} (count desc, label asc — same total order
    * as the Spark side's min(struct(-count, label))). */
  private val lpCtes: String = {
    val iters = (1 to LpIters).map { k =>
      val prev = if (k == 1) "l0" else s"it${k - 1}"
      s"""c$k AS (
         |  SELECT ue.src, p.lbl, count(*) AS c
         |  FROM ue JOIN $prev p ON ue.dst = p.node
         |  GROUP BY 1, 2),
         |it$k AS (
         |  SELECT src AS node, lbl FROM (
         |    SELECT src, lbl,
         |      row_number() OVER (PARTITION BY src ORDER BY c DESC, lbl) AS rn
         |    FROM c$k) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |ue AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM ue),
       |$iters""".stripMargin
  }

  private val lpIterSql: String =
    s"""$lpCtes
       |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_members,
       |  min(node) AS min_node
       |FROM it$LpIters GROUP BY 1 ORDER BY community""".stripMargin

  private val modularitySql: String =
    s"""$lpCtes,
       |tagged AS (
       |  SELECT lu.lbl AS lu, lv.lbl AS lv
       |  FROM ue JOIN it$LpIters lu ON ue.src = lu.node
       |          JOIN it$LpIters lv ON ue.dst = lv.node),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS a,
       |    CAST(sum(CASE WHEN lu = lv THEN 1 ELSE 0 END) AS BIGINT)
       |      AS within
       |  FROM tagged),
       |d2 AS (SELECT CAST(count(*) AS BIGINT) AS n_communities,
       |    sum(CAST(dc AS HUGEINT) * dc) AS sd2
       |  FROM (SELECT lu, CAST(count(*) AS BIGINT) AS dc
       |        FROM tagged GROUP BY 1))
       |SELECT n_communities, a AS n_edges_directed, within AS within_edges,
       |  round(CAST(within AS DOUBLE) / a
       |    - CAST(sd2 AS DOUBLE) / (CAST(a AS DOUBLE) * a), 6) + 0.0 AS q
       |FROM m CROSS JOIN d2""".stripMargin

  /** Duck-side twin of [[fdAudit]] for one X→Y candidate (emits the
    * pre-ratio integer row; ratios are applied once over the union). */
  private def duckFd(label: String, table: String, x: String,
      y: String): String =
    s"""(WITH c AS (SELECT $x AS x, $y AS y,
       |    CAST(count(*) AS BIGINT) AS c FROM $table GROUP BY 1, 2),
       |k AS (SELECT x, CAST(count(*) AS BIGINT) AS ny,
       |    CAST(sum(c) AS BIGINT) AS nx, CAST(max(c) AS BIGINT) AS mx
       |  FROM c GROUP BY 1)
       |SELECT '$label' AS fd, CAST(count(*) AS BIGINT) AS n_keys,
       |  CAST(sum(CASE WHEN ny > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_violating_keys,
       |  CAST(sum(nx) AS BIGINT) AS n_rows,
       |  CAST(sum(nx - mx) AS BIGINT) AS g3_rows
       |FROM k)""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("dq_fd_violations", dqFdViolations, Some(
      (s"""SELECT fd, n_keys, n_violating_keys, n_rows, g3_rows,
          |  round(CAST(n_violating_keys AS DOUBLE) / n_keys, 6) + 0.0
          |    AS key_violation_rate,
          |  round(CAST(g3_rows AS DOUBLE) / n_rows, 6) + 0.0 AS g3
          |FROM (
          |""".stripMargin +
        duckFd("events.user_id->event_type", "events",
          "user_id", "event_type") + "\nUNION ALL\n" +
        duckFd("documents.source->lang", "documents", "source", "lang") +
        "\nUNION ALL\n" +
        duckFd("orders.o_custkey->o_orderpriority", "orders",
          "o_custkey", "o_orderpriority") + "\nUNION ALL\n" +
        duckFd("customer.c_nationkey->c_mktsegment", "customer",
          "c_nationkey", "c_mktsegment") +
        "\n) ORDER BY fd"))),
    Key("dq_duplicate_rows", dqDuplicateRows, Some(
      """WITH g AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    event_type, "value" AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2, 3, 4),
        |a AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_distinct,
        |    CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup_classes,
        |    CAST(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup_rows,
        |    CAST(max(c) AS BIGINT) AS max_multiplicity
        |  FROM g)
        |SELECT n_rows, n_distinct, n_dup_classes, n_dup_rows,
        |  max_multiplicity,
        |  round(CAST(n_dup_rows AS DOUBLE) / n_rows, 6) + 0.0 AS dup_rate
        |FROM a""".stripMargin)),
    Key("dq_out_of_order", dqOutOfOrder, Some(
      """WITH e AS (SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |r AS (SELECT *,
        |    max(us) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS runmax
        |  FROM e),
        |l AS (SELECT *,
        |    CASE WHEN runmax IS NOT NULL AND us < runmax
        |      THEN (runmax - us) // 1000000 END AS late_s
        |  FROM r),
        |b AS (SELECT CASE WHEN late_s IS NULL THEN 0
        |        WHEN late_s < 1 THEN 1 WHEN late_s < 60 THEN 2
        |        WHEN late_s < 3600 THEN 3 ELSE 4 END AS b,
        |      CAST(count(*) AS BIGINT) AS n_events
        |  FROM l GROUP BY 1),
        |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS t FROM b)
        |SELECT CAST(b AS INT) AS bucket_id,
        |  CASE WHEN b = 0 THEN 'in_order' WHEN b = 1 THEN 'lt_1s'
        |       WHEN b = 2 THEN 'lt_1min' WHEN b = 3 THEN 'lt_1h'
        |       ELSE 'ge_1h' END AS lateness,
        |  n_events,
        |  round(CAST(n_events AS DOUBLE) / t, 6) + 0.0 AS share
        |FROM b CROSS JOIN t ORDER BY bucket_id""".stripMargin)),
    Key("ab_sprt", abSprt, Some(
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |b0 AS (SELECT CAST(sum(m) AS BIGINT) AS tm,
        |        CAST(sum(x) AS BIGINT) AS tx FROM daily),
        |b1 AS (SELECT *,
        |        round(CAST(tx AS DOUBLE) / tm, 6) + 0.0 AS p0 FROM b0),
        |b2 AS (SELECT *, round(1.1 * p0, 6) + 0.0 AS p1 FROM b1),
        |b3 AS (SELECT *,
        |    CAST(round(ln(p1 / p0), 9) AS DECIMAL(18,9)) AS c1,
        |    CAST(round(ln((1.0 - p1) / (1.0 - p0)), 9) AS DECIMAL(18,9))
        |      AS c2
        |  FROM b2),
        |t AS (SELECT d.*, b3.p0, b3.p1,
        |        CAST(d.x AS DECIMAL(12,0)) * b3.c1
        |          + CAST(d.m - d.x AS DECIMAL(12,0)) * b3.c2 AS term
        |      FROM daily d, b3),
        |c AS (SELECT *,
        |    round(CAST(sum(term) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DOUBLE), 6) + 0.0 AS llr6
        |  FROM t)
        |SELECT day, m AS n_trials, x AS n_success, p0, p1,
        |  llr6 AS llr,
        |  CASE WHEN llr6 >= 2.944439 THEN 'accept_lift'
        |       WHEN llr6 <= -2.944439 THEN 'accept_null'
        |       ELSE 'continue' END AS decision
        |FROM c ORDER BY day""".stripMargin)),
    Key("ab_power_mde", abPowerMde, Some(
      """WITH u AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS conv
        |  FROM events GROUP BY 1),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(conv) AS BIGINT) AS n_converted
        |  FROM u),
        |d AS (SELECT *, CAST(n_converted AS DOUBLE) / n_users AS p,
        |        n_users // 2 AS npa
        |      FROM c),
        |f AS (SELECT *,
        |        (1.959964 + 0.841621)
        |          * sqrt(2.0 * p * (1.0 - p) / CAST(npa AS DOUBLE))
        |          AS mde_abs
        |      FROM d)
        |SELECT n_users, n_converted, round(p, 6) + 0.0 AS p_base,
        |  CAST(npa AS BIGINT) AS n_per_arm,
        |  round(mde_abs, 6) + 0.0 AS mde_abs,
        |  round(mde_abs / p, 6) + 0.0 AS mde_rel,
        |  CAST(ceil(2.0 * p * (1.0 - p)
        |    * ((1.959964 + 0.841621) * (1.959964 + 0.841621))
        |    / ((0.05 * p) * (0.05 * p))) AS BIGINT)
        |    AS n_per_arm_5pct_lift
        |FROM f""".stripMargin)),
    Key("ab_srm_check", abSrmCheck, Some(
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |a AS (SELECT ((user_id % 2147483648) * 2654435761)
        |        % 2147483648 % 2 AS arm FROM u),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        |  FROM a)
        |SELECT n_users, n0, n1,
        |  round(CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / n_users, 6) + 0.0
        |    AS chi2,
        |  CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / n_users > 3.841
        |    AS srm_flag
        |FROM c""".stripMargin)),
    Key("stats_wilcoxon_signed", statsWilcoxonSigned, Some(
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(sum(CAST("value" AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS revc
        |  FROM events GROUP BY 1),
        |p AS (
        |  SELECT b.revc - a.revc AS diff, abs(b.revc - a.revc) AS ad
        |  FROM daily a JOIN daily b ON b.day = a.day + 7
        |  WHERE b.revc - a.revc <> 0),
        |rk AS (SELECT diff, ad,
        |    rank() OVER (ORDER BY ad) * 2
        |      + count(*) OVER (PARTITION BY ad) - 1 AS r2x
        |  FROM p),
        |tt AS (SELECT COALESCE(sum(t * t * t - t), 0) AS tsum FROM
        |       (SELECT count(*) AS t FROM rk GROUP BY ad) g),
        |w AS (SELECT count(*) AS n,
        |    sum(CASE WHEN diff > 0 THEN r2x ELSE 0 END) AS w2 FROM rk)
        |SELECT CAST(n AS BIGINT) AS n, CAST(w2 AS DOUBLE) / 2 AS w_plus,
        |  round(CAST(2 * w2 - n * (n + 1) AS DOUBLE)
        |    / sqrt(CAST(2 * n * (n + 1) * (2 * n + 1) - tsum AS DOUBLE)
        |      / 3),
        |    6) + 0.0 AS z
        |FROM w, tt""".stripMargin)),
    Key("stats_kendall_tau", statsKendallTau, Some(
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    count(CASE WHEN event_type = 'click' THEN 1 END) AS c,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS p
        |  FROM events GROUP BY 1),
        |pr AS (
        |  SELECT (a.c - b.c) * (a.p - b.p) AS prod,
        |    CASE WHEN a.c = b.c THEN 1 ELSE 0 END AS tie_c,
        |    CASE WHEN a.p = b.p THEN 1 ELSE 0 END AS tie_p
        |  FROM daily a JOIN daily b ON a.day < b.day),
        |t AS (SELECT count(*) AS n0,
        |    sum(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS conc,
        |    sum(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS disc,
        |    sum(tie_c) AS n1, sum(tie_p) AS n2 FROM pr)
        |SELECT CAST(n0 AS BIGINT) AS n0, CAST(conc AS BIGINT) AS conc,
        |  CAST(disc AS BIGINT) AS disc,
        |  round(CAST(conc - disc AS DOUBLE)
        |    / sqrt(CAST(n0 - n1 AS DOUBLE) * (n0 - n2)), 6) + 0.0
        |    AS tau_b
        |FROM t""".stripMargin)),
    Key("funnel_time_to_convert", funnelTimeToConvert, Some(
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |v AS (SELECT user_id, min(us) AS tv FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |lat AS (
        |  SELECT e.user_id, min(e.us) - min(v.tv) AS lat_us
        |  FROM e JOIN v USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.us > v.tv
        |  GROUP BY e.user_id)
        |SELECT count(*) AS n_converted,
        |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY lat_us)
        |    / 1000000, 6) AS median_s,
        |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY lat_us)
        |    / 1000000, 6) AS p90_s
        |FROM lat""".stripMargin)),
    // doubled average ranks are exact integers; ρ is Pearson on them
    Key("stats_spearman", statsSpearman, Some(
      """WITH daily AS (
        |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    count(CASE WHEN event_type = 'click' THEN 1 END) AS c,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS p
        |  FROM events GROUP BY 1),
        |r AS (SELECT
        |    rank() OVER (ORDER BY c) * 2
        |      + count(*) OVER (PARTITION BY c) - 1 AS rx,
        |    rank() OVER (ORDER BY p) * 2
        |      + count(*) OVER (PARTITION BY p) - 1 AS ry
        |  FROM daily),
        |t AS (SELECT count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
        |    sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
        |    sum(rx * ry) AS sxy FROM r)
        |SELECT CAST(n AS BIGINT) AS n,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |      * (n * syy - sy * sy)),
        |    6) + 0.0 AS rho
        |FROM t""".stripMargin)),
    Key("cohort_ltv", cohortLtv, Some(
      """WITH e AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    event_type, "value" FROM events),
        |c AS (SELECT user_id, min(day) AS cohort FROM e GROUP BY 1),
        |s AS (SELECT cohort, count(DISTINCT user_id) AS users
        |      FROM c GROUP BY 1),
        |r AS (SELECT c.cohort, e.day - c.cohort AS age_d,
        |        sum(CAST("value" AS DECIMAL(18,2))) AS rev
        |      FROM e JOIN c USING (user_id) WHERE event_type = 'purchase'
        |      GROUP BY 1, 2),
        |g AS (SELECT cohort, CAST(age_d AS BIGINT) AS age_d, rev,
        |        sum(rev) OVER (PARTITION BY cohort ORDER BY age_d)
        |          AS cum_rev
        |      FROM r)
        |SELECT g.cohort, g.age_d, CAST(s.users AS BIGINT) AS users,
        |  CAST(cum_rev AS DOUBLE) AS cum_revenue,
        |  round(CAST(cum_rev AS DOUBLE) / s.users, 6) + 0.0
        |    AS ltv_per_user
        |FROM g JOIN s USING (cohort) ORDER BY cohort, age_d""".stripMargin)),
    Key("dedup_latest", dedupLatest, Some(
      """SELECT user_id, event_type, event_id, us, "value" FROM (
        |  SELECT user_id, event_type, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, "value",
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC,
        |        event_id DESC) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin)),
    Key("merge_into", mergeInto, Some(
      """WITH target AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |src AS (
        |  SELECT
        |    CASE WHEN o_orderkey % 10 = 1 THEN o_orderkey + 100000000
        |         ELSE o_orderkey END AS k,
        |    CASE WHEN o_orderkey % 10 = 3 THEN 'U'
        |         WHEN o_orderkey % 10 = 7 THEN 'D' ELSE 'I' END AS act,
        |    CASE WHEN o_orderkey % 10 = 3
        |           THEN CAST(round(CAST(o_totalprice AS DECIMAL(18,2))
        |             * CAST(1.10 AS DECIMAL(3,2)), 2) AS DOUBLE)
        |         WHEN o_orderkey % 10 = 1
        |           THEN CAST(round(CAST(o_totalprice AS DECIMAL(18,2))
        |             * CAST(0.50 AS DECIMAL(3,2)), 2) AS DOUBLE)
        |         ELSE NULL END AS new_price
        |  FROM target WHERE o_orderkey % 10 IN (1, 3, 7))
        |SELECT COALESCE(t.o_orderkey, s.k) AS o_orderkey,
        |  CASE WHEN s.act = 'I' THEN 'N' ELSE t.o_orderstatus END AS status,
        |  COALESCE(s.new_price, t.o_totalprice) AS price,
        |  CASE WHEN s.act = 'U' THEN 'updated'
        |       WHEN s.act = 'I' THEN 'inserted'
        |       ELSE 'kept' END AS action
        |FROM target t FULL OUTER JOIN src s ON t.o_orderkey = s.k
        |WHERE s.act IS NULL OR s.act <> 'D'
        |ORDER BY o_orderkey""".stripMargin)),
    Key("dq_referential", dqReferential, Some(
      """WITH fko AS (SELECT 'fk_orders_custkey' AS check_,
        |    CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |      AS BIGINT) AS n_bad,
        |    CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_total),
        |fkl1 AS (SELECT 'fk_lineitem_orderkey',
        |    CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |      AS BIGINT),
        |    CAST((SELECT count(*) FROM lineitem) AS BIGINT)),
        |fkl2 AS (SELECT 'fk_lineitem_partkey',
        |    CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        |      AS BIGINT),
        |    CAST((SELECT count(*) FROM lineitem) AS BIGINT)),
        |fkl3 AS (SELECT 'fk_lineitem_suppkey',
        |    CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
        |      AS BIGINT),
        |    CAST((SELECT count(*) FROM lineitem) AS BIGINT)),
        |fkc AS (SELECT 'fk_customer_nationkey',
        |    CAST((SELECT count(*) FROM customer c WHERE NOT EXISTS
        |      (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
        |      AS BIGINT),
        |    CAST((SELECT count(*) FROM customer) AS BIGINT)),
        |fks AS (SELECT 'fk_supplier_nationkey',
        |    CAST((SELECT count(*) FROM supplier s WHERE NOT EXISTS
        |      (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
        |      AS BIGINT),
        |    CAST((SELECT count(*) FROM supplier) AS BIGINT)),
        |fkn AS (SELECT 'fk_nation_regionkey',
        |    CAST((SELECT count(*) FROM nation n WHERE NOT EXISTS
        |      (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
        |      AS BIGINT),
        |    CAST((SELECT count(*) FROM nation) AS BIGINT)),
        |pko AS (SELECT 'pk_orders',
        |    CAST((SELECT count(*) - count(DISTINCT o_orderkey)
        |          FROM orders) AS BIGINT),
        |    CAST((SELECT count(*) FROM orders) AS BIGINT)),
        |pkc AS (SELECT 'pk_customer',
        |    CAST((SELECT count(*) - count(DISTINCT c_custkey)
        |          FROM customer) AS BIGINT),
        |    CAST((SELECT count(*) FROM customer) AS BIGINT)),
        |pkp AS (SELECT 'pk_part',
        |    CAST((SELECT count(*) - count(DISTINCT p_partkey)
        |          FROM part) AS BIGINT),
        |    CAST((SELECT count(*) FROM part) AS BIGINT)),
        |pks AS (SELECT 'pk_supplier',
        |    CAST((SELECT count(*) - count(DISTINCT s_suppkey)
        |          FROM supplier) AS BIGINT),
        |    CAST((SELECT count(*) FROM supplier) AS BIGINT)),
        |u AS (SELECT * FROM fko UNION ALL SELECT * FROM fkl1
        |  UNION ALL SELECT * FROM fkl2 UNION ALL SELECT * FROM fkl3
        |  UNION ALL SELECT * FROM fkc UNION ALL SELECT * FROM fks
        |  UNION ALL SELECT * FROM fkn UNION ALL SELECT * FROM pko
        |  UNION ALL SELECT * FROM pkc UNION ALL SELECT * FROM pkp
        |  UNION ALL SELECT * FROM pks)
        |SELECT check_ AS "check", n_bad, n_total,
        |  round(CAST(n_bad AS DOUBLE) / n_total, 6) + 0.0 AS bad_rate
        |FROM u ORDER BY check_""".stripMargin)),
    Key("dq_profile", dqProfile, Some(
      """WITH li AS (
        |  SELECT
        |    CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_qty,
        |    CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS nonpos_price,
        |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS bad_discount
        |  FROM lineitem),
        |ev AS (
        |  SELECT CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS dup_event_ids,
        |    CAST(sum(CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '2030-01-01'
        |             THEN 1 ELSE 0 END) AS BIGINT) AS future_ts,
        |    CAST(sum(CASE WHEN "value" IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value
        |  FROM events),
        |docs AS (
        |  SELECT CAST(sum(CASE WHEN n_chars = 0 THEN 1 ELSE 0 END) AS BIGINT) AS empty_docs,
        |    CAST(sum(CASE WHEN length(text) <> n_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_mismatch
        |  FROM documents),
        |orph AS (
        |  SELECT CAST(count(*) AS BIGINT) AS orphan_lineitems FROM lineitem
        |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
        |SELECT chk AS "check", bad_rows FROM (
        |  SELECT 'lineitem_null_qty' AS chk, null_qty AS bad_rows FROM li
        |  UNION ALL SELECT 'lineitem_nonpos_price', nonpos_price FROM li
        |  UNION ALL SELECT 'lineitem_bad_discount', bad_discount FROM li
        |  UNION ALL SELECT 'lineitem_orphans', orphan_lineitems FROM orph
        |  UNION ALL SELECT 'events_dup_ids', dup_event_ids FROM ev
        |  UNION ALL SELECT 'events_future_ts', future_ts FROM ev
        |  UNION ALL SELECT 'events_null_value', null_value FROM ev
        |  UNION ALL SELECT 'documents_empty', empty_docs FROM docs
        |  UNION ALL SELECT 'documents_n_chars_mismatch', n_chars_mismatch FROM docs)
        |ORDER BY chk""".stripMargin)),
    Key("cohort_retention", cohortRetention, Some(
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, min(day) AS cohort FROM e GROUP BY 1)
        |SELECT c.cohort, CAST(e.day - c.cohort AS BIGINT) AS offset_d,
        |  count(DISTINCT e.user_id) AS users
        |FROM e JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Key("funnel_steps", funnelSteps, Some(
      """WITH tl AS (
        |  SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
        |  FROM events),
        |f1 AS (
        |  SELECT *, max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |    OVER w AS seen_view
        |  FROM tl
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |               ROWS UNBOUNDED PRECEDING)),
        |f2 AS (
        |  SELECT *, CASE WHEN event_type = 'click' AND seen_view = 1
        |    THEN 1 ELSE 0 END AS click_ok FROM f1),
        |f3 AS (
        |  SELECT *, max(click_ok) OVER w AS seen_click
        |  FROM f2
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |               ROWS UNBOUNDED PRECEDING)),
        |f4 AS (
        |  SELECT *, CASE WHEN event_type = 'purchase' AND seen_click = 1
        |    THEN 1 ELSE 0 END AS purchase_ok FROM f3),
        |per_user AS (
        |  SELECT user_id, max(seen_view) AS v, max(click_ok) AS c,
        |    max(purchase_ok) AS p
        |  FROM f4 GROUP BY 1),
        |tot AS (SELECT CAST(sum(v) AS BIGINT) AS u1,
        |  CAST(sum(c) AS BIGINT) AS u2, CAST(sum(p) AS BIGINT) AS u3
        |  FROM per_user)
        |SELECT step, users FROM (
        |  SELECT '1_view' AS step, u1 AS users FROM tot
        |  UNION ALL SELECT '2_view_click', u2 FROM tot
        |  UNION ALL SELECT '3_view_click_purchase', u3 FROM tot)
        |ORDER BY step""".stripMargin)),
    Key("anomaly_mad", anomalyMad, Some(
      """WITH med AS (
        |  SELECT event_type,
        |    round(quantile_cont("value", 0.5), 6) AS med
        |  FROM events GROUP BY 1),
        |mad AS (
        |  SELECT e.event_type,
        |    round(quantile_cont(abs(e."value" - m.med), 0.5), 6) AS mad,
        |    any_value(m.med) AS med
        |  FROM events e JOIN med m USING (event_type) GROUP BY 1)
        |SELECT e.event_type,
        |  CAST(sum(CASE WHEN abs(e."value" - m.med) > 4.4478 * m.mad
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  count(*) AS n_total,
        |  any_value(m.med) AS med, any_value(m.mad) AS mad
        |FROM events e JOIN mad m USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Key("graph_hits", graphHits, Some(
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |h0 AS (SELECT DISTINCT cust, CAST(1000000 AS BIGINT) AS h FROM e),
        |a1r AS (SELECT supp, CAST(sum(h) AS BIGINT) AS ar
        |        FROM e JOIN h0 USING (cust) GROUP BY 1),
        |a1 AS (SELECT supp, ar * 1000000 // (SELECT max(ar) FROM a1r)
        |         AS a FROM a1r),
        |h1r AS (SELECT cust, CAST(sum(a) AS BIGINT) AS hr
        |        FROM e JOIN a1 USING (supp) GROUP BY 1),
        |h1 AS (SELECT cust, hr * 1000000 // (SELECT max(hr) FROM h1r)
        |         AS h FROM h1r),
        |a2r AS (SELECT supp, CAST(sum(h) AS BIGINT) AS ar
        |        FROM e JOIN h1 USING (cust) GROUP BY 1),
        |a2 AS (SELECT supp, ar * 1000000 // (SELECT max(ar) FROM a2r)
        |         AS a FROM a2r),
        |h2r AS (SELECT cust, CAST(sum(a) AS BIGINT) AS hr
        |        FROM e JOIN a2 USING (supp) GROUP BY 1),
        |h2 AS (SELECT cust, hr * 1000000 // (SELECT max(hr) FROM h2r)
        |         AS h FROM h2r),
        |bo AS (
        |  SELECT 'hub' AS side, cust AS node, h AS score FROM h2
        |  UNION ALL
        |  SELECT 'authority' AS side, supp AS node, a AS score FROM a2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY side
        |        ORDER BY score DESC, node) AS rnk FROM bo)
        |SELECT side, node, score, CAST(rnk AS INTEGER) AS rnk FROM r
        |WHERE rnk <= 10 ORDER BY side, rnk""".stripMargin)),
    Key("graph_pagerank", graphPagerank, Some(prIterSql)),
    Key("graph_eigencentrality", graphEigenCentrality, Some(ecIterSql)),
    Key("graph_label_prop", graphLabelProp, Some(lpIterSql)),
    Key("graph_modularity", graphModularity, Some(modularitySql)),
    Key("attribution", attribution, Some(
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, "value",
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |t AS (
        |  SELECT *,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |               IGNORE NULLS) OVER w AS last_touch,
        |    first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |                IGNORE NULLS) OVER w AS first_touch
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |p AS (SELECT * FROM t WHERE event_type = 'purchase')
        |SELECT * FROM (
        |  SELECT 'first_touch' AS model,
        |    COALESCE(first_touch, '(none)') AS touch_type,
        |    count(*) AS n_purchases,
        |    CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE)
        |      AS attributed_value
        |  FROM p GROUP BY 2
        |  UNION ALL
        |  SELECT 'last_touch', COALESCE(last_touch, '(none)'), count(*),
        |    CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE)
        |  FROM p GROUP BY 2)
        |ORDER BY model, touch_type""".stripMargin)),
    Key("rolling_active_users", rollingActiveUsers, Some(
      """WITH act AS (
        |  SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        |dau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |        FROM act GROUP BY 1),
        |cover AS (SELECT user_id, day + CAST(i AS INTEGER) AS cday
        |          FROM act CROSS JOIN (SELECT unnest(range(0, 7)) AS i)),
        |wau AS (SELECT cday, CAST(count(DISTINCT user_id) AS BIGINT) AS wau7
        |        FROM cover GROUP BY 1)
        |SELECT d.day, d.dau, w.wau7,
        |  round(CAST(d.dau AS DOUBLE) / w.wau7, 6) + 0.0 AS stickiness
        |FROM dau d JOIN wau w ON w.cday = d.day
        |ORDER BY d.day""".stripMargin)),
    Key("join_scd2_asof", joinScd2Asof, Some(
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    CAST(o_orderdate AS DATE) AS eff
        |  FROM orders),
        |changes AS (
        |  SELECT o_orderkey, 'R' AS o_orderstatus,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,2))
        |         * CAST(1.05 AS DECIMAL(3,2)), 2) AS DOUBLE)
        |      AS o_totalprice,
        |    eff + 30 AS eff
        |  FROM base WHERE o_orderkey % 7 = 0),
        |hist AS (
        |  SELECT b.o_orderkey, CAST(1 AS BIGINT) AS version,
        |    b.o_orderstatus, b.eff AS valid_from, c.eff AS valid_to
        |  FROM base b LEFT JOIN changes c USING (o_orderkey)
        |  UNION ALL
        |  SELECT o_orderkey, 2, o_orderstatus, eff, CAST(NULL AS DATE)
        |  FROM changes),
        |probes AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(l_shipdate AS DATE) AS ship_day
        |  FROM lineitem WHERE l_orderkey % 7 = 0)
        |SELECT p.l_orderkey, p.l_linenumber, p.ship_day, h.version,
        |  h.o_orderstatus, h.valid_from
        |FROM probes p JOIN hist h ON h.o_orderkey = p.l_orderkey
        |WHERE h.valid_from <= p.ship_day
        |  AND (h.valid_to IS NULL OR p.ship_day < h.valid_to)
        |ORDER BY l_orderkey, l_linenumber, ship_day, version"""
        .stripMargin)),
    Key("cdc_scd2", cdcScd2, Some(
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    CAST(o_orderdate AS DATE) AS eff
        |  FROM orders),
        |changes AS (
        |  SELECT o_orderkey, 'R' AS o_orderstatus,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.05 AS DECIMAL(3,2)), 2)
        |         AS DOUBLE) AS o_totalprice,
        |    eff + 30 AS eff
        |  FROM base WHERE o_orderkey % 7 = 0)
        |SELECT b.o_orderkey, CAST(1 AS BIGINT) AS version, b.o_orderstatus,
        |  b.o_totalprice, b.eff AS valid_from, c.eff AS valid_to,
        |  c.eff IS NULL AS is_current
        |FROM base b LEFT JOIN changes c USING (o_orderkey)
        |UNION ALL
        |SELECT o_orderkey, 2, o_orderstatus, o_totalprice, eff,
        |  CAST(NULL AS DATE), TRUE
        |FROM changes
        |ORDER BY o_orderkey, version""".stripMargin)),
  ).map { k =>
    // the graph family's unrolled iterative oracles must replay with
    // materialized rounds (see OracleSql.matCtes) -- applied uniformly
    // here so a future graph key cannot ship an inlining-vulnerable oracle
    if (k.name.startsWith("graph_"))
      k.copy(oracle = k.oracle.map(OracleSql.matCtes))
    else k
  }
}
