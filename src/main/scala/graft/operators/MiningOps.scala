package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Key
import graft.functions.Exact
import graft.sources.Tables
import graft.operators.OpsHelpers.{ev, r6}

/** Pattern-mining operators: market-basket association rules, Markov
  * transition matrices, sequential path motifs, degree-oriented triangle
  * counting, RFM customer segmentation, and day-of-week seasonality — the
  * "what co-occurs / what follows what" family a production analytics
  * engine grows into once plain aggregation is covered (the reference's
  * dashboard at `/root/reference/app.py:80-84` recomputes descriptive
  * stats; these are the second-order analyses over the same store).
  *
  * Scale shapes (the property each operator is built around):
  *   - assoc_rules: pair generation is a SELF-JOIN WITHIN ORDER — the
  *     blow-up per basket is C(k,2) with k = items/order (TPC-H ≤ 7), so
  *     the intermediate is a small constant × |lineitem|, co-partitioned
  *     on the order key. Item supports are |parts|-sized and broadcast.
  *   - markov/paths: ONE shuffle on user_id, then lead() frames; the
  *     result cardinality is |event_types|² (resp. ³) — tiny forever.
  *   - graph_triangles: degree-ordered edge orientation (count each
  *     triangle exactly once at its lowest-degree vertex) — the standard
  *     O(E^{3/2})-work bound that keeps wedge generation from exploding
  *     on hub nodes, instead of orienting by raw id.
  *   - rfm_segments: quintile CUT POINTS (one exact-percentile aggregate,
  *     broadcast back) instead of a global ntile() sort — no
  *     single-partition window at any scale; ties at a cut share a score.
  *   - seasonal_dow: keyed aggregation onto a 5×7 grid; decimal-exact
  *     value sums (see [[graft.functions.Exact]]).
  */
object MiningOps {

  // ── market-basket association rules: for every part pair co-occurring
  // in ≥ 2 orders, support count, directional confidences, and lift.
  // Pair generation joins the basket relation with itself ON THE ORDER
  // KEY (bounded fan-out per order), never across orders; single-item
  // supports and the order total are broadcast. Counts are integers and
  // every ratio is rounded from the same integer inputs, so the numbers
  // are engine-independent. ──
  def assocRules(spark: SparkSession, dir: String): DataFrame = {
    // eagerly materialized: the basket relation (a distinct = one shuffle over
    // lineitem) feeds the order total, the item supports, and both pair
    // sides — shared lazily each consumer re-runs the scan + distinct
    val op = SharedGraph.baskets(spark, dir)
    val nOrders = op.select(col("o")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val itemCnt = op.groupBy(col("p")).agg(count(lit(1)).as("cnt"))
    // the u<v half of the memoized directed pair counts IS the support
    // relation (same order self-join, same exact counts)
    val pairs = SharedGraph.coPurchasePairCounts(spark, dir)
      .filter(col("u") < col("v"))
      .select(col("u").as("part_a"), col("v").as("part_b"),
        col("c").as("support"))
      .filter(col("support") >= 2)
    pairs
      .join(broadcast(itemCnt.select(col("p").as("part_a"), col("cnt").as("cnt_a"))), "part_a")
      .join(broadcast(itemCnt.select(col("p").as("part_b"), col("cnt").as("cnt_b"))), "part_b")
      .crossJoin(broadcast(nOrders))
      .select(col("part_a"), col("part_b"), col("support"),
        r6(col("support").cast("double") / col("cnt_a")).as("conf_ab"),
        r6(col("support").cast("double") / col("cnt_b")).as("conf_ba"),
        r6(col("support").cast("double") * col("n_orders") /
          (col("cnt_a") * col("cnt_b"))).as("lift"))
      .orderBy("part_a", "part_b")
  }

  // ── first-order Markov transition matrix of the per-user event stream:
  // P(next = dst | current = src), from lead() over each user's timeline
  // (total order: event time, id tiebreak). The normalizing window runs
  // over the |types|² aggregate, not the raw events. ──
  def markovTransitions(spark: SparkSession, dir: String): DataFrame =
    transitionCounts(spark, dir, "n")
      .withColumn("prob",
        r6(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy(col("src")))))
      .orderBy("src", "dst")

  /** Per-user next-event transition counts (src, dst, `n`) over each
    * user's (us, event_id) timeline. */
  private def transitionCounts(spark: SparkSession, dir: String,
      n: String): DataFrame =
    timelineEvents(spark, dir)
      .withColumn("dst", lead(col("event_type"), 1).over(UserTimeline))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as(n))

  /** The per-user (us, event_id) order of [[timelineEvents]]. */
  private val UserTimeline =
    Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))

  /** Each event's user, type and (us, event_id) position. */
  private def timelineEvents(spark: SparkSession, dir: String): DataFrame =
    ev(spark, dir)
      .select(col("user_id"), col("event_type"), col("us"), col("event_id"))

  // ── sequential path motifs: every consecutive event-type TRIPLE on a
  // user timeline (the "what journey led here" query). Cardinality is
  // |types|³ ≤ 125; ordering is (count desc, path) so the result is a
  // stable ranking. ──
  def sessionPaths(spark: SparkSession, dir: String): DataFrame =
    timelineEvents(spark, dir)
      .withColumn("b", lead(col("event_type"), 1).over(UserTimeline))
      .withColumn("c", lead(col("event_type"), 2).over(UserTimeline))
      .filter(col("c").isNotNull)
      .select(concat_ws(">", col("event_type"), col("b"), col("c")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("path"))

  // ── triangle counting on the part co-purchase graph (parts sharing an
  // order). Degree-ordered orientation: each undirected edge points from
  // its lower-(degree, id) endpoint to the higher, so every triangle is
  // counted exactly once — at the edge joining its two lowest-(degree,
  // id) vertices, whose shared out-neighbors are the closing vertices.
  // The classic orientation bound caps every out-adjacency at O(√E)
  // instead of O(d_hub): a celebrity node closes no triangles from its
  // own list because all its edges point INTO it. The oracle replays the
  // same orientation from the same integer degrees. ──
  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val und = SharedGraph.coPurchaseEdges(spark, dir)
    // degrees, orientation and out-adjacency are per-corpus state shared
    // with graph_clustering_coeff (round 13) — this key previously
    // rebuilt all three per invocation (degree count, two broadcast
    // joins, its own Eager checkpoint of the oriented frame)
    val deg = SharedGraph.coPurchaseDeg(spark, dir)
    // edge-iterator counting: per oriented base edge (u,v), the closing
    // vertices are exactly adj_out(u) ∩ adj_out(v), so each triangle is
    // counted once — at the edge whose endpoints are its two LOWEST
    // (degree, id) vertices. The out-adjacency arrays are bounded at
    // O(√E) by the orientation, so the per-row intersection is cheap and
    // the 80M-row wedge self-join this replaces never materializes —
    // only the |nodes|-sized adjacency table joins (co-partitioned by
    // src; AQE broadcasts it while it fits). A sink dst has no adjacency
    // row and contributes 0 closings, which the inner join encodes by
    // dropping the edge.
    val tri = SharedGraph.closingNbrs(spark, dir)
      .select(size(array_intersect(col("nu"), col("nv"))).as("t"))
      .agg(sum(col("t")).cast("long").as("triangles"))
    val counts = und.agg(count(lit(1)).as("edges"))
      .crossJoin(deg.agg(count(lit(1)).as("nodes")))
    counts.crossJoin(tri)
      .select(col("nodes"), col("edges"), col("triangles"))
  }

  // ── RFM segmentation: recency / frequency / monetary per customer,
  // scored 1–5 against exact quintile CUT POINTS (percentile aggregate →
  // 1 row → broadcast comparison) rather than a global ntile() — no
  // whole-table single-partition sort, at any scale. Ties at a cut point
  // deterministically share the lower score in both engines. Monetary
  // sums in decimal ([[Exact.sumMoney]]); cuts are rounded before the
  // comparisons so both engines take identical branches. ──
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
        col("o_totalprice"))
    val maxDay = o.agg(max(col("d")).as("max_d"))
    val rfm = o.groupBy(col("o_custkey"))
      .agg(max(col("d")).as("last_d"),
        count(lit(1)).as("frequency"),
        Exact.sumMoney(col("o_totalprice")).as("monetary"))
      .crossJoin(broadcast(maxDay))
      .select(col("o_custkey"),
        datediff(col("max_d"), col("last_d")).cast("long").as("recency"),
        col("frequency"), col("monetary"))
    val cuts = rfm.agg(
      r6(expr("percentile(recency, 0.2)")).as("r1"),
      r6(expr("percentile(recency, 0.4)")).as("r2"),
      r6(expr("percentile(recency, 0.6)")).as("r3"),
      r6(expr("percentile(recency, 0.8)")).as("r4"),
      r6(expr("percentile(frequency, 0.2)")).as("f1"),
      r6(expr("percentile(frequency, 0.4)")).as("f2"),
      r6(expr("percentile(frequency, 0.6)")).as("f3"),
      r6(expr("percentile(frequency, 0.8)")).as("f4"),
      r6(expr("percentile(monetary, 0.2)")).as("m1"),
      r6(expr("percentile(monetary, 0.4)")).as("m2"),
      r6(expr("percentile(monetary, 0.6)")).as("m3"),
      r6(expr("percentile(monetary, 0.8)")).as("m4"))
    def score(v: Column, c1: Column, c2: Column, c3: Column, c4: Column,
        lowIsGood: Boolean): Column = {
      val cmp = (c: Column) =>
        (if (lowIsGood) v < c else v > c).cast("long")
      lit(1L) + cmp(c1) + cmp(c2) + cmp(c3) + cmp(c4)
    }
    rfm.crossJoin(broadcast(cuts))
      .select(col("o_custkey"), col("recency"), col("frequency"),
        col("monetary"),
        score(col("recency"), col("r1"), col("r2"), col("r3"), col("r4"),
          lowIsGood = true).as("r_score"),
        score(col("frequency"), col("f1"), col("f2"), col("f3"), col("f4"),
          lowIsGood = false).as("f_score"),
        score(col("monetary"), col("m1"), col("m2"), col("m3"), col("m4"),
          lowIsGood = false).as("m_score"))
      .withColumn("segment",
        concat(col("r_score"), col("f_score"), col("m_score")))
      .orderBy("o_custkey")
  }

  // ── day-of-week seasonality: per (event_type, weekday) cell — volume,
  // decimal-exact mean value, and a seasonal index (cell mean ÷ the
  // type's overall mean). The whole result is a 5×7 grid; the events
  // table is shuffled once onto it. dow is 1=Sunday..7=Saturday (Spark
  // `dayofweek`; the oracle uses DuckDB `dayofweek()+1`, same calendar). ──
  def seasonalDow(spark: SparkSession, dir: String): DataFrame = {
    val cells = ev(spark, dir)
      .groupBy(col("event_type"), dayofweek(col("day")).as("dow"))
      .agg(count(lit(1)).as("n"),
        sum(Exact.money(col("value"))).as("sv"))
    val byType = Window.partitionBy(col("event_type"))
    cells
      .withColumn("avg_value",
        r6(col("sv").cast("double") / col("n")))
      .withColumn("idx", r6(
        (col("sv").cast("double") / col("n")) /
          (sum(col("sv")).over(byType).cast("double") /
            sum(col("n")).over(byType))))
      .select(col("event_type"), col("dow").cast("long").as("dow"),
        col("n"), col("avg_value"), col("idx"))
      .orderBy("event_type", "dow")
  }

  // ── k-core decomposition (3 peeling rounds): iteratively delete nodes
  // of the co-purchase graph whose degree falls below K, where K is the
  // DATA-DERIVED lower-median degree (a fixed K is a no-op or a wipe
  // depending on SF; the median peels meaningfully at any scale) — the
  // graph-densification step that isolates the robust core from
  // hangers-on, completing the graph family next to pagerank/label-prop/
  // triangles/components. Same iterative discipline as graph_label_prop:
  // a FIXED round count, each round one semi-join edge restriction + one
  // keyed degree recount (all shuffles on node ids), per-round frames
  // cached; K and the three per-round counts are the only driver-side
  // scalars (model-sized, like pagerank's convergence checksums). The
  // oracle unrolls the same three rounds. ──
  def graphKcore(spark: SparkSession, dir: String): DataFrame = {
    val und = SharedGraph.coPurchaseEdges(spark, dir)
    def degreesOf(e: DataFrame): DataFrame =
      // exploded 2-array, not a union of two projections: the edge
      // restriction feeding each round is computed ONCE per recount
      e.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val one = Window.partitionBy(lit(1))
    // round 0's degrees are the shared corpus table (round 13) — the
    // per-invocation Eager checkpoint of the same exact counts is gone;
    // the per-round recounts below run on restricted edge sets and stay
    val deg0 = SharedGraph.coPurchaseDeg(spark, dir)
    // one job for (k, node count): the median row's window already
    // counts m = |nodes|, which is exactly the `prev` the round report
    // starts from — reading both off the same row replaces a separate
    // deg0.count() job (round 13)
    val (k, prev0) = deg0
      .withColumn("rn", row_number().over(one.orderBy(col("d"), col("node"))))
      .withColumn("m", count(lit(1)).over(one))
      .filter(col("rn") === expr("(m + 1) div 2"))
      .head(1) match { // lower-median degree; edgeless graph peels at 0
        case Array(r) => (r.getLong(1), r.getLong(3))
        case _ => (0L, 0L)
      }
    var cur = deg0
    var edges = und
    var prev = prev0
    val rounds = Seq.newBuilder[(Long, Long, Long, Long)]
    for (r <- 1 to 3) {
      // eager localCheckpoint, not cache: each round's plan would
      // otherwise stack joins over ALL previous rounds' trees, and the
      // re-optimization of that growing lineage (not the data) comes to
      // dominate — the same lesson PageRank's iteration loop learned
      // survivors stays LAZY (round 13): it is a trivial filter over a
      // frame that is itself checkpointed every round, and its four
      // consumers (the count, both edge-restriction joins, the degree
      // re-join) each re-run only that filter — cheaper than a fourth
      // per-round checkpoint job
      val survivors = cur.filter(col("d") >= k).select(col("node"))
      val remain = survivors.count()
      rounds += ((r.toLong, k, prev - remain, remain))
      edges = Eager(edges
        .join(survivors.withColumnRenamed("node", "u"), "u")
        .join(survivors.withColumnRenamed("node", "v"), "v")
        .select(col("u"), col("v")))
      cur = Eager(survivors.join(degreesOf(edges), Seq("node"), "left")
        .select(col("node"), coalesce(col("d"), lit(0L)).as("d")))
      prev = remain
    }
    spark.createDataFrame(rounds.result())
      .toDF("round", "k", "n_removed", "n_remaining")
      .orderBy("round")
  }

  // ── Histogram-based best-split finding — the inner loop of every
  // gradient-boosted-tree / decision-tree trainer (LightGBM/XGBoost's
  // "hist" algorithm, published in Ke et al. 2017): bin each feature,
  // aggregate per-bin (count, label-sum) in ONE pass, then score every
  // split threshold from prefix sums. Label = (l_returnflag = 'R');
  // features = quantity/discount/tax, pre-binned on their natural 2-dp
  // integer grids (so binning is exact, no quantile sketch needed here).
  // Scale shape: the corpus is scanned ONCE (explode is a 3× row map,
  // no shuffle); the only shuffle carries (feature, bin) partial
  // aggregates — ≤ 3·|bins| rows of map-side-combined state, model-
  // sized forever. Split scoring runs on the bins table (≤ ~70 rows) —
  // the window sort is trivial. Gain = unnormalized Gini decrease
  // N·G(parent) − N_L·G(L) − N_R·G(R) with N·G = s(n−s)/n, computed in
  // double from exact int64 counts (< 2⁵³, so the int→double cast and
  // the identical *,−,/ op sequence are bit-equal on both engines). ──
  def featureSplitGain(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(
      when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"),
      col("l_quantity").cast("int").as("qty"),
      (col("l_discount").cast("decimal(18,2)") * 100).cast("int").as("disc"),
      (col("l_tax").cast("decimal(18,2)") * 100).cast("int").as("tax"))
    val melted = li
      .select(col("y"), explode(array(
        struct(lit("quantity").as("feature"), col("qty").as("bin")),
        struct(lit("discount").as("feature"), col("disc").as("bin")),
        struct(lit("tax").as("feature"), col("tax").as("bin")))).as("fb"))
      .select(col("fb.feature").as("feature"), col("fb.bin").as("bin"),
        col("y"))
    val hist = melted.groupBy(col("feature"), col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    val wOrd = Window.partitionBy(col("feature")).orderBy(col("bin"))
    val wAll = Window.partitionBy(col("feature"))
    val scored = hist
      .withColumn("nl", sum(col("n")).over(wOrd))
      .withColumn("sl", sum(col("s")).over(wOrd))
      .withColumn("nt", sum(col("n")).over(wAll))
      .withColumn("st", sum(col("s")).over(wAll))
      .filter(col("nl") < col("nt")) // "everything left" is not a split
      .withColumn("gain", round(
        expr("cast(st as double) * (nt - st) / nt" +
          " - cast(sl as double) * (nl - sl) / nl" +
          " - cast(st - sl as double) * ((nt - nl) - (st - sl)) / (nt - nl)"),
        9))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("feature")).orderBy(desc("gain"), col("bin"))))
      .filter(col("rn") === 1)
      .select(col("feature"), col("bin").as("split_bin"),
        col("nl").as("n_left"), (col("nt") - col("nl")).as("n_right"),
        col("gain"))
      .orderBy("feature")
  }

  // ── ABC / Pareto classification: rank parts by revenue and split the
  // catalog at 80% / 95% of cumulative revenue mass (class A / B / C) —
  // the inventory-analysis staple. The interesting part is the
  // CUMULATIVE SUM AT SCALE: a naive rank-ordered cumsum is one global
  // window = a single-partition sort cliff on a 10⁹-part catalog. This
  // runs the textbook TWO-LEVEL DISTRIBUTED PREFIX SUM instead: each
  // part lands in a revenue BAND (integer division by a data-derived
  // width — floor is monotone, so band-major order ≡ global revenue
  // order); per-band totals (≤ ~1025 rows) cum-sum on the driver side
  // of a broadcast; within-band cumsums run as windows PARTITIONED by
  // band — parallel, bounded state. band_offset + within-band = exactly
  // the global cumsum (DECIMAL arithmetic, associative), which is why
  // the oracle can be the naive single-window form. Class thresholds
  // compare 10·cum ≤ 8·total and 20·cum ≤ 19·total in DECIMAL — no
  // cross-engine division anywhere. ──
  /** Per-part revenue in exact micro-units with its rank-ordered
    * (revc desc, partkey) DECIMAL cumulative sum, computed by the
    * two-level banded prefix device — shared by [[paretoAbc]] and
    * [[budgetWaterfall]]. Columns: l_partkey, revc, total, cum. */
  private def bandedRevCum(spark: SparkSession, dir: String): DataFrame =
    // memoized (round 12): pareto_abc and budget_waterfall both read this
    // distributed prefix-sum frame (|parts| rows) — corpus state per the
    // [[SharedCorpus]] discipline; consumers only re-aggregate it
    SharedCorpus.memo(spark, "banded_revcum", dir, "lineitem") {
      val rev = Tables.lineitem(spark, dir)
        .groupBy(col("l_partkey"))
        .agg(sum(Exact.revenueTerm(col("l_extendedprice"), col("l_discount")))
          .as("rev"))
        // integer micro-units: the revenue term has scale 6, so ×10⁶ is
        // integral and the long cast carries NO fraction — truncate-vs-
        // round cast semantics can never diverge between engines
        .withColumn("revc", (col("rev") * 1000000).cast("long"))
      val width = rev.agg(greatest(lit(1L),
          floor(max(col("revc")) / 1024).cast("long")).as("w"),
        sum(col("revc")).cast("decimal(38,0)").as("total"))
      val banded = rev.crossJoin(broadcast(width))
        .withColumn("band", (col("revc") / col("w")).cast("long"))
      // level 1: per-band totals, cum-summed over the ≤ ~1025 band rows
      val bandCum = banded.groupBy(col("band"))
        .agg(sum(col("revc").cast("decimal(38,0)")).as("bsum"))
        .withColumn("boff",
          coalesce(sum(col("bsum")).over(
            Window.orderBy(desc("band"))
              .rowsBetween(Window.unboundedPreceding, -1)),
            lit(0).cast("decimal(38,0)")))
        .select(col("band"), col("boff"))
      // level 2: within-band windows, partitioned (parallel at any scale)
      val wIn = Window.partitionBy(col("band"))
        .orderBy(desc("revc"), col("l_partkey"))
      banded.join(broadcast(bandCum), Seq("band"))
        .withColumn("cum",
          col("boff") + sum(col("revc").cast("decimal(38,0)")).over(wIn))
        .select(col("l_partkey"), col("revc"), col("total"), col("cum"))
    }

  def paretoAbc(spark: SparkSession, dir: String): DataFrame =
    bandedRevCum(spark, dir)
      .withColumn("cls",
        when(col("cum") * 10 <= col("total") * 8, "A")
          .when(col("cum") * 20 <= col("total") * 19, "B")
          .otherwise(lit("C")))
      .groupBy(col("cls"))
      .agg(count(lit(1)).as("n_parts"),
        (sum(col("revc").cast("decimal(38,0)")).cast("double") / 1000000)
          .as("class_revenue"))
      .orderBy("cls")

  // ── Budget WATERFALL: fund parts greedily by revenue rank until a
  // fixed budget (10% of total mass) is exhausted — the FP&A
  // allocation primitive (and the greedy knapsack that backs "fill the
  // context window with the best docs"). Reuses [[bandedRevCum]]'s
  // distributed prefix sum; the three outcomes are pure DECIMAL
  // comparisons against 10·cum (no division anywhere): fully funded
  // while 10·cum ≤ total, exactly one straddling part partial, the
  // rest unfunded. ──
  def budgetWaterfall(spark: SparkSession, dir: String): DataFrame =
    bandedRevCum(spark, dir)
      .withColumn("status",
        when(col("cum") * 10 <= col("total"), "funded")
          .when((col("cum") - col("revc")) * 10 < col("total"), "partial")
          .otherwise(lit("unfunded")))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_parts"),
        (sum(col("revc").cast("decimal(38,0)")).cast("double") / 1000000)
          .as("class_revenue"))
      .orderBy("status")

  // ── 2-D SKYLINE (the published Börzsönyi et al. 2001 operator): the
  // Pareto front of parts over (cheapest observed price ↓ better,
  // total ordered volume ↑ better) — a (cost, qty) pair survives
  // iff no other pair is ≤ on cost AND ≥ on qty with at least one
  // strict. On pairs sorted (cost asc, qty desc) that reduces to "qty
  // strictly above the running max of all preceding rows" — a PREFIX
  // MAX, distributed with the same two-level banding as pareto_abc
  // (integer cost bands are order-monotone; per-band maxima broadcast
  // as offsets; within-band windows partition by band — no global
  // sort). Cost is exact integer cents (min of a 2-dp decimal), so
  // banding and every comparison are engine-neutral; the oracle runs
  // the naive single-window sweep, which the banded form equals by
  // construction. Dominance is evaluated on DISTINCT pairs, so
  // same-cost ties resolve by the strict-qty rule identically in both
  // forms. ──
  def skyline2d(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg((min(Exact.money(col("l_extendedprice"))) * 100).cast("long")
        .as("cost_c"),
        sum(col("l_quantity").cast("long")).as("qty"))
      .groupBy(col("cost_c"), col("qty"))
      .agg(count(lit(1)).as("n_parts"))
    val width = pairs.agg(greatest(lit(1L),
      floor(max(col("cost_c")) / 1024).cast("long")).as("w"))
    val banded = pairs.crossJoin(broadcast(width))
      .withColumn("band", (col("cost_c") / col("w")).cast("long"))
    val bandMax = banded.groupBy(col("band"))
      .agg(max(col("qty")).as("bmax"))
      .withColumn("boff", max(col("bmax")).over(
        Window.orderBy(col("band"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("band"), col("boff"))
    val wIn = Window.partitionBy(col("band"))
      .orderBy(col("cost_c"), desc("qty"))
      .rowsBetween(Window.unboundedPreceding, -1)
    banded.join(broadcast(bandMax), Seq("band"))
      .withColumn("pmax",
        greatest(coalesce(max(col("qty")).over(wIn), lit(Long.MinValue)),
          coalesce(col("boff"), lit(Long.MinValue))))
      .filter(col("qty") > col("pmax"))
      .select((col("cost_c").cast("double") / 100).as("min_cost"),
        col("qty"), col("n_parts"))
      .orderBy("min_cost")
  }

  // ── BFS / unweighted shortest hops (3 synchronous frontier rounds)
  // from the DATA-DERIVED seed (the max-degree part, min id on ties) —
  // the reachability-distance member of the graph family (pagerank =
  // influence, label_prop = communities, kcore = cohesion, triangles =
  // closure, BFS = distance). Per round, the hop table (|nodes|-sized)
  // joins the cached symmetric edge list pre-partitioned on its key —
  // the pagerank shuffle shape: edges shuffle ONCE at build, each
  // round moves only the hop vector. min(hop) is the synchronous
  // relaxation, so round r holds exact distances ≤ r under ANY
  // partitioning, and the oracle can replay the rounds verbatim.
  // localCheckpoint per round truncates the growing lineage (the kcore
  // lesson). Output: parts per hop level. ──
  def graphBfs(spark: SparkSession, dir: String): DataFrame = {
    // shared traversal (round 13): the 3-hop min-hop frontier is corpus
    // state ([[SharedGraph.bfs3Dist]]) built once for the top-5-degree
    // seeds; this key is the rank-1 seed's slice — `orderBy(desc(d), u)
    // .limit(1)` is by construction the first row of the shared seed
    // table, and hops are exact integers, so the counts are identical to
    // the standalone traversal this key ran before.
    val seed = SharedGraph.bfsSeeds(spark, dir)
      .filter(col("rk") === 1).select("seed").collect()(0).getLong(0)
    SharedGraph.bfs3Dist(spark, dir)
      .filter(col("seed") === seed)
      .groupBy(col("hop")).agg(count(lit(1)).as("n_parts"))
      .orderBy("hop")
  }

  // ── link prediction on the part co-purchase graph: for every
  // non-adjacent pair at distance 2, common-neighbor count, Jaccard
  // (|CN| / |N(u) ∪ N(v)|), and Adamic-Adar (Σ 1/ln deg w) — the three
  // classic "which edge appears next" scores. Wedges are generated by a
  // self-join of the adjacency on the MIDDLE vertex, which costs
  // deg(w)² per middle; the d ≤ 64 hub cap bounds that fan-out (the
  // standard at-scale approximation: super-hub intermediaries carry
  // near-zero Adamic-Adar weight anyway — scores still use FULL
  // degrees). Candidates anti-join the edge set; top-50 by CN via
  // TakeOrdered, never a global sort. ──
  def graphCommonNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val und = SharedGraph.coPurchaseEdges(spark, dir)
    // the both-direction adjacency and the degree table are memoized
    // corpus state (round 13) — previously rebuilt (and the degrees
    // re-Eager'd) per invocation; coPurchaseAdjByU is additionally
    // pre-partitioned on the middle vertex, the wedge self-join's key
    val adj = SharedGraph.coPurchaseAdjByU(spark, dir)
      .select(col("u").as("node"), col("v").as("nbr"))
    val deg = SharedGraph.coPurchaseDeg(spark, dir)
    val mid = adj.join(broadcast(deg), "node").filter(col("d") <= 64)
      .select(col("node").as("w"), col("nbr"), col("d").as("dw"))
    val wedges = mid.select(col("w"), col("nbr").as("cu"), col("dw"))
      .join(mid.select(col("w"), col("nbr").as("cv")), "w")
      .filter(col("cu") < col("cv"))
    wedges.groupBy(col("cu"), col("cv"))
      .agg(count(lit(1)).as("cn"),
        sum(lit(1.0) / log(col("dw").cast("double"))).as("aa"))
      .select(col("cu").as("u"), col("cv").as("v"), col("cn"), col("aa"))
      .join(und, Seq("u", "v"), "left_anti")
      .transform(SharedGraph.withDegrees(_, deg))
      .select(col("u"), col("v"), col("cn"),
        r6(col("cn").cast("double") /
          (col("du") + col("dv") - col("cn"))).as("jaccard"),
        r6(col("aa")).as("adamic_adar"), col("du"), col("dv"))
      .orderBy(col("cn").desc, col("u"), col("v")).limit(50)
  }

  // ── degree assortativity of the co-purchase graph: Pearson r of
  // (deg u, deg v) over the DIRECTED edge list (each undirected edge
  // counted both ways — the standard Newman convention). Degrees are
  // integers, so every moment is an exact int64 sum and the single
  // double division at the end is engine-independent — no rounding
  // discipline needed beyond the final r6. The |nodes|-sized degree
  // table broadcasts to both endpoints; nothing fact-sized shuffles
  // twice. ──
  def graphAssortativity(spark: SparkSession, dir: String): DataFrame = {
    // the both-direction adjacency and degree table are memoized corpus
    // state (round 13) — previously rebuilt per invocation
    val adj = SharedGraph.coPurchaseAdjByU(spark, dir)
    val deg = SharedGraph.coPurchaseDeg(spark, dir)
    val e = SharedGraph.withDegrees(adj, deg)
    // DECIMAL(38,0) moments: du·dv is a degree product — it passes
    // int64 once max-degree reaches ~3e9, and the long sum would wrap
    // silently at corpus scale (same class as the tie-cube guard)
    e.agg(count(lit(1)).as("n_edges_directed"),
        sum(col("du")).as("sx"), sum(col("dv")).as("sy"),
        sum(expr("CAST(du AS DECIMAL(38,0)) * dv")).as("sxy"),
        sum(expr("CAST(du AS DECIMAL(38,0)) * du")).as("sxx"),
        sum(expr("CAST(dv AS DECIMAL(38,0)) * dv")).as("syy"))
      .select(col("n_edges_directed"),
        r6((col("n_edges_directed").cast("double") * col("sxy") -
          col("sx").cast("double") * col("sy")) /
          sqrt((col("n_edges_directed").cast("double") * col("sxx") -
            col("sx").cast("double") * col("sx")) *
            (col("n_edges_directed").cast("double") * col("syy") -
              col("sy").cast("double") * col("sy"))))
          .as("assortativity"))
  }

  // ── local clustering coefficient per node: 2·T(v) / (d(v)·(d(v)−1))
  // — "how clique-like is each part's co-purchase neighborhood". Reuses
  // the graph_triangles edge-iterator shape (degree-ordered
  // orientation, O(√E)-bounded out-adjacency, intersection per base
  // edge) but EXPLODES each closing vertex instead of counting, so
  // every triangle credits its three members exactly once — per-node
  // counts then are one keyed aggregation, never a per-node wedge
  // enumeration. Ratio is 2.0·int/int: one double op, no rounding
  // discipline needed beyond the final r6. ──
  def graphClusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    // degrees, degree-ordered orientation and out-adjacency are the same
    // per-corpus state graph_triangles consumes (round 13) — previously
    // this key rebuilt all three per invocation, paying two Eager
    // checkpoints of its own
    val deg = SharedGraph.coPurchaseDeg(spark, dir)
    // every triangle credits its three members in ONE pass: the closing
    // vertices explode TOGETHER with the base edge's endpoints, so the
    // triangle-vertex frame has exactly one consumer and never needs
    // materializing (the previous 3-way union-of-projections read a
    // checkpointed copy of it three times — at sf≈1 that one frame was
    // 15 s of the key's 29 s)
    val credits = SharedGraph.closingNbrs(spark, dir)
      .select(col("src"), col("dst"),
        array_intersect(col("nu"), col("nv")).as("ws"))
      .filter(size(col("ws")) > 0)
      // per base edge with k closing vertices (k triangles): src and dst
      // each earn k credits, every closing vertex earns 1 — emitted as
      // ONE weighted (node, c) array so the whole credit assignment is a
      // single explode + keyed sum
      .select(explode(expr(
        "concat(array(struct(src AS node, CAST(size(ws) AS BIGINT) AS c)," +
          " struct(dst AS node, CAST(size(ws) AS BIGINT) AS c))," +
          " transform(ws, w -> struct(w AS node, CAST(1 AS BIGINT) AS c)))"))
        .as("e"))
      .groupBy(col("e.node").as("node")).agg(sum(col("e.c")).as("tri"))
    deg.filter(col("d") >= 2)
      .join(credits, Seq("node"), "left")
      .select(col("node"), col("d"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        r6(lit(2.0) * coalesce(col("tri"), lit(0L)) /
          (col("d") * (col("d") - 1))).as("coeff"))
      .orderBy("node")
  }

  // ── item-item collaborative filtering: cosine over binary order
  // baskets, cos(u,v) = |orders with both| / √(|orders u|·|orders v|),
  // top-3 neighbors per item — the classic "customers also bought"
  // table (assoc_rules' confidences are directional; this is the
  // symmetric-normalized variant recommenders rank by). Pair counts
  // come from the order-keyed self-join (fan-out bounded per order,
  // never across orders); item totals broadcast; ranking compares the
  // ROUNDED score so both engines break ties at identical values, then
  // by neighbor id. ──
  /** Memoized item-kNN top-3 lists (round 12, optimization pass): the
    * scored co-occurrence pairs and their per-item top-3 window are
    * corpus state shared by recsys_item_knn and eval_recsys_coverage —
    * each key re-ran the basket self-join + window per invocation for
    * identical lists ([[SharedCorpus]] discipline; counts are exact
    * int64 and the 6-dp cosine is one deterministic expression over
    * them, so the memoized values are bit-for-bit the standalone
    * derivation's). */
  private def itemKnnTop3(spark: SparkSession, dir: String): DataFrame =
    SharedCorpus.memo(spark, "recsys_top3", dir, "lineitem") {
      val op = SharedGraph.baskets(spark, dir)
      val cnt = op.groupBy(col("p").as("item")).agg(count(lit(1)).as("n"))
      cosineTop3(SharedGraph.coPurchasePairCounts(spark, dir), cnt)
        .select(col("u"), col("rn"), col("v"), col("c"), col("cos"))
    }

  /** Each item u's three nearest items v by the 6-dp cosine of their
    * co-basket count c over the basket counts `cnt` (item, n), ties to
    * the smaller v: `pairs` (u, v, c) plus cos and the rank rn. */
  private def cosineTop3(pairs: DataFrame, cnt: DataFrame): DataFrame =
    pairs
      .join(broadcast(cnt.select(col("item").as("u"), col("n").as("nu"))),
        "u")
      .join(broadcast(cnt.select(col("item").as("v"), col("n").as("nv"))),
        "v")
      .withColumn("cos",
        r6(col("c").cast("double") /
          sqrt((col("nu") * col("nv")).cast("double"))))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("u")).orderBy(col("cos").desc, col("v"))))
      .filter(col("rn") <= 3)

  def recsysItemKnn(spark: SparkSession, dir: String): DataFrame =
    itemKnnTop3(spark, dir)
      .select(col("u").as("item"), col("rn"), col("v").as("neighbor"),
        col("c").as("cooc"), col("cos"))
      .orderBy("item", "rn")

  // ── leave-last-out hit rate of the item-kNN recommender: hold the
  // max-id item out of every multi-item basket, rebuild the
  // recsys_item_knn top-3 lists on the REMAINING pairs (no
  // train-on-test leakage), and score a basket as hit when ANY kept
  // item's list contains the held-out one — the offline quality number
  // eval_recsys_coverage's catalog view doesn't give. Hold-out choice
  // is an integer argmax (deterministic), the list rank is the
  // (cos6 desc, id) total order on 6-dp cosines, and the report is
  // exact counts per basket size with one division each. Same scale
  // shapes as the recommender itself: pair counts shuffle on item,
  // lists are top-3 windows per item. ──
  def evalRecsysHitrate(spark: SparkSession, dir: String): DataFrame = {
    val op = SharedGraph.baskets(spark, dir)
    val held = op.groupBy(col("o"))
      .agg(max(col("p")).as("held"), count(lit(1)).as("sz"))
      .filter(col("sz") >= 2)
    val train = op.join(held.select(col("o"), col("held")), Seq("o"),
        "left")
      .filter(col("held").isNull || col("p") =!= col("held"))
      .select(col("o"), col("p"))
    val cnt = train.groupBy(col("p").as("item")).agg(count(lit(1)).as("n"))
    val pairs = train.select(col("o"), col("p").as("u"))
      .join(train.select(col("o"), col("p").as("v")), "o")
      .filter(col("u") =!= col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("c"))
    val top3 = cosineTop3(pairs, cnt)
    val kept = train.select(col("o"), col("p").as("kept"))
    val hits = held.join(kept, "o")
      .join(top3.select(col("u").as("t_u"), col("v").as("t_v")),
        col("kept") === col("t_u"))
      .filter(col("t_v") === col("held"))
      .select(col("o")).distinct()
      .withColumn("hit", lit(1L))
    held.join(hits, Seq("o"), "left")
      .groupBy(col("sz").as("basket_size"))
      .agg(count(lit(1)).as("n_orders"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("hit_rate",
        round(expr("cast(n_hits as double) / n_orders"), 6) + lit(0.0d))
      .orderBy("basket_size")
  }

  // ── degree distribution of the co-purchase graph, log₂-binned — the
  // first diagnostic of any graph's shape (heavy-tailed or not decides
  // whether hub-capped wedges, skew salts, and top-k pruning are needed
  // at all; text_zipf_fit asks the same question of the vocabulary).
  // The bin is the EXACT bit length of the degree (length(bin(d)) − 1
  // = ⌊log₂ d⌋ with no floating log whose x.9999… at exact powers of
  // two would misbin on one engine and not the other). Node degrees are
  // one keyed count; the distribution is |bins|-sized. ──
  def graphDegreeDist(spark: SparkSession, dir: String): DataFrame = {
    // memoized corpus state (round 13): the degree build previously
    // re-ran per invocation
    val deg = SharedGraph.coPurchaseDeg(spark, dir)
    val binned = deg
      .groupBy((length(expr("bin(d)")) - 1).as("log2_bin"))
      .agg(count(lit(1)).as("n_nodes"), min(col("d")).as("min_deg"),
        max(col("d")).as("max_deg"), sum(col("d")).as("sum_deg"))
    val tot = binned.agg(sum(col("n_nodes")).as("total"))
    binned.crossJoin(broadcast(tot))
      .select(col("log2_bin"), col("n_nodes"), col("min_deg"),
        col("max_deg"), col("sum_deg"),
        r6(expr("cast(n_nodes as double) / total")).as("share"))
      .orderBy("log2_bin")
  }

  // ── rich-club coefficient: among nodes of degree > k, what fraction
  // of their possible edges exist — do the hubs of the co-purchase
  // graph form their own densely-wired club (Colizza et al. 2006), the
  // hub-STRUCTURE question assortativity's single coefficient can't
  // answer. Evaluated on a fixed k ladder: the |edges|-sized frame
  // joins the broadcast degree table once, the 4-row k ladder explodes
  // against it, and each (k) group reduces to two exact integers; φ is
  // one cast-first division, NULL below 2 club members. ──
  def graphRichClub(spark: SparkSession, dir: String): DataFrame = {
    val und = SharedGraph.coPurchaseEdges(spark, dir)
    // memoized corpus state (round 13): the degree build (and its
    // per-invocation Eager checkpoint) previously re-ran per invocation
    val deg = SharedGraph.coPurchaseDeg(spark, dir)
    val ks = Seq(4, 8, 16, 32)
    val kCol = explode(array(ks.map(lit): _*)).as("k")
    val nk = deg.select(col("d"), kCol)
      .filter(col("d") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n_club"))
    val ek = SharedGraph.withDegrees(und, deg)
      .select(col("du"), col("dv"), kCol)
      .filter(col("du") > col("k") && col("dv") > col("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("e_club"))
    nk.join(ek, Seq("k"), "left")
      .withColumn("e_club", coalesce(col("e_club"), lit(0L)))
      .select(col("k"), col("n_club"), col("e_club"),
        r6(expr("CASE WHEN n_club >= 2 THEN cast(2 * e_club as double)" +
          " / (n_club * (n_club - 1)) END")).as("phi"))
      .orderBy("k")
  }

  // ── out-of-fold mean target encoding — the leakage-safe way to turn a
  // high-cardinality category into a numeric feature (a plain per-
  // category target mean lets each row see its OWN label through its
  // category's statistic; encoded-then-trained models overfit exactly
  // there). Rows are dealt into 5 folds by the portable Knuth hash of
  // event_id (deterministic, engine-independent, and stable under
  // repartitioning — the split_train_eval rule); fold f's encoding for a
  // category uses ONLY the other folds' rows, shrunk toward the global
  // prior with weight m=20 (micro-categories collapse to the prior
  // instead of memorizing noise). ONE scan → a (category × fold) grid of
  // integer counts; totals arrive by grid-sized windows — at 100 TB the
  // shuffled state is |categories|·5 rows. Every input to the final
  // division is an exact integer (prior enters as the identical
  // pt/nt ratio in both engines), so enc matches bit-for-bit. ──
  def featureTargetEncode(spark: SparkSession, dir: String): DataFrame = {
    val rows = ev(spark, dir).select(col("event_type"),
      expr("pmod(pmod(event_id, 2147483648) * 2654435761, 2147483648) % 5")
        .as("fold"),
      when(col("value") > 50, 1L).otherwise(0L).as("y"))
    val grid = rows.groupBy(col("event_type"), col("fold"))
      .agg(count(lit(1)).as("n_cf"), sum(col("y")).as("pos_cf"))
    val wCat = Window.partitionBy(col("event_type"))
    val wAll = Window.partitionBy(lit(1))
    grid
      .withColumn("n_cat", sum(col("n_cf")).over(wCat))
      .withColumn("pos_cat", sum(col("pos_cf")).over(wCat))
      .withColumn("nt", sum(col("n_cf")).over(wAll))
      .withColumn("pt", sum(col("pos_cf")).over(wAll))
      .select(col("event_type"), col("fold"),
        (col("n_cat") - col("n_cf")).as("n_oof"),
        (col("pos_cat") - col("pos_cf")).as("pos_oof"),
        r6(expr("(pos_cat - pos_cf + 20 * (cast(pt as double) / nt))" +
          " / (n_cat - n_cf + 20)")).as("enc"))
      .orderBy("event_type", "fold")
  }

  // ── weight-of-evidence binning + information value: per value band,
  // WoE = ln of (share of positives / share of negatives) landing there
  // — the credit-scoring encoding that makes a feature's class
  // separation READABLE bin by bin, and IV = Σ (Δshare·WoE) the one-
  // number screen for whether the feature is worth keeping (IV < 0.02:
  // useless; > 0.5: suspicious). Bins are integer value bands (floor
  // div — no engine quantile drift), counts are exact integers with the
  // standard +0.5 continuity correction so empty cells stay finite, and
  // the IV terms cross the oracle boundary as 9-dp-snapped DECIMAL sums
  // (every row carries the feature-level total — grid-sized window).
  // One scan; |bins| rows of state thereafter. ──
  def featureWoe(spark: SparkSession, dir: String): DataFrame = {
    val binned = ev(spark, dir).select(
      floor(col("value") / 50).cast("long").as("bin"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
    val hist = binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      .withColumn("neg", col("n") - col("pos"))
    val wAll = Window.partitionBy(lit(1))
    hist
      .withColumn("pt", sum(col("pos")).over(wAll))
      .withColumn("nt", sum(col("neg")).over(wAll))
      .withColumn("woe9", expr(
        """round(ln(((cast(pos as double) + 0.5) / pt)
          |       / ((cast(neg as double) + 0.5) / nt)), 9)""".stripMargin))
      .withColumn("ivt", expr(
        """CAST(round(((cast(pos as double) + 0.5) / pt
          |      - (cast(neg as double) + 0.5) / nt) * woe9, 9)
          |     AS DECIMAL(18,9))""".stripMargin))
      .withColumn("iv", sum(col("ivt")).over(wAll))
      .select(col("bin"), col("n"), col("pos"), col("neg"),
        r6(col("woe9")).as("woe"),
        r6(col("iv").cast("double")).as("iv_total"))
      .orderBy("bin")
  }

  // ── shortest-path COUNTING (the σ of Brandes' betweenness): BFS from
  // the max-degree hub like [[graphBfs]], but each frontier node also
  // accumulates HOW MANY distinct shortest paths reach it — σ(v) =
  // Σ σ(u) over its distance-(k−1) neighbors. Distances alone say the
  // graph is small-world; path multiplicities say how REDUNDANTLY wired
  // it is (σ ≫ 1 at hop 2-3 = many parallel routes = robust
  // co-purchase structure), and σ is the integer half of betweenness
  // centrality. Same scale shape as the BFS: edge frame cached
  // pre-partitioned on the join key, frontier-sized joins, eager
  // localCheckpoint per round; multiplicities are exact int64, so the
  // oracle unrolls all three rounds bit-for-bit. ──
  def graphPathCounts(spark: SparkSession, dir: String): DataFrame = {
    val edges = SharedGraph.coPurchaseAdjByU(spark, dir)
    // rank-1 row of the shared seed table — same (desc degree, id) order
    // the standalone TakeOrdered computed (round 13)
    val seed = SharedGraph.bfsSeeds(spark, dir)
      .filter(col("rk") === 1).select("seed").collect()(0).getLong(0)
    var state = spark.range(1)
      .select(lit(seed).as("node"), lit(0L).as("hop"), lit(1L).as("sigma"))
    (1 to 3).foreach { k =>
      val frontier = state.filter(col("hop") === k - 1)
        .select(col("node").as("u"), col("sigma"))
      val cand = edges.join(frontier, "u")
        .groupBy(col("v")).agg(sum(col("sigma")).as("sigma"))
        .select(col("v").as("node"), col("sigma"))
      val nw = cand
        .join(state.select(col("node")), Seq("node"), "left_anti")
        .select(col("node"), lit(k.toLong).as("hop"), col("sigma"))
      state = Eager(state.unionByName(nw))
    }
    state.groupBy(col("hop"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("sigma")).as("n_paths"),
        max(col("sigma")).as("max_paths"))
      .orderBy("hop")
  }

  // ── supervised-learning lag-feature matrix: per (user, active day),
  // yesterday's spend, the spend exactly 7 days back, the trailing-week
  // sum/count, and TOMORROW's spend as the label — the feature table a
  // daily-forecast or churn model trains on, built leakage-free (every
  // feature strictly precedes the label). Calendar correctness WITHOUT
  // a dense spine: windows use RANGE frames over the integer epoch-day
  // ORDER key, so "7 days back" means calendar days even when a user
  // skips days (a ROWS frame would silently mean "7 active days").
  // Everything stays exact int64 cents end to end; per-user windows —
  // one shuffle, bounded state, keys parallelize. ──
  def featureLagMatrix(spark: SparkSession, dir: String): DataFrame = {
    val daily = ev(spark, dir).groupBy(col("user_id"), col("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long")
        .as("rev_c"), count(lit(1)).as("n_ev"))
      .withColumn("dayno", expr("datediff(day, DATE'1970-01-01')"))
    val ord = Window.partitionBy(col("user_id")).orderBy(col("dayno"))
    daily
      .withColumn("lag1_c",
        sum(col("rev_c")).over(ord.rangeBetween(-1, -1)))
      .withColumn("lag7_c",
        sum(col("rev_c")).over(ord.rangeBetween(-7, -7)))
      .withColumn("trail7_c",
        sum(col("rev_c")).over(ord.rangeBetween(-7, -1)))
      .withColumn("trail7_days",
        count(col("rev_c")).over(ord.rangeBetween(-7, -1)))
      .withColumn("target_next_c",
        sum(col("rev_c")).over(ord.rangeBetween(1, 1)))
      .select(col("user_id"), col("day"), col("rev_c"), col("n_ev"),
        col("lag1_c"), col("lag7_c"), col("trail7_c"),
        col("trail7_days"), col("target_next_c"))
      .orderBy("user_id", "day")
  }

  // ── recommender coverage & exposure concentration — the aggregate
  // health check on [[recsysItemKnn]]'s top-3 lists (eval_ann_recall
  // judges per-query quality; this judges the CATALOG: a recommender
  // that only ever surfaces 5% of items is a popularity echo chamber
  // no per-query metric will flag). Coverage = distinct recommended
  // items over the full catalog AND over the active (co-purchased)
  // set; concentration = exposure Gini over appearance counts (the
  // stats_gini closed rank form on the item-sized exposure frame —
  // its rank window runs over an Aggregate, group-sized). Same pair
  // join as the kNN key; everything integer until three final
  // divisions. ──
  def evalRecsysCoverage(spark: SparkSession, dir: String): DataFrame = {
    val op = SharedGraph.baskets(spark, dir)
    // the same memoized top-3 lists the recommender key ships
    val recs = itemKnnTop3(spark, dir).select(col("v"))
    val expo = recs.groupBy(col("v")).agg(count(lit(1)).as("x"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("x"), col("v"))))
    val gini = expo.agg(count(lit(1)).as("nr"), sum(col("x")).as("sx"),
      sum(col("rk") * col("x")).as("srx"))
    val catalog = Tables.part(spark, dir).agg(count(lit(1)).as("n_catalog"))
    val active = op.select(col("p")).distinct()
      .agg(count(lit(1)).as("n_active"))
    val out = gini.crossJoin(broadcast(catalog)).crossJoin(broadcast(active))
      .select(col("n_catalog"), col("n_active"),
        col("nr").as("n_recommended"),
        r6(expr("cast(nr as double) / n_catalog")).as("coverage_catalog"),
        r6(expr("cast(nr as double) / n_active")).as("coverage_active"),
        r6(expr("2.0 * srx / (cast(nr as double) * sx)" +
          " - cast(nr + 1 as double) / nr")).as("exposure_gini"))
    out
  }

  // ── bounded-hop harmonic closeness from the 5 highest-degree hubs:
  // HC(s) = Σ_{0<d(s,v)≤3} 1/d — the "how central is this node really"
  // score that, unlike classic closeness, is defined even when the
  // graph is disconnected (unreachable nodes contribute 0, not ∞).
  // Multi-source BFS: ONE (seed, node, hop) frontier frame relaxed 3
  // rounds (the graph_bfs synchronous-min discipline, ×5 seeds in the
  // same joins — never 5 separate traversals); the 3-hop bound is the
  // honest at-scale form (full closeness on a 100 TB graph is a
  // research problem; 3 hops covers the influence horizon). Seeds are
  // a broadcast 5-row frame, no collect. Per-hop counts are exact
  // int64; HC = c₁ + c₂/2 + c₃/3 with cast-first divisions. ──
  def graphCloseness(spark: SparkSession, dir: String): DataFrame = {
    // shared traversal (round 13): seeds and the 3-hop min-hop frontier
    // come from [[SharedGraph.bfsSeeds]]/[[SharedGraph.bfs3Dist]] — the
    // identical per-round join/min fixpoint this key ran standalone,
    // built once per corpus and also read by graph_bfs. Exact integer
    // hops — results identical.
    // node count off the shared degree table (round 13) — the full
    // adjacency groupBy here existed only to count distinct nodes
    val nNodes = SharedGraph.coPurchaseDeg(spark, dir)
      .agg(count(lit(1)).as("n_nodes"))
    val dist = SharedGraph.bfs3Dist(spark, dir)
    val out = dist.filter(col("hop") > 0)
      .groupBy(col("seed"))
      .agg(sum(when(col("hop") === 1, 1L).otherwise(0L)).as("n_hop1"),
        sum(when(col("hop") === 2, 1L).otherwise(0L)).as("n_hop2"),
        sum(when(col("hop") === 3, 1L).otherwise(0L)).as("n_hop3"))
      .crossJoin(broadcast(nNodes))
      .select(col("seed"), col("n_hop1"), col("n_hop2"), col("n_hop3"),
        r6(expr("cast(n_hop1 as double) + cast(n_hop2 as double) / 2" +
          " + cast(n_hop3 as double) / 3")).as("harmonic_3"),
        r6(expr("cast(n_hop1 + n_hop2 + n_hop3 as double)" +
          " / (n_nodes - 1)")).as("reach_share_3"))
      .orderBy("seed")
    out
  }

  // ── entropy rate of the user-journey Markov chain — ONE number for
  // "how predictable is the next event": H = −(1/N)Σᵢⱼ cᵢⱼ·ln(cᵢⱼ/cᵢ.)
  // over markov_transitions' count matrix (empirical stationary
  // weights), with perplexity exp(H) as the "effective branching
  // factor". Counts are exact int64; each cell's term snaps to 9-dp
  // DECIMAL before the ≤|types|²-row sum (associative), one exp at the
  // boundary. ──
  def markovEntropy(spark: SparkSession, dir: String): DataFrame = {
    val trans = transitionCounts(spark, dir, "c")
      .withColumn("crow",
        sum(col("c")).over(Window.partitionBy(col("src"))))
    trans.agg(sum(col("c")).as("n_transitions"),
        countDistinct(col("src")).as("n_states"),
        sum(expr("CAST(round(c * ln(cast(c as double) / crow), 9)" +
          " AS DECIMAL(28,9))")).as("hs"))
      .select(col("n_transitions"), col("n_states"),
        r6(expr("-cast(hs as double) / n_transitions"))
          .as("entropy_rate_nats"),
        r6(expr("exp(-cast(hs as double) / n_transitions)"))
          .as("perplexity"))
  }

  /** Oracle CTEs of the co-purchase graph: `op(o, p)`, the distinct
    * (order, part) rows, and `und(u, v)`, each undirected edge once with
    * u < v. Comma-terminated. */
  private val duckUnd: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |           FROM lineitem),
      |und AS (SELECT DISTINCT a.p AS u, b.p AS v
      |        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),""".stripMargin

  /** `op` and `und` as [[duckUnd]] has them, then `edges(u, v)` both ways
    * and the degrees `deg(u, d)`. Comma-terminated. */
  private val duckEdgeDegrees: String =
    """WITH op AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |und AS (SELECT DISTINCT a.p AS u, b.p AS v
      |        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
      |edges AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
      |deg AS (SELECT u, count(*) AS d FROM edges GROUP BY 1),""".stripMargin

  /** [[duckUnd]] plus the degrees `deg(node, d)`. Comma-terminated. */
  private val duckUndDeg: String = duckUnd +
    """
      |adj AS (SELECT u FROM und UNION ALL SELECT v AS u FROM und),
      |deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d
      |        FROM adj GROUP BY 1),""".stripMargin

  /** The degree-oriented edges `dir(src, dst)` over `und` and
    * `deg(node, d)` (lower (degree, id) first) and `dr`, each edge with
    * its dst degree dd. Comma-terminated, on its own lines. */
  private val duckOrientedDr: String =
    """dir AS (
      |  SELECT CASE WHEN (du.d, und.u) < (dv.d, und.v)
      |              THEN und.u ELSE und.v END AS src,
      |         CASE WHEN (du.d, und.u) < (dv.d, und.v)
      |              THEN und.v ELSE und.u END AS dst
      |  FROM und
      |  JOIN deg du ON und.u = du.node
      |  JOIN deg dv ON und.v = dv.node),
      |dr AS (SELECT dir.src, dir.dst, deg.d AS dd
      |       FROM dir JOIN deg ON dir.dst = deg.node),""".stripMargin

  /** Each part's exact revenue in micro-units `rev(l_partkey, revc)`, its
    * total `t`, and `c`, the running revenue `cum` in (revc desc,
    * l_partkey) order. */
  private val duckPartRevCum: String =
    """WITH rev AS (
      |  SELECT l_partkey,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(18,4)))) * 1000000
      |      AS BIGINT) AS revc
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT sum(CAST(revc AS HUGEINT)) AS total FROM rev),
      |c AS (SELECT l_partkey, revc,
      |    sum(CAST(revc AS HUGEINT))
      |      OVER (ORDER BY revc DESC, l_partkey) AS cum
      |  FROM rev)""".stripMargin

  /** [[duckUnd]]'s `op`, then each part's basket count `cnt(item, n)` and
    * each ordered part pair's co-basket count `pairs(u, v, c)`.
    * Comma-terminated. */
  private val duckItemPairs: String =
    """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
      |           FROM lineitem),
      |cnt AS (SELECT p AS item, count(*) AS n FROM op GROUP BY 1),
      |pairs AS (SELECT a.p AS u, b.p AS v, count(*) AS c
      |          FROM op a JOIN op b ON a.o = b.o AND a.p <> b.p
      |          GROUP BY 1, 2),""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("graph_closeness", graphCloseness, Some(
      duckEdgeDegrees + """
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg),
        |seeds AS (SELECT u AS seed FROM deg ORDER BY d DESC, u LIMIT 5),
        |d0 AS (SELECT seed, seed AS node, CAST(0 AS BIGINT) AS hop
        |       FROM seeds),
        |d1 AS (SELECT seed, node, min(hop) AS hop FROM (
        |        SELECT seed, node, hop FROM d0
        |        UNION ALL
        |        SELECT d0.seed, e.v AS node, d0.hop + 1 AS hop
        |        FROM edges e JOIN d0 ON e.u = d0.node) x GROUP BY 1, 2),
        |d2 AS (SELECT seed, node, min(hop) AS hop FROM (
        |        SELECT seed, node, hop FROM d1
        |        UNION ALL
        |        SELECT d1.seed, e.v AS node, d1.hop + 1 AS hop
        |        FROM edges e JOIN d1 ON e.u = d1.node) x GROUP BY 1, 2),
        |d3 AS (SELECT seed, node, min(hop) AS hop FROM (
        |        SELECT seed, node, hop FROM d2
        |        UNION ALL
        |        SELECT d2.seed, e.v AS node, d2.hop + 1 AS hop
        |        FROM edges e JOIN d2 ON e.u = d2.node) x GROUP BY 1, 2),
        |h AS (SELECT seed,
        |        CAST(sum(CASE WHEN hop = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_hop1,
        |        CAST(sum(CASE WHEN hop = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_hop2,
        |        CAST(sum(CASE WHEN hop = 3 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_hop3
        |      FROM d3 WHERE hop > 0 GROUP BY 1)
        |SELECT seed, n_hop1, n_hop2, n_hop3,
        |  round(CAST(n_hop1 AS DOUBLE) + CAST(n_hop2 AS DOUBLE) / 2
        |    + CAST(n_hop3 AS DOUBLE) / 3, 6) + 0.0 AS harmonic_3,
        |  round(CAST(n_hop1 + n_hop2 + n_hop3 AS DOUBLE) / (n_nodes - 1),
        |    6) + 0.0 AS reach_share_3
        |FROM h, nn ORDER BY seed""".stripMargin)),
    Key("markov_entropy", markovEntropy, Some(
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
        |  FROM events),
        |t AS (SELECT event_type AS src,
        |        lead(event_type) OVER (PARTITION BY user_id
        |          ORDER BY us, event_id) AS dst
        |      FROM e),
        |c AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS c
        |      FROM t WHERE dst IS NOT NULL GROUP BY 1, 2),
        |cr AS (SELECT *, sum(c) OVER (PARTITION BY src) AS crow FROM c),
        |a AS (SELECT CAST(sum(c) AS BIGINT) AS n_transitions,
        |        CAST(count(DISTINCT src) AS BIGINT) AS n_states,
        |        sum(CAST(round(c * ln(CAST(c AS DOUBLE) / crow), 9)
        |            AS DECIMAL(28,9))) AS hs
        |      FROM cr)
        |SELECT n_transitions, n_states,
        |  round(-CAST(hs AS DOUBLE) / n_transitions, 6) + 0.0
        |    AS entropy_rate_nats,
        |  round(exp(-CAST(hs AS DOUBLE) / n_transitions), 6) + 0.0
        |    AS perplexity
        |FROM a""".stripMargin)),
    Key("eval_recsys_coverage", evalRecsysCoverage, Some(
      duckItemPairs + """
        |sc AS (SELECT pairs.u, pairs.v,
        |    round(pairs.c / sqrt(CAST(cu.n * cv.n AS DOUBLE)), 6) + 0.0
        |      AS cos
        |  FROM pairs
        |  JOIN cnt cu ON pairs.u = cu.item
        |  JOIN cnt cv ON pairs.v = cv.item),
        |r AS (SELECT *, row_number() OVER (PARTITION BY u
        |                ORDER BY cos DESC, v) AS rn FROM sc),
        |recs AS (SELECT v FROM r WHERE rn <= 3),
        |expo AS (SELECT v, CAST(count(*) AS BIGINT) AS x
        |         FROM recs GROUP BY 1),
        |rk AS (SELECT *, CAST(row_number() OVER (ORDER BY x, v)
        |         AS BIGINT) AS rk FROM expo),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS nr,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(rk * x) AS BIGINT) AS srx FROM rk),
        |cat AS (SELECT CAST(count(*) AS BIGINT) AS n_catalog FROM part),
        |act AS (SELECT CAST(count(DISTINCT p) AS BIGINT) AS n_active
        |        FROM op)
        |SELECT n_catalog, n_active, nr AS n_recommended,
        |  round(CAST(nr AS DOUBLE) / n_catalog, 6) + 0.0
        |    AS coverage_catalog,
        |  round(CAST(nr AS DOUBLE) / n_active, 6) + 0.0
        |    AS coverage_active,
        |  round(2.0 * srx / (CAST(nr AS DOUBLE) * sx)
        |    - CAST(nr + 1 AS DOUBLE) / nr, 6) + 0.0 AS exposure_gini
        |FROM g CROSS JOIN cat CROSS JOIN act""".stripMargin)),
    Key("feature_lag_matrix", featureLagMatrix, Some(
      """WITH daily AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(sum(CAST("value" AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS rev_c,
        |    CAST(count(*) AS BIGINT) AS n_ev
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT *, day - DATE '1970-01-01' AS dayno FROM daily)
        |SELECT user_id, day, rev_c, n_ev,
        |  CAST(sum(rev_c) OVER (w RANGE BETWEEN 1 PRECEDING
        |    AND 1 PRECEDING) AS BIGINT) AS lag1_c,
        |  CAST(sum(rev_c) OVER (w RANGE BETWEEN 7 PRECEDING
        |    AND 7 PRECEDING) AS BIGINT) AS lag7_c,
        |  CAST(sum(rev_c) OVER (w RANGE BETWEEN 7 PRECEDING
        |    AND 1 PRECEDING) AS BIGINT) AS trail7_c,
        |  CAST(count(rev_c) OVER (w RANGE BETWEEN 7 PRECEDING
        |    AND 1 PRECEDING) AS BIGINT) AS trail7_days,
        |  CAST(sum(rev_c) OVER (w RANGE BETWEEN 1 FOLLOWING
        |    AND 1 FOLLOWING) AS BIGINT) AS target_next_c
        |FROM d WINDOW w AS (PARTITION BY user_id ORDER BY dayno)
        |ORDER BY user_id, day""".stripMargin)),
    Key("graph_path_counts", graphPathCounts, Some(
      duckEdgeDegrees + """
        |seed AS (SELECT u FROM deg ORDER BY d DESC, u LIMIT 1),
        |s0 AS (SELECT u AS node, CAST(0 AS BIGINT) AS hop,
        |         CAST(1 AS BIGINT) AS sigma FROM seed),
        |n1 AS (SELECT e.v AS node, CAST(1 AS BIGINT) AS hop,
        |         CAST(sum(s.sigma) AS BIGINT) AS sigma
        |       FROM edges e JOIN s0 s ON e.u = s.node
        |       WHERE e.v NOT IN (SELECT node FROM s0) GROUP BY 1),
        |s1 AS (SELECT * FROM s0 UNION ALL SELECT * FROM n1),
        |n2 AS (SELECT e.v AS node, CAST(2 AS BIGINT) AS hop,
        |         CAST(sum(s.sigma) AS BIGINT) AS sigma
        |       FROM edges e JOIN n1 s ON e.u = s.node
        |       WHERE e.v NOT IN (SELECT node FROM s1) GROUP BY 1),
        |s2 AS (SELECT * FROM s1 UNION ALL SELECT * FROM n2),
        |n3 AS (SELECT e.v AS node, CAST(3 AS BIGINT) AS hop,
        |         CAST(sum(s.sigma) AS BIGINT) AS sigma
        |       FROM edges e JOIN n2 s ON e.u = s.node
        |       WHERE e.v NOT IN (SELECT node FROM s2) GROUP BY 1),
        |s3 AS (SELECT * FROM s2 UNION ALL SELECT * FROM n3)
        |SELECT hop, CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(sigma) AS BIGINT) AS n_paths,
        |  CAST(max(sigma) AS BIGINT) AS max_paths
        |FROM s3 GROUP BY 1 ORDER BY hop""".stripMargin)),
    Key("feature_target_encode", featureTargetEncode, Some(
      """WITH rows_ AS (
        |  SELECT event_type,
        |    ((event_id % 2147483648) * 2654435761 % 2147483648) % 5
        |      AS fold,
        |    CAST(CASE WHEN "value" > 50 THEN 1 ELSE 0 END AS BIGINT) AS y
        |  FROM events),
        |grid AS (SELECT event_type, fold, CAST(count(*) AS BIGINT) AS n_cf,
        |    CAST(sum(y) AS BIGINT) AS pos_cf
        |  FROM rows_ GROUP BY 1, 2),
        |w AS (SELECT *,
        |    CAST(sum(n_cf) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n_cat,
        |    CAST(sum(pos_cf) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS pos_cat,
        |    CAST(sum(n_cf) OVER () AS BIGINT) AS nt,
        |    CAST(sum(pos_cf) OVER () AS BIGINT) AS pt
        |  FROM grid)
        |SELECT event_type, fold, n_cat - n_cf AS n_oof,
        |  pos_cat - pos_cf AS pos_oof,
        |  round((pos_cat - pos_cf + 20 * (CAST(pt AS DOUBLE) / nt))
        |    / (n_cat - n_cf + 20), 6) + 0.0 AS enc
        |FROM w ORDER BY event_type, fold""".stripMargin)),
    Key("feature_woe", featureWoe, Some(
      """WITH binned AS (
        |  SELECT CAST(floor("value" / 50) AS BIGINT) AS bin,
        |    CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
        |         AS BIGINT) AS y
        |  FROM events),
        |hist AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS pos,
        |    CAST(count(*) - sum(y) AS BIGINT) AS neg
        |  FROM binned GROUP BY 1),
        |w AS (SELECT *, CAST(sum(pos) OVER () AS BIGINT) AS pt,
        |    CAST(sum(neg) OVER () AS BIGINT) AS nt
        |  FROM hist),
        |t AS (SELECT *,
        |    round(ln(((CAST(pos AS DOUBLE) + 0.5) / pt)
        |          / ((CAST(neg AS DOUBLE) + 0.5) / nt)), 9) AS woe9
        |  FROM w),
        |iv AS (SELECT *,
        |    sum(CAST(round(((CAST(pos AS DOUBLE) + 0.5) / pt
        |          - (CAST(neg AS DOUBLE) + 0.5) / nt) * woe9, 9)
        |        AS DECIMAL(18,9))) OVER () AS ivs
        |  FROM t)
        |SELECT bin, n, pos, neg, round(woe9, 6) + 0.0 AS woe,
        |  round(CAST(ivs AS DOUBLE), 6) + 0.0 AS iv_total
        |FROM iv ORDER BY bin""".stripMargin)),
    Key("eval_recsys_hitrate", evalRecsysHitrate, Some(
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |           FROM lineitem),
        |held AS (SELECT o, max(p) AS held,
        |           CAST(count(*) AS BIGINT) AS sz
        |         FROM op GROUP BY 1 HAVING count(*) >= 2),
        |train AS (SELECT op.o, op.p
        |          FROM op LEFT JOIN held ON held.o = op.o
        |          WHERE held.held IS NULL OR op.p <> held.held),
        |cnt AS (SELECT p AS item, count(*) AS n FROM train GROUP BY 1),
        |pairs AS (SELECT a.p AS u, b.p AS v, count(*) AS c
        |          FROM train a JOIN train b
        |            ON a.o = b.o AND a.p <> b.p
        |          GROUP BY 1, 2),
        |sc AS (SELECT pairs.u, pairs.v,
        |    round(pairs.c / sqrt(CAST(cu.n * cv.n AS DOUBLE)), 6) + 0.0
        |      AS cos
        |  FROM pairs
        |  JOIN cnt cu ON pairs.u = cu.item
        |  JOIN cnt cv ON pairs.v = cv.item),
        |t3 AS (SELECT u, v FROM (
        |    SELECT *, row_number() OVER (PARTITION BY u
        |      ORDER BY cos DESC, v) AS rn FROM sc) WHERE rn <= 3),
        |hits AS (SELECT DISTINCT h.o
        |         FROM held h
        |         JOIN train t ON t.o = h.o
        |         JOIN t3 ON t3.u = t.p
        |         WHERE t3.v = h.held),
        |g AS (SELECT h.sz AS basket_size,
        |        CAST(count(*) AS BIGINT) AS n_orders,
        |        CAST(sum(CASE WHEN hits.o IS NOT NULL THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_hits
        |      FROM held h LEFT JOIN hits ON hits.o = h.o
        |      GROUP BY 1)
        |SELECT basket_size, n_orders, n_hits,
        |  round(CAST(n_hits AS DOUBLE) / n_orders, 6) + 0.0 AS hit_rate
        |FROM g ORDER BY basket_size""".stripMargin)),
    Key("recsys_item_knn", recsysItemKnn, Some(
      duckItemPairs + """
        |sc AS (SELECT pairs.u, pairs.v, pairs.c,
        |    round(pairs.c / sqrt(CAST(cu.n * cv.n AS DOUBLE)), 6) + 0.0
        |      AS cos
        |  FROM pairs
        |  JOIN cnt cu ON pairs.u = cu.item
        |  JOIN cnt cv ON pairs.v = cv.item),
        |r AS (SELECT *, row_number() OVER (PARTITION BY u
        |                ORDER BY cos DESC, v) AS rn FROM sc)
        |SELECT u AS item, CAST(rn AS INT) AS rn, v AS neighbor,
        |  CAST(c AS BIGINT) AS cooc, cos
        |FROM r WHERE rn <= 3 ORDER BY item, rn""".stripMargin)),
    Key("graph_clustering_coeff", graphClusteringCoeff, Some(
      duckUnd + """
        |deg AS (SELECT node, count(*) AS d FROM (
        |          SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        |        GROUP BY 1),
        |""".stripMargin + duckOrientedDr + """
        |t AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |      FROM dr e1
        |      JOIN dr e2 ON e1.src = e2.src
        |        AND (e1.dd, e1.dst) < (e2.dd, e2.dst)
        |      JOIN dir e3 ON e3.src = e1.dst AND e3.dst = e2.dst),
        |cr AS (SELECT a AS node FROM t UNION ALL SELECT b FROM t
        |       UNION ALL SELECT c FROM t),
        |tc AS (SELECT node, count(*) AS tri FROM cr GROUP BY 1)
        |SELECT deg.node, deg.d, COALESCE(tc.tri, 0) AS tri,
        |  round(2.0 * COALESCE(tc.tri, 0) / (deg.d * (deg.d - 1)), 6)
        |    + 0.0 AS coeff
        |FROM deg LEFT JOIN tc USING (node)
        |WHERE deg.d >= 2 ORDER BY node""".stripMargin)),
    Key("graph_rich_club", graphRichClub, Some(
      duckUndDeg + """
        |ks AS (SELECT unnest([4, 8, 16, 32]) AS k),
        |nk AS (SELECT k, CAST(count(*) AS BIGINT) AS n_club
        |       FROM deg CROSS JOIN ks WHERE d > k GROUP BY 1),
        |ek AS (SELECT k, CAST(count(*) AS BIGINT) AS e_club
        |       FROM und
        |       JOIN deg du ON und.u = du.node
        |       JOIN deg dv ON und.v = dv.node
        |       CROSS JOIN ks
        |       WHERE du.d > k AND dv.d > k GROUP BY 1)
        |SELECT nk.k, n_club, COALESCE(e_club, 0) AS e_club,
        |  round(CASE WHEN n_club >= 2 THEN
        |      CAST(2 * COALESCE(e_club, 0) AS DOUBLE)
        |      / (n_club * (n_club - 1)) END, 6) + 0.0 AS phi
        |FROM nk LEFT JOIN ek ON nk.k = ek.k ORDER BY nk.k""".stripMargin)),
    Key("graph_degree_dist", graphDegreeDist, Some(
      duckUndDeg + """
        |b AS (SELECT CAST(length(bin(d)) - 1 AS INTEGER) AS log2_bin,
        |    CAST(count(*) AS BIGINT) AS n_nodes,
        |    CAST(min(d) AS BIGINT) AS min_deg,
        |    CAST(max(d) AS BIGINT) AS max_deg,
        |    CAST(sum(d) AS BIGINT) AS sum_deg
        |  FROM deg GROUP BY 1),
        |t AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS total FROM b)
        |SELECT log2_bin, n_nodes, min_deg, max_deg, sum_deg,
        |  round(CAST(n_nodes AS DOUBLE) / total, 6) + 0.0 AS share
        |FROM b CROSS JOIN t ORDER BY log2_bin""".stripMargin)),
    Key("graph_assortativity", graphAssortativity, Some(
      duckUnd + """
        |adj AS (SELECT u, v FROM und UNION ALL SELECT v, u FROM und),
        |deg AS (SELECT u AS node, count(*) AS d FROM adj GROUP BY 1),
        |e AS (SELECT du.d AS du, dv.d AS dv FROM adj
        |      JOIN deg du ON adj.u = du.node
        |      JOIN deg dv ON adj.v = dv.node),
        |m AS (SELECT count(*) AS n,
        |    CAST(sum(du) AS BIGINT) AS sx, CAST(sum(dv) AS BIGINT) AS sy,
        |    sum(CAST(du AS HUGEINT) * dv) AS sxy,
        |    sum(CAST(du AS HUGEINT) * du) AS sxx,
        |    sum(CAST(dv AS HUGEINT) * dv) AS syy
        |  FROM e)
        |SELECT n AS n_edges_directed,
        |  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
        |        sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
        |             (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
        |        6) + 0.0 AS assortativity
        |FROM m""".stripMargin)),
    Key("graph_common_neighbors", graphCommonNeighbors, Some(
      duckUnd + """
        |adj AS (SELECT u AS node, v AS nbr FROM und
        |        UNION ALL SELECT v, u FROM und),
        |deg AS (SELECT node, count(*) AS d FROM adj GROUP BY 1),
        |mid AS (SELECT a.node AS w, a.nbr, deg.d AS dw
        |        FROM adj a JOIN deg ON a.node = deg.node WHERE deg.d <= 64),
        |wedges AS (SELECT a.nbr AS u, b.nbr AS v, a.dw
        |           FROM mid a JOIN mid b ON a.w = b.w AND a.nbr < b.nbr),
        |cand AS (SELECT u, v, count(*) AS cn,
        |                sum(1.0 / ln(CAST(dw AS DOUBLE))) AS aa
        |         FROM wedges GROUP BY 1, 2),
        |nonedge AS (SELECT c.* FROM cand c
        |            ANTI JOIN und ON c.u = und.u AND c.v = und.v)
        |SELECT n.u, n.v, CAST(n.cn AS BIGINT) AS cn,
        |  round(n.cn / CAST(du.d + dv.d - n.cn AS DOUBLE), 6) + 0.0
        |    AS jaccard,
        |  round(n.aa, 6) + 0.0 AS adamic_adar,
        |  du.d AS du, dv.d AS dv
        |FROM nonedge n
        |JOIN deg du ON n.u = du.node JOIN deg dv ON n.v = dv.node
        |ORDER BY cn DESC, n.u, n.v LIMIT 50""".stripMargin)),
    // the same 3 frontier rounds unrolled; min(hop) relaxation makes
    // every round partitioning-independent
    Key("graph_bfs", graphBfs, Some(
      duckEdgeDegrees + """
        |seed AS (SELECT u FROM deg ORDER BY d DESC, u LIMIT 1),
        |d0 AS (SELECT u AS node, CAST(0 AS BIGINT) AS hop FROM seed),
        |d1 AS (SELECT node, min(hop) AS hop FROM (
        |        SELECT node, hop FROM d0
        |        UNION ALL
        |        SELECT e.v AS node, d0.hop + 1 AS hop
        |        FROM edges e JOIN d0 ON e.u = d0.node) x GROUP BY 1),
        |d2 AS (SELECT node, min(hop) AS hop FROM (
        |        SELECT node, hop FROM d1
        |        UNION ALL
        |        SELECT e.v AS node, d1.hop + 1 AS hop
        |        FROM edges e JOIN d1 ON e.u = d1.node) x GROUP BY 1),
        |d3 AS (SELECT node, min(hop) AS hop FROM (
        |        SELECT node, hop FROM d2
        |        UNION ALL
        |        SELECT e.v AS node, d2.hop + 1 AS hop
        |        FROM edges e JOIN d2 ON e.u = d2.node) x GROUP BY 1)
        |SELECT CAST(hop AS BIGINT) AS hop, count(*) AS n_parts
        |FROM d3 GROUP BY 1 ORDER BY hop""".stripMargin)),
    // the naive single-window skyline sweep; the banded prefix max
    // equals it because integer cost bands are order-monotone
    Key("skyline_2d", skyline2d, Some(
      """WITH pp AS (
        |  SELECT l_partkey,
        |    CAST(min(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
        |      AS BIGINT) AS cost_c,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY 1),
        |pr AS (SELECT cost_c, qty, count(*) AS n_parts FROM pp GROUP BY 1, 2),
        |s AS (SELECT cost_c, qty, n_parts,
        |    max(qty) OVER (ORDER BY cost_c, qty DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM pr)
        |SELECT CAST(cost_c AS DOUBLE) / 100 AS min_cost, qty, n_parts
        |FROM s WHERE pmax IS NULL OR qty > pmax
        |ORDER BY min_cost""".stripMargin)),
    Key("budget_waterfall", budgetWaterfall, Some(
      duckPartRevCum + """
        |SELECT CASE WHEN cum * 10 <= total THEN 'funded'
        |            WHEN (cum - revc) * 10 < total THEN 'partial'
        |            ELSE 'unfunded' END AS status,
        |  count(*) AS n_parts,
        |  CAST(sum(CAST(revc AS HUGEINT)) AS DOUBLE) / 1000000
        |    AS class_revenue
        |FROM c, t GROUP BY 1 ORDER BY status""".stripMargin)),
    // the NAIVE single-window cumsum — the banded two-level prefix sum
    // equals it exactly (floor-banding is monotone, DECIMAL sums are
    // associative), which is the point of the oracle
    Key("pareto_abc", paretoAbc, Some(
      duckPartRevCum + """
        |SELECT CASE WHEN cum * 10 <= total * 8 THEN 'A'
        |            WHEN cum * 20 <= total * 19 THEN 'B'
        |            ELSE 'C' END AS cls,
        |  count(*) AS n_parts,
        |  CAST(sum(CAST(revc AS HUGEINT)) AS DOUBLE) / 1000000
        |    AS class_revenue
        |FROM c, t GROUP BY 1 ORDER BY cls""".stripMargin)),
    // HUGEINT prefix sums cast to BIGINT/DOUBLE at the boundary; the
    // gain expression is op-for-op the Spark form
    Key("feature_split_gain", featureSplitGain, Some(
      """WITH li AS (
        |  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
        |    CAST(l_quantity AS INTEGER) AS qty,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS INTEGER) AS disc,
        |    CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS INTEGER) AS tax
        |  FROM lineitem),
        |m AS (SELECT 'quantity' AS feature, qty AS bin, y FROM li
        |  UNION ALL SELECT 'discount', disc, y FROM li
        |  UNION ALL SELECT 'tax', tax, y FROM li),
        |h AS (SELECT feature, bin, count(*) AS n, sum(y) AS s
        |      FROM m GROUP BY 1, 2),
        |g AS (SELECT feature, bin,
        |    sum(n) OVER wo AS nl, sum(s) OVER wo AS sl,
        |    sum(n) OVER wa AS nt, sum(s) OVER wa AS st
        |  FROM h
        |  WINDOW wo AS (PARTITION BY feature ORDER BY bin),
        |         wa AS (PARTITION BY feature)),
        |gg AS (SELECT feature, bin, nl, nt - nl AS nr,
        |    round(CAST(st AS DOUBLE) * (nt - st) / nt
        |      - CAST(sl AS DOUBLE) * (nl - sl) / nl
        |      - CAST(st - sl AS DOUBLE) * ((nt - nl) - (st - sl)) / (nt - nl),
        |      9) AS gain
        |  FROM g WHERE nl < nt),
        |r AS (SELECT *, row_number()
        |        OVER (PARTITION BY feature ORDER BY gain DESC, bin) AS rn
        |      FROM gg)
        |SELECT feature, bin AS split_bin, CAST(nl AS BIGINT) AS n_left,
        |  CAST(nr AS BIGINT) AS n_right, gain
        |FROM r WHERE rn = 1 ORDER BY feature""".stripMargin)),
    // the same three peeling rounds unrolled; K = lower-median degree
    // via the explicit middle-row rule
    Key("graph_kcore", graphKcore, Some(
      // every CTE is MATERIALIZED: each peel round references the
      // previous round's frames more than once (the two endpoint joins
      // plus the count subqueries), and DuckDB inlines multi-referenced
      // CTEs here — round 3's inlined tree re-expands rounds 1-2
      // combinatorially (measured at sf0.1: >80 GB of spilled temp vs
      // 5 s materialized). This is the SQL spelling of the engine's
      // per-round localCheckpoint.
      """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |und AS MATERIALIZED (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        |d0 AS MATERIALIZED (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY 1),
        |kk AS MATERIALIZED (
        |  SELECT d AS k FROM (
        |    SELECT d, row_number() OVER (ORDER BY d, node) AS rn,
        |      count(*) OVER () AS m FROM d0)
        |  WHERE rn = (m + 1) // 2),
        |k1 AS MATERIALIZED (SELECT node FROM d0, kk WHERE d >= k),
        |e1 AS MATERIALIZED (SELECT u, v FROM und
        |       JOIN k1 a ON und.u = a.node JOIN k1 b ON und.v = b.node),
        |d1 AS MATERIALIZED (
        |  SELECT k1.node, COALESCE(c.d, 0) AS d FROM k1 LEFT JOIN (
        |    SELECT node, count(*) AS d FROM (
        |      SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1)
        |    GROUP BY 1) c USING (node)),
        |k2 AS MATERIALIZED (SELECT node FROM d1, kk WHERE d >= k),
        |e2 AS MATERIALIZED (SELECT u, v FROM e1
        |       JOIN k2 a ON e1.u = a.node JOIN k2 b ON e1.v = b.node),
        |d2 AS MATERIALIZED (
        |  SELECT k2.node, COALESCE(c.d, 0) AS d FROM k2 LEFT JOIN (
        |    SELECT node, count(*) AS d FROM (
        |      SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2)
        |    GROUP BY 1) c USING (node)),
        |k3 AS MATERIALIZED (SELECT node FROM d2, kk WHERE d >= k)
        |SELECT CAST(1 AS BIGINT) AS round, kk.k,
        |  (SELECT count(*) FROM d0) - (SELECT count(*) FROM k1) AS n_removed,
        |  (SELECT count(*) FROM k1) AS n_remaining FROM kk
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), kk.k,
        |  (SELECT count(*) FROM k1) - (SELECT count(*) FROM k2),
        |  (SELECT count(*) FROM k2) FROM kk
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), kk.k,
        |  (SELECT count(*) FROM k2) - (SELECT count(*) FROM k3),
        |  (SELECT count(*) FROM k3) FROM kk
        |ORDER BY round""".stripMargin)),
    Key("assoc_rules", assocRules, Some(
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |n AS (SELECT count(DISTINCT o) AS n_orders FROM op),
        |ic AS (SELECT p, count(*) AS cnt FROM op GROUP BY 1),
        |pr AS (
        |  SELECT a.p AS part_a, b.p AS part_b, count(*) AS support
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT pr.part_a, pr.part_b, pr.support,
        |  round(CAST(pr.support AS DOUBLE) / ca.cnt, 6) + 0.0 AS conf_ab,
        |  round(CAST(pr.support AS DOUBLE) / cb.cnt, 6) + 0.0 AS conf_ba,
        |  round(CAST(pr.support AS DOUBLE) * n.n_orders / (ca.cnt * cb.cnt), 6)
        |    + 0.0 AS lift
        |FROM pr
        |JOIN ic ca ON pr.part_a = ca.p
        |JOIN ic cb ON pr.part_b = cb.p
        |CROSS JOIN n
        |ORDER BY part_a, part_b""".stripMargin)),
    Key("markov_transitions", markovTransitions, Some(
      """WITH e AS (
        |  SELECT user_id, event_type, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |t AS (SELECT event_type AS src,
        |        lead(event_type) OVER (PARTITION BY user_id
        |          ORDER BY us, event_id) AS dst
        |      FROM e),
        |c AS (SELECT src, dst, count(*) AS n FROM t
        |      WHERE dst IS NOT NULL GROUP BY 1, 2)
        |SELECT src, dst, n,
        |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src), 6) + 0.0
        |    AS prob
        |FROM c ORDER BY src, dst""".stripMargin)),
    Key("session_paths", sessionPaths, Some(
      """WITH e AS (
        |  SELECT user_id, event_type, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |t AS (SELECT event_type AS a,
        |        lead(event_type, 1) OVER w AS b,
        |        lead(event_type, 2) OVER w AS c
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
        |SELECT a || '>' || b || '>' || c AS path, count(*) AS n
        |FROM t WHERE c IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path""".stripMargin)),
    Key("graph_triangles", graphTriangles, Some(
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |und AS (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        |deg AS (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v FROM und)
        |  GROUP BY 1),
        |""".stripMargin + duckOrientedDr + """
        |tri AS (
        |  SELECT count(*) AS triangles
        |  FROM dr e1
        |  JOIN dr e2 ON e1.src = e2.src
        |    AND (e1.dd, e1.dst) < (e2.dd, e2.dst)
        |  JOIN dir e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
        |SELECT (SELECT count(*) FROM deg) AS nodes,
        |       (SELECT count(*) FROM und) AS edges,
        |       tri.triangles
        |FROM tri""".stripMargin)),
    Key("rfm_segments", rfmSegments, Some(
      """WITH o AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_totalprice
        |  FROM orders),
        |mx AS (SELECT max(d) AS max_d FROM o),
        |rfm AS (
        |  SELECT o_custkey,
        |    CAST(date_diff('day', max(d), (SELECT max_d FROM mx)) AS BIGINT)
        |      AS recency,
        |    count(*) AS frequency,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS monetary
        |  FROM o GROUP BY 1),
        |cuts AS (
        |  SELECT
        |    round(quantile_cont(CAST(recency AS DOUBLE), 0.2), 6) AS r1,
        |    round(quantile_cont(CAST(recency AS DOUBLE), 0.4), 6) AS r2,
        |    round(quantile_cont(CAST(recency AS DOUBLE), 0.6), 6) AS r3,
        |    round(quantile_cont(CAST(recency AS DOUBLE), 0.8), 6) AS r4,
        |    round(quantile_cont(CAST(frequency AS DOUBLE), 0.2), 6) AS f1,
        |    round(quantile_cont(CAST(frequency AS DOUBLE), 0.4), 6) AS f2,
        |    round(quantile_cont(CAST(frequency AS DOUBLE), 0.6), 6) AS f3,
        |    round(quantile_cont(CAST(frequency AS DOUBLE), 0.8), 6) AS f4,
        |    round(quantile_cont(monetary, 0.2), 6) AS m1,
        |    round(quantile_cont(monetary, 0.4), 6) AS m2,
        |    round(quantile_cont(monetary, 0.6), 6) AS m3,
        |    round(quantile_cont(monetary, 0.8), 6) AS m4
        |  FROM rfm)
        |SELECT o_custkey, recency, frequency, monetary,
        |  1 + CAST(recency < r1 AS BIGINT) + CAST(recency < r2 AS BIGINT)
        |    + CAST(recency < r3 AS BIGINT) + CAST(recency < r4 AS BIGINT)
        |    AS r_score,
        |  1 + CAST(frequency > f1 AS BIGINT) + CAST(frequency > f2 AS BIGINT)
        |    + CAST(frequency > f3 AS BIGINT) + CAST(frequency > f4 AS BIGINT)
        |    AS f_score,
        |  1 + CAST(monetary > m1 AS BIGINT) + CAST(monetary > m2 AS BIGINT)
        |    + CAST(monetary > m3 AS BIGINT) + CAST(monetary > m4 AS BIGINT)
        |    AS m_score,
        |  CAST(1 + CAST(recency < r1 AS BIGINT) + CAST(recency < r2 AS BIGINT)
        |    + CAST(recency < r3 AS BIGINT) + CAST(recency < r4 AS BIGINT)
        |    AS VARCHAR) ||
        |  CAST(1 + CAST(frequency > f1 AS BIGINT) + CAST(frequency > f2 AS BIGINT)
        |    + CAST(frequency > f3 AS BIGINT) + CAST(frequency > f4 AS BIGINT)
        |    AS VARCHAR) ||
        |  CAST(1 + CAST(monetary > m1 AS BIGINT) + CAST(monetary > m2 AS BIGINT)
        |    + CAST(monetary > m3 AS BIGINT) + CAST(monetary > m4 AS BIGINT)
        |    AS VARCHAR) AS segment
        |FROM rfm CROSS JOIN cuts
        |ORDER BY o_custkey""".stripMargin)),
    Key("seasonal_dow", seasonalDow, Some(
      """WITH e AS (
        |  SELECT event_type,
        |    dayofweek(CAST(CAST(ts AS TIMESTAMP) AS DATE)) + 1 AS dow,
        |    CAST("value" AS DECIMAL(18,2)) AS v
        |  FROM events),
        |c AS (SELECT event_type, CAST(dow AS BIGINT) AS dow,
        |        count(*) AS n, sum(v) AS sv
        |      FROM e GROUP BY 1, 2)
        |SELECT event_type, dow, n,
        |  round(CAST(sv AS DOUBLE) / n, 6) + 0.0 AS avg_value,
        |  round((CAST(sv AS DOUBLE) / n) /
        |        (CAST(sum(sv) OVER (PARTITION BY event_type) AS DOUBLE) /
        |         sum(n) OVER (PARTITION BY event_type)), 6) + 0.0 AS idx
        |FROM c ORDER BY event_type, dow""".stripMargin)),
  ).map { k =>
    // the graph family's unrolled iterative oracles must replay with
    // materialized rounds (see OracleSql.matCtes) -- applied uniformly
    // here so a future graph key cannot ship an inlining-vulnerable oracle
    if (k.name.startsWith("graph_"))
      k.copy(oracle = k.oracle.map(OracleSql.matCtes))
    else k
  }
}
