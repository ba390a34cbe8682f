package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{CoreOps, Eager, RelationalOps}
import graft.sources.Tables

/** Plan-shape regression tests: pin the scale-discipline facts that
  * `.explain` audits found, so a refactor that silently loses pushdown or
  * a broadcast shows up as a red test, not a slow cluster.
  *
  * The targeted tests build their one frame here. The inventory-wide
  * checks (partitionless window, multi-consumer composites,
  * text_quality_buckets, cartesian, nested-loop join, fleet sweep and the
  * allowlist audit) read the one [[InventorySweep]] record per key: the
  * window, scan, checkpoint-leaf and duplicated-subtree facts come from the
  * optimized plan, the cartesian and nested-loop facts from the physical
  * plan before execution, and the duplicated-exchange facts from the
  * AQE-final plan after the run. Each check lists every offender and every
  * key whose build or run failed. Each sweep predicate also has a
  * planted-offender test that feeds a hand-built offender and a clean frame
  * through [[InventorySweep.record]], so a predicate that stops firing
  * fails here instead of passing vacuously. */
class PlanShapeSpec extends SparkSuite {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** `body` with the session conf `key` set to `value`, restored after. */
  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def events: DataFrame = Tables.events(spark, sf0001)

  private def sweep = InventorySweep(spark)

  /** Keys where the fleet sweep's duplicated fact-bearing shuffle subtree
    * is ARGUED acceptable. Membership is NOT a blanket exemption: the
    * allowlist-audit test reads each key's run in the sweep and asserts
    * the verified property — the bit-equal logical copies collapse physically
    * (ReusedExchange) or are eliminated at runtime (AQE empty-relation
    * propagation), i.e. no two canonically-equal materialized
    * fact-bearing exchanges ever both execute. */
  private val dupAllowed: Set[String] = Set(
    "budget_waterfall", "decontaminate_report", "dedup_embed",
    "dedup_simhash", "dist_atkinson", "dist_theil", "dq_out_of_order",
    "dq_referential", "dq_volume_anomaly", "embed_knn_graph", "eval_auc",
    "eval_brier_decomp", "eval_ece", "eval_lift", "eval_roc_points",
    "forecast_ar2", "join_bloom_prefilter",
    "pack_greedy_bins", "pack_sequences", "pareto_abc",
    "pipeline_training_corpus", "rfm_segments", "sample_ess",
    "sample_neyman_alloc", "sample_pps", "seasonal_decompose",
    "skyline_2d", "source_overlap", "stats_breusch_pagan",
    "stats_cohens_d", "stats_dw", "stats_hodges_lehmann", "stats_hurst",
    "stats_influence", "stats_kendall_tau", "stats_kendall_w",
    "stats_nemenyi", "stats_psi", "stats_qq_normal",
    "stats_quade", "stats_rmst", "stats_sample_entropy",
    "stats_sign_test", "stats_stl_strength", "stats_trimmed_mean",
    "stats_ttest", "stats_welch_anova", "stats_wilcoxon_signed",
    "stats_woolf", "stats_xbar_chart", "text_collocations",
    "text_freq_drift", "tpch_q11", "weighted_median", "window_ntile",
    "window_rank_family_scaled")

  test("flagship joins the dims broadcast, never cartesian") {
    val plan = planOf(CoreOps.flagshipRevenue(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("summary_stats pushes the date range into the parquet scan") {
    val plan = planOf(CoreOps.summaryStats(spark, sf0001))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual"),
      plan.take(2000))
  }

  test("range_filter pushes the timestamp bounds into the scan") {
    val plan = planOf(CoreOps.rangeFilter(spark, sf0001))
    assert(plan.contains("GreaterThanOrEqual(ts,"), plan.take(2000))
  }

  test("scans prune to the referenced columns only") {
    val plan = planOf(CoreOps.groupbyAvg(spark, sf0001))
    // only l_returnflag + l_quantity should be read from the 11-col table
    assert(plan.contains("ReadSchema: struct<l_quantity:double,l_returnflag:string>"),
      plan.take(2000))
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val plan = planOf(RelationalOps.topkLimit(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
  }

  test("partial aggregation happens below the shuffle") {
    val plan = planOf(CoreOps.valueCounts(spark, sf0001))
    assert(plan.contains("partial_count"), plan.take(2000))
  }

  test("hot aggregation paths run inside whole-stage codegen") {
    // the '*(n)' markers are codegen span ids — their absence would mean
    // an interpreted operator crept into the scan→filter→aggregate spine
    Seq(CoreOps.flagshipRevenue(spark, sf0001),
        graft.operators.AdvancedOps.tpchQ1(spark, sf0001),
        graft.operators.AdvancedOps.tpchQ6(spark, sf0001)).foreach { df =>
      df.collect() // AQE only shows codegen spans once stages have run
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("*("), plan.take(1500))
    }
  }

  test("bucketed join runs with zero Exchange: scan→join→agg→topk, no shuffle") {
    val df = RelationalOps.joinBucketed(spark, sf0001)
    val plan = planOf(df)
    assert(!plan.contains("Exchange"), plan.take(2000))
    // and it still produces the same answer as the shuffled form's oracle
    assert(df.count() === 10)
  }

  test("bucketed aggregate runs with zero Exchange (bucket-subset rule)") {
    val df = RelationalOps.aggBucketed(spark, sf0001)
    val plan = planOf(df)
    // the 16-way bucket hash on l_orderkey satisfies the groupBy's
    // required distribution, and top-k is TakeOrderedAndProject — so NO
    // row crosses the network anywhere in the plan
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(df.count() === 10)
  }

  test("bucket count is a sizing dial: derived floor, keyed name") {
    import graft.sources.Bucketed
    val n = Bucketed.bucketCount(spark, sf0001)
    // every driver SF sits under TargetRowsPerBucket × MinBuckets → floor
    assert(n === Bucketed.MinBuckets)
    // a 10× corpus would derive more buckets (the sf≈1 finding): simulate
    // the arithmetic the count implements
    assert(math.ceil(6000000.0 / Bucketed.TargetRowsPerBucket).toInt === 40)
    // the count flows into the content-keyed layout names, and the layout
    // keeps the zero-Exchange plan the bucketing exists for
    val (ot, lt) = Bucketed.ensure(spark, sf0001)
    assert(ot.startsWith(s"graft_orders_b${n}_") &&
      lt.startsWith(s"graft_lineitem_b${n}_"), s"$ot, $lt")
    val df = RelationalOps.joinBucketed(spark, sf0001)
    assert(!planOf(df).contains("Exchange"))
    assert(df.count() === 10)
  }

  test("scan_pruned_day prunes to one day directory via PartitionFilters") {
    // AQE's wrapper hides the scan node from collectLeaves; the pruning
    // behavior under test is identical either way
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = RelationalOps.scanPrunedDay(spark, sf0001)
      val plan = planOf(df)
      // the day filter must resolve against the file index, not per-row
      assert(plan.contains("PartitionFilters: [isnotnull(day"), plan.take(2500))
      // and the scan must touch exactly ONE of the ~30 day partitions
      val scanned = df.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }
      assert(scanned.nonEmpty && scanned.forall(_ == 1),
        s"selected partition counts: $scanned\n${plan.take(2000)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("scan_pruned_dpp injects a dynamic pruning expression into the scan") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = RelationalOps.scanPrunedDpp(spark, sf0001)
      val plan = planOf(df)
      // the day set is only known at runtime (filtered dim), so pruning
      // must ride a dynamicpruning subquery inside PartitionFilters —
      // not a per-row post-scan filter
      assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(2500))
      // and the result matches: partitions actually pruned at execution
      df.collect()
      val scanned = df.queryExecution.executedPlan.collectLeaves().collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.output.exists(_.name == "event_type") =>
          f.selectedPartitions.partitionCount
      }
      // day(d) % 7 = 3 keeps ~1/7 of a month's days (3rd,10th,17th,24th,31st)
      assert(scanned.nonEmpty && scanned.forall(n => n > 0 && n <= 6),
        s"selected partition counts: $scanned\n${plan.take(2000)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("no key anywhere plans a partitionless Window over a fact table") {
    // a Window with an empty PARTITION BY funnels its whole input through
    // one task — the single-task scale cliff window_ntile's bucketed
    // rewrite exists to avoid. A partitionless Window is legitimate ONLY
    // when its input is already group-sized: every path from the Window
    // down to a scan must pass through an Aggregate or a Limit (e.g.
    // stats_ks's grouped value grid, seasonal_decompose's daily frame —
    // bounded by the group domain, not the fact cardinality), looking
    // through cached and checkpointed leaves. Assert NO inventory key runs
    // a partitionless Window directly over fact-sized input.
    val offenders = sweep.offenders { r =>
      Option.when(r.partitionlessWindows > 0)(
        s"${r.name} has a partitionless Window over fact-sized input")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("a key whose build or run throws is listed by name in every inventory check") {
    val broken = InventorySweep.record("broken", throw new IllegalStateException("boom"))
    assert(broken.error.exists(_.contains("boom")), broken)
    val failsOnRun = InventorySweep.record("fails_on_run",
      spark.range(1).select(raise_error(lit("boom"))))
    assert(failsOnRun.error.exists(_.contains("boom")), failsOnRun)
    val ok = InventorySweep.record("ok", spark.range(1).toDF())
    val s = new InventorySweep.Sweep(IndexedSeq(broken, failsOnRun, ok))
    assert(s.offenders(_ => None) === Seq(
      s"broken failed: ${broken.error.get}",
      s"fails_on_run failed: ${failsOnRun.error.get}"))
    assert(s.offenders(r => Some(r.name)).last === "ok")
  }

  test("the partitionless-window fact flags a window over the events scan," +
      " not one over an aggregate") {
    val planted = InventorySweep.record("planted",
      events.withColumn("rn", row_number().over(Window.orderBy("ts"))))
    assert(planted.error.isEmpty, planted.error)
    assert(planted.partitionlessWindows === 1)
    val clean = InventorySweep.record("clean",
      events.groupBy("event_type").count()
        .withColumn("r", rank().over(Window.orderBy("count"))))
    assert(clean.error.isEmpty, clean.error)
    assert(clean.partitionlessWindows === 0)
  }

  test("text_quality_buckets scans documents ONCE (shared eager subplan)") {
    // the tercile thresholds and the bucketing pass both consume the
    // quality score; the score must come from one shared MATERIALIZED
    // copy (Eager/localCheckpoint — already computed at plan-build time),
    // not two independent documents scans re-running the regexes. Both
    // consumers must read checkpointed leaves; no branch may go back to
    // parquet.
    assert(sweep.failed.isEmpty, sweep.failed.mkString("\n"))
    val r = sweep("text_quality_buckets")
    assert(r.checkpointReads === 2, r)
    assert(r.scanPaths.isEmpty,
      s"documents scanned outside the shared eager frame: ${r.scanPaths}")
  }

  test("multi-consumer composites read their shared stage from checkpointed" +
      " blocks — the fact table cannot be re-scanned per branch") {
    // The round-8 lesson: dedup_pipeline's shared shingle/Jaccard frames
    // were `.cache()`d, and under the driver's multi-tenant refresh the
    // three fan-out branches recomputed them (cold-cache race + eviction)
    // at 6.5× the idle-box cost. The fix is Eager (localCheckpoint(true)):
    // the shared stage executes exactly once AT PLAN-BUILD TIME, and every
    // branch's plan bottoms out in LogicalRDD leaves over the checkpointed
    // blocks. That makes "executes once per action" a STRUCTURAL property
    // checkable here: if the optimized plan contains no parquet leaf over
    // the fact table, no action can ever re-scan (or re-shingle) it —
    // there is no lineage left to re-execute. Entries map key → max
    // allowed direct fact-table scans (non-zero where a branch
    // legitimately takes its own single pass, e.g. a corpus row count).
    val expected: Seq[(String, String, Int)] = Seq(
      // NOTE round 10: this audit was VACUOUS as originally written —
      // `l.relation.toString` is just "parquet" (no path), so the
      // per-table match below never fired and every `<=` held trivially.
      // Fixed to match the FileIndex root paths (scanPathsOf); the whole
      // expected list re-verified against the real counts.
      ("dedup_pipeline", "documents", 0),
      ("dedup_ngram", "documents", 0),
      ("dedup_minhash", "documents", 0),
      ("dedup_minhash_fast", "documents", 0),
      ("dedup_containment", "documents", 0),
      ("eval_dedup_pr", "documents", 0),
      ("eval_dedup_pr_sampled", "documents", 0),
      ("eval_lsh_curve", "documents", 0),
      ("eval_dedup_threshold", "documents", 1), // the n_docs denominator
      ("eval_nb_confusion", "documents", 0),
      ("eval_cohen_kappa", "documents", 0),
      ("text_nb_lang", "documents", 0),  // tokens AND priors checkpointed
      ("text_lm_score", "documents", 1), // vocab; bigrams are checkpointed
      ("eval_recsys_coverage", "lineitem", 0),
      ("eval_recsys_hitrate", "lineitem", 0),
      ("recsys_item_knn", "lineitem", 0),
      ("assoc_rules", "lineitem", 0),
      ("graph_triangles", "lineitem", 0),
      ("graph_bfs", "lineitem", 0),
      ("graph_path_counts", "lineitem", 0),
      ("graph_closeness", "lineitem", 0),
      ("graph_kcore", "lineitem", 0),
      ("graph_common_neighbors", "lineitem", 0),
      ("graph_pagerank", "lineitem", 0),
      ("graph_eigencentrality", "lineitem", 0),
      ("graph_label_prop", "lineitem", 0),
      ("graph_modularity", "lineitem", 0),
      ("graph_hits", "lineitem", 0),
      // attribution's one-pass explode form has a SINGLE consumer of the
      // timeline, so the correct plan is one direct scan, no checkpoint
      ("attribution", "events", 1),
      ("rolling_active_users", "events", 0),
      ("join_null_safe", "events", 0),
      ("stats_mutual_info", "events", 0),
      ("stats_mann_kendall", "events", 0),
      ("stats_pettitt", "events", 0),
      ("stats_kruskal", "events", 0),
      ("stats_ordinal_assoc", "events", 0),
      ("stats_theil_u", "documents", 0),
      ("pipeline_mix_raking", "documents", 0),
      ("text_cond_entropy", "documents", 0),
      ("text_quality_buckets", "documents", 0),
      ("text_keyphrase_rake", "documents", 0))
    val violations = sweep.failed ++ expected.flatMap { case (key, fact, maxScans) =>
      val n = sweep(key).scans(fact)
      Option.when(n > maxScans)(s"$key re-scans $fact ${n}x (allowed $maxScans)")
    }
    assert(violations.isEmpty,
      "shared stages lost their eager materialization:\n" +
        violations.mkString("\n"))
  }

  test("tpch_q5 broadcasts every dimension and shuffles only the fact join") {
    val plan = planOf(graft.operators.AdvancedOps.tpchQ5(spark, sf0001))
    // region/nation/supplier ride broadcast; lineitem⋈orders (and the
    // customer join) are the only shuffled joins — no dim may demote the
    // plan to a shuffle, no join may nest-loop
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("heavy_hitters aggregates partially map-side (sketch summaries shuffle, not tokens)") {
    val plan = planOf(graft.operators.TextOps.heavyHitters(spark, sf0001))
    // TypedImperativeAggregate lowers to ObjectHashAggregate with a
    // partial phase before the exchange: only capacity-sized summaries
    // cross the wire. A plan that groups raw tokens instead would show a
    // HashAggregate keyed on token below the exchange.
    assert(plan.contains("ObjectHashAggregate"), plan.take(1500))
    assert("ObjectHashAggregate.*partial_graft_heavy_hitters".r
      .findFirstIn(plan.replaceAll("\n", " ")).isDefined, plan.take(1500))
  }

  test("no key in the whole inventory plans a cartesian product") {
    val offenders = sweep.offenders(r =>
      Option.when(r.cartesian)(s"${r.name} plans a CartesianProduct"))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the cartesian fact flags a cross join planned without broadcast," +
      " not an equi-join") {
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val planted = InventorySweep.record("planted",
        spark.range(3).crossJoin(spark.range(4).withColumnRenamed("id", "j")))
      assert(planted.error.isEmpty, planted.error)
      assert(planted.cartesian)
      val clean = InventorySweep.record("clean",
        spark.range(3).join(spark.range(4), "id"))
      assert(clean.error.isEmpty, clean.error)
      assert(!clean.cartesian)
    }
  }

  test("nested-loop joins appear only where a 1-row broadcast makes them the plan") {
    // a BroadcastNestedLoopJoin whose build side is ONE broadcast row (or
    // a ≤64-row stats table) is the correct plan for scalar-vs-table
    // combinations: sim_search*'s probe vector (joined non-equi on
    // vec_id <> p_id), text_tfidf's corpus-count crossJoin, and
    // window_ntile's bounds/offsets/total broadcasts. Everything else
    // must not nest-loop.
    val allowed = Set("sim_search", "sim_search_ann", "sim_search_lsh",
      "sim_search_ivf", "sim_search_ivf_serve",
      // round 11: the trained-ANN keys return the annInvariant summary,
      // which embeds the brute-force arm (1-row probe broadcast — the
      // audited sim_search shape) as the recall reference
      "sim_search_pq", "sim_search_pq_serve",
      "sim_search_ivfpq", "sim_search_ivfpq_serve",
      "approx_distinct_merge", // 1-row exact-total broadcast crossJoin
      // 1-row MG-summary + token-total broadcasts (invariant-oracle form)
      "heavy_hitters", "heavy_hitters_merge",
      "text_tfidf", "window_ntile",
      "window_rank_family_scaled", "pack_sequences", "embed_align",
      "pipeline_training_corpus",
      "tpch_q22", // scalar avg-balance broadcast (1 row) vs customer
      "tpch_q15", // scalar max-revenue broadcast (1 row) vs supplier revenue
      "tpch_q11", // scalar corpus-total broadcast (1 row) vs per-part values
      "text_quality_buckets", // 2-value tercile-threshold broadcast
      "decontaminate_bloom",  // 1-row 128 KB Bloom-bitmap broadcast
      "count_min_freq",       // 1-row 64 KB merged-sketch broadcast
      // late-round-7 scalar/group-sized broadcasts (each site audited in
      // its operator's scaladoc: the build side is a 1-row aggregate or a
      // frame bounded by a tiny group domain, never fact-sized):
      "assoc_rules",       // 1-row order-count broadcast (lift denominator)
      "graph_triangles",   // 1-row node/edge/triangle counts combined
      "rfm_segments",      // 1-row quintile cut-point broadcast
      "seasonal_dow",      // 1-row max-day broadcast
      "stats_ttest",       // |event_types|² moment-pair grid (~25 rows)
      "stats_chi2",        // |event_types|×7 marginal grid (~35 rows)
      "stats_cramers_v",   // the same chi2 grid + 1-row n broadcast
      "stats_kendall_tau", // |days|²/2 pair join on the day-grid frame
      "stats_wilcoxon_signed", // 1-row tie-correction broadcast
      "stats_ks",          // 1-row total-counts broadcast
      "stats_mannwhitney", // 1-row totals (n1, n2, tie3) broadcast
      "dq_profile",        // four 1-row per-table assertion frames
      "sample_mixture",    // 1-row feasibility (nfeas) broadcast
      "sample_temperature", // 1-row (wsum, budget) sizing broadcast
      "text_lm_score",     // 1-row vocabulary-size broadcast
      "stats_psi",         // |types|×10 dense bucket grid (≤50 rows)
      "sample_negatives",  // 1-row part-count broadcast
      "source_overlap",    // 1-row corpus vocabulary-size broadcast
      "text_collocations", // 1-row corpus token-total broadcast
      // session-6 scalar/tiny broadcasts:
      "anomaly_seasonal",     // 1-row median + 1-row MAD broadcasts
      "sample_epoch_shuffle", // 2-row epoch frame broadcast
      // session-7 scalar/band-frame broadcasts (audited in scaladoc):
      "pareto_abc",      // 1-row (width,total) + ≤1025-row band-offset frame
      "budget_waterfall", // same bandedRevCum broadcasts as pareto_abc
      "skyline_2d",      // 1-row width + ≤1025-row band-max frame
      "weighted_median", // 1-row width broadcast (targets join is equi)
      "text_bm25",       // 1-row corpus-statistics broadcast
      "text_zipf_fit",   // 1-row vocabulary-count broadcast vs 1-row fit
      "stats_ljung_box", // 1-row day-count broadcast vs 7-row ACF frame
      "stats_jsd",       // 1-row ref/cur-totals broadcast vs type frame
      "hist_kde",        // 64-row grid broadcast vs the fact scan
      "stats_changepoint", // 1-row (n, S_n) totals broadcast vs day frame
      "stats_hodges_lehmann", // 1-row count frame × 1-row median frame
      "text_nb_lang",    // |langs|-row model frame broadcast vs doc tokens
      "stats_cohens_d",  // 5-row moment frame self-pair on a < b
      "stats_ecdf",      // 21-row grid broadcast vs the fact scan
      "sample_ess",      // 1-row totals broadcast vs the class frame
      "dq_volume_anomaly", // 1-row median + 1-row MAD broadcasts
      "stats_mutual_info", // 1-row total/entropy frames combined
      // session-8/9 scalar/grid broadcasts (each audited: build side is
      // a 1-row aggregate or a frame bounded by a tiny group domain):
      "dq_freshness",      // 1-row corpus-max-ts broadcast vs type frame
      "graph_degree_dist", // 1-row total-node-count broadcast vs bins
      "hist_2d",           // 1-row totals broadcast vs the 7×24 grid
      "stats_friedman",    // |days|×|types| zero-filled grid crossJoin
      "stats_influence",   // 1-row regression-moment broadcast vs days
      "stats_kruskal",     // 1-row totals broadcast vs the value grid
      "stats_mcnemar",     // 1-row discordant-pair counts combined
      // session-10 scalar/tiny broadcasts (audited in scaladoc):
      "graph_modularity",  // 1-row (a, within) × 1-row (k, Σd²) frames
      "privacy_t_closeness", // |types|-row global-distribution broadcast
      "stats_kaplan_meier",  // 1-row corpus-horizon (max ts) broadcast
      "stats_logrank",       // same horizon broadcast + 1-row group frame
      "stats_nelson_aalen",  // same subjects-frame horizon broadcast
      "stats_cochran_q",     // 1-row column-sum frame × 1-row row-sum frame
      "stats_page_trend",    // |days|×|types| grid (the friedman shape)
      "stats_lincoln_petersen", // 1-row min-day broadcast
      "dq_referential",      // eleven 1-row count frames combined
      "embed_triplet_mine",  // 20-row hash-anchor broadcast, ≠-join
      "eval_ann_recall",     // the same 20-row anchor broadcast
      "sample_neyman_alloc", // 1-row (Σw, Σn) + 1-row remainder frames
      // late-session-10 scalar broadcasts (audited: every build side is
      // a 1-row aggregate or the |langs|-row model frame):
      "text_freq_drift",      // 1-row median-split + 1-row totals frames
      "eval_dedup_pr",        // three 1-row count frames combined
      "eval_recsys_coverage", // 1-row gini/catalog/active count frames
      "eval_nb_confusion",    // |langs|-row model frame (the nb_lang shape)
      // session-11 scalar broadcasts (audited in scaladoc: every build
      // side is a 1-row aggregate or a fixed literal ladder):
      "stats_qq_normal",      // 1-row moment + 1-row decile frames
      "eval_auc",             // 1-row centroid + 1-row totals broadcasts
      "eval_calibration",     // the same 1-row centroid broadcast
      "dist_theil",           // 1-row (n, s, mu) totals broadcast
      "dist_atkinson",        // the same 1-row totals broadcast
      "stats_wasserstein",    // 1-row (n1, n2) totals broadcast vs grid
      "stats_cliff_delta",    // the same 1-row totals broadcast
      "stats_mood_median",    // 1-row grand-median + 1-row 2×k totals
      "sample_class_balance", // 1-row minority-cap broadcast
      "sample_kfold",         // 1-row fold-total broadcast vs k rows
      // later-session-11 scalar broadcasts (audited in scaladoc):
      "eval_roc_points",      // 1-row centroid + 1-row totals broadcasts
      "eval_lift",            // the same centroid/totals broadcasts
      "graph_closeness",      // 1-row node-count broadcast vs 5 seeds
      "stats_ansari_bradley", // 1-row (n1,n2,N) totals broadcast vs grid
      "stats_tost",           // 1-row moment frame × 1-row moment frame
      "stats_welch_anova",    // 1-row weight-sum broadcast vs k rows
      "stats_weibull_fit",    // 1-row corpus-horizon (max us) broadcast
      // session-12 scalar broadcasts (audited: build sides below):
      "stats_rmst",           // 1-row horizon (tau) broadcast
      "stats_life_table",     // the shared survival-horizon broadcast
      "stats_kendall_w",      // |days|×|types| grid + 1-row tie frame
      "stats_theil_u",        // 1-row grand-total broadcast vs margins
      "stats_ordinal_assoc",  // bounded day-grid ≠-join + 1-row totals
      "text_burstiness",      // 1-row corpus-total broadcast
      "pipeline_mix_raking",  // 1-row total + margin frames
      "eval_cohen_kappa",     // 1-row expected-agreement frame
      // session-13 scalar broadcasts (audited in scaladoc):
      "embed_knn_classify",   // 20-row hash-anchor broadcast, ≠-join
      "eval_knn_sweep",       // the same 20-row anchor broadcast
      "eval_brier_decomp",    // 1-row centroid + 1-row totals broadcasts
      "eval_ece",             // the same centroid/totals broadcasts
      "pipeline_dataset_card", // 1-row corpus-totals broadcast
      "stats_pacf",           // 1-row ACF frame × 1-row day count
      "stats_woolf",          // 1-row pooled-lnOR broadcast vs 7 strata
      // late-session-13 scalar broadcasts (audited: each build side is
      // a 1-row aggregate — SPRT constants, corpus totals, id bounds):
      "ab_sprt",              // 1-row (p0, p1, c1, c2) constants frame
      "dq_out_of_order",      // 1-row ladder-total broadcast
      "eval_dedup_threshold", // 1-row corpus doc-count broadcast
      "join_null_safe",       // 1-row corpus-midpoint broadcast
      "pack_greedy_bins",     // 1-row (lo, hi) id-bounds broadcast
      "sample_pps",           // 1-row id-bounds + 1-row mass-total
      "text_shingle_stats",   // 1-row corpus-totals broadcast
      "stats_mood_scale",     // 1-row N + 1-row n2 total frames
      "sample_token_budget",  // 1-row language-count broadcast
      "stats_quade",          // 1-row A-statistic frame
      "stats_nemenyi")        // 1-row treatment-count broadcast
    val stale = allowed -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"allowlisted but not registered: $stale")
    // collect ALL offenders before asserting — a failure names every
    // key that needs auditing, not just the alphabetically first
    val offenders = sweep.offenders(r =>
      Option.when(r.nestedLoop && !allowed(r.name))(r.name))
    assert(offenders.isEmpty, s"BNLJ outside the audited allowlist: " +
      offenders.mkString(", "))
  }

  test("the nested-loop fact flags a broadcast non-equi join, not an equi-join") {
    val right = spark.range(4).withColumnRenamed("id", "j")
    val planted = InventorySweep.record("planted",
      spark.range(3).join(right, col("id") < col("j")))
    assert(planted.error.isEmpty, planted.error)
    assert(planted.nestedLoop)
    val clean = InventorySweep.record("clean",
      spark.range(3).join(right, col("id") === col("j")))
    assert(clean.error.isEmpty, clean.error)
    assert(!clean.nestedLoop)
  }

  test("fleet sweep: no key re-executes a duplicated fact-bearing shuffle" +
      " subplan (self-extending checkpoint audit)") {
    // The duplicated subtrees are the sweep record's `dupShuffles`, taken
    // from each key's optimized plan right after its build, before it runs.
    // The per-key checkpoint audit above is hand-maintained, and
    // text_keyphrase_rake proved it can lag: a new composite shipped with
    // a lazy multi-consumer frame and nobody added the entry. This sweep
    // makes the audit SELF-EXTENDING: a shared-but-unmaterialized frame
    // shows up in the OPTIMIZED logical plan as the same subtree
    // duplicated verbatim (Catalyst clones the subtree per consumer —
    // there is no DAG sharing at the logical level), and each copy
    // re-executes at run time. Walk EVERY key's optimized plan and flag
    // any canonicalized subtree that (a) contains a shuffle-inducing node
    // (Aggregate/Join/Window/Deduplicate — the expensive stages), (b)
    // still reads a FACT table directly (a checkpointed/cached leaf is
    // materialized, so its duplicates share blocks and are fine), and
    // (c) appears ≥2 times. Duplicated bare scans are NOT flagged: a
    // self-join re-scanning parquet with different pushed filters is the
    // normal Spark idiom, on a cluster too — the bug is re-running a
    // shuffle stage per consumer.
    // EXACT canonical equality (exprIds → ordinals, otherwise identical
    // trees) is the right bar: two equal subtrees are literally the same
    // stage executed twice — zero false positives by construction.
    // (A pruning-insensitive variant that dropped output lists was tried
    // and flagged 87 keys: it equates genuinely DIFFERENT aggregates that
    // share a child — the standard two-rollups-of-one-grouped-frame stats
    // shape, where the grouped frame is group-sized and re-deriving it is
    // cheaper than pinning it. Known boundary of the exact form: a
    // 2-consumer composite where the optimizer prunes the two copies to
    // different outputs will not match — the rake incident had 2 of its
    // 3 copies bit-equal, which is the common case.)
    // Keys where a duplicated fact-bearing shuffle subtree is ARGUED
    // acceptable — the round-10 baseline set, frozen after verifying on a
    // sample (stats_ttest, dedup_simhash, eval_auc, stats_quade,
    // pipeline_training_corpus) that (a) the physical planner's exchange
    // reuse collapses the bit-equal copies at run time (every sampled key
    // shows ReusedExchange in its executed plan), and (b) each key's
    // committed bench median is in its family's normal band — the
    // duplicated stage is a GROUP-SIZED re-derivation (one extra map-side
    // scan), not a re-run fact shuffle. A NEW key must not silently join
    // this list: either Eager the shared frame (the default — see SURVEY
    // §4's eager-vs-lazy rule) or add it here with a bench number and the
    // reuse check repeated. text_keyphrase_rake is deliberately NOT
    // listed: its Eager is the round-10 fix this sweep now guards.
    // (The list itself lives at class level — `dupAllowed` — because the
    // allowlist-audit test below re-verifies the reuse property per key
    // instead of treating membership as a blanket exemption.)
    val allowed: Set[String] = dupAllowed
    val offenders = sweep.offenders(r =>
      Option.when(r.dupShuffles.nonEmpty && !allowed(r.name))(
        s"${r.name} (${r.dupShuffles.size} duplicated subtree shapes, e.g. " +
          s"${r.dupShuffles.head})"))
    assert(offenders.isEmpty,
      "duplicated fact-bearing shuffle subplans — a shared stage is " +
        "re-executed per consumer; Eager it (or justify in the allowlist):\n" +
        offenders.mkString("\n"))
  }

  test("allowlist audit: every dupAllowed key's duplicated subplan" +
      " collapses physically — no equal fact-bearing exchange executes" +
      " twice") {
    // The fleet sweep above exempts dupAllowed keys from the LOGICAL
    // duplicate check; this test re-verifies the property that justified
    // each exemption (round 10 verified it on only 5 representatives —
    // the advisor flagged that an allowlisted key could regress into a
    // real re-executed shuffle with no test firing). After execution, the
    // AQE-final physical plan must not contain TWO canonically-equal
    // materialized exchanges whose subtree reads a fact table: a
    // collapsed duplicate shows up as ReusedExchange (a leaf, not an
    // Exchange), and a runtime-eliminated branch (empty-relation
    // propagation — pack_greedy_bins at sf0.001) vanishes entirely. The
    // equal exchanges are the sweep record's `dupExchanges`, taken from
    // the AQE-final plan after the sweep ran the key.
    val stale = dupAllowed -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"allowlisted but not registered: $stale")
    val offenders = sweep.offenders(r =>
      Option.when(r.dupExchanges.nonEmpty && dupAllowed(r.name))(
        s"${r.name} (${r.dupExchanges.size} equal fact-bearing exchanges " +
          s"executed twice, e.g. ${r.dupExchanges.head})"))
    assert(offenders.isEmpty,
      "allowlisted key regressed into a really-re-executed shuffle — fix " +
        "the plan (Eager the shared frame) or remove the key from " +
        "dupAllowed:\n" + offenders.mkString("\n"))
  }

  test("the duplicated-subtree facts flag one events aggregate consumed twice" +
      " without Eager, not with it") {
    def twice(agg: DataFrame): DataFrame =
      agg.join(agg.withColumnRenamed("n", "m"), "event_type")
    val agg = events.groupBy("event_type").agg(count(lit(1)).as("n"))
    val planted = InventorySweep.record("planted", twice(agg))
    assert(planted.error.isEmpty, planted.error)
    assert(planted.dupShuffles.nonEmpty)
    // exchange reuse collapses the two copies at run time; with it off
    // both equal fact-bearing exchanges execute
    assert(planted.dupExchanges.isEmpty)
    val rerun = withConf("spark.sql.exchange.reuse", "false") {
      InventorySweep.record("planted", twice(agg))
    }
    assert(rerun.error.isEmpty, rerun.error)
    assert(rerun.dupExchanges.nonEmpty)
    val clean = InventorySweep.record("clean", twice(Eager(agg)))
    assert(clean.error.isEmpty, clean.error)
    assert(clean.dupShuffles.isEmpty && clean.dupExchanges.isEmpty)
  }
}
