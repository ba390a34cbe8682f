package graft

/** graft_dot and the other graft_* functions registered via
  * SparkSessionExtensions are callable from SQL on the shared session. */
class GraftExtensionsSpec extends SparkSuite {

  test("the shared suite session is the engine's GraftSession") {
    // every suite runs on this session; a builder that drifts from the one
    // Bench and Verify measure fails here instead of silently
    assert(spark.sql("SELECT graft_dot(array(2.0D), array(3.0D))")
      .head().getDouble(0) === 6.0)
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState
    assert(state.optimizer.batches.flatMap(_.rules)
      .contains(graft.plans.TopKRewriteRule))
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "4096")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
  }

  test("SELECT graft_dot(...) works like a built-in") {
    val got = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
      .collect().head.getDouble(0)
    assert(got === 32.0)
  }

  test("graft_cosine composes from the native dot product") {
    val got = spark.sql(
      "SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c," +
        " graft_cosine(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS o")
      .collect().head
    assert(math.abs(got.getDouble(0) - 1.0) < 1e-12)
    assert(got.getDouble(1) === 0.0)
  }

  test("type errors surface at analysis, like any built-in") {
    val err = intercept[Exception] {
      spark.sql("SELECT graft_dot(array('x'), array('y'))").collect()
    }
    assert(err.getMessage.toLowerCase.contains("array<double>"))
  }

  test("graft_simhash aggregates from SQL, grouped and global") {
    val got = spark.sql(
      """SELECT graft_simhash(h) AS fp FROM
        |  (VALUES (CAST(5 AS BIGINT)), (CAST(5 AS BIGINT)), (CAST(2 AS BIGINT))) t(h)"""
        .stripMargin).collect().head.getLong(0)
    // bits 0,2 appear twice/once among {101,101,010}: counters per bit =
    // [+1+1-1, -1-1+1, ...] → bit0 set (2-1>0), bit1 unset (1-2<0)
    assert((got & 1L) === 1L)
    assert((got >> 1 & 1L) === 0L)
  }

  test("graft_heavy_hitters aggregates from SQL with a literal capacity") {
    val rows = spark.sql(
      """SELECT hh.term, hh.cnt FROM (
        |  SELECT explode(graft_heavy_hitters(s, 8)) AS hh FROM
        |    (VALUES ('a'), ('a'), ('a'), ('b'), ('b'), ('c')) t(s))"""
        .stripMargin).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq === Seq(("a", 3L), ("b", 2L), ("c", 1L)))
  }

  test("graft_heavy_hitters_merge rolls up summaries from SQL") {
    val rows = spark.sql(
      """SELECT m.term, m.cnt FROM (
        |  SELECT explode(graft_heavy_hitters_merge(hh, 8)) AS m FROM (
        |    SELECT shard, graft_heavy_hitters(s, 8) AS hh FROM
        |      (VALUES (1, 'a'), (1, 'a'), (2, 'a'), (2, 'b'), (2, 'b'), (1, 'c')) t(shard, s)
        |    GROUP BY shard))"""
        .stripMargin).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.toSeq === Seq(("a", 3L), ("b", 2L), ("c", 1L)))
    // wrong input shape fails at analysis (a raw string is not a summary)
    val e = intercept[Exception] {
      spark.sql("SELECT graft_heavy_hitters_merge(s, 8) FROM (VALUES ('x')) t(s)")
        .collect()
    }
    assert(e.getMessage.contains("summary") ||
      e.getMessage.contains("array<struct"))
  }

  test("SQL-registered aggregates type-check at analysis, not on executors") {
    val e1 = intercept[Exception] {
      spark.sql("SELECT graft_heavy_hitters(h, 8) FROM (VALUES (CAST(1 AS BIGINT))) t(h)")
        .collect()
    }
    assert(e1.getMessage.contains("STRING"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_simhash(s) FROM (VALUES ('x')) t(s)").collect()
    }
    assert(e2.getMessage.contains("BIGINT"))
  }

  test("graft_heavy_hitters rejects non-positive capacity and accepts TINYINT") {
    val err = intercept[Exception] {
      spark.sql("SELECT graft_heavy_hitters(s, 0) FROM (VALUES ('a')) t(s)")
        .collect()
    }
    assert(err.getMessage.toLowerCase.contains("positive"))
    val ok = spark.sql(
      "SELECT size(graft_heavy_hitters(s, CAST(8 AS TINYINT))) FROM (VALUES ('a')) t(s)")
      .collect().head.getInt(0)
    assert(ok === 1)
  }

  test("rank-PROJECTING row_number top-k lowers to the native heap operator") {
    // window_rank_topk keeps rn in its output; the extended rewrite must
    // still fire, emitting the rank from the final heap stage — no Window,
    // no full per-partition sort in the measured plan
    val df = graft.operators.RelationalOps.windowRankTopk(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FinalTopK") && plan.contains("PartialTopK"),
      plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
    // ranks must equal the window form's row_number, checked row-by-row
    // against an independent in-memory computation
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val expected = graft.sources.Tables
      .events(spark, "/root/testdata/sf0.001")
      .select("event_type", "event_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.flatMap { case (et, rows) =>
        rows.sortBy(t => (-t._3, t._2)).take(5).zipWithIndex
          .map { case ((_, id, v), i) => (et, id, v, i + 1) }
      }.sortBy(t => (t._1, t._4))
    assert(got.toSeq === expected)
  }

  test("embed_knn_graph's per-node top-3 lowers to the native heap operator") {
    val df = graft.operators.SimilarityOps.embedKnnGraph(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FinalTopK") && plan.contains("PartialTopK"),
      plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
    // 500 vectors × top-3 neighbors, ranks 1..3 each
    val rows = df.collect()
    assert(rows.length === 1500)
    assert(rows.map(_.getInt(3)).toSeq.grouped(3).forall(_ == Seq(1, 2, 3)))
  }

  test("rank() top-k lowers to the native operator; boundary ties all kept") {
    // ties are first-class for rank(): with A ordered 10,9,9,8 the two 9s
    // both carry rank 2, so `rnk <= 2` keeps THREE rows for A — the
    // rewrite must reproduce that exact set and the rank values, not clip
    // to k rows
    val df = spark.sql(
      """SELECT k, v, id, rnk FROM (
        |  SELECT *, rank() OVER (PARTITION BY k ORDER BY v DESC) AS rnk
        |  FROM (VALUES ('A', 10, 1), ('A', 9, 2), ('A', 9, 3), ('A', 8, 4),
        |               ('B', 5, 5), ('B', 5, 6), ('B', 2, 7)) t(k, v, id))
        |WHERE rnk <= 2""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FinalTopK") && plan.contains("PartialTopK"),
      plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
    val got = df.collect().map(r =>
      (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    assert(got === Set(
      ("A", 10, 1, 1), ("A", 9, 2, 2), ("A", 9, 3, 2),
      ("B", 5, 5, 1), ("B", 5, 6, 1)))
  }

  test("dense_rank() top-k lowers to the native operator, full value classes") {
    // dense_rank counts VALUE classes: B's `2` is dense rank 2 even with
    // two 5s before it, so every B row qualifies at k=2
    val df = spark.sql(
      """SELECT k, v, id, rnk FROM (
        |  SELECT *, dense_rank() OVER (PARTITION BY k ORDER BY v DESC) AS rnk
        |  FROM (VALUES ('A', 10, 1), ('A', 9, 2), ('A', 9, 3), ('A', 8, 4),
        |               ('B', 5, 5), ('B', 5, 6), ('B', 2, 7)) t(k, v, id))
        |WHERE rnk <= 2""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FinalTopK") && plan.contains("PartialTopK"),
      plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
    val got = df.collect().map(r =>
      (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    assert(got === Set(
      ("A", 10, 1, 1), ("A", 9, 2, 2), ("A", 9, 3, 2),
      ("B", 5, 5, 1), ("B", 5, 6, 1), ("B", 2, 7, 2)))
  }

  test("sample_quota's per-source quota lowers to the native heap operator") {
    val df = graft.operators.TextOps.sampleQuota(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FinalTopK") && plan.contains("PartialTopK"),
      plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
    // every source capped at 20, ranks exactly 1..n per source
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getString(1)).values.foreach { rs =>
      assert(rs.length <= 20)
      assert(rs.map(_.getInt(3)).sorted.toSeq === (1 to rs.length))
    }
  }

  test("rank modes match the window form on real data under any partitioning") {
    // set-equality with the un-rewritten window computation on the events
    // table (rank consumed AND not consumed), with a repartitioned input
    // so the partial stage genuinely merges across partitions
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_type", "event_id", "value").repartition(7)
    for (fn <- Seq("rank", "dense_rank")) {
      ev.createOrReplaceTempView("ev_rankmode")
      val native = spark.sql(
        s"""SELECT event_type, event_id, rnk FROM (
           |  SELECT *, $fn() OVER (PARTITION BY event_type
           |                        ORDER BY value DESC, event_id) AS rnk
           |  FROM ev_rankmode) WHERE rnk <= 5""".stripMargin)
      assert(native.queryExecution.executedPlan.toString.contains("FinalTopK"))
      // independent reference: drive the same window through a plan shape
      // the rewrite does NOT touch (extra conjunct blocks it)
      val reference = spark.sql(
        s"""SELECT event_type, event_id, rnk FROM (
           |  SELECT *, $fn() OVER (PARTITION BY event_type
           |                        ORDER BY value DESC, event_id) AS rnk
           |  FROM ev_rankmode) WHERE rnk <= 5 AND rnk > 0""".stripMargin)
      assert(!reference.queryExecution.executedPlan.toString.contains("FinalTopK"))
      val g = native.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      val e = reference.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getInt(2))).toSet
      assert(g === e, s"$fn mismatch")
    }
  }

  test("graft_heavy_hitters rejects a non-literal capacity at analysis") {
    val err = intercept[Exception] {
      spark.sql(
        "SELECT graft_heavy_hitters(s, length(s)) FROM (VALUES ('aa')) t(s)")
        .collect()
    }
    assert(err.getMessage.toLowerCase.contains("literal"))
  }

  test("quantile sketch family: sketch → merge → estimate, all from SQL") {
    // per-group sketches, merged, then a quantile read — the full
    // sketch-store lifecycle through nothing but registered functions
    // plain decimal literals (0.5, not 0.5D): the registry builder must
    // coerce them, like any built-in percentile function would
    val got = spark.sql(
      """SELECT graft_quantile_estimate(graft_quantile_merge(sk), 0.5) AS p50
        |FROM (SELECT g, graft_quantile_sketch(CAST(v AS DOUBLE), 0.01) AS sk
        |      FROM (SELECT id % 4 AS g, id AS v FROM range(0, 10001))
        |      GROUP BY g)""".stripMargin)
      .collect().head.getDouble(0)
    assert(math.abs(got - 5000.0) / 5000.0 <= 0.01 + 1e-9)
  }

  test("count-min family: sketch → merge → estimate, never underestimates") {
    val got = spark.sql(
      """SELECT graft_cm_estimate(graft_cm_merge(sk), 'k7') AS c
        |FROM (SELECT g, graft_cm_sketch(concat('k', CAST(id % 10 AS STRING))) AS sk
        |      FROM (SELECT id, id % 4 AS g FROM range(0, 1000))
        |      GROUP BY g)""".stripMargin)
      .collect().head.getLong(0)
    assert(got >= 100L) // 'k7' occurs exactly 100 times
    assert(got <= 100L + math.ceil(math.E / graft.functions.CMSketch.Width * 1000).toLong)
  }

  test("graft_gram aggregates the second-moment layout from SQL") {
    val flat = spark.sql(
      """SELECT graft_gram(array(CAST(id AS DOUBLE), CAST(id * 2 AS DOUBLE)), 2)
        |FROM range(1, 4)""".stripMargin)
      .collect().head.getSeq[Double](0)
    // layout: [n, s0, s1, g00, g01, g11] over vectors (1,2),(2,4),(3,6)
    assert(flat === Seq(3.0, 6.0, 12.0, 14.0, 28.0, 56.0))
  }
}
