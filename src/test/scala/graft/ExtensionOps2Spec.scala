package graft

import org.apache.spark.sql.functions._
import graft.operators.{AdvancedOps, DedupOps, SimilarityOps, TextOps}

/** Invariant + plan-shape checks for the round-2 extension operators:
  * TPC-H Q3/Q6, duplicate clustering, centroid/quantize, tf-idf. */
class ExtensionOps2Spec extends SparkSuite {

  test("tpch_q3 broadcasts the customer dim and takes top-10 without a global sort") {
    val df = AdvancedOps.tpchQ3(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(df.count() <= 10)
  }

  test("tpch_q6 pushes every predicate into the parquet scan") {
    val df = AdvancedOps.tpchQ6(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    // the executed-plan toString elides the PushedFilters list — assert on
    // its head plus the full post-scan Filter condition instead
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"), plan.take(2500))
    assert(plan.contains(">= 1997-01-01"), plan.take(2500))
    assert(plan.contains("< 24.0"), plan.take(2500))
    val r = df.collect().head
    assert(r.getLong(1) > 0 && r.getDouble(0) > 0)
  }

  test("dedup_cluster labels are a valid connected-component assignment") {
    val labels = DedupOps.dedupCluster(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every doc labeled, label ≤ id (min-label), label is itself a member's id
    assert(labels.forall { case (id, l) => l <= id && labels(l) == l })
    // edges connect equal labels (consistency with the pair graph)
    val pairs = DedupOps.dedupNgram(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    // transitivity witness: label classes partition the pair graph (no
    // cluster id that is not the min of its class)
    labels.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.min == cid)
    }
  }

  test("dedup_cluster small-graph and distributed paths agree exactly") {
    val fast = DedupOps.dedupCluster(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val dist = DedupOps.dedupClusterWithCap(spark, sf0001, 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(fast.sameElements(dist))
  }

  test("embed_centroid averages match a driver-side reference") {
    val got = SimilarityOps.embedCentroid(spark, sf0001).collect()
      .map(r => r.getInt(0) -> r.getString(1).split(",").toSeq.map(_.toDouble)).toMap
    val raw = graft.sources.Tables.embeddings(spark, sf0001)
      .select(col("label"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1))
    val expect = raw.groupBy(_._1).map { case (l, vs) =>
      val n = vs.size
      l -> (0 until 64).map { i =>
        math.rint(vs.map(v => BigDecimal(v._2(i)).setScale(9, BigDecimal.RoundingMode.HALF_UP))
          .sum.toDouble / n * 1e6) / 1e6
      }
    }
    got.foreach { case (l, c) =>
      c.zip(expect(l)).zipWithIndex.foreach { case ((a, b), i) =>
        assert(math.abs(a - b) < 1e-9, s"label $l pos $i: $a vs $b")
      }
    }
  }

  test("embed_quantize is within rounding of the scale and bounded by ±127") {
    val rows = SimilarityOps.embedQuantize(spark, sf0001).collect()
    rows.foreach { r =>
      val q = r.getString(2).split(",").toSeq.map(_.toInt)
      assert(q.forall(v => v >= -127 && v <= 127))
      assert(q.exists(v => math.abs(v) == 127)) // max component hits the rail
    }
  }

  test("bounded_distinct: exact under cap, null past cap, across partitions") {
    import spark.implicits._
    // key "big" has 12 distinct values, "small" has 3, "dup" has 1 (many dups)
    val rows = (1 to 12).map(i => ("big", i.toLong)) ++
      Seq(("small", 1L), ("small", 2L), ("small", 3L)) ++
      (1 to 50).map(_ => ("dup", 7L))
    val df = rows.toDF("k", "v").repartition(8) // force partial+merge
    val got = df.groupBy($"k")
      .agg(graft.functions.BoundedDistinctAgg($"v", 10).as("s"))
      .collect().map(r => r.getString(0) ->
        Option(r.getSeq[Long](1)).map(_.toSeq)).toMap
    assert(got("big") === None) // 12 > cap
    assert(got("small") === Some(Seq(1L, 2L, 3L)))
    assert(got("dup") === Some(Seq(7L))) // dedup across partitions
  }

  test("text_tfidf picks one maximal term per doc") {
    val rows = TextOps.textTfidf(spark, sf0001).collect()
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    assert(rows.length ==
      graft.sources.Tables.documents(spark, sf0001).count())
    rows.foreach { r => assert(r.getDouble(4) >= 0.0) }
  }
}
