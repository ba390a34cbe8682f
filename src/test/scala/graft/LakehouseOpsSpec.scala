package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{AdvancedOps, AnalyticsOps, MiningOps, RelationalOps, SqlSurfaceOps, StatsOps}
import graft.sources.Tables

/** Invariant checks for the round-7 lakehouse/CDC/ML-split additions:
  * merge-on-read delete vectors, MERGE INTO, latest-record compaction,
  * exact moments, and histogram split finding. */
class LakehouseOpsSpec extends SparkSuite {

  test("scan_delete_vectors subtracts exactly the tombstoned rows via a broadcast anti-join") {
    val df = RelationalOps.scanDeleteVectors(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.take(2000))
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Tables.events(spark, sf0001)
      .filter(col("event_id") % 13 =!= 0)
      .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
    // the store actually lost rows to tombstones (the delete set is
    // non-empty), and data/ still holds every original row (merge-on-
    // read: deletes never rewrite data files)
    val path = graft.sources.Layout.ensureEventsMor(spark, sf0001)
    val dataRows = spark.read.parquet(s"$path/data").count()
    val all = Tables.events(spark, sf0001).count()
    assert(dataRows === all)
    assert(got.values.sum < all)
  }

  test("merge_into applies update, delete, and insert arms exactly once each") {
    val out = AnalyticsOps.mergeInto(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3)))
    val base = Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val byKey = out.map(t => t._1 -> t).toMap
    assert(out.length === byKey.size, "duplicate keys in merged output")
    base.foreach { case (k, st, price) =>
      (k % 10) match {
        case 7 => assert(!byKey.contains(k), s"deleted key $k survived")
        case 3 =>
          val m = byKey(k)
          assert(m._4 == "updated" && m._2 == st)
          assert(math.abs(m._3 - BigDecimal(price).setScale(2,
            BigDecimal.RoundingMode.HALF_UP).toDouble * 1.1) < 0.011)
        case 1 =>
          assert(byKey(k)._4 == "kept")
          val ins = byKey(k + 100000000L)
          assert(ins._4 == "inserted" && ins._2 == "N")
        case _ =>
          val m = byKey(k)
          assert(m._4 == "kept" && m._2 == st && m._3 == price)
      }
    }
    // no unexplained rows: every output key is a base key or base+10^8
    val baseKeys = base.map(_._1).toSet
    out.foreach { case (k, _, _, act) =>
      assert(baseKeys.contains(k) ||
        (act == "inserted" && baseKeys.contains(k - 100000000L)))
    }
  }

  test("dedup_latest equals the window row_number form") {
    val native = AnalyticsOps.dedupLatest(spark, sf0001).collect()
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(desc("us"), desc("event_id"))
    val window = windowReference(Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("value"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 1 && col("rn") > 0)
      .drop("rn").orderBy("user_id", "event_type"))
    assert(native.length === window.length)
    native.zip(window).foreach { case (a, b) => assert(a === b) }
  }

  test("stats_moments matches a direct double computation") {
    val rows = StatsOps.statsMoments(spark, sf0001).collect()
    val vals = Tables.events(spark, sf0001)
      .select(col("event_type"), col("value")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).groupBy(_._1)
    rows.foreach { r =>
      val xs = vals(r.getString(0)).map(_._2)
      val n = xs.length.toDouble
      val m = xs.sum / n
      def cm(p: Int) = xs.map(x => math.pow(x - m, p)).sum / n
      assert(r.getLong(1) === xs.length.toLong)
      assert(math.abs(r.getDouble(2) - m) < 1e-4, s"mean ${r.getString(0)}")
      assert(math.abs(r.getDouble(3) - cm(3) / math.pow(cm(2), 1.5)) < 1e-4,
        s"skew ${r.getString(0)}")
      assert(math.abs(r.getDouble(4) - (cm(4) / (cm(2) * cm(2)) - 3)) < 1e-4,
        s"kurt ${r.getString(0)}")
    }
  }

  test("scan_bloom_skip opens fewer files than the store holds and loses no rows") {
    val got = RelationalOps.scanBloomSkip(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Tables.events(spark, sf0001).filter(col("user_id") === 7)
      .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
    // the pruning actually happened: the index admits strictly fewer
    // data files than exist (user 7 is hash-clustered into one file;
    // bloom false positives could add a couple, never all 16)
    val path = graft.sources.Layout.ensureEventsBloomIdx(spark, sf0001)
    val total = spark.read.parquet(s"$path/data").inputFiles.length
    val bits = graft.sources.Layout.BloomIdxSeeds
      .map(j => graft.sources.Layout.bloomIdxBit(7L, j))
    val passing = spark.read.parquet(s"$path/index")
      .filter(col("bit").isin(bits: _*))
      .groupBy(col("file")).agg(countDistinct(col("bit")).as("h"))
      .filter(col("h") === bits.distinct.length).count()
    assert(passing < total, s"$passing of $total files passed the bloom")
    assert(passing >= 1)
  }

  test("pareto_abc equals the naive global-cumsum classification") {
    val got = MiningOps.paretoAbc(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // brute force: exact per-part revenue micro-units, one sorted pass
    val rev = Tables.lineitem(spark, sf0001)
      .groupBy(col("l_partkey"))
      .agg((sum(graft.functions.Exact.revenueTerm(
        col("l_extendedprice"), col("l_discount"))) * 1000000)
        .cast("long").as("revc"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (k, rc) => (-rc, k) }
    val total = rev.map(r => BigInt(r._2)).sum
    var cum = BigInt(0)
    val classed = rev.map { case (_, rc) =>
      cum += rc
      val cls = if (cum * 10 <= total * 8) "A"
        else if (cum * 20 <= total * 19) "B" else "C"
      (cls, rc)
    }
    val want = classed.groupBy(_._1).map { case (c, xs) =>
      (c, xs.length.toLong,
        xs.map(x => BigInt(x._2)).sum.toDouble / 1000000)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq.map(t => (t._1, t._2)) === want.map(t => (t._1, t._2)))
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._3 - w._3) < 1e-6) }
    // ABC sanity: A captures ≤80% of mass with the fewest parts
    assert(got.map(_._2).sum === rev.length.toLong)
  }

  test("weighted_median equals the naive cumulative-weight pick") {
    val rows = Tables.lineitem(spark, sf0001).select(
      col("l_returnflag"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"),
      col("l_quantity").cast("long"),
      (col("l_orderkey") * 8 + col("l_linenumber")).cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val res = StatsOps.weightedMedian(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    rows.groupBy(_._1).foreach { case (g, xs) =>
      val sorted = xs.sortBy(x => (x._2, x._4))
      val tw = sorted.map(_._3).sum
      var cum = 0L
      val med = sorted.find { x => cum += x._3; 2 * cum >= tw }.get._2
      assert(res(g)._1 === med.toDouble / 100, s"group $g")
      assert(res(g)._2 === tw)
    }
    assert(res.size === 3)
  }

  test("sessions_coverage is a true interval-union length per day") {
    val out = AdvancedOps.sessionsCoverage(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val DayUs = 86400000000L
    // brute force: merge all day-clamped slices per day
    val sess = AdvancedOps.sessionize(spark, sf0001)
      .select(col("start_us"), (col("end_us") + 1).as("e")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byDay = sess.flatMap { case (s, e) =>
      (s / DayUs to (e - 1) / DayUs).map { d =>
        d -> (math.max(s, d * DayUs), math.min(e, (d + 1) * DayUs)) }
    }.groupBy(_._1)
    val want = byDay.map { case (d, ivs) =>
      val merged = ivs.map(_._2).sortBy(iv => (iv._1, -iv._2))
      var cov = 0L; var hi = 0L
      merged.foreach { case (s, e) =>
        cov += math.max(0L, e - math.max(s, hi)); hi = math.max(hi, e) }
      d -> cov
    }
    assert(out.map(o => o._1 -> o._2).toMap === want)
    out.foreach { case (_, cov, frac) =>
      assert(cov >= 0 && cov <= DayUs)
      assert(math.abs(frac - cov.toDouble / DayUs) < 1e-5)
    }
  }

  test("stats_dw and stats_runs match direct computations on the daily series") {
    val daily = Tables.events(spark, sf0001)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("d"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    val dw = SparkEntry.queries("stats_dw")(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val runs = SparkEntry.queries("stats_runs")(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(4))).toMap
    daily.foreach { case (et, rows) =>
      val s = rows.sortBy(_._2).map(x => (x._2.toDouble, x._3))
      val n = s.length.toDouble
      val sx = s.map(_._1).sum; val sy = s.map(_._2).sum
      val sxx = s.map(x => x._1 * x._1).sum
      val sxy = s.map(x => x._1 * x._2).sum
      val b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      val a = sy / n - b * sx / n
      val e = s.map { case (x, y) =>
        BigDecimal(y - (a + b * x)).setScale(6,
          BigDecimal.RoundingMode.HALF_EVEN).toDouble }
      val num = e.sliding(2).map(p => (p(1) - p(0)) * (p(1) - p(0))).sum
      val den = e.map(x => x * x).sum
      assert(math.abs(dw(et) - num / den) < 1e-4, s"dw $et")
      // runs: signs vs the explicit middle-pair median
      val vs = s.map(_._2).sorted
      val m = vs.length
      val med = (vs((m + 1) / 2 - 1) + vs((m + 2) / 2 - 1)) / 2
      val signs = s.map(_._2).filter(_ != med).map(_ > med)
      val r = 1 + signs.sliding(2).count(p => p.length == 2 && p(0) != p(1))
      assert(runs(et)._1 === r.toLong, s"runs $et")
      val np = signs.count(identity).toDouble
      val nm = signs.length - np
      val mu = 1 + 2.0 * np * nm / (np + nm)
      val sg = math.sqrt(2.0 * np * nm * (2.0 * np * nm - (np + nm)) /
        ((np + nm) * (np + nm) * (np + nm - 1)))
      assert(math.abs(runs(et)._2 - (r - mu) / sg) < 1e-4, s"z $et")
    }
  }

  test("multimodal_audio_energy equals a direct byte-sampling computation") {
    val got = SparkEntry
      .queries("multimodal_audio_energy")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .filter(_._2.length >= 64)
    docs.take(20).foreach { case (id, s) =>
      val n = s.length
      (0 until 8).foreach { seg =>
        val e = (0 until 16).map { j =>
          val p = 1 + seg * (n / 8) + (j * ((n / 8) - 1)) / 15
          math.abs(s.charAt(p - 1).toInt - 96).toLong
        }.sum
        assert(got((id, seg.toLong)) === e, s"doc $id seg $seg")
      }
    }
    assert(got.size === docs.length * 8)
  }

  test("multimodal_scene_cut agrees with cuts recomputed from the energy profile") {
    val energy = SparkEntry
      .queries("multimodal_audio_energy")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val got = SparkEntry
      .queries("multimodal_scene_cut")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    energy.foreach { case (id, rows) =>
      val es = rows.sortBy(_._2).map(_._3)
      val jumps = es.sliding(2).map(p => math.abs(p(1) - p(0))).toSeq
      assert(got(id)._1 === jumps.count(_ > 160).toLong, s"doc $id")
      assert(got(id)._2 === jumps.max, s"doc $id")
    }
    assert(got.size === energy.size)
    // cuts exist somewhere but not everywhere (threshold is meaningful)
    assert(got.values.exists(_._1 > 0) && got.values.exists(_._1 == 0))
  }

  test("stats_levene matches a direct Brown-Forsythe computation") {
    val r = SparkEntry.queries("stats_levene")(spark, sf0001).collect().head
    val vals = Tables.events(spark, sf0001)
      .select(col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(x => (x.getString(0), x.getLong(1))).groupBy(_._1)
    val zs = vals.map { case (_, xs) =>
      val s = xs.map(_._2).sorted
      val m = s.length
      val mm = s((m + 1) / 2 - 1) + s((m + 2) / 2 - 1)
      xs.map(x => math.abs(2 * x._2 - mm).toDouble)
    }
    val k = zs.size.toDouble
    val n = zs.map(_.length).sum.toDouble
    val gm = zs.flatten.sum / n
    val between = zs.map(g => g.length *
      math.pow(g.sum / g.length - gm, 2)).sum
    val within = zs.map(g => {
      val m = g.sum / g.length; g.map(z => (z - m) * (z - m)).sum }).sum
    val f = (between / (k - 1)) / (within / (n - k))
    assert(r.getLong(0) === k.toLong && r.getLong(1) === n.toLong)
    assert(math.abs(r.getDouble(2) - f) < 1e-3, s"f ${r.getDouble(2)} vs $f")
  }

  test("budget_waterfall funds greedily with exactly one straddling part") {
    val rows = SparkEntry.queries("budget_waterfall")(spark, sf0001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2))).toMap
    assert(rows("partial")._1 === 1L)
    val total = rows.values.map(_._2).sum
    // funded mass is within one part of 10% of total
    assert(rows("funded")._2 <= total / 10 + 1e-6)
    assert(rows("funded")._2 + rows("partial")._2 > total / 10)
  }

  test("stats_wilcoxon_signed matches a direct signed-rank computation") {
    val r = SparkEntry.queries("stats_wilcoxon_signed")(spark, sf0001)
      .collect().head
    val daily = Tables.events(spark, sf0001)
      .groupBy(to_date(col("ts")).as("day"))
      .agg((sum(col("value").cast("decimal(18,2)")) * 100).cast("long")
        .as("revc"))
      .collect().map(x => (x.getDate(0).toLocalDate, x.getLong(1))).toMap
    val diffs = daily.toSeq.flatMap { case (d, v) =>
      daily.get(d.plusDays(7)).map(_ - v)
    }.filter(_ != 0L)
    val n = diffs.length
    val sortedAbs = diffs.map(math.abs).sorted
    def avgRank(a: Long): Double = {
      val lo = sortedAbs.indexOf(a) + 1
      val hi = sortedAbs.lastIndexOf(a) + 1
      (lo + hi) / 2.0
    }
    val wPlus = diffs.filter(_ > 0).map(d => avgRank(math.abs(d))).sum
    assert(r.getLong(0) === n.toLong)
    assert(math.abs(r.getDouble(1) - wPlus) < 1e-9)
    val mu = n * (n + 1) / 4.0
    val tsum = diffs.map(math.abs).groupBy(identity)
      .map { case (_, g) =>
        val t = g.size.toLong; t * t * t - t }.sum
    val sigma = math.sqrt((2.0 * n * (n + 1) * (2 * n + 1) - tsum) / 3) / 4
    assert(math.abs(r.getDouble(2) - (wPlus - mu) / sigma) < 1e-4)
  }

  test("stats_kendall_tau matches a direct concordance count") {
    val r = SparkEntry.queries("stats_kendall_tau")(spark, sf0001)
      .collect().head
    val daily = Tables.events(spark, sf0001)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(when(col("event_type") === "click", 1)).as("c"),
        count(when(col("event_type") === "purchase", 1)).as("p"))
      .collect().map(x => (x.getLong(1), x.getLong(2)))
    var conc = 0L; var disc = 0L; var n1 = 0L; var n2 = 0L; var n0 = 0L
    for (i <- daily.indices; j <- (i + 1) until daily.length) {
      n0 += 1
      val prod = (daily(i)._1 - daily(j)._1) * (daily(i)._2 - daily(j)._2)
      if (prod > 0) conc += 1 else if (prod < 0) disc += 1
      if (daily(i)._1 == daily(j)._1) n1 += 1
      if (daily(i)._2 == daily(j)._2) n2 += 1
    }
    assert(r.getLong(0) === n0 && r.getLong(1) === conc &&
      r.getLong(2) === disc)
    val want = (conc - disc).toDouble /
      math.sqrt((n0 - n1).toDouble * (n0 - n2))
    assert(math.abs(r.getDouble(3) - want) < 1e-6)
    assert(r.getDouble(3) >= -1 && r.getDouble(3) <= 1)
  }

  test("stats_spearman matches a direct tie-averaged rank correlation") {
    val r = SparkEntry.queries("stats_spearman")(spark, sf0001)
      .collect().head
    val daily = Tables.events(spark, sf0001)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(when(col("event_type") === "click", 1)).as("c"),
        count(when(col("event_type") === "purchase", 1)).as("p"))
      .collect().map(x => (x.getLong(1), x.getLong(2)))
    def avgRanks(xs: Seq[Long]): Seq[Double] = {
      val sorted = xs.sorted
      xs.map { v =>
        val lo = sorted.indexOf(v) + 1
        val hi = sorted.lastIndexOf(v) + 1
        (lo + hi) / 2.0
      }
    }
    val rx = avgRanks(daily.map(_._1).toSeq)
    val ry = avgRanks(daily.map(_._2).toSeq)
    val n = rx.length.toDouble
    val mx = rx.sum / n; val my = ry.sum / n
    val num = rx.zip(ry).map { case (a, b) => (a - mx) * (b - my) }.sum
    val den = math.sqrt(rx.map(a => (a - mx) * (a - mx)).sum *
      ry.map(b => (b - my) * (b - my)).sum)
    assert(r.getLong(0) === daily.length.toLong)
    assert(math.abs(r.getDouble(1) - num / den) < 1e-6)
  }

  test("funnel_time_to_convert matches per-user first-view-to-purchase latencies") {
    val r = SparkEntry.queries("funnel_time_to_convert")(spark, sf0001)
      .collect().head
    val evts = Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")))
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
      .groupBy(_._1)
    val lats = evts.values.flatMap { rows =>
      val views = rows.filter(_._2 == "view").map(_._3)
      if (views.isEmpty) None
      else {
        val tv = views.min
        val ps = rows.filter(x => x._2 == "purchase" && x._3 > tv).map(_._3)
        if (ps.isEmpty) None else Some(ps.min - tv)
      }
    }.toSeq.sorted
    assert(r.getLong(0) === lats.length.toLong)
    def pct(q: Double): Double = {
      val h = (lats.length - 1) * q
      val lo = lats(h.toInt); val hi = lats(math.ceil(h).toInt)
      lo + (h - h.toInt) * (hi - lo)
    }
    assert(math.abs(r.getDouble(1) - pct(0.5) / 1e6) < 1e-4)
    assert(math.abs(r.getDouble(2) - pct(0.9) / 1e6) < 1e-4)
  }

  test("cohort_ltv is per-cohort monotone and normalizes by cohort size") {
    val rows = SparkEntry.queries("cohort_ltv")(spark, sf0001).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cohort, rs) =>
      val sorted = rs.sortBy(_._2)
      sorted.sliding(2).filter(_.length == 2).foreach { p =>
        assert(p(1)._4 >= p(0)._4, s"cum_revenue not monotone in $cohort")
      }
      sorted.foreach { r =>
        assert(math.abs(r._5 - r._4 / r._3) < 1e-5)
      }
    }
    // user totals reconcile with the direct purchase sum
    val direct = Tables.events(spark, sf0001)
      .filter(col("event_type") === "purchase")
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double"))
      .collect().head.getDouble(0)
    val lastPerCohort = rows.groupBy(_._1).values
      .map(_.maxBy(_._2)._4).sum
    assert(math.abs(lastPerCohort - direct) < 1e-4)
  }

  test("stats_cramers_v lies in [0,1] and derives from the chi2 output") {
    val v = SparkEntry.queries("stats_cramers_v")(spark, sf0001)
      .collect().head
    val chi2 = SparkEntry.queries("stats_chi2")(spark, sf0001)
      .collect().head.getDouble(0)
    assert(v.getDouble(0) === chi2)
    val want = math.sqrt(chi2 / (v.getLong(1).toDouble * 4)) // min(5-1, 7-1)
    assert(math.abs(v.getDouble(2) - want) < 1e-6)
    assert(v.getDouble(2) >= 0 && v.getDouble(2) <= 1)
  }

  test("stats_jarque_bera derives exactly from the rounded moments") {
    val m = StatsOps.statsMoments(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3),
        r.getDouble(4))).toMap
    val jb = SparkEntry.queries("stats_jarque_bera")(spark, sf0001).collect()
    jb.foreach { r =>
      val (n, s, k) = m(r.getString(0))
      val want = n.toDouble / 6 * (s * s + k * k / 4)
      assert(math.abs(r.getDouble(2) - want) < 1e-6, r.getString(0))
      assert(r.getBoolean(3) === (want > 5.991))
    }
  }

  test("graph_bfs hop counts match a driver-side BFS") {
    val got = SparkEntry.queries("graph_bfs")(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val li = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges: Set[(Long, Long)] = li.groupBy(_._1).values.flatMap { grp =>
      val ps: Seq[Long] = grp.map(_._2).distinct.toSeq
      for (a <- ps; b <- ps if a != b) yield (a, b)
    }.toSet
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val deg = adj.map { case (k, v) => k -> v.size }
    val seed = deg.toSeq.minBy { case (n, d) => (-d, n) }._1
    var frontier = Set(seed)
    var dist = Map(seed -> 0L)
    (1 to 3).foreach { h =>
      frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
        .filterNot(dist.contains)
      dist ++= frontier.map(_ -> h.toLong)
    }
    val want = dist.values.groupBy(identity)
      .map { case (h, xs) => h -> xs.size.toLong }
    assert(got === want)
    assert(got(0L) === 1L)
  }

  test("scan_corrupt_tolerant skips the torn file; a plain read dies on it") {
    val path = graft.sources.Layout.ensureEventsCorrupt(spark, sf0001)
    val got = RelationalOps.scanCorruptTolerant(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Tables.events(spark, sf0001)
      .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === want)
    // the default read must fail loudly on the same store
    val e = intercept[org.apache.spark.SparkException] {
      spark.read.parquet(path).count()
    }
    assert(e.getMessage != null)
  }

  test("scan_partition_evolution prunes each generation under its own scheme") {
    val got = RelationalOps.scanPartitionEvolution(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = Tables.events(spark, sf0001)
      .filter(unix_micros(col("ts")) >= 1704844800000000L &&
        unix_micros(col("ts")) < 1706400000000000L)
      .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === want)
    // both generations contribute rows (the window straddles the split)
    val path = graft.sources.Layout
      .ensureEventsPartEvo(spark, sf0001, RelationalOps.TtSplitUs)
    val g1 = spark.read.parquet(s"$path/gen1")
      .filter(col("day") >= "2024-01-10" && col("day") < "2024-01-28").count()
    val g2 = spark.read.parquet(s"$path/gen2").count()
    assert(g1 > 0 && g2 > 0)
    // gen1's day pruning touches fewer directories than the generation holds
    val allG1 = spark.read.parquet(s"$path/gen1").count()
    assert(g1 < allG1)
  }

  test("text_bm25 matches a direct Scala computation of the Okapi formula") {
    val got = SparkEntry.queries("text_bm25")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val terms = Seq("spark", "join", "vector")
    val toks = docs.map { case (id, t) =>
      id -> t.trim.toLowerCase.split("\\s+").toSeq }
    val n = toks.length.toDouble
    val avgdl = toks.map(_._2.length.toLong).sum.toDouble / n
    val df = terms.map(t =>
      t -> toks.count(_._2.contains(t)).toDouble).toMap
    val scored = toks.map { case (id, ts) =>
      val dl = ts.length.toDouble
      val s = terms.map { t =>
        val tf = ts.count(_ == t).toDouble
        math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1) *
          (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
      }.sum
      (id, ts.length.toLong, s)
    }.sortBy(x => (-x._3, x._1)).take(20)
    assert(got.map(_._1).toSeq === scored.map(_._1).toSeq)
    got.zip(scored).foreach { case (g, w) =>
      assert(g._2 === w._2)
      assert(math.abs(g._3 - w._3) < 1e-6, s"doc ${g._1}")
    }
    // the top hit actually contains at least one query term
    assert(got.head._3 > 0)
  }

  test("skyline_2d equals the quadratic dominance check") {
    val got = MiningOps.skyline2d(spark, sf0001).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toSet
    val pairs = Tables.lineitem(spark, sf0001)
      .groupBy(col("l_partkey"))
      .agg((min(graft.functions.Exact.money(col("l_extendedprice"))) * 100)
        .cast("long").as("c"),
        sum(col("l_quantity").cast("long")).as("q"))
      .groupBy(col("c"), col("q")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val front = pairs.filter { case (c, q, _) =>
      !pairs.exists { case (c2, q2, _) =>
        (c2, q2) != (c, q) && c2 <= c && q2 >= q }
    }.map { case (c, q, n) => (c.toDouble / 100, q, n) }.toSet
    assert(got === front)
    assert(got.nonEmpty)
  }

  test("privacy_rr_counts debiases to within sampling noise of the true rate") {
    val out = SqlSurfaceOps.privacyRrCounts(spark, sf0001).collect()
    val truth = Tables.events(spark, sf0001)
      .groupBy(col("event_type"))
      .agg(avg(when(col("value") > 100, 1.0).otherwise(0.0)).as("p"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    out.foreach { r =>
      val (et, n, est) = (r.getString(0), r.getLong(1), r.getDouble(3))
      // RR estimator variance at p=3/4: se ≈ sqrt(3/4·1/4/(2p-1)²/n)·…
      // use a generous 6σ band — the point is debiasing, not precision
      val se = math.sqrt(1.0 / n) * 2
      assert(math.abs(est - truth(et)) < 6 * se,
        s"$et: est $est vs true ${truth(et)} (n=$n)")
    }
  }

  test("feature_split_gain finds the brute-force best threshold per feature") {
    val out = MiningOps.featureSplitGain(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out.keySet === Set("quantity", "discount", "tax"))
    // brute force on the quantity histogram
    val li = Tables.lineitem(spark, sf0001)
      .select(col("l_quantity").cast("int").as("bin"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val bins = li.groupBy(_._1).map { case (b, rs) =>
      (b, rs.length.toLong, rs.map(_._2).sum)
    }.toSeq.sortBy(_._1)
    val nt = bins.map(_._2).sum; val st = bins.map(_._3).sum
    def imp(s: Long, n: Long) = s.toDouble * (n - s) / n
    val gains = bins.scanLeft((0L, 0L)) { case ((n, s), (_, bn, bs)) =>
      (n + bn, s + bs)
    }.tail.zip(bins.map(_._1)).filter(_._1._1 < nt).map {
      case ((nl, sl), bin) =>
        (bin, imp(st, nt) - imp(sl, nl) - imp(st - sl, nt - nl))
    }
    val best = gains.maxBy { case (bin, g) => (g, -bin) }
    assert(out("quantity")._1 === best._1)
    assert(math.abs(out("quantity")._4 - best._2) < 1e-6)
    // Gini decrease is non-negative by concavity — all reported gains are
    out.values.foreach { case (_, nl, nr, g) =>
      assert(g >= 0 && nl > 0 && nr > 0)
    }
  }
}
