package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{MisraGriesAgg, MisraGriesMergeAgg}
import graft.operators.TextOps

/** Invariants of the Misra-Gries heavy-hitters sketch — the properties
  * the DuckDB oracle can only see in the exact (capacity ≥ vocabulary)
  * regime. Here the APPROXIMATE regime is pinned on synthetic data where
  * the true counts are known:
  *   - every estimated count is an underestimate of the true count by at
  *     most N/(capacity+1);
  *   - any item with true frequency > N/(capacity+1) survives in the
  *     summary (the guaranteed-superset property);
  *   - the summary never exceeds `capacity` entries.
  */
class MisraGriesSpec extends SparkSuite {
  import spark.implicits._

  // skewed synthetic stream: item i appears 2^(10-i) times for i in 0..9,
  // plus 400 singletons — N = 2047 - 1 + 400, heavy head, long tail
  private lazy val items: Seq[String] =
    (0 until 10).flatMap(i => Seq.fill(1 << (10 - i))(s"hot_$i")) ++
      (0 until 400).map(i => s"tail_$i")
  private lazy val trueCounts: Map[String, Long] =
    items.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  private def summarize(capacity: Int): Map[String, Long] =
    items.toDF("token")
      .repartition(7) // force partial summaries + a real merge path
      .agg(MisraGriesAgg(col("token"), capacity).as("hh"))
      .select(explode(col("hh")).as("s"))
      .select(col("s.term"), col("s.cnt"))
      .as[(String, Long)].collect().toMap

  test("approximate regime: undercount bounded by N/(capacity+1)") {
    val capacity = 32
    val n = items.size.toLong
    val bound = n / (capacity + 1)
    val est = summarize(capacity)
    assert(est.size <= capacity)
    est.foreach { case (term, c) =>
      val t = trueCounts(term)
      assert(c <= t, s"$term overcounted: $c > $t")
      assert(t - c <= bound, s"$term undercount ${t - c} exceeds $bound")
    }
    // every item with true frequency above the bound must be present
    trueCounts.filter(_._2 > bound).keys.foreach { term =>
      assert(est.contains(term), s"frequent item $term missing")
    }
  }

  test("exact regime: capacity above vocabulary reproduces exact counts") {
    val est = summarize(capacity = 1024)
    assert(est === trueCounts)
  }

  test("heavy_hitters key: exact top-10 ordered, MG bound booleans true") {
    val rows = TextOps.heavyHitters(spark, sf0001)
      .as[(String, Long, Boolean)].collect()
    assert(rows.length === 10)
    // non-increasing counts, term-tiebroken; every bound check true
    rows.sliding(2).foreach { case Array((t1, c1, _), (t2, c2, _)) =>
      assert(c1 > c2 || (c1 === c2 && t1 < t2))
    }
    rows.foreach { case (t, _, ok) => assert(ok, s"$t: MG bound violated") }
  }

  test("store-merge key equals the direct key (same exact top-10, both" +
      " in-bound)") {
    val direct = TextOps.heavyHitters(spark, sf0001)
      .as[(String, Long, Boolean)].collect().toSeq
    val merged = SparkEntry.queries("heavy_hitters_merge")(spark, sf0001)
      .as[(String, Long, Boolean)].collect().toSeq
    assert(merged.map(r => (r._1, r._2)) === direct.map(r => (r._1, r._2)))
    (direct ++ merged).foreach { case (t, _, ok) => assert(ok, t) }
  }

  test("store-merge: lossy regime keeps the mergeable-summaries bound") {
    import org.apache.spark.sql.functions._
    // 3 shards; one dominant term + distinct-per-shard noise far beyond
    // the capacity, so the merge MUST take the capacity cut
    val rows = (1 to 3).flatMap { shard =>
      Seq.fill(60)(s"s$shard" -> "dominant") ++
        (1 to 40).map(i => s"s$shard" -> s"noise_${shard}_$i")
    }
    val df = rows.toDF("shard", "term")
    val n = rows.size.toLong
    val cap = 8
    val got = df.groupBy($"shard")
      .agg(graft.functions.MisraGriesAgg($"term", cap).as("hh"))
      .agg(graft.functions.MisraGriesMergeAgg($"hh", cap).as("m"))
      .select(explode($"m").as("s"))
      .select($"s.term", $"s.cnt").as[(String, Long)].collect().toMap
    assert(got.size <= cap)
    // any term with true frequency > N/(cap+1)=20 must survive the merges
    assert(got.contains("dominant"))
    // counts only ever undercount, by at most N/(cap+1)
    assert(got("dominant") <= 180L)
    assert(got("dominant") >= 180L - n / (cap + 1))
  }

  test("no input and all-null groups give [] from a build and from a" +
      " merge; neither is nullable; the buffer survives its spill bytes") {
    val none = Seq.empty[Option[String]].toDF("t")
    val nulls = Seq[(Int, Option[String])]((1, None), (1, None)).toDF("g", "t")
    val built = none.agg(MisraGriesAgg($"t", 4).as("hh"))
    assert(!built.schema("hh").nullable)
    assert(built.head().getSeq[Any](0).isEmpty)
    assert(nulls.groupBy($"g").agg(MisraGriesAgg($"t", 4).as("hh"))
      .select($"hh").head().getSeq[Any](0).isEmpty)

    val summaries = built.select($"hh").filter(lit(false))
    val merged = summaries.agg(MisraGriesMergeAgg($"hh", 4).as("m"))
    assert(!merged.schema("m").nullable)
    assert(merged.head().getSeq[Any](0).isEmpty)
    val nullSummaries = built.select(lit(1).as("g"), $"hh")
      .union(built.select(lit(1).as("g"), $"hh"))
      .select($"g", when(lit(false), $"hh").as("hh"))
    assert(nullSummaries.groupBy($"g").agg(MisraGriesMergeAgg($"hh", 4).as("m"))
      .select($"m").head().getSeq[Any](0).isEmpty)

    val tokens = Seq("b", "a", null, "b", "c", "a", "b")
      .map(s => if (s == null) null else UTF8String.fromString(s))
    val (hh, hhBack) = AggBuffer.roundTrip(MisraGriesAgg($"t", 4), StringType, tokens)
    assert(AggBuffer.terms(hh) === Seq(("b", 3L), ("a", 2L), ("c", 1L)))
    assert(AggBuffer.terms(hhBack) === AggBuffer.terms(hh))
    val (m, mBack) = AggBuffer.roundTrip(MisraGriesMergeAgg($"hh", 4),
      built.schema("hh").dataType, Seq(null, hh, hh))
    assert(AggBuffer.terms(m) === Seq(("b", 6L), ("a", 4L), ("c", 2L)))
    assert(AggBuffer.terms(mBack) === AggBuffer.terms(m))
    val (e, eBack) = AggBuffer.roundTrip(MisraGriesMergeAgg($"hh", 4),
      built.schema("hh").dataType, Seq(null))
    assert(AggBuffer.terms(e).isEmpty && AggBuffer.terms(eBack).isEmpty)
  }
}
