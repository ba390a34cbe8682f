package graft

import org.apache.spark.sql.functions._
import graft.plans.TopK

/** Custom TopKPerKey operator: equivalence with the window form, plan
  * shape, edge cases. */
class TopKPerKeySpec extends SparkSuite {
  import spark.implicits._

  private def events = graft.sources.Tables.events(spark, sf0001)
    .select($"event_type", $"event_id", $"value")

  test("equals the row_number window form on real data") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"event_type").orderBy(desc("value"), $"event_id")
    val windowed = windowReference(events.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5 && $"rn" > 0).drop("rn"))
      .map(_.toSeq).toSet
    val native = TopK.perKey(events, Seq($"event_type"),
        Seq(desc("value"), $"event_id"), 5)
      .collect().map(_.toSeq).toSet
    assert(native === windowed)
  }

  test("perKey rank/dense_rank modes equal their window forms, ties intact") {
    import org.apache.spark.sql.expressions.Window
    import graft.plans.TopKMode
    // duplicated values so rank/dense_rank genuinely diverge from RowNum
    val tied = Seq(("a", 1L, 10.0), ("a", 2L, 9.0), ("a", 3L, 9.0),
      ("a", 4L, 8.0), ("b", 5L, 5.0), ("b", 6L, 5.0), ("b", 7L, 2.0))
      .toDF("event_type", "event_id", "value").repartition(3)
    val w = Window.partitionBy($"event_type").orderBy(desc("value"))
    def windowed(fn: org.apache.spark.sql.Column) =
      windowReference(tied.withColumn("r", fn.over(w))
        .filter($"r" <= 2 && $"r" > 0).drop("r")).map(_.toSeq).toSet
    val nativeRank = TopK.perKey(tied, Seq($"event_type"),
        Seq(desc("value")), 2, TopKMode.Rank)
      .collect().map(_.toSeq).toSet
    assert(nativeRank === windowed(rank()))
    val nativeDense = TopK.perKey(tied, Seq($"event_type"),
        Seq(desc("value")), 2, TopKMode.DenseRank)
      .collect().map(_.toSeq).toSet
    assert(nativeDense === windowed(dense_rank()))
    // and they differ from each other here: dense keeps b's 2.0 class
    assert(nativeDense !== nativeRank)
  }

  test("physical plan shows partial heaps below the exchange") {
    val df = TopK.perKey(events, Seq($"event_type"),
      Seq(desc("value"), $"event_id"), 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("FinalTopK"), plan.take(1500))
    assert(plan.contains("PartialTopK"), plan.take(1500))
    // partial must sit below the shuffle: its output feeds the exchange
    val partialIdx = plan.indexOf("PartialTopK")
    val exchangeIdx = plan.indexOf("Exchange")
    assert(exchangeIdx >= 0 && exchangeIdx < partialIdx,
      s"exchange@$exchangeIdx partial@$partialIdx\n${plan.take(1500)}")
  }

  test("k larger than group size returns whole groups; k=1 returns maxima") {
    val tiny = Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 5.0))
      .toDF("event_type", "event_id", "value")
    val all = TopK.perKey(tiny, Seq($"event_type"),
      Seq(desc("value"), $"event_id"), 100).count()
    assert(all === 3)
    val top1 = TopK.perKey(tiny, Seq($"event_type"),
        Seq(desc("value"), $"event_id"), 1)
      .select($"event_type", $"event_id").as[(String, Long)].collect().toSet
    assert(top1 === Set(("a", 2L), ("b", 3L)))
  }

  test("the registered topk_per_key_native query runs on the native" +
      " operator (plan evidence for the driver-executed form)") {
    // The driver runs SparkEntry.queries("topk_per_key_native"), not
    // TopK.perKey directly — pin that THE registered query's executed
    // plan carries the partial/final heap pair, so a refactor of the
    // query body (or a rule-registration regression in GraftExtensions)
    // cannot silently fall back to the window form while the oracle
    // still passes on values.
    val df = SparkEntry.queries("topk_per_key_native")(spark, sf0001)
    df.collect() // AQE-final plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartialTopK"), plan.take(1500))
    assert(plan.contains("FinalTopK"), plan.take(1500))
    val partialIdx = plan.indexOf("PartialTopK")
    val exchangeIdx = plan.indexOf("Exchange")
    assert(exchangeIdx >= 0 && exchangeIdx < partialIdx,
      s"partial heap not below the shuffle\n${plan.take(1500)}")
  }

  test("optimizer rule rewrites the row_number idiom to the native operator") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"event_type").orderBy(desc("value"), $"event_id")
    val idiom = events.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5).drop("rn")
    val plan = idiom.queryExecution.executedPlan.toString
    assert(plan.contains("FinalTopK"), plan.take(1500))
    // no window exec, no leftover WindowGroupLimit, and — the point of the
    // heap-based operator — no sort anywhere in the plan
    assert(!plan.contains("Window"), plan.take(1500))
    assert(!plan.contains("Sort"), plan.take(1500))
    // result set identical to the un-rewritten window form
    val base = windowReference(events.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5 && $"rn" > 0).drop("rn")).map(_.toSeq).toSet
    assert(idiom.collect().map(_.toSeq).toSet === base)
  }

  test("rewrite fires even when the rank is in the result (rank emitted)") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"event_type").orderBy(desc("value"), $"event_id")
    val keepsRank = events.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5) // rn survives into the output
    val plan = keepsRank.queryExecution.executedPlan.toString
    assert(plan.contains("FinalTopK"), plan.take(1500))
    assert(!plan.contains("Window"), plan.take(1500))
    // the emitted rank must equal the window's row_number, row by row
    val got = keepsRank.select($"event_type", $"event_id", $"value", $"rn")
      .as[(String, Long, Double, Int)].collect().toSet
    val expected = events.as[(String, Long, Double)].collect()
      .groupBy(_._1).toSeq.flatMap { case (et, rows) =>
        rows.sortBy(t => (-t._3, t._2)).take(5).zipWithIndex
          .map { case ((_, id, v), i) => (et, id, v, i + 1) }
      }.toSet
    assert(got === expected)
  }

  test("rewrite handles rn < k and rn = 1 forms") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"event_type").orderBy(desc("value"), $"event_id")
    val lt = events.withColumn("rn", row_number().over(w))
      .filter($"rn" < 4).drop("rn")
    assert(lt.queryExecution.executedPlan.toString.contains("FinalTopK"))
    assert(lt.count() === 5 * 3) // 5 event types × top-3
    val eq1 = events.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).drop("rn")
    assert(eq1.queryExecution.executedPlan.toString.contains("FinalTopK"))
    val maxima = eq1.select($"event_type", $"value").as[(String, Double)]
      .collect().toMap
    val expect = events.groupBy($"event_type").agg(max($"value"))
      .as[(String, Double)].collect().toMap
    assert(maxima === expect)
  }

  test("empty keys = global top-k, even on multi-partition input") {
    // repartition(7) forces the case the single-file read hides: partials
    // from many partitions must be coalesced before the final pass
    val multi = events.repartition(7)
    val top3 = TopK.perKey(multi, Seq.empty, Seq(desc("value"), $"event_id"), 3)
      .select($"value").as[Double].collect().sorted.reverse
    assert(top3.length === 3)
    val expected = events.orderBy(desc("value"), $"event_id").limit(3)
      .select($"value").as[Double].collect().sorted.reverse
    assert(top3.toSeq === expected.toSeq)
  }
}
