package graft

import org.apache.spark.sql.functions._
import graft.operators.Eager

/** Pins the contract of [[graft.operators.Eager]] — the eager
  * checkpoint helper every multi-consumer composite leans on since
  * round 9. Each test guards a behavior that a Spark upgrade or a
  * refactor of GraftSqlBridge could silently break. */
class EagerSpec extends SparkSuite {

  test("an Eager frame can be SELF-UNIONED (originConstraints stripped)") {
    // Dataset.localCheckpoint copies the pre-checkpoint plan's
    // constraints, whose ExpressionSets reference pre-checkpoint
    // exprIds; a self-union deduplicates the second occurrence via
    // newInstance and Union.rewriteConstraints then hits the stale ids —
    // `key not found: node#…` at ANALYSIS time. Eager strips them.
    // (ExtensionOps2Spec caught this live in dedup_cluster's distributed
    // path; this is the minimal reproducer kept as a regression gate.)
    val base = Eager(spark.range(10)
      .select(col("id").as("src"), (col("id") + 1).as("dst")))
    val sym = base.union(base.select(col("dst"), col("src")))
    assert(sym.count() === 20)
    // and through an aggregate + join round, the dedup_cluster shape
    val labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    val joined = sym.join(labels, col("src") === col("node"))
    assert(joined.count() === 20)
  }

  test("Eager records provenance: the pre-checkpoint plan is findable " +
      "behind the LogicalRDD leaf") {
    val pre = spark.range(100).groupBy((col("id") % 10).as("k"))
      .agg(count(lit(1)).as("n"))
    val ck = Eager(pre.toDF())
    val leaf = ck.queryExecution.analyzed
    val behind = Eager.planBehind(leaf)
    assert(behind.isDefined, s"no provenance for:\n$leaf")
    // the recorded plan is the AGGREGATE the checkpoint materialized —
    // what PlanShapeSpec's group-sized audit needs to see through
    assert(behind.get.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]),
      behind.get.toString)
  }

  test("Eager preserves stats: a small checkpointed frame still " +
      "auto-broadcasts (sizeInBytes is not defaultSizeInBytes)") {
    // stripping originStats along with the constraints would reset the
    // leaf's sizeInBytes to spark.sql.defaultSizeInBytes (Long.Max-ish),
    // silently demoting every size-based broadcast join over a
    // checkpointed frame to a shuffle
    val small = Eager(spark.range(50).select(col("id").as("k"),
      lit("x").as("tag")))
    val sz = small.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(sz < BigInt(10L * 1024 * 1024), s"sizeInBytes=$sz")
    val big = spark.range(100000).select((col("id") % 50).as("k"),
      col("id").as("v"))
    val plan = big.join(small, "k").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("Eager frames execute once: the checkpoint leaf has no lineage " +
      "back to the input (re-scan is structurally impossible)") {
    val ck = Eager(Tables0.docs(spark, sf0001))
    val leaves = ck.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size === 1)
    assert(leaves.head.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      leaves.head.getClass.toString)
    // three downstream consumers all bottom out in the same leaf class —
    // no parquet relation anywhere
    val fanout = ck.groupBy("lang").count()
      .union(ck.groupBy("lang").count())
      .union(ck.groupBy("lang").count())
    val scans = fanout.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    assert(scans.isEmpty)
  }

  private object Tables0 {
    def docs(spark: org.apache.spark.sql.SparkSession, dir: String) =
      graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"))
  }
}
