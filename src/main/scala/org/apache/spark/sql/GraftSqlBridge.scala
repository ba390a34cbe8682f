package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into `private[sql]` Column↔Expression plumbing, the
  * established pattern for libraries contributing custom Catalyst
  * expressions (cf. the public Qbeast/Spark-extension projects), plus the
  * few private members listed here. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The running SparkContext, if any; never starts one. */
  def activeSparkContext: Option[SparkContext] = SparkContext.getActive

  def logicalPlan(df: DataFrame): catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A copy of the session's SQL conf with `pins` set: what the parquet
    * schema converter of [[graft.sources.Tables.parquet]] is built from.
    * The session's own conf is left as it was. */
  def sqlConf(spark: SparkSession, pins: (String, String)*): internal.SQLConf = {
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf.clone()
    pins.foreach { case (k, v) => conf.setConfString(k, v) }
    conf
  }

  /** Rebuild a just-checkpointed Dataset's `LogicalRDD` leaf WITHOUT its
    * `originConstraints`, returning the checkpointed RDD's id alongside.
    *
    * Why: `Dataset.localCheckpoint` copies the pre-checkpoint plan's
    * constraint set into the new leaf, and those `ExpressionSet`s
    * reference PRE-checkpoint exprIds. When the checkpointed frame is
    * later self-unioned (its second occurrence deduplicated via
    * `newInstance`), `Union.rewriteConstraints` maps child outputs to
    * union outputs and hits the stale ids — `key not found: node#…` at
    * analysis time. Constraints on a materialized leaf buy only filter
    * inference the upstream plan already applied, so dropping them is
    * safe; `originStats` are PRESERVED (losing them would reset
    * sizeInBytes to `defaultSizeInBytes` and silently disable size-based
    * broadcasts of checkpointed frames). */
  def stripCheckpointConstraints(df: DataFrame,
      originStats: Option[catalyst.plans.logical.Statistics])
      : (DataFrame, Option[Int]) =
    df.queryExecution.analyzed match {
      case l: execution.LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[classic.SparkSession]
        val clean = new execution.LogicalRDD(l.output, l.rdd,
          l.outputPartitioning, l.outputOrdering, l.isStreaming, l.stream)(
          session, originStats, None)
        (classic.Dataset.ofRows(session, clean), Some(l.rdd.id))
      case _ => (df, None)
    }

  /** The checkpointed RDD id behind a `LogicalRDD` / `RDDScanExec` node,
    * if the node is one — the lookup key for [[graft.operators.Eager]]'s
    * provenance map (plan-shape audits look THROUGH checkpointed leaves
    * the way they look through `InMemoryRelation.cachedPlan`). */
  def checkpointRddId(p: catalyst.plans.logical.LogicalPlan): Option[Int] =
    p match {
      case l: execution.LogicalRDD => Some(l.rdd.id)
      case _ => None
    }
  def checkpointRddIdPhys(p: execution.SparkPlan): Option[Int] = p match {
    case r: execution.RDDScanExec => Some(r.rdd.id)
    case _ => None
  }
}
