package graft.operators

import org.apache.spark.sql.DataFrame

/** The per-action scope of the materialization layer: run a frame that
  * several branches (or loop rounds) of one action consume ONCE, NOW,
  * and hand every consumer the same blocks. Corpus-scoped state goes
  * through [[SharedCorpus.memo]], which applies this to its build.
  *
  * `.cache()` alone is the wrong tool for intra-action sharing, for two
  * measured reasons:
  *
  *  1. **Cold-cache race.** A cached-but-unmaterialized partition is
  *     computed independently by every concurrent stage that needs it —
  *     the block manager dedups only AFTER one writer finishes.
  *  2. **Eviction fragility.** A long multi-tenant session can evict the
  *     entry between branches: round 8's `dedup_pipeline` ran 6.5× slower
  *     under the full bench refresh for exactly this reason.
  *
  * `localCheckpoint(eager = true)` pins the result MEMORY_AND_DISK and
  * truncates lineage (an iterative loop stays linear instead of
  * re-executing every earlier round); the blocks are reclaimed by the
  * ContextCleaner once the frame is unreachable. A local checkpoint is
  * not fault-tolerant: executor loss costs a stage re-run, and lost
  * blocks of a corpus-scoped frame are rebuilt by [[SharedCorpus]].
  *
  * This is the ONLY place the codebase checkpoints; a frame that is
  * already an Eager leaf is returned unchanged, so a build whose last
  * loop round checkpointed runs no extra job when memoized.
  */
private[graft] object Eager {

  /** Pre-checkpoint OPTIMIZED plans keyed by checkpointed-RDD id — the
    * auditability hook: plan-shape specs look THROUGH a checkpointed
    * leaf (is the frame group-sized? fact-sized?) the way they look
    * through `InMemoryRelation.cachedPlan`. Bounded defensively; entries
    * are driver-side plan trees, a few KB each. */
  private[graft] val provenance =
    new java.util.concurrent.ConcurrentHashMap[
      Int, org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]()
  private val ProvenanceMax = 8192

  def apply(df: DataFrame): DataFrame =
    if (planBehind(df.queryExecution.analyzed).isDefined) df
    else {
      val pre = df.queryExecution.optimizedPlan
      // strip originConstraints from the checkpoint leaf: they carry
      // pre-checkpoint exprIds and break Union constraint rewriting when
      // the frame is self-unioned (see GraftSqlBridge for the full story);
      // the pre-checkpoint plan's stats are re-attached so size-based
      // broadcast decisions over the checkpointed frame stay intact
      val (clean, rddId) = org.apache.spark.sql.GraftSqlBridge
        .stripCheckpointConstraints(df.localCheckpoint(true),
          Some(pre.stats))
      rddId.foreach { id =>
        if (provenance.size() >= ProvenanceMax) provenance.clear()
        provenance.put(id, pre)
      }
      clean
    }

  /** Whether an Eager frame's checkpoint blocks are still registered
    * with the SparkContext (false once they were unpersisted). */
  private[graft] def registered(df: DataFrame): Boolean =
    org.apache.spark.sql.GraftSqlBridge
      .checkpointRddId(df.queryExecution.analyzed)
      .forall(df.sparkSession.sparkContext.getPersistentRDDs.contains)

  /** The plan a checkpointed leaf materialized, if `p` is one. */
  private[graft] def planBehind(
      p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    org.apache.spark.sql.GraftSqlBridge.checkpointRddId(p)
      .flatMap(id => Option(provenance.get(id)))

  /** The plan behind a physical `RDDScanExec`, if checkpoint-backed. */
  private[graft] def planBehindPhys(
      p: org.apache.spark.sql.execution.SparkPlan)
      : Option[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] =
    org.apache.spark.sql.GraftSqlBridge.checkpointRddIdPhys(p)
      .flatMap(id => Option(provenance.get(id)))
}
