package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.{FileSourceScanExec, LogicalRDD, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.types.{DoubleType, FloatType}
import graft.operators.Eager

/** The one inventory sweep of the test suite: every registered key's frame
  * built once and run once at sf0.001, in name order, on first use in the
  * test JVM. Every inventory-wide check (`PlanShapeSpec`'s plan audits,
  * `NegativeZeroSpec`) asserts on the [[Record]] this keeps per key; a new
  * inventory-wide check adds a field here instead of another loop over
  * `SparkEntry.queries`.
  *
  * A record holds facts only, never a frame or a plan, so it pins no
  * checkpoint blocks. Each fact is taken as soon as its key's build or run
  * ends:
  *  - from the optimized plan, after the build: partitionless windows over
  *    fact-sized input, the parquet scans, the checkpointed leaves and the
  *    duplicated fact-bearing shuffle subtrees. The look-through reads
  *    `Eager.provenance`, which is cleared once it holds 8,192 plans, so it
  *    cannot wait for later keys;
  *  - from the physical plan before execution: whether it plans a
  *    `CartesianProduct` or a `BroadcastNestedLoopJoin`. Running the frame
  *    rewrites its `AdaptiveSparkPlanExec` in place, so these come first;
  *  - from the run (`collect`'s execution): the negative zeros per top-level double or
  *    float column, and the equal fact-bearing exchanges that both executed
  *    in the AQE-final plan.
  * A key whose build or run throws keeps its error and the facts taken
  * before it; the sweep goes on. */
object InventorySweep {

  /** One key's facts: `error` if its build or run threw, the optimized-plan
    * facts (`partitionlessWindows` to `dupShuffles`), the physical-plan
    * facts (`cartesian`, `nestedLoop`) and the run facts (`negativeZeros`
    * per double/float column, `dupExchanges` by node name). */
  final case class Record(
      name: String,
      error: Option[String] = None,
      partitionlessWindows: Int = 0,
      scanPaths: Seq[String] = Nil,
      checkpointReads: Int = 0,
      dupShuffles: Seq[String] = Nil,
      cartesian: Boolean = false,
      nestedLoop: Boolean = false,
      negativeZeros: Seq[(String, Long)] = Nil,
      dupExchanges: Seq[String] = Nil) {
    /** Direct scans of `table` in the optimized plan. */
    def scans(table: String): Int = scanPaths.count(_.contains(s"$table.parquet"))
  }

  final class Sweep(records: IndexedSeq[Record]) {
    private val byName = records.map(r => r.name -> r).toMap

    def apply(name: String): Record = byName(name)

    /** Every key whose build or run threw, by name, with its error. */
    def failed: Seq[String] =
      records.flatMap(r => r.error.map(e => s"${r.name} failed: $e"))

    /** What an inventory check asserts empty: every failed key, then every
      * message `flag` gives for a key that built and ran. */
    def offenders(flag: Record => Option[String]): Seq[String] =
      failed ++ records.filter(_.error.isEmpty).flatMap(flag)
  }

  private var sweep: Option[Sweep] = None

  def apply(spark: SparkSession): Sweep = synchronized {
    sweep.getOrElse {
      val s = new Sweep(SparkEntry.keys.sortBy(_.name)
        .map(k => record(k.name, k.run(spark, SparkSuite.sf0001))).toIndexedSeq)
      sweep = Some(s)
      s
    }
  }

  /** Builds and runs one frame and takes its facts. The sweep calls this
    * per key; the planted-offender tests call it on hand-built frames. */
  def record(name: String, build: => DataFrame): Record = {
    var r = Record(name)
    try {
      val df = build
      val qe = df.queryExecution
      val lp = qe.optimizedPlan
      val physical = qe.executedPlan.toString
      r = r.copy(
        partitionlessWindows = lp.collect {
          case w: logical.Window if w.partitionSpec.isEmpty && !groupSized(w.child) => w
        }.size,
        scanPaths = lp.collect { case l: LogicalRelation => scanPathsOf(l) },
        checkpointReads = lp.collect { case c: LogicalRDD => c }.size,
        dupShuffles = lp.collect { case p if shuffley(p) && p.exists(isFactScan) => p }
          .groupBy(_.canonicalized).values.filter(_.size >= 2).map(_.head.nodeName).toSeq,
        cartesian = physical.contains("CartesianProduct"),
        nestedLoop = physical.contains("BroadcastNestedLoopJoin"))
      // executed as `collect` does, minus the conversion to external rows,
      // which generates a deserializer per output schema (~20 ms a key)
      val rows = SQLExecution.withNewExecutionId(qe, Some("collect"))(
        qe.executedPlan.executeCollect())
      val negativeZeros = df.schema.fields.toSeq.zipWithIndex.collect {
        case (f, i) if f.dataType == DoubleType =>
          f.name -> rows.count(row => !row.isNullAt(i) &&
            java.lang.Double.doubleToRawLongBits(row.getDouble(i)) == Long.MinValue).toLong
        case (f, i) if f.dataType == FloatType =>
          f.name -> rows.count(row => !row.isNullAt(i) &&
            java.lang.Float.floatToRawIntBits(row.getFloat(i)) == Int.MinValue).toLong
      }
      r.copy(negativeZeros = negativeZeros,
        dupExchanges = walk(qe.executedPlan)
          .collect { case e: Exchange => e }
          .groupBy(_.canonicalized).values
          .filter(copies => copies.size >= 2 && copies.exists(readsFact))
          .map(_.head.nodeName).toSeq)
    } catch {
      case NonFatal(e) => r.copy(error = Some(e.toString.linesIterator.next()))
    }
  }

  private val facts = Seq("lineitem", "orders", "events", "documents", "embeddings")

  /** The scan's source paths. `LogicalRelation.relation.toString` is just
    * "parquet" — matching a table name against it NEVER fires (the round-9
    * audit was silently vacuous because of this); the real identity lives
    * in the HadoopFsRelation's FileIndex root paths. */
  private def scanPathsOf(l: LogicalRelation): String = l.relation match {
    case h: HadoopFsRelation => h.location.rootPaths.mkString(",")
    case _ => ""
  }

  private def isFactScan(p: logical.LogicalPlan): Boolean = p match {
    case l: LogicalRelation => facts.exists(t => scanPathsOf(l).contains(s"$t.parquet"))
    case _ => false
  }

  private def shuffley(p: logical.LogicalPlan): Boolean = p match {
    case _: logical.Aggregate | _: logical.Join | _: logical.Window |
        _: logical.Deduplicate => true
    case _ => false
  }

  /** Whether every path from `p` down to a leaf passes an aggregate or a
    * limit, i.e. the input is bounded by a group domain, not by the fact
    * cardinality. A partitionless Window is legitimate only over such input
    * (stats_ks's grouped value grid, seasonal_decompose's daily frame). */
  private def groupSized(p: logical.LogicalPlan): Boolean = p match {
    case _: logical.Aggregate => true
    // a limit bounds its output by construction (top-k order statistics:
    // anomaly_pot / stats_hill_tail window over ≤101 rows)
    case _: logical.GlobalLimit | _: logical.LocalLimit => true
    // a cached frame is group-sized iff the plan it materializes is — the
    // relation itself is a leaf (anomaly_seasonal caches its |days|-row
    // residual frame)
    case m: InMemoryRelation => groupSizedPhys(m.cachedPlan)
    // a checkpointed leaf: Eager records the plan it materialized so this
    // audit can look through the otherwise-opaque RDD leaf
    case l if Eager.planBehind(l).isDefined => groupSized(Eager.planBehind(l).get)
    case l if l.children.isEmpty => false
    case l => l.children.forall(groupSized)
  }

  /** The physical twin of [[groupSized]], for looking through an
    * `InMemoryRelation`: a per-node name test, not a whole-tree substring
    * match, so a cached fact-sized crossJoin that merely CONTAINS an
    * aggregate branch does not sneak past. */
  private def groupSizedPhys(p: SparkPlan): Boolean = p match {
    case a if a.nodeName.contains("Aggregate") => true
    case l if l.nodeName.contains("Limit") => true
    // AQE wraps the real plan as a childless node; unwrap it
    case aqe: AdaptiveSparkPlanExec => groupSizedPhys(aqe.executedPlan)
    // a cached frame built over ANOTHER cached frame (e.g.
    // anomaly_seasonal's dev over dec): recurse into its build plan
    case s: InMemoryTableScanExec => groupSizedPhys(s.relation.cachedPlan)
    case r if Eager.planBehindPhys(r).isDefined => groupSized(Eager.planBehindPhys(r).get)
    case l if l.children.isEmpty => false
    case l => l.children.forall(groupSizedPhys)
  }

  /** Every node of a physical plan, through AQE wrappers, query stages and
    * subqueries. */
  private def walk(p: SparkPlan): Seq[SparkPlan] = {
    val nested = p match {
      case q: QueryStageExec => Seq(q.plan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case _ => Seq.empty[SparkPlan]
    }
    p +: (p.children ++ p.subqueries ++ nested).flatMap(walk)
  }

  private def readsFact(root: SparkPlan): Boolean = walk(root).exists {
    case f: FileSourceScanExec =>
      facts.exists(t => f.relation.location.rootPaths.mkString(",").contains(s"$t.parquet"))
    case _ => false
  }
}
