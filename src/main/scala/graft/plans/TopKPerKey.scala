package graft.plans

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Custom whole-operator: exact top-k rows per key.
  *
  * Spark expresses "top k per group" as `row_number().over(partitionBy(key)
  * .orderBy(...)) <= k` — a full shuffle of EVERY row followed by a full
  * sort of every partition. At 100 TB of events that plan moves the whole
  * table to keep 5 rows per key. This operator is the plan you actually
  * want (preference tier (c) of the build charter — a semantic Spark's
  * optimizer cannot derive):
  *
  *   PartialTopKExec   per input partition, bounded heap per key → emits
  *                     ≤ k rows per (key, partition); runs map-side,
  *                     BEFORE the exchange (like partial aggregation)
  *   exchange          hash on key — carries ≤ k·parts rows per key,
  *                     not the whole table
  *   FinalTopKExec     same bounded-heap pass per co-located key → exact
  *
  * Correctness: top-k is a semilattice fold (top-k of a union = top-k of
  * per-part top-ks), so partial+final is exact, not approximate. Ties are
  * impossible by construction when the ordering ends in a unique tiebreak
  * column — the deterministic-output house rule anyway.
  */
/** Which ranking function's `<= k` filter this operator implements.
  * All three share the partial+final shape (each is a monotone
  * qualification rule: a row qualifying globally qualifies within any
  * subset, so per-partition pre-filtering is exact), but retain
  * different row sets at the boundary:
  *  - RowNum: exactly k rows per key (total-order house rule);
  *  - Rank: rows with < k strictly-better rows — ties at the k-th
  *    position ALL qualify, so a key can exceed k rows;
  *  - DenseRank: rows among the k best DISTINCT order values — each
  *    value class keeps all its rows.
  * Rank/DenseRank memory is O(k classes + boundary ties) per key — the
  * same bound Spark's own WindowGroupLimit(Rank/DenseRank) carries. */
sealed trait TopKMode
object TopKMode {
  case object RowNum extends TopKMode
  case object Rank extends TopKMode
  case object DenseRank extends TopKMode
}

case class TopKPerKey(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan,
    rankAttr: Option[Attribute] = None,
    mode: TopKMode = TopKMode.RowNum) extends UnaryNode {
  // rankAttr: when the query consumes the rank itself (`SELECT ..., rn`),
  // the final stage emits each row's 1-based position within its key,
  // under the SAME attribute id the window's ranking function carried —
  // so the rewrite substitutes this node even for rank-projecting
  // queries. For RowNum the position is well-defined because the house
  // rule makes the ordering total (unique tiebreak column); for
  // Rank/DenseRank ties are first-class and the emitted value is the
  // standard rank/dense_rank of the row's value class.
  override def output: Seq[Attribute] = child.output ++ rankAttr
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Shared bounded-heap pass: one hash map key → k-capped heap.
  *
  * Memory: O(distinct keys per partition × k rows) — the same class as
  * hash aggregation. A production build adds the ObjectHashAggregate-style
  * fallback (spill the map, sort-based finish) for adversarial key counts;
  * at 100 TB with key-clustered input files the map stays small. */
object TopKExec {
  private def buildHeaps(
      iter: Iterator[InternalRow],
      keyProj: UnsafeProjection,
      ordering: Ordering[InternalRow],
      k: Int): mutable.HashMap[UnsafeRow, mutable.PriorityQueue[InternalRow]] = {
    // max-heap on `ordering` so the WORST retained row is on top
    val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
    iter.foreach { row =>
      val key = keyProj(row) // transient buffer — copy only on first sight
      val heap = heaps.get(key) match {
        case Some(h) => h
        case None =>
          val h = mutable.PriorityQueue.empty[InternalRow](ordering)
          heaps.put(key.copy(), h)
          h
      }
      if (heap.size < k) heap.enqueue(row.copy())
      else if (ordering.lt(row, heap.head)) { heap.dequeue(); heap.enqueue(row.copy()) }
    }
    heaps
  }

  /** The top `k` rows per key of one partition under `mode`, unranked. */
  def topKRows(iter: Iterator[InternalRow], keyProj: UnsafeProjection,
      ordering: Ordering[InternalRow], k: Int,
      mode: TopKMode): Iterator[InternalRow] = mode match {
    case TopKMode.RowNum => topKIterator(iter, keyProj, ordering, k)
    case TopKMode.Rank =>
      topKClassesIterator(iter, keyProj, ordering, k, dense = false)
    case TopKMode.DenseRank =>
      topKClassesIterator(iter, keyProj, ordering, k, dense = true)
  }

  def topKIterator(
      iter: Iterator[InternalRow],
      keyProj: UnsafeProjection,
      ordering: Ordering[InternalRow],
      k: Int): Iterator[InternalRow] =
    buildHeaps(iter, keyProj, ordering, k).valuesIterator.flatMap(_.iterator)

  /** Final-stage variant emitting each row's 1-based rank within its key.
    * dequeueAll drains the max-heap worst-first; reversed, the best row of
    * the key gets rank 1 — exactly row_number() under the same ordering
    * (total by the unique-tiebreak house rule). Sorting k retained rows is
    * O(k log k) per key, independent of the input size. */
  def topKRankedIterator(
      iter: Iterator[InternalRow],
      keyProj: UnsafeProjection,
      ordering: Ordering[InternalRow],
      k: Int): Iterator[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.JoinedRow
    buildHeaps(iter, keyProj, ordering, k).valuesIterator.flatMap { h =>
      val worstFirst: Seq[InternalRow] = h.dequeueAll
      worstFirst.reverseIterator.zipWithIndex.map { case (row, i) =>
        new JoinedRow(row, InternalRow(i + 1))
      }
    }
  }

  // ── rank()/dense_rank() retention: per key, CLASSES of order-equal rows
  // kept sorted best→worst. A row joins its class (ties are first-class
  // here — no unique-tiebreak assumption); a new class is admitted only
  // while it still qualifies (rank: < k rows strictly before it;
  // dense_rank: < k classes before it), and trailing classes are evicted
  // as better rows arrive. Classes per key ≤ k; rows per key ≤ k-1 +
  // boundary ties (rank) / unbounded-by-ties (dense_rank) — exactly the
  // rows the window filter would keep, which is what makes the
  // partial+final split exact (qualification is monotone under subsets).

  private type Classes = mutable.ArrayBuffer[mutable.ArrayBuffer[InternalRow]]

  private def buildClasses(
      iter: Iterator[InternalRow],
      keyProj: UnsafeProjection,
      ordering: Ordering[InternalRow],
      k: Int,
      dense: Boolean): mutable.HashMap[UnsafeRow, Classes] = {
    val keys = mutable.HashMap.empty[UnsafeRow, Classes]
    def evict(classes: Classes): Unit =
      if (dense) { while (classes.length > k) classes.remove(classes.length - 1) }
      else {
        var prefix = 0
        var keep = 0
        while (keep < classes.length && prefix < k) {
          prefix += classes(keep).length; keep += 1
        }
        while (classes.length > keep) classes.remove(classes.length - 1)
      }
    iter.foreach { row =>
      val key = keyProj(row) // transient buffer — copy only on first sight
      val classes = keys.get(key) match {
        case Some(c) => c
        case None =>
          val c: Classes = mutable.ArrayBuffer.empty
          keys.put(key.copy(), c)
          c
      }
      // binary search among class representatives (first row of a class)
      var lo = 0
      var hi = classes.length - 1
      var found = -1
      while (found < 0 && lo <= hi) {
        val mid = (lo + hi) >>> 1
        val cmp = ordering.compare(row, classes(mid).head)
        if (cmp == 0) found = mid
        else if (cmp < 0) hi = mid - 1
        else lo = mid + 1
      }
      if (found >= 0) {
        classes(found) += row.copy()
        if (!dense) evict(classes) // a grown class can push trailing ones out
      } else {
        // admission check before copying: would the new class qualify?
        val admit =
          if (dense) lo < k
          else {
            var before = 0
            var i = 0
            while (i < lo) { before += classes(i).length; i += 1 }
            before < k
          }
        if (admit) {
          classes.insert(lo, mutable.ArrayBuffer(row.copy()))
          evict(classes)
        }
      }
    }
    keys
  }

  def topKClassesIterator(
      iter: Iterator[InternalRow],
      keyProj: UnsafeProjection,
      ordering: Ordering[InternalRow],
      k: Int,
      dense: Boolean): Iterator[InternalRow] =
    buildClasses(iter, keyProj, ordering, k, dense)
      .valuesIterator.flatMap(_.iterator.flatMap(_.iterator))

  /** Final-stage variant emitting each row's rank()/dense_rank() value:
    * classes drain best-first, so class i (0-based) carries dense rank
    * i+1 and rank 1 + (rows in classes before it). */
  def topKClassesRankedIterator(
      iter: Iterator[InternalRow],
      keyProj: UnsafeProjection,
      ordering: Ordering[InternalRow],
      k: Int,
      dense: Boolean): Iterator[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.JoinedRow
    buildClasses(iter, keyProj, ordering, k, dense).valuesIterator.flatMap { cs =>
      var rowsBefore = 0
      cs.iterator.zipWithIndex.flatMap { case (cls, i) =>
        val r = if (dense) i + 1 else rowsBefore + 1
        rowsBefore += cls.length
        cls.iterator.map(row => new JoinedRow(row, InternalRow(r)))
      }
    }
  }
}

case class PartialTopKExec(
    keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    mode: TopKMode, child: SparkPlan)
  extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] = {
    val (ks, os, out, kk, m) = (keys, order, child.output, k, mode)
    child.execute().mapPartitions { iter =>
      val (proj, ord) =
        (UnsafeProjection.create(ks, out), RowOrdering.create(os, out))
      TopKExec.topKRows(iter, proj, ord, kk, m)
    }
  }
  override protected def withNewChildInternal(c: SparkPlan): PartialTopKExec =
    copy(child = c)
}

case class FinalTopKExec(
    keys: Seq[Expression], order: Seq[SortOrder], k: Int,
    rankAttr: Option[Attribute], mode: TopKMode, child: SparkPlan)
  extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output ++ rankAttr
  // empty keys = GLOBAL top-k: all partial results must meet in one place
  // (AllTuples → single-partition exchange); UnspecifiedDistribution here
  // would silently emit k rows PER PARTITION on multi-partition input
  override def requiredChildDistribution: Seq[Distribution] =
    if (keys.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(keys) :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def doExecute(): RDD[InternalRow] = {
    val (ks, os, out, kk, m) = (keys, order, child.output, k, mode)
    val (ranked, outAll) = (rankAttr.isDefined, output)
    child.execute().mapPartitions { iter =>
      val (proj, ord) =
        (UnsafeProjection.create(ks, out), RowOrdering.create(os, out))
      if (ranked) {
        // downstream exchanges serialize UnsafeRow only — flatten the
        // (row, rank) JoinedRow through a projection before emitting
        val toUnsafe = UnsafeProjection.create(outAll, outAll)
        val it = m match {
          case TopKMode.RowNum =>
            TopKExec.topKRankedIterator(iter, proj, ord, kk)
          case TopKMode.Rank =>
            TopKExec.topKClassesRankedIterator(iter, proj, ord, kk, dense = false)
          case TopKMode.DenseRank =>
            TopKExec.topKClassesRankedIterator(iter, proj, ord, kk, dense = true)
        }
        it.map(toUnsafe)
      } else TopKExec.topKRows(iter, proj, ord, kk, m)
    }
  }
  override protected def withNewChildInternal(c: SparkPlan): FinalTopKExec =
    copy(child = c)
}

/** Planner strategy: logical TopKPerKey → partial + (exchange) + final.
  * The partial stage never ranks — ranks only exist after the per-key
  * merge, so the rank column is appended by the final stage alone. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child, rankAttr, mode) =>
      val planned = org.apache.spark.sql.execution.PlanLater(child)
      FinalTopKExec(keys, order, k, rankAttr, mode,
        PartialTopKExec(keys, order, k, mode, planned)) :: Nil
    case _ => Nil
  }
}

/** User-facing entry point. */
object TopK {
  /** Exact top-k rows per key, ordered by `order` (make the last sort key
    * unique for deterministic output). `mode` selects the retention rule:
    * RowNum keeps exactly k rows per key; Rank/DenseRank keep the rows
    * their ranking function's `<= k` filter would (boundary ties / full
    * value classes included).
    *
    * Column→Expression note: raw `Column`s carry lazy ColumnNode wrappers
    * that the analyzer only resolves inside KNOWN plan nodes — handing them
    * straight to a custom node leaves unresolved, unserializable
    * expressions in the physical plan. So the sort orders and key
    * expressions are harvested from throwaway ANALYZED `Sort`/`Project`
    * plans over the same DataFrame (attribute ids line up because the
    * child subtree is shared). */
  def perKey(df: DataFrame, keyCols: Seq[Column], orderCols: Seq[Column],
      k: Int, mode: TopKMode = TopKMode.RowNum): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Sort}
    val spark = df.sparkSession
    val sortPlan = GraftSqlBridge.logicalPlan(df.sortWithinPartitions(orderCols: _*))
      .asInstanceOf[Sort]
    val keys: Seq[Expression] =
      if (keyCols.isEmpty) Seq.empty
      else GraftSqlBridge.logicalPlan(df.select(keyCols: _*))
        .asInstanceOf[Project].projectList.map {
          case a: Alias => a.child
          case e => e
        }
    GraftSqlBridge.ofRows(spark,
      TopKPerKey(keys, sortPlan.order, k, sortPlan.child, None, mode))
  }
}
