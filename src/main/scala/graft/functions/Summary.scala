package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.DataType

/** One mergeable sketch family, as [[SummaryAgg]] runs it: summarize raw
  * values once per shard, STORE the summary, and later merge stored
  * summaries instead of re-reading the raw data. Its instances are
  * [[MisraGries]] (heavy hitters), [[DDSketch]] (quantiles) and
  * [[CountMin]] (point frequencies). Every buffer is updated in place. */
trait Summary[B] extends Product with Serializable {

  /** SQL names of the build (raw input) and merge (stored input) aggregates. */
  def buildName: String
  def mergeName: String

  /** The raw input's Catalyst type. */
  def inputType: DataType

  /** The buffer a build starts from. */
  def empty: B

  /** Whether a merge starts from [[empty]] too. Otherwise it starts from
    * its first stored summary, and a merge over none returns null. */
  def mergesFromEmpty: Boolean = false

  /** Folds one non-null raw input value into `b`. */
  def add(b: B, v: Any): Unit

  /** A non-null stored summary as a buffer; it folds in by [[merge]]. */
  def load(stored: Any): B

  /** Folds `b` into `a` and returns `a`. */
  def merge(a: B, b: B): B

  /** The stored form, which both aggregates return, and its type. */
  def store(b: B): Any
  def storedType: DataType

  /** Whether a merge takes `dt` as stored summaries, and what it asks for
    * in the type-check error otherwise. */
  def storedOk(dt: DataType): Boolean = dt == storedType
  def storedWanted: String

  /** The spill bytes of a buffer, and back. */
  def toBytes(b: B): Array[Byte]
  def fromBytes(bytes: Array[Byte]): B
}

/** A family whose stored form is its spill bytes. */
trait BinarySummary[B] extends Summary[B] {
  def store(b: B): Any = toBytes(b)
  def storedType: DataType = org.apache.spark.sql.types.BinaryType
  def storedWanted: String = "a BINARY sketch column"
  def load(stored: Any): B = fromBytes(stored.asInstanceOf[Array[Byte]])
}

/** The one aggregate of every [[Summary]] family: over raw values
  * (`stored = false`) it builds a summary, over stored summaries
  * (`stored = true`) it merges them. As a TypedImperativeAggregate it
  * lowers to ObjectHashAggregate with map-side partials, so only
  * summaries shuffle, never the input rows. A build never returns null;
  * a merge returns null over no stored summary unless the family
  * [[Summary.mergesFromEmpty]]. */
case class SummaryAgg[B](
    child: Expression,
    summary: Summary[B],
    stored: Boolean,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Option[B]] {

  // analysis-time type check: the functions are SQL-registered, so a wrong
  // column must fail in the analyzer, not as a ClassCastException mid-job
  override def checkInputDataTypes(): TypeCheckResult = {
    val dt = child.dataType
    val (ok, wanted) =
      if (stored) (summary.storedOk(dt), summary.storedWanted)
      else (dt == summary.inputType, s"a ${summary.inputType.sql} column")
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName requires $wanted, got ${dt.sql}")
  }

  override def createAggregationBuffer(): Option[B] =
    if (stored && !summary.mergesFromEmpty) None else Some(summary.empty)

  override def update(buf: Option[B], input: InternalRow): Option[B] = {
    val v = child.eval(input)
    if (v == null) buf
    else if (stored) merge(buf, Some(summary.load(v)))
    else { summary.add(buf.get, v); buf }
  }

  override def merge(a: Option[B], b: Option[B]): Option[B] = (a, b) match {
    case (Some(x), Some(y)) => Some(summary.merge(x, y))
    case (x, None) => x
    case (None, y) => y
  }

  override def eval(buf: Option[B]): Any = buf.map(summary.store).orNull
  override def serialize(buf: Option[B]): Array[Byte] =
    buf.map(summary.toBytes).getOrElse(Array.emptyByteArray)
  override def deserialize(bytes: Array[Byte]): Option[B] =
    if (bytes.isEmpty) None else Some(summary.fromBytes(bytes))

  override def dataType: DataType = summary.storedType
  override def nullable: Boolean = stored && !summary.mergesFromEmpty
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String =
    if (stored) summary.mergeName else summary.buildName
  // plans show the family's parameters, not the family: graft_cm_merge(sk, 0, 0)
  override protected def stringArgs: Iterator[Any] = Iterator(child) ++
    summary.productIterator.flatMap {
      case o: Option[_] => o
      case p => Some(p)
    } ++ Iterator(mutableAggBufferOffset, inputAggBufferOffset)

  override def withNewMutableAggBufferOffset(off: Int): SummaryAgg[B] =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): SummaryAgg[B] =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SummaryAgg[B] =
    copy(child = newChildren.head)
}

object SummaryAgg {
  import org.apache.spark.sql.GraftSqlBridge

  /** The Column-API form: `summary`'s build (or, if `stored`, merge)
    * aggregate over `c`. */
  def column[B](c: Column, summary: Summary[B], stored: Boolean): Column =
    GraftSqlBridge.column(
      SummaryAgg(GraftSqlBridge.expression(c), summary, stored).toAggregateExpression())
}
