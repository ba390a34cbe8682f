package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._

/** Mergeable relative-error quantile sketch over log-scale buckets — the
  * percentile analogue of the HLL pattern in `approx_distinct_merge`:
  * sketch once per partition/day, PERSIST the binary column, and answer
  * any later rollup by bin-count addition instead of a rescan.
  *
  * Design follows the published DDSketch algorithm (Masson, Rim, Lee,
  * "DDSketch: A Fast and Fully-Mergeable Quantile Sketch with
  * Relative-Error Guarantees", VLDB 2019): a value v > 0 lands in bucket
  * ⌈log_γ v⌉ with γ = (1+α)/(1-α), so returning the bucket's
  * relative-midpoint 2γ^i/(γ+1) guarantees relative error ≤ α for EVERY
  * quantile. Negative values mirror into their own bucket map; zeros get
  * a dedicated counter. Properties that matter here:
  *
  *  - FULLY mergeable: merge = per-bucket count addition — commutative
  *    and associative, so the result is bit-identical no matter how the
  *    input was partitioned or in which order partials combine (stronger
  *    than KLL/t-digest, whose merge is order-sensitive; and exactly the
  *    determinism house rule).
  *  - Bounded state: bucket count is capped; on overflow the
  *    lowest-magnitude buckets collapse together (the paper's collapsing
  *    variant), degrading accuracy only at the distribution's low tail.
  *  - One pass, partial-aggregated: [[SummaryAgg]] lowers to
  *    ObjectHashAggregate with map-side partials — only sketches shuffle,
  *    never values, the property that makes per-group percentiles of a
  *    100 TB fact table a single scan.
  */
object QSketch {
  /** Max stored buckets per sign before low-tail collapsing. 2048 buckets
    * at α=0.01 span ~41 orders of magnitude — far beyond any physical
    * measurement range; the cap exists for adversarial inputs. */
  val MaxBins = 2048

  final class Buf(val alpha: Double) {
    val gamma: Double = (1 + alpha) / (1 - alpha)
    private val logGamma = math.log(gamma)
    val pos = mutable.HashMap.empty[Int, Long]
    val neg = mutable.HashMap.empty[Int, Long]
    var zeros = 0L

    private def bucketOf(mag: Double): Int =
      math.ceil(math.log(mag) / logGamma).toInt

    def insert(v: Double): Unit =
      if (v == 0.0 || v.isNaN) { if (v == 0.0) zeros += 1 } // NaNs dropped
      else if (v > 0) bump(pos, bucketOf(v), 1L)
      else bump(neg, bucketOf(-v), 1L)

    private def bump(m: mutable.HashMap[Int, Long], i: Int, c: Long): Unit = {
      m(i) = m.getOrElse(i, 0L) + c
      if (m.size > MaxBins) collapse(m)
    }

    /** Collapse the two lowest-magnitude buckets (paper §2.3): accuracy
      * degrades only for quantiles that land in the collapsed low tail. */
    private def collapse(m: mutable.HashMap[Int, Long]): Unit = {
      val ks = m.keysIterator.toArray.sorted
      val (lo, next) = (ks(0), ks(1))
      m(next) = m(next) + m(lo)
      m.remove(lo)
    }

    def merge(o: Buf): Buf = {
      require(math.abs(alpha - o.alpha) < 1e-12,
        s"cannot merge sketches with different alpha: $alpha vs ${o.alpha}")
      o.pos.foreach { case (i, c) => bump(pos, i, c) }
      o.neg.foreach { case (i, c) => bump(neg, i, c) }
      zeros += o.zeros
      this
    }

    def count: Long = zeros + pos.valuesIterator.sum + neg.valuesIterator.sum

    /** Quantile estimate: walk buckets in value order (most-negative →
      * zero → most-positive) to the target rank, return the bucket's
      * relative midpoint. */
    def quantile(q: Double): Double = {
      val n = count
      if (n == 0) return Double.NaN
      val target = (q * (n - 1)).toLong
      var cum = 0L
      // negatives: larger magnitude = smaller value → descending bucket id
      for (i <- neg.keysIterator.toArray.sortBy(-_)) {
        cum += neg(i)
        if (cum > target) return -2.0 * math.pow(gamma, i) / (gamma + 1)
      }
      cum += zeros
      if (cum > target) return 0.0
      for (i <- pos.keysIterator.toArray.sorted) {
        cum += pos(i)
        if (cum > target) return 2.0 * math.pow(gamma, i) / (gamma + 1)
      }
      Double.NaN // unreachable: cum = n > target by then
    }
  }

  def serialize(b: Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeDouble(b.alpha)
    out.writeLong(b.zeros)
    def wm(m: mutable.HashMap[Int, Long]): Unit = {
      out.writeInt(m.size)
      m.foreach { case (i, c) => out.writeInt(i); out.writeLong(c) }
    }
    wm(b.pos); wm(b.neg)
    out.flush()
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new Buf(in.readDouble())
    b.zeros = in.readLong()
    def rm(m: mutable.HashMap[Int, Long]): Unit =
      (1 to in.readInt()).foreach(_ => m(in.readInt()) = in.readLong())
    rm(b.pos); rm(b.neg)
    b
  }
}

/** The [[QSketch]] family: `graft_quantile_sketch(value, α)` builds a
  * binary sketch (store it; merge later), `graft_quantile_merge(sketch)`
  * unions stored sketches (the hll_union_agg twin: pure bucket addition,
  * order-independent). `alpha` is the build's relative accuracy; a merge
  * has none (`None`): it takes alpha from its input, refuses to mix two,
  * and returns null over no sketch. */
final case class DDSketch(alpha: Option[Double]) extends BinarySummary[QSketch.Buf] {
  alpha.foreach(a => require(a > 0 && a < 1, s"alpha must be in (0,1), got $a"))

  def buildName: String = "graft_quantile_sketch"
  def mergeName: String = "graft_quantile_merge"
  def inputType: DataType = DoubleType
  // only a build starts from an empty sketch, and a build has alpha
  def empty: QSketch.Buf = new QSketch.Buf(alpha.get)
  def add(b: QSketch.Buf, v: Any): Unit = b.insert(v.asInstanceOf[Double])
  def merge(a: QSketch.Buf, b: QSketch.Buf): QSketch.Buf = a.merge(b)
  def toBytes(b: QSketch.Buf): Array[Byte] = QSketch.serialize(b)
  def fromBytes(bytes: Array[Byte]): QSketch.Buf = QSketch.deserialize(bytes)
}

object QuantileSketchAgg {
  def apply(c: Column, alpha: Double): Column =
    SummaryAgg.column(c, DDSketch(Some(alpha)), stored = false)
}

object QuantileMergeAgg {
  def apply(c: Column): Column = SummaryAgg.column(c, DDSketch(None), stored = true)
}

/** `quantile_estimate(sketch, q)` — read a quantile out of a (merged)
  * sketch. Interpreted eval (CodegenFallback) by design: it runs on
  * merged per-group rows — a handful after aggregation — never in the
  * per-value hot path. */
case class QuantileEstimate(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_quantile_estimate requires (BINARY sketch, DOUBLE quantile), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")

  override protected def nullSafeEval(sk: Any, q: Any): Any =
    QSketch.deserialize(sk.asInstanceOf[Array[Byte]])
      .quantile(q.asInstanceOf[Double])

  override def dataType: DataType = DoubleType
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantileEstimate =
    copy(left = newLeft, right = newRight)
}

object QuantileEstimate {
  import org.apache.spark.sql.GraftSqlBridge
  def apply(sk: Column, q: Double): Column =
    GraftSqlBridge.column(QuantileEstimate(
      GraftSqlBridge.expression(sk),
      org.apache.spark.sql.catalyst.expressions.Literal(q)))
}
