package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable Count-Min sketch over string keys — the point-frequency
  * member of the engine's sketch-store family (HLL `approx_distinct_merge`
  * for cardinality, DDSketch `percentile_store_merge` for quantiles,
  * Misra-Gries `heavy_hitters` for top-k): sketch once per
  * partition/shard/day, persist the binary column, answer any later
  * "how often did term X occur" rollup by counter addition — no rescan.
  *
  * Design follows the published algorithm (Cormode & Muthukrishnan, "An
  * Improved Data Stream Summary: The Count-Min Sketch and its
  * Applications", J. Algorithms 2005): a depth×width counter matrix; each
  * key increments one counter per row at position hash_d(key) mod width;
  * a point query reads the MINIMUM of its depth counters. Guarantees that
  * matter here:
  *
  *  - NEVER underestimates (every counter the key touches holds at least
  *    its true count); overestimates are bounded by εN with ε = e/width
  *    at probability 1−e^(−depth) — with width 2048, depth 4 that is
  *    ≲0.13% of the stream per query at 98% confidence, in 64 KB of
  *    state regardless of vocabulary size.
  *  - FULLY mergeable: merge = elementwise counter addition — commutative
  *    and associative, so (unlike a sampled or pruned summary) the merged
  *    sketch is BIT-identical however the input was partitioned, the
  *    repo's determinism house rule.
  *  - One pass, partial-aggregated: [[SummaryAgg]] lowers to
  *    ObjectHashAggregate with map-side partials — only 64 KB sketches
  *    shuffle, never the token stream, which is what makes a vocabulary
  *    census of a 100 TB corpus a single scan plus a constant-size merge.
  */
object CMSketch {
  /** depth 4 × width 2048: ε = e/2048 ≈ 0.13% of stream length per point
    * query, failure probability e⁻⁴ ≈ 1.8%, 64 KB per sketch. */
  val Depth = 4
  val Width = 2048

  final class Buf {
    val counts = new Array[Long](Depth * Width) // row-major [d*Width + pos]
    var total = 0L

    private def pos(bytes: Array[Byte], d: Int): Int =
      math.floorMod(MurmurHash3.bytesHash(bytes, d), Width)

    def insert(key: UTF8String): Unit = {
      val b = key.getBytes
      var d = 0
      while (d < Depth) { counts(d * Width + pos(b, d)) += 1; d += 1 }
      total += 1
    }

    def merge(o: Buf): Buf = {
      var i = 0
      while (i < counts.length) { counts(i) += o.counts(i); i += 1 }
      total += o.total
      this
    }

    /** Point-frequency estimate: min over rows — ≥ true count always. */
    def estimate(key: UTF8String): Long = {
      val b = key.getBytes
      var best = Long.MaxValue
      var d = 0
      while (d < Depth) {
        val c = counts(d * Width + pos(b, d))
        if (c < best) best = c
        d += 1
      }
      best
    }
  }

  def serialize(b: Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream(8 * (b.counts.length + 1))
    val out = new DataOutputStream(bos)
    out.writeLong(b.total)
    b.counts.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new Buf
    b.total = in.readLong()
    var i = 0
    while (i < b.counts.length) { b.counts(i) = in.readLong(); i += 1 }
    b
  }
}

/** The [[CMSketch]] family: `graft_cm_sketch(key)` builds a binary
  * sketch (store it; merge later), `graft_cm_merge(sketch)` unions stored
  * sketches (elementwise counter addition: order-independent,
  * bit-deterministic) and returns null over no sketch. */
case object CountMin extends BinarySummary[CMSketch.Buf] {
  def buildName: String = "graft_cm_sketch"
  def mergeName: String = "graft_cm_merge"
  def inputType: DataType = StringType
  def empty: CMSketch.Buf = new CMSketch.Buf
  def add(b: CMSketch.Buf, v: Any): Unit = b.insert(v.asInstanceOf[UTF8String])
  def merge(a: CMSketch.Buf, b: CMSketch.Buf): CMSketch.Buf = a.merge(b)
  def toBytes(b: CMSketch.Buf): Array[Byte] = CMSketch.serialize(b)
  def fromBytes(bytes: Array[Byte]): CMSketch.Buf = CMSketch.deserialize(bytes)
}

object CountMinSketchAgg {
  def apply(c: Column): Column = SummaryAgg.column(c, CountMin, stored = false)
}

object CountMinMergeAgg {
  def apply(c: Column): Column = SummaryAgg.column(c, CountMin, stored = true)
}

/** `cm_estimate(sketch, key)` — point-frequency lookup in a (merged)
  * sketch. Interpreted eval (CodegenFallback) by design: it runs on
  * merged post-aggregation rows — a handful — never per input row. */
case class CountMinEstimate(left: Expression, right: Expression)
  extends BinaryExpression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_cm_estimate requires (BINARY sketch, STRING key), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")

  override protected def nullSafeEval(sk: Any, key: Any): Any =
    CMSketch.deserialize(sk.asInstanceOf[Array[Byte]])
      .estimate(key.asInstanceOf[UTF8String])

  override def dataType: DataType = LongType
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CountMinEstimate =
    copy(left = newLeft, right = newRight)
}

object CountMinEstimate {
  import org.apache.spark.sql.GraftSqlBridge
  def apply(sk: Column, key: Column): Column =
    GraftSqlBridge.column(CountMinEstimate(
      GraftSqlBridge.expression(sk), GraftSqlBridge.expression(key)))
}
