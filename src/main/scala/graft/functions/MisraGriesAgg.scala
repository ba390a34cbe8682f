package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitters summary: the frequent items of a string
  * column in ONE pass with a FIXED `capacity`-sized state, as a
  * [[Summary]] so partial aggregation applies — each task summarizes its
  * partition map-side and only `capacity`-sized summaries shuffle, the
  * property that makes "top tokens of a 100 TB corpus" feasible without
  * grouping every (token, 1) pair.
  *
  * Guarantees (the classic bounds):
  *   - counts are underestimates by at most N/(capacity+1) (N = input
  *     size), and any item with true frequency > N/(capacity+1) is
  *     guaranteed present in the summary;
  *   - when `capacity` ≥ the number of distinct items, no eviction ever
  *     fires and every count is EXACT — which is how the driver key gets a
  *     DuckDB oracle: the test vocabulary (31 tokens) sits far below the
  *     capacity (64), so the summary degenerates to an exact group-count.
  *     At 100 TB the same operator runs with capacity ≪ vocabulary and
  *     returns the guaranteed-superset sketch instead.
  *
  * add: counted item +1; new item inserted while space remains;
  * otherwise EVERY counter decrements by 1 (zeros evicted) — the
  * pigeonhole step that caps undercounting. merge: counters add, then if
  * over capacity the (capacity+1)-largest count is subtracted from all
  * (the published mergeable-summaries rule of Agarwal et al., which
  * preserves the error bound; a plain top-k truncation would not). The
  * stored form is `array<struct<term, cnt>>` sorted by count descending
  * then term — deterministic output for a deterministic input. Its merge,
  * `graft_heavy_hitters_merge`, rolls persisted per-shard summaries up
  * (per-day → per-month → global) without re-reading the corpus, and
  * returns `[]` over none.
  */
final case class MisraGries(capacity: Int)
    extends Summary[mutable.HashMap[String, Long]] {

  // capacity = 0 would silently return an empty summary for every group
  // (add can never insert) — a wrong answer, not an error; reject early
  require(capacity > 0, s"capacity must be positive, got $capacity")

  def buildName: String = "graft_heavy_hitters"
  def mergeName: String = "graft_heavy_hitters_merge"
  def inputType: DataType = StringType
  def empty: mutable.HashMap[String, Long] = mutable.HashMap.empty
  override def mergesFromEmpty: Boolean = true

  def add(buf: mutable.HashMap[String, Long], v: Any): Unit = {
    val s = v.asInstanceOf[UTF8String].toString
    buf.get(s) match {
      case Some(c) => buf(s) = c + 1
      case None if buf.size < capacity => buf(s) = 1L
      case None =>
        // decrement-all eviction; O(capacity), amortized O(1) per input
        buf.keysIterator.toArray.foreach { k =>
          val n = buf(k) - 1
          if (n == 0) buf.remove(k) else buf(k) = n
        }
    }
  }

  def load(stored: Any): mutable.HashMap[String, Long] = {
    val arr = stored.asInstanceOf[ArrayData]
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < arr.numElements()) {
      val row = arr.getStruct(i, 2)
      val term = row.getUTF8String(0).toString
      buf(term) = buf.getOrElse(term, 0L) + row.getLong(1)
      i += 1
    }
    buf
  }

  def merge(a: mutable.HashMap[String, Long],
      b: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b.foreach { case (k, c) => a(k) = a.getOrElse(k, 0L) + c }
    MisraGriesAgg.recap(a, capacity)
    a
  }

  def store(buf: mutable.HashMap[String, Long]): Any = {
    val rows: Array[Any] = buf.toArray
      .sortBy { case (t, c) => (-c, t) }
      .map { case (t, c) =>
        new GenericInternalRow(Array[Any](UTF8String.fromString(t), c))
      }
    new GenericArrayData(rows)
  }

  def storedType: DataType = ArrayType(
    StructType(Seq(StructField("term", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false))),
    containsNull = false)

  override def storedOk(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(Array(
        StructField(_, StringType, _, _), StructField(_, LongType, _, _))), _) => true
    case _ => false
  }
  def storedWanted: String =
    "array<struct<string,bigint>> (a graft_heavy_hitters summary)"

  // length-prefixed raw UTF-8, NOT writeUTF: modified-UTF-8 caps a string
  // at 65535 bytes and a whitespace-free document (minified JSON, base64)
  // tokenizes to one giant term — the summary must survive it
  def toBytes(buf: mutable.HashMap[String, Long]): Array[Byte] =
    MisraGriesAgg.serializeBuf(buf)
  def fromBytes(bytes: Array[Byte]): mutable.HashMap[String, Long] =
    MisraGriesAgg.deserializeBuf(bytes)
}

object MisraGriesMergeAgg {
  def apply(c: Column, capacity: Int): Column =
    SummaryAgg.column(c, MisraGries(capacity), stored = true)
}

object MisraGriesAgg {

  /** The mergeable-summaries capacity reduction of [[MisraGries.merge]]:
    * if over capacity, subtract the (capacity+1)-th largest count from
    * every counter and drop the non-positive. */
  private[functions] def recap(a: mutable.HashMap[String, Long],
      capacity: Int): Unit =
    if (a.size > capacity) {
      val cut = a.valuesIterator.toArray.sortBy(-_).apply(capacity)
      a.keysIterator.toArray.foreach { k =>
        val n = a(k) - cut
        if (n <= 0) a.remove(k) else a(k) = n
      }
    }

  private[functions] def serializeBuf(
      buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (k, c) =>
      val b = k.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.writeInt(b.length); out.write(b); out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  private[functions] def deserializeBuf(
      bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    (1 to n).foreach { _ =>
      val b = new Array[Byte](in.readInt()); in.readFully(b)
      buf(new String(b, java.nio.charset.StandardCharsets.UTF_8)) = in.readLong()
    }
    buf
  }

  /** Column-API entry point: `heavy_hitters(col, capacity)` aggregate. */
  def apply(c: Column, capacity: Int): Column =
    SummaryAgg.column(c, MisraGries(capacity), stored = false)
}
