package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{CMSketch, CountMinEstimate, CountMinMergeAgg, CountMinSketchAgg}

/** Count-Min sketch invariants: the never-underestimate guarantee, the
  * εN overestimate bound, merge-partitioning invariance (elementwise
  * counter addition ⇒ bit-identical bytes), parquet store round-trip,
  * and the registered count_min_freq key's contract. */
class CountMinSketchSpec extends SparkSuite {
  import spark.implicits._

  /** All (token, exact count) pairs of the sf0.001 documents corpus. */
  private lazy val exactCounts: Map[String, Long] =
    graft.sources.Tables.documents(spark, sf0001)
      .select(explode(split(trim(lower($"text")), "\\s+")).as("t"))
      .filter($"t" =!= "")
      .groupBy($"t").count()
      .as[(String, Long)].collect().toMap

  private lazy val corpusSketch: CMSketch.Buf = CMSketch.deserialize(
    graft.sources.Tables.documents(spark, sf0001)
      .select(explode(split(trim(lower($"text")), "\\s+")).as("t"))
      .filter($"t" =!= "")
      .agg(CountMinSketchAgg($"t")).as[Array[Byte]].head())

  test("never underestimates; overestimate within the εN bound") {
    val n = exactCounts.valuesIterator.sum
    // ε = e/width; depth rows make exceeding it vanishingly unlikely, and
    // with fixed hash seeds the outcome is deterministic — if this bound
    // holds once it holds forever.
    val bound = math.ceil(math.E / CMSketch.Width * n).toLong
    exactCounts.foreach { case (term, exact) =>
      val est = corpusSketch.estimate(
        org.apache.spark.unsafe.types.UTF8String.fromString(term))
      assert(est >= exact, s"underestimated '$term': $est < $exact")
      assert(est - exact <= bound,
        s"'$term' overestimate ${est - exact} exceeds εN=$bound")
    }
  }

  test("merge is partitioning-invariant: any split gives identical bytes") {
    val data = (1 to 5000).map(i => (i % 7, s"tok_${i % 131}")).toDF("g", "t")
    def bytes(parts: Int): Array[Byte] =
      data.repartition(parts, $"g")
        .agg(CountMinSketchAgg($"t")).as[Array[Byte]].head()
    // dense fixed-size counter matrix + commutative addition ⇒ the
    // serialized sketch is BIT-identical for every partitioning
    val ref = bytes(1)
    for (p <- Seq(2, 7, 32))
      assert(java.util.Arrays.equals(bytes(p), ref), s"parts=$p diverged")
  }

  test("persisted shard sketches answer later lookups (parquet round-trip)") {
    val store = tempDir("graft_cms").resolve("shards").toString
    val toks = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id", explode(split(trim(lower($"text")), "\\s+")).as("t"))
      .filter($"t" =!= "")
    toks.groupBy(($"doc_id" % 16).as("shard"))
      .agg(CountMinSketchAgg($"t").as("sk"))
      .write.mode("overwrite").parquet(store)
    val merged = spark.read.parquet(store)
      .agg(CountMinMergeAgg($"sk").as("msk"))
    val probe = exactCounts.keysIterator.take(5).toSeq
    probe.foreach { term =>
      val viaStore = merged
        .select(CountMinEstimate($"msk", lit(term))).as[Long].head()
      val direct = corpusSketch.estimate(
        org.apache.spark.unsafe.types.UTF8String.fromString(term))
      assert(viaStore === direct) // identical counters → identical answer
    }
  }

  test("count_min_freq key: top-10 terms exact, εN bound booleans true") {
    // the key's output carries the bound CHECK (its invariant oracle —
    // round 11); this spec re-verifies the exact counts independently
    // and that every bound boolean is true
    val rows = graft.operators.TextOps.countMinFreq(spark, sf0001)
      .as[(String, Long, Boolean)].collect()
    assert(rows.length === 10)
    rows.foreach { case (term, exact, ok) =>
      assert(exactCounts(term) === exact)
      assert(ok, s"$term: εN bound violated")
    }
    // rows arrive in exact-count order (desc, term tiebreak)
    assert(rows.map(r => (-r._2, r._1)).sorted === rows.map(r => (-r._2, r._1)).toSeq)
  }

  test("no input and all-null groups: an empty sketch from a build, null" +
      " from a merge; nullability; the buffer survives its spill bytes") {
    val emptySketch = CMSketch.serialize(new CMSketch.Buf)
    val none = Seq.empty[Option[String]].toDF("t")
    val nulls = Seq[(Int, Option[String])]((1, None), (1, None)).toDF("g", "t")
    val built = none.agg(CountMinSketchAgg($"t").as("sk"))
    assert(!built.schema("sk").nullable)
    assert(built.as[Array[Byte]].head() === emptySketch)
    assert(nulls.groupBy($"g").agg(CountMinSketchAgg($"t").as("sk"))
      .select($"sk").as[Array[Byte]].head() === emptySketch)

    val noSketch = Seq.empty[Option[Array[Byte]]].toDF("sk")
    val nullSketches = Seq[(Int, Option[Array[Byte]])]((1, None), (1, None))
      .toDF("g", "sk")
    val merged = noSketch.agg(CountMinMergeAgg($"sk").as("m"))
    assert(merged.schema("m").nullable)
    assert(merged.head().isNullAt(0))
    assert(nullSketches.groupBy($"g").agg(CountMinMergeAgg($"sk").as("m"))
      .select($"m").head().isNullAt(0))

    val (sk, skBack) = AggBuffer.roundTrip(CountMinSketchAgg($"t"), StringType,
      Seq("a", null, "b", "a").map(s => if (s == null) null else UTF8String.fromString(s)))
    assert(sk === skBack)
    val (m, mBack) = AggBuffer.roundTrip(CountMinMergeAgg($"sk"), BinaryType,
      Seq(null, sk, emptySketch, sk))
    assert(m === mBack)
    val msk = CMSketch.deserialize(m.asInstanceOf[Array[Byte]])
    assert(msk.total === 6L && msk.estimate(UTF8String.fromString("a")) >= 4L)
    assert(AggBuffer.roundTrip(CountMinMergeAgg($"sk"), BinaryType, Seq(null)) ===
      ((null, null)))
  }
}
