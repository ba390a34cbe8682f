package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType}
import graft.functions.{QSketch, QuantileEstimate, QuantileMergeAgg, QuantileSketchAgg}

/** Mergeable quantile sketch invariants: α error bound vs exact
  * percentiles, merge-order/partitioning invariance (bucket addition is
  * commutative+associative), parquet persistence round-trip, and the
  * registered percentile_store_merge key's shape. */
class QuantileSketchSpec extends SparkSuite {
  import spark.implicits._

  private val alpha = 0.01

  test("estimates stay within the α relative-error bound of exact quantiles") {
    // uniform, heavy-tailed, and negative-valued data
    val uniform = (1 to 10000).map(_.toDouble)
    val tailed = (1 to 10000).map(i => math.pow(1.002, i))
    val signed = (-5000 to 5000).map(_.toDouble * 1.7)
    for (data <- Seq(uniform, tailed, signed); q <- Seq(0.1, 0.5, 0.9, 0.99)) {
      val got = data.toDF("v")
        .agg(QuantileEstimate(QuantileSketchAgg($"v", alpha), q))
        .as[Double].head()
      val exact = data.sorted.apply((q * (data.size - 1)).toInt)
      if (exact == 0.0) assert(math.abs(got) < 1e-12)
      else assert(math.abs(got - exact) / math.abs(exact) <= alpha + 1e-9,
        s"q=$q exact=$exact got=$got")
    }
  }

  test("merge is partitioning-invariant: any split gives identical bytes") {
    val data = (1 to 5000).map(i => (i % 7, math.pow(1.01, i % 500))).toDF("g", "v")
    def sketchBytes(parts: Int): Array[Byte] =
      data.repartition(parts, $"g")
        .agg(QuantileSketchAgg($"v", alpha)).as[Array[Byte]].head()
    // DDSketch merge = bucket-count addition: the SERIALIZED sketch content
    // must not depend on how the data was partitioned
    val ref = QSketch.deserialize(sketchBytes(1))
    for (p <- Seq(2, 7, 32)) {
      val s = QSketch.deserialize(sketchBytes(p))
      assert(s.pos === ref.pos && s.neg === ref.neg && s.zeros === ref.zeros,
        s"parts=$p diverged")
    }
  }

  test("persisted daily sketches answer later rollups (parquet round-trip)") {
    val store = tempDir("graft_qsk").resolve("daily").toString
    val events = graft.sources.Tables.events(spark, sf0001)
    // the store write an incremental pipeline would run per day
    events.groupBy(to_date($"ts").as("day"))
      .agg(QuantileSketchAgg($"value", alpha).as("sk"))
      .write.mode("overwrite").parquet(store)
    val fromStore = spark.read.parquet(store)
      .agg(QuantileEstimate(QuantileMergeAgg($"sk"), 0.9)).as[Double].head()
    val direct = events
      .agg(QuantileEstimate(QuantileSketchAgg($"value", alpha), 0.9))
      .as[Double].head()
    assert(fromStore === direct) // identical buckets → identical estimate
    // and the estimate obeys the bound vs the exact percentile
    val exact = events.select($"value").as[Double].collect().sorted
    val target = exact((0.9 * (exact.length - 1)).toInt)
    assert(math.abs(fromStore - target) / math.abs(target) <= alpha + 1e-9)
  }

  test("percentile_store_merge estimates: per-type within α of exact;" +
      " the registered key's bound booleans all true") {
    // library surface: the raw merged-store estimates
    val got = graft.operators.SqlSurfaceOps
      .percentileStoreEstimates(spark, sf0001)
      .select($"event_type", $"e50", $"e90", $"n_days")
      .as[(String, Double, Double, Long)].collect()
    assert(got.nonEmpty)
    val byType = graft.sources.Tables.events(spark, sf0001)
      .select($"event_type", $"value").as[(String, Double)].collect()
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sorted }
    got.foreach { case (t, p50, p90, nDays) =>
      assert(nDays > 0)
      val vs = byType(t)
      for ((q, est) <- Seq(0.5 -> p50, 0.9 -> p90)) {
        val exact = vs((q * (vs.length - 1)).toInt)
        assert(math.abs(est - exact) / math.abs(exact) <= alpha + 1e-6,
          s"$t q=$q exact=$exact got=$est")
      }
    }
    // gate surface: the invariant-oracle wrapper must report in-bound
    val key = graft.operators.SqlSurfaceOps
      .percentileStoreMerge(spark, sf0001)
      .as[(String, Long, Boolean, Boolean)].collect()
    assert(key.nonEmpty)
    key.foreach { case (t, n, ok50, ok90) =>
      assert(n > 0 && ok50 && ok90, s"$t n=$n ok50=$ok50 ok90=$ok90")
    }
  }

  test("different-α sketches refuse to merge; NaN and null values drop") {
    val a = Seq(1.0).toDF("v").agg(QuantileSketchAgg($"v", 0.01))
      .as[Array[Byte]].head()
    val b = Seq(1.0).toDF("v").agg(QuantileSketchAgg($"v", 0.05))
      .as[Array[Byte]].head()
    val err = intercept[Exception] {
      Seq(a, b).toDF("sk").agg(QuantileMergeAgg($"sk")).collect()
    }
    assert(err.getMessage.contains("alpha"))
    val est = Seq(Some(1.0), None, Some(Double.NaN), Some(3.0)).toDF("v")
      .agg(QuantileEstimate(QuantileSketchAgg($"v", 0.01), 1.0))
      .as[Double].head()
    assert(math.abs(est - 3.0) / 3.0 <= 0.01 + 1e-9) // max of {1, 3}
  }

  test("no input and all-null groups: an empty sketch from a build, null" +
      " from a merge; nullability; the buffer survives its spill bytes") {
    val emptySketch = QSketch.serialize(new QSketch.Buf(alpha))
    val none = Seq.empty[Option[Double]].toDF("v")
    val nulls = Seq[(Int, Option[Double])]((1, None), (1, None)).toDF("g", "v")
    val built = none.agg(QuantileSketchAgg($"v", alpha).as("sk"))
    assert(!built.schema("sk").nullable)
    assert(built.as[Array[Byte]].head() === emptySketch)
    assert(nulls.groupBy($"g").agg(QuantileSketchAgg($"v", alpha).as("sk"))
      .select($"sk").as[Array[Byte]].head() === emptySketch)

    val noSketch = Seq.empty[Option[Array[Byte]]].toDF("sk")
    val nullSketches = Seq[(Int, Option[Array[Byte]])]((1, None), (1, None))
      .toDF("g", "sk")
    val merged = noSketch.agg(QuantileMergeAgg($"sk").as("m"))
    assert(merged.schema("m").nullable)
    assert(merged.head().isNullAt(0))
    assert(nullSketches.groupBy($"g").agg(QuantileMergeAgg($"sk").as("m"))
      .select($"m").head().isNullAt(0))

    val (sk, skBack) = AggBuffer.roundTrip(QuantileSketchAgg($"v", alpha),
      DoubleType, Seq(1.0, null, -2.5, 0.0, 1e6, Double.NaN))
    assert(sk === skBack)
    assert(QSketch.deserialize(sk.asInstanceOf[Array[Byte]]).count === 4L)
    val (m, mBack) = AggBuffer.roundTrip(QuantileMergeAgg($"sk"), BinaryType,
      Seq(null, sk, emptySketch))
    assert(m === mBack)
    assert(QSketch.deserialize(m.asInstanceOf[Array[Byte]]).count === 4L)
    assert(AggBuffer.roundTrip(QuantileMergeAgg($"sk"), BinaryType, Seq(null)) ===
      ((null, null)))
  }
}
