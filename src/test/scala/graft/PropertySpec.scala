package graft

import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.streaming.IngestPipeline

/** Property-based checks (SURVEY §5.4). Uses scalacheck generators sampled
  * deterministically (no scalatestplus bridge in the offline dep set);
  * each property is evaluated over one vectorized DataFrame pass rather
  * than per-sample Spark jobs. */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("local-time derivation equals JDK Instant.plusSeconds formatting") {
    val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(ZoneOffset.UTC)
    val cases = samples(for {
      epoch  <- Gen.choose(0L, 4102444800L)          // 1970..2100
      offset <- Gen.choose(-14 * 3600L, 14 * 3600L)  // real-world tz range
    } yield (epoch, offset), 100)
    val got = cases.toDF("dt", "tz_offset")
      .select($"dt", $"tz_offset",
        date_format(timestamp_seconds($"dt" + $"tz_offset"),
          "yyyy-MM-dd HH:mm:ss").as("lt"))
      .as[(Long, Long, String)].collect()
    got.foreach { case (epoch, offset, lt) =>
      val expected = fmt.format(Instant.ofEpochSecond(epoch).plusSeconds(offset))
      assert(lt === expected, s"epoch=$epoch offset=$offset")
    }
  }

  test("∀ random data+k: TopK rewrite ≡ window row_number form") {
    import org.apache.spark.sql.expressions.Window
    val rows = samples(for {
      key <- Gen.choose(0, 4)
      id  <- Gen.choose(0L, 10000L)
      v   <- Gen.choose(-1000.0, 1000.0)
    } yield (s"k$key", id, v), 300).distinct
    val df = rows.toDF("key", "id", "v").repartition(5).cache()
    val w = Window.partitionBy($"key").orderBy(desc("v"), $"id")
    Seq(1, 3, 7, 50).foreach { k =>
      val idiom = df.withColumn("rn", row_number().over(w))
        .filter($"rn" <= k).drop("rn")
      assert(idiom.queryExecution.executedPlan.toString.contains("FinalTopK"))
      val viaWindow = windowReference(df.withColumn("rn", row_number().over(w))
        .filter($"rn" <= k && $"rn" > 0).drop("rn"))
      assert(idiom.collect().map(_.toSeq).toSet ===
        viaWindow.map(_.toSeq).toSet, s"k=$k")
    }
    df.unpersist()
  }

  test("filter∘filter ≡ filter(∧)") {
    val df = graft.sources.Tables.events(spark, sf0001).cache()
    val a = df.filter($"value" > 50).filter($"event_type" === "click")
    val b = df.filter($"value" > 50 && $"event_type" === "click")
    assert(a.collect().toSet === b.collect().toSet)
  }

  test("validated() is idempotent and monotone") {
    val raw = Seq(
      """{"name":"a","main":{"temp":1.0,"humidity":1,"pressure":1},"dt":1,"timezone":0}""",
      """{"name":"b","main":{"humidity":1,"pressure":1},"dt":1,"timezone":0}""",
      """{"name":"c","main":{"temp":2.0,"humidity":2,"pressure":2},"timezone":0}""",
    ).toDF("raw")
    val flat = IngestPipeline.flatten(raw, col("raw"))
    val once = IngestPipeline.validated(flat)
    val twice = IngestPipeline.validated(once)
    assert(once.count() === twice.count())
    assert(once.count() <= flat.count())
  }

  test("exact dedup is idempotent (dedup of deduped output is a no-op)") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"text").orderBy($"id")
    def dedup(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn")
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "y"), (5L, "z"))
      .toDF("id", "text")
    val once = dedup(df)
    assert(once.collect().toSet === dedup(once).collect().toSet)
    assert(once.select("id").as[Long].collect().toSet === Set(1L, 3L, 5L))
  }

  test("TopKPerKey equals the window form for k ∈ {1, 3, 17}") {
    import org.apache.spark.sql.expressions.Window
    val events = graft.sources.Tables.events(spark, sf0001)
      .select($"event_type", $"event_id", $"value")
    val w = Window.partitionBy($"event_type").orderBy(desc("value"), $"event_id")
    for (k <- Seq(1, 3, 17)) {
      val windowed = windowReference(events.withColumn("rn", row_number().over(w))
        .filter($"rn" <= k && $"rn" > 0).drop("rn")).map(_.toSeq).toSet
      val native = graft.plans.TopK.perKey(events, Seq($"event_type"),
        Seq(desc("value"), $"event_id"), k).collect().map(_.toSeq).toSet
      assert(native === windowed, s"k=$k")
    }
  }

  test("approx percentile stays within its declared accuracy of exact") {
    val exact = graft.sources.Tables.lineitem(spark, sf0001)
      .selectExpr("percentile(l_extendedprice, 0.5)").as[Double].head()
    val approx = graft.sources.Tables.lineitem(spark, sf0001)
      .selectExpr("approx_percentile(l_extendedprice, 0.5, 1000)").as[Double].head()
    // accuracy=1000 → rank error ≤ n/1000; translate via a generous value bound
    assert(math.abs(approx - exact) / exact < 0.05, s"exact=$exact approx=$approx")
  }

  test("∀ random data: QSketch quantiles within α, merge split-invariant") {
    // pure-JVM property over the sketch core (no Spark jobs): for random
    // value sets spanning signs and magnitudes, (a) every quantile
    // estimate is within α relative error of the exact value, and
    // (b) sketching any 2-way split and merging gives bit-identical bins
    // to sketching the whole — the commutative-monoid law the streaming
    // store's crash-retry correctness rests on.
    import graft.functions.QSketch
    val alpha = 0.02
    val cases = samples(for {
      n     <- Gen.choose(50, 2000)
      scale <- Gen.oneOf(1e-6, 1.0, 1e6)
      signs <- Gen.oneOf("pos", "neg", "mixed")
      seed  <- Gen.choose(0L, 1L << 30)
    } yield (n, scale, signs, seed), 25)
    cases.foreach { case (n, scale, signs, seed) =>
      val rnd = new scala.util.Random(seed)
      val data = (1 to n).map { _ =>
        val mag = (rnd.nextDouble() + 1e-9) * scale
        signs match {
          case "pos" => mag
          case "neg" => -mag
          case _ => if (rnd.nextBoolean()) mag else -mag
        }
      }
      val whole = new QSketch.Buf(alpha)
      data.foreach(whole.insert)
      val sorted = data.sorted
      Seq(0.1, 0.5, 0.9).foreach { q =>
        val exact = sorted((q * (n - 1)).toInt)
        val got = whole.quantile(q)
        assert(math.abs(got - exact) / math.abs(exact) <= alpha + 1e-9,
          s"n=$n scale=$scale signs=$signs q=$q exact=$exact got=$got")
      }
      val cut = rnd.nextInt(n)
      val (l, r) = (new QSketch.Buf(alpha), new QSketch.Buf(alpha))
      data.take(cut).foreach(l.insert)
      data.drop(cut).foreach(r.insert)
      val merged = l.merge(r)
      assert(merged.pos === whole.pos && merged.neg === whole.neg &&
        merged.zeros === whole.zeros, s"split at $cut diverged")
    }
  }

  test("polynomial fingerprint distinguishes permuted token sequences") {
    val fold = "aggregate(wids, CAST(0 AS BIGINT), (acc, x) -> (acc * 131 + x) % 1000000007)"
    val perms = Seq(Seq(1L, 2L, 3L), Seq(3L, 2L, 1L), Seq(2L, 1L, 3L),
      Seq(1L, 2L, 3L))
    val fps = perms.toDF("wids").select(expr(fold)).as[Long].collect()
    assert(fps(0) === fps(3))         // same sequence ⇒ same hash
    assert(Set(fps(0), fps(1), fps(2)).size === 3) // permutations differ
  }

  test("md5-derived integer ids are collision-free on the test " +
    "vocabularies (a collision would silently merge shingles/tokens)") {
    // the 60-bit md5-prefix id (DedupOps.withSid / textFingerprint)
    // accepts ~vocab²/2^61 collision odds by design; pin that the actual
    // corpora are in the collision-free regime so a dedup/fingerprint
    // mismatch can never be a silent id merge at gate scale
    val sid = "pmod(cast(conv(substring(md5(s), 1, 15), 16, 10)" +
      " as bigint), 2147483647)"
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val shingles = docs
      .selectExpr("explode(transform(sequence(1," +
        " greatest(size(split(trim(lower(text)), '\\\\s+')) - 2, 1))," +
        " i -> concat_ws(' ', slice(split(trim(lower(text)), '\\\\s+')," +
        " i, 3)))) AS s")
      .distinct()
    val toks = docs
      .selectExpr("explode(split(trim(lower(text)), '\\\\s+')) AS s")
      .distinct()
    for (vocab <- Seq(shingles, toks)) {
      val n = vocab.count()
      val nIds = vocab.selectExpr(s"$sid AS sid").distinct().count()
      assert(n === nIds, s"id collision: $n values -> $nIds ids")
    }
  }
}
