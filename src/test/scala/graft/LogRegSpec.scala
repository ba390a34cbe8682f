package graft

import graft.ml.LogReg

/** IRLS logistic regression: convergence, solver correctness, and
  * stability under repartitioning (the invariant set that replaces a
  * cross-engine oracle — float partial sums make bit-level weights
  * partitioning-dependent, but everything that MATTERS must not be). */
class LogRegSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = graft.sources.Tables.documents(spark, sf0001)
  private lazy val data = LogReg.featurize(docs)

  test("driver solver: (H+εI)u = g round-trips on a known system") {
    val h = Array(
      Array(4.0, 1.0, 0.0),
      Array(1.0, 3.0, 1.0),
      Array(0.0, 1.0, 2.0))
    val uTrue = Array(1.0, -2.0, 3.0)
    val g = h.map(row => row.indices.map(j => row(j) * uTrue(j)).sum)
    val u = LogReg.solve(h.map(_.clone()), g)
    uTrue.indices.foreach(i => assert(math.abs(u(i) - uTrue(i)) < 1e-6))
    // singular system fails loudly, not with garbage weights
    val sing = Array(Array(1.0, 1.0), Array(1.0, 1.0))
    intercept[IllegalArgumentException] {
      LogReg.solve(sing, Array(1.0, 2.0), ridge = 0.0)
    }
  }

  test("training loss decreases monotonically and ends near the optimum") {
    val m = LogReg.fit(data)
    assert(m.n === docs.count())
    m.losses.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a + 1e-9, s"loss rose: ${m.losses}")
    }
    // Newton converges quadratically once the L2-regularized optimum is
    // near: the last two passes must agree to 4 digits
    val Seq(lPrev, lLast) = m.losses.takeRight(2)
    assert(math.abs(lPrev - lLast) <= 1e-4 * math.max(1.0, lLast),
      s"not converged: ${m.losses}")
  }

  test("recovers the teacher quality gate far better than chance") {
    val rows = LogReg.qualityLrScore(spark, sf0001)
      .select($"y", $"pred").as[(Long, Long)].collect()
    val acc = rows.count(r => r._1 == r._2).toDouble / rows.length
    val base = math.max(rows.count(_._1 == 1L), rows.count(_._1 == 0L))
      .toDouble / rows.length
    // the teacher is (nearly) linear in the features — distillation must
    // recover it up to the injected boundary jitter
    assert(acc > base + 0.1, s"acc=$acc majority-class=$base")
    assert(acc > 0.85, s"acc=$acc")
  }

  test("4-dp scores are partitioning-invariant") {
    val a = LogReg.qualityLrScore(spark, sf0001).collect()
    val b = {
      val old = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      try LogReg.qualityLrScore(spark, sf0001).collect()
      finally spark.conf.set("spark.sql.shuffle.partitions", old)
    }
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
  }
}
