package graft

import graft.ml.Pca

/** PCA invariants: Gram-aggregate correctness vs a driver-side
  * recomputation, merge partitioning-invariance of the counts it feeds,
  * eigenpair quality (orthonormality, ordering, residual), the
  * projection identity, and projected variance = eigenvalue. */
class PcaSpec extends SparkSuite {
  import spark.implicits._

  private lazy val emb = graft.sources.Tables.embeddings(spark, sf0001)
  private lazy val vecs: Map[Long, Array[Double]] = emb
    .select($"vec_id", $"embedding".cast("array<double>"))
    .as[(Long, Seq[Double])].collect().toMap
    .map { case (k, v) => k -> v.toArray }
  private lazy val model = Pca.fit(emb)

  test("gram aggregate rejects dimensions past the O(d^2)-state ceiling") {
    // d=10k means ~400 MB of aggregation state PER PARTITION — the guard
    // must fail loudly at construction (driver side, before any executor
    // allocates), naming the blocked/sketched alternatives
    val err = intercept[IllegalArgumentException] {
      graft.functions.GramMatrixAgg($"v", 10000)
    }
    assert(err.getMessage.contains("ceiling"))
    assert(err.getMessage.contains("MB per partition"))
    // the ceiling itself is accepted (construction only — no data needed)
    graft.functions.GramMatrixAgg($"v", graft.functions.GramBuf.MaxDim)
  }

  test("gram aggregate matches a driver-side recomputation") {
    val d = 64
    val flat = emb.select($"embedding".cast("array<double>").as("v"))
      .agg(graft.functions.GramMatrixAgg($"v", d).as("g"))
      .as[Seq[Double]].head().toArray
    assert(flat(0) === vecs.size.toDouble)
    val sums = Array.ofDim[Double](d)
    vecs.values.foreach(v => (0 until d).foreach(i => sums(i) += v(i)))
    (0 until d).foreach(i =>
      assert(math.abs(flat(1 + i) - sums(i)) <= 1e-6 * math.abs(sums(i)) + 1e-9))
    // spot-check a few triangle entries (i ≤ j, row-major triangle)
    def tri(i: Int, j: Int): Int = {
      // offset of row i's start: Σ_{r<i} (d − r) = i·d − i(i−1)/2
      1 + d + i * d - i * (i - 1) / 2 + (j - i)
    }
    for ((i, j) <- Seq((0, 0), (0, 63), (5, 7), (63, 63))) {
      val exact = vecs.values.map(v => v(i) * v(j)).sum
      assert(math.abs(flat(tri(i, j)) - exact) <= 1e-6 * math.abs(exact) + 1e-9,
        s"g($i,$j)")
    }
  }

  test("components are orthonormal, eigenvalues ordered, residuals small") {
    def dotd(a: Array[Double], b: Array[Double]): Double =
      (a, b).zipped.map(_ * _).sum
    assert(math.abs(dotd(model.pc1, model.pc1) - 1.0) <= 1e-9)
    assert(math.abs(dotd(model.pc2, model.pc2) - 1.0) <= 1e-9)
    assert(math.abs(dotd(model.pc1, model.pc2)) <= 1e-6)
    assert(model.l1 >= model.l2 && model.l2 >= 0)
    // residual ‖Cv − λv‖ ≤ tol·λ for both pairs, C rebuilt driver-side
    val d = model.d
    val n = vecs.size
    val mean = Array.tabulate(d)(i => vecs.values.map(_(i)).sum / n)
    val cov = Array.tabulate(d, d) { (i, j) =>
      vecs.values.map(v => v(i) * v(j)).sum / n - mean(i) * mean(j)
    }
    for ((l, pc) <- Seq(model.l1 -> model.pc1, model.l2 -> model.pc2)) {
      val cv = cov.map(row => dotd(row, pc))
      val resid = math.sqrt(
        cv.zip(pc).map { case (a, b) => val t = a - l * b; t * t }.sum)
      // scaled by ‖C‖ ≈ λ₁ (the standard backward-error scale); Jacobi
      // converges gap-independently, so the bound holds even on this
      // corpus's nearly flat spectrum (λ₁ ≈ λ₂ ≈ λ₃ — the case that
      // stalls power iteration)
      assert(resid <= 1e-8 * model.l1, s"residual $resid vs λ=$l")
    }
  }

  test("jacobi handles equal diagonal entries (the signum(0) pivot case)") {
    // [[1,1],[1,1]]: theta = 0 for the only pivot — a naive sign(theta)
    // makes the rotation a no-op and the solver silently returns the
    // input diagonal. Correct answer: eigenvalues (2, 0), v₁ = [1,1]/√2.
    val (vals, vecs) = Pca.jacobiEigen(Array(Array(1.0, 1.0), Array(1.0, 1.0)))
    val order = vals.indices.sortBy(i => -vals(i))
    assert(math.abs(vals(order(0)) - 2.0) <= 1e-12)
    assert(math.abs(vals(order(1))) <= 1e-12)
    val v1 = Array(vecs(0)(order(0)), vecs(1)(order(0)))
    assert(math.abs(math.abs(v1(0)) - 1 / math.sqrt(2)) <= 1e-12)
    assert(math.abs(v1(0) - v1(1)) <= 1e-12) // same sign, equal weight
  }

  test("embed_pca key: projection identity and variance = eigenvalue") {
    val rows = Pca.embedPca(spark, sf0001)
      .as[(Long, Double, Double)].collect()
    assert(rows.length === vecs.size)
    rows.take(20).foreach { case (id, p1, p2) =>
      val v = vecs(id)
      def proj(pc: Array[Double]): Double =
        v.indices.map(i => (v(i) - model.mean(i)) * pc(i)).sum
      assert(math.abs(p1 - (math.rint(proj(model.pc1) * 1e6) / 1e6)) <= 1e-9)
      assert(math.abs(p2 - (math.rint(proj(model.pc2) * 1e6) / 1e6)) <= 1e-9)
    }
    // sample variance (biased, /n — matching the covariance estimator)
    // of the pc1 projections equals λ₁
    val p1s = rows.map(_._2)
    val mu = p1s.sum / p1s.length
    val varP = p1s.map(x => (x - mu) * (x - mu)).sum / p1s.length
    assert(math.abs(varP - model.l1) <= 1e-3 * model.l1,
      s"var=$varP λ1=${model.l1}")
  }

  test("embed_whiten key: unit variance per axis, zero covariance") {
    val rows = Pca.embedWhiten(spark, sf0001)
      .as[(Long, Double, Double)].collect()
    assert(rows.length === vecs.size)
    val (w1, w2) = (rows.map(_._2), rows.map(_._3))
    def mean(xs: Array[Double]) = xs.sum / xs.length
    val (m1, m2) = (mean(w1), mean(w2))
    val v1 = mean(w1.map(x => (x - m1) * (x - m1)))
    val v2 = mean(w2.map(x => (x - m2) * (x - m2)))
    val cov = mean(w1.indices.map(i => (w1(i) - m1) * (w2(i) - m2)).toArray)
    // whitening divides each axis by √λ: variance 1, covariance 0 (axes
    // are eigenvectors of the covariance — exactly decorrelated)
    assert(math.abs(v1 - 1.0) < 1e-2, s"var(w1)=$v1")
    assert(math.abs(v2 - 1.0) < 1e-2, s"var(w2)=$v2")
    assert(math.abs(cov) < 1e-2, s"cov=$cov")
  }
}
