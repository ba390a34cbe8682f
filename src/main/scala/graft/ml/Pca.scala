package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Key
import graft.operators.DedupOps.dot
import graft.operators.OpsHelpers.r6

/** Distributed PCA over the embedding column — the projection/whitening
  * step of an embedding pipeline (visualize a corpus, decorrelate before
  * quantization, score outliers).
  *
  * Scale shape: ONE scan accumulates the d×d second-moment matrix via the
  * mergeable [[graft.functions.GramMatrixAgg]] (matrix-sized partials
  * shuffle, never vectors), then the eigen problem is solved on the
  * DRIVER — a 64×64 symmetric matrix, model-sized math like the k-means
  * centroid step. Projections are then a codegen'd [[dot]] against the
  * broadcast component literals: a second scan, zero shuffles. Exactly
  * two corpus passes at any corpus size.
  *
  * Eigensolver: cyclic Jacobi rotations (Golub & Van Loan, "Matrix
  * Computations" §8.5) — chosen over power iteration because its
  * convergence is QUADRATIC and gap-independent (this corpus's spectrum
  * is nearly flat, λ₁ ≈ λ₂ ≈ λ₃, exactly where power iteration stalls);
  * deterministic: fixed sweep order, convergence test on the
  * off-diagonal norm, sign canonicalized so each component's
  * largest-|coordinate| entry is positive. Covariance uses the
  * E[vvᵀ] − μμᵀ form, which the Gram layout hands over directly.
  *
  * Rows-only key (FP addition order makes the matrix — and thus the
  * components — engine-specific in the last ulps); PcaSpec pins
  * orthonormality, eigenvalue ordering, the residual ‖Cv − λv‖, the
  * projection identity, and that projected variance matches λ.
  */
object Pca {

  final case class Model(d: Int, n: Long, mean: Array[Double],
      pc1: Array[Double], pc2: Array[Double], l1: Double, l2: Double)

  /** Jacobi sweep cap — quadratic convergence makes ~8 sweeps plenty for
    * d=64; the cap only bounds adversarial inputs. */
  val MaxSweeps = 30

  /** Dense symmetric covariance from the Gram aggregate's flat layout. */
  private def covFrom(flat: Array[Double], d: Int): (Long, Array[Double], Array[Array[Double]]) = {
    val n = flat(0).toLong
    require(n > 1, s"PCA needs >1 vectors, got $n")
    val mean = Array.tabulate(d)(i => flat(1 + i) / n)
    val cov = Array.ofDim[Double](d, d)
    var t = 1 + d
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = flat(t) / n - mean(i) * mean(j)
        cov(i)(j) = c
        cov(j)(i) = c
        j += 1; t += 1
      }
      i += 1
    }
    (n, mean, cov)
  }

  /** Full symmetric eigendecomposition by cyclic Jacobi sweeps: rotate
    * every (p, q) plane to zero a_pq, accumulate the rotations, stop
    * when the off-diagonal Frobenius norm is negligible against the
    * matrix norm. Returns (eigenvalues, eigenvectors as COLUMNS of v),
    * unsorted. */
  private[graft] def jacobiEigen(a0: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = Array.tabulate(d, d)((i, j) => a0(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm2: Double = {
      var s = 0.0
      var p = 0
      while (p < d) {
        var q = p + 1
        while (q < d) { s += 2 * a(p)(q) * a(p)(q); q += 1 }
        p += 1
      }
      s
    }
    val frob2 = {
      var s = offNorm2
      var i = 0
      while (i < d) { s += a(i)(i) * a(i)(i); i += 1 }
      s
    }
    var sweep = 0
    while (sweep < MaxSweeps && offNorm2 > 1e-28 * frob2) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (apq != 0.0) {
            val theta = (a(q)(q) - a(p)(p)) / (2 * apq)
            // sign(0) would make t = 0 — a NO-OP rotation that never
            // zeroes a_pq when the two diagonal entries are exactly
            // equal (e.g. perfectly correlated equal-variance dims);
            // theta = 0 correctly means a 45° rotation, t = 1
            val t = (if (theta >= 0) 1.0 else -1.0) /
              (math.abs(theta) + math.sqrt(theta * theta + 1))
            val c = 1 / math.sqrt(t * t + 1)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              i += 1
            }
            i = 0
            while (i < d) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    // converge or fail loudly — returning non-eigenpairs silently would
    // corrupt every consumer downstream
    require(offNorm2 <= 1e-24 * frob2,
      s"Jacobi did not converge in $MaxSweeps sweeps " +
        s"(off-diagonal ratio ${math.sqrt(offNorm2 / frob2)})")
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** k-th largest eigenpair (ties → lower column index), sign
    * canonicalized so the largest-|coordinate| entry is positive. */
  private def eigenPair(vals: Array[Double], vecs: Array[Array[Double]],
      rank: Int): (Double, Array[Double]) = {
    val d = vals.length
    val order = vals.indices.sortBy(i => (-vals(i), i))
    val cIdx = order(rank)
    val x = Array.tabulate(d)(i => vecs(i)(cIdx))
    val k = x.indices.maxBy(j => (math.abs(x(j)), -j))
    val sign = if (x(k) < 0) -1.0 else 1.0
    (vals(cIdx), x.map(_ * sign))
  }

  /** Fit mean + top-2 components from one Gram-aggregate pass. */
  def fit(embeddings: DataFrame): Model = {
    val d = embeddings.select(size(col("embedding"))).head().getInt(0)
    val flat = embeddings
      .select(col("embedding").cast("array<double>").as("v"))
      .agg(graft.functions.GramMatrixAgg(col("v"), d).as("g"))
      .head().getSeq[Double](0).toArray
    val (n, mean, cov) = covFrom(flat, d)
    val (vals, vecs) = jacobiEigen(cov)
    val (l1, pc1) = eigenPair(vals, vecs, 0)
    val (l2, pc2) = eigenPair(vals, vecs, 1)
    Model(d, n, mean, pc1, pc2, l1, l2)
  }

  /** Driver-contract query: project every embedding onto the top-2
    * principal axes — (vec_id, pc1, pc2), 6-dp rounded, vec_id order.
    * Rows-only key (see object doc). */
  def embedPca(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    top2Coords(emb, fit(emb))
      .select(col("vec_id"), r6(col("p1")).as("pc1"), r6(col("p2")).as("pc2"))
      .orderBy("vec_id")
  }

  /** Every embedding's (vec_id, p1, p2): its centered projection onto the
    * top-2 principal axes of `m`, one codegen'd dot product each. */
  private def top2Coords(emb: DataFrame, m: Model): DataFrame = {
    val meanLit = array(m.mean.map(lit).toIndexedSeq: _*)
    def proj(pc: Array[Double]) =
      dot(zip_with(col("v"), meanLit, (a, b) => a - b),
        array(pc.map(lit).toIndexedSeq: _*))
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"), proj(m.pc1).as("p1"), proj(m.pc2).as("p2"))
  }

  /** PCA whitening: the top-2 projection additionally scaled by 1/√λ per
    * axis, giving coordinates with unit variance and zero covariance — the
    * standard embedding normalization before cosine/k-means downstream
    * (decorrelates the dominant directions so no axis swamps the metric).
    * Same single-Gram-pass train + codegen'd projection scan as embed_pca;
    * rows-only key, PcaSpec pins the unit-variance/zero-covariance
    * identity. */
  def embedWhiten(spark: SparkSession, dir: String): DataFrame = {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    val m = fit(emb)
    require(m.l1 > 0 && m.l2 > 0, s"degenerate spectrum: λ=(${m.l1}, ${m.l2})")
    val (s1, s2) = (1.0 / math.sqrt(m.l1), 1.0 / math.sqrt(m.l2))
    top2Coords(emb, m)
      .select(col("vec_id"), r6(col("p1") * lit(s1)).as("w1"),
        r6(col("p2") * lit(s2)).as("w2"))
      .orderBy("vec_id")
  }

  val keys: Seq[Key] = Seq(Key("embed_pca", embedPca), Key("embed_whiten", embedWhiten))
}
