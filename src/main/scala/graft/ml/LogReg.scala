package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Key

/** Distributed logistic-regression quality classifier — the trainable half
  * of the corpus-quality story (TextOps.text_quality is the hand-weighted
  * form; this LEARNS the weights from labels).
  *
  * Training is IRLS/Newton, and each iteration is ONE mergeable aggregate
  * pass: the Hessian Σ s·x xᵀ (s = p(1−p)) and gradient Σ (p−y)·x are read
  * out of a single [[graft.functions.GramMatrixAgg]] over the augmented
  * vector z = [√s·x ‖ (p−y)/√s]   —   H sits in z's top-left Gram block
  * (√s·√s = s) and g in its last column (√s·x_j · (p−y)/√s = (p−y)·x_j).
  * The d×d normal system is solved on the driver (d = 5 features; O(d³)
  * trivial). So a fit is `iters` full scans with fixed O(d²) aggregation
  * state per partition — the same shape that trains on 100 TB: no
  * parameter server, no per-row shuffle, partial buffers merge
  * associatively. Newton needs ~6 passes where plain gradient descent
  * needs hundreds — pass count IS the cost model on a large corpus.
  *
  * The task is DISTILLATION — the pattern behind production quality
  * filters (a hand-curated gate or heuristic teacher produces labels; a
  * cheap classifier learns to reproduce it and then scores the full
  * corpus). The teacher here is a hand-weighted rule over the same signal
  * family as TextOps.text_quality, thresholded at its corpus median, plus
  * a small deterministic per-doc jitter so the boundary is noisy (real
  * labels are) and saturated-Newton blowup can't occur on synthetically
  * separable data. The synthetic corpus's `lang` column is NOT usable as a
  * label: its text is drawn from one shared vocabulary, so no text feature
  * separates languages (measured: stop-ratio 0.057-0.064 across langs).
  *
  * Rows-only key: float partial sums make trained weights
  * partitioning-dependent in the last ulps, so no cross-engine oracle is
  * possible — LogRegSpec pins monotone loss decrease, Newton convergence,
  * teacher-recovery accuracy, and agreement under repartitioning.
  */
object LogReg {

  /** Tiny English stopword list (public knowledge) for the stop-ratio
    * feature — deliberately the same signal family as TextOps. */
  private val Stop = Seq("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "are", "was", "for", "on", "with", "as", "at", "it", "that")

  final case class Model(w: Array[Double], losses: Seq[Double], n: Long)

  val NumFeatures = 5

  /** (doc_id, y, x) — x = [1, stop_ratio, punct_ratio, avg_tok_len/10,
    * log1p(n_chars)/10]; bounded, O(1)-state per row, all codegen'd.
    *
    * y is the teacher gate: hand-weighted score over the same features,
    * jittered by a deterministic per-doc hash (±0.005 — noise at the
    * boundary only), thresholded at the CORPUS MEDIAN of the un-jittered
    * score (one exact-percentile pass; at 100 TB swap in the mergeable
    * quantile sketch, the threshold needs no more precision than α). */
  def featurize(docs: DataFrame): DataFrame = {
    val toks = split(lower(col("text")), "\\s+")
    val stopLit = array(Stop.map(lit): _*)
    val nToks = greatest(size(toks), lit(1)).cast("double")
    val chars = greatest(length(col("text")), lit(1)).cast("double")
    val stopRatio = size(filter(toks, t => array_contains(stopLit, t))) / nToks
    val punctRatio =
      (chars - length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""))) / chars
    val avgTok = length(regexp_replace(col("text"), "\\s", "")) / nToks
    val teacher = lit(0.6) * stopRatio - lit(0.4) * punctRatio +
      lit(0.1) * log1p(col("n_chars")) / 10.0
    // ONE featurization pass (round 13): q and x come out of the same
    // checkpointed scan — previously the percentile pass re-ran the 3
    // regex passes over every document and the checkpoint fill ran them
    // again. The threshold is the exact percentile of the SAME
    // materialized q doubles, and y/x are derived from the checkpoint by
    // trivial arithmetic — values bit-identical to the two-scan form.
    val withQ = graft.operators.Eager(
      docs.select(col("doc_id"), teacher.as("q"),
        array(lit(1.0), stopRatio, punctRatio, avgTok / 10.0,
          log1p(col("n_chars")) / 10.0).as("x")))
    val thresh = withQ.agg(expr("percentile(q, 0.5)")).head().getDouble(0)
    // reduce BEFORE multiplying (ADVICE round 6: raw doc_id × the Knuth
    // constant overflows int64 at inflated id strides)
    val jitter = (pmod(pmod(col("doc_id"), lit(1000000L)) * 2654435761L,
      lit(1000)).cast("double") / 1000.0 - 0.5) * 0.01
    withQ.select(col("doc_id"),
      ((col("q") + jitter) > thresh).cast("double").as("y"), col("x"))
  }

  private def sigmoid(m: Column): Column = lit(1.0) / (lit(1.0) + exp(-m))

  /** Solve the symmetric system (H + ridge·I)·u = g in place; plain
    * Gaussian elimination with partial pivoting — d is tiny. */
  private[graft] def solve(h: Array[Array[Double]], g: Array[Double],
      ridge: Double = 1e-8): Array[Double] = {
    val d = g.length
    val a = Array.tabulate(d, d + 1) { (i, j) =>
      if (j == d) g(i) else h(i)(j) + (if (i == j) ridge else 0.0)
    }
    for (k <- 0 until d) {
      val p = (k until d).maxBy(i => math.abs(a(i)(k)))
      val tmp = a(k); a(k) = a(p); a(p) = tmp
      require(math.abs(a(k)(k)) > 1e-12, s"singular Hessian at pivot $k")
      for (i <- k + 1 until d; if a(i)(k) != 0.0) {
        val f = a(i)(k) / a(k)(k)
        for (j <- k to d) a(i)(j) -= f * a(k)(j)
      }
    }
    val u = Array.ofDim[Double](d)
    for (i <- (d - 1) to 0 by -1) {
      var s = a(i)(d)
      for (j <- i + 1 until d) s -= a(i)(j) * u(j)
      u(i) = s / a(i)(i)
    }
    u
  }

  /** IRLS fit: `iters` single-aggregate passes over (y, x).
    *
    * L2-regularized (λ scales with n, so the penalty keeps its strength at
    * any corpus size): without it, near-separable data sends ‖w‖ → ∞ and
    * Newton inches down a flat tail forever; with it the optimum is
    * well-defined and the quadratic phase kicks in within a few passes. */
  def fit(data: DataFrame, iters: Int = 8, lambdaPerRow: Double = 1e-4): Model = {
    val d = NumFeatures
    // no .cache() (round 13): the production caller hands in a frame that
    // is a trivial projection over an already-checkpointed featurize scan,
    // and an InMemoryRelation on top of it re-paid a columnar-encode fill
    // on every invocation (a session clearCache drops the entry between
    // bench reps; the checkpoint survives) plus a decode per IRLS pass.
    // The passes are sequential, so Eager's concurrent-consumer race does
    // not apply — each pass re-runs the cheap codegen'd projection over
    // the pinned checkpoint rows.
    val cached = data.select(col("y"), col("x"))
    locally {
      var w = Array.fill(d)(0.0)
      val losses = Seq.newBuilder[Double]
      var n = 0L
      for (_ <- 1 to iters) {
        // one array literal (codegen reference): with 5 scalar lits the
        // new weights changed the generated source every IRLS pass and
        // each of the 8 aggregate jobs paid a fresh janino compile of the
        // whole featurize+Gram stage (see IvfIndex.dist2)
        val wLit = typedlit(w.toSeq)
        // unrolled scalar arithmetic, not HOFs (round 13): d is a fixed
        // constant, and transform/zip_with/aggregate are CodegenFallback —
        // the Gram aggregate's per-row update evaluated the whole
        // augmented-vector tree INTERPRETED per row per pass. The unrolled
        // form is the same left-to-right fold (((0+x₁w₁)+x₂w₂)+…) and the
        // same per-element products, so every double is bit-identical; it
        // is projected in a codegen'd select below so the agg reads a
        // materialized column instead of re-evaluating the tree.
        val margin = (1 to d).foldLeft(lit(0.0): Column)((acc, i) =>
          acc + element_at(col("x"), i) * element_at(wLit, i))
        // staged projections, not one nested tree: inlining margin into
        // p, p twice into s, and √s into all 6 augmented components blew
        // the single-projection tree to ~10³ nodes, and the per-pass
        // driver prep (codegen generation + CSE over that tree) cost more
        // than the job itself. Each select level references the previous
        // level's NON-CHEAP column ≥2 times, so CollapseProject keeps the
        // stages separate and every double is computed by the same ops in
        // the same order — bit-identical, just a small tree per level.
        val staged = cached
          .select(col("y"), col("x"), margin.as("m"))
          .select(col("y"), col("x"), col("m"), sigmoid(col("m")).as("p"))
          .select(col("y"), col("x"), col("m"), col("p"),
            // s = p(1−p) floors at 1e-6 so (p−y)/√s stays finite on
            // saturated rows
            sqrt(greatest(col("p") * (lit(1.0) - col("p")), lit(1e-6)))
              .as("rs"))
        val z = array(
          (1 to d).map(i => element_at(col("x"), i) * col("rs")) :+
            ((col("p") - col("y")) / col("rs")): _*)
        // numerically stable logistic loss: ln(1+e^m) − y·m computed as
        // max(m,0) + ln(1+e^{−|m|}) − y·m
        val lossCol = greatest(col("m"), lit(0.0)) +
          log1p(exp(-abs(col("m")))) - col("y") * col("m")
        val row = staged.select(z.as("z"), lossCol.as("l"))
          .agg(graft.functions.GramMatrixAgg(col("z"), d + 1).as("g"),
            sum(col("l")).as("loss")).head()
        val flat = row.getSeq[Double](0).toArray
        n = flat(0).toLong
        val lambda = lambdaPerRow * n
        losses += row.getDouble(1) + 0.5 * lambda * w.map(x => x * x).sum
        // unpack: flat = [n, sums(d+1), upper-tri gram((d+1)(d+2)/2)]
        val h = Array.ofDim[Double](d, d)
        val g = Array.ofDim[Double](d)
        var t = 1 + (d + 1)
        for (i <- 0 to d; j <- i to d) {
          val v = flat(t); t += 1
          if (i < d && j < d) { h(i)(j) = v; h(j)(i) = v }
          else if (i < d && j == d) g(i) = v
        }
        for (i <- 0 until d) { h(i)(i) += lambda; g(i) += lambda * w(i) }
        val delta = solve(h, g)
        w = w.indices.map(i => w(i) - delta(i)).toArray
      }
      Model(w, losses.result(), n)
    }
  }

  /** Driver-contract key: train on the corpus, score every document —
    * (doc_id, score, pred, y). Rows-only (see object doc). */
  def qualityLrScore(spark: SparkSession, dir: String): DataFrame = {
    // featurize checkpoints the (q, x) scan itself (round 13), so the 8
    // IRLS passes, the threshold percentile and the final corpus scoring
    // all read one materialized frame; the label/feature projections on
    // top are trivial arithmetic
    val data = featurize(graft.sources.Tables.documents(spark, dir))
    val m = fit(data)
    val wLit = typedlit(m.w.toSeq)
    // same unrolled fold as fit's margin — bit-identical, codegen'd
    val margin = (1 to NumFeatures).foldLeft(lit(0.0): Column)((acc, i) =>
      acc + element_at(col("x"), i) * element_at(wLit, i))
    data.select(col("doc_id"), col("y").cast("long").as("y"),
        (round(sigmoid(margin), 4) + lit(0.0d)).as("score"))
      .withColumn("pred", (col("score") >= 0.5).cast("long"))
      .orderBy("doc_id")
  }

  val keys: Seq[Key] = Seq(Key("quality_lr_score", qualityLrScore))
}
