package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Key
import graft.operators.DedupOps.dot
import graft.operators.SharedCorpus
import graft.sources.{Layout, Tables}

/** Product quantization (PQ) over the embedding column — the memory-side
  * complement to [[IvfIndex]]'s scan-side pruning, completing the ANN
  * family (brute force → coarse-cell → LSH → IVF → PQ).
  *
  * Design follows the published method (Jégou, Douze, Schmid, "Product
  * Quantization for Nearest Neighbor Search", IEEE TPAMI 2011): the
  * D-dim vector splits into M subvectors, each quantized by its OWN
  * K-entry codebook (trained with the same deterministic mini-k-means as
  * the IVF coarse quantizer, one per subspace), so a vector stores as M
  * small codes — here 64 float dims become 16 byte-sized codes (16×
  * smaller), and at a realistic 768-dim/M=96 corpus the 100 TB embedding
  * store fits the executors' page cache. Search is asymmetric distance computation
  * (ADC, the paper's §IV): the query precomputes an M×K table of
  * subspace distances to every codebook entry (driver-side, model-sized),
  * and each candidate's approximate distance is M table lookups over its
  * codes — a codegen'd higher-order `aggregate(zip_with(...))`, no
  * per-candidate float math against the full vector. The top ADC
  * candidates then re-rank by exact cosine (the standard short-list
  * refinement), touching real vectors only for the short list.
  *
  * Scale shape: training fits all M codebooks JOINTLY — two corpus
  * passes per Lloyd iteration with shuffles bounded by M·K·subDim, never
  * corpus-sized (see [[trainOn]]); encoding is one scan through the
  * native [[graft.functions.PqAssign]] loop; the ADC scan reads
  * (vec_id, codes) ONLY — the wide embedding column prunes out of the
  * read schema entirely, which is the point of PQ. Rows-only key
  * (k-means means are FP-order-sensitive — no cross-engine oracle);
  * invariants pinned in PqIndexSpec, including the ADC = reconstructed
  * distance identity and recall vs the exact brute-force key.
  */
object PqIndex {
  /** M=16 subspaces × K=32 codes: 16 bytes of codes per 64-dim vector
    * (16× vs float32). Chosen by a recall sweep on the sf0.001 corpus —
    * coarser layouts (M=4/K=16 … M=8/K=32) plateau at 5-6/10 recall@10
    * against brute force, M=16/K=32 with a 100-wide short list reaches
    * 9-10/10. K stays ≤ corpus size at the smallest SF (init is a
    * hash-ordered K-row sample — [[IvfIndex.initOrder]]). */
  val M = 16
  val K = 32
  val Iters = 3

  final case class Codebooks(books: IndexedSeq[IvfIndex.Model], subDim: Int)

  /** Per-subspace argmin codes as one array column — the native
    * [[graft.functions.PqAssign]] loop. SQL-composed forms can't keep
    * M·K = 512 score evaluations per row compiled (an unrolled struct
    * tree blows the generated-method limits; a `transform` lambda over a
    * codebook literal evaluates interpreted per element), which made
    * assignment the whole key's bottleneck — see PqAssign's scaladoc for
    * the measurements and the tie rule (strict <, lowest code id). */
  private def codesCol(books: Seq[Array[Array[Double]]]): Column =
    graft.functions.PqAssign(col("vn"), books.toArray)

  /** (vec_id, v raw, vn unit): quantization is SPHERICAL — codebooks and
    * codes live on the unit sphere, because the engine ranks by cosine
    * and on unit vectors ‖a−b‖² = 2−2·cos(a,b), making L2 ADC order
    * exactly cosine order — raw-L2 ADC would let norm variance reorder
    * candidates against the cosine target. */
  private def withUnit(embeddings: DataFrame): DataFrame = {
    val v = col("embedding").cast("array<double>")
    // norm computed ONCE per row as its own column — inlining
    // sqrt(dot(v,v)) inside the transform lambda re-evaluates the full
    // d-element dot product per ELEMENT (O(d²)/row across training,
    // encoding, and every search scan). An all-zero vector keeps vn = 0⃗
    // instead of silently coding NaN (0/0); on 0⃗ every code is an equal
    // tie so the strict-< rule picks code 0 deterministically.
    embeddings.select(col("vec_id"), v.as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("vn",
        when(col("nrm") === 0d, col("v"))
          .otherwise(transform(col("v"), x => x / col("nrm"))))
      .drop("nrm")
  }

  /** Train all M codebooks JOINTLY — one scan assigns every subspace's
    * code, one posexplode aggregation computes every (m, code, dim) mean
    * (M·K·subDim rows — model-sized), per Lloyd iteration. The per-
    * subspace problems are independent, so this computes the same
    * k-means as M separate trainer runs, but in 2 corpus passes per
    * iteration instead of 2·M (measured at sf0.1: 16.8 s → ~2 s for the
    * whole key). Determinism follows the IVF trainer's rules: init = a
    * hash-ordered K-row sample's subvectors ([[IvfIndex.initOrder]] —
    * uniform over the corpus, not the biased lowest-id slice), fixed
    * iterations, (d, code) argmin ties, empty cells keep their previous
    * centroid. */
  def train(embeddings: DataFrame): Codebooks = {
    val d = embeddings.select(size(col("embedding"))).head().getInt(0)
    trainOn(withUnit(embeddings).select(col("vec_id"), col("vn")), d)
  }

  /** Codebook training over an arbitrary (vec_id, vn) vector table —
    * [[train]] feeds it unit vectors; IVF-PQ feeds it RESIDUALS (which
    * are not unit and must not be re-normalized). */
  private[ml] def trainOn(vecs: DataFrame, d: Int): Codebooks = {
    require(d % M == 0, s"dim $d not divisible by M=$M")
    val subDim = d / M
    // subs = the 16 pre-sliced 4-dim subvectors, cached once: the means
    // explode below then carries 4 doubles per exploded row instead of
    // re-slicing a duplicated 64-dim vn 16× per vector
    val subsCol = array((0 until M).map(m =>
      slice(col("vn"), m * subDim + 1, subDim)): _*)
    val data = vecs.select(col("vec_id"), col("vn"), subsCol.as("subs")).cache()
    val initRows =
      data.orderBy(IvfIndex.initOrder: _*).limit(K).select("vn").collect()
    var books: IndexedSeq[Array[Array[Double]]] = (0 until M).map { m =>
      initRows.map(_.getSeq[Double](0)
        .slice(m * subDim, (m + 1) * subDim).toArray)
    }
    for (_ <- 1 to Iters) {
      val means = data
        .select(posexplode(arrays_zip(codesCol(books).as("codes"),
          col("subs"))).as(Seq("m", "z")))
        .select(col("m"), col("z.codes").as("code"),
          posexplode(col("z.subs")).as(Seq("dim", "x")))
        .groupBy("m", "code", "dim").agg(avg(col("x")).as("mu"))
        .collect()
      val next = books.map(_.map(_.clone()))
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      books = next
    }
    data.unpersist()
    Codebooks(
      books.map(b => IvfIndex.Model(
        b.zipWithIndex.map { case (cvec, cid) => cid -> cvec })),
      subDim)
  }

  /** (vec_id, v, codes): each subspace's nearest codebook entry via the
    * native [[graft.functions.PqAssign]] loop. `v` stays the RAW vector
    * (exact re-rank wants it); codes quantize the unit form. */
  def encode(embeddings: DataFrame, cb: Codebooks): DataFrame =
    withUnit(embeddings)
      .withColumn("codes", codesCol(cb.books.map(_.centroids.map(_._2))))
      .select(col("vec_id"), col("v"), col("codes"))

  /** Exact-cosine re-rank of a collected id short list against the
    * source table — the ONE tail shared by all four PQ search keys
    * (id-pruned point fetch of ~100 vectors, 6-dp rounded scores,
    * (cos desc, vec_id) order, top 10). A single definition so the
    * rounding/tie convention can never diverge between the inline and
    * serve paths of flat PQ and IVF-PQ, whose cross-key identity specs
    * depend on it. */
  private def rerankByIds(emb: DataFrame, ids: Array[Long],
      pRaw: Array[Double]): DataFrame = {
    val pNorm = math.sqrt(pRaw.map(x => x * x).sum)
    val pLit = typedlit(pRaw.toSeq)
    emb.filter(col("vec_id")
        .isin(ids.map(java.lang.Long.valueOf).toIndexedSeq: _*))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .select(col("vec_id"),
        (round(dot(col("v"), pLit) /
          (sqrt(dot(col("v"), col("v"))) * lit(pNorm)), 6)
          + lit(0.0d)).as("cos_sim"))
      .orderBy(desc("cos_sim"), col("vec_id"))
      .limit(10)
  }

  /** The query's M×K ADC table: subspace-m distance from the probe's
    * m-th subvector to every codebook entry. Model-sized driver math. */
  def adcTable(pVec: Array[Double], cb: Codebooks): Array[Array[Double]] =
    Array.tabulate(M) { m =>
      val p = pVec.slice(m * cb.subDim, (m + 1) * cb.subDim)
      cb.books(m).centroids.map { case (_, cvec) =>
        var s = 0.0; var i = 0
        while (i < p.length) { val t = p(i) - cvec(i); s += t * t; i += 1 }
        s
      }
    }

  /** ADC distance column: M lookups into the literal table, summed with
    * a codegen'd fold — centroid order == code id (Model is id-sorted). */
  def adcColumn(tbl: Array[Array[Double]]): Column = {
    // one array-of-arrays literal (a codegen REFERENCE), not 512 inlined
    // scalar literals — the per-probed-cell ADC scans then share one
    // compiled class instead of compiling a fresh 512-constant expression
    // per cell (see IvfIndex.dist2)
    val tblLit = typedlit(tbl.map(_.toSeq).toSeq)
    aggregate(
      zip_with(col("codes"), tblLit, (c, row) => get(row, c)),
      lit(0.0d), (acc, x) => acc + x)
  }

  /** Driver-contract query: train, encode, ADC-scan for vec 0's top-100
    * short list, exact-cosine re-rank to 10. Rows-only key. */
  def simSearchPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cb = train(emb)
    adcSearch(emb, encode(emb, cb), cb)
  }

  /** Vec 0's top-10: an ADC scan of `codes` (vec_id, codes) under the
    * `cb` codebooks for the 100 nearest codes, then an exact-cosine
    * re-rank of that short list against `emb`. */
  private def adcSearch(emb: DataFrame, codes: DataFrame,
      cb: Codebooks): DataFrame = {
    val probeId = 0L
    val pVec = emb.filter(col("vec_id") === probeId)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val pNorm = math.sqrt(pVec.map(x => x * x).sum)
    val pUnit = pVec.map(_ / pNorm) // ADC probes on the sphere too
    val shortIds = codes
      .filter(col("vec_id") =!= probeId)
      .withColumn("adc_d2", adcColumn(adcTable(pUnit, cb)))
      .orderBy(col("adc_d2"), col("vec_id")) // TakeOrderedAndProject
      .limit(100)
      .select(col("vec_id")).collect().map(_.getLong(0))
    rerankByIds(emb, shortIds, pVec) // 100-id point fetch
  }

  // ── train / persist / serve split ──────────────────────────────────
  // Same production shape as IvfIndex: [[simSearchPq]] retrains inside
  // the query (right for a training job); a serving tier trains once,
  // persists the codebooks (M·K·subDim doubles — model-sized) and the
  // CODES table (vec_id + 16 bytes/vector — the compressed corpus), and
  // answers queries from those. The serve scan touches the raw
  // embeddings table exactly twice, both id-pruned: the probe fetch
  // (1 row) and the exact re-rank of the 100-row short list — at 100 TB
  // the wide vector column is read for ~100 rows, everything else rides
  // the 16× smaller codes store.

  /** Train once per content tag ([[Layout.ensureStore]], recipe-keyed
    * like the IVF store — v2 = hash-sampled init, round 7) and write
    * `<path>/books` (M·K rows: m, code, cvec) and `<path>/codes`
    * (vec_id, codes) — the vectors themselves stay ONLY in the source
    * table. Returns the store path. */
  def ensureModel(spark: SparkSession, dir: String): String =
    Layout.ensureStore(spark, dir, s"pq_v2_m${M}_k${K}_i${Iters}",
        "codes/_SUCCESS", "embeddings") { path =>
      val emb = Tables.embeddings(spark, dir)
      val cb = train(emb)
      writeBooks(spark, cb, path)
      encode(emb, cb).select(col("vec_id"), col("codes"))
        .write.mode("overwrite").parquet(s"$path/codes")
    }

  /** Writes `cb` as `<path>/books` (m, code, cvec), one file. */
  private def writeBooks(spark: SparkSession, cb: Codebooks,
      path: String): Unit = {
    import spark.implicits._
    cb.books.zipWithIndex.flatMap { case (model, m) =>
      model.centroids.map { case (code, cvec) => (m, code, cvec.toSeq) }
    }.toDF("m", "code", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/books")
  }

  /** Load persisted codebooks (M·K rows — model-sized collect) as corpus
    * state, like the IVF model ([[IvfIndex.loadModel]]). */
  def loadBooks(spark: SparkSession, dir: String): Codebooks =
    SharedCorpus.value(spark, "pq_books", dir, "embeddings")(
      readBooks(spark, s"${ensureModel(spark, dir)}/books"))

  /** M codebooks from a persisted (m, code, cvec) table. */
  private def readBooks(spark: SparkSession, path: String): Codebooks = {
    val rows = Tables.parquet(spark, path)
      .select(col("m"), col("code"), col("cvec")).collect()
    val books = (0 until M).map { m =>
      IvfIndex.Model(rows.filter(_.getInt(0) == m)
        .map(r => r.getInt(1) -> r.getSeq[Double](2).toArray)
        .sortBy(_._1))
    }
    Codebooks(books, books.head.centroids.head._2.length)
  }

  /** Serving-path query: NO training and NO full-width corpus scan —
    * ADC over the persisted codes store, then an id-pruned exact re-rank
    * against the source table. Result identical to [[simSearchPq]]
    * (training is deterministic); rows-only key. */
  def simSearchPqServe(spark: SparkSession, dir: String): DataFrame = {
    val path = ensureModel(spark, dir)
    val cb = loadBooks(spark, dir)
    adcSearch(Tables.embeddings(spark, dir),
      Tables.parquet(spark, s"$path/codes"), cb)
  }

  /** Coarse cells and probes of [[simSearchIvfPq]]: 8 cells keep ≥ K
    * vectors per average cell for residual-codebook training at the
    * smallest SF; nprobe=3 scans 3/8 of the codes store. nprobe is THE
    * recall/scan dial of IVF — measured at sf0.001 with the uniform
    * hash-sampled init, the probe's true top-10 live in ~6 distinct
    * cells (weakly clustered high-dim data), so cell coverage caps
    * recall at 3/5/7-of-10 for nprobe=2/3/4; rounds ≤6 measured 9/10
    * at nprobe=2 only because the biased first-K-by-id init seeded a
    * centroid AT the probe vector (vec_id 0), gluing its neighbourhood
    * into one cell — an artifact, not quantizer quality. The coarse
    * quantizer runs more Lloyd iterations than the codebooks
    * ([[CoarseIters]]): its cell boundaries decide what is SCANNED
    * (recall), while codebook refinement only sharpens ranking within
    * the short list — and its per-iteration cost is k·dim, corpus-pass
    * bound, cheap at 8 cells. */
  val CoarseK = 8
  val Nprobe = 3
  val CoarseIters = 10

  // ── IVF-PQ (the paper's §V — and the index FAISS calls IVFPQ): the
  // coarse quantizer PRUNES (only nprobe/k of the corpus is scanned) and
  // PQ codes of the RESIDUAL v − centroid(cell) COMPRESS what remains.
  // Residuals matter: vectors in one cell share their centroid, so the
  // residual cloud is centered and small — the same K codes quantize it
  // far more finely than they can the raw sphere. The probe builds ONE
  // ADC table PER PROBED CELL (its residual differs per centroid) —
  // nprobe model-sized tables, then the same short-list → exact-re-rank
  // tail as the flat PQ key. At 100 TB: scan 1/k of a codes store that
  // is itself 16× smaller than the vectors, fetch ~100 full vectors. ──
  /** The one IVF-PQ training pipeline — coarse quantizer on unit
    * vectors, residual v − centroid(cell), residual codebooks, residual
    * codes — shared verbatim by the inline key and the persisted serve
    * store, so the two paths can never train differently (their identity
    * spec depends on it). Returns the codes as a DataFrame the caller
    * either caches (inline) or writes (persist). */
  private def trainIvfPq(unit: DataFrame, d: Int)
      : (IvfIndex.Model, Codebooks, DataFrame) = {
    val coarse = IvfIndex.train(
      unit.select(col("vec_id"), col("vn").as("embedding")),
      k = CoarseK, iters = CoarseIters)
    val centsLit = // id-sorted: index == cell id; reference literal (dist2 doc)
      typedlit(coarse.centroids.map { case (_, cvec) => cvec.toSeq }.toSeq)
    val resid = IvfIndex
      .assignCells(unit.select(col("vec_id"), col("vn").as("embedding")), coarse)
      .select(col("vec_id"), col("cell"),
        zip_with(col("v"), get(centsLit, col("cell")), (a, b) => a - b).as("vn"))
    val cb = trainOn(resid.select(col("vec_id"), col("vn")), d)
    val codes = resid
      .withColumn("codes", codesCol(cb.books.map(_.centroids.map(_._2))))
      .select(col("vec_id"), col("cell"), col("codes"))
    (coarse, cb, codes)
  }

  /** The one IVF-PQ probe: per-probed-cell residual ADC over a
    * (vec_id, cell, codes) table → 100-id short list. Shared by the
    * inline and serve keys (`codes` is the cached training output or the
    * partitioned store — for the store, `col("cell") === c` prunes to
    * that cell's files at the scan). */
  private def ivfPqShortList(codes: DataFrame, coarse: IvfIndex.Model,
      cb: Codebooks, pu: Array[Double], probeId: Long): Array[Long] = {
    val probedCells = IvfIndex.nearestCells(coarse.centroids, pu, Nprobe)
    probedCells.map { c =>
      val cent = coarse.centroids(c)._2
      val pr = pu.indices.map(i => pu(i) - cent(i)).toArray
      codes.filter(col("cell") === c && col("vec_id") =!= probeId)
        .withColumn("adc_d2", adcColumn(adcTable(pr, cb)))
        .select(col("vec_id"), col("adc_d2"))
    }.reduce(_ unionByName _)
      .orderBy(col("adc_d2"), col("vec_id"))
      .limit(100)
      .select(col("vec_id")).collect().map(_.getLong(0))
  }

  def simSearchIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val d = emb.select(size(col("embedding"))).head().getInt(0)
    val unit = withUnit(emb).cache()
    val (coarse, cb, codesDf) = trainIvfPq(unit, d)
    // cached: the probe loop consumes this once PER PROBED CELL, and
    // each branch would otherwise re-run the full assign+residual+
    // encode pipeline over the corpus (the bands.cache() lesson from the
    // minhash candidates). vec_id + cell + 16 codes — tiny.
    val codes = codesDf.cache()
    val probeId = 0L
    val pRow = unit.filter(col("vec_id") === probeId)
      .select(col("v"), col("vn")).head()
    val pRaw = pRow.getSeq[Double](0).toArray
    val pu = pRow.getSeq[Double](1).toArray
    // the short list is collected (100 ids — request-sized), so the
    // cached tables can be dropped HERE instead of leaking into the
    // session for the caller's lifetime (trainOn and
    // distributedMinLabel keep the same discipline)
    val shortIds = ivfPqShortList(codes, coarse, cb, pu, probeId)
    unit.unpersist()
    codes.unpersist()
    rerankByIds(emb, shortIds, pRaw) // 100-id point fetch
  }

  // ── IVF-PQ train / persist / serve split — the same production shape
  // as the flat-PQ and IVF stores, completing serve parity across the
  // ANN family. The store carries THREE model/compressed artifacts and
  // zero vectors: coarse centroids (CoarseK rows), residual codebooks
  // (M·K rows), and the codes table (vec_id + cell + 16 bytes/vector)
  // PARTITIONED BY cell — so a serve-time probe reads nprobe/CoarseK of
  // the codes files at the SCAN (partition pruning), and the raw
  // embeddings table is touched exactly twice, both id-pruned: the probe
  // fetch (1 row) and the 100-row exact re-rank.

  /** Train once per content tag ([[Layout.ensureStore]], recipe-keyed
    * like the PQ/IVF stores) and write `<path>/coarse` (cell, cvec),
    * `<path>/books` (m, code, cvec) and `<path>/codes` (vec_id, codes;
    * partitioned by cell). Training is [[trainIvfPq]] — identical to the
    * inline key. Returns the store path. */
  def ensureIvfPqModel(spark: SparkSession, dir: String): String =
    Layout.ensureStore(spark, dir,
        s"ivfpq_v2_m${M}_k${K}_i${Iters}_c${CoarseK}_ci${CoarseIters}",
        "codes/_SUCCESS", "embeddings") { path =>
      import spark.implicits._
      val emb = Tables.embeddings(spark, dir)
      val d = emb.select(size(col("embedding"))).head().getInt(0)
      val unit = withUnit(emb).cache()
      val (coarse, cb, codes) = trainIvfPq(unit, d)
      coarse.centroids.toSeq.map { case (cell, cvec) => (cell, cvec.toSeq) }
        .toDF("cell", "cvec")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/coarse")
      writeBooks(spark, cb, path)
      codes.write.partitionBy("cell").mode("overwrite").parquet(s"$path/codes")
      unit.unpersist()
    }

  /** Load persisted coarse centroids + residual codebooks (model-sized
    * collects) as corpus state. */
  def loadIvfPq(spark: SparkSession, dir: String): (IvfIndex.Model, Codebooks) =
    SharedCorpus.value(spark, "ivfpq_model", dir, "embeddings") {
      val path = ensureIvfPqModel(spark, dir)
      (IvfIndex.readModel(spark, s"$path/coarse"),
        readBooks(spark, s"$path/books"))
    }

  /** Serving-path query: NO training and NO corpus-wide scan — the
    * probe's nprobe cells prune the partitioned codes store at the scan,
    * residual ADC shortlists 100 ids, and the raw table serves only the
    * probe fetch + exact re-rank. Result identical to [[simSearchIvfPq]]
    * (training is deterministic); rows-only key. */
  def simSearchIvfPqServe(spark: SparkSession, dir: String): DataFrame = {
    val path = ensureIvfPqModel(spark, dir)
    val (coarse, cb) = loadIvfPq(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val probeId = 0L
    val pRaw = emb.filter(col("vec_id") === probeId)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val pNorm = math.sqrt(pRaw.map(x => x * x).sum)
    val pu = pRaw.map(_ / pNorm)
    val codes = Tables.parquet(spark, s"$path/codes")
      .select(col("vec_id"), col("cell").cast("int").as("cell"), col("codes"))
    val shortIds = ivfPqShortList(codes, coarse, cb, pu, probeId)
    rerankByIds(emb, shortIds, pRaw) // 100-id point fetch
  }

  // Driver-contract keys return the annInvariant summary (round 11) so
  // the trained indexes meet the DuckDB gate; the search surfaces are the
  // functions above, pinned row-for-row in PqIndexSpec. Floors =
  // obs_min − 1 from the round-12 recall sweep over all four gate scales
  // (BASELINE.md, "ANN recall floors re-sized"): PQ exact-rerank stays
  // 10/10 everywhere (floor 9 — one borderline-rank swap of headroom);
  // IVF-PQ's nprobe-pruned shortlist measured 7/7/5/9 (floor 4).
  val keys: Seq[Key] = {
    val o = Some(graft.operators.SimilarityOps.annInvariantOracle)
    def ann(search: (SparkSession, String) => DataFrame, minOverlap: Int) =
      (s: SparkSession, d: String) => graft.operators.SimilarityOps
        .annInvariant(s, d, search(s, d), minOverlap)
    Seq(
      Key("sim_search_pq", ann(simSearchPq, 9), o),
      Key("sim_search_pq_serve", ann(simSearchPqServe, 9), o,
        prep = Some((s, d) => ensureModel(s, d))),
      Key("sim_search_ivfpq", ann(simSearchIvfPq, 4), o),
      Key("sim_search_ivfpq_serve", ann(simSearchIvfPqServe, 4), o,
        prep = Some((s, d) => ensureIvfPqModel(s, d))))
  }
}
