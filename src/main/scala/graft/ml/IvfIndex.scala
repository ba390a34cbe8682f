package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Key
import graft.operators.DedupOps.dot
import graft.operators.SharedCorpus
import graft.sources.{Layout, Tables}

/** IVF (inverted-file) index over an embedding column: a deterministic
  * mini k-means trains the coarse quantizer, vectors are assigned to their
  * nearest centroid cell, and a probe searches only its `nprobe` nearest
  * cells — the real version of what `sim_search_ann` approximates with the
  * pre-labeled `label` column.
  *
  * Scale shape: training touches each vector once per Lloyd iteration
  * (distributed argmin + per-dimension mean — two shuffles bounded by k·dim,
  * not by corpus size); the trained model is k·dim doubles, collected to the
  * driver and re-broadcast exactly like any ML model parameter (this is the
  * one sanctioned use of collect: model state, not data). At serving time
  * the table is written partitioned by `cell`, so an nprobe search reads
  * nprobe/k of the corpus.
  *
  * Determinism: init centroids are a HASH-ORDERED sample (the k lowest by
  * `xxhash64(vec_id)`, vec_id tiebreak — see [[initOrder]]), iteration
  * count is fixed, and argmin ties break on the lower cell id — same
  * result on every run and partitioning (all reductions are min/argmin or
  * exact means of the same value sets).
  */
object IvfIndex {

  /** Init-sample ordering shared by this trainer and [[PqIndex.trainOn]]:
    * `xxhash64(vec_id)` is a fixed-seed permutation of the id space, so
    * "first k by hash" is a deterministic UNIFORM sample of the corpus —
    * unlike first-k-by-id, which seeds k-means with whatever the lowest
    * ids happen to look like (at real scale ids correlate with ingest
    * time/shard, a biased slice). vec_id as tiebreak keeps the order
    * total even across hash collisions. TakeOrderedAndProject shape: a
    * per-partition top-k heap + driver merge, never a global sort. */
  private[graft] def initOrder: Seq[org.apache.spark.sql.Column] =
    Seq(xxhash64(col("vec_id")), col("vec_id"))

  final case class Model(centroids: Array[(Int, Array[Double])])

  private def vecs(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Squared L2 distance between a vector column and a centroid literal. */
  // native fused loop (functions/Dist2) — bit-identical to the old
  // dot(zip_with(v,c,_-_), …) HOF composition (same left-to-right
  // acc += d·d fold) but codegen'd: the HOF pair evaluated two
  // interpreter lambdas per element, k times per row per Lloyd iteration.
  // typedlit, not array(lit…) (round 12): 64 scalar literals are INLINED
  // into the generated source, so every Lloyd iteration's new centroids
  // produced brand-new source and a fresh janino compile of the whole
  // assignment stage — a single array literal is passed via the codegen
  // references array instead, the source is iteration-invariant, and the
  // compile cache serves every iteration after the first. Same values,
  // same fold — results bit-identical.
  private def dist2(v: org.apache.spark.sql.Column, c: Array[Double]) =
    graft.functions.Dist2(v, typedlit(c.toSeq))

  /** Assign every vector to its nearest centroid (ties → lowest cell id). */
  private def assign(data: DataFrame, model: Model): DataFrame = {
    val scored = model.centroids.map { case (cid, cvec) =>
      struct(dist2(col("v"), cvec).as("d"), lit(cid).as("cell"))
    }
    // array_min over structs orders by (d, cell) — deterministic argmin
    data.withColumn("best", array_min(array(scored: _*)))
      .withColumn("cell", col("best.cell"))
      .withColumn("d2", col("best.d"))
      .drop("best")
  }

  /** Train k cells with `iters` Lloyd iterations (fixed, deterministic). */
  def train(embeddings: DataFrame, k: Int, iters: Int): Model = {
    val data = vecs(embeddings).cache()
    // deterministic init: hash-ordered uniform sample (see initOrder)
    var model = Model(
      data.orderBy(initOrder: _*).limit(k).collect().zipWithIndex.map {
        case (r, i) => i -> r.getSeq[Double](1).toArray
      })
    val dim = model.centroids.head._2.length
    for (_ <- 1 to iters) {
      val assigned = assign(data, model)
      // new centroid = per-dimension mean of the assigned vectors; the
      // (cell, dim, m) rows come back — model-sized, not data-sized.
      // Assembled on the DRIVER (round 12): the former second groupBy
      // (collect_list + array_sort + transform) re-shuffled k·dim rows
      // per Lloyd iteration only to pack arrays the driver unpacks
      // again — one shuffle per iteration instead of two, identical
      // per-(cell, dim) avg values (same aggregation, same groups).
      val means = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim")).agg(avg(col("x")).as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          val cvec = Array.ofDim[Double](dim)
          rows.foreach(r => cvec(r.getInt(1)) = r.getDouble(2))
          cell -> cvec
        }
      // empty cells keep their previous centroid
      val kept = model.centroids.toMap ++ means
      model = Model(kept.toArray.sortBy(_._1))
    }
    model
  }

  /** Total within-cluster squared distance (training objective). */
  def inertia(embeddings: DataFrame, model: Model): Double =
    assign(vecs(embeddings), model).agg(sum(col("d2"))).head().getDouble(0)

  /** Public cell assignment: (vec_id, v, cell) for every vector — the
    * quantizer output other operators block on (e.g. dedup_embed_ivf's
    * within-cell pairing). */
  def assignCells(embeddings: DataFrame, model: Model): DataFrame =
    assign(vecs(embeddings), model).select(col("vec_id"), col("v"), col("cell"))

  /** The `nprobe` cells nearest to a probe vector (ties → lower cell id)
    * — model-sized driver math shared by every IVF-family search path
    * (here, the serve path, and PqIndex's IVF-PQ). */
  private[ml] def nearestCells(centroids: Array[(Int, Array[Double])],
      p: Array[Double], nprobe: Int): Array[Int] =
    centroids.map { case (cid, cvec) =>
      var d = 0.0
      var i = 0
      while (i < p.length) { val t = p(i) - cvec(i); d += t * t; i += 1 }
      cid -> d
    }.sortBy { case (cid, d) => (d, cid) }.take(nprobe).map(_._1)

  /** Top-k cosine neighbours of `probeId`, searching only the `nprobe`
    * cells nearest to the probe vector. */
  def search(embeddings: DataFrame, model: Model, probeId: Long,
      k: Int, nprobe: Int): DataFrame = {
    val data = assign(vecs(embeddings), model)
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val probe = data.filter(col("vec_id") === probeId)
      .select(col("v").as("p_v"), col("norm").as("p_norm"))
    val probeRow = probe.head()
    val pVec = probeRow.getSeq[Double](0).toArray
    val cells = nearestCells(model.centroids, pVec, nprobe)
    data.filter(col("cell").isin(cells.map(Integer.valueOf): _*) &&
        col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("cell"),
        (round(dot(col("v"), col("p_v")) / (col("norm") * col("p_norm")), 6)
          + lit(0.0d)).as("cos_sim"))
      .orderBy(desc("cos_sim"), col("vec_id"))
      .limit(k)
  }

  /** Driver-contract query: train 16 cells × 3 iterations on the table
    * itself, search 10 neighbours of vec 0 with nprobe=4. Rows-only key
    * (k-means means are FP-order-sensitive — no cross-engine oracle);
    * invariants pinned in IvfIndexSpec.
    *
    * nprobe 2→4 (round 12): at nprobe=2/16 recall@10 genuinely bottomed
    * at 2/10 on the small uniform corpora, which forced the invariant
    * floor down to 1 — a floor that only catches total collapse. 4/16
    * still prunes 3/4 of the corpus at the scan while lifting the
    * cross-scale recall minimum high enough for a floor that binds
    * (see [[graft.operators.SimilarityOps.annInvariant]]). */
  def simSearchIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val model = train(emb, k = 16, iters = 3)
    search(emb, model, probeId = 0L, k = 10, nprobe = 4)
  }

  // ── train / persist / serve split ──────────────────────────────────
  // Training once per corpus and SERVING against the stored model is the
  // production shape: [[simSearchIvf]] retrains the quantizer inside every
  // query (correct for a training job, 6 shuffles of waste for a lookup).
  // The model is k·dim doubles — persisted as a k-row parquet table, the
  // same way any ML model parameter ships to a serving tier.

  /** Train the quantizer AND build the serving index for `dir`'s
    * embeddings table, once per content tag ([[Layout.ensureStore]]; the
    * name encodes the training recipe — v2 = hash-sampled init, round
    * 7 — so a store built under another recipe is never served):
    * centroids → `<path>/model` (k rows), the corpus assigned +
    * norm-precomputed → `<path>/data` PARTITIONED BY cell — so a
    * serve-time nprobe search prunes to nprobe/k of the files at the
    * SCAN, the on-disk layout IVF exists for. Returns the store path. */
  def ensureModel(spark: SparkSession, dir: String): String =
    Layout.ensureStore(spark, dir, "ivf_v2_k16_i3", "data/_SUCCESS",
        "embeddings") { path =>
      import spark.implicits._
      val emb = Tables.embeddings(spark, dir)
      val model = train(emb, k = 16, iters = 3)
      model.centroids.toSeq.toDF("cell", "cvec")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/model")
      assign(vecs(emb), model)
        .withColumn("norm", sqrt(dot(col("v"), col("v"))))
        .select(col("vec_id"), col("v"), col("norm"), col("cell"))
        .write.partitionBy("cell").mode("overwrite").parquet(s"$path/data")
    }

  /** Load the persisted quantizer (k rows → model-sized collect) as
    * corpus state ([[SharedCorpus.value]]): a serving tier keeps model
    * state resident between queries — only the first query per corpus
    * pays the k-row read. The store is written once per content tag,
    * so a resident model never outlives its store. */
  def loadModel(spark: SparkSession, dir: String): Model =
    SharedCorpus.value(spark, "ivf_model", dir, "embeddings")(
      readModel(spark, s"${ensureModel(spark, dir)}/model"))

  /** A persisted (cell, cvec) centroid table, ordered by cell. */
  private[ml] def readModel(spark: SparkSession, path: String): Model =
    Model(Tables.parquet(spark, path).select(col("cell"), col("cvec")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).sortBy(_._1))

  /** Serving-path query: NO training and NO corpus-wide assignment
    * inside — loads the persisted centroids (building the index lazily on
    * first use per corpus, exactly once), picks the probe's nprobe nearest
    * cells on the driver (k distances against model state), and scans ONLY
    * those cells' partitions of the pre-assigned store (`cell` is a
    * partition column → partition pruning; norms are precomputed at index
    * build). Same result as [[simSearchIvf]] (training is deterministic);
    * rows-only key. The probe vector is fetched from the store by id here —
    * a deployed service receives it in the request. */
  def simSearchIvfServe(spark: SparkSession, dir: String): DataFrame = {
    val path = ensureModel(spark, dir)
    val model = loadModel(spark, dir)
    val data = Tables.parquet(spark, s"$path/data")
    val probeId = 0L
    val probe = data.filter(col("vec_id") === probeId)
      .select(col("v").as("p_v"), col("norm").as("p_norm"))
    val pVec = probe.head().getSeq[Double](0).toArray
    val cells = nearestCells(model.centroids, pVec, nprobe = 4)
    data.filter(col("cell").isin(cells.map(Integer.valueOf): _*) &&
        col("vec_id") =!= probeId)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("cell").cast("int").as("cell"),
        (round(dot(col("v"), col("p_v")) / (col("norm") * col("p_norm")), 6)
          + lit(0.0d)).as("cos_sim"))
      .orderBy(desc("cos_sim"), col("vec_id"))
      .limit(10)
  }

  // Driver-contract keys return the annInvariant summary (round 11) so
  // the trained index meets the DuckDB gate; the search surface itself is
  // [[search]]/[[simSearchIvf]]/[[simSearchIvfServe]], pinned row-for-row
  // in IvfIndexSpec. IVF floor = 3/10 (round 12): at nprobe=4 of 16
  // cells recall@10 measured 4/5/6/9 across sf0.001/0.01/0.1/sf≈1
  // (BASELINE.md, "ANN recall floors re-sized"), so floor = obs_min − 1
  // — it BINDS (a cell-assignment bug degrading recall below 4 now fails
  // the DuckDB gate, where the old nprobe=2 floor of 1 only caught total
  // collapse).
  val keys: Seq[Key] = Seq(
    Key("sim_search_ivf", (s, d) =>
      graft.operators.SimilarityOps.annInvariant(s, d,
        simSearchIvf(s, d), minOverlap = 3),
      Some(graft.operators.SimilarityOps.annInvariantOracle)),
    Key("sim_search_ivf_serve", (s, d) =>
      graft.operators.SimilarityOps.annInvariant(s, d,
        simSearchIvfServe(s, d), minOverlap = 3),
      Some(graft.operators.SimilarityOps.annInvariantOracle),
      prep = Some((s, d) => ensureModel(s, d))),
  )
}
