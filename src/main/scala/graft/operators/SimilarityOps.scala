package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Key
import graft.sources.Tables
import graft.operators.OpsHelpers.r6

/** Similarity search over the `embeddings` table (SURVEY.md §2.10 + north
  * star): brute-force cosine top-k as the exact baseline, and a
  * partition-pruned ANN variant as the scale path.
  *
  * The probe is a row of the table itself (vec_id 0), joined in as a
  * broadcast single-row DataFrame — no `collect()` round-trip, so the same
  * plan runs with the probe coming from any one-row DataFrame. Dot products
  * and norms use the `zip_with`/`aggregate` higher-order functions (native
  * Catalyst expressions, sequential fold — same evaluation order as the
  * DuckDB oracle, so the doubles agree to the last ULP; round(6) absorbs
  * that ULP).
  *
  * AT 100 TB: brute force is O(corpus) per probe but embarrassingly
  * parallel and shuffle-free (broadcast probe, per-partition top-k via
  * TakeOrderedAndProject) — it is the correct plan for one-off probes. The
  * ANN variant prunes to one coarse cell (here the `label` column standing
  * in for a trained IVF quantizer cell / LSH bucket): with the table
  * written partitioned-by-cell, partition pruning keeps the scan to
  * 1/n_cells of the data.
  */
object SimilarityOps {

  private def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(DedupOps.dot(col("v"), col("v"))))

  private def probe(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir).filter(col("vec_id") === 0)
      .select(col("vec_id").as("p_id"), col("label").as("p_label"),
        col("v").as("p_v"), col("norm").as("p_norm"))

  // `+ 0.0` after round: a cosine that rounds to zero from below would
  // otherwise be `-0.0`, whose sign bit DuckDB and Spark don't agree on
  // (same class of bug as stats_corr's covariance in round 3)
  private def cosToProbe: org.apache.spark.sql.Column =
    DedupOps.dot(col("v"), col("p_v")) / (col("norm") * col("p_norm"))

  // ── exact top-k: score everything, keep 10. orderBy+limit compiles to
  // TakeOrderedAndProject (per-partition heaps, driver merges k rows).
  // Candidate norms are computed once in the scan projection, not inside
  // the per-row cosine — one fold per row instead of three. ──
  def simSearch(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir)
      .join(broadcast(probe(spark, dir)), col("vec_id") =!= col("p_id"))
      .select(col("vec_id"), col("label"),
        (round(cosToProbe, 6) + lit(0.0d)).as("cos_sim"))
      .orderBy(desc("cos_sim"), col("vec_id"))
      .limit(10)

  // ── ANN: prune to the probe's coarse cell first, then exact top-k within
  // it — the IVF search pattern (nprobe=1). ──
  def simSearchAnn(spark: SparkSession, dir: String): DataFrame =
    vecs(spark, dir)
      .join(broadcast(probe(spark, dir)),
        col("label") === col("p_label") && col("vec_id") =!= col("p_id"))
      .select(col("vec_id"), col("label"),
        (round(cosToProbe, 6) + lit(0.0d)).as("cos_sim"))
      .orderBy(desc("cos_sim"), col("vec_id"))
      .limit(10)

  // ── LSH-bucketed ANN: random-hyperplane signatures (4 fixed pseudo-random
  // planes → 16 buckets); search only the probe's bucket. The third point on
  // the exactness/recall dial after brute force and coarse-cell pruning.
  // Oracle-checked since round 7: the planes are pure integer arithmetic
  // over (p, d), so DuckDB rebuilds them exactly (same doubles — integer
  // ops then one correctly-rounded division), and the bucket is the sign
  // of a double dot product both engines accumulate left-to-right. A
  // vector EXACTLY on a plane could in principle flip across engines, but
  // the sign inputs are bit-identical here, so the boundary case would
  // have to be dot == 0 exactly — and the strict > 0 rule resolves it the
  // same way in both. At 100 TB the table is WRITTEN partitioned by
  // bucket, so this probe reads 1/16 of the data. ──
  private val NPlanes = 4

  private def planeLit(p: Int): org.apache.spark.sql.Column =
    array((0 until 64).map { d =>
      lit((((p * 131 + d) * 2654435761L) % 1000) / 500.0 - 1.0)
    }: _*)

  /** Deterministic hyperplane-sign bucket of an array<double> column. */
  def lshBucket(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until NPlanes).map { p =>
      when(DedupOps.dot(v, planeLit(p)) > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  def simSearchLsh(spark: SparkSession, dir: String): DataFrame = {
    val bucketed = vecs(spark, dir).withColumn("bucket", lshBucket(col("v")))
    val p = bucketed.filter(col("vec_id") === 0)
      .select(col("vec_id").as("p_id"), col("v").as("p_v"),
        col("norm").as("p_norm"), col("bucket").as("p_bucket"))
    bucketed
      .join(broadcast(p),
        col("bucket") === col("p_bucket") && col("vec_id") =!= col("p_id"))
      .select(col("vec_id"), col("bucket"),
        (round(cosToProbe, 6) + lit(0.0d)).as("cos_sim"))
      .orderBy(desc("cos_sim"), col("vec_id"))
      .limit(10)
  }

  /** Invariant summary that lets a trained-ANN key meet the DuckDB gate
    * (round 11): k-means cells/codebooks are FP-order-sensitive, so the
    * returned NEIGHBORS can't be oracled cross-engine — but three
    * engine-independent properties of a correct ANN result can:
    *
    *  - `results_ok`: exactly k rows came back (candidate pools at every
    *    gate scale exceed k — embeddings ships ≥500 rows);
    *  - `score_ok`: the best returned (6-dp) cosine never exceeds the
    *    brute-force top-1 — round is monotone, so any candidate's rounded
    *    cosine ≤ the rounded global max; a violation means the scores are
    *    not real cosines;
    *  - `recall_ok`: ≥ `minOverlap` of the k results are in the
    *    brute-force top-k, counted over DISTINCT matched ids. Floors are
    *    per-family at obs_min − 1 from the round-12 recall sweep
    *    (BASELINE.md, "ANN recall floors re-sized") across
    *    sf0.001/0.01/0.1/sf≈1: IVF at nprobe=4/16 measured
    *    4/5/6/9 — floor 3; PQ rescoring stays 10/10 — floor 9; IVF-PQ
    *    measured 7/7/5/9 — floor 4. The informative recall EVALUATION
    *    lives in eval_ann_recall (oracled) and the Ivf/Pq specs; this
    *    floor fails the gate on the degraded-index class (wrong cells
    *    probed, garbage codes), not just total collapse.
    *
    * The DuckDB side verifies k and asserts the booleans TRUE — the
    * ε-bound-oracle pattern shared with approx_distinct. */
  def annInvariant(spark: SparkSession, dir: String, results: DataFrame,
      minOverlap: Int): DataFrame = {
    // The brute top-k reference (10 rows) is memoized per corpus (round
    // 12, [[SharedCorpus]]): all nine ANN keys grade against the SAME
    // exact reference, and each was re-running the full brute-force scan
    // per key. Eager inside the memo also serves both consumers here
    // (the overlap join and the top-1 scalar) from one materialization.
    val b = SharedCorpus.memo(spark, "ann_brute_ref", dir, "embeddings")(
      simSearch(spark, dir)
        .select(col("vec_id").as("b_id"), col("cos_sim").as("b_cos")))
    val bTop1 = b.agg(max(col("b_cos")).as("b_top1"))
    results
      .join(broadcast(b.select(col("b_id"))),
        col("vec_id") === col("b_id"), "left")
      .agg(count(lit(1)).as("n"),
        // DISTINCT on both sides (round 12): a regressed index returning
        // the same id k times would otherwise pass results_ok (n==k) and
        // inflate overlap by row count — countDistinct(b_id) ignores the
        // unmatched-left nulls, so it counts distinct true hits only
        countDistinct(col("vec_id")).as("n_distinct"),
        countDistinct(col("b_id")).as("overlap"),
        max(col("cos_sim")).as("r_top"))
      .crossJoin(broadcast(bTop1))
      .select(lit(10).as("k"),
        (col("n") === 10L && col("n_distinct") === 10L).as("results_ok"),
        (col("r_top") <= col("b_top1") + lit(1e-9)).as("score_ok"),
        (col("overlap") >= minOverlap.toLong).as("recall_ok"))
  }

  /** Shared DuckDB oracle for every [[annInvariant]]-wrapped key. */
  val annInvariantOracle: String =
    """SELECT 10 AS k, TRUE AS results_ok, TRUE AS score_ok,
      |  TRUE AS recall_ok""".stripMargin

  // ── per-label centroid (the "train the coarse quantizer" building block:
  // IVF cell centers, cluster means for k-means iterations). Unpivot each
  // vector with posexplode, average per (label, position), re-assemble the
  // array in position order. Both shuffles are keyed on (label[, pos]) —
  // fully partial-aggregated, no vector ever on the driver. Components are
  // summed in DECIMAL(18,9) (the float32 inputs survive that cast with
  // identical rounding in both engines), making the sum associative →
  // bitwise-reproducible under any partitioning, then divided once. ──
  def embedCentroid(spark: SparkSession, dir: String): DataFrame =
    centroidComponents(spark, dir)
      .groupBy(col("label"))
      // output serialization: each component rounded to 6 dp, cast to
      // DECIMAL(18,6) (fixed-scale rendering — "0.500000" — identical in
      // Spark and DuckDB, unlike raw double formatting), comma-joined.
      // Top-level array columns are unhashable in the oracle harness; the
      // centroid math itself stays on arrays end-to-end.
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          s => round(s.getField("c"), 6).cast("decimal(18,6)").cast("string")),
        ",").as("centroid"))
      .orderBy("label")

  /** Each label's centroid component c at each position pos: the DECIMAL
    * sum of the label's vectors' components there, divided once. */
  private def centroidComponents(spark: SparkSession,
      dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding").cast("array<double>"))
        .as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      // divide by count(x), not count(*): averages over the vectors that
      // HAVE the position — identical for uniform-dim corpora, and the
      // sane semantic for ragged ones (the oracle counts v[i] likewise)
      .agg((sum(col("x").cast("decimal(18,9)")).cast("double") /
        count(col("x"))).as("c"))

  // ── symmetric int8 quantization: q[i] = round(v[i] · 127/max|v|) — the
  // storage-scale path for embedding corpora (4× smaller than float32,
  // dot products in integer SIMD). Pure per-row transform: no shuffle at
  // all, runs at scan speed; scale factor kept alongside for dequant. ──
  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // zero-vector guard: 127/0 is Infinity in Spark but NULL in DuckDB —
      // define scale=0 (q all zero) for the degenerate all-zeros embedding
      .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
      .withColumn("scale",
        when(col("mx") === 0.0, lit(0.0)).otherwise(lit(127.0) / col("mx")))
      .select(col("vec_id"), round(col("scale"), 6).as("scale_r"),
        // int8 codes serialized as a comma-joined string (integer→string is
        // engine-identical; arrays are unhashable in the oracle harness)
        array_join(transform(col("v"),
          x => round(x * col("scale")).cast("int").cast("string")), ",").as("q"))
      .orderBy("vec_id")

  // ── cross-corpus alignment join: for EVERY probe vector in corpus A,
  // the single nearest vector in corpus B by cosine — the batch form of
  // similarity search (pairing near-duplicate candidates across two
  // crawls, linking translated sentence embeddings, matching images to
  // captions). Corpora here are the table's even/odd halves; in
  // production they are two tables with identical schema. The probe set
  // broadcasts (model-sized); every corpus partition scores its rows
  // against all probes in one pass (a deliberate small-broadcast
  // nested-loop — there is no equi-key), and the per-probe argmax is ONE
  // hash aggregate via max(struct(cos, -id)) — lexicographic struct max =
  // highest cosine, then lowest id, deterministic with no per-probe
  // window and no second shuffle. AT SCALE: probe sets beyond broadcast
  // size chunk into broadcast-sized batches (an outer loop, same plan),
  // or swap the scorer for the IVF cell-pruned form — the aggregate
  // doesn't change. ──
  def embedAlign(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    val probes = e.filter(col("vec_id") % 2 === 0 && col("vec_id") < 100)
      .select(col("vec_id").as("p_id"), col("v").as("p_v"),
        col("norm").as("p_norm"))
    e.filter(col("vec_id") % 2 === 1)
      .crossJoin(broadcast(probes))
      .select(col("p_id"), col("vec_id"),
        (round(cosToProbe, 6) + lit(0.0d)).as("cos_sim"))
      .groupBy(col("p_id"))
      .agg(max(struct(col("cos_sim"), (-col("vec_id")).as("neg_id"))).as("m"))
      .select(col("p_id"), (-col("m.neg_id")).as("match_id"),
        col("m.cos_sim").as("cos_sim"))
      .orderBy("p_id")
  }

  // ── k-NN graph construction: each vector's top-3 neighbors within its
  // coarse cell (label) — the candidate-generation step of graph-based
  // semantic dedup and of HNSW-style index builds. Candidates are
  // CELL-BUCKETED (the same discipline as every dedup candidate
  // generator here: the self-join blows up per-cell, never corpus-wide —
  // at 100 TB cells are IVF partitions and the per-cell join is one
  // co-located task). Top-3 per node via a partitioned row_number, which
  // the TopKRewrite rule lowers to the native heap operator when the
  // extension is installed. ──
  def embedKnnGraph(spark: SparkSession, dir: String): DataFrame = {
    val e = vecs(spark, dir)
    // skew-hardened within-cell pairing (SkewPairs): the exact pair set of
    // the old `a.label = b.label` self-join, but a hot cell splits into
    // capped sub-blocks so no task exceeds ~cap² pairs. Each UNORDERED pair
    // is scored once and mirrored into both directions with a generator —
    // half the dot products of the full a×b join, one pass.
    val und = SkewPairs.pairs(e, Seq("label"), "vec_id")
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"),
        (round(DedupOps.dot(col("a.v"), col("b.v")) /
          (col("a.norm") * col("b.norm")), 6) + lit(0.0d)).as("cos_sim"))
    val directed = und.select(explode(array(
        struct(col("ia").as("src"), col("ib").as("dst"), col("cos_sim")),
        struct(col("ib").as("src"), col("ia").as("dst"), col("cos_sim"))))
        .as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"),
        col("p.cos_sim").as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(desc("cos_sim"), col("dst"))
    directed
      .withColumn("rn", row_number().over(w).cast("int"))
      .filter(col("rn") <= 3)
      .orderBy("src", "rn")
  }

  // ── centroid-distance outliers: the 5 vectors per label FARTHEST from
  // their label's centroid — the embedding-space QA op (mislabeled or
  // corrupted vectors surface first). Centroid components are exact
  // decimal means (same discipline as embed_centroid, so the oracle
  // rebuilds them bit-identically); the per-row cosine is the sequential
  // HOF fold; ranking runs on the ROUNDED score so both engines break
  // ties identically. The rank-filter form lowers to the native bounded
  // TopKPerKey under GraftExtensions (TopKRewrite) — per-partition heaps,
  // not a full sort. ──
  def embedOutlier(spark: SparkSession, dir: String): DataFrame = {
    val cent = centroidComponents(spark, dir)
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c)))," +
        " s -> s.c)").as("cv"))
      .withColumn("c_norm", sqrt(DedupOps.dot(col("cv"), col("cv"))))
    val scored = vecs(spark, dir)
      .join(broadcast(cent), "label")
      .select(col("label"), col("vec_id"),
        (round(DedupOps.dot(col("v"), col("cv")) /
          (col("norm") * col("c_norm")), 6) + lit(0.0d)).as("cos_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label")).orderBy(col("cos_sim"), col("vec_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .orderBy("label", "rn")
  }

  // ── per-dimension embedding hygiene: n / min / max / mean / std for
  // every coordinate — the "is dimension 17 dead, saturated, or
  // drifting" table read before trusting any downstream ANN or PCA.
  // Coordinates enter the moment sums as DECIMAL(18,9) (the
  // embed_centroid discipline: float→double is exact, the 9-dp decimal
  // quantization is identical on both engines, and the decimal sum is
  // order-independent), so mean/std are a single double op at the end.
  // One posexplode + one keyed aggregation, partial map-side; the
  // result is d rows regardless of corpus size. ──
  def embedDimStats(spark: SparkSession, dir: String): DataFrame = {
    val d9 = col("x").cast("decimal(18,9)")
    Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        (round(min(col("x")), 6) + lit(0.0d)).as("dim_min"),
        (round(max(col("x")), 6) + lit(0.0d)).as("dim_max"),
        sum(d9).cast("double").as("sx"),
        sum(d9 * d9).cast("double").as("sxx"))
      .select(col("pos"), col("n"), col("dim_min"), col("dim_max"),
        (round(col("sx") / col("n"), 6) + lit(0.0d)).as("dim_mean"),
        (round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) /
          (col("n") - 1)), 6) + lit(0.0d)).as("dim_std"))
      .orderBy("pos")
  }

  // ── hard-triplet mining for metric learning — the training-data step
  // that makes contrastive fine-tuning work: for each anchor, the
  // HARDEST positive (same label, LOWEST cosine — the pair the model
  // most needs pulled together) and the HARDEST negative (other label,
  // HIGHEST cosine — the pair it most needs pushed apart), plus the
  // margin and a violation flag (negative closer than positive = the
  // triplet contributes loss). Anchors are a deterministic 20-row
  // hash-ordered sample (the PqIndex-init lesson: hash order, not id
  // order, so the sample is unbiased yet replayable); the broadcast
  // anchor set makes mining ONE corpus scan of 20·N codegen'd dot
  // products — the sim_search probe shape, linear at any corpus size.
  // Argmin/argmax via (rounded-cos, id) struct extrema — total order,
  // engine-independent. ──
  def embedTripletMine(spark: SparkSession, dir: String): DataFrame =
    anchorScores(spark, dir).groupBy(col("a_id"), col("a_label"))
      .agg(
        min(when(col("label") === col("a_label"),
          struct(col("cos6"), col("vec_id")))).as("hp"),
        max(when(col("label") =!= col("a_label"),
          struct(col("cos6"), (-col("vec_id")).as("nid")))).as("hn"))
      .select(col("a_id").as("anchor_id"),
        col("a_label").as("anchor_label"),
        col("hp.vec_id").as("pos_id"), col("hp.cos6").as("pos_cos"),
        (-col("hn.nid")).as("neg_id"), col("hn.cos6").as("neg_cos"),
        (round(col("hp.cos6") - col("hn.cos6"), 6) + lit(0.0d))
          .as("margin"),
        (col("hn.cos6") > col("hp.cos6")).as("is_violation"))
      .orderBy("anchor_id")

  /** The 20 hash-sampled anchors (an unbiased yet replayable order) each
    * scored against every other vector: (a_id, a_label, vec_id, label,
    * cos6), the cosine snapped to 6 dp. The anchors broadcast, so this is
    * one corpus scan of 20·N dot products. */
  private def anchorScores(spark: SparkSession, dir: String): DataFrame = {
    val anchors = vecs(spark, dir)
      .orderBy(expr("pmod(pmod(vec_id, 2147483648) * 2654435761," +
        " 2147483648)"), col("vec_id"))
      .limit(20)
      .select(col("vec_id").as("a_id"), col("label").as("a_label"),
        col("v").as("a_v"), col("norm").as("a_norm"))
    vecs(spark, dir)
      .join(broadcast(anchors), col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("a_label"), col("vec_id"), col("label"),
        (round(DedupOps.dot(col("v"), col("a_v")) /
          (col("norm") * col("a_norm")), 6) + lit(0.0d)).as("cos6"))
  }

  // ── ANN quality harness: recall@10 / MRR / nDCG@10 of the coarse-cell
  // (same-label) ANN against the exact brute-force top-10, measured
  // over the 20 hash-sampled anchors — the evaluation loop every ANN
  // deployment needs BEFORE trusting sim_search_ann-shaped pruning
  // (PqIndexSpec pins recall in tests at one setting; this ships the
  // measurement as an operator over any corpus). One scored frame
  // (anchors broadcast, 20·N dot products) feeds BOTH rankings: the
  // exact rank is a per-anchor window over all candidates, the ANN
  // rank a window over the label-restricted subset; relevance is
  // membership in the exact top-10, and the nDCG log terms snap to the
  // 1e-9 grid before their DECIMAL sum (IDCG derived from the same
  // formula over 1..10, not a pasted constant). ──
  def evalAnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val scored = anchorScores(spark, dir)
      .withColumn("rn_ex", row_number().over(
        Window.partitionBy(col("a_id"))
          .orderBy(desc("cos6"), col("vec_id"))))
    val ap = scored.filter(col("label") === col("a_label"))
      .withColumn("rn_ap", row_number().over(
        Window.partitionBy(col("a_id"))
          .orderBy(desc("cos6"), col("vec_id"))))
      .filter(col("rn_ap") <= 10)
      .withColumn("rel", (col("rn_ex") <= 10).cast("long"))
    ap.groupBy(col("a_id"))
      .agg(count(lit(1)).as("n_returned"), sum(col("rel")).as("hits"),
        max(when(col("rel") === 1, expr("1.0D / rn_ap"))).as("mrr0"),
        sum(when(col("rel") === 1, expr(
          "CAST(round(1.0D / log2(rn_ap + 1), 9) AS DECIMAL(18,9))"))
          .otherwise(expr("CAST(0 AS DECIMAL(18,9))"))).as("dcg"))
      .withColumn("idcg", expr(
        """aggregate(sequence(1, 10), CAST(0 AS DECIMAL(18,9)),
          |  (a, i) -> CAST(a + CAST(round(1.0D / log2(i + 1), 9)
          |                 AS DECIMAL(18,9)) AS DECIMAL(18,9)))"""
          .stripMargin))
      .select(col("a_id").as("anchor_id"), col("n_returned"),
        col("hits"),
        (round(expr("cast(hits as double) / 10"), 6) + lit(0.0d))
          .as("recall_at_10"),
        (round(coalesce(col("mrr0"), lit(0.0d)), 6) + lit(0.0d))
          .as("mrr"),
        (round(expr("cast(dcg as double) / cast(idcg as double)"), 6)
          + lit(0.0d)).as("ndcg_at_10"))
      .orderBy("anchor_id")
  }

  /** Class-0 centroid score for every vector, 6-dp-pinned: the shared
    * probe-classifier input of [[evalAuc]] and [[evalCalibration]]. The
    * centroid is the nearest-class-mean "model" (components summed in
    * DECIMAL(18,9) like [[embedCentroid]] — associative, so identical in
    * both engines), broadcast as a single-row scalar; the score is the
    * cosine to it. One corpus scan, model-sized broadcast — at 100 TB the
    * scoring pass is shuffle-free. */
  /** Per-corpus memoized (round 13): the class-0 centroid build
    * (posexplode + exact-decimal means + collect) and the 6-dp cosine
    * scoring were re-run per invocation by all six consumer keys
    * (eval_auc, eval_calibration, eval_brier_decomp, eval_ece,
    * eval_roc_points, eval_lift). The centroid is an exact decimal mean
    * and the score one deterministic rounded expression, so the memoized
    * frame is bit-identical to each key's own derivation. |vectors|-row
    * (vec_id, y, cos6) metadata. */
  private def centroidScored(spark: SparkSession, dir: String): DataFrame =
    SharedCorpus.memo(spark, "centroid_scored", dir, "embeddings") {
      val e = vecs(spark, dir)
      val cent = e.filter(col("label") === 0)
        .select(posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("pos"))
        .agg((sum(col("x").cast("decimal(18,9)")).cast("double") /
          count(col("x"))).as("c"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          s => s.getField("c")).as("cv"))
        .select(col("cv"), sqrt(DedupOps.dot(col("cv"), col("cv")))
          .as("c_norm"))
      e.crossJoin(broadcast(cent))
        .select(col("vec_id"),
          when(col("label") === 0, 1L).otherwise(0L).as("y"),
          (round(DedupOps.dot(col("v"), col("cv")) /
            (col("norm") * col("c_norm")), 6) + lit(0.0d)).as("cos6"))
    }

  // ── ROC AUC + Brier score of the class-0 centroid scorer — the
  // threshold-free "is this ranking any good" metric for a probe
  // classifier over embeddings (companion to eval_nb_confusion's
  // thresholded view). AUC comes from the tie-corrected rank-sum
  // identity AUC = U₁/(n₁n₂) on the GROUPED score grid (the
  // stats_mannwhitney form: a tie group spanning ranks
  // (cumBefore, cumBefore+t] has average rank cumBefore+(t+1)/2, so no
  // per-row ranks ever materialize — the cumulative pass runs over ≤
  // |distinct 6-dp scores| rows). Brier uses p=(cos6+1)/2 min-max-mapped
  // to [0,1]; the numerator Σ(cos6+1−2y)² is exact DECIMAL (cos6 is
  // 6 dp), divided once by 4N in double. One scan + a grid-sized
  // window. ──
  def evalAuc(spark: SparkSession, dir: String): DataFrame = {
    val s = centroidScored(spark, dir)
    val g = s.groupBy(col("cos6"))
      .agg(sum(col("y")).as("a"), sum(lit(1L) - col("y")).as("b"),
        sum(expr("CAST((CAST(cos6 AS DECIMAL(9,6)) + 1 - 2 * y)" +
          " * (CAST(cos6 AS DECIMAL(9,6)) + 1 - 2 * y)" +
          " AS DECIMAL(28,12))")).as("bn"))
      .withColumn("t", col("a") + col("b"))
    val byScore = Window.orderBy(col("cos6"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = g.withColumn("cum_before",
      coalesce(sum(col("t")).over(byScore), lit(0L)))
    val tot = g.agg(sum(col("a")).as("n_pos"), sum(col("b")).as("n_neg"),
      sum(col("bn")).as("brier_num"))
    ranked.crossJoin(broadcast(tot))
      .groupBy(col("n_pos"), col("n_neg"), col("brier_num"))
      .agg(sum(col("a").cast("double") *
        (col("cum_before") + (col("t") + 1).cast("double") / 2)).as("r1"))
      .withColumn("u1", col("r1") -
        col("n_pos").cast("double") * (col("n_pos") + 1) / 2)
      .withColumn("auc0",
        col("u1") / (col("n_pos").cast("double") * col("n_neg")))
      .select(col("n_pos"), col("n_neg"), r6(col("u1")).as("u_stat"),
        r6(col("auc0")).as("auc"),
        r6(col("auc0") * 2 - 1).as("gini"),
        r6(expr("cast(brier_num as double)" +
          " / (4 * (n_pos + n_neg))")).as("brier"))
  }

  // ── reliability table for the same scorer: 10 equal-width bins over
  // the min-max probability p=(cos6+1)/2, mean predicted vs observed
  // positive rate per bin — WHERE the scorer is over/under-confident,
  // which eval_auc's single number can't show. Bin assignment is pure
  // integer arithmetic on the 6-dp score (micro-units, `div` — no float
  // boundary can disagree between engines); per-bin means divide exact
  // integer/decimal sums once. Group-sized output. ──
  def evalCalibration(spark: SparkSession, dir: String): DataFrame =
    calibrationBins(spark, dir)
      .select(col("bin"), col("n"), col("n_pos"),
        r6(expr("cast(psum_micro as double) / (2000000 * n)"))
          .as("avg_p"),
        r6(expr("cast(n_pos as double) / n")).as("frac_pos"),
        r6(expr("cast(psum_micro as double) / (2000000 * n)" +
          " - cast(n_pos as double) / n")).as("gap"))
      .orderBy("bin")


  /** [[centroidScored]] with the 6-dp score in micro-units m and its
    * bin of 0.2 in [-1, 1] (the top bin closed): integer arithmetic, so
    * no float boundary can disagree between engines. */
  private def scoreBins(spark: SparkSession, dir: String): DataFrame =
    centroidScored(spark, dir)
      .withColumn("m",
        expr("CAST(CAST(cos6 AS DECIMAL(9,6)) * 1000000 AS BIGINT)"))
      .withColumn("bin",
        least(expr("(m + 1000000) div 200000"), lit(9L)))

  /** The eval_calibration 10-bin frame as a reusable input: per-bin
    * count / positives / exact micro-unit probability sum. Integer bin
    * assignment on the 6-dp score — shared by [[evalBrierDecomp]] and
    * [[evalEce]] so all three calibration reads bin identically. */
  private def calibrationBins(spark: SparkSession, dir: String): DataFrame =
    scoreBins(spark, dir)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
        sum(col("m") + 1000000L).as("psum_micro"))

  // ── Murphy decomposition of the binned scorer's Brier score:
  // reliability (how far each bin's mean prediction sits from its
  // observed rate — calibration error proper), resolution (how much the
  // bins separate the base rate — discriminative power), uncertainty
  // (the base rate's own variance, the no-skill floor), with
  // brier_binned = rel − res + unc by the exact identity. eval_auc's
  // single Brier number can't say WHY it is bad; this splits it into
  // the part recalibration can fix (reliability) and the part only a
  // better model can (resolution). All bin statistics are ratios of
  // exact integers; the two cross-bin sums are 9-dp-snapped DECIMALs so
  // summation order can't leak in. Group-sized (10 bins) after one
  // corpus scan. ──
  def evalBrierDecomp(spark: SparkSession, dir: String): DataFrame = {
    val b = calibrationBins(spark, dir)
      .withColumn("pbar", expr("cast(psum_micro as double) / (2000000 * n)"))
      .withColumn("ybar", expr("cast(n_pos as double) / n"))
    val tot = b.agg(sum(col("n")).as("nt"), sum(col("n_pos")).as("npt"))
    b.crossJoin(broadcast(tot))
      .withColumn("ybar_g", expr("cast(npt as double) / nt"))
      .withColumn("rel_t", expr(
        "CAST(round(n * (pbar - ybar) * (pbar - ybar), 9)" +
          " AS DECIMAL(28,9))"))
      .withColumn("res_t", expr(
        "CAST(round(n * (ybar - ybar_g) * (ybar - ybar_g), 9)" +
          " AS DECIMAL(28,9))"))
      .groupBy(col("nt"), col("npt"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("rel_t")).as("rel_s"), sum(col("res_t")).as("res_s"))
      .select(col("n_bins"), col("nt").as("n"),
        r6(expr("cast(rel_s as double) / nt")).as("reliability"),
        r6(expr("cast(res_s as double) / nt")).as("resolution"),
        r6(expr("(cast(npt as double) / nt)" +
          " * (1.0 - cast(npt as double) / nt)")).as("uncertainty"),
        r6(expr("(cast(rel_s as double) - cast(res_s as double)) / nt" +
          " + (cast(npt as double) / nt)" +
          " * (1.0 - cast(npt as double) / nt)")).as("brier_binned"))
  }

  // ── expected / maximum calibration error over the same 10 bins: ECE
  // is the n-weighted mean |gap|, MCE the worst bin — the two numbers a
  // model card quotes where eval_calibration prints the whole table.
  // Same discipline: per-bin gaps are doubles derived from exact
  // integers (token-identical across engines), the weighted sum is
  // 9-dp-snapped DECIMAL. ──
  def evalEce(spark: SparkSession, dir: String): DataFrame = {
    val b = calibrationBins(spark, dir)
      .withColumn("pbar", expr("cast(psum_micro as double) / (2000000 * n)"))
      .withColumn("ybar", expr("cast(n_pos as double) / n"))
      .withColumn("ece_t", expr(
        "CAST(round(n * abs(pbar - ybar), 9) AS DECIMAL(28,9))"))
    val tot = b.agg(sum(col("n")).as("nt"))
    b.crossJoin(broadcast(tot))
      .groupBy(col("nt"))
      .agg(count(lit(1)).as("n_bins"), sum(col("ece_t")).as("ece_s"),
        max(expr("abs(pbar - ybar)")).as("mx"))
      .select(col("n_bins"), col("nt").as("n"),
        r6(expr("cast(ece_s as double) / nt")).as("ece"),
        r6(col("mx")).as("mce"))
  }

  // ── ROC operating points at the 10 calibration-bin thresholds: the
  // (FPR, TPR, precision, F1) table behind eval_auc's single number —
  // which THRESHOLD a deployment should actually pick. Confusion
  // counts at every threshold come from ONE cumulative pass over the
  // eval_calibration micro-unit bins (a per-threshold re-scan would be
  // 10 corpus passes); threshold membership is integer arithmetic on
  // the 6-dp score, so the counts are engine-exact. ──
  def evalRocPoints(spark: SparkSession, dir: String): DataFrame = {
    val binned = scoreBins(spark, dir)
      .groupBy(col("bin"))
      .agg(sum(col("y")).as("p"), sum(lit(1L) - col("y")).as("q"))
    // cumulative from the TOP bin down: predictions at threshold b are
    // "positive iff bin >= b"
    val byBinDesc = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = binned
      .withColumn("tp", sum(col("p")).over(byBinDesc))
      .withColumn("fp", sum(col("q")).over(byBinDesc))
    val tot = binned.agg(sum(col("p")).as("np"), sum(col("q")).as("nq"))
    cum.crossJoin(broadcast(tot))
      .select(col("bin").as("threshold_bin"), col("tp"), col("fp"),
        (col("np") - col("tp")).as("fn"),
        r6(expr("cast(tp as double) / np")).as("tpr"),
        r6(expr("cast(fp as double) / nq")).as("fpr"),
        r6(expr("cast(tp as double) / (tp + fp)")).as("precision"),
        r6(expr("cast(2 * tp as double) / (2 * tp + fp + (np - tp))"))
          .as("f1"))
      .orderBy(col("threshold_bin").desc)
  }

  // ── cumulative gains / lift by score decile — the campaign-targeting
  // read of the same scorer: if you action the top k/10 of the corpus
  // by score, what share of all positives do you capture, and at what
  // multiple of random? NO global row rank: the corpus reduces to the
  // 6-dp score GRID first (map-side combine), each grid row spans an
  // exact integer rank range, and a tie group straddling a decile
  // boundary attributes its positives PRO-RATA (the unordered-tie
  // semantics — a per-row rank would attribute them by arbitrary id).
  // Decile boundaries are the explicit ((r−1)·10) div n fences; only
  // grid-sized windows run. ──
  def evalLift(spark: SparkSession, dir: String): DataFrame = {
    val g = centroidScored(spark, dir)
      .groupBy(col("cos6"))
      .agg(count(lit(1)).as("t"), sum(col("y")).as("p"))
    val byScore = Window.orderBy(col("cos6").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val spans = g
      .withColumn("lo", coalesce(sum(col("t")).over(byScore), lit(0L)) + 1)
      .withColumn("hi",
        coalesce(sum(col("t")).over(byScore), lit(0L)) + col("t"))
    val tot = g.agg(sum(col("t")).as("n"), sum(col("p")).as("np"))
    val alloc = spans.crossJoin(broadcast(tot))
      .select(col("t"), col("p"), col("lo"), col("hi"), col("n"),
        col("np"), explode(expr("sequence(1L, 10L)")).as("d"))
      .withColumn("dlo", expr("((d - 1) * n + 9) div 10 + 1"))
      .withColumn("dhi", expr("(d * n - 1) div 10 + 1"))
      .withColumn("ov", expr(
        "greatest(0L, least(hi, dhi) - greatest(lo, dlo) + 1)"))
      .filter(col("ov") > 0)
    alloc.groupBy(col("d"))
      .agg(sum(col("ov")).as("n_rows"),
        sum(expr("CAST(round(p * (cast(ov as double) / t), 9)" +
          " AS DECIMAL(28,9))")).as("pos"),
        first(col("n")).as("n"), first(col("np")).as("np"))
      .withColumn("cum_pos", sum(col("pos")).over(
        Window.orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cum_rows", sum(col("n_rows")).over(
        Window.orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("d").as("decile"), col("n_rows"),
        r6(expr("cast(pos as double)")).as("n_pos"),
        r6(expr("cast(cum_pos as double) / np")).as("gain"),
        r6(expr("(cast(cum_pos as double) / np)" +
          " / (cast(cum_rows as double) / n)")).as("lift"))
      .orderBy("decile")
  }

  /** Top-5 cosine neighbor frame for the kNN-classifier keys: the 20
    * hash-sampled anchors (eval_ann_recall's unbiased-order device)
    * scored against every other vector, ranked per anchor by the
    * (cos6 desc, vec_id) total order and cut at 5. One broadcast-probe
    * corpus scan feeds both the k=5 classifier and the k-sweep. */
  private def knnRanked(spark: SparkSession, dir: String): DataFrame = {
    anchorScores(spark, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("a_id"))
          .orderBy(desc("cos6"), col("vec_id"))))
      .filter(col("rn") <= 5)
  }

  // ── 5-NN majority-vote classification of the hash-sampled anchors —
  // the non-parametric label predictor every embedding store supports
  // for free (text_nb_lang learns a model; this just asks the
  // neighbors). Vote argmax is fully ordered (count desc, nearest rank,
  // label), so ties can't flap between engines. The scan is the
  // sim_search shape: anchors broadcast, per-partition top-k, nothing
  // corpus-sized shuffles — per-probe cost is one pass at any corpus
  // size. ──
  def embedKnnClassify(spark: SparkSession, dir: String): DataFrame = {
    val votes = knnRanked(spark, dir)
      .groupBy(col("a_id"), col("a_label"), col("label"))
      .agg(count(lit(1)).as("c"), min(col("rn")).as("best"))
    votes
      .withColumn("pick", row_number().over(
        Window.partitionBy(col("a_id"))
          .orderBy(desc("c"), col("best"), col("label"))))
      .filter(col("pick") === 1)
      .select(col("a_id").as("anchor_id"), col("a_label").as("true_label"),
        col("label").as("pred_label"), col("c").as("n_votes"),
        (col("label") === col("a_label")).as("correct"))
      .orderBy("anchor_id")
  }

  // ── k-sweep of the same classifier (k ∈ {1, 3, 5}): accuracy as a
  // function of neighborhood size — the one-table answer to "which k
  // should the deployment pin". Reuses the SAME ranked frame (the sweep
  // costs three group-sized aggregations, not three corpus scans). ──
  def evalKnnSweep(spark: SparkSession, dir: String): DataFrame = {
    val preds = knnRanked(spark, dir)
      .select(col("a_id"), col("a_label"), col("label"), col("rn"),
        explode(expr("array(1, 3, 5)")).as("k"))
      .filter(col("rn") <= col("k"))
      .groupBy(col("k"), col("a_id"), col("a_label"), col("label"))
      .agg(count(lit(1)).as("c"), min(col("rn")).as("best"))
      .withColumn("pick", row_number().over(
        Window.partitionBy(col("k"), col("a_id"))
          .orderBy(desc("c"), col("best"), col("label"))))
      .filter(col("pick") === 1)
    preds.groupBy(col("k").cast("long").as("k"))
      .agg(count(lit(1)).as("n_anchors"),
        sum((col("label") === col("a_label")).cast("long"))
          .as("n_correct"))
      .withColumn("accuracy",
        r6(expr("cast(n_correct as double) / n_anchors")))
      .orderBy("k")
  }

  /** Oracle CTEs mirroring [[anchorScores]]: the vectors `e`, the 20
    * hash-ordered anchors `a` and `sc(a_id, a_label, vec_id, label,
    * cos6)`, each anchor's 6-dp cosine to every other vector.
    * Comma-terminated. */
  private val duckAnchorScores: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |a AS (SELECT vec_id AS a_id, label AS a_label, v AS a_v FROM e
      |      ORDER BY (vec_id % 2147483648) * 2654435761 % 2147483648,
      |        vec_id
      |      LIMIT 20),
      |sc AS (SELECT a.a_id, a.a_label, e.vec_id, e.label,
      |    round(list_cosine_similarity(e.v, a.a_v), 6) + 0.0 AS cos6
      |  FROM e, a WHERE e.vec_id <> a.a_id),
      |""".stripMargin

  /** Oracle CTE block mirroring [[knnRanked]]: [[duckAnchorScores]], rank
    * cut at 5. Ends at `top5(a_id, a_label, vec_id, label, cos6, rn)`,
    * comma-terminated. */
  private val duckKnnTop5: String = duckAnchorScores +
    """rk AS (SELECT *, row_number() OVER (PARTITION BY a_id
      |        ORDER BY cos6 DESC, vec_id) AS rn FROM sc),
      |top5 AS (SELECT * FROM rk WHERE rn <= 5),
      |""".stripMargin

  /** Shared oracle prelude for the centroid-probe classifier keys: 6-dp
    * class-0 centroid cosine + binary truth, mirroring
    * [[centroidScored]]. */
  private val duckCentroidScored: String =
    """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |ce AS (SELECT generate_subscripts(v, 1) AS pos, unnest(v) AS x
      |       FROM e WHERE label = 0),
      |cp AS (SELECT pos,
      |         CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / count(x)
      |           AS c
      |       FROM ce GROUP BY 1),
      |cv AS (SELECT list(c ORDER BY pos) AS cv FROM cp),
      |sc AS (SELECT e.vec_id,
      |         CASE WHEN e.label = 0 THEN 1 ELSE 0 END AS y,
      |         round(list_cosine_similarity(e.v, cv.cv), 6) + 0.0 AS cos6
      |       FROM e, cv),
      |""".stripMargin

  /** Oracle CTEs mirroring [[centroidComponents]] over vectors
    * `e(label, v)`: each label's centroid component `comp(label, pos,
    * c)`. Ends at its closing parenthesis. */
  private val duckCentroidComponents: String =
    """ex AS (SELECT label, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x FROM e),
      |comp AS (
      |  SELECT label, pos,
      |    CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / count(x) AS c
      |  FROM ex GROUP BY label, pos)""".stripMargin

  /** [[duckCentroidScored]] plus the eval_calibration bins: `mb(y, m)`,
    * the score in micro-units, and `bb(bin, y, m)`. Ends at `FROM mb)`. */
  private val duckScoreBins: String = duckCentroidScored +
    """mb AS (SELECT y,
      |         CAST(CAST(cos6 AS DECIMAL(9,6)) * 1000000 AS BIGINT)
      |           AS m
      |       FROM sc),
      |bb AS (SELECT least((m + 1000000) // 200000, 9) AS bin, y, m
      |       FROM mb)""".stripMargin

  /** [[duckScoreBins]] aggregated to `g(bin, n, n_pos, psum)`, mirroring
    * [[calibrationBins]]. Comma-terminated. */
  private val duckCalibrationBins: String = duckScoreBins +
    """,
      |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(y) AS BIGINT) AS n_pos,
      |        CAST(sum(m + 1000000) AS BIGINT) AS psum
      |      FROM bb GROUP BY 1),
      |""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("eval_roc_points", evalRocPoints, Some(duckCentroidScored +
      """mb AS (SELECT y,
        |         least((CAST(CAST(cos6 AS DECIMAL(9,6)) * 1000000
        |           AS BIGINT) + 1000000) // 200000, 9) AS bin
        |       FROM sc),
        |b AS (SELECT bin, CAST(sum(y) AS BIGINT) AS p,
        |        CAST(sum(1 - y) AS BIGINT) AS q
        |      FROM mb GROUP BY 1),
        |c AS (SELECT *,
        |        sum(p) OVER (ORDER BY bin DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS tp,
        |        sum(q) OVER (ORDER BY bin DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS fp
        |      FROM b),
        |tot AS (SELECT CAST(sum(p) AS BIGINT) AS np,
        |          CAST(sum(q) AS BIGINT) AS nq FROM b)
        |SELECT bin AS threshold_bin, CAST(tp AS BIGINT) AS tp,
        |  CAST(fp AS BIGINT) AS fp, CAST(np - tp AS BIGINT) AS fn,
        |  round(CAST(tp AS DOUBLE) / np, 6) + 0.0 AS tpr,
        |  round(CAST(fp AS DOUBLE) / nq, 6) + 0.0 AS fpr,
        |  round(CAST(tp AS DOUBLE) / (tp + fp), 6) + 0.0 AS precision,
        |  round(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + (np - tp)), 6)
        |    + 0.0 AS f1
        |FROM c, tot ORDER BY threshold_bin DESC""".stripMargin)),
    Key("eval_lift", evalLift, Some(duckCentroidScored +
      """g AS (SELECT cos6, CAST(count(*) AS BIGINT) AS t,
        |        CAST(sum(y) AS BIGINT) AS p
        |      FROM sc GROUP BY 1),
        |sp AS (SELECT *,
        |        COALESCE(sum(t) OVER (ORDER BY cos6 DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          + 1 AS lo,
        |        COALESCE(sum(t) OVER (ORDER BY cos6 DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          + t AS hi
        |      FROM g),
        |tot AS (SELECT CAST(sum(t) AS BIGINT) AS n,
        |          CAST(sum(p) AS BIGINT) AS np FROM g),
        |al AS (SELECT sp.t, sp.p, sp.lo, sp.hi, tot.n, tot.np,
        |         dd.d,
        |         ((dd.d - 1) * tot.n + 9) // 10 + 1 AS dlo,
        |         (dd.d * tot.n - 1) // 10 + 1 AS dhi
        |       FROM sp, tot,
        |         (SELECT unnest(range(1, 11)) AS d) dd),
        |ov AS (SELECT *, greatest(0, least(hi, dhi)
        |         - greatest(lo, dlo) + 1) AS ov
        |       FROM al),
        |ag AS (SELECT d, CAST(sum(ov) AS BIGINT) AS n_rows,
        |         sum(CAST(round(p * (CAST(ov AS DOUBLE) / t), 9)
        |             AS DECIMAL(28,9))) AS pos,
        |         CAST(max(n) AS BIGINT) AS n,
        |         CAST(max(np) AS BIGINT) AS np
        |       FROM ov WHERE ov > 0 GROUP BY 1),
        |c AS (SELECT *,
        |        sum(pos) OVER (ORDER BY d
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cum_pos,
        |        sum(n_rows) OVER (ORDER BY d
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS cum_rows
        |      FROM ag)
        |SELECT CAST(d AS BIGINT) AS decile, n_rows,
        |  round(CAST(pos AS DOUBLE), 6) + 0.0 AS n_pos,
        |  round(CAST(cum_pos AS DOUBLE) / np, 6) + 0.0 AS gain,
        |  round((CAST(cum_pos AS DOUBLE) / np)
        |    / (CAST(cum_rows AS DOUBLE) / n), 6) + 0.0 AS lift
        |FROM c ORDER BY decile""".stripMargin)),
    Key("eval_auc", evalAuc, Some(duckCentroidScored +
      """g AS (SELECT cos6, CAST(sum(y) AS BIGINT) AS a,
        |        CAST(sum(1 - y) AS BIGINT) AS b,
        |        sum(CAST((CAST(cos6 AS DECIMAL(9,6)) + 1 - 2 * y)
        |            * (CAST(cos6 AS DECIMAL(9,6)) + 1 - 2 * y)
        |            AS DECIMAL(28,12))) AS bn
        |      FROM sc GROUP BY 1),
        |gt AS (SELECT *, a + b AS t FROM g),
        |r AS (SELECT *, COALESCE(sum(t) OVER (ORDER BY cos6
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |        AS cum_before
        |      FROM gt),
        |tot AS (SELECT CAST(sum(a) AS BIGINT) AS n_pos,
        |          CAST(sum(b) AS BIGINT) AS n_neg,
        |          sum(bn) AS brier_num FROM gt),
        |agg AS (SELECT n_pos, n_neg, brier_num,
        |          sum(CAST(a AS DOUBLE) *
        |              (cum_before + CAST(t + 1 AS DOUBLE) / 2)) AS r1
        |        FROM r, tot GROUP BY 1, 2, 3),
        |u AS (SELECT n_pos, n_neg, brier_num,
        |        r1 - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2 AS u1,
        |        (r1 - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2)
        |          / (CAST(n_pos AS DOUBLE) * n_neg) AS auc0
        |      FROM agg)
        |SELECT n_pos, n_neg, round(u1, 6) + 0.0 AS u_stat,
        |  round(auc0, 6) + 0.0 AS auc,
        |  round(auc0 * 2 - 1, 6) + 0.0 AS gini,
        |  round(CAST(brier_num AS DOUBLE) / (4 * (n_pos + n_neg)), 6)
        |    + 0.0 AS brier
        |FROM u""".stripMargin)),
    Key("eval_calibration", evalCalibration, Some(duckScoreBins + """
        |SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(y) AS BIGINT) AS n_pos,
        |  round(CAST(sum(m + 1000000) AS DOUBLE) / (2000000 * count(*)),
        |    6) + 0.0 AS avg_p,
        |  round(CAST(sum(y) AS DOUBLE) / count(*), 6) + 0.0 AS frac_pos,
        |  round(CAST(sum(m + 1000000) AS DOUBLE) / (2000000 * count(*))
        |    - CAST(sum(y) AS DOUBLE) / count(*), 6) + 0.0 AS gap
        |FROM bb GROUP BY 1 ORDER BY 1""".stripMargin)),
    Key("eval_brier_decomp", evalBrierDecomp, Some(duckCalibrationBins +
      """        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
        |        CAST(sum(n_pos) AS BIGINT) AS npt FROM g),
        |d AS (SELECT g.*, t.nt, t.npt,
        |        CAST(psum AS DOUBLE) / (2000000 * n) AS pbar,
        |        CAST(n_pos AS DOUBLE) / n AS ybar,
        |        CAST(npt AS DOUBLE) / nt AS ybar_g
        |      FROM g, t),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_bins,
        |        CAST(max(nt) AS BIGINT) AS nt,
        |        CAST(max(npt) AS BIGINT) AS npt,
        |        sum(CAST(round(n * (pbar - ybar) * (pbar - ybar), 9)
        |            AS DECIMAL(28,9))) AS rel_s,
        |        sum(CAST(round(n * (ybar - ybar_g) * (ybar - ybar_g), 9)
        |            AS DECIMAL(28,9))) AS res_s
        |      FROM d)
        |SELECT n_bins, nt AS n,
        |  round(CAST(rel_s AS DOUBLE) / nt, 6) + 0.0 AS reliability,
        |  round(CAST(res_s AS DOUBLE) / nt, 6) + 0.0 AS resolution,
        |  round((CAST(npt AS DOUBLE) / nt)
        |    * (1.0 - CAST(npt AS DOUBLE) / nt), 6) + 0.0 AS uncertainty,
        |  round((CAST(rel_s AS DOUBLE) - CAST(res_s AS DOUBLE)) / nt
        |    + (CAST(npt AS DOUBLE) / nt)
        |    * (1.0 - CAST(npt AS DOUBLE) / nt), 6) + 0.0 AS brier_binned
        |FROM s""".stripMargin)),
    Key("eval_ece", evalEce, Some(duckCalibrationBins +
      """        |d AS (SELECT bin, n,
        |        CAST(psum AS DOUBLE) / (2000000 * n) AS pbar,
        |        CAST(n_pos AS DOUBLE) / n AS ybar
        |      FROM g),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_bins,
        |        CAST(sum(n) AS BIGINT) AS nt,
        |        sum(CAST(round(n * abs(pbar - ybar), 9)
        |            AS DECIMAL(28,9))) AS ece_s,
        |        max(abs(pbar - ybar)) AS mx
        |      FROM d)
        |SELECT n_bins, nt AS n,
        |  round(CAST(ece_s AS DOUBLE) / nt, 6) + 0.0 AS ece,
        |  round(mx, 6) + 0.0 AS mce
        |FROM s""".stripMargin)),
    Key("embed_knn_classify", embedKnnClassify, Some(duckKnnTop5 +
      """v AS (SELECT a_id, a_label, label, CAST(count(*) AS BIGINT) AS c,
        |        min(rn) AS best
        |      FROM top5 GROUP BY 1, 2, 3),
        |p AS (SELECT *, row_number() OVER (PARTITION BY a_id
        |        ORDER BY c DESC, best, label) AS pick
        |      FROM v)
        |SELECT a_id AS anchor_id, a_label AS true_label,
        |  label AS pred_label, c AS n_votes, label = a_label AS correct
        |FROM p WHERE pick = 1 ORDER BY anchor_id""".stripMargin)),
    Key("eval_knn_sweep", evalKnnSweep, Some(duckKnnTop5 +
      """ks AS (SELECT unnest([1, 3, 5]) AS k),
        |f AS (SELECT ks.k, t.a_id, t.a_label, t.label, t.rn
        |      FROM top5 t, ks WHERE t.rn <= ks.k),
        |v AS (SELECT k, a_id, a_label, label, count(*) AS c,
        |        min(rn) AS best
        |      FROM f GROUP BY 1, 2, 3, 4),
        |p AS (SELECT *, row_number() OVER (PARTITION BY k, a_id
        |        ORDER BY c DESC, best, label) AS pick
        |      FROM v),
        |w AS (SELECT CAST(k AS BIGINT) AS k,
        |        CAST(count(*) AS BIGINT) AS n_anchors,
        |        CAST(sum(CASE WHEN label = a_label THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_correct
        |      FROM p WHERE pick = 1 GROUP BY 1)
        |SELECT k, n_anchors, n_correct,
        |  round(CAST(n_correct AS DOUBLE) / n_anchors, 6) + 0.0
        |    AS accuracy
        |FROM w ORDER BY k""".stripMargin)),
    Key("eval_ann_recall", evalAnnRecall, Some(duckAnchorScores +
      """        |ex AS (SELECT *, row_number() OVER (PARTITION BY a_id
        |        ORDER BY cos6 DESC, vec_id) AS rn_ex FROM sc),
        |ap AS (SELECT *, row_number() OVER (PARTITION BY a_id
        |        ORDER BY cos6 DESC, vec_id) AS rn_ap
        |       FROM ex WHERE label = a_label),
        |k AS (SELECT a_id, rn_ap,
        |    CAST(CASE WHEN rn_ex <= 10 THEN 1 ELSE 0 END AS BIGINT)
        |      AS rel
        |  FROM ap WHERE rn_ap <= 10),
        |g AS (SELECT a_id, CAST(count(*) AS BIGINT) AS n_returned,
        |    CAST(sum(rel) AS BIGINT) AS hits,
        |    max(CASE WHEN rel = 1 THEN CAST(1 AS DOUBLE) / rn_ap END)
        |      AS mrr0,
        |    sum(CASE WHEN rel = 1
        |        THEN CAST(round(CAST(1 AS DOUBLE) / log2(rn_ap + 1), 9)
        |             AS DECIMAL(18,9))
        |        ELSE CAST(0 AS DECIMAL(18,9)) END) AS dcg
        |  FROM k GROUP BY 1),
        |i AS (SELECT CAST(sum(CAST(round(CAST(1 AS DOUBLE) / log2(x + 1), 9)
        |        AS DECIMAL(18,9))) AS DECIMAL(18,9)) AS idcg
        |      FROM (SELECT unnest(range(1, 11)) AS x))
        |SELECT a_id AS anchor_id, n_returned, hits,
        |  round(CAST(hits AS DOUBLE) / 10, 6) + 0.0 AS recall_at_10,
        |  round(COALESCE(mrr0, 0.0), 6) + 0.0 AS mrr,
        |  round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 6) + 0.0
        |    AS ndcg_at_10
        |FROM g CROSS JOIN i ORDER BY anchor_id""".stripMargin)),
    Key("embed_triplet_mine", embedTripletMine, Some(duckAnchorScores +
      """        |hp AS (SELECT a_id, vec_id AS pos_id, cos6 AS pos_cos,
        |    row_number() OVER (PARTITION BY a_id ORDER BY cos6, vec_id)
        |      AS rn
        |  FROM sc WHERE label = a_label),
        |hn AS (SELECT a_id, vec_id AS neg_id, cos6 AS neg_cos,
        |    row_number() OVER (PARTITION BY a_id
        |      ORDER BY cos6 DESC, vec_id) AS rn
        |  FROM sc WHERE label <> a_label)
        |SELECT a.a_id AS anchor_id, a.a_label AS anchor_label,
        |  hp.pos_id, hp.pos_cos, hn.neg_id, hn.neg_cos,
        |  round(hp.pos_cos - hn.neg_cos, 6) + 0.0 AS margin,
        |  hn.neg_cos > hp.pos_cos AS is_violation
        |FROM a
        |LEFT JOIN hp ON hp.a_id = a.a_id AND hp.rn = 1
        |LEFT JOIN hn ON hn.a_id = a.a_id AND hn.rn = 1
        |ORDER BY anchor_id""".stripMargin)),
    Key("embed_dim_stats", embedDimStats, Some(
      """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |ex AS (SELECT CAST(generate_subscripts(v, 1) - 1 AS INTEGER)
        |         AS pos, unnest(v) AS x FROM e),
        |m AS (SELECT pos, count(*) AS n,
        |    round(min(x), 6) + 0.0 AS dim_min,
        |    round(max(x), 6) + 0.0 AS dim_max,
        |    CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(x AS DECIMAL(18,9)) * CAST(x AS DECIMAL(18,9)))
        |         AS DOUBLE) AS sxx
        |  FROM ex GROUP BY 1)
        |SELECT pos, n, dim_min, dim_max,
        |  round(sx / n, 6) + 0.0 AS dim_mean,
        |  round(sqrt((sxx - sx * sx / n) / (n - 1)), 6) + 0.0 AS dim_std
        |FROM m ORDER BY pos""".stripMargin)),
    Key("embed_outlier", embedOutlier, Some(
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |""".stripMargin + duckCentroidComponents + """,
        |cent AS (SELECT label, list(c ORDER BY pos) AS cv FROM comp GROUP BY label),
        |s AS (SELECT e.label, e.vec_id,
        |        round(list_cosine_similarity(e.v, cent.cv), 6) + 0.0 AS cos_sim
        |      FROM e JOIN cent USING (label)),
        |r AS (SELECT *, CAST(row_number() OVER (
        |        PARTITION BY label ORDER BY cos_sim, vec_id) AS INTEGER) AS rn
        |      FROM s)
        |SELECT label, vec_id, cos_sim, rn FROM r WHERE rn <= 5
        |ORDER BY label, rn""".stripMargin)),
    Key("embed_knn_graph", embedKnnGraph, Some(
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT a.vec_id AS src, b.vec_id AS dst,
        |        round(list_cosine_similarity(a.v, b.v), 6) + 0.0 AS cos_sim
        |      FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id),
        |r AS (SELECT *, CAST(row_number() OVER (
        |        PARTITION BY src ORDER BY cos_sim DESC, dst) AS INTEGER) AS rn
        |      FROM s)
        |SELECT src, dst, cos_sim, rn FROM r WHERE rn <= 3
        |ORDER BY src, rn""".stripMargin)),
    Key("embed_align", embedAlign, Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT vec_id AS p_id, v AS p_v FROM e
        |      WHERE vec_id % 2 = 0 AND vec_id < 100),
        |s AS (SELECT p_id, c.vec_id,
        |        round(list_cosine_similarity(c.v, p.p_v), 6) + 0.0 AS cos_sim
        |      FROM (SELECT * FROM e WHERE vec_id % 2 = 1) c, p),
        |r AS (SELECT *, row_number() OVER (PARTITION BY p_id
        |        ORDER BY cos_sim DESC, vec_id) AS rn FROM s)
        |SELECT p_id, vec_id AS match_id, cos_sim FROM r WHERE rn = 1
        |ORDER BY p_id""".stripMargin)),
    // posexplode twin: generate_subscripts(v, 1) unnests in lockstep with
    // unnest(v) (the Postgres-style parallel unnest), so the oracle tracks
    // the ACTUAL vector length instead of hardcoding the fixture dimension
    Key("embed_centroid", embedCentroid, Some(
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |""".stripMargin + duckCentroidComponents + """
        |SELECT label,
        |  array_to_string(list(CAST(CAST(round(c, 6) AS DECIMAL(18,6)) AS VARCHAR) ORDER BY pos), ',') AS centroid
        |FROM comp GROUP BY label ORDER BY label""".stripMargin)),
    Key("embed_quantize", embedQuantize, Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        CASE WHEN list_aggregate(list_transform(v, x -> abs(x)), 'max') = 0.0
        |             THEN 0.0
        |             ELSE 127.0 / list_aggregate(list_transform(v, x -> abs(x)), 'max')
        |        END AS scale
        |      FROM e)
        |SELECT vec_id, round(scale, 6) AS scale_r,
        |  array_to_string(list_transform(v, x -> CAST(CAST(round(x * scale) AS INTEGER) AS VARCHAR)), ',') AS q
        |FROM s ORDER BY vec_id""".stripMargin)),
    Key("sim_search", simSearch, Some(
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT vec_id AS p_id, v AS p_v FROM e WHERE vec_id = 0)
        |SELECT e.vec_id, e.label, round(list_cosine_similarity(e.v, p.p_v), 6) + 0.0 AS cos_sim
        |FROM e, p WHERE e.vec_id <> p.p_id
        |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin)),
    Key("sim_search_ann", simSearchAnn, Some(
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (SELECT vec_id AS p_id, label AS p_label, v AS p_v FROM e WHERE vec_id = 0)
        |SELECT e.vec_id, e.label, round(list_cosine_similarity(e.v, p.p_v), 6) + 0.0 AS cos_sim
        |FROM e, p WHERE e.label = p.p_label AND e.vec_id <> p.p_id
        |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin)),
    // the hyperplanes are rebuilt from the same integer recipe as
    // planeLit: ((p*131 + d) * 2654435761) % 1000 / 500.0 - 1.0
    Key("sim_search_lsh", simSearchLsh, Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |b AS (SELECT vec_id, v,
        |    (CASE WHEN list_dot_product(v, [((0*131 + d) * 2654435761) % 1000 / 500.0 - 1.0 FOR d IN range(0, 64)]) > 0 THEN 1 ELSE 0 END)
        |  + (CASE WHEN list_dot_product(v, [((1*131 + d) * 2654435761) % 1000 / 500.0 - 1.0 FOR d IN range(0, 64)]) > 0 THEN 2 ELSE 0 END)
        |  + (CASE WHEN list_dot_product(v, [((2*131 + d) * 2654435761) % 1000 / 500.0 - 1.0 FOR d IN range(0, 64)]) > 0 THEN 4 ELSE 0 END)
        |  + (CASE WHEN list_dot_product(v, [((3*131 + d) * 2654435761) % 1000 / 500.0 - 1.0 FOR d IN range(0, 64)]) > 0 THEN 8 ELSE 0 END)
        |  AS bucket FROM e),
        |p AS (SELECT vec_id AS p_id, v AS p_v, bucket AS p_bucket FROM b WHERE vec_id = 0)
        |SELECT b.vec_id, b.bucket, round(list_cosine_similarity(b.v, p.p_v), 6) + 0.0 AS cos_sim
        |FROM b, p WHERE b.bucket = p.p_bucket AND b.vec_id <> p.p_id
        |ORDER BY cos_sim DESC, b.vec_id LIMIT 10""".stripMargin)),
  )
}
