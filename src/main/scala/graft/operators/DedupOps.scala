package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Key
import graft.sources.Tables
import graft.operators.OpsHelpers.wordTrigrams

/** Deduplication suite for the LLM-training-data pipeline (SURVEY.md §2.10
  * + north star): exact, normalized-key, MinHash+LSH, SimHash, n-gram
  * Jaccard, and embedding-cosine near-dup — all over `documents` /
  * `embeddings`.
  *
  * Scale discipline (the whole point of these ops is 100 TB corpora):
  *  - never all-pairs: candidates come from shared shingles, LSH band
  *    buckets, or SimHash chunks — each a key-partitioned shuffle join.
  *  - deterministic row choice everywhere: `row_number` window form, never
  *    `dropDuplicates` (which keeps an arbitrary row — SURVEY §7.4).
  *  - pair outputs are canonicalized `doc_a < doc_b` so results are stable
  *    under any execution order.
  *
  * Oracle determinism: shingles/tokens are mapped to integer ids INLINE
  * (first 60 bits of md5, mod P — see [[sidExpr]]; no dictionary relation,
  * no global state) and all MinHash/SimHash arithmetic is exact int64 —
  * replicable bit-for-bit in DuckDB SQL. AT SCALE the md5 stand-in is
  * replaced by `xxhash64(shingle)` ([[dedupMinhashFast]]) — the identical
  * plan shape; md5 exists only so the oracle can reproduce the hash values.
  */
object DedupOps {

  private val P = 2147483647L // 2^31-1, Mersenne prime for affine hashes

  // ── exact dedup, window form (SURVEY §2.10 dedup_exact):
  // keep the lowest doc_id per identical text. groupBy-style shuffle on the
  // (hashed) text key; at 100 TB one would pre-hash text to a 128-bit key
  // to avoid shuffling full documents — semantics identical. ──
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** The near-dup normalization: lowercase, strip non-alphanumerics,
    * collapse whitespace — shared by [[dedupNear]] and the incremental
    * fingerprint so the two can never disagree on what "same document"
    * means. */
  private val normKeyCol =
    trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "\\s+", " "))

  // ── near-dup via normalized key: lowercase, strip non-alphanumerics,
  // collapse whitespace (SURVEY §2.10 dedup_near). ──
  def dedupNear(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("norm_key")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("norm_key", normKeyCol)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy("doc_id")
  }

  // ── INCREMENTAL dedup: admit a new shard against the all-time corpus
  // WITHOUT rescanning the corpus — the daily-ingest shape of every
  // production training-data pipeline (a crawl refresh must not re-read
  // 100 TB of history to ask "seen before?"). The historical side is a
  // FINGERPRINT STORE: one 32-byte sha256 of the normalized text per doc
  // — ~0.03% the bytes of the raw corpus — which in production persists
  // bucketed by fingerprint so the anti-join co-locates store buckets
  // with the shard's shuffle and reads nothing else. The shard first
  // self-dedups (row_number() = 1 per fingerprint — shard-sized window,
  // lowered to the native partial-heap top-k under GraftExtensions),
  // then anti-joins the store: both shuffles are SHARD-sized, history is
  // touched only through its fingerprints. Here the "shard" is the
  // doc_id % 10 = 0 slice (~10%, a synthetic daily batch) and the store
  // is derived inline from the other 90% — the driver can't ship a
  // pre-built store, but the PLAN is the store-backed one: nothing
  // downstream of the fingerprint projection reads history's text. ──
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val fp = sha2(normKeyCol, 256)
    // the persisted fingerprint store, in production written once per
    // ingest and appended incrementally (fp only — no text, no ids)
    val store = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .select(fp.as("fp")).distinct()
    val shard = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .withColumn("fp", fp)
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    shard
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1) // first occurrence within the shard
      .join(store, Seq("fp"), "left_anti") // never seen in history
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Candidate-generation guard: shingles occurring in more than this many
    * documents are dropped from CANDIDATE PAIRING (not from Jaccard
    * computation) — a stop-shingle cap. Without it, one boilerplate shingle
    * shared by 1M docs yields 5·10^11 candidate pairs; with it, the worst
    * shingle contributes ≤ cap². This corpus tops out at doc-freq 25, so
    * the cap is inert here — it exists for adversarial distributions. */
  private val ShingleDocFreqCap = 1000

  /** SimHash chunk buckets larger than this are skipped in candidate
    * generation (same pigeonhole guard, same rationale; max observed bucket
    * here is 68). */
  private val ChunkBucketCap = 1000

  // Word 3-grams, not word sets: this corpus draws ~16 words from a
  // ~30-word vocabulary, so word SETS collide for most document pairs
  // (measured: 92k of 125k pairs have set-Jaccard ≥ 0.5 at sf0.01) while
  // 3-gram shingles separate cleanly.

  /** Capped per-shingle posting lists (shingle, docs) — the one-shuffle
    * core shared by the string-keyed ([[shinglesFrom]]) and int-keyed
    * ([[sidShinglesFrom]]) shingle stages.
    *
    * Dedup + stop-shingle cap in ONE shuffle: the bounded-distinct
    * aggregate builds each shingle's posting list map-side (partial
    * aggregation dedups AND saturates before the exchange) and returns
    * null for any shingle exceeding the cap — replacing the previous
    * distinct + windowed-count pair of shuffles, with O(cap) memory per
    * shingle even for a boilerplate shingle in 10^8 docs. The capped
    * universe applies UNIFORMLY — intersections AND set sizes — so
    * Jaccard stays a true Jaccard over informative shingles. */
  private def shingleDocs(docs: DataFrame): DataFrame =
    wordTrigrams(docs).groupBy(col("shingle"))
      .agg(graft.functions.BoundedDistinctAgg(col("doc_id"), ShingleDocFreqCap)
        .as("docs"))
      .filter(col("docs").isNotNull)

  /** Int-only shingle stage: (doc_id, sid) with the md5 sid computed ONCE
    * per vocabulary entry (on the grouped posting lists, before the doc
    * explode) and the string dropped before anything is materialized.
    * Since round 12 the WHOLE exact-Jaccard family checkpoints this frame
    * instead of the old string form — two longs per row (~3× fewer
    * checkpoint bytes than rows carrying the ~20-char shingle), and the
    * hash runs |vocab| times, not |doc×shingle| times. */
  private def sidShinglesFrom(docs: DataFrame): DataFrame =
    shingleDocs(docs)
      .select(sidExpr.as("sid"), explode(col("docs")).as("doc_id"))

  // ── memoized shared corpus frames (round 12, optimization pass) ──
  // Eleven keys of this family derive from the SAME three base frames —
  // the shingle posting rows, the exact pair-intersection stats, and the
  // LSH band candidates — and until this round each key re-derived them
  // per invocation (the driver's bench showed the family's cost was
  // dominated by exactly this rebuild: shingle explode + self-join ≈
  // 2–4 s per key at sf0.1 before any key-specific work ran). They are
  // corpus state in the [[SharedGraph]] sense: a production dedup session
  // computes them once per corpus and runs every report against them.
  // Memo discipline: (applicationId, corpus fingerprint) key, Eager
  // (checkpointed) values — see [[SharedCorpus]]. All three are integer
  // frames (ids and exact counts only — no floats in corpus state), so
  // every consumer recomputes its own rounded ratios from identical
  // integers and the per-key values are bit-for-bit what the standalone
  // derivations produced; the DuckDB oracles are untouched.

  /** (xsid, sid, doc_id) posting rows: BOTH hash derivations per row —
    * md5 sid (oracle-replicable, drives exact Jaccard) and xxhash64 xsid
    * (the production banding hash, [[dedupMinhashFast]]) — so one
    * checkpoint serves the whole family. */
  private def sharedShingles(spark: SparkSession, dir: String): DataFrame =
    SharedCorpus.memo(spark, "dedup_shingles", dir, "documents")(
      shingleDocs(Tables.documents(spark, dir))
        .select(pmod(xxhash64(col("shingle")), lit(P)).as("xsid"),
          sidExpr.as("sid"), explode(col("docs")).as("doc_id")))

  /** The (doc_id, sid) view every md5-keyed consumer reads. */
  private def sharedSid(spark: SparkSession, dir: String): DataFrame =
    sharedShingles(spark, dir).select(col("doc_id"), col("sid"))

  /** (doc_a, doc_b, inter, na, nb) for every pair sharing ≥1 shingle —
    * the exact-integer pair stats behind Jaccard AND containment (each
    * consumer derives its own rounded measure from these integers, so the
    * values cannot drift between keys). The sid self-join this caches was
    * the single most expensive recomputed stage of the family. */
  private def sharedPairStats(spark: SparkSession, dir: String): DataFrame =
    SharedCorpus.memo(spark, "dedup_pairstats", dir, "documents") {
      val ws = sharedSid(spark, dir)
      val sizes = ws.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      ws.as("a").join(ws.as("b"),
          col("a.sid") === col("b.sid") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
        .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
        .select(col("doc_a"), col("doc_b"), col("inter"),
          col("za.n").as("na"), col("zb.n").as("nb"))
    }

  /** Verified n-gram Jaccard pairs over [[sharedPairStats]] — identical
    * arithmetic to [[ngramPairs]] (same cast-first division, same 6-dp
    * round, same ≥ 0.3 gate), derived from the memoized integers. */
  private def sharedNgramPairs(spark: SparkSession, dir: String): DataFrame =
    sharedPairStats(spark, dir)
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.3)

  /** Memoized LSH band-bucket candidates over the md5 sids (the
    * [[minhashCandidates]] stage shared by dedup_minhash, both PR
    * harnesses, the S-curve audit and the composite pipeline). */
  private def sharedMhCands(spark: SparkSession, dir: String): DataFrame =
    SharedCorpus.memo(spark, "dedup_mhcands", dir, "documents")(
      minhashCandidates(sharedSid(spark, dir)))

  /** Shingle → integer id, the first 60 bits of md5 reduced mod P —
    * computed INLINE per (doc_id, shingle) row: no dictionary relation
    * at all (oracle-deterministic stand-in for xxhash64 — DuckDB replays
    * `conv(substring(md5(s),1,15),16,10)` as `CAST('0x'||… AS BIGINT)`
    * bit-for-bit, verified both engines). Replaced the former global
    * dense-rank dictionary (distinct → single-partition sort → EAGER
    * RDD zipWithIndex at DataFrame-build time, then a broadcast join
    * back) with one scalar expression — no global state, no extra
    * shuffle, the exact shape of the xxhash64 production form
    * ([[dedupMinhashFast]]). Collision odds at 60 bits are
    * vocab²/2^61 (~1e-7 at sf0.1); a collision merges two shingles,
    * the failure mode the prod hash form accepts by design. The
    * oracle's dict CTE still materializes the vocabulary relation —
    * same per-shingle values, so the join there is value-neutral. */
  /** The shingle→sid scalar, applied once per vocabulary entry in
    * [[sidShinglesFrom]] (and alongside the xxhash64 derivation in
    * [[dedupMinhashFast]]) so the derivations cannot drift. */
  private def sidExpr: Column = expr(
    "pmod(cast(conv(substring(md5(shingle), 1, 15), 16, 10)" +
      " as bigint), 2147483647)")

  // ── n-gram Jaccard near-dup (SURVEY §2.10): candidates = pairs sharing
  // ≥1 shingle (a shuffle join keyed on shingle id — at scale,
  // high-frequency shingles would be capped; this corpus tops out at
  // doc-freq 25), then exact Jaccard ≥ 0.3. ──
  def dedupNgram(spark: SparkSession, dir: String): DataFrame =
    sharedNgramPairs(spark, dir).orderBy("doc_a", "doc_b")

  /** n-gram pair core over a given (doc_id, sid) shingle set (shared by
    * [[dedupNgram]] and the composite [[dedupPipeline]]). */
  private def ngramPairs(ws: DataFrame): DataFrame = {
    // sid-keyed self-join: each output row is one SHARED shingle of a
    // pair, so counting rows per pair IS the intersection size — no
    // separate candidate pass, one shuffle on sid + one on pair.
    val sizes = ws.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = ws.as("a").join(ws.as("b"),
        col("a.sid") === col("b.sid") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("za.n") + col("zb.n") - col("inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.3)
  }

  // ── threshold operating curve for near-dedup: over the EXACT
  // word-3-gram Jaccard pairs (the frame dedup_ngram ships), how many
  // pairs survive — and how many documents the remove-higher-id rule
  // would drop — at every θ from 0.3 to 0.9. eval_dedup_pr grades the
  // LSH candidate stage at one θ; this is the curve a curator reads to
  // PICK θ (aggressiveness vs corpus loss). One pair frame computed
  // once, exploded against the 7-value θ ladder, two exact counts per
  // θ and one division; removal is the same deterministic
  // duplicate-of-lower-id convention the dedup keys use. ──
  def evalDedupThreshold(spark: SparkSession, dir: String): DataFrame = {
    val pairs = sharedNgramPairs(spark, dir)
    val nd = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    pairs
      .select(col("doc_b"), col("jaccard"),
        explode(expr("array(0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D, 0.9D)"))
          .as("threshold"))
      .filter(col("jaccard") >= col("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_b")).as("docs_removed"))
      .crossJoin(broadcast(nd))
      .select(col("threshold"), col("n_pairs"), col("docs_removed"),
        round(expr("cast(docs_removed as double) / n_docs"), 6)
          .as("removal_rate"))
      .orderBy("threshold")
  }

  // ── shingle-universe sizing report: the numbers that dimension every
  // MinHash deployment BEFORE it runs — distinct-shingle vocabulary
  // (the dict/broadcast size), doc-shingle row mass (the LSH input),
  // duplication factor (how much sharing exists at all), the max
  // doc-frequency and how many shingles the 1000-doc stop-shingle cap
  // would actually drop (here: whether the skew guard is inert or
  // load-bearing). Pre-cap frame on purpose — this measures the raw
  // corpus, the knobs' input. Two keyed aggregations, integer output
  // plus two divisions. ──
  def textShingleStats(spark: SparkSession, dir: String): DataFrame = {
    val raw = wordTrigrams(Tables.documents(spark, dir)).distinct()
    val perSh = raw.groupBy(col("shingle")).agg(count(lit(1)).as("f"))
    val tot = raw.agg(countDistinct(col("doc_id")).as("n_docs"),
      count(lit(1)).as("n_rows"))
    perSh
      .agg(count(lit(1)).as("n_distinct_shingles"),
        max(col("f")).as("max_doc_freq"),
        sum((col("f") > ShingleDocFreqCap).cast("long"))
          .as("n_hot_capped"))
      .crossJoin(broadcast(tot))
      .select(col("n_docs"), col("n_rows"), col("n_distinct_shingles"),
        col("max_doc_freq"), col("n_hot_capped"),
        round(expr("cast(n_rows as double) / n_docs"), 6)
          .as("avg_shingles_per_doc"),
        round(expr("cast(n_rows as double) / n_distinct_shingles"), 6)
          .as("dup_factor"))
  }

  // ── precision/recall harness for the MinHash LSH candidate stage —
  // the eval loop that justifies the (16 bands × 2 rows) knob choice:
  // predicted = RAW band-bucket candidate pairs (BEFORE exact
  // verification — the set whose size is the cost and whose misses are
  // unrecoverable), truth = every pair with exact Jaccard ≥ 0.3 (the
  // shared-shingle enumeration is COMPLETE for J ≥ 0.3: such pairs
  // share a shingle by definition). Both sides reuse the exact frames
  // the dedup keys run — this measures the production candidate
  // generator, not a reimplementation. Precision says how much exact
  // verification work banding wastes; recall says what the cascade can
  // never recover; F1 summarizes the (b, r) operating point. Three
  // 1-row aggregates combined — pair-set-sized work, same as the dedup
  // keys themselves. ──
  def evalDedupPr(spark: SparkSession, dir: String): DataFrame =
    prReport(sharedMhCands(spark, dir),
      sharedNgramPairs(spark, dir).select(col("doc_a"), col("doc_b")))

  /** Deterministic 30% document admission shared verbatim by the engine
    * and the oracle: the first 60 bits of md5(doc_id) mod 10 < 3 — a
    * portable hash both engines replay bit-for-bit (same device as the
    * inline shingle ids), uncorrelated with doc_id order, stable under
    * repartitioning. This is the 100 TB deployment mode of the
    * exhaustive eval harnesses: grade the LSH operating point on a
    * hash-admitted sample instead of the full corpus — the candidate/
    * truth universes shrink quadratically (~9% of the pairs at 30% of
    * the docs) while the measured precision/recall stay unbiased
    * estimators of the corpus-wide operating point (admission is
    * independent of content). */
  private val SampleAdmissionSpark =
    "CAST(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10)" +
      " AS BIGINT) % 10 < 3"
  private[operators] val SampleAdmissionDuck =
    "CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))" +
      " AS BIGINT) % 10 < 3"

  /** [[evalDedupPr]] on the hash-admitted sample — same production
    * candidate generator, same exact truth, ~1/10 the pair work. */
  def evalDedupPrSampled(spark: SparkSession, dir: String): DataFrame = {
    val ws = Eager(sidShinglesFrom(
      Tables.documents(spark, dir).filter(expr(SampleAdmissionSpark))))
    prReport(minhashCandidates(ws),
      ngramPairs(ws).select(col("doc_a"), col("doc_b")))
  }

  private def prReport(cand0: DataFrame, truth0: DataFrame): DataFrame = {
    val cand = cand0.withColumn("is_cand", lit(1L))
    val truth = truth0.withColumn("is_true", lit(1L))
    // ONE pass over the union of both pair sets: |cand|, |truth| and the
    // overlap fall out of a single full-outer join + aggregate, replacing
    // the previous three separate count jobs over two cached pair frames
    // (each pair set is consumed exactly once now, so neither needs a
    // cache — this key was the single most expensive bench entry and the
    // extra materializations were pure overhead).
    cand.join(truth, Seq("doc_a", "doc_b"), "full_outer")
      .agg(coalesce(sum(col("is_cand")), lit(0L)).as("n_cand"),
        coalesce(sum(col("is_true")), lit(0L)).as("n_true"),
        coalesce(sum(col("is_cand") * col("is_true")), lit(0L)).as("tp"))
      // zero-guarded like the counts above: an empty candidate/truth
      // universe reports p = r = 0, never NULL — the report row is fully
      // non-NULL whatever the corpus (f1's own guard then yields 0 too)
      .withColumn("p",
        expr("CASE WHEN n_cand > 0 THEN cast(tp as double) / n_cand" +
          " ELSE 0.0 END"))
      .withColumn("r",
        expr("CASE WHEN n_true > 0 THEN cast(tp as double) / n_true" +
          " ELSE 0.0 END"))
      .select(col("n_cand"), col("n_true"), col("tp"),
        round(col("p"), 6).+(lit(0.0d)).as("precision"),
        round(col("r"), 6).+(lit(0.0d)).as("recall"),
        (round(expr("CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r)" +
          " ELSE 0.0 END"), 6) + lit(0.0d)).as("f1"))
  }

  // ── LSH S-curve audit: the MEASURED capture rate of the band-bucket
  // stage per exact-Jaccard bucket, next to the textbook prediction
  // P(candidate | s) = 1 − (1 − s^r)^b for this config's (b=16, r=2) —
  // the plot every LSH tuning session draws, shipped as a relation.
  // Buckets are exact-arithmetic Jaccard decades ≥ 0.3 (the truth set
  // is complete there, same argument as eval_dedup_pr); where measured
  // capture sags under theory, the minhash signatures are too few or
  // the stop-shingle cap is biting — the two knobs this table
  // separates. Theory is pure per-row arithmetic on the bucket
  // midpoint; both engines compute it from the same literals. ──
  def evalLshCurve(spark: SparkSession, dir: String): DataFrame = {
    val cand = sharedMhCands(spark, dir)
      .withColumn("captured", lit(1L))
    val truth = sharedNgramPairs(spark, dir)
    truth
      .join(cand, Seq("doc_a", "doc_b"), "left")
      .withColumn("bucket", floor(col("jaccard") * 10).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("captured"), lit(0L))).as("n_captured"))
      .withColumn("mid", expr("(bucket + 0.5) / 10.0"))
      .select(col("bucket"), col("n_true"), col("n_captured"),
        (round(expr("cast(n_captured as double) / n_true"), 6)
          + lit(0.0d)).as("capture_rate"),
        (round(expr("1.0 - pow(1.0 - pow(mid, 2.0), 16.0)"), 6)
          + lit(0.0d)).as("theory_rate"))
      .orderBy("bucket")
  }

  // ── asymmetric CONTAINMENT dedup: C = |A∩B| / min(|A|,|B|) — the
  // measure that catches a short document quoted inside a much longer
  // one, where resemblance (Jaccard |∩|/|∪|) stays low because the union
  // is dominated by the container (Broder's containment, the companion
  // of resemblance). Same shared-shingle candidate core as dedup_ngram —
  // one shuffle on shingle, one on pair, never all-pairs — flagged at
  // C ≥ 0.9 with the Jaccard emitted alongside so downstream policy can
  // distinguish true near-identity (both high) from inclusion (C high,
  // J low). ──
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    // same integer inputs as the standalone self-join form (memoized
    // [[sharedPairStats]]), same rounded expressions — values identical
    sharedPairStats(spark, dir)
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          least(col("na"), col("nb")), 6).as("containment"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 6).as("jaccard"))
      .filter(col("containment") >= 0.9)
      .orderBy("doc_a", "doc_b")

  // ── MinHash + LSH (SURVEY §2.10 dedup_minhash): 32 affine min-hashes
  // over shingle ids, banded 16×2; candidate pairs share a band signature;
  // verified with true Jaccard ≥ 0.3. At j=0.3 the 16-band/2-row curve
  // catches ~78% of true pairs — the standard recall/cost dial. ──
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    // candidates share a band ⇒ share a sid (the affine h is a bijection
    // mod the prime P, so equal minima have equal argmin sids) ⇒ their
    // verified Jaccard is already a row of the shared n-gram pair table —
    // the `mh ⊆ ng` invariant DedupSimilaritySpec pins. The inner join
    // therefore yields exactly jaccardFor(candidates) ≥ 0.3, without
    // re-running the intersection join.
    sharedNgramPairs(spark, dir)
      .join(sharedMhCands(spark, dir), Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")

  /** Production variant: shingle ids from xxhash64 — no dictionary, no
    * global rank, nothing driver-wide; THE form to run at 100 TB. Not
    * oracle-able (xxhash64 seeds can't be replicated in DuckDB SQL, and
    * band collisions land on different sids so candidate recall can
    * legitimately differ from [[dedupMinhash]] by a pair at LSH noise
    * level — measured 28 vs 27 at sf0.001); rows-only key, pinned by
    * DedupSimilaritySpec: pairs ⊆ exhaustive n-gram pairs with equal
    * jaccard, and ≥90% pair-set overlap with the dict variant. */
  def dedupMinhashFast(spark: SparkSession, dir: String): DataFrame = {
    // the shared posting frame carries BOTH id derivations per row: xsid
    // (xxhash64 — drives the LSH banding, the production hash) and sid
    // (md5 — drives the exact-Jaccard verification, so verified scores
    // stay bit-identical to dedup_ngram's as the spec pins). Same
    // band ⇒ shared-xsid ⇒ shared-shingle argument as [[dedupMinhash]]:
    // a candidate pair's verified Jaccard is a shared n-gram pair row
    // (an xsid collision-only pair has no shared md5 sid and was dropped
    // by the old intersection join exactly as the inner join drops it).
    val cands = minhashCandidates(
      sharedShingles(spark, dir).select(col("doc_id"), col("xsid").as("sid")))
    sharedNgramPairs(spark, dir)
      .join(cands, Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** LSH band-bucket candidate pairs (doc_a < doc_b, distinct) — the
    * pre-verification stage of [[minhashFromSids]], exposed so
    * [[dedupPipeline]] can verify candidates against its shared Jaccard
    * table instead of recomputing intersections. */
  private def minhashCandidates(withSid: DataFrame): DataFrame = {
    // 32 hash functions: h_i(sid) = ((2i+1)·sid + 17i+7) mod P — odd
    // multipliers, exact int64 (sid < P < 2^31, product < 2^63).
    // The signature is 32 column aggregates in ONE groupBy(doc) — not an
    // explode×32 + re-aggregate, which would shuffle 32× the rows.
    val minCols = (0 until 32).map { i =>
      min((lit(2L * i + 1) * col("sid") + lit(17L * i + 7)) % P).as(s"mh$i")
    }
    val sig = withSid.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
    // 16 bands × 2 rows, unpivoted via an inline struct array
    val bandStructs = (0 until 16).map { b =>
      struct(lit(b).as("band"), col(s"mh${2 * b}").as("m0"),
        col(s"mh${2 * b + 1}").as("m1"))
    }
    // eagerly materialized because SkewPairs consumes its input THREE
    // times (the cell-count join-back plus both sides of the triangular
    // self-join) — shared lazily, each consumer re-runs the 32-min-hash
    // signature aggregation over the full shingle table (measured: the
    // candidate stage more than halves when shared; was a `.cache()`,
    // promoted to [[Eager]] so the three concurrent consumers can never
    // race a cold cache into 3× recomputes). doc×band rows, ~13× smaller
    // than the shingle table feeding them.
    val bands = Eager(sig.select(col("doc_id"),
        explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"),
        col("bs.m0").as("m0"), col("bs.m1").as("m1")))
    // skew-hardened band-bucket pairing: one boilerplate-heavy band value
    // shared by B docs is O(B²) — SkewPairs splits it into capped
    // sub-blocks with the exact same candidate set (no recall cost, unlike
    // the stop-shingle cap), bounding per-task pair counts
    SkewPairs
      .pairs(bands, Seq("band", "m0", "m1"), "doc_id")
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  // ── SimHash (SURVEY §2.10 dedup_simhash): 32-bit fingerprints from
  // per-shingle affine hashes; near-dups = pairs within Hamming distance 3,
  // candidate-restricted to pairs sharing one of four 8-bit chunks (the
  // standard pigeonhole trick: d≤3 ⇒ some chunk of 4 is untouched ⇒
  // shared — also exactly how it shards at 100 TB). ──
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    sharedSimhashPairs(spark, dir)
      .orderBy("doc_a", "doc_b")

  /** Memoized simhash near-dup pairs — consumed by the standalone key and
    * the composite pipeline (pair-set-sized: ids + hamming). */
  private def sharedSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    SharedCorpus.memo(spark, "dedup_simhash_pairs", dir, "documents")(
      simhashPairs(sharedSid(spark, dir)))

  /** SimHash pair core over (doc_id, sid) rows (shared by [[dedupSimhash]]
    * and the composite [[dedupPipeline]]). */
  private def simhashPairs(withSid0: DataFrame): DataFrame = {
    // per-shingle 31-bit hash
    val withSid = withSid0
      .withColumn("sh_hash", (col("sid") * 1103515245L + 12345L) % P)
    // fingerprint via the custom TypedImperativeAggregate: one buffer of 32
    // signed bit-counters per doc, partial-aggregated map-side — identical
    // counters and sign rule as the 32-separate-sums formulation, so the
    // DuckDB oracle (which spells out the sums) is unchanged.
    val fp = withSid.groupBy(col("doc_id"))
      .agg(graft.functions.SimhashAgg(col("sh_hash")).as("fp"))
    val chunks = fp.select(col("doc_id"), col("fp"),
      explode(expr("sequence(0, 3)")).as("c"))
      .withColumn("chunk", expr("shiftright(fp, c * 8) % 256"))
      // bucket cap: a chunk value shared by >cap docs is degenerate for
      // pairing (candidate blow-up); skip it — pairs still surface via
      // their other three chunks (inert on this corpus, max bucket 68)
      .withColumn("bucket_n",
        count(lit(1)).over(Window.partitionBy(col("c"), col("chunk"))))
      .filter(col("bucket_n") <= ChunkBucketCap)
      .drop("bucket_n")
    val cand = chunks.as("a").join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("a.fp").as("fp_a"),
        col("b.doc_id").as("doc_b"), col("b.fp").as("fp_b"))
      .distinct()
    cand
      .withColumn("hamming", expr("bit_count(fp_a ^ fp_b)"))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  // ── embedding-cosine near-dup (SURVEY §2.10): pairs within the same
  // coarse block (label = stand-in for an IVF cell / LSH bucket; at 100 TB
  // the block key comes from a trained quantizer) with cosine ≥ 0.4.
  // Within-block comparison is O(B²): the cell count must SCALE WITH the
  // corpus (√N cells keeps per-cell work constant) — a fixed 16-way split
  // only works at test scale. Sub-bucket hot cells with lshBucket
  // (SimilarityOps) when a quantizer cell outgrows its pair budget.
  // Dot/norms via zip_with + aggregate higher-order functions — sequential
  // fold, same order DuckDB evaluates, so values match to the last ULP. ──
  def dedupEmbed(spark: SparkSession, dir: String): DataFrame = {
    // norms precomputed per vector (not per pair): 3× fewer folds; the
    // value is bitwise what a per-pair sqrt(dot(v,v)) would produce, so
    // oracle parity with DuckDB's list_cosine_similarity is preserved.
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    // skew-hardened within-cell pairing: exact same pair set as the plain
    // `a.label = b.label AND a.vec_id < b.vec_id` self-join, but a hot cell
    // is split into capped sub-blocks so no task exceeds ~cap² pairs
    // (SkewPairs doc; zero recall cost — the salt is exhaustive)
    cosinePairs(e, "label")
  }

  /** The (vec_a, vec_b) pairs of one `block` cell of `e` (vec_id, v,
    * norm) whose cosine is at least 0.4, paired through [[SkewPairs]]. */
  private def cosinePairs(e: DataFrame, block: String): DataFrame =
    SkewPairs.pairs(e, Seq(block), "vec_id")
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm"))).as("cos"))
      .filter(col("cos") >= 0.4)
      .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos_sim"))
      .orderBy("vec_a", "vec_b")

  /** The TRAINED-quantizer form of [[dedupEmbed]]: cells come from the IVF
    * coarse quantizer (deterministic mini k-means, `ml/IvfIndex.scala`)
    * instead of the fixture's pre-assigned `label` — exactly the 100 TB
    * shape the dedupEmbed scaladoc promises ("at 100 TB the block key
    * comes from a trained quantizer"). Within-cell pairing goes through
    * the same SkewPairs salt (bounded per-task pairs, exact within-cell
    * set), then exact cosine verification. Rows-only key: k-means means
    * are FP-order-sensitive, so no cross-engine oracle — the spec pins
    * (a) pairs ⊆ the brute-force all-pairs cos ≥ 0.4 set with equal
    * cosines, and (b) bit-identical vectors always pair (they quantize to
    * the same cell by construction). Recall vs the label-blocked form is
    * the standard IVF trade: pairs crossing a cell boundary are missed —
    * the candidate-vs-exhaustive dial every ANN dedup runs. */
  def dedupEmbedIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val model = graft.ml.IvfIndex.train(emb, k = 16, iters = 3)
    val e = graft.ml.IvfIndex.assignCells(emb, model)
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    cosinePairs(e, "cell")
  }

  /** Sequential dot product (left-to-right, the order DuckDB's list
    * functions evaluate — doubles agree to the last ULP). Backed by the
    * codegen'd native expression; [[dotHof]] is the built-in-composition
    * equivalent kept for cross-checking the two in tests. */
  def dot(x: Column, y: Column): Column = graft.functions.DotProduct(x, y)

  /** Same fold via higher-order built-ins (interpreted; bit-identical). */
  def dotHof(x: Column, y: Column): Column =
    aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)

  /** cosine(a, b) = dot/(√na·√nb), mirroring list_cosine_similarity. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  // ── edit-distance verification stage, as the LAST step of the cascade:
  // shared-shingle candidates → Jaccard ≥ 0.3 (cheap set math) → exact
  // levenshtein ≤ 25 on the survivors only. Levenshtein is O(len²) per
  // pair; running it on raw shingle candidates (≈1M pairs at sf0.1) costs
  // minutes, on the jaccard survivors (hundreds) milliseconds — order the
  // cascade by cost-per-pair, a shape that holds at any scale. Both
  // engines' levenshtein is the standard DP distance → integer-exact. ──
  def dedupEdit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val survivors = dedupNgram(spark, dir) // doc_a, doc_b, jaccard ≥ 0.3
    survivors
      .join(docs.as("da"), col("doc_a") === col("da.doc_id"))
      .join(docs.as("db"), col("doc_b") === col("db.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        levenshtein(col("da.text"), col("db.text")).as("edit_dist"))
      .filter(col("edit_dist") <= 25)
      .orderBy("doc_a", "doc_b")
  }

  // ── duplicate CLUSTERING: near-dup pairs only say "a≈b"; dedup at corpus
  // scale needs the transitive closure (a≈b, b≈c ⇒ {a,b,c} is one group,
  // keep one representative). Connected components via iterative min-label
  // propagation over the verified n-gram pair graph: each round, every
  // node takes the min label among itself and its neighbors; fixpoint in
  // O(component diameter) rounds — dup clusters are shallow (stars/chains
  // of boilerplate variants), so 2–4 rounds in practice. Each round is ONE
  // shuffle join + ONE groupBy — the GraphX-free formulation that runs
  // anywhere DataFrames run. The driver holds only an 8-byte convergence
  // checksum per round (sum of labels, monotone decreasing — unchanged ⇔
  // no label moved). AT 100 TB: same loop, with a per-round [[Eager]]
  // checkpoint to truncate lineage; edge count is bounded by the
  // candidate caps upstream. cluster_id = min doc_id of the group;
  // singletons keep their own id. ──
  def dedupCluster(spark: SparkSession, dir: String): DataFrame =
    dedupClusterWithCap(spark, dir, SmallGraphEdgeCap)

  /** Driver union-find is used when the pair graph has at most this many
    * (directed) edges: 2M edges = 1M collected (Long, Long) tuples ≈
    * 50 MB of driver heap — trivial against executor-shuffle round costs.
    * Candidate caps upstream already bound the pair graph; a corpus that
    * still exceeds this takes the distributed path. */
  private val SmallGraphEdgeCap = 2000000L

  private[graft] def dedupClusterWithCap(
      spark: SparkSession, dir: String, smallCap: Long): DataFrame = {
    // the component labels are per-corpus state with two query consumers
    // (dedup_cluster, dedup_canonical) — until round 13 each invocation
    // re-ran the edge count + collect + union-find (two driver-blocking
    // jobs) for identical integer labels. Only the DEFAULT cap memoizes:
    // the spec's forced-distributed path (cap 0) must compute live.
    val labels: DataFrame =
      if (smallCap == SmallGraphEdgeCap)
        SharedCorpus.memo(spark, "dedup_cc_labels", dir, "documents")(
          ccLabels(spark, dir, smallCap))
      else ccLabels(spark, dir, smallCap)
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(labels, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Connected-component labels (node, label) of the verified n-gram pair
    * graph — the transitive-closure core of [[dedupClusterWithCap]],
    * label = min doc_id of the component, endpoints only (singletons
    * rejoin at the caller). */
  private def ccLabels(
      spark: SparkSession, dir: String, smallCap: Long): DataFrame = {
    // a cheap filter+project over the memoized pair stats — no extra
    // checkpoint needed (the Eager here predated sharedPairStats)
    val pairs = sharedNgramPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    val nEdges = pairs.count() * 2
    // propagate over edge ENDPOINTS only — a singleton's label can never
    // change, so the cluster computation is proportional to the DUP GRAPH
    // (pairs that survived candidate pruning + Jaccard), not the corpus;
    // singletons rejoin via the final left join
    if (nEdges <= smallCap) {
        // small-graph fast path: exact union-find on the driver. After
        // pruning, the dup graph is orders smaller than the corpus; one
        // collect of id PAIRS (never documents) replaces 2+ rounds of
        // 4-stage shuffles. This is the same hybrid every production CC
        // implementation ships. Collected as typed (Long, Long) tuples —
        // ~48 B/pair vs ~150 B for generic Rows — so the cap (1M pairs)
        // bounds the driver at ≈50 MB.
        import spark.implicits._
        val es = pairs.as[(Long, Long)].collect()
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val n = parent.getOrElse(c, c); parent(c) = r; c = n
          }
          r
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        val nodes = es.flatMap(p => Seq(p._1, p._2)).distinct
        import spark.implicits._
      nodes.map(n => (n, find(n))).toSeq.toDF("node", "label")
    } else distributedMinLabel(Eager(
      pairs.select(explode(array(
          struct(col("doc_a").as("src"), col("doc_b").as("dst")),
          struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))))
  }

  /** Large-graph path: iterative min-label propagation with pointer
    * jumping (path halving) — O(log diameter) rounds, each ONE shuffle
    * join + ONE groupBy + ONE jump join, convergence detected by an
    * 8-byte monotone checksum on the driver. At 100 TB add a per-round
    * [[Eager]] checkpoint to truncate lineage. */
  /** Rounds the last [[distributedMinLabel]] run took to reach its
    * fixpoint — instrumentation for the scale proof (BASELINE.md records
    * it); written only by the distributed path. */
  private[graft] val lastCcRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  private def distributedMinLabel(edges: DataFrame): DataFrame = {
    var labels = Eager(edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")))
    var checksum = -1L
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      val msgs = edges.join(labels, col("src") === col("node"))
        .select(col("dst").as("node"), col("label"))
      // eagerly materialized: the jump self-join below reads prop TWICE —
      // shared lazily, both sides of the self-join recompute the
      // propagation union+groupBy; the checkpoint also truncates the
      // per-round lineage (round k never re-plans rounds 1..k-1), and its
      // GC-managed blocks replace the old per-round cache/unpersist dance
      val prop = Eager(labels.union(msgs)
        .groupBy(col("node")).agg(min(col("label")).as("label")))
      val next = Eager(prop.as("a")
        .join(prop.select(col("node").as("jn"), col("label").as("jl")).as("b"),
          col("a.label") === col("jn"), "left")
        .select(col("a.node").as("node"),
          coalesce(col("jl"), col("a.label")).as("label")))
      val nextSum = next.agg(sum(col("label"))).head.getLong(0)
      labels = next
      converged = nextSum == checksum
      checksum = nextSum
    }
    lastCcRounds.set(rounds)
    // already lineage-truncated and GC-managed — the caller's output plan
    // pins no session-lifetime cache entry across repeated calls
    labels
  }

  // ── the dedup family as ONE pipeline: the shingle stage computed ONCE
  // (eagerly, [[Eager]]), feeding n-gram Jaccard, MinHash-LSH and SimHash
  // in parallel, results unioned per pair with the set of methods that
  // flagged it. This is the plan a real corpus-dedup job runs — the
  // standalone keys re-derive shingles per invocation only because the
  // driver's bench times them hermetically; here the shared stage is
  // explicit and checkpointed (a lazy `.cache()` here let the concurrent
  // branches of the single output action race the cold cache into
  // per-branch recomputes, which under the driver's multi-tenant refresh
  // cost 6.5× the idle-box time). Agreement across methods is also the
  // practical confidence signal: n_methods = 3 pairs are certain dups,
  // singletons are method-specific candidates. ──
  def dedupPipeline(spark: SparkSession, dir: String): DataFrame = {
    // Round 12 optimization pass: every stage reads the memoized shared
    // frames — the composite pays only its union + per-pair aggregation
    // when the family's corpus state is already built (and builds it for
    // its siblings otherwise). The cold path keeps the round-12 shape:
    // ONE int-only posting checkpoint, the Jaccard table lazy with
    // exactly one consumer here (the shared pair-stats checkpoint it now
    // derives from is itself corpus state with many consumers).
    val jac = sharedNgramPairs(spark, dir)
    // minhash branch = LSH candidates ∩ (jaccard ≥ 0.3): candidates share
    // a band ⇒ share a sid ⇒ already a row of jac when they pass the
    // threshold (the `mh ⊆ ng` invariant DedupSimilaritySpec pins). A
    // LEFT join from jac marks them in the SAME pass that emits the ngram
    // branch.
    val mhc = sharedMhCands(spark, dir).withColumn("is_mh", lit(true))
    val ngmh = jac.join(mhc, Seq("doc_a", "doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        explode(when(col("is_mh"), array(lit("ngram"), lit("minhash")))
          .otherwise(array(lit("ngram")))).as("method"))
    val sim = sharedSimhashPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit("simhash").as("method"))
    ngmh.unionByName(sim)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(array_sort(collect_set(col("method"))).as("ms"))
      .select(col("doc_a"), col("doc_b"),
        array_join(col("ms"), ",").as("methods"),
        size(col("ms")).as("n_methods"))
      .orderBy("doc_a", "doc_b")
  }

  // ── canonical-document selection: the production FINAL step of dedup —
  // pairs ([[dedupNgram]]) → clusters ([[dedupCluster]]) → keep ONE
  // representative per cluster, chosen by QUALITY (argmax text_quality,
  // ties to the lowest doc_id), not by accident of id order. A corpus
  // deduped by min-id keeps whichever variant scraped first; keeping the
  // best-scoring variant is what the curation literature (CCNet, Gopher)
  // actually does. Composition reuses both machines end to end: the
  // cluster labels and the quality scores each arrive from their own
  // keyed plans, the argmax is one per-cluster window over the
  // |corpus|-row join — every stage keyed, nothing driver-side. The
  // oracle re-derives the WHOLE composition (shingles → candidates →
  // components → quality → argmax) in one recursive SQL statement. ──
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dedupCluster(spark, dir) // (doc_id, cluster_id), all docs
    val quality = TextOps.textQuality(spark, dir)
      .select(col("doc_id"), col("quality"))
    val byCluster = Window.partitionBy(col("cluster_id"))
    clusters.join(quality, "doc_id")
      .withColumn("rn", row_number().over(
        byCluster.orderBy(desc("quality"), col("doc_id"))))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("kept_doc"),
        col("quality"), col("n_members"))
      .orderBy("cluster_id")
  }

  // ── fuzzy RECORD LINKAGE between two feeds of the same entities: the
  // cross-source twin of dedup (dedup asks "same item twice in one
  // corpus?", linkage asks "which row over THERE is this row?"). The
  // dirty feed is a deterministic corruption of the part names (char
  // dropped / adjacent swap / untouched by p_partkey mod 3 — the typo
  // classes real feeds contain), so the fixture ships inside the tables
  // and the oracle can rebuild it in SQL. Classic block-then-score shape:
  //   block  — equal 2-char prefix AND |len Δ| ≤ 2. Both survive the
  //            corruptions by construction (positions ≥ 3 only); at
  //            100 TB the block key hash-partitions both feeds, each
  //            candidate set is block-sized, and a skewed block gets the
  //            SkewPairs treatment exactly like an LSH band.
  //   score  — native codegen'd [[graft.functions.JaroWinkler]] (Spark
  //            has no Jaro family; a boxed UDF per candidate pair is the
  //            anti-pattern), semantics pinned byte-for-byte to DuckDB's
  //            jaro_winkler_similarity so the oracle checks the SCORES,
  //            not just the assignment.
  //   assign — best candidate ≥ 0.9 per dirty row, ties broken by
  //            clean_id, ranking on the 6-dp-rounded score so sub-round
  //            float drift cannot reorder candidates.
  // The scoring runs on DISTINCT NAME PATTERNS, not rows: entity names
  // follow a Zipf law (this fixture: 64 distinct names under 20k rows,
  // and a 100 TB customer file repeats "JOHN SMITH" millions of times),
  // so the expensive O(block²) scoring collapses to the pattern
  // vocabulary while row-level assignment becomes one broadcast join of
  // the tiny best-match table. Row semantics are EXACTLY the naive
  // row-level join's (spec-pinned): ranking rows by (score, clean_id)
  // ≡ ranking name groups by (score, min clean_id in group), because
  // every row of a name group scores identically. 24 s → 0.4 s at
  // sf0.1 for the same answer.
  // ──
  def recordLinkage(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.part(spark, dir)
    val dirty = part.select(col("p_partkey").as("dirty_id"),
      corruptNameExpr.as("dname"))
    val dnames = dirty.select(col("dname")).distinct()
    val names = part.groupBy(col("p_name").as("name"))
      .agg(min(col("p_partkey")).as("clean_id"))
    val scored = dnames.join(names,
        substring(col("dname"), 1, 2) === substring(col("name"), 1, 2) &&
          abs(length(col("dname")) - length(col("name"))) <= 2)
      .select(col("dname"), col("clean_id"),
        (round(graft.functions.JaroWinkler(col("dname"), col("name")), 6)
          + lit(0.0d)).as("score"))
      .filter(col("score") >= 0.9)
    val w = Window.partitionBy(col("dname"))
      .orderBy(desc("score"), col("clean_id"))
    val best = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("dname"), col("clean_id"), col("score"))
    dirty.join(broadcast(best), "dname")
      .select(col("dirty_id"), col("clean_id"), col("score"))
      .orderBy("dirty_id")
  }

  /** The deterministic feed corruption over `part` (typo classes keyed
    * by p_partkey mod 3); shared by the operator and its spec's
    * naive-plan equivalence pin. */
  private[graft] def corruptNameExpr: Column =
    expr("""CASE CAST(p_partkey % 3 AS INT)
           |  WHEN 0 THEN substr(p_name, 1, 2) || substr(p_name, 4)
           |  WHEN 1 THEN substr(p_name, 1, 2) || substr(p_name, 4, 1)
           |    || substr(p_name, 3, 1) || substr(p_name, 5)
           |  ELSE p_name END""".stripMargin)

  /** Shared DuckDB CTE prefix: shingles and their dense ids. RECURSIVE is
    * declared unconditionally — harmless for the non-recursive oracles,
    * required by dedup_cluster's reachability CTE, and it keeps this one
    * prefix shared by every dedup oracle without string surgery. */
  private val duckShingles = duckShinglesFrom("documents")

  /** [[duckShingles]] over an arbitrary documents source (subquery or
    * table) — the oracle twin of [[shinglesFrom]]. */
  private def duckShinglesFrom(src: String) =
    s"""WITH RECURSIVE t AS (SELECT doc_id, ${OracleSql.Toks} AS toks FROM $src),""".stripMargin +
    """
      |sh0 AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle FROM t),
      |sh AS (SELECT doc_id, shingle FROM sh0
      |       QUALIFY count(*) OVER (PARTITION BY shingle) <= 1000),
      |dict AS (SELECT shingle,
      |           CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)
      |             % 2147483647 AS sid
      |         FROM (SELECT DISTINCT shingle FROM sh)),
      |ws AS (SELECT doc_id, sid FROM sh JOIN dict USING (shingle)),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  /** Shared candidate-pair + intersection CTEs (shared-shingle candidates,
    * per-pair intersection counts) — appended to [[duckShingles]] by the
    * ngram / edit / cluster oracles.
    *
    * ONE self-join + GROUP BY, exactly like the Spark side ("counting
    * rows per pair IS the intersection size"): the previous two-step
    * form (DISTINCT cand, then cand ⋈ sh ⋈ sh re-derives intersections)
    * multiplied every candidate pair by both docs' full shingle lists
    * before the equality filter — ~660M intermediate rows at sf≈1, >10
    * min and >10 GB of spill where this form takes 30 s. Same rows, same
    * counts: a candidate pair IS a pair with ≥1 shared shingle.
    *
    * Int-keyed over `ws` (sid) since round 12, mirroring the engine's
    * int-only shared shingle stage — a sid collision (if one ever
    * occurred) lands identically on both sides; per-doc sizes are
    * row-identical between sh and ws (1:1 through the dict join). */
  private val duckCandInter =
    """,
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |          FROM ws a JOIN ws b ON a.sid = b.sid AND a.doc_id < b.doc_id
      |          GROUP BY doc_a, doc_b),
      |cand AS (SELECT doc_a, doc_b FROM inter)""".stripMargin

  /** Connected-component CTEs shared by the cluster-family oracles:
    * verified pairs → undirected edges → recursive reachability →
    * min-label components → full-corpus cluster assignment `cl`. */
  private val duckClusterComp =
    """,
      |surv AS (SELECT doc_a, doc_b
      |         FROM inter JOIN sizes za ON doc_a = za.doc_id
      |                    JOIN sizes zb ON doc_b = zb.doc_id
      |         WHERE round(CAST(i AS DOUBLE) / (za.n + zb.n - i), 6) >= 0.3),
      |edges AS (SELECT doc_a AS s, doc_b AS d FROM surv
      |          UNION SELECT doc_b, doc_a FROM surv),
      |reach(origin, node) AS (
      |  SELECT s, s FROM edges
      |  UNION
      |  SELECT r.origin, e.d FROM reach r JOIN edges e ON e.s = r.node),
      |comp AS (SELECT origin AS doc_id, min(node) AS cluster_id
      |         FROM reach GROUP BY origin),
      |cl AS (SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      |       FROM documents d LEFT JOIN comp c USING (doc_id))""".stripMargin

  /** The final select of the Jaccard keys over `inter` and `sizes`: each
    * pair's 6-dp Jaccard, kept from 0.3 up, in pair order. */
  private val duckJaccardPairs: String =
    """SELECT doc_a, doc_b,
      |  round(CAST(i AS DOUBLE) / (za.n + zb.n - i), 6) AS jaccard
      |FROM inter JOIN sizes za ON doc_a = za.doc_id JOIN sizes zb ON doc_b = zb.doc_id
      |WHERE round(CAST(i AS DOUBLE) / (za.n + zb.n - i), 6) >= 0.3
      |ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash LSH candidate CTEs over `ws`: 32 universal hashes, 16 bands
    * of two, and the banded candidate pairs `cand(doc_a, doc_b)`, whose
    * continuation lines align under its name. Comma-led. */
  private def duckMinhashCand(cand: String): String = {
    val in = " " * (cand.length + 5)
    s""",
       |hashed AS (SELECT doc_id, i, ((2*i + 1) * sid + 17*i + 7) % 2147483647 AS h
       |           FROM ws, (SELECT unnest(range(0, 32)) AS i)),
       |sig AS (SELECT doc_id, i, min(h) AS mh FROM hashed GROUP BY doc_id, i),
       |bands AS (SELECT doc_id, i // 2 AS band,
       |            min(CASE WHEN i % 2 = 0 THEN mh END) AS m0,
       |            min(CASE WHEN i % 2 = 1 THEN mh END) AS m1
       |          FROM sig GROUP BY doc_id, i // 2),
       |$cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |${in}FROM bands a JOIN bands b ON a.band = b.band AND a.m0 = b.m0
       |$in     AND a.m1 = b.m1 AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** SimHash candidate CTEs over `ws`: 32-bit fingerprints `fp`, their
    * four byte chunks, and the chunk-sharing pairs `cand(doc_a, fp_a,
    * doc_b, fp_b)`, whose continuation lines align under its name.
    * Comma-led. */
  private def duckSimhashCand(cand: String): String = {
    val in = " " * (cand.length + 5)
    s""",
       |hb AS (SELECT doc_id, (sid * 1103515245 + 12345) % 2147483647 AS sh_hash FROM ws),
       |bits AS (SELECT doc_id, b,
       |           CASE WHEN (sh_hash >> b) % 2 = 1 THEN 1 ELSE -1 END AS bit_val
       |         FROM hb, (SELECT unnest(range(0, 32)) AS b)),
       |wsum AS (SELECT doc_id, b, sum(bit_val) AS w FROM bits GROUP BY doc_id, b),
       |fp AS (SELECT doc_id, sum(CASE WHEN w > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS fp
       |       FROM wsum GROUP BY doc_id),
       |chunks AS (SELECT doc_id, fp, c, (fp >> (c * 8)) % 256 AS chunk
       |           FROM fp, (SELECT unnest(range(0, 4)) AS c)
       |           QUALIFY count(*) OVER (PARTITION BY c, chunk) <= 1000),
       |$cand AS (SELECT DISTINCT a.doc_id AS doc_a, a.fp AS fp_a, b.doc_id AS doc_b, b.fp AS fp_b
       |${in}FROM chunks a JOIN chunks b ON a.c = b.c AND a.chunk = b.chunk
       |$in     AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** The LSH evaluation CTEs: [[duckMinhashCand]], then every pair's exact
    * intersection `inter` and the exhaustive pair set `scand` the
    * candidates are scored against. Comma-terminated. */
  private val duckLshEval: String = duckMinhashCand("cand") +
    """,
      |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      |          FROM ws a JOIN ws b ON a.sid = b.sid
      |               AND a.doc_id < b.doc_id
      |          GROUP BY doc_a, doc_b),
      |scand AS (SELECT doc_a, doc_b FROM inter),""".stripMargin

  /** The eval_dedup_pr oracle over an arbitrary documents source — shared
    * by the exhaustive and hash-admitted-sample keys. */
  private def duckPr(src: String): String = duckShinglesFrom(src) +
    duckLshEval + """
        |truth AS (SELECT doc_a, doc_b
        |          FROM inter JOIN sizes za ON doc_a = za.doc_id
        |                     JOIN sizes zb ON doc_b = zb.doc_id
        |          WHERE round(CAST(i AS DOUBLE) / (za.n + zb.n - i), 6)
        |                >= 0.3),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth),
        |tp AS (SELECT CAST(count(*) AS BIGINT) AS tp
        |       FROM cand JOIN truth USING (doc_a, doc_b)),
        |pr AS (SELECT n_cand, n_true, tp,
        |    CASE WHEN n_cand > 0 THEN CAST(tp AS DOUBLE) / n_cand
        |         ELSE 0.0 END AS p,
        |    CASE WHEN n_true > 0 THEN CAST(tp AS DOUBLE) / n_true
        |         ELSE 0.0 END AS r
        |  FROM nc CROSS JOIN nt CROSS JOIN tp)
        |SELECT n_cand, n_true, tp, round(p, 6) + 0.0 AS precision,
        |  round(r, 6) + 0.0 AS recall,
        |  round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r)
        |        ELSE 0.0 END, 6) + 0.0 AS f1
        |FROM pr""".stripMargin

  // Every oracle below runs through OracleSql.matCtesSkip (the map at
  // the end of the list): the shared shingle/candidate CTEs are
  // referenced 4-5× each, and DuckDB re-INLINES every reference — at
  // sf≈1 the round-11 gate measured the un-materialized forms spilling
  // >200 GB across the family (same blowup class as round 10's
  // graph_bfs). `reach` is excluded: a recursive head cannot take AS
  // MATERIALIZED.
  val keys: Seq[Key] = Seq(
    // cluster assignment + text_quality's scoring CTE + per-cluster
    // argmax — the composed canonical-selection semantics, re-derived
    // end to end by the oracle
    Key("dedup_canonical", dedupCanonical, Some(duckShingles + duckCandInter + duckClusterComp +
      ",\n" + TextOps.duckQualityCte +
      """
        |,r AS (SELECT cl.cluster_id, cl.doc_id, q.quality,
        |        row_number() OVER (PARTITION BY cl.cluster_id
        |          ORDER BY q.quality DESC, cl.doc_id) AS rn,
        |        count(*) OVER (PARTITION BY cl.cluster_id) AS n_members
        |      FROM cl JOIN q USING (doc_id))
        |SELECT cluster_id, doc_id AS kept_doc, quality, n_members
        |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin)),
    // rebuilds the corrupted feed, blocks, scores with DuckDB's OWN
    // jaro_winkler_similarity (byte semantics pinned in
    // graft.functions.JaroWinkler's scaladoc), and re-derives the same
    // rounded-score-then-rank assignment
    // mirrors the Spark arm's DEDUPED sides (distinct dirty names ⋈
    // name-grouped min-key clean entities, scored once per NAME pair and
    // joined back to dirty ids) — the round-11 sf≈1 gate caught the
    // previous per-ROW form doing 100× the jaro work once the inflated
    // store repeats every p_name across 10 key-shifted copies (>50 GB of
    // DuckDB spill); with duplicate names the min-clean_id rank makes
    // the two forms value-identical
    Key("record_linkage", recordLinkage, Some(
      """WITH dirty AS (
        |  SELECT p_partkey AS dirty_id,
        |    CASE CAST(p_partkey % 3 AS INT)
        |      WHEN 0 THEN substr(p_name, 1, 2) || substr(p_name, 4)
        |      WHEN 1 THEN substr(p_name, 1, 2) || substr(p_name, 4, 1)
        |        || substr(p_name, 3, 1) || substr(p_name, 5)
        |      ELSE p_name END AS dname
        |  FROM part),
        |dn AS (SELECT DISTINCT dname FROM dirty),
        |clean AS (SELECT p_name AS name, min(p_partkey) AS clean_id
        |          FROM part GROUP BY p_name),
        |cand AS (
        |  SELECT d.dname, c.clean_id,
        |    round(jaro_winkler_similarity(d.dname, c.name), 6) + 0.0 AS score
        |  FROM dn d JOIN clean c
        |    ON substr(d.dname, 1, 2) = substr(c.name, 1, 2)
        |   AND abs(length(d.dname) - length(c.name)) <= 2),
        |r AS (
        |  SELECT dname, clean_id, score, row_number() OVER (
        |      PARTITION BY dname ORDER BY score DESC, clean_id) AS rn
        |  FROM cand WHERE score >= 0.9)
        |SELECT dirty_id, clean_id, score
        |FROM dirty JOIN r USING (dname) WHERE rn = 1
        |ORDER BY dirty_id""".stripMargin)),
    // composite: the three pair sets from the SAME shingle CTEs, unioned
    // with method labels (CTE names suffixed to avoid colliding with the
    // shared cand/inter fragment)
    Key("dedup_pipeline", dedupPipeline, Some(duckShingles + duckCandInter +
      """,
        |ng AS (SELECT doc_a, doc_b
        |       FROM inter JOIN sizes za ON doc_a = za.doc_id
        |                  JOIN sizes zb ON doc_b = zb.doc_id
        |       WHERE round(CAST(i AS DOUBLE) / (za.n + zb.n - i), 6) >= 0.3)""".stripMargin +
      duckMinhashCand("mcand") + """,
        |minter AS (SELECT inter.doc_a, inter.doc_b, inter.i
        |           FROM inter JOIN mcand USING (doc_a, doc_b)),
        |mh2 AS (SELECT doc_a, doc_b
        |        FROM minter JOIN sizes za ON doc_a = za.doc_id
        |                   JOIN sizes zb ON doc_b = zb.doc_id
        |        WHERE round(CAST(i AS DOUBLE) / (za.n + zb.n - i), 6) >= 0.3)""".stripMargin +
      duckSimhashCand("scand") + """,
        |sp AS (SELECT doc_a, doc_b FROM scand WHERE bit_count(xor(fp_a, fp_b)) <= 3),
        |lab AS (SELECT doc_a, doc_b, 'ngram' AS method FROM ng
        |        UNION ALL SELECT doc_a, doc_b, 'minhash' FROM mh2
        |        UNION ALL SELECT doc_a, doc_b, 'simhash' FROM sp)
        |SELECT doc_a, doc_b,
        |  array_to_string(list_sort(list(DISTINCT method)), ',') AS methods,
        |  CAST(len(list(DISTINCT method)) AS INTEGER) AS n_methods
        |FROM lab GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin)),
    // transitive closure in SQL: WITH RECURSIVE reachability from every
    // edge endpoint, component id = min reached node — integer-exact, so
    // it hash-matches the Spark label-propagation fixpoint.
    Key("dedup_cluster", dedupCluster, Some(duckShingles + duckCandInter + duckClusterComp +
      """
        |SELECT doc_id, cluster_id FROM cl ORDER BY doc_id""".stripMargin)),
    Key("dedup_containment", dedupContainment, Some(duckShingles + duckCandInter +
      """
        |SELECT doc_a, doc_b,
        |  round(CAST(i AS DOUBLE) / least(za.n, zb.n), 6) AS containment,
        |  round(CAST(i AS DOUBLE) / (za.n + zb.n - i), 6) AS jaccard
        |FROM inter JOIN sizes za ON doc_a = za.doc_id
        |           JOIN sizes zb ON doc_b = zb.doc_id
        |WHERE round(CAST(i AS DOUBLE) / least(za.n, zb.n), 6) >= 0.9
        |ORDER BY doc_a, doc_b""".stripMargin)),
    Key("dedup_edit", dedupEdit, Some(duckShingles + duckCandInter +
      """,
        |surv AS (SELECT doc_a, doc_b,
        |           round(CAST(i AS DOUBLE) / (za.n + zb.n - i), 6) AS jaccard
        |         FROM inter JOIN sizes za ON doc_a = za.doc_id
        |                    JOIN sizes zb ON doc_b = zb.doc_id
        |         WHERE round(CAST(i AS DOUBLE) / (za.n + zb.n - i), 6) >= 0.3)
        |SELECT doc_a, doc_b, jaccard,
        |  CAST(levenshtein(da.text, db.text) AS INTEGER) AS edit_dist
        |FROM surv JOIN documents da ON doc_a = da.doc_id
        |          JOIN documents db ON doc_b = db.doc_id
        |WHERE levenshtein(da.text, db.text) <= 25
        |ORDER BY doc_a, doc_b""".stripMargin)),
    Key("dedup_exact", dedupExact, Some(
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin)),
    Key("dedup_near", dedupNear, Some(
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g'))
        |    ORDER BY doc_id) AS rn
        |  FROM documents) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin)),
    Key("dedup_incremental", dedupIncremental, Some(
      """WITH f AS (SELECT doc_id, lang, source, n_chars,
        |    sha256(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g'))) AS fp
        |  FROM documents),
        |shard AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        |          FROM f WHERE doc_id % 10 = 0)
        |SELECT doc_id, lang, source, n_chars FROM shard
        |WHERE rn = 1
        |  AND fp NOT IN (SELECT fp FROM f WHERE doc_id % 10 <> 0)
        |ORDER BY doc_id""".stripMargin)),
    Key("eval_dedup_threshold", evalDedupThreshold, Some(duckShingles + duckCandInter +
      """,
        |pj AS (SELECT doc_a, doc_b,
        |    round(CAST(i AS DOUBLE) / (za.n + zb.n - i), 6) AS jaccard
        |  FROM inter JOIN sizes za ON doc_a = za.doc_id
        |             JOIN sizes zb ON doc_b = zb.doc_id
        |  WHERE round(CAST(i AS DOUBLE) / (za.n + zb.n - i), 6) >= 0.3),
        |th AS (SELECT unnest([0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
        |         AS threshold),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |g AS (SELECT CAST(th.threshold AS DOUBLE) AS threshold,
        |        CAST(count(*) AS BIGINT) AS n_pairs,
        |        CAST(count(DISTINCT doc_b) AS BIGINT) AS docs_removed
        |      FROM pj JOIN th ON pj.jaccard >= th.threshold
        |      GROUP BY 1)
        |SELECT threshold, n_pairs, docs_removed,
        |  round(CAST(docs_removed AS DOUBLE) / n_docs, 6)
        |    AS removal_rate
        |FROM g CROSS JOIN nd ORDER BY threshold""".stripMargin)),
    Key("text_shingle_stats", textShingleStats, Some(
      s"""WITH t AS (SELECT doc_id,
        |    ${OracleSql.Toks} AS toks
        |  FROM documents),
        |sh0 AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |      AS shingle
        |  FROM t),
        |p AS (SELECT shingle, CAST(count(*) AS BIGINT) AS f
        |      FROM sh0 GROUP BY 1),
        |tt AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |        CAST(count(*) AS BIGINT) AS n_rows FROM sh0),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_distinct_shingles,
        |        CAST(max(f) AS BIGINT) AS max_doc_freq,
        |        CAST(sum(CASE WHEN f > 1000 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_hot_capped
        |      FROM p)
        |SELECT n_docs, n_rows, n_distinct_shingles, max_doc_freq,
        |  n_hot_capped,
        |  round(CAST(n_rows AS DOUBLE) / n_docs, 6)
        |    AS avg_shingles_per_doc,
        |  round(CAST(n_rows AS DOUBLE) / n_distinct_shingles, 6)
        |    AS dup_factor
        |FROM a CROSS JOIN tt""".stripMargin)),
    Key("dedup_ngram", dedupNgram, Some(duckShingles + duckCandInter +
      "\n" + duckJaccardPairs)),
    Key("eval_dedup_pr", evalDedupPr, Some(duckPr("documents"))),
    Key("eval_dedup_pr_sampled", evalDedupPrSampled, Some(duckPr(
      s"(SELECT * FROM documents WHERE $SampleAdmissionDuck)"))),
    Key("eval_lsh_curve", evalLshCurve, Some(duckShingles + duckLshEval +
      """
        |truth AS (SELECT doc_a, doc_b,
        |      round(CAST(i AS DOUBLE) / (za.n + zb.n - i), 6) AS jaccard
        |    FROM inter JOIN sizes za ON doc_a = za.doc_id
        |               JOIN sizes zb ON doc_b = zb.doc_id
        |    WHERE round(CAST(i AS DOUBLE) / (za.n + zb.n - i), 6) >= 0.3),
        |j AS (SELECT t.doc_a, t.doc_b,
        |    CAST(floor(t.jaccard * 10) AS BIGINT) AS bucket,
        |    CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS captured
        |  FROM truth t LEFT JOIN cand c
        |    ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
        |g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_true,
        |    CAST(sum(captured) AS BIGINT) AS n_captured,
        |    (bucket + 0.5) / 10.0 AS mid
        |  FROM j GROUP BY bucket)
        |SELECT bucket, n_true, n_captured,
        |  round(CAST(n_captured AS DOUBLE) / n_true, 6) + 0.0
        |    AS capture_rate,
        |  round(1.0 - pow(1.0 - pow(mid, 2.0), 16.0), 6) + 0.0
        |    AS theory_rate
        |FROM g ORDER BY bucket""".stripMargin)),
    Key("dedup_minhash", dedupMinhash, Some(duckShingles +
      duckMinhashCand("cand") + """,
        |shinter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |            FROM ws a JOIN ws b ON a.sid = b.sid AND a.doc_id < b.doc_id
        |            GROUP BY doc_a, doc_b),
        |inter AS (SELECT shinter.doc_a, shinter.doc_b, shinter.i
        |          FROM shinter JOIN cand USING (doc_a, doc_b))
        |""".stripMargin + duckJaccardPairs)),
    Key("dedup_minhash_fast", dedupMinhashFast),
    Key("dedup_simhash", dedupSimhash, Some(duckShingles +
      duckSimhashCand("cand") + """
        |SELECT doc_a, doc_b, CAST(bit_count(xor(fp_a, fp_b)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin)),
    Key("dedup_embed", dedupEmbed, Some(
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin)),
    Key("dedup_embed_ivf", dedupEmbedIvf),
  ).map(k => k.copy(oracle =
    k.oracle.map(OracleSql.matCtesSkip(_, skip = Set("reach")))))
}
