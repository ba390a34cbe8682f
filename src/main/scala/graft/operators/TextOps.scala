package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Key
import graft.sources.Tables
import graft.operators.OpsHelpers.{bloomWords, r6, toksCol, wordTrigrams}

/** Text-analysis operators for the LLM-training-data pipeline
  * (SURVEY.md §2.10 + north star): per-language stats, token frequency,
  * language ID, quality scoring, token counting, document fingerprinting —
  * all over the `documents` table.
  *
  * Everything here is built from codegen'd built-ins (`split`, `explode`,
  * higher-order `filter`/`aggregate`, `regexp_*`) — no UDFs, so the hot
  * path stays inside whole-stage codegen and the same code runs unchanged
  * on a 1000-executor cluster: per-document work is embarrassingly
  * parallel; the only shuffles are the declared groupBys.
  */
object TextOps {

  /** Fraction of tokens (column `toks`) that are English stopword markers,
    * rounded to 6 dp — the ONE definition shared by lang-ID, quality
    * scoring and the cleaning pipeline (and mirrored verbatim in each
    * DuckDB oracle). */
  private def stopRatioCol: Column = {
    val markers = EnMarkers.map(m => s"'$m'").mkString(", ")
    expr(s"round(size(filter(toks, t -> t IN ($markers))) / size(toks), 6)")
  }

  // ── per-language doc counts + avg length (SURVEY §2.10 text_stats).
  // n_chars is integral: its sum is exact in int64 and its double mean is a
  // single IEEE division — bitwise-deterministic, no rounding needed. ──
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("cnt"),
        (sum(col("n_chars")).cast("double") / count(col("n_chars"))).as("avg_chars"))
      .orderBy("lang")

  // ── dataset card: the per-(source, lang) composition manifest every
  // corpus release ships — doc counts, character mass, corpus shares,
  // mean length, and the short-doc fraction (the first quality column a
  // reviewer scans). ONE keyed aggregation over the documents table
  // plus a broadcast 1-row total; counts and char sums are exact int64,
  // each share/mean is a single cast-first division. The key composes
  // the facts text_stats / group_entropy / source_overlap report
  // separately into the release-artifact shape. ──
  def pipelineDatasetCard(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
        sum((col("n_chars") < 200).cast("long")).as("n_short"))
    val tot = g.agg(sum(col("n_docs")).as("td"), sum(col("n_chars")).as("tc"))
    g.crossJoin(broadcast(tot))
      .select(col("source"), col("lang"), col("n_docs"), col("n_chars"),
        r6(expr("cast(n_chars as double) / n_docs")).as("avg_chars"),
        r6(expr("cast(n_docs as double) / td")).as("doc_share"),
        r6(expr("cast(n_chars as double) / tc")).as("char_share"),
        r6(expr("cast(n_short as double) / n_docs")).as("pct_short"))
      .orderBy("source", "lang")
  }

  // ── log₂ document-length histogram per language: the length
  // distribution shape that sets context-window packing and truncation
  // policy (a lang whose mass sits in the 2¹²⁺ bins packs differently
  // than one of tweets). The bin is the integer bit-length device
  // (length(bin(n)) − 1 — no float log at bucket boundaries), shares
  // divide by the per-lang window total on the binned (≤ lang × 64 row)
  // frame. One keyed aggregation over the corpus. ──
  def textLengthHist(spark: SparkSession, dir: String): DataFrame = {
    val binned = Tables.documents(spark, dir)
      .groupBy(col("lang"),
        (length(expr("bin(n_chars)")) - 1).as("log2_bin"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        sum(col("n_chars")).as("sum_chars"))
    binned
      .withColumn("lt", sum(col("n_docs")).over(
        Window.partitionBy(col("lang"))))
      .select(col("lang"), col("log2_bin"), col("n_docs"),
        col("min_chars"), col("max_chars"), col("sum_chars"),
        r6(expr("cast(n_docs as double) / lt")).as("share_in_lang"))
      .orderBy("lang", "log2_bin")
  }

  // ── tokenize + top-k terms (SURVEY §2.10 text_tokens). explode is
  // Spark's built-in Generator — no custom UDTF. The groupBy shuffles on
  // token (bounded by vocabulary size, not corpus size); top-k is
  // TakeOrderedAndProject, not a global sort. ──
  /** Corpus unigram counts (token, cnt), UNFILTERED — per-corpus memoized
    * state (round 13) shared by text_tokens, text_zipf_fit (both filter
    * the empty token on top), text_collocation's unigram model and
    * text_lm_score's vocabulary size. Exact integer counts over the same
    * tokenization — value-identical to each key's own derivation. */
  private def unigramCounts(spark: SparkSession, dir: String): DataFrame =
    SharedCorpus.memo(spark, "unigram_counts", dir, "documents")(
      Tables.documents(spark, dir)
        .select(explode(toksCol).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("cnt")))

  /** Adjacent word bigrams (doc_id, w1, w2) — per-corpus memoized state
    * (round 13) shared by text_lm_score (which previously paid its own
    * per-invocation Eager of this exact frame) and text_collocation. */
  private def wordBigrams(spark: SparkSession, dir: String): DataFrame =
    SharedCorpus.memo(spark, "word_bigrams", dir, "documents")(
      Tables.documents(spark, dir)
        .select(col("doc_id"), toksCol.as("toks"))
        .select(col("doc_id"), col("toks"),
          slice(col("toks"), lit(2), size(col("toks"))).as("shifted"))
        .select(col("doc_id"),
          explode(arrays_zip(col("toks"), col("shifted"))).as("z"))
        .select(col("doc_id"), col("z.toks").as("w1"),
          col("z.shifted").as("w2"))
        .filter(col("w2").isNotNull))

  /** Per-(doc_id, tok) exact token counts, empty token filtered —
    * per-corpus memoized state (round 13, session 3) shared by
    * text_tfidf, text_heaps_law, text_freq_drift, text_burstiness and
    * text_oov_rate: each previously re-ran the identical explode +
    * (doc_id, tok) count per invocation. Exact integer counts over the
    * shared tokenization; every consumer re-derives its own statistic
    * (sums of c ≡ occurrence counts), so values are identical to the
    * former per-key derivations. */
  private def docTermCounts(spark: SparkSession, dir: String): DataFrame =
    SharedCorpus.memo(spark, "doc_term_counts", dir, "documents")(
      Tables.documents(spark, dir)
        .select(col("doc_id"), explode(toksCol).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c")))

  def textTokens(spark: SparkSession, dir: String): DataFrame =
    unigramCounts(spark, dir)
      .filter(col("t") =!= "")
      .select(col("t").as("token"), col("cnt"))
      .orderBy(desc("cnt"), col("token"))
      .limit(20)

  // ── language ID by stopword-marker ratio (north star: "n-gram
  // heuristic"). A real model would score char n-grams per language; the
  // engine-relevant part — a per-row scoring expression feeding a
  // classification CASE — is identical. ──
  private val EnMarkers = Seq("the", "a", "of", "and", "is", "to", "in")
  def textLangId(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("toks", toksCol)
      .withColumn("marker_ratio", stopRatioCol)
      .select(col("doc_id"), col("marker_ratio"),
        when(col("marker_ratio") >= 0.10, lit("en")).otherwise(lit("und"))
          .as("pred_lang"))
      .orderBy("doc_id")
  }

  // ── quality scoring: length, punctuation ratio, stopword ratio, average
  // word length → composite score (north star "quality scoring"). All
  // inputs are exact integer counts, so the double arithmetic is
  // engine-deterministic. ──
  def textQuality(spark: SparkSession, dir: String): DataFrame =
    qualityScored(spark, dir).drop("source").orderBy("doc_id")

  /** The quality computation without the presentation sort — per-corpus
    * memoized state (round 13) with four consumer paths (text_quality,
    * sample_quota, text_quality_buckets, dedup_canonical), each of which
    * previously re-ran the three regex scans over the documents table per
    * invocation. Scores are one deterministic expression over exact
    * integer counts, so the memoized frame is bit-identical to each
    * key's own derivation. |docs|-row doc-level metadata, never text. */
  private def qualityScored(spark: SparkSession, dir: String): DataFrame =
    SharedCorpus.memo(spark, "quality_scored", dir, "documents") {
      Tables.documents(spark, dir)
        .withColumn("toks", toksCol)
        .withColumn("n_toks", size(col("toks")))
        .withColumn("chars", length(col("text")))
        .withColumn("alnum_chars",
          length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", "")))
        .withColumn("punct_ratio",
          round((col("chars") - col("alnum_chars")).cast("double") / col("chars"), 6))
        .withColumn("stop_ratio", stopRatioCol)
        .withColumn("avg_word_len",
          round(length(regexp_replace(col("text"), "\\s", "")).cast("double") /
            col("n_toks"), 6))
        .withColumn("quality",
          round(lit(0.4) * col("stop_ratio") +
            lit(0.3) * least(lit(1.0), col("n_toks") / lit(20.0)) +
            lit(0.3) * (lit(1.0) - col("punct_ratio")), 6))
        .select(col("doc_id"), col("source"), col("n_toks"), col("punct_ratio"),
          col("stop_ratio"), col("avg_word_len"), col("quality"))
    }

  // ── per-source quota sampling: cap every SOURCE at its 20
  // highest-quality docs — the corpus-mixing step that stops one
  // crawl/domain from dominating the training mix (the data-curation
  // complement of [[textQualityBuckets]]' global terciles). The
  // row_number-over-quality idiom is exactly what the engine's
  // TopKRewrite lowers to the native partial-heap top-k under
  // GraftExtensions: per input partition a bounded heap per source, so
  // only ≤ 20·partitions rows per source ever shuffle and no source is
  // ever fully sorted — at 100 TB the quota scan is one pass over the
  // quality projection. (doc_id tiebreak keeps the order total.) ──
  def sampleQuota(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(desc("quality"), col("doc_id"))
    qualityScored(spark, dir)
      .select(col("doc_id"), col("source"), col("quality"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 20)
      .orderBy("source", "rn")
  }

  // ── CCNet-style quality bucketing: split the corpus into head/middle/
  // tail terciles of the quality score — the standard pre-training corpus
  // partitioning (CCNet buckets by LM perplexity tercile; the score here
  // is this library's composite quality). The tercile THRESHOLDS are one
  // 2-value aggregate broadcast back (never a driver collect, never a
  // global sort of the corpus); at 100 TB the exact percentile becomes
  // approx_percentile with the same 1-row-broadcast shape. ──
  def textQualityBuckets(spark: SparkSession, dir: String): DataFrame = {
    // the score feeds BOTH the threshold aggregate and the bucketing scan;
    // both consumers read the memoized checkpointed copy (round 13 — the
    // per-invocation Eager re-checkpoint of the same frame is gone), so
    // exactly ONE documents pass per corpus (pinned by PlanShapeSpec)
    val q = qualityScored(spark, dir)
      .select(col("doc_id"), col("quality"))
    val th = q.agg(
      expr("percentile(quality, 0.3333333333333333)").as("t1"),
      expr("percentile(quality, 0.6666666666666666)").as("t2"))
    q.crossJoin(broadcast(th))
      .withColumn("bucket",
        when(col("quality") >= col("t2"), lit("head"))
          .when(col("quality") >= col("t1"), lit("middle"))
          .otherwise(lit("tail")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("quality").cast("decimal(18,6)")).cast("double") /
          count(lit(1)), 6).as("avg_quality"))
      .orderBy("bucket")
  }

  // ── token counting: whitespace tokens + a BPE-ish regex segmentation
  // (word pieces and single non-word symbols), north star "token counting". ──
  def textTokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(toksCol).as("ws_tokens"),
        size(expr("regexp_extract_all(text, '\\\\w+|[^\\\\w\\\\s]', 0)"))
          .as("re_tokens"))
      .orderBy("doc_id")

  // ── document fingerprinting: order-sensitive polynomial rolling hash over
  // the token sequence (north star "rolling hash"). The oracle-deterministic
  // form maps tokens to md5-derived integer ids (the same device as
  // DedupOps.shingleDict), then folds (acc*131 + id) mod 1e9+7
  // along the sequence with the `aggregate` higher-order function. AT
  // SCALE: replace the dictionary with `xxhash64(token)` directly —
  // same fold, no dictionary join; the md5 form exists only because an
  // xxhash64 seed can't be replicated bit-for-bit in the DuckDB oracle. ──
  def textFingerprint(spark: SparkSession, dir: String): DataFrame =
    // token id = 60-bit md5 prefix mod 2^31-1, computed INLINE in the
    // same per-row fold the xxhash64 production form uses — no
    // explode/dictionary/shuffle at all; DuckDB replays the hex prefix
    // bit-for-bit so the oracle holds. (History: dense-rank dictionary →
    // md5 dictionary + broadcast join → this pure scalar form.)
    // wid < 2^31 keeps the (acc*131 + wid) fold inside exact int64.
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("aggregate(transform(split(trim(lower(text)), '\\\\s+')," +
          " t -> pmod(cast(conv(substring(md5(t), 1, 15), 16, 10)" +
          " as bigint), 2147483647))," +
          " CAST(0 AS BIGINT)," +
          " (acc, x) -> (acc * 131 + x) % 1000000007)").as("fp"))
      .orderBy("doc_id")

  /** Production variant of [[textFingerprint]]: fold over `xxhash64(token)`
    * directly — no dictionary, no global rank. Same 1e9+7 modulus as the
    * dictionary form (ANSI mode — default-on in Spark 4 — rejects the
    * wrap-around alternative as overflow). Rows-only key: xxhash64 cannot
    * be replicated in the DuckDB oracle; tests pin its equivalence classes
    * to the dictionary form's. */
  def textFingerprintFast(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("aggregate(transform(split(trim(lower(text)), '\\\\s+')," +
          " t -> pmod(xxhash64(t), 1000000007)), CAST(0 AS BIGINT)," +
          " (acc, x) -> (acc * 131 + x) % 1000000007)")
          .as("fp"))
      .orderBy("doc_id")

  // ── the end-to-end corpus-cleaning pipeline, composed from the pieces:
  // exact-dedup (window form) → quality gate (stopword ratio + length) →
  // per-language yield report. This is the shape of a real pretraining
  // data job; each stage is one of this library's verified operators, and
  // the composition stays a single Catalyst plan (dedup shuffle → per-row
  // scoring → final aggregation — no materialization between stages). ──
  def pipelineCleanCorpus(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .withColumn("toks", toksCol)
      .withColumn("n_toks", size(col("toks")))
      .withColumn("stop_ratio", stopRatioCol)
      .filter(col("n_toks") >= 8 && col("stop_ratio") >= 0.05)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("kept_docs"),
        sum(col("n_toks")).as("kept_tokens"),
        // stop_ratio is a 6-dp value: decimal(18,6) sums it losslessly —
        // a raw double sum would be partition-order-dependent (house rule)
        (sum(col("stop_ratio").cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("avg_stop_ratio"))
      .select(col("lang"), col("kept_docs"), col("kept_tokens"),
        round(col("avg_stop_ratio"), 6).as("avg_stop_ratio"))
      .orderBy("lang")
  }

  // ── TF-IDF distinctive term per document: argmax of tf·ln(N/df), with
  // tf/df/N exact integers. The ranking uses the score SNAPPED TO A 1e-9
  // GRID with (term) as the final tiebreak: cross-engine libm `ln`
  // differences are ~1 ULP (1e-16 relative), far inside the grid, so both
  // engines rank identically except when two scores land within 1e-9 of
  // each other — where the grid makes them EQUAL in both engines and the
  // term tiebreak decides, again identically. Two shuffles (doc_id+term,
  // term) and a broadcast of the 1-row corpus count — no vocabulary ever
  // on the driver, so the shape holds at any corpus size. ──
  def textTfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // tf is the shared [[docTermCounts]] memo verbatim (round 13,
    // session 3) — the per-invocation explode + (doc_id, term) count it
    // replaces produced exactly these integer counts
    val tf = docTermCounts(spark, dir)
      .select(col("doc_id"), col("tok").as("term"), col("c").as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("score_r"), col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score_r",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 9))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("score_r"), 4).as("tfidf"))
      .orderBy("doc_id")
  }

  /** The fixed disjunctive query [[textBm25]] scores — mid-frequency
    * corpus terms so idf, tf saturation, and length normalization all
    * engage. */
  private val Bm25Terms = Seq("spark", "join", "vector")

  // ── BM25 ranking (Robertson-Sparck-Jones, the Okapi/Lucene formula
  // with the +1 idf floor): the RETRIEVAL twin of text_tfidf's term
  // weighting — score every document for a fixed query, return the
  // top 20. k1 = 1.2 (tf saturation), b = 0.75 (length normalization
  // vs the corpus mean). Two scans: corpus statistics (N, Σdl, per-term
  // df — ONE model-sized aggregate, the "index build" a real engine
  // runs offline) broadcast into a scoring scan whose top-20 is a
  // TakeOrderedAndProject (per-partition heaps, no global sort). The
  // scores carry libm `ln`, so the ranking uses text_tfidf's 1e-9 GRID
  // SNAP with doc_id as tiebreak — cross-engine ln differs by ~1 ULP,
  // far inside the grid. ──
  def textBm25(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .withColumn("toks", toksCol)
      .select(Seq(col("doc_id"), size(col("toks")).cast("long").as("dl")) ++
        Bm25Terms.map(t =>
          expr(s"size(filter(toks, x -> x = '$t'))").cast("long")
            .as(s"tf_$t")): _*)
    val statAggs =
      Seq(sum(col("dl")).as("sum_dl")) ++
        Bm25Terms.map(t =>
          sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = base.agg(count(lit(1)).as("n_docs"), statAggs: _*)
    val score = Bm25Terms.map(t =>
      s"ln((cast(n_docs as double) - df_$t + 0.5) / (df_$t + 0.5) + 1)" +
        s" * (tf_$t * 2.2) / (tf_$t + 1.2 * (0.25 + 0.75" +
        s" * (dl / (cast(sum_dl as double) / n_docs))))").mkString(" + ")
    base.crossJoin(broadcast(stats))
      .withColumn("bm25", expr(s"round($score, 9)"))
      .orderBy(desc("bm25"), col("doc_id"))
      .limit(20)
      .select(col("doc_id"), col("dl"), col("bm25"))
  }

  /** Email-shaped token pattern, deliberately RE2-safe (no backrefs, no
    * lookaround) so Java regex (Spark) and RE2 (DuckDB) agree exactly.
    * (?i) because PII hides in mixed case — John.Smith@Example.COM must
    * redact too; both engines honor the inline flag. */
  private val EmailRe = "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"

  // ── PII scrubbing: redact email-shaped tokens and count redactions —
  // the LLM-corpus cleaning staple. Pure per-row regexp_replace at scan
  // speed (no shuffle but the final count); redaction_count kept per doc
  // so a quality gate can drop heavily-redacted docs downstream. ──
  def textScrub(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        regexp_replace(col("text"), EmailRe, "<EMAIL>").as("clean_text"),
        (size(split(col("text"), EmailRe, -1)) - 1).as("n_redacted"))
      .orderBy("doc_id")

  // ── frequent tokens via the Misra-Gries sketch
  // ([[graft.functions.MisraGriesAgg]]): ONE aggregate with fixed
  // capacity-sized state — tasks summarize map-side and only
  // capacity-sized summaries shuffle, vs text_tokens' exact
  // group-every-token plan whose shuffle grows with the vocabulary.
  // The round-11 sf≈1 gate ended the "provably exact below capacity"
  // oracle: the inflated corpus's ~310-token vocabulary exceeds capacity
  // 64, and MG legitimately undercounts (its contract, not a bug) — so
  // the key now carries the count_min_freq-style INVARIANT oracle: the
  // exact top-10 term counts are verified exactly, and MG's defining
  // guarantee — never overestimate, undercount ≤ ⌊N/(cap+1)⌋, and a
  // term ABSENT from the summary must itself be ≤ ⌊N/(cap+1)⌋ — rides
  // along as a boolean DuckDB asserts TRUE. ──
  private val MgCap = 64

  private def mgOkCol: Column = {
    val bound = expr(s"n_total div ${MgCap + 1}")
    // get(): a term ABSENT from the summary (the lossy regime sf≈1
    // exercises) must yield NULL, not an ANSI array-index error
    val est = expr("get(filter(hh, s -> s.term = token), 0).cnt")
    (est.isNotNull && est <= col("exact_cnt") &&
      col("exact_cnt") - est <= bound) ||
      (est.isNull && col("exact_cnt") <= bound)
  }

  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(toksCol).as("token"))
      .filter(col("token") =!= "")
    val mg = toks.agg(
      graft.functions.MisraGriesAgg(col("token"), MgCap).as("hh"),
      count(lit(1)).as("n_total"))
    // exact arm reads the shared [[unigramCounts]] memo (round 13,
    // session 3) — the MG sketch still consumes the raw occurrence
    // stream (a sketch is defined over updates, not counts)
    exactTop10(spark, dir, mg)
  }

  /** The exact top-10 tokens of [[unigramCounts]] beside the sketch row
    * `mg` (hh, n_total), with mg_ok its bound check. */
  private def exactTop10(spark: SparkSession, dir: String,
      mg: DataFrame): DataFrame =
    unigramCounts(spark, dir).filter(col("t") =!= "")
      .select(col("t").as("token"), col("cnt").as("exact_cnt"))
      .orderBy(desc("exact_cnt"), col("token"))
      .limit(10)
      .crossJoin(broadcast(mg))
      .select(col("token").as("term"), col("exact_cnt"), mgOkCol.as("mg_ok"))
      .orderBy(desc("exact_cnt"), col("term"))

  // ── heavy-hitters summary STORE rollup: per-source Misra-Gries
  // summaries (modeling the per-shard sketch store an ingest job
  // persists) merged into the global top tokens by pure summary merging —
  // the raw corpus is read once by the shard pass and NEVER re-read by
  // any rollup. Completes the store-merge symmetry of the sketch family
  // (HLL, DDSketch, Count-Min, and now Misra-Gries). Capacity (64) sits
  // above this vocabulary (~31), so every summary stays exact and the
  // result provably equals heavy_hitters' — the two keys SHARE an oracle
  // (machine-checked equivalence); the lossy capacity-cut path is pinned
  // separately in MisraGriesSpec. ──
  def heavyHittersMerge(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("source"), explode(toksCol).as("token"))
      .filter(col("token") =!= "")
    // per-source summaries merged BY SUMMARY (the store-rollup path);
    // the merged sketch keeps the same ⌊N/(cap+1)⌋ undercount bound, so
    // the same invariant oracle applies (see heavyHitters)
    val mg = toks
      .groupBy(col("source"))
      .agg(graft.functions.MisraGriesAgg(col("token"), MgCap).as("hh"))
      .agg(graft.functions.MisraGriesMergeAgg(col("hh"), MgCap).as("hh"))
      // n_total = Σ unigram counts — identical to the former third pass
      // over the occurrence stream (coalesce keeps count()'s
      // non-nullability; the corpus is never empty so the value is Σcnt)
      .crossJoin(broadcast(unigramCounts(spark, dir)
        .filter(col("t") =!= "")
        .agg(coalesce(sum(col("cnt")), lit(0L)).as("n_total"))))
    // exact arm reads the shared [[unigramCounts]] memo (round 13,
    // session 3), as in [[heavyHitters]]
    exactTop10(spark, dir, mg)
  }

  // ── point-frequency sketch store (Count-Min — the fourth member of the
  // sketch family: HLL cardinality, DDSketch quantiles, Misra-Gries
  // top-k, and now arbitrary-key frequency). The shape mirrors
  // percentile_store_merge: sketch per shard (modeling the per-day /
  // per-partition sketch store an ingest pipeline persists), merge by
  // pure counter addition, then answer point queries from the 64 KB
  // merged sketch. Here the queries are the corpus's exact top-10 terms,
  // reported with both counts so the output itself exhibits the
  // never-underestimate guarantee the spec pins. Only sketches shuffle —
  // the token stream is touched once per shard — so a vocabulary
  // frequency service over a 100 TB corpus is one scan + 64 KB rollups,
  // any later term lookup O(1). DuckDB has no CMS, so the estimate
  // itself can't be oracled — but the sketch's DEFINING one-sided
  // guarantee can (round 11, invariant oracle): never underestimate, and
  // overestimate ≤ ceil(e/width · N) (N = total token updates) — the
  // exact bound CountMinSketchSpec pins, here asserted per returned term
  // as a boolean DuckDB expects TRUE. The exact top-10 term counts are
  // verified exactly (same oracle arm as heavy_hitters). ──
  def countMinFreq(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{CountMinEstimate, CountMinMergeAgg, CountMinSketchAgg}
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(toksCol).as("term"))
      .filter(col("term") =!= "")
    val merged = toks
      .groupBy((col("doc_id") % 16).as("shard"))
      .agg(CountMinSketchAgg(col("term")).as("sk"),
        count(lit(1)).as("n_shard"))
      .agg(CountMinMergeAgg(col("sk")).as("msk"),
        sum(col("n_shard")).as("n_total"))
    // exact arm reads the shared [[unigramCounts]] memo (round 13,
    // session 3); the CM sketch still consumes the raw (doc_id, term)
    // stream — its shard grouping and per-update semantics need it
    unigramCounts(spark, dir).filter(col("t") =!= "")
      .select(col("t").as("term"), col("cnt").as("exact_cnt"))
      .orderBy(desc("exact_cnt"), col("term"))
      .limit(10)
      .crossJoin(broadcast(merged))
      .select(col("term"), col("exact_cnt"),
        ((CountMinEstimate(col("msk"), col("term")) >= col("exact_cnt")) &&
          (CountMinEstimate(col("msk"), col("term")) - col("exact_cnt") <=
            ceil(lit(math.E / graft.functions.CMSketch.Width)
              * col("n_total")).cast("long"))).as("cms_ok"))
      .orderBy(desc("exact_cnt"), col("term"))
  }

  // ── sequence packing for LLM batch assembly: concatenate the corpus in
  // doc_id order and chunk it into fixed token budgets (the standard
  // pretraining "pack and split into context windows" step). Each doc's
  // START OFFSET is the exclusive prefix sum of token counts under the
  // doc_id total order — computed WITHOUT a partitionless window: docs
  // range-bucket by doc_id (width_bucket over broadcast bounds),
  // per-bucket totals become broadcast offsets (≤64² dimension-sized
  // non-equi join), and a per-bucket running sum finishes the prefix —
  // the same offsets device as bucketedRank, applied to sums instead of
  // counts. chunk_id = offset div budget; offset_in_chunk locates the
  // doc inside its context window. ──
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    packCore(Tables.documents(spark, dir)
      .select(col("doc_id"), size(toksCol).cast("long").as("n_toks")))

  // ── per-language token-budget cut: give every language an equal
  // slice of a fixed token budget and admit docs in doc_id order until
  // each slice fills — the allocation step between sample_temperature
  // (which only computes target WEIGHTS) and an actual training-set
  // manifest. A doc is taken iff its language-cumulative token count
  // BEFORE it is still under the slice (the prefix-cut convention:
  // deterministic, and the overshoot is bounded by one document). The
  // per-language running sums are lang-partitioned windows (at corpus
  // scale a skewed language sub-bands on the integer doc-id shards,
  // the sample_pps device); the report is exact integers plus one
  // utilization division per language. ──
  def sampleTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val budget = 100000L
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(toksCol).cast("long").as("n_toks"))
    val nl = d.agg(countDistinct(col("lang")).as("n_langs"))
    val wo = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("cum", coalesce(sum(col("n_toks")).over(wo), lit(0L)))
      .crossJoin(broadcast(nl))
      .withColumn("slice", expr(s"${budget}L div n_langs"))
      .filter(col("cum") < col("slice"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs_taken"),
        sum(col("n_toks")).as("tokens_taken"),
        first(col("slice")).as("slice_budget"))
      .select(col("lang"), col("n_docs_taken"), col("tokens_taken"),
        col("slice_budget"),
        r6(expr("cast(tokens_taken as double) / slice_budget"))
          .as("utilization"))
      .orderBy("lang")
  }

  // ── no-split greedy binning audit: pack_sequences splits documents
  // across 512-token window boundaries (zero padding by construction);
  // instruction-tuning and retrieval corpora must keep docs WHOLE, and
  // then greedy sequential binning pays padding. This key measures that
  // price per shard — bins, padded tokens, utilization — against the
  // split-anywhere ideal, plus the oversize docs no bin can hold. The
  // greedy fill is a true sequential recurrence, so it folds over the
  // doc-id-ordered occurrence list WITHIN each of the 64 hash-width
  // shards (forecast_holt's group-sized-fold shape; shard count is the
  // sizing dial at corpus scale) and the oracle replays each shard's
  // recurrence as a recursive CTE. All-integer state: fill, bins —
  // waste is the closed form bins·512 − Σtoks, no float ever enters. ──
  def packGreedyBins(spark: SparkSession, dir: String): DataFrame = {
    val budget = 512
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), size(toksCol).cast("long").as("n_toks"))
    // integer shard math (NOT width_bucket): ((id−lo)·64) div span + 1 is
    // exact in int64, so shard membership can never drift on an fp
    // boundary between engines
    val bounds = d.agg(min(col("doc_id")).as("lo"),
      (max(col("doc_id")) + 1).as("hi"))
    val b = d.crossJoin(broadcast(bounds))
      .withColumn("bkt",
        expr("((doc_id - lo) * 64) div (hi - lo) + 1"))
    val over = b.filter(col("n_toks") > budget)
      .groupBy(col("bkt")).agg(count(lit(1)).as("n_oversize"))
    val fit = b.filter(col("n_toks") <= budget)
    val folded = fit.groupBy(col("bkt"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("tot_toks"),
        sort_array(collect_list(struct(col("doc_id"), col("n_toks"))))
          .as("s"))
      .withColumn("st", expr(
        s"""aggregate(
           |  slice(s, 2, size(s) - 1),
           |  named_struct('fill', s[0].n_toks, 'bins', 1L),
           |  (st, d) -> IF(st.fill + d.n_toks <= $budget,
           |    named_struct('fill', st.fill + d.n_toks,
           |                 'bins', st.bins),
           |    named_struct('fill', d.n_toks, 'bins', st.bins + 1L)))"""
          .stripMargin))
    // FULL outer, not left: a shard whose every document exceeds the
    // budget has no `folded` row at all — driving the report from
    // `folded` would silently drop that shard AND its n_oversize count.
    // Oversize-only shards report n_docs = 0 / n_bins = 0 explicitly.
    folded.join(over, Seq("bkt"), "full_outer")
      .select(col("bkt").cast("long").as("shard"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_oversize"), lit(0L)).as("n_oversize"),
        coalesce(col("st.bins"), lit(0L)).as("n_bins"),
        coalesce(col("tot_toks"), lit(0L)).as("tot_toks"),
        (coalesce(col("st.bins"), lit(0L)) * budget -
          coalesce(col("tot_toks"), lit(0L))).as("padding_toks"),
        r6(expr(s"CASE WHEN st.bins IS NULL THEN 0.0" +
          s" ELSE cast(tot_toks as double) / (st.bins * $budget) END"))
          .as("utilization"))
      .orderBy("shard")
  }

  /** Packing core over any (doc_id, n_toks) set — the distributed
    * prefix-sum + chunk assignment shared by [[packSequences]] and the
    * end of [[pipelineTrainingCorpus]]. */
  private def packCore(d: DataFrame, budget: Int = 512): DataFrame = {
    val bounds = d.agg(min(col("doc_id")).cast("double").as("lo"),
      (max(col("doc_id")) + 1).cast("double").as("hi"))
    val b = d.crossJoin(broadcast(bounds))
      .withColumn("bkt", width_bucket(col("doc_id").cast("double"),
        col("lo"), col("hi"), lit(64)).cast("int"))
      .drop("lo", "hi")
    val sums = b.groupBy(col("bkt")).agg(sum(col("n_toks")).as("s"))
    val other = sums.select(col("bkt").as("bkt_o"), col("s").as("s_o"))
    val offs = sums.join(broadcast(other), col("bkt_o") < col("bkt"), "left")
      .groupBy(col("bkt")).agg(coalesce(sum(col("s_o")), lit(0L)).as("off"))
    val w = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    b.join(broadcast(offs), "bkt")
      .withColumn("start_tok",
        col("off") + coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .select(col("doc_id"), col("n_toks"),
        col("start_tok"),
        expr(s"start_tok div $budget").as("chunk_id"),
        expr(s"start_tok % $budget").as("off_in_chunk"))
      .orderBy("doc_id")
  }

  // ── the CAPSTONE composite: the four stages a training-data run
  // actually chains, in dependency order — (1) intra-doc quality gate
  // (text_repetition's pass_gate), (2) benchmark decontamination (drop
  // eval docs AND anything sharing a 5-gram with them), (3) exact dedup
  // keeping the lowest doc_id per surviving text, (4) pack the survivors
  // into 512-token context windows. Every stage is the SAME plan as its
  // standalone key, composed lazily — Catalyst sees one DAG, so the
  // documents scan is shared and the gates fuse into the scan projection
  // where possible. The oracle spells out the identical four stages in
  // SQL: one green row machine-checks the whole pipeline's composition,
  // not just its parts. ──
  def pipelineTrainingCorpus(spark: SparkSession, dir: String): DataFrame = {
    // gate + hit set from the per-corpus memos (round 13): the repetition
    // stats and the exact contamination hit set ARE what this pipeline
    // filters on — previously it re-ran both upstream keys' full scans
    val pass = repetitionStats(spark, dir)
      .filter(col("pass_gate")).select("doc_id")
    val contaminated = contamExactHits(spark, dir).select("doc_id")
    val survivors = Tables.documents(spark, dir)
      .filter(col("doc_id") % 97 =!= 0) // eval docs never train
      .join(pass, "doc_id")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("text"))
    val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
    val deduped = survivors
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .withColumn("toks", toksCol)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"))
    packCore(deduped)
  }

  /** Word-5-gram shingles of `toks` (decontamination granularity — long
    * enough that sharing one is evidence of copied text, not vocabulary
    * overlap). Guarded: sequence(1, 0) descends, so short docs must
    * short-circuit to empty. */
  private val FiveGrams =
    "CASE WHEN size(toks) >= 5 THEN transform(sequence(1, size(toks) - 4)," +
      " i -> concat_ws(' ', slice(toks, i, 5)))" +
      " ELSE CAST(array() AS ARRAY<STRING>) END"

  // ── benchmark decontamination: flag every training doc that shares a
  // word-5-gram with the held-out evaluation set — THE pretraining
  // hygiene step (a model scored on benchmarks it memorized from training
  // data reports fiction). Eval membership here is a deterministic id
  // predicate (doc_id % 97 = 0) standing in for a real benchmark table of
  // the same shape. Plan: the EVAL side's distinct shingles broadcast
  // (benchmark-sized — thousands of docs — while the training corpus is
  // the 100 TB side); one broadcast semi-join over the training shingles,
  // distinct doc ids, left-join the flag back. The big side is touched
  // once, shuffled only for the final distinct on doc_id — and at scale
  // that distinct collapses into the per-partition dedup of a
  // already-doc-partitioned shingle stream. ──
  /** (doc_id, shingle) for each word 5-gram of each document. */
  private def docFiveGrams(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", toksCol)
      .select(col("doc_id"), explode(expr(FiveGrams)).as("shingle"))

  /** Exact-shingle contamination hit set (doc_id, contaminated=true),
    * memoized per corpus (round 13): the doc-id-sized flag relation both
    * `decontaminate` and `pipeline_training_corpus` derive from — the
    * training-side shingle pass ran once per consumer before. */
  private def contamExactHits(spark: SparkSession, dir: String): DataFrame =
    SharedCorpus.memo(spark, "contam_exact_hits", dir, "documents") {
      val sh = docFiveGrams(spark, dir)
      val evalSet = sh.filter(col("doc_id") % 97 === 0)
        .select("shingle").distinct()
      sh.filter(col("doc_id") % 97 =!= 0)
        .join(broadcast(evalSet), "shingle")
        .select("doc_id").distinct()
        .withColumn("contaminated", lit(true))
    }

  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 97 =!= 0)
      .join(contamExactHits(spark, dir), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .orderBy("doc_id")
  }

  /** Bloom sizing for [[decontaminateBloom]]: 2²⁰ bits (128 KB as a
    * word→bits map) with 4 probes. At m/n ≈ 10 bits per eval shingle the
    * false-positive rate is (1-e^(-kn/m))^k ≈ 1%, and every positive is
    * re-checked exactly, so the rate only sizes the verify join — it can
    * never change the answer. */
  private val BloomBits = 1L << 20
  private val BloomSeeds = 0 until 4

  // ── decontaminate, the 100 TB shape: identical semantics and OUTPUT to
  // `decontaminate` (machine-checked: the two keys share one oracle), but
  // the first contact between the training corpus and the eval set is a
  // 128 KB Bloom bitmap instead of the full distinct-shingle relation.
  // Construction is pure SQL aggregation — k probe positions per eval
  // shingle via seeded xxhash64, bit_or per 64-bit word — so the filter
  // is built distributed and lands on the driver only as a map-typed
  // scalar. Application is the repo's scalar-broadcast idiom
  // (crossJoin(broadcast(1 row))): each training shingle tests k bits
  // with codegen'd element_at/shiftleft expressions — zero extra
  // shuffle, no UDF. Bloom positives (true hits + ~1% false positives)
  // then hit the exact eval-shingle set, which at scale is joined only
  // against this tiny candidate stream. No false negatives by
  // construction, so candidates ∩ eval = exact hits. ──
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame = {
    val sh = docFiveGrams(spark, dir)
    val evalSet = sh.filter(col("doc_id") % 97 === 0)
      .select("shingle").distinct()

    val positions = BloomSeeds.map(s =>
      expr(s"pmod(xxhash64(shingle, $s), ${BloomBits}L)"))
    val bloom = bloomWords(evalSet, positions)
      .agg(map_from_entries(collect_list(struct(col("word"), col("bits"))))
        .as("bloom"))

    val mightContain = BloomSeeds.map { s =>
      val pos = s"pmod(xxhash64(shingle, $s), ${BloomBits}L)"
      expr(s"""(coalesce(element_at(bloom, CAST($pos div 64 AS INT)),
              |          CAST(0 AS BIGINT))
              | & shiftleft(CAST(1 AS BIGINT), CAST($pos % 64 AS INT))) != 0
              |""".stripMargin)
    }.reduce(_ && _)

    val hits = sh.filter(col("doc_id") % 97 =!= 0)
      .crossJoin(broadcast(bloom))
      .filter(mightContain)                      // Bloom prefilter
      .join(broadcast(evalSet), "shingle")       // exact confirm
      .select("doc_id").distinct()
      .withColumn("contaminated", lit(true))
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 97 =!= 0)
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("contaminated"), lit(false)).as("contaminated"))
      .orderBy("doc_id")
  }

  // ── intra-document repetition filter (the Gopher/RefinedWeb quality
  // rules): duplicate-token fraction and most-frequent-bigram fraction
  // per doc, plus the pass/fail gate. Everything is computed INSIDE the
  // row with higher-order functions — array_distinct for the dup
  // fraction, and the top-bigram count as a fold over the SORTED bigram
  // array tracking the longest equal run (sorting groups duplicates
  // adjacently, so max run length = max multiplicity) — zero shuffles,
  // scan-speed, the per-row independence that lets a quality gate run as
  // a side effect of ingest at any corpus size. ──
  /** Per-doc repetition stats, memoized per corpus (round 13): consumed
    * sorted by the text_repetition key AND as the quality gate inside
    * pipeline_training_corpus — doc-sized, per-row deterministic values. */
  private def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    SharedCorpus.memo(spark, "repetition_stats", dir, "documents") {
      val bigrams =
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1)," +
          " i -> concat(toks[i-1], ' ', toks[i]))" +
          " ELSE CAST(array() AS ARRAY<STRING>) END"
      val topRun =
        """aggregate(array_sort(bgs),
          |  struct(CAST('' AS STRING) AS prev, CAST(0 AS BIGINT) AS run,
          |         CAST(0 AS BIGINT) AS best),
          |  (acc, x) -> struct(x AS prev,
          |    IF(x = acc.prev, acc.run + 1, CAST(1 AS BIGINT)) AS run,
          |    GREATEST(acc.best, IF(x = acc.prev, acc.run + 1, CAST(1 AS BIGINT))) AS best),
          |  acc -> acc.best)""".stripMargin
      Tables.documents(spark, dir)
        .withColumn("toks", toksCol)
        .withColumn("n", size(col("toks")))
        .withColumn("bgs", expr(bigrams))
        .withColumn("dup_tok_frac", round(
          (col("n") - size(array_distinct(col("toks")))).cast("double") / col("n"), 6))
        .withColumn("top_bigram_frac", round(
          expr(topRun).cast("double") /
            greatest(col("n") - 1, lit(1)).cast("double"), 6))
        .select(col("doc_id"), col("dup_tok_frac"), col("top_bigram_frac"),
          (col("dup_tok_frac") <= 0.3 && col("top_bigram_frac") <= 0.2)
            .as("pass_gate"))
    }

  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    repetitionStats(spark, dir).orderBy("doc_id")

  // ── n-gram novelty: per document, the fraction of its distinct word
  // 3-grams that appear NOWHERE else in the corpus — the memorization/
  // boilerplate signal (low novelty = templated or duplicated text; the
  // aggregate corpus-level form of what dedup_ngram detects pairwise).
  // Two shuffles, both on bounded keys: df per shingle (map-side partial
  // count — a boilerplate shingle in 10^8 docs still aggregates
  // hierarchically), then shingle-keyed join back (AQE skew-split handles
  // the hot boilerplate keys). Per-doc state is one count pair. ──
  def textNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = wordTrigrams(Tables.documents(spark, dir)).distinct()
    // no shingle-keyed join back (round 13): a df = 1 shingle belongs to
    // exactly ONE document, so min(doc_id) over the distinct pairs IS the
    // owner — per-doc unique counts come from the df frame directly and
    // the corpus-sized shingle stream is never re-shuffled a second time.
    // Both aggregations consume the SAME distinct exchange (reused); all
    // counts exact int64 — identical novelty values.
    val perDoc = sh.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
    val uniq = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("owner"))
      .filter(col("df") === 1)
      .groupBy(col("owner")).agg(count(lit(1)).as("n_unique"))
    perDoc.join(uniq.withColumnRenamed("owner", "doc_id"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"))
      .withColumn("novelty",
        round(col("n_unique").cast("double") / col("n_shingles"), 6))
      .orderBy("doc_id")
  }

  // ── duplicated-SPAN detection (the sub-document form of what dedup_*
  // does per document — Lee et al. 2022 showed most training-data
  // duplication hides INSIDE otherwise-unique documents): every sliding
  // 8-token span, flagged when the identical span also occurs in another
  // document. One shuffle on the span key (map-side partial distinct),
  // one span-keyed join back, one per-doc aggregate — the exact-match
  // skeleton of a suffix-array span dedup; production swaps the span
  // string for xxhash64(span) exactly like the *_fast fingerprint keys
  // (8-byte keys through the shuffle instead of ~50-byte strings). ──
  def textSpanDedup(spark: SparkSession, dir: String): DataFrame = {
    val sp = Tables.documents(spark, dir)
      .withColumn("toks", toksCol)
      .filter(size(col("toks")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 7)," +
          " i -> array_join(slice(toks, i, 8), ' '))")).as("span"))
    val global = sp.groupBy(col("span"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    val perDoc = sp.join(global, "span")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum((col("nd") >= 2).cast("long")).as("n_dup_spans"))
    Tables.documents(spark, dir)
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        when(col("n_spans").isNull, lit(0.0d))
          .otherwise(round(col("n_dup_spans").cast("double") /
            col("n_spans"), 6) + lit(0.0d)).as("dup_ratio"))
      .orderBy("doc_id")
  }

  // ── block-level boilerplate REMOVAL (the destructive twin of
  // text_span_dedup): documents are chunked into non-overlapping 8-token
  // blocks; each distinct block keeps only its FIRST occurrence
  // (doc_id, block-position order) corpus-wide, and every document is
  // reassembled from its surviving blocks — headers/footers/licence
  // blocks repeated across a crawl vanish from all but one document.
  // The keep/drop decision is one window over the block key (state = one
  // row per distinct block); reassembly is a per-doc sort of its own
  // ≤⌈len/8⌉ blocks — both scale-safe. ──
  def textBlockDedup(spark: SparkSession, dir: String): DataFrame = {
    val blocks = Tables.documents(spark, dir)
      .withColumn("toks", toksCol)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, (size(toks) + 7) div 8 - 1)," +
          " b -> struct(b AS b, array_join(slice(toks, b * 8 + 1, 8), ' ') AS blk))"))
        .as("x"))
      .select(col("doc_id"), col("x.b").as("b"), col("x.blk").as("blk"))
    val w = Window.partitionBy(col("blk")).orderBy(col("doc_id"), col("b"))
    blocks
      .withColumn("kept", row_number().over(w) === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("kept").cast("long")).as("kept_blocks"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(CASE WHEN kept THEN struct(b, blk) END))," +
            " x -> x.blk)")).as("new_text"))
      .orderBy("doc_id")
  }

  // ── pairwise source-vocabulary overlap: Jaccard similarity between
  // every pair of sources' token sets — the provenance diagnostic that
  // catches two "different" providers scraping the same site (high
  // overlap ⇒ the dedup pipeline should treat them as one pool). One
  // distinct (source, token) relation, self-joined ON TOKEN (vocabulary-
  // bounded key, each token carries ≤ |sources| rows — never a pairwise
  // doc join); set sizes come from one tiny aggregate broadcast twice. ──
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables.documents(spark, dir)
      .withColumn("toks", toksCol)
      .select(col("source"), explode(col("toks")).as("token"))
      .distinct()
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    val inter = st.select(col("source").as("src_a"), col("token"))
      .join(st.select(col("source").as("src_b"), col("token")), "token")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("src_a"), col("sz").as("sza"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("sz").as("szb"))), "src_b")
      .select(col("src_a"), col("src_b"), col("inter"),
        (round(col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")), 6) + lit(0.0d))
          .as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  // ── collocations: pointwise mutual information of adjacent token
  // bigrams across the corpus — the "which words travel together"
  // diagnostic (phrase detection, tokenizer-merge candidates). Bigrams
  // come from zipping each token array with itself shifted by one (pure
  // per-row array ops, no positional explode+self-join); unigram counts
  // are vocabulary-sized and broadcast. PMI = ln(P(ab) / (P(a)·P(b))),
  // computed from integer counts in one expression and rounded once —
  // both engines evaluate ln on the identical double. Emitted for pairs
  // seen ≥ 5 times, ordered by the pair itself (total order). ──
  def textCollocations(spark: SparkSession, dir: String): DataFrame = {
    // unigram model and bigram stream are memoized corpus state (round
    // 13) — previously rebuilt (explode + zip) per invocation
    val uni = unigramCounts(spark, dir)
    val nUni = uni.agg(sum(col("cnt")).as("n_uni"))
    val big = wordBigrams(spark, dir)
      .select(col("w1").as("tok_a"), col("w2").as("tok_b"))
    val nBig = big.agg(count(lit(1)).as("n_big"))
    big.groupBy(col("tok_a"), col("tok_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 5)
      .join(broadcast(uni.select(col("t").as("tok_a"), col("cnt").as("n_a"))), "tok_a")
      .join(broadcast(uni.select(col("t").as("tok_b"), col("cnt").as("n_b"))), "tok_b")
      .crossJoin(broadcast(nBig)).crossJoin(broadcast(nUni))
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        (round(log((col("n_ab").cast("double") / col("n_big")) /
          ((col("n_a").cast("double") / col("n_uni")) *
            (col("n_b").cast("double") / col("n_uni")))), 6) + lit(0.0d))
          .as("pmi"))
      .orderBy("tok_a", "tok_b")
  }

  // ── CCNet-style language-model quality score: a bigram LM with add-one
  // smoothing is trained ON THE CORPUS ITSELF, then every document is
  // scored by its mean bigram log-probability (and perplexity exp(−mean))
  // — the "how typical is this text of the corpus" signal pretraining
  // pipelines use to rank/filter documents (CCNet, Wenzek et al. 2020,
  // uses a KenLM; the self-trained bigram form keeps the same shape and
  // needs no external model). Scale shape: the bigram relation is built
  // once and cached (it feeds the count model AND the scoring pass); the
  // count tables are token-keyed aggregations with map-side partials; the
  // score join shuffles on the (w1, w2) key the counts already have. The
  // context-count table is broadcast here (vocab-sized, like the
  // collocation unigrams) — drop the hint past broadcast scale and the
  // same plan degrades to a co-partitioned shuffle join. Determinism: each
  // bigram's log-prob is rounded to 9 dp and summed in DECIMAL(18,9), so
  // the per-document mean is partition-order-free; perplexity is computed
  // FROM the 6-dp-rounded mean, so both engines exponentiate identical
  // doubles. ──
  def textLmScore(spark: SparkSession, dir: String): DataFrame = {
    // the bigram stream is memoized corpus state (round 13) — this key
    // previously paid its own per-invocation Eager checkpoint of it; the
    // vocabulary size is one count over the memoized unigram table
    // (identical to countDistinct over the token occurrences)
    val bigM = wordBigrams(spark, dir)
    val c2 = bigM.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = bigM.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = unigramCounts(spark, dir).agg(count(lit(1)).as("v"))
    bigM
      .join(c2, Seq("w1", "w2"))
      .join(broadcast(c1), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("logp_r",
        round(log((col("c2") + 1).cast("double") / (col("c1") + col("v"))), 9)
          .cast("decimal(18,9)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (round(sum(col("logp_r")).cast("double") / count(lit(1)), 6) + lit(0.0d))
          .as("avg_logp"))
      .withColumn("ppl", round(exp(-col("avg_logp")), 6) + lit(0.0d))
      .orderBy("doc_id")
  }

  // ── Zipf-law fit over the corpus token-frequency distribution — the
  // classic sanity check on a training corpus's naturalness (natural text
  // has log-log slope ≈ −1; scraped boilerplate or synthetic spam bends
  // the curve). One shuffle to the vocabulary-sized count table, a
  // TakeOrdered top-100, then the engine's codegen'd regression moments
  // (regr_slope/intercept/r2) over ln rank × ln count. The row_number
  // window runs on ≤100 rows (model-sized single partition — same waiver
  // class as the codebook collects); at 100 TB the only corpus-scale
  // stage is the token groupBy, which partial-aggregates map-side. ──
  def textZipfFit(spark: SparkSession, dir: String): DataFrame = {
    // memoized corpus unigram table (round 13), empty token filtered as
    // before
    val cnts = unigramCounts(spark, dir)
      .filter(col("t") =!= "")
      .select(col("t").as("token"), col("cnt"))
    val vocab = cnts.agg(count(lit(1)).as("vocab_n"))
    val ord = Seq(col("cnt").desc, col("token").asc)
    val top = cnts.orderBy(ord: _*).limit(100)
      .withColumn("rank", row_number().over(Window.orderBy(ord: _*)))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    top.agg(count(lit(1)).as("n_fit"),
        (round(expr("regr_slope(y, x)"), 6) + lit(0.0d)).as("slope"),
        (round(expr("regr_intercept(y, x)"), 6) + lit(0.0d)).as("intercept"),
        (round(expr("regr_r2(y, x)"), 6) + lit(0.0d)).as("r2"))
      .crossJoin(broadcast(vocab))
      .select(col("vocab_n"), col("n_fit"), col("slope"),
        col("intercept"), col("r2"))
  }

  // ── Within-document duplicated-n-gram coverage — the RefinedWeb /
  // Gopher repetition signal: what fraction of a doc's trigram
  // OCCURRENCES belong to a trigram that repeats inside the same doc.
  // (text_repetition measures token- and top-bigram repetition; this is
  // the n-gram-coverage variant those filters pair with.) Per-doc work
  // only: the (doc_id, gram) groupBy partial-aggregates map-side and the
  // second groupBy reuses the same doc_id-clustered shuffle output, so
  // at 100 TB this is one pass over the corpus with no cross-doc joins. ──
  def textDupNgramCoverage(spark: SparkSession, dir: String): DataFrame = {
    wordTrigrams(Tables.documents(spark, dir))
      .groupBy(col("doc_id"), col("shingle"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_trigrams"),
        sum(when(col("c") > 1, col("c")).otherwise(lit(0L)))
          .as("dup_occurrences"))
      .withColumn("dup_frac",
        round(col("dup_occurrences").cast("double") / col("n_trigrams"), 6)
          + lit(0.0d))
      .orderBy("doc_id")
  }

  // ── Sliding-window chunk manifest (the RAG / context-window prep
  // companion to pack_sequences): each doc splits into 32-token chunks
  // at stride 24 (8-token overlap), last chunk takes the remainder.
  // Pure per-row integer arithmetic + explode — embarrassingly
  // parallel, no shuffle at all (the orderBy is presentation-only).
  // ceil((n−W)/S) is computed in INTEGER form (n−9) div 24 wrapped in
  // greatest(0, …): Spark `div` truncates toward zero while DuckDB
  // `//` floors, so a negative numerator would diverge without the
  // clamp. ──
  def textChunkOverlap(spark: SparkSession, dir: String): DataFrame = {
    val (w, s) = (32, 24)
    Tables.documents(spark, dir)
      .select(col("doc_id"), size(toksCol).as("n"))
      .filter(col("n") > 0)
      .withColumn("n_chunks",
        lit(1) + greatest(lit(0), expr(s"(n - ${w - s + 1}) div $s")))
      .select(col("doc_id"), col("n"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("k"))
      .select(col("doc_id"), col("k").cast("int").as("chunk_id"),
        (col("k") * s).cast("long").as("start_tok"),
        least(lit(w), col("n") - col("k") * s).cast("long").as("chunk_len"))
      .orderBy("doc_id", "chunk_id")
  }

  // ── Heaps-law vocabulary growth: cumulative distinct vocabulary vs
  // cumulative token count, sampled at every doc in doc_id order — the
  // "is the corpus still adding new words" saturation curve (paired
  // with text_zipf_fit's frequency view). Each token's first-occurrence
  // doc is a single min-aggregation, so the curve needs NO per-prefix
  // distinct counting — vocabulary introduced at doc d is just the
  // count of tokens whose min(doc_id) = d, and both cumulatives are
  // prefix sums. The ordered prefix window runs over the doc-count-
  // sized frame (one row per doc), not the corpus. ──
  def textHeapsLaw(spark: SparkSession, dir: String): DataFrame = {
    // both marginals re-aggregate the shared [[docTermCounts]] memo
    // (round 13, session 3): min over doc_ids and Σc per doc are
    // value-identical to the former occurrence-stream derivation
    // (coalesce keeps nt's former count() non-nullability)
    val f = docTermCounts(spark, dir)
    val nv = f.groupBy(col("tok")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("nv"))
    val nt = f.groupBy(col("doc_id"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("nt"))
    val w = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    nt.join(nv, Seq("doc_id"), "left")
      .select(col("doc_id"),
        sum(col("nt")).over(w).as("cum_tokens"),
        sum(coalesce(col("nv"), lit(0L))).over(w).as("cum_vocab"))
      .orderBy("doc_id")
  }

  // ── multinomial naive-Bayes language classifier, trained and scored
  // in pure SQL-expressible arithmetic (resubstitution protocol — the
  // classic "can a unigram model separate the langs" diagnostic that
  // text_lang_id's heuristic markers approximate): add-one-smoothed
  // token likelihoods ln((c+1)/(T_l+V)), log-priors, per-(doc, lang)
  // score = prior + Σ token log-probs. Log terms are rounded to 9 dp
  // and summed in DECIMAL (the text_lm_score discipline), so the
  // argmax compares exact decimals — no float ever picks the winner;
  // ties break to the alphabetically first lang. The per-lang token
  // table is vocabulary-sized (broadcasts at scale); scoring is one
  // map-side join + a (doc, lang) aggregation. The tiny lang frame
  // cross-joins the doc tokens (plan audit). ──
  def textNbLang(spark: SparkSession, dir: String): DataFrame =
    nbVerdicts(spark, dir).orderBy("doc_id")

  /** Memoized per-corpus NB verdict table (round 12, optimization pass):
    * train + score happen ONCE per corpus and the |corpus|-row verdict
    * frame is corpus state in the [[SharedCorpus]] sense — the classifier
    * key reads it sorted, and both eval summaries (eval_nb_confusion,
    * eval_cohen_kappa) aggregate its marginals. Until this round each of
    * the three keys re-ran the full train+score plan (~2.5–5 s each at
    * sf0.1 for identical verdicts); a production eval suite scores the
    * corpus once and derives every report from the same prediction
    * table. */
  private def nbVerdicts(spark: SparkSession, dir: String): DataFrame =
    SharedCorpus.memo(spark, "nb_verdicts", dir, "documents") {
      // the token frame feeds FOUR consumers (vocab, totals, counts and the
      // scoring join) inside one action — materialized once via [[Eager]] so
      // concurrent stages can never race the explode into 4 recomputes
      val f = Eager(Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), explode(toksCol).as("tok"))
        .filter(col("tok") =!= ""))
      // priors feeds TWO consumers (the lang×vocab grid and the final
      // logprior join) — Eager'd, or each re-scans documents for a
      // |langs|-row frame (caught by the fixed checkpoint audit, round 10)
      val priors = Eager(Tables.documents(spark, dir)
        .groupBy(col("lang").as("l")).agg(count(lit(1)).as("nd"))
        .withColumn("ntot",
          sum(col("nd")).over(Window.partitionBy(lit(1))))
        .withColumn("logprior",
          round(log(col("nd").cast("double") / col("ntot")), 9)
            .cast("decimal(18,9)")))
      val vocab = f.agg(countDistinct(col("tok")).as("v"))
      val totals = f.groupBy(col("lang").as("l"))
        .agg(count(lit(1)).as("tl"))
      val counts = f.groupBy(col("lang").as("l"), col("tok"))
        .agg(count(lit(1)).as("c"))
      val langs = priors.select(col("l")).crossJoin(broadcast(vocab))
        .join(totals, "l")
      val scored = f.select(col("doc_id"), col("lang"), col("tok"))
        .crossJoin(broadcast(langs))
        .join(broadcast(counts), Seq("l", "tok"), "left")
        .withColumn("logp",
          round(log((coalesce(col("c"), lit(0L)) + 1).cast("double") /
            (col("tl") + col("v"))), 9).cast("decimal(18,9)"))
        .groupBy(col("doc_id"), col("lang"), col("l"))
        .agg(sum(col("logp")).as("s"))
        .join(broadcast(priors.select(col("l"), col("logprior"))), "l")
        .withColumn("score", col("s") + col("logprior"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("l"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang").as("true_lang"),
          col("l").as("pred_lang"),
          (col("l") === col("lang")).as("correct"),
          col("score").cast("double").as("nb_score"))
    }

  // ── Gopher-style rule audit: the published heuristic quality FILTER
  // (Rae et al. 2021 §A1.1) as an explicit per-document rule table —
  // where [[textQuality]] blends signals into one score, this is the
  // conjunctive gate curation pipelines actually deploy, with each
  // rule's measured value AND verdict exposed so a corpus owner can see
  // WHICH rule drops a document. Rules (bounds scaled to this corpus's
  // ~16-word docs, same shape as the paper's): word count in [5,1000],
  // mean word length in [2,12], ≥80% of words contain a letter, <10%
  // symbol(#)-to-word ratio, ≥2 distinct stopword markers. Everything
  // is per-row HOF arithmetic on the shared tokenizer — one scan, no
  // shuffle until the presentation sort. ──
  def textQualityGopher(spark: SparkSession, dir: String): DataFrame = {
    val markers = EnMarkers.map(m => s"'$m'").mkString(", ")
    Tables.documents(spark, dir)
      .withColumn("toks", toksCol)
      .withColumn("n_words", size(col("toks")))
      .withColumn("mean_wl",
        round(length(regexp_replace(col("text"), "\\s", "")).cast("double") /
          col("n_words"), 6))
      .withColumn("alpha_frac", expr("round(cast(size(filter(toks," +
        " t -> t rlike '[a-z]')) as double) / n_words, 6)"))
      .withColumn("sym_ratio", expr("round(cast(length(text)" +
        " - length(replace(text, '#', '')) as double) / n_words, 6)"))
      .withColumn("n_stop_distinct",
        expr(s"size(array_distinct(filter(toks, t -> t IN ($markers))))"))
      .select(col("doc_id"), col("n_words"), col("mean_wl"),
        col("alpha_frac"), col("sym_ratio"), col("n_stop_distinct"),
        (col("n_words") >= 5 && col("n_words") <= 1000).as("r_words"),
        (col("mean_wl") >= 2.0 && col("mean_wl") <= 12.0).as("r_mwl"),
        (col("alpha_frac") >= 0.8).as("r_alpha"),
        (col("sym_ratio") < 0.1).as("r_sym"),
        (col("n_stop_distinct") >= 2).as("r_stop"))
      .withColumn("pass", col("r_words") && col("r_mwl") &&
        col("r_alpha") && col("r_sym") && col("r_stop"))
      .orderBy("doc_id")
  }

  // ── MATTR lexical diversity: plain type-token ratio falls with doc
  // LENGTH (longer docs repeat words), so corpora can't be compared on
  // it; the moving-average TTR (Covington & McFall 2010) averages the
  // distinct-fraction over every 10-token sliding window, making the
  // number length-invariant — the standard lexical-richness signal next
  // to [[textHeapsLaw]]'s corpus-level curve. Whole computation is
  // per-row HOF arithmetic (window distinct counts are exact integers,
  // summed in the fold; ONE division at the end); docs shorter than the
  // window fall back to whole-doc TTR. One scan, zero shuffles before
  // the presentation sort. ──
  def textMattr(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("toks", toksCol)
      .withColumn("n_words", size(col("toks")))
      .withColumn("n_types", expr("size(array_distinct(toks))"))
      .withColumn("ttr",
        expr("round(cast(n_types as double) / n_words, 6)"))
      .withColumn("mattr", expr("round(cast(CASE WHEN n_words < 10" +
        " THEN cast(n_types as double) / n_words" +
        " ELSE cast(aggregate(transform(sequence(1, n_words - 9)," +
        "   i -> size(array_distinct(slice(toks, i, 10))))," +
        "   0L, (a, x) -> a + x) as double) / (10 * (n_words - 9))" +
        " END as double), 6)"))
      .select(col("doc_id"), col("n_words"), col("n_types"),
        col("ttr"), col("mattr"))
      .orderBy("doc_id")
  }

  // ── character-bigram entropy per document, in bits — the cheap
  // compression-ratio proxy the quality literature uses to catch
  // templated/repetitive text (low entropy ≈ compresses well ≈ likely
  // boilerplate; the character-level companion of
  // [[textDupNgramCoverage]]'s word-level repetition). Bigram counts
  // per doc are exact integers (one corpus-linear shuffle keyed by
  // doc+bigram); every probability is an exact integer ratio, each
  // p·ln p term is snapped to 9 dp DECIMAL before the per-doc sum (the
  // libm/order device — a doc can have hundreds of terms, too many to
  // trust a raw double sum at 6 dp), and the bits conversion divides
  // once by ln 2. ──
  /** Per-(doc, lang, bigram) exact counts over the lowercased corpus —
    * the shared base of BOTH entropy keys (round 13): text_char_entropy
    * re-aggregates per doc, text_cond_entropy per lang; counts are exact
    * int64, so each key's second-level aggregation is value-identical to
    * the per-key explode it replaced. Bigrams via a char-array split
    * (round 12): substring(txt, i, 2) re-seeks the UTF8 string from byte
    * 0 per position — O(len²) per document; splitting once and indexing
    * the char array is O(len) with identical values per code point
    * (element_at is 1-based, so chars i, i+1 ARE substring(txt, i, 2)). */
  private def charBigramCounts(spark: SparkSession, dir: String): DataFrame =
    SharedCorpus.memo(spark, "char_bigram_counts", dir, "documents") {
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"), lower(col("text")).as("txt"))
        .filter(length(col("txt")) >= 2)
        .withColumn("cs", split(col("txt"), ""))
        .select(col("doc_id"), col("lang"),
          (length(col("txt")) - 1).as("n"),
          explode(expr("transform(sequence(1, length(txt) - 1)," +
            " i -> concat(element_at(cs, i), element_at(cs, i + 1)))"))
            .as("bg"))
        .groupBy(col("doc_id"), col("lang"), col("n"), col("bg"))
        .agg(count(lit(1)).as("c"))
    }

  def textCharEntropy(spark: SparkSession, dir: String): DataFrame = {
    charBigramCounts(spark, dir)
      .select(col("doc_id"), col("n"), col("bg"), col("c"))
      .withColumn("t9", expr("cast(round((cast(c as double) / n)" +
        " * ln(cast(c as double) / n), 9) as decimal(18,9))"))
      .groupBy(col("doc_id"))
      .agg(first(col("n")).as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        sum(col("t9")).as("s"))
      .select(col("doc_id"), col("n_bigrams"), col("n_distinct"),
        (round(expr("-cast(s as double) / ln(cast(2 as double))"), 6)
          + lit(0.0d)).as("entropy_bits"))
      .orderBy("doc_id")
  }

  // ── sentence segmentation profile: per document, how many sentences
  // ([.!?]+ boundaries, fragments without an alphanumeric discarded),
  // their mean length in characters, and the longest one — the
  // structural signal the flat token counters miss (a 2,000-char doc
  // that is ONE run-on "sentence" is usually boilerplate or a table
  // dump, and RAG chunkers that split on sentences need this
  // distribution before choosing chunk sizes). Everything is per-row
  // array arithmetic (split → filter → fold) inside whole-stage
  // codegen: no explode, no shuffle — the corpus is scanned once and
  // only the 4-column profile survives. The regex class is shared
  // verbatim with the oracle (both engines are re-flavor-compatible on
  // a plain character class). ──
  def textSentences(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("sents", expr(
        """filter(transform(split(text, '[.!?]+'), x -> trim(x)),
          |       x -> x rlike '[A-Za-z0-9]')""".stripMargin))
      .withColumn("n_sentences", size(col("sents")).cast("long"))
      .withColumn("tot_chars", expr(
        "aggregate(sents, 0L, (a, x) -> a + length(x))"))
      .select(col("doc_id"), col("n_sentences"),
        (round(expr("CASE WHEN n_sentences > 0 THEN" +
          " cast(tot_chars as double) / n_sentences END"), 6) + lit(0.0d))
          .as("avg_sent_chars"),
        expr("aggregate(sents, 0L," +
          " (a, x) -> greatest(a, cast(length(x) as bigint)))")
          .as("max_sent_chars"))
      .orderBy("doc_id")

  // ── token-frequency drift between corpus halves: which words are
  // RISING or FALLING when the corpus is split by doc_id median — the
  // vocabulary-level drift detector (stats_jsd scores the event-type
  // distribution; this names the exact tokens moving, which is what a
  // data curator acts on when a crawl's character changes between
  // dumps). Shares are exact integer ratios per half; the top-20
  // movers by |Δshare| (ppm-scaled integer tiebreak, then token) come
  // out of ONE TakeOrderedAndProject over the vocabulary-sized count
  // frame. Halves split at the median doc_id (data-derived via an
  // exact percentile on the doc frame — broadcast scalar). ──
  def textFreqDrift(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val mid = docs.agg(
      // explicit floor: DuckDB CAST(DOUBLE AS BIGINT) rounds while
      // Spark's cast truncates — floor is the same in both
      expr("CAST(floor(percentile(doc_id, 0.5)) AS BIGINT)").as("mid"))
    // per-half sums of the shared [[docTermCounts]] memo (round 13,
    // session 3): Σc over docs ≤/> mid equals the former per-occurrence
    // 1L sums exactly
    val counts = docTermCounts(spark, dir).crossJoin(broadcast(mid))
      .groupBy(col("tok"))
      .agg(sum(when(col("doc_id") <= col("mid"), col("c")).otherwise(0L))
          .as("ca"),
        sum(when(col("doc_id") > col("mid"), col("c")).otherwise(0L))
          .as("cb"))
    val tot = counts.agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
    counts.crossJoin(broadcast(tot))
      .withColumn("share_a", expr("cast(ca as double) / ta"))
      .withColumn("share_b", expr("cast(cb as double) / tb"))
      .withColumn("dppm", expr(
        "abs(cb * 1000000 div tb - ca * 1000000 div ta)"))
      .orderBy(desc("dppm"), col("tok"))
      .limit(20)
      .select(col("tok"), col("ca"), col("cb"),
        r6(col("share_a")).as("share_a"),
        r6(col("share_b")).as("share_b"),
        r6(expr("share_b - share_a")).as("delta_share"))
  }

  // ── per-class evaluation of the NB language classifier — the
  // confusion summary that turns text_nb_lang's per-doc verdicts into
  // the table a model owner reads: per language, support, predicted
  // count, true positives, precision/recall/F1, with overall accuracy
  // alongside (grid-window over the |langs|-row frame). Reuses the
  // classifier key itself, so this measures the shipped model path;
  // all metrics are exact-integer ratios. ──
  def evalNbConfusion(spark: SparkSession, dir: String): DataFrame = {
    // both marginals read the memoized verdict table ([[nbVerdicts]]) —
    // train + score happen once per CORPUS now, not once per key
    val preds = nbVerdicts(spark, dir)
      .select(col("true_lang"), col("pred_lang"))
    val tpf = preds.groupBy(col("true_lang").as("lang"))
      .agg(count(lit(1)).as("n_true"),
        sum((col("pred_lang") === col("true_lang")).cast("long")).as("tp"))
    val pf = preds.groupBy(col("pred_lang")).agg(count(lit(1)).as("n_pred"))
    tpf
      .join(pf, col("lang") === col("pred_lang"), "left")
      .withColumn("n_pred", coalesce(col("n_pred"), lit(0L)))
      .withColumn("acc", expr(
        "cast(sum(tp) over () as double) / sum(n_true) over ()"))
      .withColumn("p", expr(
        "CASE WHEN n_pred > 0 THEN cast(tp as double) / n_pred END"))
      .withColumn("r", expr("cast(tp as double) / n_true"))
      .select(col("lang"), col("n_true"), col("n_pred"), col("tp"),
        r6(col("p")).as("precision"), r6(col("r")).as("recall"),
        r6(expr("CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) END"))
          .as("f1"),
        r6(col("acc")).as("overall_accuracy"))
      .orderBy("lang")
  }

  // ── Matthews correlation of the marker-ratio language gate
  // (text_lang_id's en-vs-rest heuristic) against the true labels —
  // MCC is the single-number binary-classifier grade that stays honest
  // under class imbalance (accuracy flatters a gate that predicts the
  // majority class; a skewed corpus is exactly where language gates
  // run). Four exact int64 confusion cells from ONE scan; the product
  // under the root runs in double (the cells are exact, the root is
  // one expression), NULL when any marginal is empty. ──
  def evalLangidMcc(spark: SparkSession, dir: String): DataFrame = {
    val preds = textLangId(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
        "doc_id")
      .select((col("pred_lang") === "en").as("ppos"),
        (col("lang") === "en").as("apos"))
    preds.agg(
        sum((col("ppos") && col("apos")).cast("long")).as("tp"),
        sum((col("ppos") && !col("apos")).cast("long")).as("fp"),
        sum((!col("ppos") && col("apos")).cast("long")).as("fn"),
        sum((!col("ppos") && !col("apos")).cast("long")).as("tn"))
      .withColumn("den", expr(
        "sqrt(cast(tp + fp as double) * (tp + fn) * (tn + fp) * (tn + fn))"))
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        r6(expr("cast(tp + tn as double) / (tp + fp + fn + tn)"))
          .as("accuracy"),
        r6(expr("CASE WHEN den > 0 THEN" +
          " (cast(tp as double) * tn - cast(fp as double) * fn) / den" +
          " END")).as("mcc"))
  }

  // ── per-language character-level conditional entropy H(c₂|c₁) and
  // redundancy — the script-aware compressibility proxy text_char_
  // entropy reports per document, lifted to the LANGUAGE level where it
  // becomes a contamination detector (an "en" slice whose conditional
  // entropy drifts toward zh's is mislabeled or mixed). H(c₂|c₁) =
  // H(bigram) − H(prefix) via the chain rule; every p·ln p term snaps
  // to a 9-dp DECIMAL before summation (the KM device), so the two
  // entropy sums are order-independent exactly. The corpus reduces to
  // (lang, bigram) cells first — explode is corpus-linear but the
  // shuffle carries only dictionary-sized cells. ──
  def textCondEntropy(spark: SparkSession, dir: String): DataFrame = {
    // per-lang cells re-aggregated from the shared per-doc bigram counts
    // (round 13) — summing exact per-doc int64 counts gives the identical
    // (lang, bg) totals the standalone explode produced
    val cells = charBigramCounts(spark, dir)
      .groupBy(col("lang"), col("bg")).agg(sum(col("c")).as("c"))
      .transform(Eager(_)) // 4 consumers (nT, hbg, hp, v2), ONE re-agg
    val nT = cells.groupBy(col("lang"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_bg"))
    val t9 = "cast(round((cast(%s as double) / n)" +
      " * ln(cast(%s as double) / n), 9) as decimal(18,9))"
    val hbg = cells.join(broadcast(nT), "lang")
      .withColumn("t9", expr(t9.format("c", "c")))
      .groupBy(col("lang")).agg(sum(col("t9")).as("sb"))
    val hp = cells
      .groupBy(col("lang"), expr("substring(bg, 1, 1)").as("c1"))
      .agg(sum(col("c")).as("cp"))
      .join(broadcast(nT), "lang")
      .withColumn("t9", expr(t9.format("cp", "cp")))
      .groupBy(col("lang"))
      .agg(sum(col("t9")).as("sp"), count(lit(1)).as("n_prefix"))
    val v2 = cells.select(col("lang"), expr("substring(bg, 2, 1)").as("c2"))
      .distinct().groupBy(col("lang")).agg(count(lit(1)).as("v2"))
    nT.join(hbg, "lang").join(hp, "lang").join(v2, "lang")
      .select(col("lang"), col("n").as("n_bigrams"),
        col("n_bg").as("n_distinct_bigrams"), col("n_prefix"), col("v2"),
        r6(expr("-cast(sb as double) / ln(cast(2 as double))"))
          .as("h_bigram_bits"),
        r6(expr("cast(sp - sb as double) / ln(cast(2 as double))"))
          .as("h_cond_bits"),
        r6(expr("1.0 - cast(sp - sb as double)" +
          " / ln(cast(v2 as double))")).as("redundancy"))
      .orderBy("lang")
  }

  // ── one-round IPF (raking) mix weights over the source×lang grid —
  // the training-mix planner's answer to "what per-cell sampling weight
  // makes every SOURCE and every LANGUAGE contribute equally": scale
  // rows to N/S, then columns to N/L on the row-scaled mass, the
  // classical iterative-proportional-fitting step. Cell counts are
  // exact int64; the row factor is one cast-first division, the
  // column's rescaled mass sums |sources| doubles (≤ a handful — 1e-15
  // noise against a 6-dp boundary), and the emitted weight/effective-
  // rows are snapped once. The grid is |sources|×|langs| whatever the
  // corpus size — the plan reduces first, rakes on the reduced frame. ──
  def pipelineMixRaking(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))
      .transform(Eager(_)) // 3 consumers (tot, rows, scaled), ONE scan
    val tot = cells.agg(sum(col("n")).as("nn"),
      countDistinct(col("source")).as("s"),
      countDistinct(col("lang")).as("l"))
    val rows = cells.groupBy(col("source")).agg(sum(col("n")).as("rn"))
    val rf = rows.crossJoin(broadcast(tot))
      .select(col("source"),
        expr("cast(nn as double) / s / rn").as("rf"))
    val scaled = cells.join(broadcast(rf), "source")
    val cf = scaled.groupBy(col("lang"))
      .agg(sum(expr("n * rf")).as("cs"))
      .crossJoin(broadcast(tot))
      .select(col("lang"), expr("cast(nn as double) / l / cs").as("cf"))
    scaled.join(broadcast(cf), "lang")
      .select(col("source"), col("lang"), col("n"),
        r6(col("rf")).as("row_factor"), r6(col("cf")).as("col_factor"),
        r6(expr("rf * cf")).as("weight"),
        r6(expr("n * rf * cf")).as("eff_rows"))
      .orderBy("source", "lang")
  }

  // ── Yule's K + Simpson's D + Herdan's C — the classical vocabulary-
  // richness characteristics (text_hapax profiles the Zipf TAIL; these
  // are the single-number summaries reviewers trend across corpus
  // snapshots, and K is famously length-invariant where raw TTR is
  // not). The identity Σ m²·V_m = Σ_types c² reduces everything to one
  // token-frequency aggregation: N, V, Σc², Σc(c−1) are exact int64,
  // and each statistic is ONE cast-first double expression (K's 10⁴
  // scaling multiplies in double — the int64 product would wrap at
  // corpus scale). ──
  def textYuleK(spark: SparkSession, dir: String): DataFrame = {
    // the shared [[unigramCounts]] memo with the empty token filtered on
    // top (round 13, session 3) — group-then-filter equals the former
    // filter-then-group for every non-empty token
    val c = unigramCounts(spark, dir)
      .filter(col("t") =!= "").select(col("cnt").as("c"))
    c.agg(sum(col("c")).as("n"), count(lit(1)).as("v"),
        sum(col("c") * col("c")).as("s2"),
        sum(col("c") * (col("c") - 1)).as("sp"))
      .select(col("n").as("n_tokens"), col("v").as("n_types"),
        r6(expr("cast(s2 - n as double) * 10000" +
          " / (cast(n as double) * n)")).as("yule_k"),
        r6(expr("cast(sp as double) / (cast(n as double) * (n - 1))"))
          .as("simpson_d"),
        r6(expr("ln(cast(v as double)) / ln(cast(n as double))"))
          .as("herdan_c"))
  }

  // ── per-term burstiness for the top-20 collection-frequency terms —
  // a term that clusters in few documents (high variance-to-mean over
  // per-doc counts, zeros included) behaves very differently in
  // dedup/quality pipelines than one spread evenly at the same total
  // count; Church–Gale burst = cf/df is the "occurrences per containing
  // doc" companion. VMR folds to the exact-integer identity
  // (D·Σc² − C²)/(D·C) over one (term, doc) aggregation — per-doc zero
  // cells never materialize. Top-20 via TakeOrdered with the term as
  // tie-break, never a global sort. ──
  def textBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val dTot = docs.agg(count(lit(1)).as("d"))
    // the (term, doc) cell frame IS the shared [[docTermCounts]] memo
    // (round 13, session 3)
    val perDoc = docTermCounts(spark, dir)
    perDoc.groupBy(col("tok"))
      .agg(sum(col("c")).as("cf"), count(lit(1)).as("df"),
        sum(col("c") * col("c")).as("s2"))
      .crossJoin(broadcast(dTot))
      .orderBy(desc("cf"), col("tok")).limit(20)
      .select(col("tok"), col("cf"), col("df"),
        r6(expr("cast(d * s2 - cf * cf as double) / (d * cf)")).as("vmr"),
        r6(expr("cast(cf as double) / df")).as("burst"),
        r6(expr("cast(df as double) / d")).as("doc_coverage"))
  }

  // ── Cohen's κ of the NB language classifier against gold labels —
  // chance-corrected agreement, the number that stays honest when one
  // language dominates (eval_nb_confusion's accuracy flatters a
  // majority-class guesser; κ subtracts exactly what guessing the
  // marginals would score). p_e comes from the row×column marginal
  // products, so κ = (n·Σn_ii − Σr_i·c_i) / (n² − Σr_i·c_i) is pure
  // int64 until ONE final division — no order-dependent float sum
  // anywhere. Reuses the shipped textNbLang path (cached: three reads
  // of one prediction frame). ──
  def evalCohenKappa(spark: SparkSession, dir: String): DataFrame = {
    val preds = nbVerdicts(spark, dir)
      .select(col("true_lang"), col("pred_lang"))
    val ag = preds.agg(count(lit(1)).as("n"),
      sum((col("pred_lang") === col("true_lang")).cast("long"))
        .as("n_agree"))
    val rt = preds.groupBy(col("true_lang").as("lang"))
      .agg(count(lit(1)).as("r"))
    val pt = preds.groupBy(col("pred_lang").as("lang"))
      .agg(count(lit(1)).as("c"))
    val ex = rt.join(pt, Seq("lang"), "left")
      .agg(sum(col("r") * coalesce(col("c"), lit(0L))).as("e"))
    ag.crossJoin(broadcast(ex))
      .select(col("n"), col("n_agree"),
        r6(expr("cast(n_agree as double) / n")).as("p_observed"),
        r6(expr("cast(e as double) / (cast(n as double) * n)"))
          .as("p_expected"),
        r6(expr("cast(n * n_agree - e as double)" +
          " / (cast(n as double) * n - e)")).as("kappa"))
  }

  // ── Flesch reading ease + Flesch–Kincaid grade per document — the
  // classical readability scores a curation pipeline buckets on when
  // "quality" must be explainable to a human (text_quality's ratios
  // rank; these map to school-grade units reviewers recognize). All
  // three counts are per-row HOF arithmetic inside whole-stage codegen
  // (no explode, no shuffle): words from the shared whitespace
  // tokenizer, sentences from the text_sentences [.!?]+ class,
  // syllables ≈ [aeiouy]+ vowel groups (min 1 per word, the standard
  // heuristic). The two rate divisions are cast-first doubles; both
  // formulas share them verbatim with the oracle. ──
  def textReadability(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", expr(
        "filter(split(trim(lower(text)), '\\\\s+'), x -> x <> '')"))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("n_sentences", greatest(lit(1L), size(expr(
        """filter(transform(split(text, '[.!?]+'), x -> trim(x)),
          |       x -> x rlike '[A-Za-z0-9]')""".stripMargin))
        .cast("long")))
      .withColumn("n_syllables", expr(
        "aggregate(toks, 0L, (a, x) ->" +
          " a + greatest(1L, cast(regexp_count(x, '[aeiouy]+') as bigint)))"))
      .filter(col("n_words") > 0)
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        (round(expr("206.835D - 1.015D * (cast(n_words as double)" +
          " / n_sentences) - 84.6D * (cast(n_syllables as double)" +
          " / n_words)"), 6) + lit(0.0d)).as("flesch"),
        (round(expr("0.39D * (cast(n_words as double) / n_sentences)" +
          " + 11.8D * (cast(n_syllables as double) / n_words) - 15.59D"),
          6) + lit(0.0d)).as("fk_grade"))
      .orderBy("doc_id")

  // ── hapax/dis legomena corpus profile: how much of the vocabulary
  // (and of the token mass) is words seen once or twice — the
  // Zipf-tail diagnostic that predicts how fast text_heaps_law's vocab
  // curve keeps growing, and the quickest OCR-noise smell test (junk
  // corpora have hapax_vocab_share near 1). One explode + ONE
  // vocabulary-keyed count, then a frequency-of-frequencies reduction
  // to a single row — the 100 TB shape is two map-side-combined
  // aggregations, nothing else. ──
  def textHapax(spark: SparkSession, dir: String): DataFrame =
    // the shared [[unigramCounts]] memo with the empty token filtered on
    // top (round 13, session 3) — identical counts per non-empty token
    unigramCounts(spark, dir)
      .filter(col("t") =!= "").select(col("cnt").as("c"))
      .agg(count(lit(1)).as("vocab"), sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("dis"))
      .select(col("n_tokens"), col("vocab"), col("hapax"), col("dis"),
        (round(expr("cast(hapax as double) / vocab"), 6) + lit(0.0d))
          .as("hapax_vocab_share"),
        (round(expr("cast(hapax as double) / n_tokens"), 6) + lit(0.0d))
          .as("hapax_token_share"),
        (round(expr("cast(dis as double) / vocab"), 6) + lit(0.0d))
          .as("dis_vocab_share"))

  // ── NEAR-duplicate decontamination: containment of each training
  // doc's 5-gram set in the eval corpus — `decontaminate` flags ANY
  // shared shingle (one quoted phrase trips it); this scores HOW MUCH
  // of a training doc is eval content, catching the paraphrased/
  // partially-copied benchmark leak that exact matching understates
  // and a single shared idiom shouldn't flag. Per (train, eval) pair:
  // |∩ distinct shingles| / |train distinct shingles| ≥ 0.1, best eval
  // match by (containment, lowest eval id) struct-max on the 6-dp
  // score. At 100 TB the eval side is benchmark-sized → broadcast;
  // only shingle-sharing pairs ever shuffle (the dedup_containment
  // shape vs a FIXED reference set). ──
  /** Distinct train/eval 5-gram frames behind [[decontaminateNear]] and
    * [[decontaminateReport]]. The corpus carries no organic cross-doc
    * 5-gram mass (measured max containment 0.018 at sf0.01), so the
    * fixture plants the class these keys exist to catch — every eval
    * doc gets a half-copy "leaked" training twin (id + 2⁴², first half
    * of the text, same source: the re-scraped-benchmark shape), the
    * multimodal_phash planting discipline; the oracle rebuilds the
    * same twins. Returns (trainDocs, trainShingles, evalShingles). */
  private def contamFrames(spark: SparkSession,
      dir: String): (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source"))
    val evald = docs.filter(col("doc_id") % 97 === 0)
    val planted = evald.select(
      (col("doc_id") + (1L << 42)).as("doc_id"),
      expr("substr(text, 1, greatest(length(text) div 2, 60))")
        .as("text"),
      col("source"))
    val train = docs.filter(col("doc_id") % 97 =!= 0)
      .unionByName(planted)
    def sh5(d: DataFrame): DataFrame = d
      .withColumn("toks", toksCol)
      .select(col("doc_id"), explode(expr(FiveGrams)).as("shingle"))
      // value-wise a no-op (concat_ws never returns null) — but it makes
      // every consumer branch carry the SAME filter the shingle joins
      // infer, so the distinct's exchange canonicalizes identically
      // across branches and AQE's stage reuse computes the corpus-side
      // scan+explode+distinct ONCE per query instead of once per consumer
      // (round 13; decontaminate_near ran it twice)
      .filter(col("shingle").isNotNull)
      .distinct()
    (train, sh5(train), sh5(evald))
  }

  /** Near-contamination stats (doc_id, eval_id, n_shared, n_sh) — the
    * candidate-bounded exact-integer join of the per-(train, eval) shared
    * shingle counts with the per-train-doc shingle totals, memoized per
    * corpus (round 13): decontaminate_near ranks it, decontaminate_report
    * thresholds it, and each previously re-ran the train-side shingle
    * explode + distinct + broadcast join per invocation. */
  private def contamNearStats(spark: SparkSession, dir: String): DataFrame =
    SharedCorpus.memo(spark, "contam_near_stats", dir, "documents") {
      val (_, shTrain, shEval) = contamFrames(spark, dir)
      val trainSize = shTrain
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      val inter = shTrain
        .join(broadcast(shEval
          .select(col("doc_id").as("eval_id"), col("shingle"))), "shingle")
        .groupBy(col("doc_id"), col("eval_id"))
        .agg(count(lit(1)).as("n_shared"))
      inter.join(trainSize, "doc_id")
    }

  def decontaminateNear(spark: SparkSession, dir: String): DataFrame = {
    contamNearStats(spark, dir)
      .withColumn("cont6",
        (round(expr("cast(n_shared as double) / n_sh"), 6) + lit(0.0d)))
      .filter(col("cont6") >= 0.1)
      .groupBy(col("doc_id"))
      .agg(max(struct(col("cont6"), (-col("eval_id")).as("ne"),
        col("n_shared"), col("n_sh"))).as("mx"))
      .select(col("doc_id"), (-col("mx.ne")).as("eval_id"),
        col("mx.n_shared").as("n_shared"), col("mx.n_sh").as("n_shingles"),
        col("mx.cont6").as("containment"))
      .orderBy("doc_id")
  }

  // ── per-source contamination intake report: exact-shingle flags
  // (`decontaminate`) and near-dup containment flags
  // ([[decontaminateNear]]) rolled up by crawl source — the table a
  // data-intake review reads to decide which SOURCE is leaking
  // benchmarks, not which document. Shingles are computed ONCE and
  // feed both flag sets; counts are exact; two rate divisions per
  // source row. ──
  def decontaminateReport(spark: SparkSession, dir: String): DataFrame = {
    val (train, shTrain0, shEval) = contamFrames(spark, dir)
    // deliberately LAZY (neither cache nor Eager): the shared frame here
    // is the corpus-scale training-side shingle stream, and materializing
    // it costs more than its three consumers' cheap projection scans do
    // (measured 6.7× at sf0.1) — and at 100 TB you must not materialize
    // the big side of a decontamination pass at all; each consumer
    // streams it once
    val shTrain = shTrain0
    val exact = shTrain
      .join(broadcast(shEval.select("shingle").distinct()), "shingle")
      .select("doc_id").distinct()
      .withColumn("is_exact", lit(true))
    // near flags from the shared per-(train, eval) containment stats
    // (round 13) — same exact-integer inputs, same threshold expression
    val near = contamNearStats(spark, dir)
      .filter((round(expr("cast(n_shared as double) / n_sh"), 6)
        + lit(0.0d)) >= 0.1)
      .select("doc_id").distinct()
      .withColumn("is_near", lit(true))
    val out = train
      .select(col("doc_id"), col("source"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_exact"), lit(false)).cast("long"))
          .as("n_exact"),
        sum(coalesce(col("is_near"), lit(false)).cast("long"))
          .as("n_near"))
      .select(col("source"), col("n_docs"), col("n_exact"), col("n_near"),
        (round(expr("cast(n_exact as double) / n_docs"), 6) + lit(0.0d))
          .as("exact_rate"),
        (round(expr("cast(n_near as double) / n_docs"), 6) + lit(0.0d))
          .as("near_rate"))
      .orderBy("source")
    out
  }

  /** RAKE stopword fence (Rose et al. 2010 uses a full stoplist; this
    * fixed 24-word core is shared verbatim with the oracle). */
  private val RakeStops = Seq("the", "a", "an", "and", "or", "but", "of",
    "in", "on", "at", "to", "for", "with", "by", "from", "as", "is",
    "are", "was", "were", "be", "this", "that", "it")

  // ── RAKE keyphrase extraction over the corpus (Rose et al. 2010):
  // candidate phrases are maximal stopword-free token runs (capped at
  // 4 words), each word scores degree/frequency (degree = Σ length of
  // phrases it appears in — co-occurrence reach; frequency demotes
  // ubiquitous words), and a phrase scores the sum of its word
  // scores — the zero-training keyword extractor curation pipelines
  // run to label what a corpus is ABOUT. Phrase segmentation is one
  // doc-partitioned running count of stopword boundaries (no UDF, no
  // per-doc loop); word stats are two corpus-keyed aggregations;
  // phrase scores sum 9-dp DECIMAL terms (associative). Top 30 via
  // TakeOrderedAndProject. ──
  def textKeyphraseRake(spark: SparkSession, dir: String): DataFrame = {
    val stopArr = RakeStops.map(s => s"'$s'").mkString(", ")
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(expr(
        "filter(split(trim(lower(text)), '[^a-z0-9]+'), x -> x <> '')"))
        .as(Seq("pos", "tok")))
      .withColumn("is_stop", expr(s"array_contains(array($stopArr), tok)"))
      .withColumn("pid", sum(col("is_stop").cast("long")).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .filter(!col("is_stop"))
    // `phrases` fans out to THREE consumers (the final projection, and
    // twice through `words` via wscore/scored) — without materialization
    // every branch re-runs the documents scan → posexplode → per-doc
    // window → groupBy subplan. Eager runs it once and every consumer
    // reads the checkpointed blocks (the round-8 dedup_pipeline lesson;
    // pinned in PlanShapeSpec's checkpoint audit + fleet sweep).
    val phrases = Eager(toks.groupBy(col("doc_id"), col("pid"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, tok)))," +
        " s -> s.tok)").as("ws"))
      .filter(size(col("ws")).between(1, 4))
      .withColumn("plen", size(col("ws")).cast("long"))
      .withColumn("phrase", array_join(col("ws"), " ")))
    val words = phrases.select(col("doc_id"), col("pid"), col("plen"),
      explode(col("ws")).as("w"))
    val wscore = words.groupBy(col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
      .withColumn("wsc", expr("cast(deg as double) / freq"))
    val scored = words.join(wscore.select(col("w"), col("wsc")), "w")
      .groupBy(col("doc_id"), col("pid"))
      .agg(sum(expr("CAST(round(wsc, 9) AS DECIMAL(18,9))")).as("psc"))
    phrases.select(col("doc_id"), col("pid"), col("phrase"))
      .join(scored, Seq("doc_id", "pid"))
      .groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occurrences"),
        max(expr("cast(psc as double)")).as("sc"))
      .select(col("phrase"), col("n_occurrences"),
        (round(col("sc"), 6) + lit(0.0d)).as("score"))
      .orderBy(desc("score"), col("phrase"))
      .limit(30)
  }

  // ── out-of-vocabulary rate per document against a fixed top-32
  // corpus vocabulary — the tokenizer-coverage audit run before
  // committing to a vocab size: a doc whose tokens mostly fall outside
  // the head vocabulary will fragment into many subword pieces
  // (expensive) or <unk> (lossy). The vocab is ONE corpus-keyed count
  // → top-32 by (freq desc, token) → broadcast; per-doc coverage is a
  // map-side semi-membership count. At 100 TB the vocab aggregation is
  // the only shuffle. ──
  def textOovRate(spark: SparkSession, dir: String): DataFrame = {
    // both the vocab count and the per-doc coverage re-aggregate the
    // shared [[docTermCounts]] memo (round 13, session 3): Σc per tok /
    // per doc equals the former per-occurrence counts exactly (coalesce
    // keeps n_toks's former count() non-nullability)
    val toks = docTermCounts(spark, dir)
    val vocab = toks.groupBy(col("tok")).agg(sum(col("c")).as("c"))
      .orderBy(desc("c"), col("tok")).limit(32)
      .select(col("tok"), lit(true).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("n_toks"),
        sum(when(col("in_vocab").isNull, col("c")).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_toks"), col("n_oov"),
        (round(expr("cast(n_oov as double) / n_toks"), 6) + lit(0.0d))
          .as("oov_rate"))
      .orderBy("doc_id")
  }

  private val duckMarkers = EnMarkers.map(m => s"'$m'").mkString(", ")

  /** The quality-score SQL expression (over CTE columns toks / chars /
    * alnum_chars), defined ONCE and interpolated into every oracle that
    * scores quality — text_quality, sample_quota, text_quality_buckets,
    * and the [[duckQualityCte]] fragment dedup_canonical composes. A
    * formula change edited in fewer than all consumers would make an
    * oracle rank by a different score than the engine. */
  private def duckQualityExpr: String =
    s"""round(0.4 * round(CAST(len(list_filter(toks, x -> x IN ($duckMarkers))) AS DOUBLE) / len(toks), 6)
       |      + 0.3 * least(1.0, len(toks) / 20.0)
       |      + 0.3 * (1.0 - round(CAST(chars - alnum_chars AS DOUBLE) / chars, 6)), 6) AS quality""".stripMargin

  /** Quality-score CTE fragment `q(doc_id, quality)` — the text_quality
    * oracle's scoring arithmetic verbatim, exported (without `WITH`) so
    * other families' oracles can compose it (dedup_canonical ranks
    * cluster members by this score). */
  private[operators] def duckQualityCte: String =
    s"""q AS (
       |  SELECT doc_id,
       |    $duckQualityExpr
       |  FROM (SELECT doc_id,
       |          ${OracleSql.Toks} AS toks,
       |          CAST(length(text) AS INTEGER) AS chars,
       |          CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS INTEGER) AS alnum_chars
       |        FROM documents) tq)""".stripMargin

  /** One oracle for both decontamination keys (exact and Bloom form). */
  private val DecontaminateSql =
    s"""WITH t AS (SELECT doc_id, ${OracleSql.Toks} AS toks
      |           FROM documents),
      |sh AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
      |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i
      |             FROM t WHERE len(toks) >= 5)),
      |hit AS (SELECT DISTINCT doc_id FROM sh
      |        WHERE doc_id % 97 <> 0
      |          AND shingle IN (SELECT shingle FROM sh WHERE doc_id % 97 = 0))
      |SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
      |FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
      |WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id""".stripMargin

  /** The NB classifier's shared CTE block (train + score + argmax) —
    * reused verbatim by text_nb_lang and eval_nb_confusion so the
    * evaluated model IS the shipped model. */
  private val duckNbCtes: String =
    s"""WITH f AS (
      |  SELECT doc_id, lang,
      |    unnest(${OracleSql.Toks}) AS tok
      |  FROM documents),
      |ff AS (SELECT * FROM f WHERE tok <> ''),
      |pr AS (SELECT lang AS l, count(*) AS nd FROM documents GROUP BY 1),
      |pr2 AS (SELECT l,
      |    CAST(round(ln(nd / CAST(sum(nd) OVER () AS DOUBLE)), 9)
      |         AS DECIMAL(18,9)) AS logprior
      |  FROM pr),
      |v AS (SELECT count(DISTINCT tok) AS v FROM ff),
      |tl AS (SELECT lang AS l, count(*) AS tl FROM ff GROUP BY 1),
      |c AS (SELECT lang AS l, tok, count(*) AS c FROM ff GROUP BY 1, 2),
      |langs AS (SELECT pr2.l, pr2.logprior, tl.tl, v.v
      |          FROM pr2 JOIN tl USING (l) CROSS JOIN v),
      |sc AS (
      |  SELECT ff.doc_id, ff.lang, langs.l, langs.logprior,
      |    CAST(round(ln((COALESCE(c.c, 0) + 1) /
      |                  CAST(langs.tl + langs.v AS DOUBLE)), 9)
      |         AS DECIMAL(18,9)) AS logp
      |  FROM ff CROSS JOIN langs
      |  LEFT JOIN c ON c.l = langs.l AND c.tok = ff.tok),
      |s AS (SELECT doc_id, lang, l,
      |        sum(logp) + logprior AS score
      |      FROM sc GROUP BY doc_id, lang, l, logprior),
      |r AS (SELECT doc_id, lang, l, score,
      |        row_number() OVER (PARTITION BY doc_id
      |                           ORDER BY score DESC, l) AS rn
      |      FROM s)""".stripMargin

  /** Train/eval distinct-5-gram CTEs shared by the near-decontamination
    * oracles — rebuilds the SAME planted half-copy twins as
    * [[contamFrames]]. */
  private val duckSh5: String =
    s"""WITH ev AS (SELECT doc_id, text, source FROM documents
      |            WHERE doc_id % 97 = 0),
      |tr AS (SELECT doc_id, text, source FROM documents
      |       WHERE doc_id % 97 <> 0
      |       UNION ALL
      |       SELECT doc_id + (1::BIGINT << 42) AS doc_id,
      |         substring(text, 1, greatest(length(text) // 2, 60))
      |           AS text, source
      |       FROM ev),
      |sht AS (SELECT DISTINCT doc_id,
      |    array_to_string(toks[i:i+4], ' ') AS shingle
      |  FROM (SELECT doc_id,
      |          ${OracleSql.Toks} AS toks
      |        FROM tr) x,
      |       LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i)
      |  WHERE len(toks) >= 5),
      |she AS (SELECT DISTINCT doc_id,
      |    array_to_string(toks[i:i+4], ' ') AS shingle
      |  FROM (SELECT doc_id,
      |          ${OracleSql.Toks} AS toks
      |        FROM ev) x,
      |       LATERAL (SELECT unnest(range(1, len(toks) - 3)) AS i)
      |  WHERE len(toks) >= 5),
      |""".stripMargin

  /** [[duckSh5]]'s overlap CTEs: each training doc's shingle count
    * `ts(doc_id, n_sh)` and the shingles it shares with each eval doc
    * `iv(doc_id, eval_id, n_shared)`. Comma-terminated. */
  private val duckSh5Overlap: String =
    """ts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
      |       FROM sht GROUP BY 1),
      |iv AS (SELECT a.doc_id, b.doc_id AS eval_id,
      |         CAST(count(*) AS BIGINT) AS n_shared
      |       FROM sht a JOIN she b ON a.shingle = b.shingle
      |       GROUP BY 1, 2),""".stripMargin

  /** The select items of the quality oracles' `t` CTE: a document's
    * tokens, characters and alphanumeric characters, on three indented
    * lines. */
  private val duckQualityInputs: String =
    s"""    ${OracleSql.Toks} AS toks,
       |    CAST(length(text) AS INTEGER) AS chars,
       |    CAST(length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS INTEGER) AS alnum_chars""".stripMargin

  /** The repetition-gate CTEs over `t(doc_id, toks)`: each document's
    * token and distinct-token counts `base(doc_id, n, nd)`, its bigrams
    * `bg` and its most frequent bigram's count `topbg(doc_id, top)`. Ends
    * at `GROUP BY 1)`. */
  private val duckRepetitionCounts: String =
    """base AS (SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd FROM t),
      |bg AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS b
      |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
      |             FROM t WHERE len(toks) >= 2)),
      |topbg AS (SELECT doc_id, max(c) AS top FROM
      |            (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2)
      |          GROUP BY 1)""".stripMargin

  private val duckRakeStops: String =
    RakeStops.map(s => s"'$s'").mkString(", ")

  /** The exact top-10 token oracle of the sketch keys, with the bound
    * the sketch must meet asserted TRUE as column `ok`. */
  private def duckTopTokens(ok: String): String =
    s"""SELECT token AS term, CAST(count(*) AS BIGINT) AS exact_cnt,
       |  TRUE AS $ok FROM (
       |  SELECT unnest(${OracleSql.Toks}) AS token
       |  FROM documents) t
       |WHERE token <> '' GROUP BY token
       |ORDER BY exact_cnt DESC, term LIMIT 10""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("text_keyphrase_rake", textKeyphraseRake, Some(
      s"""WITH t AS (SELECT doc_id,
         |    list_filter(string_split_regex(trim(lower(text)),
         |      '[^a-z0-9]+'), x -> x <> '') AS toks
         |  FROM documents),
         |tk AS (SELECT doc_id, i AS pos, toks[i] AS tok
         |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1))
         |    AS i)),
         |st AS (SELECT *, tok IN ($duckRakeStops) AS is_stop FROM tk),
         |pp AS (SELECT *,
         |    sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY pos
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS pid
         |  FROM st),
         |nf AS (SELECT * FROM pp WHERE NOT is_stop),
         |ph AS (SELECT doc_id, pid,
         |    string_agg(tok, ' ' ORDER BY pos) AS phrase,
         |    CAST(count(*) AS BIGINT) AS plen
         |  FROM nf GROUP BY 1, 2 HAVING count(*) BETWEEN 1 AND 4),
         |wd AS (SELECT nf.doc_id, nf.pid, ph.plen, nf.tok AS w
         |  FROM nf JOIN ph USING (doc_id, pid)),
         |ws AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
         |    CAST(sum(plen) AS BIGINT) AS deg
         |  FROM wd GROUP BY 1),
         |sc AS (SELECT wd.doc_id, wd.pid,
         |    sum(CAST(round(CAST(ws.deg AS DOUBLE) / ws.freq, 9)
         |        AS DECIMAL(18,9))) AS psc
         |  FROM wd JOIN ws USING (w) GROUP BY 1, 2),
         |f AS (SELECT ph.phrase,
         |    CAST(count(*) AS BIGINT) AS n_occurrences,
         |    max(CAST(sc.psc AS DOUBLE)) AS s
         |  FROM ph JOIN sc USING (doc_id, pid) GROUP BY 1)
         |SELECT phrase, n_occurrences, round(s, 6) + 0.0 AS score
         |FROM f ORDER BY score DESC, phrase LIMIT 30""".stripMargin)),
    Key("text_oov_rate", textOovRate, Some(
      s"""WITH tk AS (SELECT doc_id,
        |    unnest(${OracleSql.Toks}) AS tok
        |  FROM documents),
        |f AS (SELECT * FROM tk WHERE tok <> ''),
        |v AS (SELECT tok FROM
        |    (SELECT tok, count(*) AS c FROM f GROUP BY 1
        |     ORDER BY c DESC, tok LIMIT 32))
        |SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
        |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_oov,
        |  round(CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) + 0.0 AS oov_rate
        |FROM f LEFT JOIN v ON f.tok = v.tok
        |GROUP BY 1 ORDER BY doc_id""".stripMargin)),
    Key("decontaminate_near", decontaminateNear, Some(duckSh5 +
      duckSh5Overlap + """
        |sc AS (SELECT iv.doc_id, iv.eval_id, iv.n_shared, ts.n_sh,
        |         round(CAST(iv.n_shared AS DOUBLE) / ts.n_sh, 6) + 0.0
        |           AS cont6
        |       FROM iv JOIN ts USING (doc_id)),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |         ORDER BY cont6 DESC, eval_id) AS rn
        |       FROM sc WHERE cont6 >= 0.1)
        |SELECT doc_id, eval_id, n_shared, n_sh AS n_shingles,
        |  cont6 AS containment
        |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin)),
    Key("decontaminate_report", decontaminateReport, Some(duckSh5 +
      """ex AS (SELECT DISTINCT doc_id FROM sht
        |       WHERE shingle IN (SELECT shingle FROM she)),
        |""".stripMargin + duckSh5Overlap + """
        |nr AS (SELECT DISTINCT iv.doc_id
        |       FROM iv JOIN ts USING (doc_id)
        |       WHERE round(CAST(iv.n_shared AS DOUBLE) / ts.n_sh, 6)
        |         + 0.0 >= 0.1)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_exact,
        |  CAST(sum(CASE WHEN nr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_near,
        |  round(CAST(sum(CASE WHEN ex.doc_id IS NOT NULL THEN 1 ELSE 0
        |    END) AS DOUBLE) / count(*), 6) + 0.0 AS exact_rate,
        |  round(CAST(sum(CASE WHEN nr.doc_id IS NOT NULL THEN 1 ELSE 0
        |    END) AS DOUBLE) / count(*), 6) + 0.0 AS near_rate
        |FROM tr d
        |LEFT JOIN ex ON d.doc_id = ex.doc_id
        |LEFT JOIN nr ON d.doc_id = nr.doc_id
        |GROUP BY 1 ORDER BY d.source""".stripMargin)),
    Key("text_readability", textReadability, Some(
      s"""WITH d AS (SELECT doc_id, text,
        |    list_filter(${OracleSql.Toks},
        |      x -> x <> '') AS toks
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    greatest(1, CAST(len(list_filter(
        |      list_transform(string_split_regex(text, '[.!?]+'),
        |        x -> trim(x)),
        |      x -> regexp_matches(x, '[A-Za-z0-9]'))) AS BIGINT))
        |      AS n_sentences,
        |    CAST(list_sum(list_transform(toks, x ->
        |      greatest(1, len(regexp_extract_all(x, '[aeiouy]+')))))
        |      AS BIGINT) AS n_syllables
        |  FROM d)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6) + 0.0
        |    AS flesch,
        |  round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
        |    + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59, 6)
        |    + 0.0 AS fk_grade
        |FROM c WHERE n_words > 0 ORDER BY doc_id""".stripMargin)),
    Key("text_hapax", textHapax, Some(
      """WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)),
        |    '\s+')) AS tok FROM documents),
        |f AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM t
        |      WHERE tok <> '' GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS vocab,
        |        CAST(sum(c) AS BIGINT) AS n_tokens,
        |        CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS hapax,
        |        CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS dis
        |      FROM f)
        |SELECT n_tokens, vocab, hapax, dis,
        |  round(CAST(hapax AS DOUBLE) / vocab, 6) + 0.0
        |    AS hapax_vocab_share,
        |  round(CAST(hapax AS DOUBLE) / n_tokens, 6) + 0.0
        |    AS hapax_token_share,
        |  round(CAST(dis AS DOUBLE) / vocab, 6) + 0.0 AS dis_vocab_share
        |FROM g""".stripMargin)),
    Key("eval_langid_mcc", evalLangidMcc, Some(
      s"""WITH t AS (SELECT doc_id, lang,
         |    ${OracleSql.Toks} AS toks
         |  FROM documents),
         |p AS (SELECT lang = 'en' AS apos,
         |    round(CAST(len(list_filter(toks, x -> x IN ($duckMarkers)))
         |          AS DOUBLE) / len(toks), 6) >= 0.10 AS ppos
         |  FROM t),
         |c AS (SELECT
         |    CAST(sum(CASE WHEN ppos AND apos THEN 1 ELSE 0 END)
         |         AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN ppos AND NOT apos THEN 1 ELSE 0 END)
         |         AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN NOT ppos AND apos THEN 1 ELSE 0 END)
         |         AS BIGINT) AS fn,
         |    CAST(sum(CASE WHEN NOT ppos AND NOT apos THEN 1 ELSE 0 END)
         |         AS BIGINT) AS tn
         |  FROM p),
         |d AS (SELECT *,
         |    sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn) * (tn + fp)
         |      * (tn + fn)) AS den
         |  FROM c)
         |SELECT tp, fp, fn, tn,
         |  round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) + 0.0
         |    AS accuracy,
         |  round(CASE WHEN den > 0 THEN
         |      (CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn) / den
         |    END, 6) + 0.0 AS mcc
         |FROM d""".stripMargin)),
    Key("text_freq_drift", textFreqDrift, Some(
      s"""WITH mid AS (SELECT CAST(floor(quantile_cont(doc_id, 0.5))
        |             AS BIGINT) AS mid FROM documents),
        |t AS (SELECT d.doc_id <= m.mid AS is_a,
        |    unnest(${OracleSql.Toks}) AS tok
        |  FROM documents d CROSS JOIN mid m),
        |c AS (SELECT tok,
        |    CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |    CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        |  FROM t WHERE tok <> '' GROUP BY tok),
        |tt AS (SELECT CAST(sum(ca) AS BIGINT) AS ta,
        |    CAST(sum(cb) AS BIGINT) AS tb FROM c),
        |s AS (SELECT c.*, tt.ta, tt.tb,
        |    CAST(ca AS DOUBLE) / ta AS share_a,
        |    CAST(cb AS DOUBLE) / tb AS share_b,
        |    abs(cb * 1000000 // tb - ca * 1000000 // ta) AS dppm
        |  FROM c CROSS JOIN tt)
        |SELECT tok, ca, cb, round(share_a, 6) + 0.0 AS share_a,
        |  round(share_b, 6) + 0.0 AS share_b,
        |  round(share_b - share_a, 6) + 0.0 AS delta_share
        |FROM s ORDER BY dppm DESC, tok LIMIT 20""".stripMargin)),
    Key("text_sentences", textSentences, Some(
      """WITH s AS (
        |  SELECT doc_id,
        |    list_filter(
        |      list_transform(regexp_split_to_array(text, '[.!?]+'),
        |                     x -> trim(x)),
        |      x -> regexp_matches(x, '[A-Za-z0-9]')) AS sents
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sentences,
        |    CAST(list_sum(list_transform(sents, x -> length(x)))
        |         AS BIGINT) AS tot_chars,
        |    CAST(list_max(list_transform(sents, x -> length(x)))
        |         AS BIGINT) AS max_chars
        |  FROM s)
        |SELECT doc_id, n_sentences,
        |  round(CASE WHEN n_sentences > 0
        |    THEN CAST(tot_chars AS DOUBLE) / n_sentences END, 6) + 0.0
        |    AS avg_sent_chars,
        |  COALESCE(max_chars, 0) AS max_sent_chars
        |FROM m ORDER BY doc_id""".stripMargin)),
    Key("text_char_entropy", textCharEntropy, Some(
      """WITH d AS (SELECT doc_id, lower(text) AS txt FROM documents
        |           WHERE length(lower(text)) >= 2),
        |g AS (SELECT doc_id, length(txt) - 1 AS n,
        |    unnest(list_transform(generate_series(1, length(txt) - 1),
        |      i -> substr(txt, i, 2))) AS bg
        |  FROM d),
        |c AS (SELECT doc_id, n, bg, count(*) AS c
        |      FROM g GROUP BY 1, 2, 3),
        |t AS (SELECT doc_id, n,
        |    CAST(round((CAST(c AS DOUBLE) / n)
        |      * ln(CAST(c AS DOUBLE) / n), 9) AS DECIMAL(18,9)) AS t9
        |  FROM c),
        |s AS (SELECT doc_id, CAST(any_value(n) AS INTEGER) AS n_bigrams,
        |    CAST(count(*) AS BIGINT) AS n_distinct, sum(t9) AS s
        |  FROM t GROUP BY 1)
        |SELECT doc_id, n_bigrams, n_distinct,
        |  round(-CAST(s AS DOUBLE) / ln(CAST(2 AS DOUBLE)), 6) + 0.0
        |    AS entropy_bits
        |FROM s ORDER BY doc_id""".stripMargin)),
    Key("text_mattr", textMattr, Some(
      s"""WITH t AS (
        |  SELECT doc_id,
        |    ${OracleSql.Toks} AS toks
        |  FROM documents),
        |f AS (SELECT doc_id,
        |    CAST(len(toks) AS INTEGER) AS n_words,
        |    CAST(len(list_distinct(toks)) AS INTEGER) AS n_types,
        |    CASE WHEN len(toks) >= 10 THEN
        |      CAST(list_aggregate(list_transform(
        |          generate_series(1, len(toks) - 9),
        |          i -> len(list_distinct(toks[i:i+9]))), 'sum') AS BIGINT)
        |    END AS wsum
        |  FROM t)
        |SELECT doc_id, n_words, n_types,
        |  round(CAST(n_types AS DOUBLE) / n_words, 6) + 0.0 AS ttr,
        |  round(CAST(CASE WHEN n_words < 10
        |      THEN CAST(n_types AS DOUBLE) / n_words
        |      ELSE CAST(wsum AS DOUBLE) / (10 * (n_words - 9))
        |    END AS DOUBLE), 6) + 0.0 AS mattr
        |FROM f ORDER BY doc_id""".stripMargin)),
    Key("text_quality_gopher", textQualityGopher, Some(
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |    ${OracleSql.Toks} AS toks
         |  FROM documents),
         |f AS (SELECT doc_id,
         |    CAST(len(toks) AS INTEGER) AS n_words,
         |    round(CAST(length(regexp_replace(text, '\\s', '', 'g'))
         |      AS DOUBLE) / len(toks), 6) AS mean_wl,
         |    round(CAST(len(list_filter(toks,
         |        x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
         |      / len(toks), 6) AS alpha_frac,
         |    round(CAST(length(text) - length(replace(text, '#', ''))
         |      AS DOUBLE) / len(toks), 6) AS sym_ratio,
         |    CAST(len(list_distinct(list_filter(toks,
         |      x -> x IN ($duckMarkers)))) AS INTEGER) AS n_stop_distinct
         |  FROM t)
         |SELECT doc_id, n_words, mean_wl, alpha_frac, sym_ratio,
         |  n_stop_distinct,
         |  n_words >= 5 AND n_words <= 1000 AS r_words,
         |  mean_wl >= 2.0 AND mean_wl <= 12.0 AS r_mwl,
         |  alpha_frac >= 0.8 AS r_alpha,
         |  sym_ratio < 0.1 AS r_sym,
         |  n_stop_distinct >= 2 AS r_stop,
         |  n_words >= 5 AND n_words <= 1000
         |    AND mean_wl >= 2.0 AND mean_wl <= 12.0
         |    AND alpha_frac >= 0.8 AND sym_ratio < 0.1
         |    AND n_stop_distinct >= 2 AS pass
         |FROM f ORDER BY doc_id""".stripMargin)),
    Key("text_lm_score", textLmScore, Some(
      s"""WITH t AS (
        |  SELECT doc_id, ${OracleSql.Toks} AS toks
        |  FROM documents),
        |big AS (
        |  SELECT doc_id, z[1] AS w1, z[2] AS w2
        |  FROM (SELECT doc_id, unnest(list_zip(toks, toks[2:])) AS z FROM t)
        |  WHERE z[2] IS NOT NULL),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS v
        |      FROM (SELECT unnest(toks) AS tok FROM t)),
        |s AS (
        |  SELECT big.doc_id,
        |    CAST(round(ln(CAST(c2.c2 + 1 AS DOUBLE) / (c1.c1 + v.v)), 9)
        |         AS DECIMAL(18,9)) AS logp
        |  FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
        |m AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    round(CAST(sum(logp) AS DOUBLE) / count(*), 6) + 0.0 AS avg_logp
        |  FROM s GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, avg_logp,
        |  round(exp(-avg_logp), 6) + 0.0 AS ppl
        |FROM m ORDER BY doc_id""".stripMargin)),
    Key("text_collocations", textCollocations, Some(
      s"""WITH t AS (
        |  SELECT ${OracleSql.Toks} AS toks
        |  FROM documents),
        |uni AS (
        |  SELECT t AS tok, count(*) AS cnt
        |  FROM (SELECT unnest(toks) AS t FROM t) GROUP BY 1),
        |nu AS (SELECT sum(cnt) AS n_uni FROM uni),
        |big AS (
        |  SELECT z[1] AS tok_a, z[2] AS tok_b
        |  FROM (SELECT unnest(list_zip(toks, toks[2:])) AS z FROM t)
        |  WHERE z[2] IS NOT NULL),
        |nb AS (SELECT count(*) AS n_big FROM big),
        |ab AS (
        |  SELECT tok_a, tok_b, count(*) AS n_ab FROM big
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT ab.tok_a, ab.tok_b, ab.n_ab,
        |  round(ln((CAST(ab.n_ab AS DOUBLE) / nb.n_big) /
        |           ((CAST(ua.cnt AS DOUBLE) / nu.n_uni) *
        |            (CAST(ub.cnt AS DOUBLE) / nu.n_uni))), 6) + 0.0 AS pmi
        |FROM ab
        |JOIN uni ua ON ab.tok_a = ua.tok
        |JOIN uni ub ON ab.tok_b = ub.tok
        |CROSS JOIN nb CROSS JOIN nu
        |ORDER BY tok_a, tok_b""".stripMargin)),
    Key("source_overlap", sourceOverlap, Some(
      s"""WITH st AS (
        |  SELECT DISTINCT source, token FROM (
        |    SELECT source,
        |      unnest(${OracleSql.Toks}) AS token
        |    FROM documents)),
        |sizes AS (SELECT source, count(*) AS sz FROM st GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
        |  FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT i.src_a, i.src_b, i.inter,
        |  round(i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 6) + 0.0
        |    AS jaccard
        |FROM inter i
        |JOIN sizes sa ON i.src_a = sa.source
        |JOIN sizes sb ON i.src_b = sb.source
        |ORDER BY src_a, src_b""".stripMargin)),
    Key("text_span_dedup", textSpanDedup, Some(
      s"""WITH t AS (SELECT doc_id, ${OracleSql.Toks} AS toks
        |           FROM documents),
        |sp AS (SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS span
        |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
        |             FROM t WHERE len(toks) >= 8)),
        |g AS (SELECT span, count(DISTINCT doc_id) AS nd FROM sp GROUP BY 1),
        |p AS (SELECT sp.doc_id, count(*) AS n_spans,
        |        CAST(sum(CASE WHEN g.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_dup
        |      FROM sp JOIN g USING (span) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(p.n_spans, 0) AS n_spans,
        |  COALESCE(p.n_dup, 0) AS n_dup_spans,
        |  CASE WHEN p.n_spans IS NULL THEN 0.0
        |       ELSE round(p.n_dup / CAST(p.n_spans AS DOUBLE), 6) + 0.0
        |  END AS dup_ratio
        |FROM documents d LEFT JOIN p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),
    Key("text_block_dedup", textBlockDedup, Some(
      s"""WITH t AS (SELECT doc_id, ${OracleSql.Toks} AS toks
        |           FROM documents),
        |b AS (SELECT doc_id, i AS b,
        |        array_to_string(toks[i*8+1:i*8+8], ' ') AS blk
        |      FROM (SELECT doc_id, toks,
        |              unnest(range(0, (len(toks) + 7) // 8)) AS i
        |            FROM t)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY blk
        |        ORDER BY doc_id, b) AS rn FROM b)
        |SELECT doc_id, count(*) AS n_blocks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS kept_blocks,
        |  COALESCE(string_agg(blk, ' ' ORDER BY b) FILTER (WHERE rn = 1), '')
        |    AS new_text
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // the four standalone-key fragments composed in dependency order —
    // gate → decontaminate → dedup → pack; see pipelineTrainingCorpus
    Key("pipeline_training_corpus", pipelineTrainingCorpus, Some(
      s"""WITH t AS (SELECT doc_id, text,
        |             ${OracleSql.Toks} AS toks
        |           FROM documents),
        |$duckRepetitionCounts,
        |gate AS (SELECT base.doc_id
        |         FROM base LEFT JOIN topbg ON base.doc_id = topbg.doc_id
        |         WHERE round((base.n - base.nd) / CAST(base.n AS DOUBLE), 6) <= 0.3
        |           AND round(COALESCE(topbg.top, 0) /
        |                 CAST(GREATEST(base.n - 1, 1) AS DOUBLE), 6) <= 0.2),
        |sh AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
        |       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i
        |             FROM t WHERE len(toks) >= 5)),
        |cont AS (SELECT DISTINCT doc_id FROM sh
        |         WHERE doc_id % 97 <> 0
        |           AND shingle IN (SELECT shingle FROM sh WHERE doc_id % 97 = 0)),
        |surv AS (SELECT t.doc_id, t.text, len(t.toks) AS n_toks FROM t
        |         JOIN gate g ON t.doc_id = g.doc_id
        |         WHERE t.doc_id % 97 <> 0
        |           AND t.doc_id NOT IN (SELECT doc_id FROM cont)),
        |ded AS (SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks FROM
        |          (SELECT *, row_number() OVER (PARTITION BY text
        |             ORDER BY doc_id) AS rn FROM surv)
        |        WHERE rn = 1),
        |c AS (SELECT doc_id, n_toks,
        |        CAST(COALESCE(sum(n_toks) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |          AS start_tok
        |      FROM ded)
        |SELECT doc_id, n_toks, start_tok,
        |  start_tok // 512 AS chunk_id, start_tok % 512 AS off_in_chunk
        |FROM c ORDER BY doc_id""".stripMargin)),
    Key("text_ngram_novelty", textNgramNovelty, Some(
      s"""WITH t AS (SELECT doc_id,
        |  ${OracleSql.Toks} AS toks FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |  unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
        |  FROM t),
        |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
        |SELECT s.doc_id, count(*) AS n_shingles,
        |  CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |  round(CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) AS novelty
        |FROM sh s JOIN df d USING (shingle)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin)),
    Key("text_nb_lang", textNbLang, Some(duckNbCtes +
      """
        |SELECT doc_id, lang AS true_lang, l AS pred_lang,
        |  l = lang AS correct, CAST(score AS DOUBLE) AS nb_score
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin)),
    Key("text_cond_entropy", textCondEntropy, Some(
      """WITH d AS (SELECT lang, lower(text) AS txt FROM documents
        |           WHERE length(lower(text)) >= 2),
        |g AS (SELECT lang,
        |    unnest(list_transform(generate_series(1, length(txt) - 1),
        |      i -> substr(txt, i, 2))) AS bg
        |  FROM d),
        |cells AS (SELECT lang, bg, CAST(count(*) AS BIGINT) AS c
        |          FROM g GROUP BY 1, 2),
        |nt AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_bg FROM cells GROUP BY 1),
        |hb AS (SELECT lang, sum(CAST(round((CAST(c AS DOUBLE) / n)
        |      * ln(CAST(c AS DOUBLE) / n), 9) AS DECIMAL(18,9))) AS sb
        |  FROM cells JOIN nt USING (lang) GROUP BY 1),
        |pr AS (SELECT lang, substr(bg, 1, 1) AS c1,
        |    CAST(sum(c) AS BIGINT) AS cp
        |  FROM cells GROUP BY 1, 2),
        |hp AS (SELECT lang, sum(CAST(round((CAST(cp AS DOUBLE) / n)
        |      * ln(CAST(cp AS DOUBLE) / n), 9) AS DECIMAL(18,9))) AS sp,
        |    CAST(count(*) AS BIGINT) AS n_prefix
        |  FROM pr JOIN nt USING (lang) GROUP BY 1),
        |v2 AS (SELECT lang, CAST(count(*) AS BIGINT) AS v2 FROM
        |       (SELECT DISTINCT lang, substr(bg, 2, 1) AS c2 FROM cells)
        |       GROUP BY 1)
        |SELECT lang, n AS n_bigrams, n_bg AS n_distinct_bigrams,
        |  n_prefix, v2,
        |  round(-CAST(sb AS DOUBLE) / ln(CAST(2 AS DOUBLE)), 6) + 0.0
        |    AS h_bigram_bits,
        |  round(CAST(sp - sb AS DOUBLE) / ln(CAST(2 AS DOUBLE)), 6)
        |    + 0.0 AS h_cond_bits,
        |  round(1.0 - CAST(sp - sb AS DOUBLE) / ln(CAST(v2 AS DOUBLE)),
        |    6) + 0.0 AS redundancy
        |FROM nt JOIN hb USING (lang) JOIN hp USING (lang)
        |  JOIN v2 USING (lang)
        |ORDER BY lang""".stripMargin)),
    Key("pipeline_mix_raking", pipelineMixRaking, Some(
      """WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        |               FROM documents GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
        |    CAST(count(DISTINCT source) AS BIGINT) AS s,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS l
        |  FROM cells),
        |rf AS (SELECT source, CAST(nn AS DOUBLE) / s / rn AS rf FROM
        |       (SELECT source, CAST(sum(n) AS BIGINT) AS rn
        |        FROM cells GROUP BY 1) CROSS JOIN tot),
        |sc AS (SELECT cells.*, rf.rf FROM cells JOIN rf USING (source)),
        |cf AS (SELECT lang, CAST(nn AS DOUBLE) / l / cs AS cf FROM
        |       (SELECT lang, sum(n * rf) AS cs FROM sc GROUP BY 1)
        |       CROSS JOIN tot)
        |SELECT source, lang, n,
        |  round(rf, 6) + 0.0 AS row_factor,
        |  round(cf, 6) + 0.0 AS col_factor,
        |  round(rf * cf, 6) + 0.0 AS weight,
        |  round(n * rf * cf, 6) + 0.0 AS eff_rows
        |FROM sc JOIN cf USING (lang)
        |ORDER BY source, lang""".stripMargin)),
    Key("text_yule_k", textYuleK, Some(
      s"""WITH t AS (SELECT
        |    unnest(${OracleSql.Toks}) AS tok
        |  FROM documents),
        |c AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM t
        |      WHERE tok <> '' GROUP BY 1),
        |s AS (SELECT CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS v,
        |    CAST(sum(c * c) AS BIGINT) AS s2,
        |    CAST(sum(c * (c - 1)) AS BIGINT) AS sp
        |  FROM c)
        |SELECT n AS n_tokens, v AS n_types,
        |  round(CAST(s2 - n AS DOUBLE) * 10000
        |    / (CAST(n AS DOUBLE) * n), 6) + 0.0 AS yule_k,
        |  round(CAST(sp AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)), 6)
        |    + 0.0 AS simpson_d,
        |  round(ln(CAST(v AS DOUBLE)) / ln(CAST(n AS DOUBLE)), 6) + 0.0
        |    AS herdan_c
        |FROM s""".stripMargin)),
    Key("text_burstiness", textBurstiness, Some(
      s"""WITH t AS (SELECT doc_id,
        |    unnest(${OracleSql.Toks}) AS tok
        |  FROM documents),
        |pd AS (SELECT tok, doc_id, CAST(count(*) AS BIGINT) AS c
        |       FROM t WHERE tok <> '' GROUP BY 1, 2),
        |ag AS (SELECT tok, CAST(sum(c) AS BIGINT) AS cf,
        |    CAST(count(*) AS BIGINT) AS df,
        |    CAST(sum(c * c) AS BIGINT) AS s2
        |  FROM pd GROUP BY 1),
        |dt AS (SELECT CAST(count(*) AS BIGINT) AS d FROM documents)
        |SELECT tok, cf, df,
        |  round(CAST(d * s2 - cf * cf AS DOUBLE) / (d * cf), 6) + 0.0
        |    AS vmr,
        |  round(CAST(cf AS DOUBLE) / df, 6) + 0.0 AS burst,
        |  round(CAST(df AS DOUBLE) / d, 6) + 0.0 AS doc_coverage
        |FROM ag CROSS JOIN dt
        |ORDER BY cf DESC, tok LIMIT 20""".stripMargin)),
    Key("eval_cohen_kappa", evalCohenKappa, Some(duckNbCtes +
      """,
        |preds AS (SELECT lang AS true_lang, l AS pred_lang
        |          FROM r WHERE rn = 1),
        |ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_agree
        |  FROM preds),
        |rt AS (SELECT true_lang AS lang, CAST(count(*) AS BIGINT) AS r
        |       FROM preds GROUP BY 1),
        |pt AS (SELECT pred_lang AS lang, CAST(count(*) AS BIGINT) AS c
        |       FROM preds GROUP BY 1),
        |ex AS (SELECT CAST(sum(rt.r * COALESCE(pt.c, 0)) AS BIGINT) AS e
        |       FROM rt LEFT JOIN pt USING (lang))
        |SELECT n, n_agree,
        |  round(CAST(n_agree AS DOUBLE) / n, 6) + 0.0 AS p_observed,
        |  round(CAST(e AS DOUBLE) / (CAST(n AS DOUBLE) * n), 6) + 0.0
        |    AS p_expected,
        |  round(CAST(n * n_agree - e AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * n - e), 6) + 0.0 AS kappa
        |FROM ag CROSS JOIN ex""".stripMargin)),
    Key("eval_nb_confusion", evalNbConfusion, Some(duckNbCtes +
      """,
        |preds AS (SELECT lang AS true_lang, l AS pred_lang
        |          FROM r WHERE rn = 1),
        |tpf AS (SELECT true_lang AS lang,
        |    CAST(count(*) AS BIGINT) AS n_true,
        |    CAST(sum(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END)
        |         AS BIGINT) AS tp
        |  FROM preds GROUP BY 1),
        |pf AS (SELECT pred_lang, CAST(count(*) AS BIGINT) AS n_pred
        |       FROM preds GROUP BY 1),
        |j AS (SELECT tpf.lang, tpf.n_true,
        |    COALESCE(pf.n_pred, 0) AS n_pred, tpf.tp,
        |    CAST(sum(tpf.tp) OVER () AS DOUBLE)
        |      / sum(tpf.n_true) OVER () AS acc,
        |    CASE WHEN COALESCE(pf.n_pred, 0) > 0
        |      THEN CAST(tpf.tp AS DOUBLE) / pf.n_pred END AS p,
        |    CAST(tpf.tp AS DOUBLE) / tpf.n_true AS r_
        |  FROM tpf LEFT JOIN pf ON tpf.lang = pf.pred_lang)
        |SELECT lang, n_true, n_pred, tp,
        |  round(p, 6) + 0.0 AS precision, round(r_, 6) + 0.0 AS recall,
        |  round(CASE WHEN p + r_ > 0 THEN 2.0 * p * r_ / (p + r_) END, 6)
        |    + 0.0 AS f1,
        |  round(acc, 6) + 0.0 AS overall_accuracy
        |FROM j ORDER BY lang""".stripMargin)),
    Key("text_heaps_law", textHeapsLaw, Some(
      s"""WITH t AS (SELECT doc_id,
        |  unnest(${OracleSql.Toks}) AS tok
        |  FROM documents),
        |f AS (SELECT doc_id, tok FROM t WHERE tok <> ''),
        |fd AS (SELECT tok, min(doc_id) AS doc_id FROM f GROUP BY 1),
        |nv AS (SELECT doc_id, count(*) AS nv FROM fd GROUP BY 1),
        |nt AS (SELECT doc_id, count(*) AS nt FROM f GROUP BY 1)
        |SELECT nt.doc_id,
        |  CAST(sum(nt.nt) OVER w AS BIGINT) AS cum_tokens,
        |  CAST(sum(COALESCE(nv.nv, 0)) OVER w AS BIGINT) AS cum_vocab
        |FROM nt LEFT JOIN nv USING (doc_id)
        |WINDOW w AS (ORDER BY nt.doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY doc_id""".stripMargin)),
    Key("text_chunk_overlap", textChunkOverlap, Some(
      s"""WITH t AS (SELECT doc_id,
        |  len(${OracleSql.Toks}) AS n
        |  FROM documents),
        |f AS (SELECT doc_id, n, 1 + greatest(0, (n - 9) // 24) AS n_chunks
        |      FROM t WHERE n > 0),
        |c AS (SELECT doc_id, n, unnest(range(0, n_chunks)) AS k FROM f)
        |SELECT doc_id, CAST(k AS INT) AS chunk_id,
        |  CAST(k * 24 AS BIGINT) AS start_tok,
        |  CAST(least(32, n - k * 24) AS BIGINT) AS chunk_len
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),
    Key("text_zipf_fit", textZipfFit, Some(
      s"""WITH tok AS (SELECT unnest(${OracleSql.Toks}) AS token
        |            FROM documents),
        |cnts AS (SELECT token, count(*) AS cnt FROM tok
        |         WHERE token <> '' GROUP BY 1),
        |top AS (SELECT
        |    ln(CAST(row_number() OVER (ORDER BY cnt DESC, token) AS DOUBLE)) AS x,
        |    ln(CAST(cnt AS DOUBLE)) AS y
        |  FROM cnts ORDER BY cnt DESC, token LIMIT 100)
        |SELECT (SELECT count(*) FROM cnts) AS vocab_n, count(*) AS n_fit,
        |  round(regr_slope(y, x), 6) + 0.0 AS slope,
        |  round(regr_intercept(y, x), 6) + 0.0 AS intercept,
        |  round(regr_r2(y, x), 6) + 0.0 AS r2
        |FROM top""".stripMargin)),
    Key("text_dup_ngram_coverage", textDupNgramCoverage, Some(
      s"""WITH t AS (SELECT doc_id,
        |  ${OracleSql.Toks} AS toks FROM documents),
        |g AS (SELECT doc_id,
        |  unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS g
        |  FROM t),
        |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_trigrams,
        |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
        |    AS dup_occurrences,
        |  round(sum(CASE WHEN c > 1 THEN c ELSE 0 END)
        |        / CAST(sum(c) AS DOUBLE), 6) + 0.0 AS dup_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    Key("decontaminate", decontaminate, Some(DecontaminateSql)),
    // the Bloom form is exact by construction (no false negatives; every
    // positive re-verified), so it is held to the SAME oracle — the
    // strongest possible equivalence check for the prefilter.
    Key("decontaminate_bloom", decontaminateBloom, Some(DecontaminateSql)),
    Key("text_repetition", textRepetition, Some(
      s"""WITH t AS (SELECT doc_id, ${OracleSql.Toks} AS toks
        |           FROM documents),
        |$duckRepetitionCounts
        |SELECT base.doc_id,
        |  round((base.n - base.nd) / CAST(base.n AS DOUBLE), 6) AS dup_tok_frac,
        |  round(COALESCE(topbg.top, 0) / CAST(GREATEST(base.n - 1, 1) AS DOUBLE), 6)
        |    AS top_bigram_frac,
        |  (round((base.n - base.nd) / CAST(base.n AS DOUBLE), 6) <= 0.3 AND
        |   round(COALESCE(topbg.top, 0) / CAST(GREATEST(base.n - 1, 1) AS DOUBLE), 6) <= 0.2)
        |    AS pass_gate
        |FROM base LEFT JOIN topbg ON base.doc_id = topbg.doc_id
        |ORDER BY base.doc_id""".stripMargin)),
    // exact only because capacity ≥ vocabulary at test scale — the sketch
    // degenerates to a group-count (see heavyHitters scaladoc)
    // invariant oracles (round 11): exact top-10 verified exactly, MG's
    // never-overestimate + ⌊N/(cap+1)⌋ undercount bound as a boolean
    // DuckDB asserts TRUE (the count_min_freq pattern — the former
    // "capacity > vocabulary ⇒ exact" oracle broke at sf≈1 where the
    // inflated vocabulary passes the capacity)
    Key("heavy_hitters", heavyHitters, Some(
      duckTopTokens("mg_ok"))),
    Key("heavy_hitters_merge", heavyHittersMerge, Some(
      duckTopTokens("mg_ok"))),
    // invariant oracle (round 11): exact top-10 verified exactly; the CMS
    // estimate's one-sided εN bound is a boolean DuckDB asserts TRUE
    Key("count_min_freq", countMinFreq, Some(
      duckTopTokens("cms_ok"))),
    Key("sample_token_budget", sampleTokenBudget, Some(
      s"""WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(${OracleSql.Toks})
        |      AS BIGINT) AS n_toks
        |  FROM documents),
        |nl AS (SELECT CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |       FROM d),
        |c AS (SELECT d.*, nl.n_langs,
        |    CAST(COALESCE(sum(n_toks) OVER (PARTITION BY lang
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum,
        |    100000 // nl.n_langs AS slice
        |  FROM d, nl),
        |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs_taken,
        |        CAST(sum(n_toks) AS BIGINT) AS tokens_taken,
        |        CAST(any_value(slice) AS BIGINT) AS slice_budget
        |      FROM c WHERE cum < slice GROUP BY 1)
        |SELECT lang, n_docs_taken, tokens_taken, slice_budget,
        |  round(CAST(tokens_taken AS DOUBLE) / slice_budget, 6) + 0.0
        |    AS utilization
        |FROM g ORDER BY lang""".stripMargin)),
    Key("pack_greedy_bins", packGreedyBins, Some(
      s"""WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    CAST(len(${OracleSql.Toks})
        |      AS BIGINT) AS n_toks
        |  FROM documents),
        |bd AS (SELECT CAST(min(doc_id) AS BIGINT) AS lo,
        |        CAST(max(doc_id) + 1 AS BIGINT) AS hi FROM t),
        |bk AS (SELECT t.*, ((doc_id - lo) * 64) // (hi - lo) + 1 AS bkt
        |       FROM t, bd),
        |ov AS (SELECT bkt, CAST(count(*) AS BIGINT) AS n_oversize
        |       FROM bk WHERE n_toks > 512 GROUP BY 1),
        |fit AS (SELECT *,
        |    row_number() OVER (PARTITION BY bkt ORDER BY doc_id) AS tt,
        |    count(*) OVER (PARTITION BY bkt) AS nn
        |  FROM bk WHERE n_toks <= 512),
        |rec AS (
        |  SELECT bkt, nn, 1 AS tt2, n_toks AS fill,
        |    CAST(1 AS BIGINT) AS bins
        |  FROM fit WHERE tt = 1
        |  UNION ALL
        |  SELECT r.bkt, r.nn, r.tt2 + 1,
        |    CASE WHEN r.fill + p.n_toks <= 512 THEN r.fill + p.n_toks
        |         ELSE p.n_toks END,
        |    CASE WHEN r.fill + p.n_toks <= 512 THEN r.bins
        |         ELSE r.bins + 1 END
        |  FROM rec r JOIN fit p ON p.bkt = r.bkt AND p.tt = r.tt2 + 1
        |  WHERE r.tt2 < r.nn),
        |fin AS (SELECT bkt, bins FROM rec WHERE tt2 = nn),
        |ag AS (SELECT bkt, CAST(count(*) AS BIGINT) AS n_docs,
        |        CAST(sum(n_toks) AS BIGINT) AS tot_toks
        |       FROM fit GROUP BY 1),
        |af AS (SELECT a.bkt, a.n_docs, a.tot_toks, f.bins
        |       FROM ag a JOIN fin f ON f.bkt = a.bkt)
        |SELECT CAST(COALESCE(af.bkt, o.bkt) AS BIGINT) AS shard,
        |  COALESCE(af.n_docs, CAST(0 AS BIGINT)) AS n_docs,
        |  COALESCE(o.n_oversize, CAST(0 AS BIGINT)) AS n_oversize,
        |  CAST(COALESCE(af.bins, 0) AS BIGINT) AS n_bins,
        |  COALESCE(af.tot_toks, CAST(0 AS BIGINT)) AS tot_toks,
        |  CAST(COALESCE(af.bins, 0) * 512
        |    - COALESCE(af.tot_toks, 0) AS BIGINT) AS padding_toks,
        |  CASE WHEN af.bins IS NULL THEN round(0.0, 6) + 0.0
        |       ELSE round(CAST(af.tot_toks AS DOUBLE)
        |         / (af.bins * 512), 6) + 0.0 END AS utilization
        |FROM af FULL JOIN ov o ON o.bkt = af.bkt
        |ORDER BY shard""".stripMargin)),
    Key("pack_sequences", packSequences, Some(
      s"""WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(${OracleSql.Toks}) AS BIGINT) AS n_toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_toks,
        |    CAST(COALESCE(sum(n_toks) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
        |  FROM t)
        |SELECT doc_id, n_toks, start_tok,
        |  start_tok // 512 AS chunk_id, start_tok % 512 AS off_in_chunk
        |FROM c ORDER BY doc_id""".stripMargin)),
    Key("text_scrub", textScrub, Some(
      """SELECT doc_id,
        |  regexp_replace(text, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g') AS clean_text,
        |  CAST(len(string_split_regex(text, '(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) - 1 AS INTEGER) AS n_redacted
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // identical formula text, op for op; len()/list_filter() are the
    // tokenizer twins; ln agreement is inside the 1e-9 snap
    Key("text_bm25", textBm25, Some(
      s"""WITH d AS (
        |  SELECT doc_id,
        |    len(${OracleSql.Toks}) AS dl,
        |    len(list_filter(${OracleSql.Toks},
        |        x -> x = 'spark')) AS tf_spark,
        |    len(list_filter(${OracleSql.Toks},
        |        x -> x = 'join')) AS tf_join,
        |    len(list_filter(${OracleSql.Toks},
        |        x -> x = 'vector')) AS tf_vector
        |  FROM documents),
        |s AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
        |    sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS df_spark,
        |    sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
        |    sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS df_vector
        |  FROM d)
        |SELECT doc_id, dl,
        |  round(
        |    ln((CAST(n_docs AS DOUBLE) - df_spark + 0.5) / (df_spark + 0.5) + 1)
        |      * (tf_spark * 2.2) / (tf_spark + 1.2 * (0.25 + 0.75
        |      * (dl / (CAST(sum_dl AS DOUBLE) / n_docs))))
        |  + ln((CAST(n_docs AS DOUBLE) - df_join + 0.5) / (df_join + 0.5) + 1)
        |      * (tf_join * 2.2) / (tf_join + 1.2 * (0.25 + 0.75
        |      * (dl / (CAST(sum_dl AS DOUBLE) / n_docs))))
        |  + ln((CAST(n_docs AS DOUBLE) - df_vector + 0.5) / (df_vector + 0.5) + 1)
        |      * (tf_vector * 2.2) / (tf_vector + 1.2 * (0.25 + 0.75
        |      * (dl / (CAST(sum_dl AS DOUBLE) / n_docs)))),
        |  9) AS bm25
        |FROM d, s ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin)),
    Key("text_tfidf", textTfidf, Some(
      s"""WITH tokens AS (
        |  SELECT doc_id, unnest(${OracleSql.Toks}) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens
        |       WHERE term <> '' GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, term, tf, df, round(score_r, 4) AS tfidf
        |FROM (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |        round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 9) AS score_r,
        |        row_number() OVER (PARTITION BY tf.doc_id
        |          ORDER BY round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 9) DESC,
        |                   tf.term) AS rn
        |      FROM tf JOIN df USING (term), n) t
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin)),
    Key("pipeline_clean_corpus", pipelineCleanCorpus, Some(
      s"""WITH dedup AS (
         |  SELECT * FROM (
         |    SELECT doc_id, lang, text,
         |      row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         |    FROM documents) t WHERE rn = 1),
         |scored AS (
         |  SELECT lang,
         |    CAST(len(${OracleSql.Toks}) AS INTEGER) AS n_toks,
         |    round(CAST(len(list_filter(${OracleSql.Toks},
         |      x -> x IN ($duckMarkers))) AS DOUBLE) /
         |      len(${OracleSql.Toks}), 6) AS stop_ratio
         |  FROM dedup)
         |SELECT lang, count(*) AS kept_docs,
         |  CAST(sum(n_toks) AS BIGINT) AS kept_tokens,
         |  round(CAST(sum(CAST(stop_ratio AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_stop_ratio
         |FROM scored WHERE n_toks >= 8 AND stop_ratio >= 0.05
         |GROUP BY lang ORDER BY lang""".stripMargin)),
    Key("pipeline_dataset_card", pipelineDatasetCard, Some(
      """WITH g AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |    CAST(sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_short
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS td,
        |        CAST(sum(n_chars) AS BIGINT) AS tc FROM g)
        |SELECT source, lang, n_docs, n_chars,
        |  round(CAST(n_chars AS DOUBLE) / n_docs, 6) + 0.0 AS avg_chars,
        |  round(CAST(n_docs AS DOUBLE) / td, 6) + 0.0 AS doc_share,
        |  round(CAST(n_chars AS DOUBLE) / tc, 6) + 0.0 AS char_share,
        |  round(CAST(n_short AS DOUBLE) / n_docs, 6) + 0.0 AS pct_short
        |FROM g CROSS JOIN t ORDER BY source, lang""".stripMargin)),
    Key("text_length_hist", textLengthHist, Some(
      """WITH b AS (
        |  SELECT lang, CAST(length(bin(n_chars)) - 1 AS INTEGER)
        |      AS log2_bin,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(min(n_chars) AS BIGINT) AS min_chars,
        |    CAST(max(n_chars) AS BIGINT) AS max_chars,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents GROUP BY 1, 2)
        |SELECT lang, log2_bin, n_docs, min_chars, max_chars, sum_chars,
        |  round(CAST(n_docs AS DOUBLE)
        |    / sum(n_docs) OVER (PARTITION BY lang), 6) + 0.0
        |    AS share_in_lang
        |FROM b ORDER BY lang, log2_bin""".stripMargin)),
    Key("text_stats", textStats, Some(
      """SELECT lang, count(*) AS cnt,
        |  CAST(sum(n_chars) AS DOUBLE) / count(n_chars) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),
    Key("text_tokens", textTokens, Some(
      s"""SELECT token, count(*) AS cnt FROM (
        |  SELECT unnest(${OracleSql.Toks}) AS token
        |  FROM documents) t
        |WHERE token <> '' GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin)),
    Key("text_lang_id", textLangId, Some(
      s"""WITH t AS (SELECT doc_id, ${OracleSql.Toks} AS toks FROM documents)
         |SELECT doc_id,
         |  round(CAST(len(list_filter(toks, t -> t IN ($duckMarkers))) AS DOUBLE) / len(toks), 6) AS marker_ratio,
         |  CASE WHEN round(CAST(len(list_filter(toks, t -> t IN ($duckMarkers))) AS DOUBLE) / len(toks), 6) >= 0.10
         |       THEN 'en' ELSE 'und' END AS pred_lang
         |FROM t ORDER BY doc_id""".stripMargin)),
    Key("text_quality", textQuality, Some(
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |$duckQualityInputs
         |  FROM documents)
         |SELECT doc_id, CAST(len(toks) AS INTEGER) AS n_toks,
         |  round(CAST(chars - alnum_chars AS DOUBLE) / chars, 6) AS punct_ratio,
         |  round(CAST(len(list_filter(toks, x -> x IN ($duckMarkers))) AS DOUBLE) / len(toks), 6) AS stop_ratio,
         |  round(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(toks), 6) AS avg_word_len,
         |  $duckQualityExpr
         |FROM t ORDER BY doc_id""".stripMargin)),
    Key("sample_quota", sampleQuota, Some(
      s"""WITH t AS (
         |  SELECT doc_id, source, text,
         |$duckQualityInputs
         |  FROM documents),
         |q AS (SELECT doc_id, source,
         |  $duckQualityExpr
         |  FROM t),
         |r AS (SELECT *, CAST(row_number() OVER (
         |        PARTITION BY source ORDER BY quality DESC, doc_id) AS INTEGER) AS rn
         |      FROM q)
         |SELECT doc_id, source, quality, rn FROM r WHERE rn <= 20
         |ORDER BY source, rn""".stripMargin)),
    Key("text_quality_buckets", textQualityBuckets, Some(
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |$duckQualityInputs
         |  FROM documents),
         |q AS (SELECT doc_id,
         |  $duckQualityExpr
         |  FROM t),
         |th AS (SELECT quantile_cont(quality, 0.3333333333333333) AS t1,
         |              quantile_cont(quality, 0.6666666666666666) AS t2 FROM q)
         |SELECT CASE WHEN quality >= t2 THEN 'head'
         |            WHEN quality >= t1 THEN 'middle'
         |            ELSE 'tail' END AS bucket,
         |  count(*) AS n_docs,
         |  round(CAST(sum(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_quality
         |FROM q, th GROUP BY bucket ORDER BY bucket""".stripMargin)),
    Key("text_token_count", textTokenCount, Some(
      s"""SELECT doc_id,
        |  CAST(len(${OracleSql.Toks}) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS INTEGER) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),
    Key("text_fingerprint", textFingerprint, Some(
      s"""WITH t AS (SELECT doc_id, ${OracleSql.Toks} AS toks FROM documents),
        |tok AS (SELECT doc_id, i, toks[i] AS tok
        |        FROM (SELECT doc_id, toks, unnest(range(1, len(toks)+1)) AS i FROM t)),
        |dict AS (SELECT tok,
        |           CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT)
        |             % 2147483647 AS wid
        |         FROM (SELECT DISTINCT tok FROM tok)),
        |seq AS (SELECT doc_id, list(wid ORDER BY i) AS wids
        |        FROM tok JOIN dict USING (tok) GROUP BY doc_id)
        |SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), wids),
        |    (a, b) -> (a * 131 + b) % 1000000007) AS fp
        |FROM seq ORDER BY doc_id""".stripMargin)),
    Key("text_fingerprint_fast", textFingerprintFast),
  )
}
