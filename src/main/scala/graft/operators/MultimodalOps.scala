package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Key
import graft.sources.Tables
import graft.operators.OpsHelpers.toksCol

/** Multimodal-column plumbing (north star: "treat image/audio/video as
  * opaque binary columns with typed metadata").
  *
  * The container has no image/audio codecs, so the DECODE step is a
  * clearly-marked deterministic fake ([[FakeDecoder]]); everything Spark
  * cares about — the binary column, the typed metadata struct, the
  * partition-preserving batched `mapPartitions` shape (the Scala analogue
  * of `mapInPandas`: one iterator per partition, never a per-row UDF
  * round-trip), and the output schema — is real and tested.
  *
  * At 100 TB: payloads live in parquet binary columns (or object-store
  * pointers for >row-group-size blobs), metadata in sibling scalar columns
  * so filters like `width > 512` prune row groups WITHOUT touching bytes;
  * the decode stage is a `mapPartitions` over only the filtered rows.
  */
object MultimodalOps {

  /** Typed row for the decode stage: payload + per-item metadata. */
  final case class MediaItem(doc_id: Long, payload: Array[Byte], format: String)

  /** Decoded features. In production this row comes out of a real codec. */
  final case class MediaFeatures(doc_id: Long, format: String, byte_len: Int,
      width: Int, height: Int, checksum: Long)

  /** Deterministic stand-in for an image decoder: derives "dimensions" and
    * a checksum purely from the bytes. Marked fake — swap for a codec. */
  object FakeDecoder {
    def decode(item: MediaItem): MediaFeatures = {
      val bytes = item.payload
      var sum = 0L
      var i = 0
      while (i < bytes.length) { sum = sum * 31 + (bytes(i) & 0xff); i += 1 }
      MediaFeatures(item.doc_id, item.format, bytes.length,
        width = 64 + (math.abs(sum) % 512).toInt,
        height = 64 + (math.abs(sum / 7) % 512).toInt,
        checksum = sum)
    }
  }

  /** The documents table dressed as a media table: text bytes as the opaque
    * payload + a metadata struct. (The test corpus has no real blobs.) */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        col("text").cast("binary").as("payload"),
        struct(lit("fake/rgb8").as("format"), col("n_chars").as("n_bytes_meta"),
          col("lang").as("tag")).as("media_meta"))

  // ── oracle-checkable slice of the plumbing: byte length + digest of the
  // binary payload (md5 is identical in Spark and DuckDB). ──
  def multimodalDecode(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .select(col("doc_id"),
        octet_length(col("payload")).as("byte_len"),
        md5(col("payload")).as("digest"),
        col("media_meta.format").as("format"))
      .orderBy("doc_id")

  // ── the real decode stage: batched mapPartitions over the typed Dataset.
  // No oracle (the fake decoder is not SQL); verified in ScalaTest. ──
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val items: Dataset[MediaItem] = mediaTable(spark, dir)
      .select(col("doc_id"), col("payload"), col("media_meta.format").as("format"))
      .as[MediaItem]
    items
      .mapPartitions(_.map(FakeDecoder.decode)) // one pass per partition batch
      .toDF()
      .orderBy("doc_id")
  }

  /** Frame size of [[multimodalFrames]] in payload bytes. */
  private val FrameBytes = 256

  // ── frame sampling: one row per fixed-size byte window of the payload —
  // the video-frame / audio-chunk access pattern (explode over a computed
  // frame index, then a per-frame slice; each frame row then feeds the
  // decode stage independently, so frames of one blob parallelize across
  // tasks). Sliced on the hex view because DuckDB lacks BLOB substring;
  // hex is 2 chars/byte in both engines, so the window arithmetic is
  // byte-exact and md5-comparable. ──
  def multimodalFrames(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .select(col("doc_id"), hex(col("payload")).as("hx"),
        octet_length(col("payload")).as("len"))
      .select(col("doc_id"), col("hx"),
        explode(sequence(lit(0L),
          ((greatest(col("len"), lit(1)) - 1) / FrameBytes).cast("long")))
          .as("frame_no"))
      .select(col("doc_id"), col("frame_no"),
        (length(substr(col("hx"), col("frame_no") * (FrameBytes * 2) + 1,
          lit(FrameBytes * 2))) / 2).cast("int").as("frame_bytes"),
        md5(substr(col("hx"), col("frame_no") * (FrameBytes * 2) + 1,
          lit(FrameBytes * 2))).as("digest"))
      .orderBy("doc_id", "frame_no")

  // ── exact binary dedup as a two-level digest cascade: level 1 hashes a
  // BOUNDED first-frame prefix (256 bytes — O(1) per row no matter how
  // large the payload), level 2 computes the full digest ONLY inside
  // prefix-colliding groups. On a 100 TB media corpus the cheap prefix
  // pass eliminates almost every row before any full-payload hash or
  // shuffle; only 16-byte digests are ever grouped. Output: one row per
  // (prefix group, full digest) with the canonical (lowest) id, the
  // exact-copy count, and the prefix-group size — n_copies ≥ 2 means
  // byte-identical re-uploads, n_prefix > n_copies means same leading
  // frame but diverging content (a truncation/re-encode suspect for the
  // perceptual pass). ──
  def multimodalDedup(spark: SparkSession, dir: String): DataFrame = {
    val media = mediaTable(spark, dir)
      .select(col("doc_id"), col("payload"),
        md5(substr(hex(col("payload")), lit(1), lit(FrameBytes * 2)))
          .as("head"))
    val cand = media.groupBy(col("head"))
      .agg(count(lit(1)).as("n_prefix")).filter(col("n_prefix") >= 2)
    media.join(cand, "head")
      .select(col("head").as("head_digest"), col("doc_id"),
        md5(col("payload")).as("digest"), col("n_prefix"))
      .groupBy(col("head_digest"), col("digest"))
      .agg(min(col("doc_id")).as("canonical"),
        count(lit(1)).as("n_copies"), first(col("n_prefix")).as("n_prefix"))
      .orderBy("canonical", "digest")
  }

  // ── perceptual NEAR-dup for media: a 60-bit dHash (gradient-sign bits
  // between 60 sampled byte pairs — the difference-hash family real
  // image pipelines use, computed here over the opaque payload since the
  // container has no codec) + banded hamming search. Byte values compare
  // through their 2-char uppercase-hex slices (lexicographic ≡ numeric
  // for fixed-width hex, and DuckDB lacks BLOB substring — same trick as
  // multimodal_frames), so the WHOLE pipeline is SQL-expressible and the
  // key carries a full oracle, unlike typical perceptual stacks. Scale
  // shape mirrors dedup_simhash: 4 bands of 15 bits are the LSH — only
  // band-colliding pairs are ever compared (keyed shuffle on the band
  // value; a hot band would take the SkewPairs treatment), and two
  // payloads within hamming ≤ 6 of each other agree on ≥ 1 whole band
  // with high probability. Exact copies land at hamming 0; trailing-edit
  // variants keep their early sample positions aligned and stay under
  // the radius. ──
  def multimodalPhash(spark: SparkSession, dir: String): DataFrame = {
    // the corpus carries no byte-level near-dups (measured min hamming 13
    // across all payload pairs), so the fixture plants the class this
    // operator exists to catch: every 50th payload gets a SAME-LENGTH
    // twin (id + 2⁴⁰ — beyond any real or inflated doc_id) with three
    // bytes substituted at spread positions —
    // the re-encode/watermark variant of a media file. Same length keeps
    // the length-relative sample grid aligned (the analogue of pHash's
    // fixed resize), so a twin differs in ≤ 2 bits per touched byte and
    // stays inside the radius; the oracle rebuilds the same twins.
    val base = mediaTable(spark, dir)
      .select(col("doc_id"), expr("CAST(payload AS STRING)").as("s"))
    val twins = base.filter(col("doc_id") % 50 === 0)
      .filter(length(col("s")) >= 12)
      // chars 5, ⌊L/2⌋ and L−5 become 'Q'; chunk lengths sum back to L
      .select((col("doc_id") + (1L << 40)).as("doc_id"), expr(
        """concat(
          |  substr(s, 1, 4), 'Q',
          |  substr(s, 6, length(s) div 2 - 6), 'Q',
          |  substr(s, length(s) div 2 + 1,
          |    length(s) - 6 - length(s) div 2), 'Q',
          |  substr(s, length(s) - 4))""".stripMargin).as("s"))
    // Spark samples the BINARY payload directly (byte-indexed substr is
    // O(1) where char-indexed substr on a long string walks the prefix;
    // binary comparison is unsigned-lexicographic = the same order the
    // oracle gets from fixed-width uppercase-hex slices). Cached: both
    // sides of the band self-join consume this |corpus|-row frame.
    val hashed = base.unionByName(twins)
      .select(col("doc_id"), col("s").cast("binary").as("pb"),
        octet_length(col("s").cast("binary")).as("len"))
      .filter(col("len") >= 2)
      .withColumn("ph", expr(
        """aggregate(
          |  transform(sequence(0, 59), i ->
          |    IF(substr(pb, 1 + (i * (len - 2)) div 59, 1) >
          |       substr(pb, 2 + (i * (len - 2)) div 59, 1),
          |      shiftleft(1L, CAST(i AS INT)), 0L)),
          |  0L, (a, x) -> a + x)""".stripMargin))
      .select(col("doc_id"), col("ph"))
      .transform(Eager(_))
    val bands = hashed.select(col("doc_id"), col("ph"),
      explode(array((0 to 3).map(b => struct(lit(b).as("b"),
        shiftright(col("ph"), 15 * b).bitwiseAND(lit(32767L)).as("bv"))): _*))
        .as("band"))
      .select(col("doc_id"), col("ph"),
        col("band.b").as("b"), col("band.bv").as("bv"))
    bands.select(col("doc_id").as("doc_a"), col("ph").as("ph_a"),
        col("b"), col("bv"))
      .join(bands.select(col("doc_id").as("doc_b"), col("ph").as("ph_b"),
        col("b"), col("bv")), Seq("b", "bv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(ph_a ^ ph_b) AS INT)").as("hamming"))
      // radius filter BEFORE distinct: the hamming > 6 majority of
      // band collisions never reaches the dedup shuffle
      .filter(col("hamming") <= 6)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  // ── Audio-style ENERGY PROFILE over the opaque payload: treat the
  // bytes as 8-bit PCM, split the clip into 8 equal segments, sample 16
  // evenly-spaced bytes per segment, and report each segment's summed
  // amplitude |b − 96| plus a silence flag — the segment-level
  // feature-extraction shape (VAD / silence trimming) an audio pipeline
  // runs before transcription. Like multimodal_phash, the byte math is
  // ALL integer (ascii of 1-byte substrings at integer-division sample
  // positions), so the whole pipeline is SQL-expressible and fully
  // oracled — no codec stub involved. Per-row work is O(128) regardless
  // of clip length; clips shorter than one analysis window (64 bytes)
  // are skipped, documented. One scan, no shuffle before the final
  // sort. ──
  /** (doc_id, seg 0-7, energy): the shared 8-segment × 16-sample integer
    * energy frame behind [[multimodalAudioEnergy]] and
    * [[multimodalSceneCut]]. */
  private def segmentEnergy(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").as("s"),
        length(col("text")).as("n"))
      .filter(col("n") >= 64)
      .select(col("doc_id"), col("s"), col("n"),
        explode(expr("sequence(0, 7)")).as("seg"))
      .withColumn("energy", expr(
        "aggregate(sequence(0, 15), 0L, (acc, j) -> acc +" +
          " abs(ascii(substring(s, CAST(1 + seg * (n div 8)" +
          " + (j * ((n div 8) - 1)) div 15 AS INT), 1)) - 96))"))
      .select(col("doc_id"), col("seg").cast("long").as("seg"),
        col("energy"))

  def multimodalAudioEnergy(spark: SparkSession, dir: String): DataFrame =
    segmentEnergy(spark, dir)
      .select(col("doc_id"), col("seg"), col("energy"),
        (col("energy") < 160L).as("is_quiet"))
      .orderBy("doc_id", "seg")

  // ── SCENE-CUT detection — the video twin of the audio profile: treat
  // the 8 segments as consecutive frames; a cut is a frame-to-frame
  // signature jump above the p90-scale threshold (|Δenergy| > 160).
  // The shot-boundary-detection shape every video pipeline runs before
  // frame sampling: per-item windows partition by doc_id (bounded,
  // parallel), all arithmetic integer, fully oracled. Output: cuts per
  // item + the largest jump — the "how dynamic is this clip" gauge
  // that drives sampling density downstream. ──
  def multimodalSceneCut(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("seg"))
    segmentEnergy(spark, dir)
      .withColumn("jump",
        abs(col("energy") - lag(col("energy"), 1).over(w)))
      .groupBy(col("doc_id"))
      .agg(count(when(col("jump") > 160L, 1)).as("n_cuts"),
        max(col("jump")).as("max_jump"))
      .orderBy("doc_id")
  }

  // ── caption↔embedding training manifest: the contrastive-pair
  // prep step that joins the text table to its media-embedding twin
  // (doc_id ≡ vec_id), carrying caption stats, the embedding L2 norm
  // (sequential-fold dot product — the sim_search parity), and the
  // SAME portable-hash split split_train_eval assigns, so a pair
  // never straddles train/eval. Equi join on the id, one pass each
  // side. ──
  def multimodalCaptionManifest(spark: SparkSession,
      dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(toksCol).as("n_toks"),
        expr("pmod(pmod(doc_id, 2147483648) * 2654435761, 2147483648)" +
          " % 1000000").as("u"))
      .withColumn("split",
        when(col("u") < 980000, "train")
          .when(col("u") < 990000, "val").otherwise("test"))
    val vecs = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("doc_id"), col("label"),
        (round(sqrt(DedupOps.dot(
          col("embedding").cast("array<double>"),
          col("embedding").cast("array<double>"))), 6) + lit(0.0d))
          .as("emb_norm"))
    docs.join(vecs, "doc_id")
      .select(col("doc_id"), col("lang"), col("n_toks"), col("label"),
        col("emb_norm"), col("split"))
      .orderBy("doc_id")
  }

  /** Pseudo-dimensions read straight off the payload bytes (2 bytes per
    * axis → 64..575 px) — the SQL-expressible stand-in for the metadata
    * width/height a real media table carries as sibling scalar columns
    * ([[FakeDecoder]] is the non-SQL twin; this one keeps the full
    * oracle). Items under 4 bytes are skipped, documented. */
  private def pseudoDims(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").as("s"),
        length(col("text")).as("n"))
      .filter(col("n") >= 4)
      .select(col("doc_id"),
        expr("64 + (ascii(substring(s, 1, 1)) * 256" +
          " + ascii(substring(s, 2, 1))) % 512").cast("long").as("w"),
        expr("64 + (ascii(substring(s, 3, 1)) * 256" +
          " + ascii(substring(s, 4, 1))) % 512").cast("long").as("h"),
        col("n").cast("long").as("byte_len"))

  // ── aspect-ratio bucketing with padding-waste accounting — the
  // batched-training prep step for vision data: items batch only with
  // same-bucket peers (portrait/square/landscape via INTEGER fences on
  // 100·w div h, never a float ratio), each bucket pads to its own
  // (max w, max h), and the report says how much of every batch tensor
  // would be padding — the number that decides whether the bucket grid
  // needs more cells. All arithmetic is int64 (Σw·h vs n·maxW·maxH)
  // until the final fill/waste divisions; one scan + a 3-row agg. ──
  def multimodalResBuckets(spark: SparkSession, dir: String): DataFrame =
    pseudoDims(spark, dir)
      .withColumn("ar100", expr("(100 * w) div h"))
      .withColumn("bucket",
        when(col("ar100") < 80, "portrait")
          .when(col("ar100") <= 125, "square")
          .otherwise("landscape"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_items"),
        max(col("w")).as("pad_w"), max(col("h")).as("pad_h"),
        sum(col("w") * col("h")).as("px"),
        min(col("ar100")).as("ar100_min"), max(col("ar100")).as("ar100_max"))
      .select(col("bucket"), col("n_items"), col("pad_w"), col("pad_h"),
        col("ar100_min"), col("ar100_max"),
        (round(expr("cast(px as double)" +
          " / (n_items * pad_w * pad_h)"), 6) + lit(0.0d)).as("fill"),
        (round(expr("1 - cast(px as double)" +
          " / (n_items * pad_w * pad_h)"), 6) + lit(0.0d)).as("pad_waste"))
      .orderBy("bucket")

  // ── pre-decode media quality gate: the cheap metadata/prefix checks a
  // pipeline runs BEFORE paying for any codec — undersized payloads,
  // oversized outliers, degenerate aspect ratios, and byte-identical
  // re-uploads (same md5 as a lower id — the multimodal_dedup cascade's
  // verdict folded into a flag). Per-reason corpus tallies: how much of
  // the intake each gate would drop, in items AND byte mass (the
  // number that sizes decode capacity). One scan + one digest-keyed
  // window; every fence is an integer literal shared with the oracle. ──
  def multimodalQualityGate(spark: SparkSession, dir: String): DataFrame = {
    // the corpus carries no byte-identical payloads (measured: zero md5
    // collisions), so the fixture plants the class this gate exists to
    // catch — every 100th payload gets an EXACT re-upload twin
    // (id + 2⁴¹, same bytes), the multimodal_phash planting discipline;
    // the oracle rebuilds the same twins
    val base = pseudoDims(spark, dir)
      .join(mediaTable(spark, dir)
        .select(col("doc_id"), md5(col("payload")).as("dg")), "doc_id")
    val d = base.unionByName(
        base.filter(col("doc_id") % 100 === 0)
          .withColumn("doc_id", col("doc_id") + (1L << 41)))
      .withColumn("is_dup", row_number().over(
        Window.partitionBy(col("dg")).orderBy(col("doc_id"))) > 1)
      .withColumn("ar100", expr("(100 * w) div h"))
    d.select(col("byte_len"), explode(array(
        when(col("byte_len") < 100, "too_small"),
        when(col("byte_len") > 400, "too_large"),
        when(col("ar100") < 50 || col("ar100") > 200, "bad_aspect"),
        when(col("is_dup"), "exact_dup"),
        when(col("byte_len").between(100, 400) &&
          col("ar100").between(50, 200) && !col("is_dup"), "pass")))
        .as("reason"))
      .filter(col("reason").isNotNull)
      .groupBy(col("reason"))
      .agg(count(lit(1)).as("n_items"), sum(col("byte_len")).as("bytes"))
      .orderBy("reason")
  }

  /** Shared pseudo-dimension oracle CTE (mirrors [[pseudoDims]]). */
  private val duckPseudoDims: String =
    """WITH pd AS (
      |  SELECT doc_id,
      |    CAST(64 + (ascii(substring(text, 1, 1)) * 256
      |      + ascii(substring(text, 2, 1))) % 512 AS BIGINT) AS w,
      |    CAST(64 + (ascii(substring(text, 3, 1)) * 256
      |      + ascii(substring(text, 4, 1))) % 512 AS BIGINT) AS h,
      |    CAST(length(text) AS BIGINT) AS byte_len, text
      |  FROM documents WHERE length(text) >= 4),
      |""".stripMargin

  /** Oracle CTEs of the audio-segment keys: the documents of at least 64
    * characters `d`, their 8 segments `e`, and `g(doc_id, seg, energy)`,
    * each segment's energy over 16 sampled bytes. Ends at `FROM e)`. */
  private val duckSegmentEnergy: String =
    """WITH d AS (
      |  SELECT doc_id, text AS s, length(text) AS n FROM documents
      |  WHERE length(text) >= 64),
      |e AS (
      |  SELECT doc_id, unnest(range(0, 8)) AS seg, s, n FROM d),
      |g AS (
      |  SELECT doc_id, seg,
      |    CAST(list_sum(list_transform(range(0, 16), j ->
      |      abs(ascii(substring(s,
      |        CAST(1 + seg * (n // 8) + (j * ((n // 8) - 1)) // 15
      |          AS BIGINT), 1)) - 96))) AS BIGINT) AS energy
      |  FROM e)""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("multimodal_res_buckets", multimodalResBuckets, Some(duckPseudoDims +
      """b AS (SELECT *, (100 * w) // h AS ar100,
        |        CASE WHEN (100 * w) // h < 80 THEN 'portrait'
        |             WHEN (100 * w) // h <= 125 THEN 'square'
        |             ELSE 'landscape' END AS bucket
        |      FROM pd),
        |g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_items,
        |        CAST(max(w) AS BIGINT) AS pad_w,
        |        CAST(max(h) AS BIGINT) AS pad_h,
        |        CAST(sum(w * h) AS BIGINT) AS px,
        |        CAST(min(ar100) AS BIGINT) AS ar100_min,
        |        CAST(max(ar100) AS BIGINT) AS ar100_max
        |      FROM b GROUP BY 1)
        |SELECT bucket, n_items, pad_w, pad_h, ar100_min, ar100_max,
        |  round(CAST(px AS DOUBLE) / (n_items * pad_w * pad_h), 6) + 0.0
        |    AS fill,
        |  round(1 - CAST(px AS DOUBLE) / (n_items * pad_w * pad_h), 6)
        |    + 0.0 AS pad_waste
        |FROM g ORDER BY bucket""".stripMargin)),
    Key("multimodal_quality_gate", multimodalQualityGate, Some(duckPseudoDims +
      """b0 AS (SELECT doc_id, w, h, byte_len, md5(text) AS dg FROM pd),
        |bt AS (SELECT * FROM b0
        |       UNION ALL
        |       SELECT doc_id + (1::BIGINT << 41) AS doc_id, w, h,
        |         byte_len, dg
        |       FROM b0 WHERE doc_id % 100 = 0),
        |dd AS (SELECT *, (100 * w) // h AS ar100 FROM bt),
        |dp AS (SELECT *, row_number() OVER (PARTITION BY dg
        |         ORDER BY doc_id) > 1 AS is_dup FROM dd),
        |r AS (SELECT byte_len, unnest([
        |        CASE WHEN byte_len < 100 THEN 'too_small' END,
        |        CASE WHEN byte_len > 400 THEN 'too_large' END,
        |        CASE WHEN ar100 < 50 OR ar100 > 200
        |          THEN 'bad_aspect' END,
        |        CASE WHEN is_dup THEN 'exact_dup' END,
        |        CASE WHEN byte_len BETWEEN 100 AND 400
        |          AND ar100 BETWEEN 50 AND 200 AND NOT is_dup
        |          THEN 'pass' END]) AS reason
        |      FROM dp)
        |SELECT reason, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(byte_len) AS BIGINT) AS bytes
        |FROM r WHERE reason IS NOT NULL GROUP BY 1
        |ORDER BY reason""".stripMargin)),
    Key("multimodal_caption_manifest", multimodalCaptionManifest, Some(
      s"""WITH d AS (
        |  SELECT doc_id, lang,
        |    len(${OracleSql.Toks}) AS n_toks,
        |    ((doc_id % 2147483648) * 2654435761 % 2147483648) % 1000000
        |      AS u
        |  FROM documents),
        |ds AS (SELECT doc_id, lang, CAST(n_toks AS INT) AS n_toks,
        |    CASE WHEN u < 980000 THEN 'train'
        |         WHEN u < 990000 THEN 'val' ELSE 'test' END AS split
        |  FROM d),
        |v AS (SELECT vec_id AS doc_id, label,
        |    round(sqrt(list_aggregate(
        |      list_transform(CAST(embedding AS DOUBLE[]), x -> x * x),
        |      'sum')), 6) + 0.0 AS emb_norm
        |  FROM embeddings)
        |SELECT ds.doc_id, ds.lang, ds.n_toks, v.label, v.emb_norm,
        |  ds.split
        |FROM ds JOIN v USING (doc_id) ORDER BY doc_id""".stripMargin)),
    // the identical integer byte sampling; list_sum/list_transform are
    // the aggregate/sequence twins
    Key("multimodal_audio_energy", multimodalAudioEnergy, Some(
      duckSegmentEnergy + """
        |SELECT doc_id, CAST(seg AS BIGINT) AS seg, energy,
        |  energy < 160 AS is_quiet
        |FROM g ORDER BY doc_id, seg""".stripMargin)),
    Key("multimodal_scene_cut", multimodalSceneCut, Some(
      duckSegmentEnergy + """,
        |l AS (
        |  SELECT doc_id,
        |    abs(energy - lag(energy)
        |      OVER (PARTITION BY doc_id ORDER BY seg)) AS jump
        |  FROM g)
        |SELECT doc_id,
        |  CAST(count(CASE WHEN jump > 160 THEN 1 END) AS BIGINT) AS n_cuts,
        |  max(jump) AS max_jump
        |FROM l GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // the identical dHash (hex-slice byte comparisons, same sampled
    // positions, same bit weights) + the same 15-bit banding and radius
    Key("multimodal_phash", multimodalPhash, Some(
      """WITH base AS (SELECT doc_id, text AS s FROM documents),
        |twins AS (
        |  SELECT doc_id + 1099511627776 AS doc_id,
        |    concat(
        |      substring(s, 1, 4), 'Q',
        |      substring(s, 6, length(s) // 2 - 6), 'Q',
        |      substring(s, length(s) // 2 + 1,
        |        length(s) - 6 - length(s) // 2), 'Q',
        |      substring(s, length(s) - 4)) AS s
        |  FROM base WHERE doc_id % 50 = 0 AND length(s) >= 12),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM twins),
        |m AS (SELECT doc_id, hex(encode(s)) AS hx,
        |        octet_length(encode(s)) AS len FROM u),
        |h AS (
        |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), i ->
        |    CASE WHEN substring(hx,
        |           CAST(2 * (1 + (i * (len - 2)) // 59) - 1 AS BIGINT), 2) >
        |         substring(hx,
        |           CAST(2 * (2 + (i * (len - 2)) // 59) - 1 AS BIGINT), 2)
        |    THEN CAST(1 AS BIGINT) << CAST(i AS INT)
        |    ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS ph
        |  FROM m WHERE len >= 2),
        |b AS (SELECT doc_id, ph, unnest(range(0, 4)) AS b FROM h),
        |bb AS (SELECT doc_id, ph, b,
        |         (ph >> CAST(15 * b AS INT)) & 32767 AS bv FROM b),
        |p AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
        |    CAST(bit_count(xor(a.ph, c.ph)) AS INTEGER) AS hamming
        |  FROM bb a JOIN bb c ON a.b = c.b AND a.bv = c.bv
        |    AND a.doc_id < c.doc_id)
        |SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= 6
        |ORDER BY doc_a, doc_b""".stripMargin)),
    Key("multimodal_decode", multimodalDecode, Some(
      """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS byte_len,
        |  md5(text) AS digest, 'fake/rgb8' AS format
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // FakeDecoder replay: the same (s·31 + byte) fold in HUGEINT with an
    // explicit mod-2^64 wrap, mapped back to signed int64 at the end;
    // |c/7| = |c|//7 because truncated division commutes with abs. The
    // char-position fold equals the BYTE fold because this corpus is
    // ASCII-only (verified; a non-ASCII corpus would need encode()+BLOB
    // byte access, which DuckDB lacks per-byte — the Scala side is
    // byte-true either way).
    Key("multimodal_features", multimodalFeatures, Some(
      """WITH u AS (
        |  SELECT doc_id, CAST(length(text) AS INTEGER) AS byte_len,
        |    list_reduce(
        |      list_prepend(CAST(0 AS HUGEINT),
        |        list_transform(string_split(text, ''),
        |          c -> CAST(ord(c) AS HUGEINT))),
        |      (acc, b) -> (acc * 31 + b)
        |        % CAST('18446744073709551616' AS HUGEINT)) AS uh
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, byte_len,
        |    CASE WHEN uh >= CAST('9223372036854775808' AS HUGEINT)
        |         THEN uh - CAST('18446744073709551616' AS HUGEINT)
        |         ELSE uh END AS c,
        |    CASE WHEN uh >= CAST('9223372036854775808' AS HUGEINT)
        |         THEN CAST('18446744073709551616' AS HUGEINT) - uh
        |         ELSE uh END AS absc
        |  FROM u)
        |SELECT doc_id, 'fake/rgb8' AS format, byte_len,
        |  CAST(64 + absc % 512 AS INTEGER) AS width,
        |  CAST(64 + (absc // 7) % 512 AS INTEGER) AS height,
        |  CAST(c AS BIGINT) AS checksum
        |FROM s ORDER BY doc_id""".stripMargin)),
    Key("multimodal_dedup", multimodalDedup, Some(
      """WITH m AS (SELECT doc_id, text,
        |             md5(substring(hex(encode(text)), 1, 512)) AS head
        |           FROM documents),
        |c AS (SELECT head, count(*) AS n_prefix FROM m
        |      GROUP BY 1 HAVING count(*) >= 2)
        |SELECT head AS head_digest, md5(text) AS digest,
        |  min(doc_id) AS canonical, count(*) AS n_copies,
        |  any_value(n_prefix) AS n_prefix
        |FROM m JOIN c USING (head)
        |GROUP BY 1, 2 ORDER BY canonical, digest""".stripMargin)),
    Key("multimodal_frames", multimodalFrames, Some(
      """WITH m AS (SELECT doc_id, hex(encode(text)) AS hx,
        |             octet_length(encode(text)) AS len FROM documents),
        |f AS (SELECT doc_id, hx,
        |        unnest(range(0, ((greatest(len, 1) - 1) // 256) + 1)) AS frame_no
        |      FROM m)
        |SELECT doc_id, CAST(frame_no AS BIGINT) AS frame_no,
        |  CAST(length(substring(hx, CAST(frame_no * 512 + 1 AS BIGINT), 512)) / 2 AS INTEGER) AS frame_bytes,
        |  md5(substring(hx, CAST(frame_no * 512 + 1 AS BIGINT), 512)) AS digest
        |FROM f ORDER BY doc_id, frame_no""".stripMargin)),
  )
}
