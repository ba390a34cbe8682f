package graft

import graft.operators.{MultimodalOps, TextOps}
import graft.operators.MultimodalOps.{FakeDecoder, MediaItem}

/** Text-analysis and multimodal plumbing invariants. */
class TextMultimodalSpec extends SparkSuite {
  import spark.implicits._

  test("bloom decontamination is row-identical to the exact form") {
    // No false negatives by construction + exact re-verification of every
    // Bloom positive ⇒ the two keys must agree on EVERY row, not just
    // statistically. (Both also share one DuckDB oracle.)
    val exact = TextOps.decontaminate(spark, sf0001)
      .as[(Long, Boolean)].collect().toSeq
    val bloom = TextOps.decontaminateBloom(spark, sf0001)
      .as[(Long, Boolean)].collect().toSeq
    assert(bloom === exact)
    // non-vacuous: the eval docs themselves are excluded from the output
    assert(exact.forall { case (id, _) => id % 97 != 0 })
    assert(exact.nonEmpty)
  }

  test("documents corpus is ASCII — the multimodal_features oracle's " +
      "standing assumption fails loudly here if the corpus changes") {
    // The DuckDB oracle for multimodal_features folds per-CHARACTER
    // ord() and uses length(text) for byte_len; the Scala FakeDecoder is
    // byte-true. The two agree exactly when every character is one byte
    // (ASCII). This gate makes that documented assumption a hard check:
    // a future non-ASCII corpus fails HERE with a clear message instead
    // of as a silent engine-vs-oracle hash drift.
    import org.apache.spark.sql.functions.{col, length, octet_length}
    val nonAscii = graft.sources.Tables.documents(spark, sf0001)
      .filter(octet_length(col("text")) =!= length(col("text")))
      .count()
    assert(nonAscii === 0,
      s"$nonAscii documents contain multi-byte characters: the " +
        "multimodal_features DuckDB oracle (per-char ord() fold, " +
        "length() as byte_len) no longer matches the byte-true " +
        "FakeDecoder — switch the oracle to byte-level folding")
  }

  test("fingerprint is order-sensitive and injective on this corpus") {
    val fp = TextOps.textFingerprint(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .select("doc_id", "text").as[(Long, String)].collect()
    // identical token sequences ⇒ identical fingerprints, and vice versa
    val byText = docs.groupBy(_._2.trim.toLowerCase.split("\\s+").toSeq)
    byText.foreach { case (_, ds) =>
      assert(ds.map(d => fp(d._1)).toSet.size === 1)
    }
    assert(fp.values.toSet.size === byText.size)
  }

  test("fast (xxhash64) fingerprint induces the same equivalence classes") {
    val slow = TextOps.textFingerprint(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    val fast = TextOps.textFingerprintFast(spark, sf0001)
      .as[(Long, Long)].collect().toMap
    assert(slow.keySet === fast.keySet)
    // same partition of docs into identical-sequence groups, even though
    // the hash values themselves differ
    val slowGroups = slow.groupBy(_._2).values.map(_.keySet).toSet
    val fastGroups = fast.groupBy(_._2).values.map(_.keySet).toSet
    assert(slowGroups === fastGroups)
  }

  test("quality scores bounded to [0,1]; ratios to [0,1]") {
    val rows = TextOps.textQuality(spark, sf0001)
      .select("punct_ratio", "stop_ratio", "quality")
      .as[(Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (p, s, q) =>
      assert(p >= 0 && p <= 1); assert(s >= 0 && s <= 1)
      assert(q >= 0 && q <= 1)
    }
  }

  test("token counts: regex tokens ≥ whitespace tokens (punct split off)") {
    val rows = TextOps.textTokenCount(spark, sf0001)
      .select("ws_tokens", "re_tokens").as[(Int, Int)].collect()
    assert(rows.forall { case (ws, re) => re >= ws && ws > 0 })
  }

  test("FakeDecoder is deterministic and total on arbitrary bytes") {
    val item = MediaItem(7L, Array[Byte](1, 2, 3, -4), "fake/rgb8")
    val a = FakeDecoder.decode(item)
    val b = FakeDecoder.decode(item)
    assert(a === b)
    assert(a.byte_len === 4)
    assert(a.width >= 64 && a.height >= 64)
    val empty = FakeDecoder.decode(MediaItem(8L, Array.empty, "fake/rgb8"))
    assert(empty.byte_len === 0 && empty.checksum === 0L)
  }

  test("multimodal decode stage: schema + per-doc features, partition-batched") {
    val feats = MultimodalOps.multimodalFeatures(spark, sf0001)
    assert(feats.columns.toSeq ===
      Seq("doc_id", "format", "byte_len", "width", "height", "checksum"))
    val docs = graft.sources.Tables.documents(spark, sf0001)
    assert(feats.count() === docs.count())
    // byte_len of the fake payload is the UTF-8 length of text
    val joined = feats.join(docs, "doc_id")
      .select("byte_len", "text").as[(Int, String)].collect()
    assert(joined.forall { case (n, t) => n === t.getBytes("UTF-8").length })
  }

  test("text_lm_score: smoothed log-probs are negative and bounded, ppl " +
    "inverts the mean, and bigram counts conserve") {
    import org.apache.spark.sql.functions._
    val rows = TextOps.textLmScore(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // total bigrams across docs = Σ max(tokens−1, 0), computed directly
    val expected = graft.sources.Tables.documents(spark, sf0001)
      .select(greatest(size(split(trim(lower(col("text"))), "\\s+")) - 1,
        lit(0)).as("nb"))
      .agg(sum(col("nb"))).head().getLong(0)
    assert(rows.map(_.getLong(1)).sum == expected)
    val nPlusV = expected + 100000 // loose N+V ceiling for the ppl bound
    rows.foreach { r =>
      val (nb, lp, ppl) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(nb >= 1)
      assert(lp < 0.0) // add-one smoothing keeps every p strictly < 1
      // p ≥ 1/(c1+V) ⇒ ppl ≤ N+V
      assert(ppl >= 1.0 && ppl <= nPlusV.toDouble)
      // ppl is exp(−mean) of the ROUNDED mean, to 6 dp
      assert(math.abs(ppl - math.exp(-lp)) < 1e-5 * math.max(1.0, ppl))
    }
  }

  test("text_scrub redacts email-shaped tokens and counts them") {
    // the driver corpus has no emails, so craft rows exercising the regex
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, "contact me at a.b-c_d@mail-x.example.com thanks"),
      (2L, "two: x@y.io and z.1@w.co end"),
      (3L, "no pii here"),
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        regexp_replace(col("text"),
          "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>").as("clean"),
        (size(split(col("text"),
          "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}", -1)) - 1).as("n"))
      .as[(Long, String, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) === (("contact me at <EMAIL> thanks", 1)))
    assert(got(2L) === (("two: <EMAIL> and <EMAIL> end", 2)))
    assert(got(3L) === (("no pii here", 0)))
  }

  test("frame sampling covers each payload exactly, 256-byte windows") {
    val frames = graft.operators.MultimodalOps
      .multimodalFrames(spark, sf0001)
      .select("doc_id", "frame_no", "frame_bytes")
      .as[(Long, Long, Int)].collect()
    // per doc: frame numbers contiguous from 0, all-but-last frame full,
    // byte total equals the payload length
    val byDoc = frames.groupBy(_._1)
    val lens = graft.sources.Tables.documents(spark, sf0001)
      .selectExpr("doc_id", "octet_length(cast(text as binary))")
      .as[(Long, Int)].collect().toMap
    byDoc.foreach { case (doc, fs) =>
      val sorted = fs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (0L until sorted.length).toSeq)
      assert(sorted.init.forall(_._3 === 256))
      assert(sorted.map(_._3).sum === math.max(lens(doc), 0))
    }
  }

  test("multimodal_dedup: digest subgroups partition each prefix group, " +
    "and full-digest groups are genuinely byte-identical") {
    val rows = graft.operators.MultimodalOps.multimodalDedup(spark, sf0001)
      .as[(String, String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // per prefix group: subgroup copies sum back to the group size
    rows.groupBy(_._1).foreach { case (_, grp) =>
      val nPrefix = grp.head._5
      assert(nPrefix >= 2)
      assert(grp.map(_._4).sum == nPrefix)
      assert(grp.forall(_._5 == nPrefix))
    }
    // any n_copies >= 2 subgroup must correspond to exactly-equal texts
    val texts = graft.sources.Tables.documents(spark, sf0001)
      .select($"doc_id",
        org.apache.spark.sql.functions.md5($"text".cast("binary")).as("d"))
      .as[(Long, String)].collect().toMap
    rows.filter(_._4 >= 2).foreach { r => assert(texts(r._3) == r._2) }
  }

  test("multimodal_phash: every planted re-encode twin links back to its " +
    "original inside the radius; nothing else pairs") {
    val out = graft.operators.MultimodalOps.multimodalPhash(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val expected = graft.sources.Tables.documents(spark, sf0001)
      .filter($"doc_id" % 50 === 0 &&
        org.apache.spark.sql.functions.length($"text") >= 12)
      .select($"doc_id").as[Long].collect().toSet
    assert(expected.nonEmpty)
    // each twin pair (orig, orig + 2^40) present with small hamming
    expected.foreach { id =>
      val hit = out.find(p => p._1 == id && p._2 == id + (1L << 40))
      assert(hit.isDefined, s"twin of $id not detected")
      assert(hit.get._3 <= 6 && hit.get._3 >= 0)
    }
    // no cross-document noise pairs at this radius (measured min hamming
    // between distinct payloads is 13)
    assert(out.length === expected.size)
  }

  test("pack_greedy_bins: a shard whose every doc is oversize still " +
    "reports (n_docs = 0, n_bins = 0) with its n_oversize count") {
    // ids 1 and 2 land in shards 1 and 33 (((id-lo)*64) div span + 1 with
    // lo=1, span=2); doc 1 is 600 tokens — no 512-token bin can hold it,
    // so shard 1 has NO fitting docs and would vanish under a left join
    // driven from the folded (fit-only) side
    val dir = tempDir("graft_packover").toString
    Seq(
      (1L, (1 to 600).map(i => s"w$i").mkString(" "), "en", "web", 600L),
      (2L, "five little words right here", "en", "web", 29L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = TextOps.packGreedyBins(spark, dir)
      .orderBy("shard").collect()
    assert(out.length === 2, out.mkString("; "))
    val over = out.head
    assert(over.getLong(over.fieldIndex("shard")) === 1L)
    assert(over.getLong(over.fieldIndex("n_docs")) === 0L)
    assert(over.getLong(over.fieldIndex("n_oversize")) === 1L)
    assert(over.getLong(over.fieldIndex("n_bins")) === 0L)
    assert(over.getLong(over.fieldIndex("padding_toks")) === 0L)
    assert(over.getDouble(over.fieldIndex("utilization")) === 0.0)
    val fit = out(1)
    assert(fit.getLong(fit.fieldIndex("shard")) === 33L)
    assert(fit.getLong(fit.fieldIndex("n_docs")) === 1L)
    assert(fit.getLong(fit.fieldIndex("n_oversize")) === 0L)
    assert(fit.getLong(fit.fieldIndex("n_bins")) === 1L)
    assert(fit.getLong(fit.fieldIndex("tot_toks")) === 5L)
  }
}
