package graft

import org.apache.spark.sql.functions._
import graft.operators.{DedupOps, SimilarityOps}

/** Dedup + similarity invariants: planted-duplicate behavior on in-memory
  * corpora is covered by the cosine/jaccard identities; cross-variant
  * containment (LSH candidates ⊆ exhaustive candidates) runs on sf0.001. */
class DedupSimilaritySpec extends SparkSuite {
  import spark.implicits._

  test("cosine identities: self=1, orthogonal=0, opposite=-1") {
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)),
      (Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0)),
      (Seq(2.0, 0.0, 0.0), Seq(-1.0, 0.0, 0.0)),
    ).toDF("a", "b")
    val got = df.select(round(DedupOps.cosine($"a", $"b"), 9)).as[Double]
      .collect().toSeq
    assert(got === Seq(1.0, 0.0, -1.0))
  }

  test("dedup_incremental drops history hits and within-shard repeats") {
    // the sf corpora carry no cross-shard duplicates, so the oracle match
    // alone only proves plan equivalence — build a corpus where the shard
    // (doc_id % 10 = 0) contains (a) an exact normalized-dup of a
    // HISTORY doc, (b) a within-shard dup pair, (c) a fresh doc, and pin
    // exactly who survives
    val dir = tempDir("graft_incdup").toString
    Seq(
      // history (doc_id % 10 != 0)
      (1L, "Alpha beta gamma.", "en", "web", 17L),
      (2L, "Unrelated history text", "en", "web", 22L),
      // shard: 10 normalizes to doc 1's text (case/punct differences)
      (10L, "alpha BETA gamma!!", "en", "web", 18L),
      // shard: 20/30 are mutual dups — only the lowest id survives
      (20L, "Same shard text", "en", "crawl", 15L),
      (30L, "same  shard TEXT", "en", "crawl", 16L),
      // shard: genuinely new
      (40L, "Fresh never seen before", "en", "crawl", 23L),
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = DedupOps.dedupIncremental(spark, dir)
      .select($"doc_id").as[Long].collect().toSeq
    assert(got === Seq(20L, 40L))
  }

  test("dedup_exact keeps the LOWEST doc_id per text (window form)") {
    // on sf0.001 all texts are distinct → output must be the full table
    val docs = graft.sources.Tables.documents(spark, sf0001)
    assert(DedupOps.dedupExact(spark, sf0001).count() === docs.count())
  }

  test("dedup_pipeline = union of the three methods' pair sets, labeled") {
    def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val ng = pairsOf(DedupOps.dedupNgram(spark, sf0001))
    val mh = pairsOf(DedupOps.dedupMinhash(spark, sf0001))
    val sim = pairsOf(DedupOps.dedupSimhash(spark, sf0001))
    val pipe = DedupOps.dedupPipeline(spark, sf0001)
      .select("doc_a", "doc_b", "methods", "n_methods")
      .as[(Long, Long, String, Int)].collect()
    assert(pipe.map(r => (r._1, r._2)).toSet === (ng ++ mh ++ sim))
    pipe.foreach { case (a, b, methods, n) =>
      val ms = methods.split(",").toSet
      assert(ms.nonEmpty && n === ms.size)
      assert(ms.contains("ngram") === ng((a, b)))
      assert(ms.contains("minhash") === mh((a, b)))
      assert(ms.contains("simhash") === sim((a, b)))
    }
    // LSH survivors pass the same Jaccard gate → always ⊆ ngram's pairs
    assert(mh.subsetOf(ng))
  }

  test("minhash LSH pairs are a subset of exhaustive ngram-jaccard pairs") {
    val ngram = DedupOps.dedupNgram(spark, sf0001)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val mh = DedupOps.dedupMinhash(spark, sf0001)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(mh.subsetOf(ngram), s"minhash found pairs ngram missed: ${mh -- ngram}")
    assert(ngram.nonEmpty) // the corpus has planted near-dups
  }

  test("fast (xxhash64) minhash pairs ⊆ exhaustive ngram pairs, jaccard equal") {
    val ngram = DedupOps.dedupNgram(spark, sf0001)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val fast = DedupOps.dedupMinhashFast(spark, sf0001)
      .as[(Long, Long, Double)].collect()
    assert(fast.forall { case (a, b, j) => ngram.get((a, b)).contains(j) },
      "fast minhash surfaced a pair (or jaccard) the exhaustive form disagrees with")
  }

  test("fast and dict minhash are recall-equivalent (why _fast stays rows-only)") {
    // the two variants differ ONLY in shingle-id derivation (xxhash64 vs
    // global dict rank), so each output pair is a true Jaccard≥0.3 dup in
    // both — but the 16×2 band collisions land on different sids, so the
    // CANDIDATE recall may differ by a pair or two (measured: 28 vs 27 at
    // sf0.001). Strict set equality is therefore the WRONG invariant, and
    // registering dedup_minhash's oracle for _fast would assert it —
    // that's why _fast is rows-only by design. This pin is the honest
    // form: shared pairs carry identical jaccard, and the symmetric
    // difference stays within the LSH noise band (≥90% overlap).
    val slow = DedupOps.dedupMinhash(spark, sf0001)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val fast = DedupOps.dedupMinhashFast(spark, sf0001)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val shared = slow.keySet intersect fast.keySet
    assert(shared.forall(k => slow(k) == fast(k)),
      "a shared pair disagrees on jaccard — the exact score path diverged")
    val overlap = shared.size.toDouble / (slow.keySet union fast.keySet).size
    assert(overlap >= 0.9,
      s"recall divergence beyond LSH noise: overlap=$overlap " +
        s"slowOnly=${slow.keySet -- fast.keySet} fastOnly=${fast.keySet -- slow.keySet}")
  }

  test("simhash verified pairs all within hamming 3, canonical doc_a<doc_b") {
    val rows = DedupOps.dedupSimhash(spark, sf0001)
      .as[(Long, Long, Int)].collect()
    assert(rows.forall { case (a, b, h) => a < b && h >= 0 && h <= 3 })
  }

  test("sim_search: 10 rows, descending, ann results ⊆ brute-force ranking") {
    val brute = SimilarityOps.simSearch(spark, sf0001)
      .select("vec_id", "cos_sim").as[(Long, Double)].collect()
    assert(brute.length === 10)
    assert(brute.map(-_._2).toSeq === brute.map(-_._2).toSeq.sorted)
    assert(!brute.map(_._1).contains(0L)) // probe excluded
    val ann = SimilarityOps.simSearchAnn(spark, sf0001)
      .select("vec_id").as[Long].collect()
    // ANN searches only the probe's cell: every hit must share its label
    val probeLabel = graft.sources.Tables.embeddings(spark, sf0001)
      .filter($"vec_id" === 0).select("label").as[Int].head()
    val labels = graft.sources.Tables.embeddings(spark, sf0001)
      .filter($"vec_id".isin(ann: _*)).select("label").as[Int].collect()
    assert(labels.forall(_ === probeLabel))
  }

  test("native JaroWinkler: pinned to the DuckDB-probed reference values") {
    // each case probed against duckdb's jaro_winkler_similarity (the
    // oracle engine) — pinning window, integer half-transpositions,
    // prefix boost, the 0.7 boost threshold, byte semantics, and empties
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("CRATE", "TRACE", 0.7333333333333334), // jaro>0.7 but prefix 0
      ("abcxxx", "bcaxxx", 0.9444444444444445), // odd transpositions→floor
      ("abcdx", "abzzzzzzz", 0.5407407407407407), // jaro≤0.7: NO boost
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("héllo", "hello", 0.8400000000000001), // BYTES, not code points
      ("abc", "abc", 1.0), ("", "abc", 0.0), ("a", "", 0.0), ("", "", 0.0))
    val df = cases.map(c => (c._1, c._2)).toDF("a", "b")
    val got = df.select(graft.functions.JaroWinkler($"a", $"b")).as[Double]
      .collect().toSeq
    cases.zip(got).foreach { case ((a, b, want), g) =>
      assert(g === want, s"jw($a, $b)")
    }
    // null propagation
    val n = Seq((Option("x"), Option.empty[String])).toDF("a", "b")
      .select(graft.functions.JaroWinkler($"a", $"b")).collect()
    assert(n.head.isNullAt(0))
  }

  test("record_linkage: untouched rows score 1.0, every match clears the " +
    "threshold, and corrupted rows overwhelmingly link back home") {
    val out = DedupOps.recordLinkage(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    out.foreach { case (_, _, s) => assert(s >= 0.9 && s <= 1.0) }
    // dirty_id % 3 == 2 rows are uncorrupted: their top match must be a
    // perfect score (possibly another part with the identical name, so
    // pin the SCORE, not the id)
    out.filter(_._1 % 3 == 2).foreach { case (d, _, s) =>
      assert(s === 1.0, s"uncorrupted $d")
    }
    // many parts share an identical p_name (62 distinct among 200 at
    // sf0.001), so id-level home is undefined under ties — the correct
    // invariant is NAME-level: the matched clean row must carry the
    // dirty row's ORIGINAL name (measured 100% at sf0.001 and sf0.01;
    // assert all, since any regression here means the scorer or the
    // blocking broke)
    val names = graft.sources.Tables.part(spark, sf0001)
      .select($"p_partkey", $"p_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { case (d, c, s) =>
      assert(names(d) === names(c), s"dirty $d ($s) matched wrong name")
    }
    // the distinct-pattern plan must equal the NAIVE row-level blocked
    // join + (score desc, clean_id) rank — the equivalence that justifies
    // scoring the name vocabulary instead of every row pair
    val part = graft.sources.Tables.part(spark, sf0001)
    val dirty = part.select($"p_partkey".as("dirty_id"),
      DedupOps.corruptNameExpr.as("dname"))
    val clean = part.select($"p_partkey".as("clean_id"),
      $"p_name".as("name"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"dirty_id").orderBy(desc("score"), $"clean_id")
    val naive = windowReference(dirty.join(clean,
        substring($"dname", 1, 2) === substring($"name", 1, 2) &&
          abs(length($"dname") - length($"name")) <= 2)
      .select($"dirty_id", $"clean_id",
        (round(graft.functions.JaroWinkler($"dname", $"name"), 6)
          + lit(0.0d)).as("score"))
      .filter($"score" >= 0.9)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 1 && $"rn" > 0)
      .select($"dirty_id", $"clean_id", $"score"))
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(out.toSeq === naive.toSeq)
  }

  test("dedup_canonical: members partition the corpus, each kept doc is " +
    "its cluster's quality argmax (ties to lowest id)") {
    val out = DedupOps.dedupCanonical(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val nDocs = graft.sources.Tables.documents(spark, sf0001).count()
    assert(out.map(_._4).sum === nDocs) // every doc in exactly one cluster
    assert(out.map(_._1).distinct.length === out.length)
    val clusters = DedupOps.dedupCluster(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quality = graft.operators.TextOps.textQuality(spark, sf0001)
      .select($"doc_id", $"quality").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val byCluster = clusters.groupBy(_._2)
    out.foreach { case (cid, kept, q, n) =>
      val members = byCluster(cid).keys.toSeq
      assert(members.size.toLong === n)
      assert(clusters(kept) === cid)
      assert(q === quality(kept))
      val best = members.minBy(d => (-quality(d), d))
      assert(kept === best, s"cluster $cid kept $kept, argmax is $best")
    }
  }

  test("native DotProduct ≡ higher-order-function fold, bit for bit") {
    val vecs = graft.sources.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .limit(100)
    val both = vecs.crossJoin(
        vecs.select($"v".as("w")).limit(5))
      .select(DedupOps.dot($"v", $"w").as("native"),
        DedupOps.dotHof($"v", $"w").as("hof"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    // bitwise equality, not tolerance: same fold order, same doubles
    assert(both.forall { case (n, h) =>
      java.lang.Double.doubleToLongBits(n) == java.lang.Double.doubleToLongBits(h)
    })
  }

  test("native DotProduct: nulls and length mismatch behave") {
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))),   // 11.0
      (None, Some(Seq(1.0))),                        // null in → null out
      (Some(Seq(1.0, 2.0, 9.0)), Some(Seq(2.0, 2.0))), // min-length: 6.0
    ).toDF("a", "b")
    val got = df.select(DedupOps.dot($"a", $"b")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assert(got === Seq(Some(11.0), None, Some(6.0)))
  }

  test("sim_search_lsh: bucket-restricted, scores agree with brute force") {
    val lsh = SimilarityOps.simSearchLsh(spark, sf0001)
      .select("vec_id", "cos_sim").as[(Long, Double)].collect().toMap
    assert(lsh.nonEmpty && lsh.size <= 10)
    // scores for the ids LSH returns must equal the brute-force scores —
    // bucketing changes the candidate set, never the metric
    val all = graft.sources.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val probeV = all.filter($"vec_id" === 0).select($"v".as("p_v"))
    val brute = all.crossJoin(broadcast(probeV))
      .select($"vec_id", round(DedupOps.cosine($"v", $"p_v"), 6).as("c"))
      .as[(Long, Double)].collect().toMap
    lsh.foreach { case (id, c) => assert(c === brute(id), s"vec $id") }
    // and every hit shares the probe's bucket by construction
    val buckets = all.select($"vec_id",
        SimilarityOps.lshBucket($"v").as("b")).as[(Long, Int)].collect().toMap
    val pb = buckets(0L)
    lsh.keys.foreach(id => assert(buckets(id) === pb))
  }

  test("dedup_embed: pairs canonical and above threshold") {
    val rows = DedupOps.dedupEmbed(spark, sf0001)
      .as[(Long, Long, Double)].collect()
    assert(rows.forall { case (a, b, c) => a < b && c >= 0.4 })
  }

  test("dedup_containment: canonical pairs, containment >= max(jaccard, " +
    "0.9), and it contains every very-high-jaccard ngram pair") {
    val rows = DedupOps.dedupContainment(spark, sf0001)
      .as[(Long, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, c, j) =>
      assert(a < b)
      assert(c >= 0.9 && c <= 1.0 + 1e-9)
      // |∩|/min ≥ |∩|/|∪| always — containment dominates resemblance
      assert(c >= j - 1e-9)
    }
    // a pair with Jaccard ≥ 0.9 has containment ≥ Jaccard ≥ 0.9, so the
    // ngram family's near-identical pairs must all reappear here
    val cPairs = rows.map(r => (r._1, r._2)).toSet
    DedupOps.dedupNgram(spark, sf0001).as[(Long, Long, Double)].collect()
      .filter(_._3 >= 0.9)
      .foreach(p => assert(cPairs.contains((p._1, p._2)), s"missing $p"))
  }
}
