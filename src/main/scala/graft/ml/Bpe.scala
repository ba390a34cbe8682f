package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Key
import graft.operators.OpsHelpers.toksCol

/** Byte-pair-encoding vocabulary training — the TRAIN half of the BPE
  * tokenizer (apply lives in [[graft.functions.BpeEncode]], a native
  * codegen'd expression).
  *
  * Published algorithm (Sennrich et al. 2016): start from characters,
  * repeatedly take the most frequent adjacent symbol pair over the corpus
  * and add it as a merge. The frequency base is the WORD-COUNT dictionary,
  * not the raw corpus: one distributed groupBy(word) pass reduces 100 TB
  * of text to a bounded top-`maxVocabWords` dict on the driver (this is
  * how production BPE vocabs are trained — the vocabulary is a corpus-
  * level model artifact, like the PQ codebooks or the IVF centroids, and
  * its training input is capped by construction). Everything after the
  * one pass is driver-side over ≤10k entries; the expensive side — ENCODE
  * over the full corpus — is the distributed, embarrassingly parallel
  * scan.
  *
  * Determinism: the dict collect is ordered (count desc, word asc); merge
  * selection breaks frequency ties lexicographically; so the same corpus
  * always yields the same merge table, on any partitioning.
  */
object Bpe {

  /** One distributed word-count pass → driver-side merge learning. */
  def train(docs: DataFrame, nMerges: Int,
      maxVocabWords: Int = 10000): Array[(String, String)] = {
    val dict: Array[(String, Long)] = docs
      .select(explode(toksCol).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("w"))
      .limit(maxVocabWords)
      .collect().map(r => r.getString(0) -> r.getLong(1))

    var words: Array[(Array[String], Long)] = dict.map { case (w, c) =>
      val syms = Array.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val n = Character.charCount(w.codePointAt(i))
        syms += w.substring(i, i + n)
        i += n
      }
      (syms.result(), c)
    }
    val merges = Array.newBuilder[(String, String)]
    var made = 0
    var exhausted = false
    while (made < nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      // most frequent pair; ties (same count) break lexicographically so
      // training is partitioning- and hash-order-independent
      val best = counts.filter(_._2 >= 2).toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }.headOption
      best match {
        case None => exhausted = true
        case Some((pair, _)) =>
          merges += pair
          made += 1
          words = words.map { case (syms, c) =>
            val out = Array.newBuilder[String]
            var j = 0
            while (j < syms.length) {
              if (j < syms.length - 1 &&
                  syms(j) == pair._1 && syms(j + 1) == pair._2) {
                out += (syms(j) + syms(j + 1)); j += 2
              } else { out += syms(j); j += 1 }
            }
            (out.result(), c)
          }
      }
    }
    merges.result()
  }

  /** Driver-contract key: train a 64-merge vocabulary, encode the corpus —
    * (doc_id, n_bpe, n_sym0, compression). Rows-only: no SQL engine can
    * replay the merge loop; BpeSpec pins the algorithm against an
    * independent reference implementation, the codegen identity, and the
    * lossless concat round-trip. */
  def textBpe(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val merges = train(docs, nMerges = 64)
    docs.select(col("doc_id"),
        graft.functions.BpeEncode(col("text"), merges).as("toks"),
        length(regexp_replace(trim(lower(col("text"))), "\\s", ""))
          .as("n_sym0"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_bpe"),
        col("n_sym0").cast("long").as("n_sym0"))
      .withColumn("compression",
        round(col("n_bpe").cast("double") / col("n_sym0"), 6))
      .orderBy("doc_id")
  }

  val keys: Seq[Key] = Seq(Key("text_bpe", textBpe))
}
