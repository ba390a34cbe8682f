package graft

import org.apache.spark.sql.functions._
import graft.ml.PqIndex

/** Product-quantization invariants: code bounds, encode determinism
  * under repartitioning, the ADC = reconstructed-distance identity, and
  * recall of the registered sim_search_pq key vs exact brute force. */
class PqIndexSpec extends SparkSuite {
  import spark.implicits._

  private lazy val emb = graft.sources.Tables.embeddings(spark, sf0001)
  private lazy val cb = PqIndex.train(emb)

  test("codes are M entries, each within [0, K)") {
    val codes = PqIndex.encode(emb, cb)
      .select($"codes").as[Seq[Int]].collect()
    assert(codes.length === 500)
    codes.foreach { cs =>
      assert(cs.length === PqIndex.M)
      cs.foreach(c => assert(c >= 0 && c < PqIndex.K))
    }
  }

  test("encoding is partitioning-invariant (argmin ties break on code id)") {
    def enc(parts: Int): Map[Long, Seq[Int]] =
      PqIndex.encode(emb.repartition(parts), cb)
        .select($"vec_id", $"codes").as[(Long, Seq[Int])].collect().toMap
    assert(enc(1) === enc(7))
  }

  test("ADC column equals the distance to the codebook reconstruction") {
    // ||p - recon(codes)||² must equal the sum of per-subspace table
    // lookups — the algebraic identity ADC relies on (subspaces are
    // disjoint coordinate blocks, so squared distance is separable).
    val raw = emb.filter($"vec_id" === 0L)
      .select($"embedding".cast("array<double>"))
      .as[Seq[Double]].head().toArray
    val n = math.sqrt(raw.map(x => x * x).sum)
    val pVec = raw.map(_ / n) // probes quantize on the unit sphere
    val tbl = PqIndex.adcTable(pVec, cb)
    val got = PqIndex.encode(emb, cb)
      .withColumn("adc_d2", PqIndex.adcColumn(tbl))
      .select($"vec_id", $"codes", $"adc_d2")
      .as[(Long, Seq[Int], Double)].collect()
    got.foreach { case (id, codes, adc) =>
      val recon = (0 until PqIndex.M).flatMap(m => cb.books(m)
        .centroids(codes(m))._2).toArray
      var d = 0.0
      var i = 0
      while (i < pVec.length) {
        val t = pVec(i) - recon(i); d += t * t; i += 1
      }
      assert(math.abs(adc - d) <= 1e-9 * math.max(1.0, d), s"vec $id")
    }
  }

  test("sim_search_pq: exact scores for returned ids, recall ≥ 7/10") {
    val pq = PqIndex.simSearchPq(spark, sf0001)
      .as[(Long, Double)].collect()
    assert(pq.length === 10)
    // returned cosines must be the EXACT ones (re-rank is exact math)
    val exactTop = graft.operators.SimilarityOps.simSearch(spark, sf0001)
      .select($"vec_id", $"cos_sim").as[(Long, Double)].collect()
    val exactById = graft.sources.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    val p = exactById(0L).toArray
    val pn = math.sqrt(p.map(x => x * x).sum)
    pq.foreach { case (id, cos) =>
      val v = exactById(id).toArray
      val exact = (v, p).zipped.map(_ * _).sum /
        (math.sqrt(v.map(x => x * x).sum) * pn)
      assert(math.abs(cos - (math.rint(exact * 1e6) / 1e6)) <= 1e-9, s"vec $id")
    }
    val recall = pq.map(_._1).toSet
      .intersect(exactTop.map(_._1).toSet).size
    info(s"recall@10 = $recall/10")
    assert(recall >= 7)
  }

  test("PqAssign: interpreted eval is bit-identical to the codegen path") {
    // the whole-stage-codegen'd DataFrame result vs Expression.eval on
    // the same rows — the two paths must implement the identical
    // operation sequence (same accumulation order, same strict-< tie
    // rule) or partitioning/codegen fallbacks could flip codes
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val books = cb.books.map(_.centroids.map(_._2)).toArray
    val assignExpr = graft.functions.PqAssign(
      BoundReference(0, ArrayType(DoubleType), nullable = false), books)
    val fromDf = PqIndex.encode(emb, cb)
      .select($"vec_id", $"codes").as[(Long, Seq[Int])].collect().toMap
    val vcol = $"embedding".cast("array<double>")
    val unitVecs = emb
      .select($"vec_id",
        transform(vcol, x =>
          x / sqrt(graft.operators.DedupOps.dot(vcol, vcol))).as("vn"))
      .as[(Long, Seq[Double])].collect()
    unitVecs.foreach { case (id, vn) =>
      val row = InternalRow(new GenericArrayData(vn.toArray): ArrayData)
      val got = assignExpr.eval(row).asInstanceOf[ArrayData].toIntArray().toSeq
      assert(got === fromDf(id), s"vec $id")
    }
  }

  test("ivfpq: exact scores for returned ids, recall within pruning budget") {
    val got = PqIndex.simSearchIvfPq(spark, sf0001)
      .as[(Long, Double)].collect()
    assert(got.length === 10)
    val exactById = graft.sources.Tables.embeddings(spark, sf0001)
      .select($"vec_id", $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    val p = exactById(0L).toArray
    val pn = math.sqrt(p.map(x => x * x).sum)
    def cos(v: Array[Double]): Double =
      (v, p).zipped.map(_ * _).sum / (math.sqrt(v.map(x => x * x).sum) * pn)
    // re-rank is exact math: returned scores must equal brute cosines
    got.foreach { case (id, c) =>
      assert(math.abs(c - (math.rint(cos(exactById(id).toArray) * 1e6) / 1e6))
        <= 1e-9, s"vec $id")
    }
    // recall vs brute force: nprobe=3 of 8 cells scans 3/8 of the corpus,
    // so a missed neighbour must live in an unprobed cell. At sf0.001 the
    // probe's true top-10 span ~6 cells (weakly clustered data), capping
    // cell coverage at 7/10 for nprobe=3 — measured end-to-end 7/10 with
    // the uniform hash-sampled init; pinned with one hit of margin.
    // (The old 9/10 at nprobe=2 was an artifact: first-K-by-id init put a
    // centroid AT the probe, gluing its neighbourhood into one cell.)
    val exactTop = graft.operators.SimilarityOps.simSearch(spark, sf0001)
      .select($"vec_id").as[Long].collect().toSet
    val recall = got.map(_._1).toSet.intersect(exactTop).size
    info(s"ivfpq recall@10 = $recall/10")
    assert(recall >= 6)
  }

  test("ivfpq serve: identical answer from the persisted store; cell-partitioned codes") {
    val servePath = PqIndex.ensureIvfPqModel(spark, sf0001)
    val inline = PqIndex.simSearchIvfPq(spark, sf0001)
      .as[(Long, Double)].collect().toSeq
    val served = PqIndex.simSearchIvfPqServe(spark, sf0001)
      .as[(Long, Double)].collect().toSeq
    assert(served === inline) // deterministic training ⇒ same index
    // store layout: codes carry NO vector column and are partitioned by
    // cell (cell=N/ directories → serve-time partition pruning); coarse
    // and books are model-sized
    val codesSchema = spark.read.parquet(s"$servePath/codes")
      .schema.fieldNames.toSet
    assert(codesSchema === Set("vec_id", "codes", "cell"))
    val storeF = new java.io.File(new java.net.URI(servePath).getPath)
    val cellDirs = new java.io.File(storeF, "codes").listFiles()
      .filter(_.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty)
    assert(spark.read.parquet(s"$servePath/coarse").count() === PqIndex.CoarseK.toLong)
    assert(spark.read.parquet(s"$servePath/books").count()
      === PqIndex.M.toLong * PqIndex.K)
    // a second serve call reuses the store: no retrain, no rewrite (the
    // same stamp discipline IvfIndexSpec pins for the IVF store)
    def stampOf(f: java.io.File): Long =
      if (f.isDirectory) (f.lastModified() +: f.listFiles().map(stampOf)).max
      else f.lastModified()
    val stamp = stampOf(storeF)
    PqIndex.simSearchIvfPqServe(spark, sf0001).collect()
    assert(stampOf(storeF) === stamp)
  }

  test("serve path: identical answer from the persisted store; codes-only layout") {
    val servePath = PqIndex.ensureModel(spark, sf0001)
    val inline = PqIndex.simSearchPq(spark, sf0001)
      .as[(Long, Double)].collect().toSeq
    val served = PqIndex.simSearchPqServe(spark, sf0001)
      .as[(Long, Double)].collect().toSeq
    assert(served === inline) // deterministic training ⇒ same index
    // the serving corpus is the COMPRESSED one: codes store carries no
    // vector column, and the codebooks are model-sized
    val codesSchema = spark.read.parquet(s"$servePath/codes").schema.fieldNames.toSet
    assert(codesSchema === Set("vec_id", "codes"))
    val books = spark.read.parquet(s"$servePath/books")
    assert(books.count() === PqIndex.M.toLong * PqIndex.K)
  }
}
