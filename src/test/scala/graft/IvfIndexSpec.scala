package graft

import org.apache.spark.sql.functions._
import graft.ml.IvfIndex
import graft.operators.DedupOps

/** IVF index invariants: training converges, search is cell-restricted,
  * scores agree with brute force. */
class IvfIndexSpec extends SparkSuite {
  import spark.implicits._

  private def emb = graft.sources.Tables.embeddings(spark, sf0001)

  test("Lloyd iterations never increase inertia") {
    val m0 = IvfIndex.train(emb, k = 8, iters = 0)
    val m2 = IvfIndex.train(emb, k = 8, iters = 2)
    val (i0, i2) = (IvfIndex.inertia(emb, m0), IvfIndex.inertia(emb, m2))
    assert(i2 <= i0, s"inertia rose: $i0 -> $i2")
    assert(i2 > 0)
  }

  test("training is deterministic across runs") {
    val a = IvfIndex.train(emb, k = 8, iters = 2)
    val b = IvfIndex.train(emb, k = 8, iters = 2)
    assert(a.centroids.map(_._1).toSeq === b.centroids.map(_._1).toSeq)
    a.centroids.zip(b.centroids).foreach { case ((_, ca), (_, cb)) =>
      assert(ca.toSeq === cb.toSeq)
    }
  }

  test("init sample is uniform over the id space, not a lowest-id slice") {
    // the trainer seeds k-means with the first k vectors by
    // xxhash64(vec_id) — replicate that order and assert the draw spans
    // the corpus: at sf0.001 ids run 0..499, so a 16-row uniform sample
    // should land in many distinct deciles of the id range, where the old
    // first-k-by-id init concentrated in decile 0 by construction
    val n = emb.count()
    val ids = emb.select($"vec_id")
      .orderBy(IvfIndex.initOrder: _*).limit(16).as[Long].collect()
    assert(ids.length === 16)
    assert(ids.distinct.length === 16)
    val deciles = ids.map(id => id * 10 / n).toSet
    info(s"init ids: ${ids.sorted.mkString(",")} (deciles: ${deciles.toSeq.sorted.mkString(",")})")
    assert(deciles.size >= 6, s"init sample clumped: deciles $deciles")
    assert(ids.max >= n / 2, "init sample never left the low-id half")
  }

  test("search: 10 rows, scores equal brute force, probe excluded") {
    val ivf = IvfIndex.simSearchIvf(spark, sf0001)
      .select("vec_id", "cos_sim").as[(Long, Double)].collect()
    assert(ivf.length === 10)
    assert(!ivf.map(_._1).contains(0L))
    val all = emb.select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val probeV = all.filter($"vec_id" === 0).select($"v".as("p_v"))
    val brute = all.crossJoin(broadcast(probeV))
      .select($"vec_id", round(DedupOps.cosine($"v", $"p_v"), 6).as("c"))
      .as[(Long, Double)].collect().toMap
    ivf.foreach { case (id, c) => assert(c === brute(id), s"vec $id") }
  }

  test("serve path returns exactly the train+search result, without retraining") {
    val trained = IvfIndex.simSearchIvf(spark, sf0001)
      .select("vec_id", "cell", "cos_sim").as[(Long, Int, Double)].collect()
    val served = IvfIndex.simSearchIvfServe(spark, sf0001)
      .select("vec_id", "cell", "cos_sim").as[(Long, Int, Double)].collect()
    assert(served.toSeq === trained.toSeq)
    // round-trip through the parquet model store is lossless
    val m = IvfIndex.train(emb, k = 16, iters = 3)
    val loaded = IvfIndex.loadModel(spark, sf0001)
    assert(loaded.centroids.map(_._1).toSeq === m.centroids.map(_._1).toSeq)
    loaded.centroids.zip(m.centroids).foreach { case ((_, la), (_, ma)) =>
      assert(la.toSeq === ma.toSeq)
    }
    // second serve call reuses the stored model: no file under THIS
    // corpus's store may change (no retrain, no rewrite). Scoped to the
    // path ensureModel returns for sf0001, not the whole warehouse —
    // another corpus's concurrent build must not flip this assertion.
    def stampOf(f: java.io.File): Long =
      if (f.isDirectory) (f.lastModified() +: f.listFiles().map(stampOf)).max
      else f.lastModified()
    val storeF = new java.io.File(
      new java.net.URI(IvfIndex.ensureModel(spark, sf0001)).getPath)
    assert(storeF.isDirectory, storeF)
    val stamp = stampOf(storeF)
    IvfIndex.simSearchIvfServe(spark, sf0001).collect()
    assert(stampOf(storeF) === stamp)
  }
}
