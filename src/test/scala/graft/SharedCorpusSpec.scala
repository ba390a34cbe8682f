package graft

import org.apache.spark.sql.functions._
import graft.operators.SharedCorpus

/** Pins the residency policy of [[graft.operators.SharedCorpus]]: a
  * long multi-corpus session must not accumulate checkpointed frames
  * (strong refs = blocks the ContextCleaner can never reclaim) beyond
  * [[SharedCorpus.MaxCorpora]] live corpora, and a frame whose blocks are
  * gone is rebuilt rather than served. */
class SharedCorpusSpec extends SparkSuite {

  /** A throwaway single-table corpus directory: one tiny parquet store
    * named like the memo's fingerprint tables expect. */
  private def mkCorpus(tag: String): String = {
    val dir = tempDir(s"sc_$tag").toString
    spark.range(10).select(col("id").as("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("a corpus beyond MaxCorpora evicts the least-recently-used " +
      "corpus's entries; re-touch rebuilds") {
    val dirs = (0 to SharedCorpus.MaxCorpora).map(i => mkCorpus(s"c$i"))
    var builds = 0
    def frame(dir: String) = SharedCorpus.memo(
      spark, "spec_frame", dir, "documents") {
      builds += 1
      graft.sources.Tables.table(spark, dir, "documents").agg(
        count(lit(1)).as("n"))
    }
    dirs.foreach(frame) // MaxCorpora + 1 distinct corpora
    assert(builds === SharedCorpus.MaxCorpora + 1)
    // the eldest (dirs(0)) fell out of the bookkeeping entirely…
    assert(!SharedCorpus.resident(spark, "spec_frame", dirs(0), "documents"),
      "LRU did not evict the eldest corpus's frame")
    // …the most recent MaxCorpora are all still resident…
    dirs.tail.foreach(d =>
      assert(SharedCorpus.resident(spark, "spec_frame", d, "documents")))
    // …and re-touching the evicted corpus REBUILDS from parquet (no
    // stale reference survives anywhere).
    frame(dirs(0))
    assert(builds === SharedCorpus.MaxCorpora + 2)
  }

  test("two frames of ONE corpus occupy one LRU slot; kinds within a " +
      "corpus evict together") {
    val a = mkCorpus("multiA")
    SharedCorpus.memo(spark, "spec_k1", a, "documents")(
      graft.sources.Tables.table(spark, a, "documents"))
    SharedCorpus.memo(spark, "spec_k2", a, "documents")(
      graft.sources.Tables.table(spark, a, "documents")
        .agg(count(lit(1)).as("n")))
    assert(SharedCorpus.resident(spark, "spec_k1", a, "documents"))
    assert(SharedCorpus.resident(spark, "spec_k2", a, "documents"))
    // push MaxCorpora fresh corpora through: corpus `a` (now the LRU)
    // must drop BOTH kinds
    (1 to SharedCorpus.MaxCorpora).foreach { i =>
      val d = mkCorpus(s"multiB$i")
      SharedCorpus.memo(spark, "spec_k1", d, "documents")(
        graft.sources.Tables.table(spark, d, "documents"))
    }
    assert(!SharedCorpus.resident(spark, "spec_k1", a, "documents"))
    assert(!SharedCorpus.resident(spark, "spec_k2", a, "documents"))
  }

  test("an in-place rewrite of a corpus store drops the stale-fingerprint " +
      "entry instead of stranding it") {
    val d = mkCorpus("rw")
    var builds = 0
    def frame() = SharedCorpus.memo(spark, "spec_rw", d, "documents") {
      builds += 1
      graft.sources.Tables.table(spark, d, "documents")
        .agg(count(lit(1)).as("n"))
    }
    frame(); frame()
    assert(builds === 1) // memo hit on the unchanged store
    val before = SharedCorpus.liveEntries
    // rewrite the store in place (new mtime/length ⇒ new fingerprint)
    Thread.sleep(1100) // mtime granularity on some filesystems is 1 s
    spark.range(25).select(col("id").as("doc_id"))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    frame()
    assert(builds === 2) // rebuilt under the new fingerprint
    assert(SharedCorpus.liveEntries <= before,
      "stale-fingerprint entry was stranded after an in-place rewrite")
  }

  test("a memo hit whose checkpoint blocks are gone is rebuilt once, " +
      "with the same rows") {
    val d = mkCorpus("lost")
    var builds = 0
    def frame() = SharedCorpus.memo(spark, "spec_lost", d, "documents") {
      builds += 1
      graft.sources.Tables.table(spark, d, "documents")
        .select((col("doc_id") * 3).as("x"))
    }
    val rows = frame().collect().map(_.getLong(0)).sorted.toSeq
    assert(builds === 1)
    // drop the checkpoint's blocks, as a lost executor or an eviction
    // would: every read of the old frame now fails
    val rddId = org.apache.spark.sql.GraftSqlBridge
      .checkpointRddId(frame().queryExecution.analyzed)
    assert(rddId.isDefined, "memo value is not a checkpointed leaf")
    spark.sparkContext.getPersistentRDDs(rddId.get).unpersist(blocking = true)
    val again = frame()
    assert(builds === 2, "lost blocks were served instead of rebuilt")
    assert(again.collect().map(_.getLong(0)).sorted.toSeq === rows)
    frame()
    assert(builds === 2) // the rebuilt entry is a plain hit
  }
}
