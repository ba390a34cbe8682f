package graft.sources

import org.apache.spark.sql.SparkSession

/** Bucketed twins of the big fact tables — the storage layout that makes
  * large-large joins SHUFFLE-FREE.
  *
  * `orders ⋈ lineitem` is the one join in this corpus where neither side
  * broadcasts; unbucketed, every query pays a full shuffle of both tables
  * on orderkey. Writing both tables `bucketBy(n, <orderkey>)` once moves
  * that shuffle to WRITE time: the bucket metadata lives in the catalog,
  * both sides hash-partition identically on disk, and every subsequent
  * join (and any aggregation keyed on orderkey, by the subset rule) reads
  * co-located buckets with NO Exchange in the plan — at 100 TB this is
  * the difference between re-shuffling 100 TB per query and never
  * shuffling it again. `sortBy` within buckets lets sort-merge join skip
  * its sorts when each bucket holds one file.
  *
  * BUCKET COUNT IS A SIZING DIAL, not a constant: a bucketed scan runs
  * one task per bucket, so a fixed count caps read parallelism no matter
  * how big the store grows (measured in the round-6 synthetic sf≈1 run:
  * 16 buckets held agg_bucketed to 16 tasks on 32 cores — ~20× instead
  * of 10× at 10× data). The count is therefore derived from the fact
  * table's size at layout time — constant per-bucket work, like the
  * embedding cell count. Both tables always share one count
  * (co-partitioning is the whole point), and the count is baked into the
  * content-keyed table name so a resize builds a NEW layout instead of
  * silently reusing the old one.
  *
  * The reference has no analogue (pandas joins in memory); this is the
  * engine-level upgrade its workflow gains for free on Spark.
  */
object Bucketed {

  /** Rows one bucket should hold: small enough that a bucket-task's scan
    * +agg fits comfortably in an executor's time budget, large enough
    * that footer/task overhead stays negligible. */
  val TargetRowsPerBucket = 150000L
  val MinBuckets = 16
  val MaxBuckets = 4096

  /** Bucket count for `dir`'s layout, sized from the lineitem row count.
    * [[ensure]] runs on every bucketed-key invocation, so the count comes
    * from the footers' row-group counts ([[Tables.rowCount]]): a driver-side
    * metadata read, no Spark job. */
  def bucketCount(spark: SparkSession, dir: String): Int = {
    val rows = Tables.rowCount(spark, dir, "lineitem")
    math.min(MaxBuckets, math.max(MinBuckets,
      math.ceil(rows.toDouble / TargetRowsPerBucket).toInt))
  }

  /** Lazily materialize the bucketed twins for `dir` (exactly once per
    * warehouse — a catalog lookup thereafter, like any table). A fresh
    * session with a leftover warehouse DIRECTORY (in-memory catalog, no
    * metastore) would refuse the managed-table location; these are derived
    * caches, so a stale location is simply cleared and rebuilt. */
  def ensure(spark: SparkSession, dir: String): (String, String) = {
    val n = bucketCount(spark, dir)
    // content-keyed name: distinct dirs (and regenerated data at the SAME
    // dir) get distinct tables — see [[Fingerprint]]; the bucket count is
    // part of the key so a resized layout never aliases the old one
    val tag = Fingerprint.tag(spark, dir, "orders", "lineitem")
    val (ot, lt) = (s"graft_orders_b${n}_$tag", s"graft_lineitem_b${n}_$tag")
    def build(name: String, keyCol: String, src: SparkSession => org.apache.spark.sql.DataFrame): Unit =
      if (!spark.catalog.tableExists(name)) {
        val wh = spark.conf.get("spark.sql.warehouse.dir")
        val loc = new org.apache.hadoop.fs.Path(s"$wh/$name")
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
        src(spark).write
          .bucketBy(n, keyCol).sortBy(keyCol)
          .mode("overwrite").saveAsTable(name)
      }
    build(ot, "o_orderkey", Tables.orders(_, dir))
    build(lt, "l_orderkey", Tables.lineitem(_, dir))
    (ot, lt)
  }

  /** [[ensure]] as a key's prep: one value, so the keys that read the
    * twins share one prep. */
  val prep: (SparkSession, String) => Unit = ensure(_, _)
}
