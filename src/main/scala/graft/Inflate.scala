package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthetic scale-up: inflate an SF directory ~N× by unioning N
  * key-remapped copies of every table — the sandbox's stand-in for a real
  * sf1 dataset (the harness ships sf0.001/0.01/0.1 only).
  *
  * Remapping discipline (copy 0 is the identity, so the original data is a
  * subset of the output):
  *  - every entity id shifts by `copy × 10^8`, preserving referential
  *    integrity (orders↔lineitem↔part/supplier, customer↔orders) and
  *    id-derived DISTRIBUTIONS: `user_id % 10` buckets are preserved
  *    exactly (the stride is a multiple of 10), and because the stride is
  *    coprime to 97 each copy contributes the same ~1/97 FRACTION of
  *    `doc_id % 97 = 0` eval docs — membership itself remaps per copy
  *    (10^8 mod 97 = 81 ≠ 0), so contamination sets are NOT comparable
  *    doc-for-doc between base and inflated runs, only in aggregate
  *    shape;
  *  - dimension tables (region, nation) are fixed-size in TPC-H and stay
  *    single-copy; foreign keys into them are NOT shifted;
  *  - document text gets a per-copy token suffix, so copies are neither
  *    exact nor near duplicates of each other — dedup candidate structure
  *    grows linearly (10× the within-copy pairs), not quadratically
  *    (10 exact clones of every doc would square the posting lists);
  *  - embedding labels shift per copy: the corpus gains MORE cells of the
  *    same size, which is exactly how a coarse quantizer scales (√N cells
  *    — see DedupOps.dedupEmbed's scaladoc), keeping within-cell pair
  *    work per cell constant.
  *
  * Usage: `runMain graft.Inflate <srcSfDir> <outDir> [copies=10]`.
  */
object Inflate {
  private val Stride = 100000000L // > every base id; ×10 and coprime to 97

  def main(args: Array[String]): Unit = {
    val (src, out) = (args(0), args(1))
    val n = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.builder().getOrCreate()

    def copies(base: DataFrame)(remap: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until n).map(i => remap(base, i)).reduce(_.unionByName(_))
    def shifted(df: DataFrame, i: Int, cols: String*): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * Stride)))
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(s"[inflate] $name done")
    }

    def tbl(name: String) = graft.sources.Tables.table(spark, src, name)
    write(tbl("region"), "region")
    write(tbl("nation"), "nation")
    write(copies(tbl("customer"))(shifted(_, _, "c_custkey")), "customer")
    write(copies(tbl("supplier"))(shifted(_, _, "s_suppkey")), "supplier")
    write(copies(tbl("part"))(shifted(_, _, "p_partkey")), "part")
    write(copies(tbl("orders"))(
      shifted(_, _, "o_orderkey", "o_custkey")), "orders")
    write(copies(tbl("lineitem"))(
      shifted(_, _, "l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    // events go through Tables.events, NOT the raw reader: the driver's
    // pyarrow-written µs files carry no Spark footer metadata, so the
    // inferTimestampNTZ=false escape hatch applies on read — but a raw
    // round-trip here would WRITE a Spark-annotated TIMESTAMP_NTZ column,
    // and Spark trusts its own footer over that conf, breaking every
    // unix_micros consumer of the inflated store. Normalizing first
    // writes plain TimestampType (µs, UTC session), which reads back
    // identically to the source vintages.
    write(copies(graft.sources.Tables.events(spark, src))(
      shifted(_, _, "event_id", "user_id")), "events")
    write(copies(tbl("documents")) { (df, i) =>
      val s = shifted(df, i, "doc_id")
      if (i == 0) s
      else s.withColumn("text",
          regexp_replace(col("text"), "(\\S+)", "$1" + s"c$i"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")
    write(copies(tbl("embeddings")) { (df, i) =>
      shifted(df, i, "vec_id").withColumn("label", col("label") + lit(i * 1000))
    }, "embeddings")
    spark.stop()
  }
}
