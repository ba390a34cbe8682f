package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see SURVEY.md §7.
  *
  * [[keys]] is the one registry. Each operator module declares its keys
  * (SURVEY.md §2 reference surface, §2.4/§2.6 relational completions,
  * §2.10 LLM-pipeline extensions) as a `Seq[Key]`, and the list below is
  * the only place the modules are named. A new key is one `Key` in its
  * module. [[queries]] and [[oracleSql]] are views of the registry in the
  * shape the driver reads; a key without an oracle is rows-only, pinned
  * by its specs instead of DuckDB.
  */
object SparkEntry {
  /** Flagship query (SURVEY §7.2): revenue per region over the full
    * star-schema join. Driver smoke-checks rows>0 on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    CoreOps.flagshipRevenue(spark, "/root/testdata/sf0.001")

  lazy val keys: Seq[Key] =
    CoreOps.keys ++ RelationalOps.keys ++ TextOps.keys ++ DedupOps.keys ++
      SimilarityOps.keys ++ MultimodalOps.keys ++ AdvancedOps.keys ++
      SqlSurfaceOps.keys ++ AnalyticsOps.keys ++ StatsOps.keys ++
      MiningOps.keys ++ graft.streaming.IngestPipeline.keys ++
      graft.streaming.StreamJoin.keys ++ graft.streaming.StreamEwma.keys ++
      graft.ml.IvfIndex.keys ++ graft.ml.PqIndex.keys ++ graft.ml.Pca.keys ++
      graft.ml.LogReg.keys ++ graft.ml.Bpe.keys

  /** Every key's Spark implementation, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    keys.map(k => k.name -> k.run).toMap

  /** For each key that has one, the equivalent SQL DuckDB runs on the
    * same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    keys.flatMap(k => k.oracle.map(k.name -> _)).toMap

  private lazy val byName: Map[String, Key] = keys.map(k => k.name -> k).toMap

  /** The keys `names` asks for, in that order; throws naming every name
    * that is not registered, so a typo fails before any work starts. */
  def lookup(names: Seq[String]): Seq[Key] = {
    val unknown = names.filterNot(byName.contains)
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown key(s): ${unknown.mkString(", ")}")
    names.map(byName)
  }
}
