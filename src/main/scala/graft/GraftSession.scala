package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session decision. Bench, Verify, the dev tools and the
  * test suites all start from [[builder]], so what is tested, verified and
  * measured is the same engine a cluster deployment gets through
  * `spark-submit --conf spark.sql.extensions=graft.GraftExtensions`.
  *
  * The builder is returned before `getOrCreate`, so a caller can add a
  * deployment path (e.g. a warehouse dir) but need not repeat anything here.
  */
object GraftSession {

  /** Spark's generated-class cache holds 100 entries by default — a
    * multi-query session (the 456-key inventory here; any production
    * dashboard/report session elsewhere) evicts it many times over per
    * pass, so every query re-runs janino on every invocation. The cache is
    * driver-side (a few KB of class bytes per entry); 4096 entries is tens
    * of MB and not a function of data scale, so the same value is right on
    * a cluster. Static conf: only takes effect at session build. */
  private val CodegenCacheEntries = 4096

  /** `local[cpus]` with one shuffle partition per core (`cpus` is
    * `SPARK_GRAFT_CPUS`, else the JVM's available processors), the graft
    * extensions (graft_* functions, the TopKPerKey rewrite and the `file:`
    * file systems; [[GraftExtensions]] says what each does), the sized codegen
    * cache, UTC session time (NTZ wall values in `events` must not shift),
    * nanosecond parquet timestamps read as longs (see
    * [[graft.sources.Tables.events]]), no UI and WARN logging. */
  def builder(): SparkSession.Builder = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
  }
}
