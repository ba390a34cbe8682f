package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Session build, warmup and store preparation, with the settings and the
  * order `graft.Bench` uses, each step timed on its own. */
object Setup {

  /** `graft.Bench`'s session: extensions, a 4096-entry codegen cache, UTC,
    * `nanosAsLong` and one shuffle partition per core. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `graft.Bench`'s warmup: a range aggregate, then a parquet scan, join
    * and aggregate over `events`. */
  def warmup(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(1000000).selectExpr("sum(id)").collect()
    val e = graft.sources.Tables.events(spark, dir)
    e.join(e.select(col("event_id").as("j")), col("event_id") === col("j"))
      .groupBy(col("event_type")).count().collect()
    spark.catalog.clearCache()
  }

  /** Offline stores that the declared keys read, as `graft.Bench`
    * prepares them: (name, keys that need it, the preparing call). Add an
    * entry here when a workload gains a key that reads another store or
    * model. */
  val preps: Seq[(String, Set[String], (SparkSession, String) => Unit)] = Seq(
    ("events_by_day", Set("scan_pruned_day"),
      (s, d) => graft.sources.Layout.ensureEventsByDay(s, d)))

  /** Timings of one setup: session start, warmup, then each store prep. */
  final case class Timing(sessionS: Double, warmupS: Double, prepS: Seq[(String, Double)]) {
    def totalS: Double = sessionS + warmupS + prepS.map(_._2).sum
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** One full setup on `dir`; returns the live session and its timings. */
  def run(cpus: Int, dir: String, keys: Seq[String]): (SparkSession, Timing) = {
    val (spark, sessionS) = timed(session(cpus))
    val (_, warmupS) = timed(warmup(spark, dir))
    val prepS = preps.filter(_._2.exists(keys.contains)).map { case (name, _, f) =>
      name -> timed(f(spark, dir))._2
    }
    spark.catalog.clearCache()
    (spark, Timing(sessionS, warmupS, prepS))
  }
}
