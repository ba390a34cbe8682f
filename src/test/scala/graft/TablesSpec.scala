package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.{DateType, LongType, TimestampType}
import graft.sources.{Bucketed, Layout, Tables}

/** `Tables` is the one place a parquet schema comes from: a source table,
  * or a store one Spark job wrote, is read with the schema in one data
  * file's footer. Spark's own inference is the reference; the read runs no
  * Spark job, and a path with no data file keeps Spark's error. */
class TablesSpec extends SparkSuite {
  private val scales = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(sf => s"${new java.io.File(sf0001).getParent}/$sf")
  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  private val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"

  /** The frame `read` builds, once it has run no Spark job and has the
    * schema Spark infers for `path`. */
  private def footerRead(path: String)(read: => DataFrame): DataFrame = {
    var df: DataFrame = null
    val jobs = jobsStartedBy { df = read }
    assert(jobs.isEmpty, s"$path: $jobs")
    assert(df.schema === spark.read.parquet(path).schema, path)
    df
  }

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).isEmpty)
    assert(b.exceptAll(a).isEmpty)
  }

  private def errorOf(read: => Any): String =
    intercept[AnalysisException](read).getCondition

  test("every table at sf0.001, sf0.01 and sf0.1: the footer schema is " +
      "Spark's, under either timestamp-NTZ setting, and no job runs") {
    // Tables.events switches NTZ inference off for the session; the
    // lineitem and events µs timestamps read as timestamp_ntz before that
    val before = spark.conf.getOption(ntz)
    try for (on <- Seq("true", "false")) {
      spark.conf.set(ntz, on)
      for (dir <- scales; name <- names)
        footerRead(s"$dir/$name.parquet")(Tables.table(spark, dir, name))
    } finally before.fold(spark.conf.unset(ntz))(spark.conf.set(ntz, _))
  }

  test("a Spark-written multi-file table: same schema and rows; its row " +
      "count and bucket count come from the footers without a job") {
    val dir = tempDir("graft_multifile").toString
    val p = s"$dir/lineitem.parquet"
    Tables.lineitem(spark, sf0001).repartition(5).write.parquet(p)
    assert(new java.io.File(p).list().count(_.endsWith(".parquet")) === 5)
    sameRows(footerRead(p)(Tables.lineitem(spark, dir)), spark.read.parquet(p))
    var (rows, buckets) = (0L, 0)
    assert(jobsStartedBy {
      rows = Tables.rowCount(spark, dir, "lineitem")
      buckets = Bucketed.bucketCount(spark, dir)
    }.isEmpty)
    assert(rows === spark.read.parquet(p).count())
    assert(buckets === Bucketed.MinBuckets)
  }

  test("events_by_day: the footer read keeps the discovered day column " +
      "and the rows") {
    val path = Layout.ensureEventsByDay(spark, sf0001)
    val df = footerRead(path)(Tables.parquet(spark, path))
    assert(df.schema("day").dataType === DateType)
    sameRows(df, spark.read.parquet(path))
  }

  test("events with INT64 TIMESTAMP(NANOS) ts: Spark's schema, and " +
      "Tables.events truncates to µs") {
    val dir = tempDir("graft_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new Path(s"$dir/events.parquet"), conf)).withType(schema).build()
    val g = new SimpleGroupFactory(schema)
    try for (i <- 0 until 3) w.write(g.newGroup()
      .append("event_id", i.toLong)
      .append("ts", 1705300000123456789L + i * 1000000007L)
      .append("user_id", 7L).append("event_type", "click")
      .append("value", 1.5 * i))
    finally w.close()
    Tables.events(spark, dir) // sets the confs every events read runs under
    val raw = footerRead(s"$dir/events.parquet")(Tables.table(spark, dir, "events"))
    assert(raw.schema("ts").dataType === LongType)
    val events = Tables.events(spark, dir)
    assert(events.schema("ts").dataType === TimestampType)
    assert(events.selectExpr("unix_micros(ts)").collect().map(_.getLong(0))
      .toSeq === (0 until 3).map(i => (1705300000123456789L + i * 1000000007L) / 1000))
  }

  test("a missing path or a store with no data file keeps Spark's error") {
    val dir = tempDir("graft_nodata").toString
    assert(errorOf(Tables.table(spark, s"$dir/absent", "lineitem")) === "PATH_NOT_FOUND")
    assert(errorOf(Tables.rowCount(spark, s"$dir/absent", "lineitem")) === "PATH_NOT_FOUND")
    // a crashed write: only the committer's leftovers, no part file
    val empty = new java.io.File(s"$dir/lineitem.parquet/_temporary/0")
    assert(empty.mkdirs())
    assert(errorOf(Tables.lineitem(spark, dir)) === "UNABLE_TO_INFER_SCHEMA")
    assert(errorOf(Tables.parquet(spark, s"$dir/lineitem.parquet")) ===
      "UNABLE_TO_INFER_SCHEMA")
  }
}
