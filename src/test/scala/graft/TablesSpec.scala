package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.{DateType, LongType, TimestampType}
import graft.sources.{Bucketed, Fingerprint, Layout, Tables}

/** `Tables` is the one place a parquet schema comes from: a source table,
  * or a store one Spark job wrote, is read with the schema in one data
  * file's footer. Spark's own inference with timestamp-NTZ inference off
  * is the reference, whatever the session's setting; the read runs no
  * Spark job and writes no session conf, and a path with no data file
  * keeps Spark's error. `Tables.dataFiles` is also what the content tag
  * ([[Fingerprint]]) digests. */
class TablesSpec extends SparkSuite {
  private val scales = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(sf => s"${new java.io.File(sf0001).getParent}/$sf")
  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  private val ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
  private val nanos = "spark.sql.legacy.parquet.nanosAsLong"

  /** `body` with the session's NTZ inference set to `on` (`None`: unset),
    * restoring the previous setting after it. */
  private def withNtz[T](on: Option[String])(body: => T): T = {
    val before = spark.conf.getOption(ntz)
    on.fold(spark.conf.unset(ntz))(spark.conf.set(ntz, _))
    try body finally before.fold(spark.conf.unset(ntz))(spark.conf.set(ntz, _))
  }

  /** The frame `read` builds, once it has run no Spark job and has the
    * schema Spark infers for `path` with NTZ inference off. */
  private def footerRead(path: String)(read: => DataFrame): DataFrame = {
    var df: DataFrame = null
    val jobs = jobsStartedBy { df = read }
    assert(jobs.isEmpty, s"$path: $jobs")
    assert(df.schema === withNtz(Some("false"))(spark.read.parquet(path).schema),
      path)
    df
  }

  /** Row count and the sum of the rows' 64-bit hashes: equal for two
    * frames of one schema that hold the same multiset of rows. */
  private def digest(df: DataFrame) =
    df.select(count(lit(1)), sum(xxhash64(df.columns.map(col): _*)
      .cast("decimal(38,0)"))).head()

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).isEmpty)
    assert(b.exceptAll(a).isEmpty)
  }

  private def errorOf(read: => Any): String =
    intercept[AnalysisException](read).getCondition

  test("every table at sf0.001, sf0.01 and sf0.1: under either " +
      "timestamp-NTZ setting, the footer schema is Spark's with NTZ " +
      "inference off, the rows are Spark's, and no job runs") {
    // with NTZ inference on, Spark reads the lineitem and events µs
    // timestamps as timestamp_ntz; Tables reads them as timestamp
    val tables = for (dir <- scales; name <- names) yield (dir, name)
    val reference = withNtz(Some("false"))(tables.map { case (dir, name) =>
      digest(spark.read.parquet(s"$dir/$name.parquet")) })
    for (on <- Seq("true", "false")) withNtz(Some(on)) {
      tables.zip(reference).foreach { case ((dir, name), rows) =>
        val df = footerRead(s"$dir/$name.parquet")(Tables.table(spark, dir, name))
        assert(digest(df) === rows, s"$dir/$name with NTZ inference $on")
      }
    }
  }

  test("a source read writes no session conf: lineitem has one schema " +
      "before and after an events read") {
    withNtz(None) {
      val confs = Seq(ntz, nanos).map(spark.conf.getOption)
      val before = Tables.lineitem(spark, sf0001).schema
      Tables.events(spark, sf0001)
      assert(Seq(ntz, nanos).map(spark.conf.getOption) === confs)
      assert(Tables.lineitem(spark, sf0001).schema === before)
      assert(before("l_shipdate").dataType === TimestampType)
    }
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

  test("Fingerprint.tag digests the data files of a file: URI table: a " +
      "rewrite changes it, a _SUCCESS or .crc file does not") {
    val local = tempDir("graft_fp")
    val dir = s"file://$local"
    val part = local.resolve("events.parquet/part-00000.parquet")
    java.nio.file.Files.createDirectories(part.getParent)
    def put(sf: String): Unit = java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${new java.io.File(sf0001).getParent}/$sf/events.parquet"),
      part, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    put("sf0.001")
    val tag = Fingerprint.tag(spark, dir, "events")
    Seq("_SUCCESS", ".part-00000.parquet.crc").foreach(n =>
      java.nio.file.Files.write(part.resolveSibling(n), Array[Byte](1, 2, 3)))
    assert(Fingerprint.tag(spark, dir, "events") === tag)
    put("sf0.01")
    assert(Fingerprint.tag(spark, dir, "events") !== tag)
  }
}
