package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/format coverage beyond parquet (SURVEY §2.1/§2.8): JSON lines
  * with the reference's defensive parse-error semantics (PERMISSIVE +
  * _corrupt_record ≙ consumer.py's try/except-log-continue), CSV with a
  * declared schema, and the text-file → ingest path the producer's JSON
  * payloads take. */
class SourcesSpec extends SparkSuite {
  import spark.implicits._

  private def writeLines(lines: Seq[String], suffix: String): String = {
    val dir = tempDir("graft_src")
    Files.write(dir.resolve(s"data$suffix"),
      String.join("\n", lines: _*).getBytes)
    dir.toString
  }

  test("PERMISSIVE json: malformed rows land in _corrupt_record, good rows parse") {
    val dir = writeLines(Seq(
      """{"event_id": 1, "event_type": "click", "value": 1.5}""",
      """{"event_id": 2, "event_type": "view"  BROKEN""",
      """{"event_id": 3, "event_type": "error", "value": 2.5}""",
    ), ".jsonl")
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("_corrupt_record", StringType)))
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir).cache()
    assert(df.count() === 3)
    assert(df.filter($"_corrupt_record".isNotNull).count() === 1)
    assert(df.filter($"_corrupt_record".isNull)
      .select($"event_id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    // DROPMALFORMED: the reference's log-and-continue, minus the log
    val dropped = spark.read
      .schema(StructType(schema.dropRight(1)))
      .option("mode", "DROPMALFORMED").json(dir)
    assert(dropped.count() === 2)
    df.unpersist()
  }

  test("scan_csv: poisoned lines quarantined exactly, good rows equal " +
    "the parquet original") {
    val out = graft.operators.RelationalOps.scanCsv(spark, sf0001).collect()
    assert(out.nonEmpty)
    // every row carries the fixture's full quarantine count — no poisoned
    // line escaped, none was double-counted
    out.foreach(r => assert(r.getLong(3) ===
      graft.sources.Layout.CsvBadLines.length.toLong))
    // lossless round-trip: per-type counts match the parquet source
    val src = graft.sources.Tables.events(spark, sf0001)
      .groupBy($"event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach(r => assert(r.getLong(1) === src(r.getString(0))))
    // and no poisoned line leaked into a good group: total good rows ==
    // source rows
    assert(out.map(_.getLong(1)).sum ===
      graft.sources.Tables.events(spark, sf0001).count())
  }

  test("scan_schema_evolution: mergeSchema unions generation columns; " +
    "absent columns read null, never fail or vanish") {
    val path = graft.sources.Layout.ensureEventsSchemaEvolution(
      spark, sf0001, 1705363200000000L)
    val merged = spark.read.option("mergeSchema", "true")
      .option("recursiveFileLookup", "true").parquet(path)
    assert(merged.columns.contains("props") &&
      merged.columns.contains("ingest_rev"))
    // gen1 rows: props/ingest_rev null; gen2 rows: both populated
    val pre = merged.filter(unix_micros($"ts") < 1705363200000000L)
    val post = merged.filter(unix_micros($"ts") >= 1705363200000000L)
    assert(pre.filter($"props".isNotNull || $"ingest_rev".isNotNull)
      .count() === 0)
    assert(post.filter($"ingest_rev" =!= 2).count() === 0)
    assert(post.filter($"props".isNull).count() === 0)
    // nothing lost across generations
    assert(merged.count() ===
      graft.sources.Tables.events(spark, sf0001).count())
  }

  test("CSV with declared schema round-trips the island dimension") {
    val dim = graft.streaming.IngestPipeline.islandDim(spark)
    val dir = tempDir("graft_csv").toString + "/dim"
    dim.write.option("header", "true").csv(dir)
    val back = spark.read
      .schema(StructType(Seq(
        StructField("city", StringType), StructField("pulau", StringType))))
      .option("header", "true").csv(dir)
    assert(back.collect().map(r => (r.getString(0), r.getString(1))).toSet ===
      dim.collect().map(r => (r.getString(0), r.getString(1))).toSet)
  }

  test("text-file JSON payloads flow through the ingest pipeline") {
    // the producer writes raw API JSON (producer.py:38-41); a landing
    // directory of such lines is the batch-replay entry point
    val dir = writeLines(Seq(
      """{"name":"Medan","main":{"temp":30.0,"humidity":74,"pressure":1010},"dt":1748515260,"timezone":25200}""",
      """{"name":"Incomplete","main":{"pressure":1010},"dt":1748515260,"timezone":0}""",
    ), ".txt")
    val out = graft.streaming.IngestPipeline.ingest(
      spark.read.text(dir), col("value"))
    assert(out.select($"city").as[String].collect().toSeq === Seq("Medan"))
  }

  test("Tables reads a rewritten file with its new schema") {
    // the schema comes from the file's footer on every read, so a store
    // rewritten with a DIFFERENT schema at the same path is never read
    // with the old one
    val dir = tempDir("graft_rewrite").toString
    val p = s"$dir/documents.parquet"
    Seq((1L, "alpha")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(p)
    val first = graft.sources.Tables.documents(spark, dir)
    assert(first.columns.toSeq === Seq("doc_id", "text"))
    assert(first.count() === 1)
    Seq((2L, "beta", "en")).toDF("doc_id", "text", "lang")
      .coalesce(1).write.mode("overwrite").parquet(p)
    val second = graft.sources.Tables.documents(spark, dir)
    assert(second.columns.toSeq === Seq("doc_id", "text", "lang"))
    assert(second.select($"lang").as[String].collect().toSeq === Seq("en"))
  }
}
