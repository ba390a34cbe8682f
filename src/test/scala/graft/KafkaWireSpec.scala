package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{IngestPipeline, KafkaWire}

/** Kafka-shaped integration (VERDICT r2 §Missing 1): the ingest pipeline
  * driven through the exact column contract `readStream.format("kafka")`
  * emits — (key, value, topic, partition, offset, timestamp,
  * timestampType), value as bytes — plus the committed-offset resume
  * semantics that upgrade consumer.py:21-22's auto-commit. */
class KafkaWireSpec extends SparkSuite {
  import spark.implicits._

  private def rec(city: String, temp: Double, dt: Long) =
    s"""{"name":"$city","main":{"temp":$temp,"humidity":70,"pressure":1010},"weather":[{"description":"haze"}],"dt":$dt,"timezone":0}"""

  test("wrap emits exactly the Kafka source schema") {
    val wire = KafkaWire.wrap(
      Seq((0L, rec("Medan", 30.0, 100))).toDF("off", "json"),
      col("off"), col("json"), timestamp_seconds(lit(100)),
      topic = "weather", nPartitions = 4)
    // (name, type) is the contract; literal-derived columns are
    // non-nullable where a broker's could be null, which is fine
    assert(wire.schema.fields.map(f => (f.name, f.dataType)).toSeq ===
      KafkaWire.schema.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("consume over wire records equals ingest over raw strings") {
    val payloads = Seq(
      (0L, rec("Medan", 30.02, 1748515260L)),
      (1L, rec("Jakarta", 32.05, 1748515500L)),
      (2L, """{"name":"bad","main":{"pressure":1},"dt":9,"timezone":0}"""))
    val wire = KafkaWire.wrap(payloads.toDF("off", "json"),
      col("off"), col("json"), timestamp_seconds(col("off")),
      topic = "weather", nPartitions = 4)
    val viaWire = KafkaWire.consume(wire)
      .select("city", "temperature", "dt")
      .as[(String, Double, Long)].collect().sortBy(_._1).toSeq
    val direct = IngestPipeline.ingest(
        payloads.map(_._2).toDF("raw"), col("raw"))
      .select("city", "temperature", "dt")
      .as[(String, Double, Long)].collect().sortBy(_._1).toSeq
    assert(viaWire === direct)
    assert(viaWire.map(_._1) === Seq("Jakarta", "Medan")) // bad row dropped
  }

  test("restart resumes from committed offsets: each offset exactly once") {
    // consumer.py:21 leans on auto_offset_reset='latest' + auto-commit:
    // already-consumed offsets are skipped on reconnect, but the commit is
    // detached from the store write (at-least-once). Here the offsets are
    // committed in the CHECKPOINT atomically with the epoch — stop,
    // produce more, restart: old offsets are not re-ingested, new ones all
    // arrive, nothing is duplicated.
    implicit val sqlCtx = spark.sqlContext
    val out = tempDir("graft_kafka_out").toString
    val ckpt = tempDir("graft_kafka_ck").toString
    val stream = MemoryStream[(Long, String)]
    def start() = {
      val wire = KafkaWire.wrap(stream.toDF().toDF("off", "json"),
        col("off"), col("json"), timestamp_seconds(col("off")),
        topic = "weather", nPartitions = 4)
      // each payload's dt echoes its offset, so the sink shows which
      // offsets were ingested
      KafkaWire.consume(wire)
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .format("parquet").start(out)
    }
    // epoch 1: offsets 0-2
    stream.addData((0L, rec("a", 1.0, 0)), (1L, rec("b", 1.0, 1)),
      (2L, rec("c", 1.0, 2)))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // epoch 2 after restart: offsets 3-4 (plus nothing replayed)
    stream.addData((3L, rec("d", 1.0, 3)), (4L, rec("a", 1.0, 4)))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(out).select("city", "dt")
      .as[(String, Long)].collect().sorted.toSeq
    assert(got === Seq(("a", 0L), ("a", 4L), ("b", 1L), ("c", 2L), ("d", 3L)))
  }

  test("per-partition tumbling aggregation over wire records") {
    // the full streaming path on the wire schema: wrap → consume →
    // watermark + window, proving the Kafka columns coexist with the
    // stateful operators (partition/offset survive into the plan)
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val wire = KafkaWire.wrap(stream.toDF().toDF("off", "json"),
      col("off"), col("json"), timestamp_seconds(col("off")),
      topic = "weather", nPartitions = 2)
    val q = IngestPipeline.tumblingAvg(KafkaWire.consume(wire))
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("kafka_tumbling").start()
    try {
      val t0 = 1748515200L
      stream.addData((0L, rec("X", 10.0, t0)), (1L, rec("X", 20.0, t0 + 60)))
      q.processAllAvailable()
      val rows = spark.sql("SELECT city, avg_temp, n_obs FROM kafka_tumbling")
        .as[(String, Double, Long)].collect().toSeq
      assert(rows === Seq(("X", 15.0, 2L)))
    } finally q.stop()
  }
}
