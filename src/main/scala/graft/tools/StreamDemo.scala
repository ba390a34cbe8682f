package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.{IngestPipeline, KafkaWire}

/** End-to-end runnable demo of the full reference pipeline — the one
  * command that shows `producer.py` → Kafka → `consumer.py` → MongoDB →
  * `app.py`'s dashboard, re-expressed on this engine:
  *
  *   poll loop (producer.py:15-49)  → spool files of OWM-shaped JSON
  *   Kafka wire (producer.py:27-41) → KafkaWire.wrap (exact source schema)
  *   consume    (consumer.py:18-78) → ingest plan: defensive parse +
  *                                    quarantine, completeness filter,
  *                                    local-time derivation
  *   store      (consumer.py:78)    → append history store (the insert_one
  *                                    pile) + the engine's upgrades: the
  *                                    bucket-wise latest-row UPSERT store
  *                                    and a watermarked tumbling-window agg
  *   dashboard  (app.py:58-154)     → batch queries over the store: current
  *                                    conditions, describe, value_counts,
  *                                    island enrichment + "Lainnya", pivot
  *
  * Deterministic by construction (fixed payloads, AvailableNow-style
  * drain, sorted outputs): the printed tables are golden.
  *
  * Usage: sbt "runMain graft.tools.StreamDemo [baseDir]"
  */
object StreamDemo {

  private val Cities = Seq("Medan", "Jakarta", "Pontianak", "Makassar", "Ambon")

  /** One OWM-shaped payload (FIXTURES.md A1). Temperature/humidity are
    * fixed functions of (city, cycle) so every run prints the same values. */
  private def payload(city: String, cycle: Int, dt: Long): String = {
    val t = 26.0 + Cities.indexOf(city) * 1.5 + cycle * 0.25
    val h = 60 + Cities.indexOf(city) * 5 + cycle
    val w = Seq("haze", "light rain", "scattered clouds")(cycle % 3)
    s"""{"name":"$city","main":{"temp":$t,"humidity":$h,"pressure":${1008 + cycle}},""" +
      s""""weather":[{"description":"$w"}],"wind":{"speed":${2.0 + cycle}},""" +
      s""""coord":{"lon":100.0,"lat":-2.0},"dt":$dt,"timezone":25200}"""
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_streamdemo").toString)
    val spool = s"$base/spool"
    val hist = s"$base/history"       // consumer.py:78's append pile
    val quar = s"$base/quarantine"    // unparseable payloads, kept raw
    val latest = s"$base/latest"      // the engine's upsert upgrade
    new java.io.File(spool).mkdirs()

    val spark = graft.GraftSession.builder().getOrCreate()

    // ── 1. the poll loop: 3 cycles, 15 min apart, one spool file per
    // cycle (producer.py polls every city per cycle and sends each
    // response). Cycle 2 carries the reference's failure modes: one
    // UNPARSEABLE payload (→ quarantine), one INCOMPLETE record (null
    // temp → validation drop, consumer.py:55-57), and one at-least-once
    // REDELIVERY (same city+dt twice → streaming dedup / upsert fold).
    val baseDt = 1748515200L // 2025-05-29 10:40:00 UTC, fixed
    var off = -1L
    def line(json: String): String = { off += 1; s"$off\t$json" }
    (0 until 3).foreach { cycle =>
      val dt = baseDt + cycle * 900L
      val rows = Cities.map(c => line(payload(c, cycle, dt))) ++
        (if (cycle == 2) Seq(
          line("{not json at all"),
          line(s"""{"name":"Palu","main":{"pressure":1009},"dt":$dt,"timezone":28800}"""),
          line(payload("Medan", 2, dt))) // redelivery of this cycle's Medan
         else Seq.empty)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$spool/cycle_$cycle.txt"),
        rows.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    println(s"[demo] spooled 3 poll cycles (${off + 1} wire records) under $spool")

    // ── 2. broker shaping: the exact (key, value bytes, topic, partition,
    // offset, timestamp, timestampType) column set a Kafka source emits.
    def wire(): DataFrame = {
      val raw = spark.readStream.text(spool)
      val parsed = raw.select(
        split(col("value"), "\t").getItem(0).cast("long").as("off"),
        split(col("value"), "\t").getItem(1).as("json"))
      KafkaWire.wrap(parsed, col("off"), col("json"),
        timestamp_seconds(lit(baseDt)), topic = "weather", nPartitions = 4)
    }
    val json = col("value").cast("string")

    // ── 3. three consumer groups off the same topic, each with its own
    // checkpoint (exactly how a deployment fans out): the history+
    // quarantine writer, the latest-row upsert store, and the
    // watermarked tumbling aggregate.
    val q1 = IngestPipeline.quarantineStream(wire(), json, hist, quar,
      s"$base/ck_hist")
    val q2 = IngestPipeline.upsertStream(
      IngestPipeline.dedupedStream(KafkaWire.consume(wire())), latest,
      s"$base/ck_latest")
    // dedup → window is a chained-stateful pipeline: the watermark is
    // declared ONCE (inside dedupedStream) and propagates to the window —
    // re-calling withWatermark (tumblingAvg's standalone form) would be a
    // watermark redefinition, which Spark rejects.
    val q3 = IngestPipeline.dedupedStream(KafkaWire.consume(wire()))
      .groupBy(window(col("obs_ts"), "5 minutes"), col("city"))
      .agg(avg(col("temperature")).as("avg_temp"), count(lit(1)).as("n_obs"))
      .select(col("window.start").as("win_start"), col("city"),
        col("avg_temp"), col("n_obs"))
      .writeStream.outputMode("append").format("memory")
      .queryName("tumbling").option("checkpointLocation", s"$base/ck_win")
      .start()
    Seq(q1, q2, q3).foreach(_.processAllAvailable())
    Seq(q1, q2, q3).foreach(_.stop())

    // ── 4. the dashboard (app.py:58-154), batch over the stores.
    val history = spark.read.parquet(hist)
    println(s"\n[demo] history store rows (at-least-once appends): " +
      history.count())
    println("[demo] quarantined payloads:")
    spark.read.parquet(quar).orderBy("raw_payload").show(5, false)

    println("[demo] current conditions (latest-row upsert store, one row" +
      " per city):")
    spark.read.parquet(latest)
      .select("city", "temperature", "humidity", "dt") // bucket= is layout
      .orderBy("city").show(20, false)

    println("[demo] describe per city (app.py's summary stats):")
    history.groupBy("city")
      .agg(count(lit(1)).as("n"), round(avg("temperature"), 3).as("mean_t"),
        min("temperature").as("min_t"), max("temperature").as("max_t"))
      .orderBy("city").show(20, false)

    println("[demo] weather value_counts:")
    history.groupBy("weather").count().orderBy(desc("count"), col("weather"))
      .show(20, false)

    println("[demo] avg temperature per island (broadcast dim +" +
      " 'Lainnya' for unmapped cities):")
    IngestPipeline.enriched(history, IngestPipeline.islandDim(spark))
      .groupBy("pulau").agg(round(avg("temperature"), 3).as("avg_temp"),
        count(lit(1)).as("n_obs"))
      .orderBy("pulau").show(20, false)

    println("[demo] latest observation wall-clock (max local_time):")
    history.agg(max("local_time").as("latest_local_time")).show(1, false)

    println("[demo] pivot city x poll-cycle mean temperature:")
    history.groupBy("city").pivot("dt",
        (0 until 3).map(c => (baseDt + c * 900L).toString))
      .agg(avg("temperature")).orderBy("city").show(20, false)

    println("[demo] tumbling 5-min windows emitted past the watermark:")
    spark.table("tumbling").orderBy("win_start", "city").show(20, false)

    println(s"[demo] done; stores under $base")
    spark.stop()
  }
}
