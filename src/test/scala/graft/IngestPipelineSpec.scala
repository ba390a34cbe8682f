package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.sources.{Layout, Tables}
import graft.streaming.{IngestPipeline, KafkaWire}

/** The consumer.py ingest semantics (SURVEY §5.2/§5.3/§5.5): golden 5-row
  * sample from analysis.ipynb cell 0, the weather-as-string fallback, the
  * drop-incomplete rule, and the streaming tumbling window end-to-end
  * through MemoryStream. */
class IngestPipelineSpec extends SparkSuite {
  import spark.implicits._

  /** FIXTURES.md A2 golden sample (analysis.ipynb cell 0 output). */
  private def goldenJson: Seq[String] = Seq(
    ("Medan", 30.02, 74, 1010, "scattered clouds", 1748515260L),
    ("Padang", 31.03, 65, 1012, "broken clouds", 1748515320L),
    ("Palembang", 31.05, 74, 1011, "scattered clouds", 1748515380L),
    ("Jakarta", 32.05, 62, 1011, "scattered clouds", 1748515500L),
    ("Bandung", 28.97, 56, 1012, "few clouds", 1748515560L),
  ).map { case (city, t, h, p, w, dt) =>
    s"""{"name":"$city","main":{"temp":$t,"humidity":$h,"pressure":$p},
       |"weather":[{"description":"$w"}],"wind":{"speed":3.1},
       |"coord":{"lon":98.7,"lat":3.6},"dt":$dt,"timezone":25200}""".stripMargin
      .replace("\n", "")
  }

  test("golden flatten: 5-row sample lands with reference store schema") {
    val raw = goldenJson.toDF("raw")
    val out = IngestPipeline.ingest(raw, col("raw"))
    assert(out.count() === 5)
    val medan = out.filter($"city" === "Medan").head()
    assert(medan.getAs[Double]("temperature") === 30.02)
    assert(medan.getAs[Int]("humidity") === 74)
    assert(medan.getAs[String]("weather") === "scattered clouds")
    // consumer.py:59-61: local wall clock = UTC + 25200s (WIB, +7h)
    assert(medan.getAs[String]("local_time") === "2025-05-29 17:41:00")
  }

  test("weather arriving as stringified JSON is parsed (consumer.py:36-45)") {
    val raw = Seq(
      // array form and string-encoded form must both yield the description
      """{"name":"A","main":{"temp":30.0,"humidity":70,"pressure":1010},"weather":[{"description":"haze"}],"dt":1748515260,"timezone":0}""",
      """{"name":"B","main":{"temp":30.0,"humidity":70,"pressure":1010},"weather":"[{\"description\":\"haze\"}]","dt":1748515260,"timezone":0}""",
      // missing / malformed weather → "Unknown" (consumer.py:44-45)
      """{"name":"C","main":{"temp":30.0,"humidity":70,"pressure":1010},"dt":1748515260,"timezone":0}""",
      """{"name":"D","main":{"temp":30.0,"humidity":70,"pressure":1010},"weather":"not json","dt":1748515260,"timezone":0}""",
    ).toDF("raw")
    val got = IngestPipeline.ingest(raw, col("raw"))
      .select("city", "weather").as[(String, String)].collect().toMap
    assert(got("A") === "haze")
    assert(got("B") === "haze")
    assert(got("C") === "Unknown")
    assert(got("D") === "Unknown")
  }

  test("incomplete records are dropped (consumer.py:55-57)") {
    val raw = Seq(
      """{"name":"ok","main":{"temp":30.0,"humidity":70,"pressure":1010},"dt":1748515260,"timezone":0}""",
      """{"name":"no_temp","main":{"humidity":70,"pressure":1010},"dt":1748515260,"timezone":0}""",
      """{"name":"no_humidity","main":{"temp":30.0,"pressure":1010},"dt":1748515260,"timezone":0}""",
      """{"name":"no_dt","main":{"temp":30.0,"humidity":70,"pressure":1010},"timezone":0}""",
    ).toDF("raw")
    val cities = IngestPipeline.ingest(raw, col("raw"))
      .select("city").as[String].collect().toSet
    assert(cities === Set("ok"))
  }

  test("streaming: tumbling 5-min per-city average through MemoryStream") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val obs = IngestPipeline.ingest(stream.toDF(), col("value"))
    val q = IngestPipeline.tumblingAvg(obs)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("tumbling").start()
    try {
      // two cities, minute 0-4 window; one record in the next window
      def rec(city: String, temp: Double, dt: Long) =
        s"""{"name":"$city","main":{"temp":$temp,"humidity":70,"pressure":1010},"dt":$dt,"timezone":0}"""
      val t0 = 1748515200L // aligned to 5-min boundary
      stream.addData(
        rec("X", 10.0, t0), rec("X", 20.0, t0 + 60),
        rec("Y", 30.0, t0 + 120), rec("X", 40.0, t0 + 300))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT city, avg_temp, n_obs FROM tumbling ORDER BY win_start, city")
        .collect()
      assert(rows.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq ===
        Seq(("X", 15.0, 2L), ("Y", 30.0, 1L), ("X", 40.0, 1L)))
    } finally q.stop()
  }

  test("checkpointed parquet sink: restart resumes without duplicates") {
    // the exactly-once upgrade over the reference's at-least-once
    // auto-commit + blind insert_one (consumer.py:22,78): offsets live in
    // the checkpoint, the sink is idempotent per epoch — stop/restart must
    // neither lose nor duplicate
    implicit val sqlCtx = spark.sqlContext
    val out = tempDir("graft_sink").toString
    val ckpt = tempDir("graft_ckpt").toString
    def rec(city: String, dt: Long) =
      s"""{"name":"$city","main":{"temp":1.0,"humidity":1,"pressure":1},"dt":$dt,"timezone":0}"""
    val stream = MemoryStream[String]
    def start() = IngestPipeline.ingest(stream.toDF(), col("value"))
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt)
      .format("parquet").start(out)

    stream.addData(rec("a", 1), rec("b", 2))
    val run1 = start()
    run1.processAllAvailable(); run1.stop()

    stream.addData(rec("c", 3))
    val run2 = start()
    run2.processAllAvailable(); run2.stop()

    val cities = spark.read.parquet(out).select("city").as[String]
      .collect().sorted.toSeq
    assert(cities === Seq("a", "b", "c")) // no loss, no dupes
  }

  test("file-stream over the real events table equals the batch hour-window") {
    // the dashboard's 5-min rescan (app.py:80-101) as an actual stream:
    // readStream over the parquet store, one file per micro-batch
    // FileStreamSource consumes a DIRECTORY of arriving files — stage the
    // table file into one (also what a real landing zone looks like)
    val landing = tempDir("graft_landing")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      landing.resolve("batch-000.parquet"))
    val schema = Tables.table(spark, sf0001, "events").schema
    val stream0 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landing.toString)
    // normalize the legacy ns-as-long vintage; current µs files stream as-is
    val stream =
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        stream0.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else stream0
    val agg = stream
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("h"), col("event_type"), col("cnt"))
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("stream_hours").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM stream_hours")
        .as[(java.sql.Timestamp, String, Long)].collect()
        .map(r => (r._1.toInstant.toString, r._2) -> r._3).toMap
      val batch = graft.streaming.IngestPipeline
        .streamTumblingAvg(spark, sf0001)
        .select(to_timestamp(col("hour_s")).as("h"), col("event_type"), col("cnt"))
        .as[(java.sql.Timestamp, String, Long)].collect()
        .map(r => (r._1.toInstant.toString, r._2) -> r._3).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("file-stream dedup-then-count equals the batch tumbling-users key") {
    // countDistinct is unsupported in a streaming aggregation; the
    // streaming form is dropDuplicates(hour, user) → windowed count.
    // This pins that rewrite equal to the batch countDistinct key.
    val landing = tempDir("graft_landing_u")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      landing.resolve("batch-000.parquet"))
    val schema = Tables.table(spark, sf0001, "events").schema
    val stream0 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landing.toString)
    val stream =
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        stream0.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else stream0
    val agg = stream
      .withColumn("h", date_trunc("hour", col("ts")))
      .dropDuplicates("h", "user_id")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("users"))
      .select(col("window.start").as("h"), col("users"))
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("stream_users").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM stream_users")
        .as[(java.sql.Timestamp, Long)].collect()
        .map(r => r._1.toInstant.toString -> r._2).toMap
      val batch = graft.streaming.IngestPipeline
        .streamTumblingUsers(spark, sf0001)
        .select(to_timestamp(col("hour_s")).as("h"), col("users"))
        .as[(java.sql.Timestamp, Long)].collect()
        .map(r => r._1.toInstant.toString -> r._2).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("file-stream hopping window equals the batch window_hopping key") {
    // window(ts, 15m, 5m) is the SAME generator in both execution modes —
    // a backfill via RelationalOps.windowHopping and the live stream must
    // produce identical frames (the claim the batch key's scaladoc makes)
    val landing = tempDir("graft_hop")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      landing.resolve("batch-000.parquet"))
    val schema = Tables.table(spark, sf0001, "events").schema
    val stream0 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landing.toString)
    val stream =
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        stream0.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else stream0
    val agg = stream
      .groupBy(col("event_type"), window(col("ts"), "15 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("sv"))
      .select(col("event_type"), unix_micros(col("w.start")).as("win_start_us"),
        col("n"),
        (round(col("sv").cast("double") / col("n"), 6) + lit(0.0d)).as("avg_value"))
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("stream_hops").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM stream_hops")
        .as[(String, Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      val batch = graft.operators.RelationalOps.windowHopping(spark, sf0001)
        .as[(String, Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("file-stream session window equals the batch stream_session_window key") {
    // session_window is the third window generator whose batch/stream
    // agreement the engine claims (after tumbling and hopping): the
    // file-streamed per-user 30-min gap sessions must reproduce the
    // batch key frame for frame — start, end (= last event + gap),
    // count and decimal-exact value sum
    val landing = tempDir("graft_sess")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      landing.resolve("batch-000.parquet"))
    val schema = Tables.table(spark, sf0001, "events").schema
    val stream0 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landing.toString)
    val stream =
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        stream0.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else stream0
    val agg = stream
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("s"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("e"),
        col("n_events"), col("sum_value"))
    val q = agg.writeStream.outputMode(OutputMode.Complete())
      .format("memory").queryName("stream_sessions").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM stream_sessions")
        .as[(Long, String, String, Long, Double)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
      val batch = graft.streaming.IngestPipeline
        .streamSessionWindow(spark, sf0001)
        .as[(Long, String, String, Long, Double)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming dedup drops at-least-once redeliveries within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    def rec(city: String, dt: Long) =
      s"""{"name":"$city","main":{"temp":1.0,"humidity":1,"pressure":1},"dt":$dt,"timezone":0}"""
    val obs = IngestPipeline.ingest(stream.toDF(), col("value"))
    val q = IngestPipeline.dedupedStream(obs)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("deduped").start()
    try {
      val t0 = 1748515200L
      stream.addData(rec("a", t0), rec("a", t0), rec("b", t0)) // same-batch dupe
      q.processAllAvailable()
      stream.addData(rec("a", t0), rec("a", t0 + 60)) // cross-batch redelivery
      q.processAllAvailable()
      val got = spark.sql("SELECT city, dt FROM deduped")
        .as[(String, Long)].collect().sorted.toSeq
      assert(got === Seq(("a", t0), ("a", t0 + 60), ("b", t0)))
    } finally q.stop()
  }

  test("stream-static island join enriches each micro-batch, default Lainnya") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    def rec(city: String, dt: Long) =
      s"""{"name":"$city","main":{"temp":1.0,"humidity":1,"pressure":1},"dt":$dt,"timezone":0}"""
    val obs = IngestPipeline.ingest(stream.toDF(), col("value"))
    val q = IngestPipeline.enriched(obs, IngestPipeline.islandDim(spark))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("enriched").start()
    try {
      stream.addData(rec("Medan", 1), rec("Jakarta", 2), rec("Atlantis", 3))
      q.processAllAvailable()
      val got = spark.sql("SELECT city, pulau FROM enriched")
        .as[(String, String)].collect().toMap
      assert(got === Map("Medan" -> "Sumatera", "Jakarta" -> "Jawa",
        "Atlantis" -> "Lainnya"))
    } finally q.stop()
  }

  test("sliding 10/5-min windows: each event lands in exactly two windows") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    def rec(city: String, temp: Double, dt: Long) =
      s"""{"name":"$city","main":{"temp":$temp,"humidity":1,"pressure":1},"dt":$dt,"timezone":0}"""
    val obs = IngestPipeline.ingest(stream.toDF(), col("value"))
    val q = IngestPipeline.slidingAvg(obs)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("sliding").start()
    try {
      val t0 = 1748515200L // 5-min aligned
      stream.addData(rec("X", 10.0, t0 + 60), rec("X", 20.0, t0 + 120))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT win_start, avg_temp, n_obs FROM sliding ORDER BY win_start")
        .as[(java.sql.Timestamp, Double, Long)].collect().toSeq
      assert(rows.length === 2) // [t0-5m, t0+5m) and [t0, t0+10m)
      assert(rows.forall { case (_, avg, n) => avg === 15.0 && n === 2L })
      assert(rows(1)._1.toInstant.getEpochSecond === t0)
    } finally q.stop()
  }

  test("end-to-end wire replay: typed payload → to_json serialize → Kafka " +
      "bytes → deserialize/flatten → upsert store, resuming from " +
      "committed offsets across a restart") {
    // The whole reference wire in ONE in-process path (VERDICT r8 §next 6):
    // producer.py:38-41 serializes the API response dict with json.dumps —
    // the engine-side twin is to_json over a TYPED struct, so the JSON
    // bytes on the wire are produced by the engine, not a string literal.
    // Those bytes ride the exact Kafka source column contract
    // (KafkaWire.wrap), are deserialized/flattened by the one consumer
    // line every deployment keeps (KafkaWire.consume = consumer.py:18-25),
    // and land in the MongoDB-stand-in bucketed upsert store — with the
    // committed position in the checkpoint: stop mid-feed, produce more,
    // restart. The second run must process ONLY the new offsets (observed
    // via numInputRows — replay would be masked by the idempotent store,
    // so the resume is asserted on the stream itself, not just the sink).
    implicit val sqlCtx = spark.sqlContext
    val store = tempDir("graft_wire_store")
      .resolve("store").toString
    val ckpt = tempDir("graft_wire_ck").toString
    // (offset, city, temp, dt): the typed producer-side payload
    val stream = MemoryStream[(Long, String, Double, Long)]
    def start() = {
      val typed = stream.toDF().toDF("off", "city", "temp", "dt")
      val serialized = typed.select(col("off"), col("dt"),
        to_json(struct(
          col("city").as("name"),
          struct(col("temp").as("temp"), lit(70).as("humidity"),
            lit(1010).as("pressure")).as("main"),
          array(struct(lit("haze").as("description"))).as("weather"),
          struct(lit(3.1).as("speed")).as("wind"),
          struct(lit(98.7).as("lon"), lit(3.6).as("lat")).as("coord"),
          col("dt"), lit(0L).as("timezone"))).as("json"))
      val wire = KafkaWire.wrap(serialized, col("off"), col("json"),
        timestamp_seconds(col("dt")), topic = "weather", nPartitions = 4)
      IngestPipeline.upsertStream(KafkaWire.consume(wire), store, ckpt)
    }
    // epoch 1: offsets 0-2, three cities
    stream.addData((0L, "Medan", 30.0, 100L), (1L, "Jakarta", 32.0, 200L),
      (2L, "Padang", 31.0, 300L))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // epoch 2 after restart: offsets 3-4 — one new city, one UPDATE
    stream.addData((3L, "Bandung", 29.0, 400L), (4L, "Medan", 30.5, 500L))
    val q2 = start()
    try {
      q2.processAllAvailable()
      // committed-offset resume, asserted on the stream itself: run 2's
      // only data batch is a CONTINUATION (batchId 1, never a re-run of
      // batch 0) and it read exactly the 2 new records — numInputRows
      // also pins upsertBatch's single-read discipline (an uncached
      // batch frame re-reads the source once per touched bucket, which
      // this metric counts)
      val prog = q2.recentProgress.filter(_.numInputRows > 0)
      assert(prog.map(_.batchId).toSeq === Seq(1L),
        s"run 2 batches: ${q2.recentProgress.map(p =>
          (p.batchId, p.numInputRows)).toSeq}")
      assert(prog.map(_.numInputRows).sum === 2L,
        s"run 2 processed ${prog.map(_.numInputRows).sum} records")
    } finally q2.stop()
    val got = spark.read.parquet(store)
      .select("city", "temperature", "dt")
      .as[(String, Double, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq(("Bandung", 29.0, 400L), ("Jakarta", 32.0, 200L),
      ("Medan", 30.5, 500L), ("Padang", 31.0, 300L)))
  }

  test("foreachBatch upsert keeps exactly the latest row per city") {
    implicit val sqlCtx = spark.sqlContext
    val store = tempDir("graft_upsert")
      .resolve("store").toString
    val ckpt = tempDir("graft_upsert_ck").toString
    def rec(city: String, temp: Double, dt: Long) =
      s"""{"name":"$city","main":{"temp":$temp,"humidity":1,"pressure":1},"dt":$dt,"timezone":0}"""
    val stream = MemoryStream[String]
    val q = IngestPipeline.upsertStream(
      IngestPipeline.ingest(stream.toDF(), col("value")), store, ckpt)
    try {
      stream.addData(rec("A", 10.0, 100), rec("B", 20.0, 100))
      q.processAllAvailable()
      stream.addData(rec("A", 11.0, 200)) // newer A must REPLACE, not append
      q.processAllAvailable()
      val got = spark.read.parquet(store)
        .select("city", "temperature", "dt")
        .as[(String, Double, Long)].collect().sortBy(_._1).toSeq
      assert(got === Seq(("A", 11.0, 200L), ("B", 20.0, 100L)))
    } finally q.stop()
  }

  test("incremental upsert rewrites ONLY touched buckets (others byte-identical)") {
    val store = tempDir("graft_upsert_inc")
      .resolve("store").toString
    def batchOf(rows: (String, Double, Long)*) = {
      import spark.implicits._
      rows.toSeq.toDF("city", "temperature", "dt")
        .withColumn("humidity", lit(1)).withColumn("pressure", lit(1))
        .select("city", "temperature", "humidity", "pressure", "dt")
    }
    // two cities guaranteed to live in DIFFERENT buckets (probed via the
    // production bucketOf so the test can't rot if the hash changes)
    def bucket(c: String): Int = spark.range(1)
      .select(IngestPipeline.bucketOf(lit(c))).head.getInt(0)
    val a = "Jakarta"
    val b = Seq("Medan", "Surabaya", "Manado", "Palu", "Ambon", "Denpasar")
      .find(bucket(_) != bucket(a)).get
    IngestPipeline.upsertBatch(batchOf((a, 10.0, 100L), (b, 20.0, 100L)), store)
    // snapshot every file of b's bucket: (relative path → bytes)
    def files(dir: java.nio.file.Path): Map[String, Seq[Byte]] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(f => dir.relativize(f).toString ->
          java.nio.file.Files.readAllBytes(f).toSeq).toMap
    }
    val bDir = java.nio.file.Paths.get(store, s"bucket=${bucket(b)}")
    val before = files(bDir)
    assert(before.nonEmpty)
    // second batch touches ONLY a — b's bucket directory must not be
    // rewritten (same file names, same bytes: the O(batch) guarantee)
    IngestPipeline.upsertBatch(batchOf((a, 11.0, 200L)), store)
    assert(files(bDir) === before)
    // and the merge semantics still hold across the bucketed layout
    import spark.implicits._
    val got = spark.read.parquet(store).select("city", "temperature", "dt")
      .as[(String, Double, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((a, 11.0, 200L), (b, 20.0, 100L)))
  }

  test("bucket crash recovery: a bucket stranded in .bak is restored") {
    val store = tempDir("graft_upsert_rec")
      .resolve("store").toString
    def batchOf(rows: (String, Double, Long)*) = {
      import spark.implicits._
      rows.toSeq.toDF("city", "temperature", "dt")
        .withColumn("humidity", lit(1))
        .select("city", "temperature", "humidity", "dt")
    }
    def bucket(c: String): Int = spark.range(1)
      .select(IngestPipeline.bucketOf(lit(c))).head.getInt(0)
    val a = "Jakarta"
    val b = Seq("Medan", "Surabaya", "Manado", "Palu", "Ambon", "Denpasar")
      .find(bucket(_) != bucket(a)).get
    IngestPipeline.upsertBatch(batchOf((a, 10.0, 100L), (b, 20.0, 100L)), store)
    // simulate a crash between b-bucket's two renames: its dir moved to
    // .bak, replacement never landed
    val bName = s"bucket=${bucket(b)}"
    val bakRoot = java.nio.file.Paths.get(store + ".bak")
    java.nio.file.Files.createDirectories(bakRoot)
    java.nio.file.Files.move(java.nio.file.Paths.get(store, bName),
      bakRoot.resolve(bName))
    // next batch (touching only a) must restore b's bucket before merging
    IngestPipeline.upsertBatch(batchOf((a, 11.0, 200L)), store)
    import spark.implicits._
    val got = spark.read.parquet(store).select("city", "temperature", "dt")
      .as[(String, Double, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq((a, 11.0, 200L), (b, 20.0, 100L)))
  }

  test("streaming quantile-sketch store: per-day sketches, O(batch) updates") {
    implicit val sqlCtx = spark.sqlContext
    val store = tempDir("graft_sksto")
      .resolve("store").toString
    val ckpt = tempDir("graft_sksto_ck").toString
    def rec(city: String, temp: Double, dt: Long) =
      s"""{"name":"$city","main":{"temp":$temp,"humidity":1,"pressure":1},"dt":$dt,"timezone":0}"""
    val day1 = 1748515200L // 2025-05-29 UTC
    val day2 = day1 + 86400
    val stream = MemoryStream[String]
    val q = IngestPipeline.sketchStoreStream(
      IngestPipeline.ingest(stream.toDF(), col("value")), store, ckpt)
    try {
      // batch 1 populates two days
      stream.addData((1 to 50).map(i => rec("A", 20.0 + i, day1 + i * 60)) ++
        (1 to 50).map(i => rec("A", 50.0 + i, day2 + i * 60)): _*)
      q.processAllAvailable()
      val dirs = new java.io.File(store).listFiles().map(_.getName).sorted
      assert(dirs.count(_.startsWith("day=")) === 2, dirs.toSeq)
      def files(name: String): Map[String, Seq[Byte]] = {
        import scala.jdk.CollectionConverters._
        val dir = java.nio.file.Paths.get(store, name)
        java.nio.file.Files.walk(dir).iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(f => dir.relativize(f).toString ->
            java.nio.file.Files.readAllBytes(f).toSeq).toMap
      }
      val day2Name = dirs.filter(_.startsWith("day=")).last
      val day2Before = files(day2Name)
      // batch 2 touches ONLY day 1 → day 2's sketch must not be rewritten
      stream.addData((51 to 100).map(i => rec("A", 20.0 + i, day1 + i * 60)): _*)
      q.processAllAvailable()
      assert(files(day2Name) === day2Before)
      // merged store answers the percentile over ALL observations within α
      val all = ((1 to 100).map(20.0 + _) ++ (1 to 50).map(50.0 + _))
        .sorted.toIndexedSeq
      val got = IngestPipeline.sketchStoreQuantiles(spark, store, Seq(0.5, 0.9))
        .as[(Double, Double)].head()
      for ((est, qq) <- Seq(got._1 -> 0.5, got._2 -> 0.9)) {
        val exact = all((qq * (all.size - 1)).toInt)
        assert(math.abs(est - exact) / exact <= IngestPipeline.SketchAlpha + 1e-9,
          s"q=$qq exact=$exact got=$est")
      }
    } finally q.stop()
  }

  test("stream-stream join: purchases matched to clicks within the time bound") {
    // the full stateful join: both sides streaming, watermarks bounding
    // state, range condition bounding the match window — Structured
    // Streaming buffers each side keyed by user and evicts by watermark
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val clicks = MemoryStream[(Long, Long)]    // (user_id, epoch_s)
    val purchases = MemoryStream[(Long, Long)]
    val c = clicks.toDF().toDF("user_id", "cs")
      .withColumn("c_ts", timestamp_seconds(col("cs")))
      .withWatermark("c_ts", "10 minutes")
    val p = purchases.toDF().toDF("p_user_id", "ps")
      .withColumn("p_ts", timestamp_seconds(col("ps")))
      .withWatermark("p_ts", "10 minutes")
    val joined = p.join(c,
      col("user_id") === col("p_user_id") &&
        col("c_ts").between(col("p_ts") - expr("INTERVAL 5 MINUTES"), col("p_ts")))
      .select(col("p_user_id"), col("ps"), col("cs"))
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ss_join").start()
    try {
      val t0 = 1748515200L
      clicks.addData((1L, t0), (1L, t0 + 60), (2L, t0))
      purchases.addData((1L, t0 + 120), (2L, t0 + 600)) // 2's click too old
      q.processAllAvailable()
      val got = spark.sql("SELECT p_user_id, ps, cs FROM ss_join")
        .as[(Long, Long, Long)].collect().toSet
      assert(got === Set((1L, t0 + 120, t0), (1L, t0 + 120, t0 + 60)))
    } finally q.stop()
  }

  test("incomplete records dropped inside the stream too") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val q = IngestPipeline.ingest(stream.toDF(), col("value"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ingested").start()
    try {
      stream.addData(
        """{"name":"good","main":{"temp":1.0,"humidity":1,"pressure":1},"dt":100,"timezone":0}""",
        """{"name":"bad","main":{"pressure":1},"dt":100,"timezone":0}""")
      q.processAllAvailable()
      assert(spark.sql("SELECT city FROM ingested").as[String].collect().toSet
        === Set("good"))
    } finally q.stop()
  }

  test("unparseable payloads quarantine with raw text; parseable drift degrades per-field") {
    // producer.py:37-44's except branch, durably: wholly-malformed JSON
    // must land in the quarantine side output (raw text preserved), NOT
    // silently vanish; a parseable record with a bad field still flows the
    // per-field path (null → validated() drop), and clean rows are
    // untouched by the split
    val garbage = """{not json at all!!"""
    val truncated = """{"name":"T","main":{"temp":9"""
    val raw = Seq(
      """{"name":"good","main":{"temp":1.0,"humidity":1,"pressure":1},"dt":100,"timezone":0}""",
      garbage,
      truncated,
      """{"name":"partial","main":{"pressure":1},"dt":100,"timezone":0}""",
    ).toDF("raw")
    val (clean, quar) = IngestPipeline.ingestWithQuarantine(raw, col("raw"))
    assert(clean.select("city").as[String].collect().toSet === Set("good"))
    assert(quar.select("raw_payload").as[String].collect().toSet
      === Set(garbage, truncated))
  }

  test("streaming quarantine: malformed payload lands beside the store, valid rows unaffected") {
    implicit val sqlCtx = spark.sqlContext
    val store = tempDir("graft_qstore").toString
    val quar = tempDir("graft_quar").toString
    val ckpt = tempDir("graft_qckpt").toString
    val stream = MemoryStream[String]
    val q = IngestPipeline.quarantineStream(
      stream.toDF(), col("value"), store, quar, ckpt)
    try {
      stream.addData(
        """{"name":"ok1","main":{"temp":1.0,"humidity":1,"pressure":1},"dt":100,"timezone":0}""",
        """broken{{payload""",
        """{"name":"ok2","main":{"temp":2.0,"humidity":2,"pressure":2},"dt":200,"timezone":0}""")
      q.processAllAvailable()
      assert(spark.read.parquet(store).select("city").as[String]
        .collect().toSet === Set("ok1", "ok2"))
      assert(spark.read.parquet(quar).select("raw_payload").as[String]
        .collect().toSet === Set("broken{{payload"))
    } finally q.stop()
  }

  test("day store: replayed batch id is a no-op; stranded .bak day recovers") {
    val store = tempDir("graft_cmrep")
      .resolve("store").toString
    def batchDf(city: String, epoch: Long, n: Int) =
      (1 to n).map(i => (city, epoch + i * 60L)).toDF("city", "sec")
        .select($"city", timestamp_seconds($"sec").as("obs_ts"))
    val day1 = 1748515200L // 2025-05-29 UTC
    val day2 = day1 + 86400
    def countA = IngestPipeline.cmStoreCounts(spark, store, Seq("A"))
      .as[Long].head()
    IngestPipeline.cmStoreBatch(batchDf("A", day1, 30), store, batchId = 7)
    assert(countA === 30) // single key ⇒ CMS estimate is exact
    // foreachBatch replay: the same (uncommitted) batch re-delivers with
    // the SAME id — counter addition must not double-count it
    IngestPipeline.cmStoreBatch(batchDf("A", day1, 30), store, batchId = 7)
    assert(countA === 30)
    // a genuinely new batch merges
    IngestPipeline.cmStoreBatch(batchDf("A", day1, 30), store, batchId = 8)
    assert(countA === 60)
    // crash between the two renames strands a day ONLY in .bak; a later
    // batch touching a DIFFERENT day must still restore it
    val dayDir = new java.io.File(s"$store/day=2025-05-29")
    val bakDir = new java.io.File(s"$store.bak/day=2025-05-29")
    bakDir.getParentFile.mkdirs()
    assert(dayDir.renameTo(bakDir))
    IngestPipeline.cmStoreBatch(batchDf("B", day2, 5), store, batchId = 9)
    assert(countA === 60) // recovered by the sweep, not lost
    assert(IngestPipeline.cmStoreCounts(spark, store, Seq("B"))
      .as[Long].head() === 5)
  }

  test("day store: colliding batch id from a NEW query incarnation still merges") {
    // checkpoint reset: a fresh query restarts batch ids at 0 — with a
    // batch_id-only guard, its first batch would collide with the old
    // incarnation's id and be silently dropped. The (query_id, batch_id)
    // pair must treat it as new data, while a true replay (same pair)
    // still skips.
    val store = tempDir("graft_cmqid")
      .resolve("store").toString
    def batchDf(city: String, epoch: Long, n: Int) =
      (1 to n).map(i => (city, epoch + i * 60L)).toDF("city", "sec")
        .select($"city", timestamp_seconds($"sec").as("obs_ts"))
    val day1 = 1748515200L // 2025-05-29 UTC
    def countA = IngestPipeline.cmStoreCounts(spark, store, Seq("A"))
      .as[Long].head()
    IngestPipeline.cmStoreBatch(batchDf("A", day1, 30), store,
      batchId = 0, queryId = "query-1")
    assert(countA === 30)
    // true replay: same (query, batch) pair — skip
    IngestPipeline.cmStoreBatch(batchDf("A", day1, 30), store,
      batchId = 0, queryId = "query-1")
    assert(countA === 30)
    // reset checkpoint: same batch id, NEW query id — must merge
    IngestPipeline.cmStoreBatch(batchDf("A", day1, 30), store,
      batchId = 0, queryId = "query-2")
    assert(countA === 60)
    // and the new incarnation's own replays skip again
    IngestPipeline.cmStoreBatch(batchDf("A", day1, 30), store,
      batchId = 0, queryId = "query-2")
    assert(countA === 60)
  }

  test("day store: a batch spanning more days than MaxDaysPerBatch is refused") {
    // The per-batch day spine is collected on the driver; steady-state it
    // is watermark-bounded, but a checkpoint-reset backfill is not — the
    // cap must fail loudly instead of looping thousands of per-day swap
    // jobs (or collecting an unbounded day set).
    val store = tempDir("graft_cmcap")
      .resolve("store").toString
    val day1 = 1748515200L // 2025-05-29 UTC
    val wide = (0 to IngestPipeline.MaxDaysPerBatch) // N+1 distinct days
      .map(i => ("A", day1 + i * 86400L)).toDF("city", "sec")
      .select($"city", timestamp_seconds($"sec").as("obs_ts"))
    val e = intercept[IllegalArgumentException] {
      IngestPipeline.cmStoreBatch(wide, store, batchId = 0)
    }
    assert(e.getMessage.contains("distinct"))
    // and a batch AT the cap still merges
    val atCap = (1 to IngestPipeline.MaxDaysPerBatch)
      .map(i => ("A", day1 + i * 86400L)).toDF("city", "sec")
      .select($"city", timestamp_seconds($"sec").as("obs_ts"))
    IngestPipeline.cmStoreBatch(atCap, store, batchId = 1)
    assert(IngestPipeline.cmStoreCounts(spark, store, Seq("A"))
      .as[Long].head() === IngestPipeline.MaxDaysPerBatch.toLong)
  }

  test("upsertBatch replay is idempotent: the same epoch applied twice" +
      " leaves the store identical") {
    // foreachBatch's contract is at-least-once per epoch: a crash after
    // the store swap but before the checkpoint commit re-delivers the
    // SAME batch. The rank-1 latest-per-city merge must absorb the replay
    // byte-for-byte at the row level — no duplicates, no flips.
    val store = tempDir("graft_upsert_rep")
      .resolve("store").toString
    def batchOf(rows: (String, Double, Long)*) =
      rows.toDF("city", "temperature", "dt")
        .select($"city", $"temperature", lit(1).as("humidity"), $"dt")
    // seed the store with an older A
    IngestPipeline.upsertBatch(batchOf(("A", 1.0, 100L)), store)
    val epoch = batchOf(("A", 2.0, 200L), ("B", 3.0, 100L))
    def snapshot() = spark.read.parquet(store)
      .select("city", "temperature", "dt")
      .as[(String, Double, Long)].collect().sortBy(_._1).toSeq
    IngestPipeline.upsertBatch(epoch, store)
    val once = snapshot()
    assert(once === Seq(("A", 2.0, 200L), ("B", 3.0, 100L)))
    IngestPipeline.upsertBatch(epoch, store) // crash-replay of the epoch
    assert(snapshot() === once)
  }

  test("late events beyond the watermark are dropped and window state" +
      " is evicted") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val obs = IngestPipeline.ingest(stream.toDF(), col("value"))
    // Append mode: a window emits exactly once, when the watermark passes
    // its end — so a late row either changes the emitted aggregate (bug)
    // or is provably dropped.
    val q = IngestPipeline.tumblingAvg(obs)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("tumbling_late").start()
    try {
      def rec(city: String, temp: Double, dt: Long) =
        s"""{"name":"$city","main":{"temp":$temp,"humidity":70,"pressure":1010},"dt":$dt,"timezone":0}"""
      val t0 = 1748515200L // aligned to the 5-min boundary
      stream.addData(rec("X", 10.0, t0), rec("X", 20.0, t0 + 60))
      q.processAllAvailable()
      // advance event time 20 min: watermark (10 min delay) passes the
      // first window's end → it emits and its state row must evict
      stream.addData(rec("X", 99.0, t0 + 1200))
      q.processAllAvailable()
      def w0rows = spark.sql(
        s"SELECT avg_temp, n_obs FROM tumbling_late WHERE city = 'X' AND " +
          s"win_start = timestamp_seconds($t0)").collect()
      assert(w0rows.map(r => (r.getDouble(0), r.getLong(1))).toSeq ===
        Seq((15.0, 2L)))
      // idle/no-data microbatches emit progress entries with an EMPTY
      // stateOperators array — index them only where present (the
      // unguarded (0) made this test dependent on how many no-data
      // batches the engine happened to run)
      def lastStateRows = q.recentProgress
        .filter(_.stateOperators.nonEmpty).last.stateOperators(0).numRowsTotal
      val stateAfterClose = lastStateRows
      assert(stateAfterClose === 1L, // only the open t0+1200 window remains
        s"closed-window state not evicted: $stateAfterClose rows")
      // a LATE row for the closed window (event time far below the
      // watermark) must be dropped: the emitted row never updates (Append
      // re-emission would be a duplicate) and no state row reappears
      stream.addData(rec("X", 1000.0, t0 + 30))
      q.processAllAvailable()
      assert(w0rows.map(r => (r.getDouble(0), r.getLong(1))).toSeq ===
        Seq((15.0, 2L)))
      assert(lastStateRows === 1L)
      assert(q.recentProgress.filter(_.stateOperators.nonEmpty)
        .map(_.stateOperators(0).numRowsDroppedByWatermark).sum >= 1L,
        "late row was not counted as dropped by the watermark")
    } finally q.stop()
  }

  test("compaction: oversized partitions collapse to one file, contents identical") {
    val store = tempDir("graft_compact")
      .resolve("store").toString
    // simulate a partition grown over many batches (append = extra files)
    val rows1 = Seq(("Jakarta", 31.0, 70, 100L), ("Medan", 30.0, 65, 100L))
      .toDF("city", "temperature", "humidity", "dt")
    val rows2 = Seq(("Jakarta", 32.0, 71, 200L))
      .toDF("city", "temperature", "humidity", "dt")
    val cold = Seq(("Ambon", 29.0, 80, 100L))
      .toDF("city", "temperature", "humidity", "dt")
    rows1.coalesce(1).write.parquet(s"$store/bucket=0")
    rows2.coalesce(1).write.mode("append").parquet(s"$store/bucket=0")
    cold.coalesce(1).write.parquet(s"$store/bucket=1")
    def dataFiles(b: Int) = new java.io.File(s"$store/bucket=$b")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    def contents = spark.read.parquet(store)
      .select("city", "temperature", "humidity", "dt")
      .as[(String, Double, Int, Long)].collect().toSet
    assert(dataFiles(0).length === 2)
    val before = contents
    val coldStamps = dataFiles(1).map(f => f.getName -> f.lastModified).toSeq
    Layout.compact(spark, store)
    assert(dataFiles(0).length === 1, "oversized partition not compacted")
    assert(contents === before, "compaction changed store contents")
    // a partition already at the file budget is not opened or rewritten
    assert(dataFiles(1).map(f => f.getName -> f.lastModified).toSeq
      === coldStamps)
    // idempotent: a second pass finds nothing to do
    val stamp0 = dataFiles(0).head.lastModified
    Layout.compact(spark, store)
    assert(dataFiles(0).head.lastModified === stamp0)
  }

  test("compaction: a day store mixing files from before and after query_id " +
      "keeps its counts and its replay guard") {
    val store = tempDir("graft_cmcompact")
      .resolve("store").toString
    def batchDf(city: String, epoch: Long, n: Int) =
      (1 to n).map(i => (city, epoch + i * 60L)).toDF("city", "sec")
        .select($"city", timestamp_seconds($"sec").as("obs_ts"))
    val day1 = 1748515200L // 2025-05-29 UTC
    val day2 = day1 + 86400
    val (d1, d2) = ("2025-05-29", "2025-05-30")
    def countOn(day: String) = IngestPipeline
      .cmStoreCounts(spark, s"$store/day=$day", Seq("A")).as[Long].head()
    def dataFiles(day: String) = new java.io.File(s"$store/day=$day")
      .listFiles().count(_.getName.endsWith(".parquet"))
    IngestPipeline.cmStoreBatch(batchDf("A", day1, 30).union(batchDf("A", day2, 20)),
      store, batchId = 7, queryId = "q")
    // grow each day to two files: day 1 in the layout written before
    // query_id existed, day 2 in the current one
    def grow(day: String, cols: String*): Unit = {
      val (dir, copy) = (s"$store/day=$day", s"$store.copy/day=$day")
      spark.read.parquet(dir).select(cols.map(col): _*).write.parquet(copy)
      org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(dir))
      spark.read.parquet(copy).coalesce(1).write.parquet(dir)
      spark.read.parquet(copy).coalesce(1).write.mode("append").parquet(dir)
    }
    grow(d1, "sk", "batch_id")
    grow(d2, "sk", "batch_id", "query_id")
    assert((dataFiles(d1), dataFiles(d2)) === ((2, 2)))
    assert((countOn(d1), countOn(d2)) === ((60L, 40L)))
    Layout.compact(spark, store)
    assert((dataFiles(d1), dataFiles(d2)) === ((1, 1)))
    assert((countOn(d1), countOn(d2)) === ((60L, 40L)))
    // the older day reads back with a null query_id
    assert(spark.read.option("mergeSchema", "true").parquet(store)
      .select($"day".cast("string"), $"query_id").as[(String, String)]
      .collect().toSet === Set((d1, null), (d2, "q")))
    // a replay of batch 7 still skips both days; batch 8 merges both
    IngestPipeline.cmStoreBatch(batchDf("A", day1, 30).union(batchDf("A", day2, 20)),
      store, batchId = 7, queryId = "q")
    assert((countOn(d1), countOn(d2)) === ((60L, 40L)))
    IngestPipeline.cmStoreBatch(batchDf("A", day1, 1).union(batchDf("A", day2, 1)),
      store, batchId = 8, queryId = "q")
    assert((countOn(d1), countOn(d2)) === ((61L, 41L)))
  }

  test("streaming Count-Min store: per-day frequency sketches, O(batch) updates") {
    implicit val sqlCtx = spark.sqlContext
    val store = tempDir("graft_cmsto")
      .resolve("store").toString
    val ckpt = tempDir("graft_cmsto_ck").toString
    def rec(city: String, dt: Long) =
      s"""{"name":"$city","main":{"temp":1.0,"humidity":1,"pressure":1},"dt":$dt,"timezone":0}"""
    val day1 = 1748515200L // 2025-05-29 UTC
    val day2 = day1 + 86400
    val stream = MemoryStream[String]
    val q = IngestPipeline.cmStoreStream(
      IngestPipeline.ingest(stream.toDF(), col("value")), store, ckpt)
    try {
      stream.addData((1 to 30).map(i => rec("A", day1 + i * 60)) ++
        (1 to 10).map(i => rec("B", day2 + i * 60)): _*)
      q.processAllAvailable()
      val dirs = new java.io.File(store).listFiles().map(_.getName).sorted
      assert(dirs.count(_.startsWith("day=")) === 2, dirs.toSeq)
      def files(name: String): Map[String, Seq[Byte]] = {
        import scala.jdk.CollectionConverters._
        val dir = java.nio.file.Paths.get(store, name)
        java.nio.file.Files.walk(dir).iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(f => dir.relativize(f).toString ->
            java.nio.file.Files.readAllBytes(f).toSeq).toMap
      }
      val day2Name = dirs.filter(_.startsWith("day=")).last
      val day2Before = files(day2Name)
      // batch 2 touches ONLY day 1 → day 2's sketch must not be rewritten
      stream.addData((1 to 20).map(i => rec("B", day1 + 3600 + i * 60)): _*)
      q.processAllAvailable()
      assert(files(day2Name) === day2Before)
      // merged store estimates ≥ exact, within the εN bound (N = 60)
      val got = IngestPipeline.cmStoreCounts(spark, store, Seq("A", "B"))
        .as[(Long, Long)].head()
      val bound = math.ceil(
        math.E / graft.functions.CMSketch.Width * 60).toLong
      for ((est, exact) <- Seq(got._1 -> 30L, got._2 -> 30L)) {
        assert(est >= exact && est - exact <= bound, s"$exact vs $est")
      }
    } finally q.stop()
  }

  test("jobs per micro-batch do not grow with the partitions it touches") {
    // the two batches of each pair have the same number of rows, so both
    // are planned over the same input partitions; only the store
    // partitions they touch differ
    val root = tempDir("graft_jobs")
    // upsert store: two identical seeded stores, then one batch touching
    // one bucket and one touching six
    val cities = (0 until 64).map(i => s"city$i")
    val bucketOf = cities.toDF("c")
      .select($"c", IngestPipeline.bucketOf($"c"))
      .as[(String, Int)].collect().toMap
    val onePerBucket = cities.groupBy(bucketOf).values.map(_.head).toSeq.sorted
    assert(onePerBucket.size >= 6)
    def batchOf(rows: Seq[(String, Long)]) =
      rows.map { case (c, dt) => (c, 20.0, dt) }.toDF("city", "temperature", "dt")
        .select($"city", $"temperature", lit(1).as("humidity"), $"dt")
    val Seq(s1, s6) = Seq("one", "six").map(n => root.resolve(n).toString)
    Seq(s1, s6).foreach(IngestPipeline.upsertBatch(batchOf(cities.map(_ -> 100L)), _))
    val upsert1 = jobsStartedBy(IngestPipeline.upsertBatch(
      batchOf((200L until 206L).map(onePerBucket.head -> _)), s1))
    val upsert6 = jobsStartedBy(IngestPipeline.upsertBatch(
      batchOf(onePerBucket.take(6).map(_ -> 200L)), s6))
    assert(upsert1.size === upsert6.size, s"upsertBatch jobs, 1 bucket $upsert1 vs 6 $upsert6")
    assert(spark.read.parquet(s6).filter($"dt" === 200L).count() === 6)
    // Count-Min day store: two identical stores seeded over five days,
    // then one batch over one day and one over all five
    val day1 = 1748515200L // 2025-05-29 UTC
    def obsOn(days: Int, perDay: Int) = (0 until days).flatMap(d => (1 to perDay)
      .map(i => ("A", day1 + d * 86400L + i * 60L))).toDF("city", "sec")
      .select($"city", timestamp_seconds($"sec").as("obs_ts"))
    val Seq(d1, d5) = Seq("day1", "day5").map(n => root.resolve(n).toString)
    Seq(d1, d5).foreach(IngestPipeline.cmStoreBatch(obsOn(5, 6), _, batchId = 0))
    val cm1 = jobsStartedBy(IngestPipeline.cmStoreBatch(obsOn(1, 30), d1, batchId = 1))
    val cm5 = jobsStartedBy(IngestPipeline.cmStoreBatch(obsOn(5, 6), d5, batchId = 1))
    assert(cm1.size === cm5.size, s"cmStoreBatch jobs, 1 day $cm1 vs 5 $cm5")
    assert(IngestPipeline.cmStoreCounts(spark, d5, Seq("A")).as[Long].head() === 60)
  }

  test("day store: a replay after a crash between two days' swaps merges only the day still missing") {
    // the per-day guard the grouped read must keep: batch 7 swapped day 1
    // and crashed before day 2's swap; its replay covers both days
    val store = tempDir("graft_cmpart")
      .resolve("store").toString
    def batchDf(city: String, epoch: Long, n: Int) =
      (1 to n).map(i => (city, epoch + i * 60L)).toDF("city", "sec")
        .select($"city", timestamp_seconds($"sec").as("obs_ts"))
    val day1 = 1748515200L // 2025-05-29 UTC
    val day2 = day1 + 86400
    def countOn(day: String) = IngestPipeline
      .cmStoreCounts(spark, s"$store/day=$day", Seq("A")).as[Long].head()
    IngestPipeline.cmStoreBatch(batchDf("A", day1, 10).union(batchDf("A", day2, 20)),
      store, batchId = 6)
    IngestPipeline.cmStoreBatch(batchDf("A", day1, 30), store, batchId = 7)
    assert((countOn("2025-05-29"), countOn("2025-05-30")) === ((40L, 20L)))
    IngestPipeline.cmStoreBatch(batchDf("A", day1, 30).union(batchDf("A", day2, 5)),
      store, batchId = 7)
    assert((countOn("2025-05-29"), countOn("2025-05-30")) === ((40L, 25L)))
  }

  test("upsert store after redelivered, late and incomplete payloads equals " +
      "the batch latest valid payload per city") {
    implicit val sqlCtx = spark.sqlContext
    val store = tempDir("graft_upsert_eq")
      .resolve("store").toString
    val ckpt = tempDir("graft_upsert_eq_ck").toString
    def rec(city: String, temp: Option[Double], hum: Int, dt: Long) =
      s"""{"name":"$city","main":{${temp.fold("")(t => s""""temp":$t,""")}""" +
        s""""humidity":$hum,"pressure":1},"dt":$dt,"timezone":0}"""
    val batches = Seq(
      Seq(rec("A", Some(10.0), 1, 100), rec("B", Some(20.0), 2, 100),
        rec("C", Some(30.0), 3, 100),
        rec("D", None, 4, 500)), // incomplete: never stored
      Seq(rec("A", Some(10.0), 1, 100), // redelivered
        rec("A", Some(11.0), 1, 200), rec("B", Some(19.0), 2, 50), // late
        rec("C", None, 3, 300), // incomplete, newer than C's stored row
        rec("E", Some(50.0), 5, 100)),
      Seq(rec("A", Some(9.0), 1, 150), // late
        rec("A", Some(11.0), 1, 200), // redelivered
        rec("B", Some(21.0), 2, 300), rec("D", Some(40.0), 4, 50),
        rec("E", Some(50.0), 6, 100))) // same dt, corrected humidity
    val stream = MemoryStream[String]
    def start() = IngestPipeline.upsertStream(
      IngestPipeline.ingest(stream.toDF(), col("value")), store, ckpt)
    // two micro-batches, a restart from the checkpoint, then the third
    val q1 = start()
    try batches.take(2).foreach { b => stream.addData(b: _*); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = start()
    try { stream.addData(batches(2): _*); q2.processAllAvailable() } finally q2.stop()
    val latest = IngestPipeline.ingest(batches.flatten.toDF("raw"), col("raw"))
      .select("city", "temperature", "humidity", "dt")
      .as[(String, Double, Int, Long)].collect()
      .groupBy(_._1).values.map(_.maxBy(r => (r._4, r._2, r._3))).toSeq.sortBy(_._1)
    val got = spark.read.parquet(store)
      .select("city", "temperature", "humidity", "dt")
      .as[(String, Double, Int, Long)].collect().sortBy(_._1).toSeq
    assert(got === latest)
    assert(latest.map(_._1) === Seq("A", "B", "C", "D", "E"))
  }

  test("streaming: dedup -> tumbling window CHAINED stateful pipeline " +
    "(watermark declared once, propagated; redelivery counted once)") {
    // the pipeline's third consumer (the `stream_ingest` benchmark
    // workload runs it end to end): dedupedStream sets the watermark and
    // dropDuplicatesWithinWatermark; the window aggregate downstream
    // must NOT call withWatermark again (Spark rejects redefinition) —
    // this pins both the API shape and the end-to-end semantics: a
    // redelivered (city, dt) contributes to the window exactly once
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val obs = IngestPipeline.ingest(stream.toDF(), col("value"))
    val q = IngestPipeline.dedupedStream(obs)
      .groupBy(window(col("obs_ts"), "5 minutes"), col("city"))
      .agg(avg(col("temperature")).as("avg_temp"),
        count(lit(1)).as("n_obs"))
      .select(col("window.start").as("win_start"), col("city"),
        col("avg_temp"), col("n_obs"))
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("dedup_window").start()
    try {
      def rec(city: String, temp: Double, dt: Long) =
        s"""{"name":"$city","main":{"temp":$temp,"humidity":70,"pressure":1010},"dt":$dt,"timezone":0}"""
      val t0 = 1748515200L // aligned to 5-min boundary
      stream.addData(
        rec("X", 10.0, t0), rec("X", 10.0, t0), // redelivered twice
        rec("X", 20.0, t0 + 60), rec("Y", 30.0, t0 + 120))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT city, avg_temp, n_obs FROM dedup_window" +
          " ORDER BY win_start, city").collect()
      assert(rows.map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
        .toSeq === Seq(("X", 15.0, 2L), ("Y", 30.0, 1L)))
    } finally q.stop()
  }
}
