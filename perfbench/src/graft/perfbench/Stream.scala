package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.streaming.{IngestPipeline, KafkaWire}

/** The `stream_ingest` workload: the reference's poller → broker →
  * consumer → store → dashboard path, replayed through
  * `graft.streaming.IngestPipeline`.
  *
  * A generator writes OpenWeatherMap-shaped poll cycles into a spool
  * directory, one file per cycle, in the `offset<TAB>json` line format of
  * `graft.tools.StreamDemo`. Three consumers drain it: history plus
  * quarantine, dedup plus the bucketed upsert store, and the watermarked
  * tumbling window into a parquet store. First a pre-spooled backlog
  * drains (catch-up after an outage) and the dashboard callbacks refresh
  * over the caught-up history store; then, for the run's `--seconds`, the
  * generator writes cycles at a fixed rate while the callbacks refresh
  * over the live store. */
object Stream {
  val BacklogCycles = 8
  val CyclesPerSecond = 1.0
  /** Fewest open-loop cycles, so the freshness percentiles rest on at
    * least this many samples. */
  val MinOpenCycles = 10
  /** One or two cities from each island of `IngestPipeline.islandDim`,
    * plus two it does not map (they enrich to "Lainnya"). Ten cities keep
    * an upsert micro-batch at about eight of the store's sixteen buckets. */
  val Cities = Seq("Medan", "Palembang", "Jakarta", "Surabaya", "Pontianak",
    "Makassar", "Denpasar", "Ambon", "Bogor", "Kupang")
  val Weathers = Seq("broken clouds", "haze", "light rain", "scattered clouds")
  private val BaseDt = 1748515200L // 2025-05-29 10:40:00 UTC
  private val PollSeconds = 900L

  /** Seeded poll cycles. Every cycle holds one payload per city, one of
    * them incomplete (no temperature), plus one unparseable payload, one
    * redelivery of a valid payload and one late payload 30.5 minutes old.
    * Keeps the counts the stores must end with. */
  final class Generator(seed: Long, cities: Seq[String]) {
    private val rnd = new scala.util.Random(seed)
    private var offset = 0L
    var historyRows = 0L
    var quarantined = 0L
    val latest = scala.collection.mutable.Map.empty[String, (Double, Int, Long)]

    private def num(x: Double) = String.format(java.util.Locale.ROOT, "%.2f", Double.box(x))

    private def valid(city: String, dt: Long): (String, Double, Int) = {
      val temp = num(24 + rnd.nextDouble() * 10)
      val hum = 50 + rnd.nextInt(45)
      val desc = Weathers(rnd.nextInt(Weathers.size))
      // the reference consumer accepts `weather` as an array or as a
      // JSON string holding one; both shapes arrive
      val weather = if (rnd.nextInt(5) == 0) "\"[{\\\"description\\\":\\\"" + desc + "\\\"}]\""
        else s"""[{"description":"$desc"}]"""
      val json = s"""{"name":"$city","main":{"temp":$temp,"humidity":$hum,""" +
        s""""pressure":${1000 + rnd.nextInt(20)}},"weather":$weather,""" +
        s""""wind":{"speed":${num(rnd.nextDouble() * 8)}},""" +
        s""""coord":{"lon":${num(95 + rnd.nextDouble() * 45)},"lat":${num(-10 + rnd.nextDouble() * 15)}},""" +
        s""""dt":$dt,"timezone":${25200 + 3600 * rnd.nextInt(3)}}"""
      (json, temp.toDouble, hum)
    }

    def cycle(i: Int): Seq[String] = {
      val dt = BaseDt + i * PollSeconds
      val incomplete = rnd.nextInt(cities.size)
      val onTime = cities.zipWithIndex.map { case (c, j) =>
        if (j == incomplete)
          s"""{"name":"$c","main":{"pressure":1009},"dt":$dt,"timezone":28800}"""
        else {
          val (json, t, h) = valid(c, dt)
          latest(c) = (t, h, dt)
          historyRows += 1
          json
        }
      }
      val redelivered = onTime((incomplete + 1 + rnd.nextInt(cities.size - 1)) % cities.size)
      val late = valid(cities(rnd.nextInt(cities.size)), dt - 1830)._1
      historyRows += 2
      quarantined += 1
      val payloads = onTime ++ Seq(s"{not json $i", redelivered, late)
      payloads.map { p => offset += 1; s"${offset - 1}\t$p" }
    }
  }

  private def cycleName(i: Int) = f"cycle_$i%06d.txt"

  private def writeCycle(gen: Generator, i: Int, spool: Path, staging: Path): Unit = {
    val name = cycleName(i)
    val tmp = staging.resolve(name)
    Files.writeString(tmp, gen.cycle(i).mkString("\n"))
    Files.move(tmp, spool.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The app.py callbacks over the history store. */
  private def refresh(spark: SparkSession, hist: String, city: String): Seq[(String, () => Any)] = {
    def h = spark.read.parquet(hist)
    Seq(
      "filter" -> (() => h.filter(col("city") === city).orderBy(desc("dt")).limit(20).collect()),
      "summary" -> (() => h.groupBy("city").agg(count(lit(1)), avg("temperature"),
        min("temperature"), max("temperature")).collect()),
      "value_counts" -> (() => h.groupBy("weather").count().collect()),
      "island_avg" -> (() => IngestPipeline.enriched(h, IngestPipeline.islandDim(spark))
        .groupBy("pulau").agg(avg("temperature"), count(lit(1))).collect()),
      "pivot" -> (() => h.groupBy("city").pivot("weather", Weathers)
        .agg(avg("temperature")).collect()))
  }

  /** Spool file name → micro-batch id, read from the file source's log in
    * a consumer's checkpoint (`sources/0/<batch>` and its compactions). */
  private def sourceLog(checkpoint: Path): Map[String, Long] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val dir = checkpoint.resolve("sources").resolve("0")
    Files.list(dir).iterator().asScala.filter(f => !f.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala.filter(_.startsWith("{")))
      .map(mapper.readTree)
      .map(n => n.get("path").asText.split('/').last -> n.get("batchId").asLong)
      .toMap
  }

  private def dataFiles(dirs: String*): Int = dirs.map { d =>
    val p = java.nio.file.Paths.get(d)
    if (!Files.exists(p)) 0
    else Files.walk(p).iterator().asScala.count(f => f.toString.endsWith(".parquet"))
  }.sum

  def run(spark: SparkSession, base: Path, seed: Long, seconds: Double,
      tracer: Tracer): ListMap[String, Any] = {
    val Seq(spool, staging) = Seq("spool", "staging").map(n => Files.createDirectories(base.resolve(n)))
    val Seq(hist, quar, latest, windows) =
      Seq("history", "quarantine", "latest", "windows").map(n => base.resolve(n).toString)
    val cities = Cities
    val gen = new Generator(seed, cities)
    val rnd = new scala.util.Random(seed ^ 0x5eedL)
    (0 until BacklogCycles).foreach(i => writeCycle(gen, i, spool, staging))
    val backlogRows = gen.historyRows

    def wire(): DataFrame = {
      val raw = spark.readStream.text(spool.toString)
      val parts = split(col("value"), "\t")
      KafkaWire.wrap(raw.select(parts.getItem(0).cast("long").as("off"), parts.getItem(1).as("json")),
        col("off"), col("json"), timestamp_seconds(lit(BaseDt)), topic = "weather", nPartitions = 4)
    }
    val touched = ArrayBuffer.empty[(Long, Int)]
    def upsert(b: Dataset[Row], id: Long): Unit = {
      val t0 = Clock.now
      tracer.span("store.upsert", s"batch $id")(IngestPipeline.upsertBatch(b.toDF(), latest))
      val since = t0 / 1000000L
      val n = Option(new java.io.File(latest).listFiles()).getOrElse(Array.empty)
        .count(f => f.getName.startsWith("bucket=") && f.lastModified() >= since - 1000)
      touched.synchronized { touched += ((t0, n)) }
    }

    // the three consumers; each keeps its checkpoint, so a restart resumes
    // exactly where the previous run of it stopped
    def consumers(): Seq[StreamingQuery] = Seq(
      IngestPipeline.quarantineStream(wire(), col("value").cast("string"), hist, quar,
        base.resolve("ck_history").toString),
      IngestPipeline.dedupedStream(KafkaWire.consume(wire())).writeStream
        .option("checkpointLocation", base.resolve("ck_latest").toString)
        .foreachBatch((b: Dataset[Row], id: Long) => upsert(b, id)).start(),
      IngestPipeline.dedupedStream(KafkaWire.consume(wire()))
        .groupBy(window(col("obs_ts"), "5 minutes"), col("city"))
        .agg(avg(col("temperature")).as("avg_temp"), count(lit(1)).as("n_obs"))
        .select(col("window.start").as("win_start"), col("city"), col("avg_temp"), col("n_obs"))
        .writeStream.outputMode("append").format("parquet").option("path", windows)
        .option("checkpointLocation", base.resolve("ck_window").toString).start())
    val progress = ArrayBuffer.empty[StreamingQueryProgress]
    def stopAll(qs: Seq[StreamingQuery]): Unit = {
      qs.foreach(_.stop())
      progress ++= qs.flatMap(_.recentProgress.toSeq)
    }

    // ── catch-up: start the consumers on the backlog, drain it, stop them
    val c0 = Counters.sample()
    val drainStart = Clock.now
    val catchUp = consumers()
    catchUp.foreach(_.processAllAvailable())
    val drainEnd = Clock.now
    val c1 = Counters.sample()
    val drainFiles = dataFiles(hist, quar, latest)
    val drainHeap = Heap.liveMb()
    stopAll(catchUp)

    // ── the dashboard over the caught-up store, consumers stopped: a fixed
    // number of refreshes, read after the settle passes as the batch
    // workloads' warm passes are. The store holds exactly the one drain
    // batch, so every run refreshes the same file layout.
    val failures = ArrayBuffer.empty[String]
    def timedRefresh(): Seq[(String, Double)] =
      refresh(spark, hist, cities(rnd.nextInt(cities.size))).map { case (name, f) =>
        val s = Clock.now
        try f() catch { case e: Throwable => failures += s"$name: ${e.getMessage}" }
        val e = Clock.now
        tracer.add(Span("dashboard.callback", name, s, e))
        name -> (e - s) / 1e9
      }
    val quietAll = (1 to Batch.warmPasses(seconds)).map(_ => timedRefresh())
    val quiet = quietAll.drop(Batch.SettlePasses)

    // ── open loop for `seconds`: the consumers restart from their
    // checkpoints, cycles arrive at a fixed rate, the dashboard refreshes
    // meanwhile
    val openCycles = math.max(MinOpenCycles, math.round(seconds * CyclesPerSecond).toInt)
    val due = new Array[Long](openCycles)
    val late = new Array[Double](openCycles)
    val c2 = Counters.sample()
    val openStart = Clock.now
    val queries = consumers()
    val writer = new Thread(() => (0 until openCycles).foreach { j =>
      due(j) = openStart + (j * 1e9 / CyclesPerSecond).toLong
      val wait = (due(j) - Clock.now) / 1000000L
      if (wait > 0) Thread.sleep(wait)
      writeCycle(gen, BacklogCycles + j, spool, staging)
      late(j) = (Clock.now - due(j)) / 1e9
    })
    writer.start()
    val live = ArrayBuffer.empty[Seq[(String, Double)]]
    while (writer.isAlive || live.isEmpty) live += timedRefresh()
    writer.join()
    val backlogEnd = openCycles - sourceLog(base.resolve("ck_history")).keySet
      .count(n => n >= cycleName(BacklogCycles))
    queries.foreach(_.processAllAvailable())
    val openEnd = Clock.now
    val c3 = Counters.sample()
    val openFiles = dataFiles(hist, quar, latest)
    val openHeap = Heap.liveMb()
    stopAll(queries)

    // ── freshness: cycle j is queryable once the history consumer commits
    // the micro-batch that read its file; the file-to-batch mapping is the
    // file source's own log in the consumer's checkpoint
    def commitNs(p: StreamingQueryProgress) =
      Clock.fromMs(java.time.Instant.parse(p.timestamp).toEpochMilli +
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L))
    val historyId = queries.head.id
    val commitOf = progress.filter(_.id == historyId).map(p => p.batchId -> commitNs(p)).toMap
    val batchOf = sourceLog(base.resolve("ck_history"))
    val freshness = (0 until openCycles).flatMap { j =>
      batchOf.get(cycleName(BacklogCycles + j)).flatMap(commitOf.get).map(t => (t - due(j)) / 1e9)
    }
    // ── store checks against the generator's own counts
    val checks = Seq(
      "history rows" -> (spark.read.parquet(hist).count(), gen.historyRows),
      "quarantined payloads" -> (spark.read.parquet(quar).count(), gen.quarantined))
    checks.foreach { case (what, (got, want)) =>
      if (got != want) failures += s"$what: store has $got, generator wrote $want"
    }
    val stored = spark.read.parquet(latest).select("city", "temperature", "humidity", "dt")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getInt(2), r.getLong(3))).toMap
    val latestOk = stored == gen.latest.toMap
    if (!latestOk) failures += s"latest store ${stored.size} cities differs from the generator's latest rows"
    val emitted = spark.read.parquet(windows).count()
    if (emitted == 0) failures += "tumbling window emitted nothing"

    def layers(from: Long, to: Long, c: Counters, files: Int, backlog: Int): Map[String, Double] = {
      val ps = progress.filter { p =>
        val t = Clock.fromMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        t >= from && t <= to
      }
      def dur(k: String) = ps.flatMap(p => Option(p.durationMs.get(k))).map(_.longValue).sum / 1e3
      val stateRows = queries.map { q =>
        ps.filter(_.id == q.id).lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
      }.sum
      val upserts = tracer.spansOf("store.upsert").filter(s => s.start >= from && s.start <= to)
      val w = Span("phase", "", from, to)
      (if (tracer.enabled) tracer.layers(Seq(w)) else Map.empty[String, Double]) ++ Map(
        "codegen.compile_s" -> c.codegenSum / 1e3,
        "codegen.classes" -> c.codegenClasses.toDouble,
        "memo.resident_mb" -> Heap.residentMb(spark),
        "jvm.gc_s" -> c.gcMs / 1e3,
        "streaming.batches" -> ps.count(_.durationMs.containsKey("addBatch")).toDouble,
        "streaming.input_rows" -> ps.map(_.numInputRows).sum.toDouble,
        "streaming.add_batch_s" -> dur("addBatch"),
        "streaming.query_planning_s" -> dur("queryPlanning"),
        "streaming.wal_commit_s" -> dur("walCommit"),
        "streaming.latest_offset_s" -> dur("latestOffset"),
        "streaming.state_rows" -> stateRows.toDouble,
        "streaming.backlog_files_end" -> backlog.toDouble,
        "store.upsert_s" -> upserts.map(_.seconds).sum,
        "store.touched_buckets" -> touched.synchronized(touched.filter(t => t._1 >= from && t._1 <= to))
          .map(_._2).sum.toDouble,
        "store.files_end" -> files.toDouble)
    }

    val quietCallbacks = quiet.flatMap(_.map(_._2))
    val liveRefreshes = live.map(_.map(_._2).sum).toSeq
    val drainS = (drainEnd - drainStart) / 1e9
    val attempted = (live ++ quietAll).map(_.size).sum + checks.size + 2
    ListMap(
      "metrics" -> ListMap(
        "cold_pass_s" -> drainS,
        "warm_pass_s" -> quiet.flatten.groupBy(_._1).values
          .map(cs => Harness.median(cs.map(_._2))).sum,
        "query_p50_s" -> Harness.quantile(quietCallbacks, 0.5),
        "query_p90_s" -> Harness.quantile(quietCallbacks, 0.9),
        "query_samples" -> quietCallbacks.size.toDouble,
        "failed_frac" -> failures.size.toDouble / attempted,
        "peak_heap_mb" -> (drainHeap max openHeap),
        "drain_rows_per_s" -> backlogRows / drainS,
        "freshness_p50_s" -> Harness.quantile(freshness, 0.5),
        "freshness_p90_s" -> Harness.quantile(freshness, 0.9),
        "freshness_samples" -> freshness.size.toDouble,
        "dash_refresh_p50_s" -> Harness.median(liveRefreshes),
        "live_refreshes" -> liveRefreshes.size.toDouble),
      "layers" -> Harness.phased(
        layers(drainStart, drainEnd, c1 - c0, drainFiles, 0),
        layers(openStart, openEnd, c3 - c2, openFiles, backlogEnd)),
      "attempted" -> attempted, "failed" -> failures.size.min(attempted),
      "failures" -> failures.toSeq,
      "detail" -> ListMap(
        "backlog_cycles" -> BacklogCycles, "open_cycles" -> openCycles,
        "history_rows" -> gen.historyRows, "quarantined" -> gen.quarantined,
        "latest_cities" -> stored.size, "tumbling_windows" -> emitted,
        "freshness_s" -> freshness,
        "generator_late_max_s" -> late.max,
        "quiet_callback_p50_s" -> ListMap(quiet.flatten.groupBy(_._1).toSeq.sortBy(_._1).map {
          case (k, v) => k -> Harness.median(v.map(_._2)) }: _*)))
  }
}
