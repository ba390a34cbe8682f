package graft.streaming

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Key
import graft.operators.OracleSql
import graft.sources.{Layout, Tables}

/** Structured-Streaming port of the reference's ingest chain
  * (`/root/reference/producer.py` → Kafka → `/root/reference/consumer.py` →
  * MongoDB), re-expressed as ONE streaming query: source → flatten →
  * validate → derive → sink (SURVEY.md §3.1).
  *
  * Every transform is a pure plan function over a DataFrame, so the SAME
  * code runs in batch (unit tests, backfills) and streaming — the idiomatic
  * Spark upgrade from the reference's imperative per-message loop
  * (`consumer.py:29-78`). Delivery upgrades from the reference's
  * at-least-once (auto-commit + blind insert_one, `consumer.py:22,78`) to
  * exactly-once via checkpoint + idempotent parquet sink.
  *
  * In this offline environment the Kafka source/sink are stood in by
  * MemoryStream (tests) / file sources — the plan from `from_json` onward
  * is identical to `readStream.format("kafka")`'s `value` column.
  *
  * The stores this consumer keeps (the bucketed latest-per-city store and
  * the per-day sketch stores) are rewritten, crash-recovered and compacted
  * through [[graft.sources.Layout]], the one module that names and swaps
  * store directories; this object decides only what each batch writes.
  */
object IngestPipeline {

  /** Raw OpenWeatherMap payload shape (FIXTURES.md A1; producer sends the
    * API response unmodified, `producer.py:38-41`). `weather` is declared
    * StringType and parsed explicitly: the reference defends against the
    * field arriving either as a JSON array or as a stringified-JSON value
    * (`consumer.py:36-45`), and a typed from_json would silently null the
    * whole struct on shape drift. */
  val weatherElem: ArrayType = ArrayType(StructType(Seq(
    StructField("description", StringType))))

  val rawSchema: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("main", StructType(Seq(
      StructField("temp", DoubleType),
      StructField("humidity", LongType),
      StructField("pressure", LongType)))),
    StructField("weather", StringType), // re-parsed below (string-or-array)
    StructField("wind", StructType(Seq(StructField("speed", DoubleType)))),
    StructField("coord", StructType(Seq(
      StructField("lon", DoubleType), StructField("lat", DoubleType)))),
    StructField("dt", LongType),
    StructField("timezone", LongType)))

  /** The ONE store projection (consumer.py:32-53), shared by [[flatten]]
    * and [[flattenFlagged]] so the ingest schema mapping lives in exactly
    * one place — the two paths can't silently drift. */
  private val storeProjection: Seq[Column] = Seq(
    col("p.name").as("city"),
    col("p.main.temp").as("temperature"),
    col("p.main.humidity").cast("int").as("humidity"),
    col("p.main.pressure").cast("int").as("pressure"),
    // consumer.py:36-45: weather may be an array OR a stringified JSON
    // array; either way take [0].description, default "Unknown"
    coalesce(
      from_json(col("p.weather"), weatherElem).getItem(0).getField("description"),
      lit("Unknown")).as("weather"),
    col("p.wind.speed").as("wind_speed"),
    col("p.coord").as("coordinates"),
    col("p.dt").as("dt"),
    col("p.timezone").as("tz_offset"))

  /** consumer.py:32-53 — flatten the nested payload into the store schema.
    * `json` is a column of raw JSON strings (Kafka `value`). */
  def flatten(raw: DataFrame, json: Column): DataFrame =
    raw.withColumn("p", from_json(json, rawSchema))
      .select(storeProjection: _*)

  /** producer.py:37-44's try/except, declarative (SURVEY §2.8 maps it to
    * "PERMISSIVE + `_corrupt_record`"): parse with a corrupt-record column
    * so a payload that fails to parse AT ALL keeps its raw text instead of
    * silently vanishing. Shape drift INSIDE a parseable payload still
    * degrades per-field (nulls → [[validated]] drop), matching
    * consumer.py:55-57; only unparseable input is quarantined. */
  val quarantineSchema: StructType =
    rawSchema.add(StructField("_corrupt_record", StringType))

  /** [[flatten]] + a `_corrupt_record` column (null ⇔ payload parsed). */
  def flattenFlagged(raw: DataFrame, json: Column): DataFrame =
    raw.withColumn("p", from_json(json, quarantineSchema,
        Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_corrupt_record")))
      .select(storeProjection :+
        col("p._corrupt_record").as("_corrupt_record"): _*)

  /** The quarantine side output: raw text of every unparseable payload. */
  def quarantine(flagged: DataFrame): DataFrame =
    flagged.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_payload"))

  /** Clean/quarantine split over ONE parse: (validated ingest rows,
    * quarantined raw payloads). Both sides derive from the same flagged
    * plan, so in foreachBatch the parse runs once per micro-batch. */
  def ingestWithQuarantine(raw: DataFrame, json: Column)
      : (DataFrame, DataFrame) = {
    val flagged = flattenFlagged(raw, json)
    val clean = flagged.filter(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    (withLocalTime(validated(clean)), quarantine(flagged))
  }

  /** consumer.py:55-57 — drop incomplete records ("Data tidak lengkap"). */
  def validated(flat: DataFrame): DataFrame =
    flat.filter(col("temperature").isNotNull && col("humidity").isNotNull &&
      col("dt").isNotNull)

  /** consumer.py:59-61 — local wall-clock = UTC epoch + offset seconds,
    * stored formatted (the reference stores a string; we keep the typed
    * timestamp alongside). */
  def withLocalTime(df: DataFrame): DataFrame =
    df.withColumn("obs_ts", timestamp_seconds(col("dt")))
      .withColumn("local_time",
        date_format(timestamp_seconds(col("dt") + col("tz_offset")),
          "yyyy-MM-dd HH:mm:ss"))

  /** The full ingest plan: raw JSON strings → validated flat records. */
  def ingest(raw: DataFrame, json: Column): DataFrame =
    withLocalTime(validated(flatten(raw, json)))

  /** Streaming dedup of redelivered records: the reference's pipeline is
    * at-least-once (auto-commit consumer + blind insert_one,
    * `consumer.py:22,78`) so replays DUPLICATE rows in MongoDB; this stage
    * drops them by natural key (city, dt) with state bounded by the
    * watermark — `dropDuplicatesWithinWatermark` evicts seen-keys older
    * than the 10-minute horizon, so state is O(keys per horizon), not
    * O(stream). The at-scale-correct streaming dedup (an unbounded
    * dropDuplicates would OOM a year-long stream). */
  def dedupedStream(obs: DataFrame): DataFrame =
    obs.withWatermark("obs_ts", "10 minutes")
      .dropDuplicatesWithinWatermark("city", "dt")

  /** Stream-static enrichment join (J1 in streaming form): each arriving
    * observation picks up its island from the 16-row dimension. The static
    * side broadcasts; no stream-side state at all — the join is stateless
    * per micro-batch, the same plan a 1000-executor cluster runs. */
  def enriched(obs: DataFrame, islandDim: DataFrame): DataFrame =
    obs.join(broadcast(islandDim), Seq("city"), "left")
      .withColumn("pulau", coalesce(col("pulau"), lit("Lainnya")))

  /** FIXTURES.md A3 — the app.py:15-23 island dimension as a DataFrame. */
  def islandDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      "Medan" -> "Sumatera", "Padang" -> "Sumatera", "Palembang" -> "Sumatera",
      "Jakarta" -> "Jawa", "Bandung" -> "Jawa", "Surabaya" -> "Jawa",
      "Pontianak" -> "Kalimantan", "Banjarmasin" -> "Kalimantan",
      "Samarinda" -> "Kalimantan",
      "Makassar" -> "Sulawesi", "Manado" -> "Sulawesi", "Palu" -> "Sulawesi",
      "Jayapura" -> "Papua",
      "Denpasar" -> "Bali-Nusa", "Mataram" -> "Bali-Nusa",
      "Ambon" -> "Maluku",
    ).toDF("city", "pulau")
  }

  /** Sliding-window variant of [[tumblingAvg]]: 10-minute windows sliding
    * every 5 — each event lands in 2 windows (window/slide overlap factor
    * bounds the state and row amplification). */
  def slidingAvg(obs: DataFrame): DataFrame =
    windowAvg(obs, window(col("obs_ts"), "10 minutes", "5 minutes"))

  /** Per-city average temperature over the `win` windows of `obs_ts`,
    * with a 10-minute watermark bounding the state. */
  private def windowAvg(obs: DataFrame, win: Column): DataFrame =
    obs.withWatermark("obs_ts", "10 minutes")
      .groupBy(win, col("city"))
      .agg(avg(col("temperature")).as("avg_temp"), count(lit(1)).as("n_obs"))
      .select(col("window.start").as("win_start"), col("city"),
        col("avg_temp"), col("n_obs"))

  /** Number of stable hash buckets the upsert store is partitioned into.
    * Small here (16 cities); at scale it is sized so a bucket's parquet
    * fits one task's rewrite budget (e.g. 4096 buckets for a 1 TB store). */
  val StoreBuckets = 16

  /** Stable store-partition of a city — pure function of the key, so a
    * city's rows land in the same bucket in every batch forever. */
  def bucketOf(city: Column): Column =
    pmod(xxhash64(city), lit(StoreBuckets)).cast("int")

  /** foreachBatch UPSERT sink: the store keeps ONE row per city — the
    * latest observation — instead of the reference's append-only
    * insert_one pile (`consumer.py:78`, which accumulates every poll
    * forever and makes the dashboard re-aggregate history it doesn't
    * want).
    *
    * INCREMENTAL: the store is laid out as `bucket=N` subdirectories keyed
    * by [[bucketOf]], and a micro-batch rewrites ONLY the buckets its rows
    * hash into — O(batch), not O(store). One read of the touched bucket
    * dirs that exist, unioned with the batch rows, keeps rank 1 per city
    * and goes out in ONE partitioned write through
    * [[Layout.rewritePartitions]], whose per-bucket swaps keep the
    * two-rename crash safety, after [[Layout.recover]] has restored any
    * bucket a crash stranded; untouched buckets are not opened, so their
    * files stay byte-identical (pinned by IngestPipelineSpec). The window
    * order is a TOTAL order over the stored columns: redelivered
    * duplicates (same city+dt, possibly corrected values) resolve
    * identically on every run, and a retry after a crash at any rename
    * re-merges to the same rows. AT SCALE the
    * same foreachBatch body targets a table format's MERGE (Delta/Iceberg)
    * — this bucket layout is exactly the file-pruning that MERGE buys,
    * hand-rolled on plain parquet. */
  def upsertBatch(batch: DataFrame, store: String): Unit = {
    val spark = batch.sparkSession
    val fs = Layout.fsOf(spark, store)
    Layout.recover(spark, store)
    // persisted for the batch's lifetime: the bucket collect and the write
    // are two actions over the micro-batch, and an UNcached batch frame
    // re-reads the SOURCE per action (against a real broker, a second
    // fetch of the same offsets; IngestPipelineSpec's wire test counts
    // numInputRows). Both actions complete inside this call, so the
    // unpersist is safe.
    val slim = batch.select("city", "temperature", "humidity", "dt")
      .withColumn("bucket", bucketOf(col("city")))
      .persist()
    try {
      // ≤ StoreBuckets ids — bounded by construction (bucketOf is
      // pmod(hash, StoreBuckets)), and ENFORCED: a refactor that widens
      // bucketOf without revisiting this driver-side collect must fail
      // here, not OOM the driver. limit(+1) bounds the collect itself.
      val touched = slim.select("bucket").distinct()
        .limit(StoreBuckets + 1)
        .collect().map(_.getInt(0))
      require(touched.length <= StoreBuckets,
        s"upsertBatch: > $StoreBuckets distinct bucket ids — bucketOf no " +
          "longer matches the StoreBuckets driver-side bound")
      val stored = touched.map(b => s"$store/bucket=$b")
        .filter(d => fs.exists(new Path(d)))
      val rows =
        if (stored.isEmpty) slim
        else spark.read.schema(slim.schema).option("basePath", store)
          .parquet(stored.toSeq: _*).unionByName(slim)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("bucket"), col("city")).orderBy(desc("dt"),
          desc("temperature"), desc("humidity")) // total over stored cols
      // an empty (no-data) micro-batch touches nothing and writes nothing
      if (touched.nonEmpty)
        Layout.rewritePartitions(rows.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn"), store, "bucket")
    } finally slim.unpersist()
  }

  /** The one streaming sink chain: `body` runs on every micro-batch with
    * its batch id, exactly once per id under `checkpoint`. */
  private def sink(df: DataFrame, checkpoint: String)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((b: Dataset[Row], id: Long) => body(b.toDF(), id))
      .start()

  /** Wire [[upsertBatch]] as a streaming sink. */
  def upsertStream(obs: DataFrame, store: String, checkpoint: String)
      : StreamingQuery =
    sink(obs, checkpoint)((b, _) => upsertBatch(b, store))

  /** Relative-error bound of the streaming percentile store's sketches. */
  val SketchAlpha = 0.01

  /** Incremental per-day QUANTILE-SKETCH store: the streaming composition
    * of the mergeable log-bucket sketch (`graft.functions.QSketch`, the
    * `percentile_store_merge` key) with the O(batch) bucket-store
    * discipline of [[upsertBatch]]. Each micro-batch folds its
    * temperatures into one sketch per observation DAY and merges it into
    * that day's stored sketch — only days the batch touches are rewritten
    * (two-rename swap per day dir, same crash-safety). Counter addition
    * is NOT idempotent, so replay safety comes from the batch-id guard in
    * [[mergeDayStore]], not from the merge algebra. The store stays tiny
    * (one ~KB row per day) yet answers "p90 over any day range" without
    * ever rescanning observations — the dashboard-statistics upgrade of
    * the reference's full-store recompute every 300 s (`app.py:118-124`). */
  def sketchStoreBatch(batch: DataFrame, store: String, batchId: Long,
      queryId: String = "batch"): Unit = {
    import graft.functions.{QuantileMergeAgg, QuantileSketchAgg}
    mergeDayStore(
      batch.select(to_date(col("obs_ts")).as("day"), col("temperature")),
      store, batchId, queryId,
      QuantileSketchAgg(col("temperature"), SketchAlpha),
      QuantileMergeAgg(col("sk")))
  }

  /** The stable identity of the streaming query that owns `checkpoint` —
    * the `id` field of the checkpoint's metadata file. This is the right
    * incarnation token for the day stores' replay guard: it SURVIVES
    * restarts from the same checkpoint (so a crash-replayed batch under a
    * new runId is still recognized as already merged) but is REGENERATED
    * when the checkpoint is reset — so a fresh query whose batch ids
    * restart at 0 can never be mistaken for the old query's batch 0 and
    * silently dropped. (runId would be wrong here: it changes on every
    * restart, which would turn legitimate crash-replays into double
    * counts.) Read lazily per batch — KB-sized file, OS-cached. */
  private[streaming] def checkpointQueryId(spark: SparkSession,
      checkpoint: String): String = {
    val path = new Path(checkpoint, "metadata")
    val fs = Layout.fsOf(spark, checkpoint)
    if (!fs.exists(path)) "batch"
    else {
      val in = fs.open(path)
      try new ObjectMapper().readTree(in).path("id").asText("batch")
      finally in.close()
    }
  }

  /** Most distinct days one micro-batch may touch before [[mergeDayStore]]
    * refuses: 400 covers a full year plus watermark slop of late days,
    * while keeping the per-batch day collect ≈10 KB and the guard read to
    * 400 one-row files. Exceeding it means a batch is really a bulk
    * backfill, which belongs in bounded slices. */
  private[graft] val MaxDaysPerBatch = 400

  /** The per-day mergeable-sketch store discipline, shared by the
    * quantile and Count-Min stores: fold the batch's rows into ONE sketch
    * row per day (`sketch`), merge it with that day's stored row (`merge`
    * over their union, grouped by day), and write every merged day in one
    * [[Layout.rewritePartitions]], whose per-day swaps keep the two-rename
    * crash safety. Untouched day dirs are never opened — O(touched days), not
    * O(store).
    *
    * Two failure modes [[upsertBatch]]'s rank-1 dedupe absorbs for free
    * need explicit handling here, because counter ADDITION is not
    * idempotent:
    *  - REPLAY: each stored row carries the (query_id, batch_id) of the
    *    last batch merged into it; one grouped read of the touched days
    *    finds the days a foreachBatch retry of that same batch (only the
    *    most recent uncommitted batch can replay) already merged, and
    *    those days are skipped instead of double-counted — including a
    *    retry after a crash between two days' swaps, which merges only
    *    the days still missing. The query id half
    *    ([[checkpointQueryId]]) is what makes the guard safe against
    *    CHECKPOINT RESETS: a new checkpoint means new batch ids from 0,
    *    and without the query id a colliding id would silently drop the
    *    new query's first batches.
    *  - STRANDED SWAP: a day a crash left only in the parked copy is
    *    restored by [[Layout.recover]]'s all-partitions sweep up front,
    *    not per touched day — a crash on the LAST batch that would ever
    *    touch a day must not leave that day invisible to readers
    *    forever. */
  private[graft] def mergeDayStore(withDay: DataFrame, store: String, batchId: Long,
      queryId: String, sketch: Column, merge: Column): Unit = {
    val spark = withDay.sparkSession
    val fs = Layout.fsOf(spark, store)
    Layout.recover(spark, store)
    // Days-per-batch is watermark-bounded in steady state, but a
    // checkpoint-reset backfill (or a replay of months of broker backlog
    // in one micro-batch) is not — cap the driver-side day spine the way
    // DedupOps.SmallGraphEdgeCap caps the union-find collect. limit(+1)
    // bounds the collect itself; the failure tells the operator to split
    // the backfill (maxOffsetsPerTrigger / smaller source slices) rather
    // than merging years of history off one batch.
    val days = withDay.select("day").distinct()
      .limit(MaxDaysPerBatch + 1)
      .collect().map(_.getDate(0).toString)
    require(days.length <= MaxDaysPerBatch,
      s"mergeDayStore: one micro-batch spans > $MaxDaysPerBatch distinct " +
        "days — split the backfill (bound the source per trigger) instead " +
        "of merging years of history in a single batch")
    val dirs = days.map(d => s"$store/day=$d").filter(d => fs.exists(new Path(d)))
    // mergeSchema: a pre-round-7 day file has no query_id column
    val stored = Option.when(dirs.nonEmpty)(spark.read.option("basePath", store)
      .option("mergeSchema", "true").parquet(dirs.toSeq: _*))
    // both halves must match: same batch id from a DIFFERENT query
    // incarnation (reset checkpoint) is new data, not a replay. A missing
    // query_id = a pre-round-7 store; its batch_id-only guard semantics
    // are preserved.
    val done = stored.filter(_.columns.contains("batch_id")).toSeq.flatMap { s =>
      val q = if (s.columns.contains("query_id"))
        coalesce(col("query_id"), lit(queryId)) else lit(queryId)
      s.groupBy("day").agg(max(col("batch_id")).as("b"), max(q).as("q"))
        .filter(col("b") === batchId && col("q") === queryId)
        .collect().map(_.getDate(0).toString)
    }
    // replayed days: the merge is done, but the original attempt may have
    // crashed between its final two steps — drop the parked copy so stale
    // pre-merge data can't linger forever
    done.foreach(d => Layout.dropParked(spark, store, s"day=$d"))
    if (done.length < days.length) {
      val todo = !col("day").cast("string").isin(done: _*)
      val batchSk = withDay.filter(todo).groupBy("day").agg(sketch.as("sk"))
      val merged = stored.fold(batchSk)(
        _.filter(todo).select("day", "sk").unionByName(batchSk))
        .groupBy("day").agg(merge.as("sk"))
      Layout.rewritePartitions(merged.withColumn("batch_id", lit(batchId))
        .withColumn("query_id", lit(queryId)), store, "day")
    }
  }

  /** Incremental per-day TERM-FREQUENCY store: the Count-Min twin of
    * [[sketchStoreBatch]] over the city key. Same day-dir swap, same
    * O(touched days) updates; the stored 64 KB sketches answer "how many
    * observations did city X report on these days" by counter addition,
    * never rescanning observations. */
  def cmStoreBatch(batch: DataFrame, store: String, batchId: Long,
      queryId: String = "batch"): Unit = {
    import graft.functions.{CountMinMergeAgg, CountMinSketchAgg}
    mergeDayStore(
      batch.select(to_date(col("obs_ts")).as("day"), col("city")),
      store, batchId, queryId,
      CountMinSketchAgg(col("city")), CountMinMergeAgg(col("sk")))
  }

  /** Wire [[cmStoreBatch]] as a streaming sink. */
  def cmStoreStream(obs: DataFrame, store: String, checkpoint: String)
      : StreamingQuery =
    sink(obs, checkpoint)((b, id) => cmStoreBatch(b, store, id,
      checkpointQueryId(b.sparkSession, checkpoint)))

  /** Query side of the frequency store: merge the stored per-day
    * sketches (a day-range read stays partition-pruned) and estimate
    * each requested key's count. KB-sized reads only. */
  def cmStoreCounts(spark: SparkSession, store: String,
      keys: Seq[String]): DataFrame = {
    import graft.functions.{CountMinEstimate, CountMinMergeAgg}
    spark.read.parquet(store).agg(CountMinMergeAgg(col("sk")).as("msk"))
      .select(keys.map(k =>
        CountMinEstimate(col("msk"), lit(k)).as(s"cnt_$k")): _*)
  }

  /** Wire [[sketchStoreBatch]] as a streaming sink. */
  def sketchStoreStream(obs: DataFrame, store: String, checkpoint: String)
      : StreamingQuery =
    sink(obs, checkpoint)((b, id) => sketchStoreBatch(b, store, id,
      checkpointQueryId(b.sparkSession, checkpoint)))

  /** Query side of the sketch store: merge the stored per-day sketches
    * (optionally a day range — partition pruning keeps the read to the
    * selected day dirs) and read quantiles out. Reads KB-sized sketch
    * rows, never the observations. */
  def sketchStoreQuantiles(spark: SparkSession, store: String,
      qs: Seq[Double]): DataFrame = {
    import graft.functions.{QuantileEstimate, QuantileMergeAgg}
    spark.read.parquet(store).agg(QuantileMergeAgg(col("sk")).as("msk"))
      .select(qs.map(q =>
        QuantileEstimate(col("msk"), q).as(s"p${(q * 100).round}")): _*)
  }

  /** Streaming form of the clean/quarantine split: per micro-batch, valid
    * rows append to `store` and unparseable payloads append to `quarPath`
    * — the durable upgrade of the reference's except-branch print
    * (`producer.py:43-44`). One parse per batch (both sides share the
    * flagged plan); exactly-once by checkpoint + idempotent-append per
    * epoch. */
  def quarantineStream(rawStream: DataFrame, json: Column, store: String,
      quarPath: String, checkpoint: String): StreamingQuery =
    sink(rawStream, checkpoint) { (b, _) =>
      val (clean, quar) = ingestWithQuarantine(b, json)
      clean.write.mode("append").parquet(store)
      quar.write.mode("append").parquet(quarPath)
    }

  /** Stateful extension (SURVEY §2.8): per-city tumbling-window average
    * temperature with a watermark bounding state. */
  def tumblingAvg(obs: DataFrame): DataFrame =
    windowAvg(obs, window(col("obs_ts"), "5 minutes"))

  /** Batch-queryable equivalent of the tumbling window over the events
    * table (1-hour windows), for the driver's oracle. */
  def streamTumblingAvg(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), Exact.avgMoney(col("value")).as("avg_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_s"),
        col("event_type"), col("cnt"), col("avg_value"))
      .orderBy("hour_s", "event_type")
  }

  // ── exact distinct users per tumbling hour — the batch twin of the
  // streaming dropDuplicates(h, user) → windowed count pipeline
  // (IngestPipelineSpec pins the file-stream form equal). countDistinct
  // is unsupported inside a streaming aggregation, so the STREAM
  // expresses it as dedup-then-count; this batch form is the semantics
  // both must agree on. In production the stream carries a watermark so
  // the dedup state ages out with the window. ──
  def streamTumblingUsers(spark: SparkSession, dir: String): DataFrame =
    windowUsers(spark, dir, window(col("ts"), "1 hour"), "hour_s")

  /** Distinct users and events per `win` window of `ts`, keyed and
    * ordered by the window start formatted as `startName`. */
  private def windowUsers(spark: SparkSession, dir: String, win: Column,
      startName: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(win)
      .agg(countDistinct(col("user_id")).as("users"),
        count(lit(1)).as("cnt"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as(startName),
        col("users"), col("cnt"))
      .orderBy(startName)

  // ── distinct users per 2-hour hopping window sliding hourly — the
  // overlapping-window twin of [[streamTumblingUsers]] (tumbling
  // answers "this hour's reach"; hopping answers "trailing-2h reach,
  // refreshed hourly" — the smoother a live dashboard actually wants).
  // Same dedup-then-count streaming semantics; each event lands in
  // exactly 2 windows, so stream state stays 2× the tumbling form. The
  // oracle replays Spark's window cover rule exactly: starts = the
  // event's hour floor and the hour before. ──
  def streamHoppingUsers(spark: SparkSession, dir: String): DataFrame =
    windowUsers(spark, dir, window(col("ts"), "2 hours", "1 hour"),
      "win_start_s")

  // ── per-user SESSION windows via the native `session_window`
  // generator — the third window family next to tumbling and hopping:
  // data-driven extents (a session ends only when the user goes quiet
  // for 30 min), which is what Structured Streaming's session-window
  // state store computes incrementally. This batch form is the
  // semantics contract: window.start = first event, window.end = last
  // event + gap, events chain while consecutive gaps stay ≤ the
  // 30-min gap — exactly the [[graft.operators.AdvancedOps.sessionize]]
  // rule, so the oracle replays gap sessionization and derives the
  // window bounds arithmetically (a cross-check that Spark's native
  // operator and the classic lag/cumsum construction agree row for
  // row). Grouping keys partition the state — per-user, bounded,
  // parallel. ──
  def streamSessionWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
      .select(col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("sess_start_s"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("sess_end_s"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "sess_start_s")

  val keys: Seq[Key] = Seq(
    Key("stream_session_window", streamSessionWindow, Some(
      s"""WITH seq AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, "value",
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
        |  FROM events),
        |flags AS (
        |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |      OR ${OracleSql.SessionBreak} THEN 1 ELSE 0 END
        |      AS is_new
        |  FROM seq WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess AS (
        |  SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS sid
        |  FROM flags)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start_s,
        |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
        |    AS sess_end_s,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, sess_start_s""".stripMargin)),
    Key("stream_hopping_users", streamHoppingUsers, Some(
      """WITH e AS (SELECT date_trunc('hour', ts) AS h, user_id
        |           FROM events),
        |cov AS (SELECT h AS ws, user_id FROM e
        |        UNION ALL
        |        SELECT h - INTERVAL 1 HOUR AS ws, user_id FROM e)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start_s,
        |  count(DISTINCT user_id) AS users, count(*) AS cnt
        |FROM cov GROUP BY 1 ORDER BY win_start_s""".stripMargin)),
    Key("stream_tumbling_users", streamTumblingUsers, Some(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |    AS hour_s,
        |  count(DISTINCT user_id) AS users, count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY hour_s""".stripMargin)),
    Key("stream_tumbling_avg", streamTumblingAvg, Some(
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_s,
        |  event_type, count(*) AS cnt,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) / count("value") AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_s, event_type""".stripMargin)),
  )
}
