package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}

/** Storage-layout utilities — the write-side half of the 100 TB story.
  *
  * The reference's store is one unindexed MongoDB collection rescanned in
  * full every 5 minutes (`/root/reference/app.py:32-36,101`). At scale the
  * layout IS the index: date-partitioned parquet turns every time-ranged
  * query (range_filter, sessionize, the dashboard window) into a scan of
  * only the matching day directories (Catalyst `PartitionFilters`), and
  * sorting within files by the frequent filter key tightens row-group
  * min/max bounds for pushdown.
  */
object Layout {

  /** Write events day-partitioned and sorted by (event_type, ts) within
    * each file. `repartition` by the partition column keeps one writer task
    * per day (no small-file explosion — the classic partitionBy footgun).
    * The explicit partition count keeps AQE from coalescing the small
    * shuffle into one task, which would write every day on one core. */
  def writeEventsByDay(events: DataFrame, path: String): Unit =
    events
      .withColumn("day", to_date(col("ts")))
      .repartition(
        events.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("day"))
      // the writer REQUIRES ordering to start with the partition column;
      // leading with (event_type, ts) alone would make Spark insert its own
      // day-sort on top, wasting the first sort and leaving the within-file
      // order to unguaranteed stability
      .sortWithinPartitions(col("day"), col("event_type"), col("ts"))
      .write.mode("overwrite")
      .partitionBy("day")
      .parquet(path)

  /** The content-keyed ([[Fingerprint]]) warehouse path
    * `graft_<name>_<tag>` of a derived store built from `dir`'s `tables`,
    * written by `write(path)` unless complete — the offline-layout-job
    * discipline of [[Bucketed.ensure]]: written once per content tag,
    * read by every later query. Every derived store (the events twins,
    * the ANN models, the IVM partials, the versioned store) is ensured
    * here. Completion is `marker` (relative to the store root: the
    * `_SUCCESS` of the LAST-written part, or the last commit's
    * manifest), never the directory's existence: the committer creates
    * the directory when the job STARTS, so a crash mid-write leaves a
    * partial store that a bare-existence check would serve forever.
    * Every `write` replaces whatever a crash left (overwrite mode, or a
    * cleared root). One job writes each part of a store, so its readers
    * take the schema from one footer ([[Tables.parquet]]); only
    * [[ensureEventsCorrupt]]'s poisoned member and
    * [[ensureEventsSchemaEvolution]]'s two schemas are read with Spark's
    * inference. */
  private[graft] def ensureStore(spark: SparkSession, dir: String,
      name: String, marker: String, tables: String*)(
      write: String => Unit): String = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val path = s"$wh/graft_${name}_${Fingerprint.tag(spark, dir, tables: _*)}"
    val done = new Path(s"$path/$marker")
    if (!done.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(done)) write(path)
    path
  }

  /** Create `file` holding `bytes` unless it exists — the extra member
    * a store fixture adds after its Spark write, checked on its own so a
    * crash between the two cannot leave a store without it. */
  private def addFileOnce(spark: SparkSession, file: String,
      bytes: Array[Byte]): Unit = {
    val p = new Path(file)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) {
      val out = fs.create(p)
      try out.write(bytes) finally out.close()
    }
  }

  /** Lazily materialize the day-partitioned events copy for `dir`
    * (content-keyed via [[Fingerprint]], same discipline as
    * [[Bucketed.ensure]]: an offline layout job writes once, every
    * subsequent query reads the pruned store); returns its path. */
  def ensureEventsByDay(spark: SparkSession, dir: String): String =
    ensureStore(spark, dir, "events_byday", "_SUCCESS", "events")(
      writeEventsByDay(Tables.events(spark, dir), _))

  /** Line-delimited-JSON twin of the events table (content-keyed derived
    * store, written once) — the interchange format text corpora actually
    * ship in. `ts` is serialized as the µs epoch long: JSON has no
    * timestamp type, and an explicit integer survives any reader without
    * parser/locale drift. */
  def ensureEventsJsonl(spark: SparkSession, dir: String): String =
    ensureStore(spark, dir, "events_jsonl", "_SUCCESS", "events") { path =>
      Tables.events(spark, dir)
        .withColumn("ts", unix_micros(col("ts")))
        .write.mode("overwrite").json(path)
    }

  /** Read the JSONL store with an EXPLICIT schema — at corpus scale,
    * schema inference is a full extra pass over the data and a
    * corruption vector (one malformed line re-types a column for every
    * reader); production JSONL reads always pin the schema and route
    * non-conforming lines to a corrupt-record column instead. */
  def readEventsJsonl(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.read.schema(schema).json(path)
  }

  /** ORC twin of the events table — the OTHER columnar interchange
    * format (Hive/Trino ecosystems), exercised through Spark's built-in
    * ORC source. `ts` ships as the µs epoch long (the
    * [[ensureEventsJsonl]] rationale: no timestamp-vintage or tz drift
    * across writers); content-keyed, written once. */
  def ensureEventsOrc(spark: SparkSession, dir: String): String =
    ensureStore(spark, dir, "events_orc", "_SUCCESS", "events") { path =>
      Tables.events(spark, dir)
        .withColumn("ts", unix_micros(col("ts")))
        .write.mode("overwrite").orc(path)
    }

  /** CSV twin of the events table (content-keyed derived store, written
    * once) — the lowest-common-denominator interchange format raw feeds
    * actually arrive in. `ts` ships as the µs epoch long (same rationale
    * as [[ensureEventsJsonl]]: no parser/locale drift), doubles round-trip
    * via shortest-repr. The fixture then appends ONE extra file holding
    * [[CsvBadLines]] deliberately malformed rows (unparseable numerics,
    * empty event_type) — the poisoned 0.001% every real 100 TB CSV feed
    * contains — so the read side's quarantine path is exercised, not just
    * declared. The bad file leads with the header line because Spark's
    * CSV reader drops the first line of EVERY file when header=true. */
  val CsvBadLines: Seq[String] = Seq(
    "not_a_long,1705300000000000,42,,9.9x,junk",
    "12x,not_a_ts_long,43,,x1.0,junk",
    "13x,1705300000000001,no,,0.0y,junk")

  /** Merge-on-read events store: immutable `data/` parquet plus a
    * positional DELETE VECTOR under `deletes/` — the lakehouse deletion
    * idiom (Delta deletion vectors / Iceberg positional delete files):
    * deleting rows never rewrites a data file, it appends (file, pos)
    * tombstones that readers subtract. Positions are Spark's native
    * `_metadata.row_index` / `_metadata.file_path` constant metadata
    * columns — no stored position column, so `data/` stays byte-
    * compatible with a plain store. The demo delete set (event_id ≡ 0
    * mod 13) is computed FROM the written files once, here; the read
    * path ([[graft.operators.RelationalOps.scanDeleteVectors]]) never
    * sees that rule — it honors whatever tombstones exist.
    * Completion marker = the DELETES' _SUCCESS (written last): a crash
    * after `data/` but before `deletes/` must not serve an undeleted
    * store. */
  def ensureEventsMor(spark: SparkSession, dir: String): String =
    ensureStore(spark, dir, "events_mor", "deletes/_SUCCESS",
      "events") { path =>
      Tables.events(spark, dir)
        .repartition(8, col("event_id"))
        .write.mode("overwrite").parquet(s"$path/data")
      Tables.parquet(spark, s"$path/data")
        .select(col("_metadata.file_path").as("file"),
          col("_metadata.row_index").as("pos"), col("event_id"))
        .filter(col("event_id") % 13 === 0)
        .select(col("file"), col("pos"))
        .write.mode("overwrite").parquet(s"$path/deletes")
    }

  /** Bloom-index sizing for [[ensureEventsBloomIdx]]: 8192 bits / 4
    * probes per key. Files are clustered by `user_id` (hash
    * repartition), so each file holds ~1/16 of the users; at ≤ a few
    * hundred set bits per file the false-file probability is ≲1e-6. */
  private[sources] val BloomIdxBits = 8192L
  private[graft] val BloomIdxSeeds: Seq[Long] = Seq(0L, 1L, 2L, 3L)

  /** Probe bit `j` for key `u` — driver-side twin of the Column form in
    * [[ensureEventsBloomIdx]] (same Knuth-hash arithmetic on the same
    * positive domain, so the results are identical by construction). */
  private[graft] def bloomIdxBit(u: Long, j: Long): Long =
    math.floorMod(
      math.floorMod(u, 2147483648L) * (2654435761L + j * 40503L),
      BloomIdxBits)

  /** File-level BLOOM INDEX over `user_id`: the data-skipping structure
    * for HIGH-CARDINALITY POINT predicates, where min/max row-group
    * stats (scan_pruned_day) and Z-order rectangles (scan_zorder) don't
    * help because every file's [min,max] spans the whole key domain.
    * Layout: `data/` hash-clustered by user_id into 16 files (each user
    * lives in exactly one file — clustering is what makes the bloom
    * selective); `index/` holds distinct (file, bit) rows — the unrolled
    * bitmap form, mergeable by plain append when files are added. The
    * reader ([[graft.operators.RelationalOps.scanBloomSkip]]) matches a
    * key's 4 probe bits against the index and opens ONLY passing files.
    * Index completion marker is written last, same rule as the MOR
    * store. */
  def ensureEventsBloomIdx(spark: SparkSession, dir: String): String =
    ensureStore(spark, dir, "events_bloomidx", "index/_SUCCESS",
      "events") { path =>
      Tables.events(spark, dir)
        .repartition(16, col("user_id"))
        .write.mode("overwrite").parquet(s"$path/data")
      val bits = BloomIdxSeeds.map(j =>
        pmod(pmod(col("user_id"), lit(2147483648L)) *
          lit(2654435761L + j * 40503L), lit(BloomIdxBits)))
      Tables.parquet(spark, s"$path/data")
        .select(col("_metadata.file_path").as("file"),
          explode(array(bits: _*)).as("bit"))
        .distinct()
        .write.mode("overwrite").parquet(s"$path/index")
    }

  /** MIN/MAX ZONE-MAP store: `data/` range-clustered by `value` into 16
    * files (range clustering is what makes per-file [min,max] narrow —
    * on the raw layout every file spans the whole domain and no stats
    * prune anything), `stats/` one row per file with the file's exact
    * min/max of the clustered column — the manifest-level stats skipping
    * Iceberg/Delta do before any file opens, and the RANGE-predicate
    * member of the skipping family (bloom = point, Z-order = 2-dim,
    * day-partition = time). Mergeable by append: a new file adds one
    * stats row. Stats written last = completion marker. */
  def ensureEventsMinMax(spark: SparkSession, dir: String): String =
    ensureStore(spark, dir, "events_minmax", "stats/_SUCCESS",
      "events") { path =>
      Tables.events(spark, dir)
        .repartitionByRange(16, col("value"))
        .write.mode("overwrite").parquet(s"$path/data")
      Tables.parquet(spark, s"$path/data")
        .groupBy(col("_metadata.file_path").as("file"))
        .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
        .write.mode("overwrite").parquet(s"$path/stats")
    }

  /** PARTITION-EVOLUTION store: generation 1 (events before `splitUs`)
    * is day-partitioned, generation 2 (the rest) is MONTH-partitioned —
    * the layout change a growing table actually makes when daily dirs
    * get too numerous (Iceberg's partition-spec evolution). Old data is
    * NOT rewritten; readers must prune each generation under its own
    * scheme ([[graft.operators.RelationalOps.scanPartitionEvolution]]).
    * Marker = gen2's _SUCCESS, written last. */
  def ensureEventsPartEvo(spark: SparkSession, dir: String,
      splitUs: Long): String =
    ensureStore(spark, dir, "events_partevo", "gen2/_SUCCESS",
      "events") { path =>
      val ev = Tables.events(spark, dir)
        .withColumn("us", unix_micros(col("ts")))
      ev.filter(col("us") < splitUs)
        .withColumn("day", to_date(col("ts")).cast("string"))
        .drop("us")
        .repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(s"$path/gen1")
      ev.filter(col("us") >= splitUs)
        .withColumn("month", date_format(col("ts"), "yyyy-MM"))
        .drop("us")
        .repartition(col("month"))
        .write.mode("overwrite").partitionBy("month").parquet(s"$path/gen2")
    }

  /** Store with one poisoned member: valid parquet files plus
    * `zz_corrupt.parquet` holding garbage bytes — the reality of any
    * large ingest directory (truncated upload, torn write). Readers opt
    * into skipping it ([[graft.operators.RelationalOps
    * .scanCorruptTolerant]]); a plain read fails loudly. The junk file
    * is written AFTER the parquet commit and checked separately, like
    * the CSV store's bad lines. */
  def ensureEventsCorrupt(spark: SparkSession, dir: String): String = {
    val path = ensureStore(spark, dir, "events_corrupt", "_SUCCESS", "events")(
      Tables.events(spark, dir)
        .repartition(4, col("event_id"))
        .write.mode("overwrite").parquet(_))
    // PAR1 magic then garbage: passes the extension check, fails the
    // footer parse — the torn-write shape
    addFileOnce(spark, s"$path/zz_corrupt.parquet",
      ("PAR1" + "not a real parquet footer").getBytes("UTF-8"))
    path
  }

  def ensureEventsCsv(spark: SparkSession, dir: String): String = {
    val path = ensureStore(spark, dir, "events_csv", "_SUCCESS", "events")(
      Tables.events(spark, dir)
        .withColumn("ts", unix_micros(col("ts")))
        .write.mode("overwrite").option("header", "true").csv(_))
    addFileOnce(spark, s"$path/zz_bad.csv",
      ("event_id,ts,user_id,event_type,value,props" +: CsvBadLines)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    path
  }

  /** Read the CSV store with an EXPLICIT schema in PERMISSIVE mode: a
    * line whose fields don't parse keeps its raw text in
    * `_corrupt_record` instead of failing the job or silently re-typing
    * a column (the schema-inference trap — inference is also a whole
    * extra pass at corpus scale). Unparseable numeric fields null out,
    * so a poisoned line never contributes to an aggregate; the caller
    * counts `_corrupt_record` to surface the quarantine volume. */
  def readEventsCsv(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType),
      StructField("_corrupt_record", StringType)))
    spark.read.schema(schema)
      .option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
  }

  /** Two-generation parquet store with DIFFERENT schemas — the drift
    * every long-lived 100 TB store accumulates: generation 1 (events
    * before `splitUs`) predates the `props` column entirely, generation 2
    * carries `props` plus a new `ingest_rev` producer tag. Plain
    * subdirectories (no `name=value`, so nothing is inferred as a
    * partition column); the read side must union the schemas, not pick
    * one footer. Written once, content-keyed. */
  def ensureEventsSchemaEvolution(spark: SparkSession, dir: String,
      splitUs: Long): String =
    ensureStore(spark, dir, "events_schemaevo", "gen2/_SUCCESS",
      "events") { path =>
      val ev = Tables.events(spark, dir)
      ev.filter(unix_micros(col("ts")) < splitUs)
        .drop("props")
        .write.mode("overwrite").parquet(s"$path/gen1")
      ev.filter(unix_micros(col("ts")) >= splitUs)
        .withColumn("ingest_rev", lit(2))
        .write.mode("overwrite").parquet(s"$path/gen2")
    }

  /** 32-bit Morton (Z-order) code interleaving two 16-bit dimensions —
    * a static expression tree of shifts and masks, fully codegen'd.
    * Inputs must already be scaled to [0, 65535] ([[scale16]]). */
  def zValue(a: Column, b: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Min-max scale a numeric column to the 16-bit Z-order domain. */
  def scale16(c: Column, lo: Column, hi: Column): Column =
    when(hi === lo, lit(0)).otherwise(
      ((c - lo).cast("double") / (hi - lo) * 65535.0).cast("int"))

  /** Z-ordered write of events on (user_id, time): sort by the Morton code
    * of the two scaled dimensions, range-partitioned into `nFiles` so each
    * file covers a contiguous Z-range = a small rectangle of
    * (user, time) space. Parquet row-group min/max stats then skip most
    * files for ANY conjunction of user-range and time-range predicates —
    * multi-dimensional data skipping that single-column sorting cannot
    * give. The dimension bounds come from one tiny aggregate broadcast
    * back, never a driver collect. This is the layout move for the 100 TB
    * store when queries filter on two independent columns. */
  def writeEventsZOrdered(events: DataFrame, path: String,
      nFiles: Int = 8): Unit = {
    val withUs = events.withColumn("us", unix_micros(col("ts")))
    val bounds = withUs.agg(
      min(col("user_id")).as("ulo"), max(col("user_id")).as("uhi"),
      min(col("us")).as("tlo"), max(col("us")).as("thi"))
    withUs.crossJoin(broadcast(bounds))
      .withColumn("zv", zValue(
        scale16(col("user_id"), col("ulo"), col("uhi")),
        scale16(col("us"), col("tlo"), col("thi"))))
      .drop("ulo", "uhi", "tlo", "thi", "us")
      .repartitionByRange(nFiles, col("zv"))
      .sortWithinPartitions(col("zv"))
      .drop("zv")
      .write.mode("overwrite").parquet(path)
  }

  /** Lazily materialize the Z-ordered events copy for `dir` (content-keyed
    * via [[Fingerprint]], same offline-layout-job discipline as
    * [[ensureEventsByDay]]); returns its path. */
  def ensureEventsZOrdered(spark: SparkSession, dir: String): String =
    ensureStore(spark, dir, "events_zorder", "_SUCCESS", "events")(
      writeEventsZOrdered(Tables.events(spark, dir), _))

  /** Small-file compaction: rewrite a parquet directory into files of
    * ~`targetFileMB` each, preserving content exactly.
    *
    * The operational half of every streaming/partitioned ingest: each
    * micro-batch (or each of 1000 writer tasks) leaves its own files, and
    * after a week the store is a million 1 MB files — listing dominates
    * planning, every scan task reads one tiny file, and the NameNode/
    * object-store metadata budget is the real limit. Compaction is the
    * standard fix (OPTIMIZE in table formats); this is the engine-level
    * form: size the output file count from the ACTUAL on-disk bytes (no
    * driver-side listing of row contents — just the file index Spark
    * already holds), coalesce — NOT repartition: no shuffle, adjacent
    * input files concatenate into output tasks — and atomically swap via
    * [[swapDir]], the streaming stores' checked two-rename protocol.
    * Sorted layouts stay sorted per file because coalesce preserves
    * intra-partition order and concatenation only widens file boundaries.
    *
    * Returns (files_before, files_after). */
  def compact(spark: SparkSession, path: String,
      targetFileMB: Int = 128): (Int, Int) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (tmp, bak) = (path + ".compact_tmp", path + ".compact_bak")
    // a prior run that died between the swap's two renames left the
    // previous store only in bak — restore it before reading
    recoverDir(fs, path, bak)
    // a Hive-partitioned layout (name=value subdirectories) must be
    // compacted PER PARTITION directory: reading the root would re-infer
    // the partition columns as data (type-rewriting them) and the flat
    // rewrite would destroy pruning. Refuse loudly instead of silently
    // flattening.
    require(!fs.listStatus(p).exists(s =>
        s.isDirectory && s.getPath.getName.contains("=")),
      s"$path is Hive-partitioned; compact each partition directory " +
        s"instead (e.g. compact(spark, \"$path/day=2026-01-01\"))")
    val before = Tables.dataFiles(spark, path).toSeq
    val totalBytes = before.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(
      totalBytes.toDouble / (targetFileMB.toLong << 20)).toInt)
    // Spark's inference, not Tables.parquet: the input is any parquet
    // directory, possibly appended to by writers with different schemas
    spark.read.parquet(path).coalesce(nOut)
      .write.mode("overwrite").parquet(tmp)
    val after = Tables.dataFiles(spark, tmp).size
    swapDir(fs, path, tmp, bak)
    (before.size, after)
  }

  /** The two-rename crash-safe swap shared by [[compact]] and the
    * streaming stores' partition rewrite: `tmp` (fully written) replaces
    * `dir`, with the previous `dir` parked in `bak` for exactly the
    * window between the two renames — so at every instant the previous
    * data exists in exactly one of {dir, bak} and [[recoverDir]] can
    * always restore it. Every rename result is CHECKED (a false return —
    * cross-filesystem tmp, permissions — must fail the caller, not
    * silently drop data). */
  private[graft] def swapDir(fs: FileSystem,
      dir: String, tmp: String, bak: String): Unit = {
    def mv(from: String, to: String): Unit =
      require(fs.rename(new Path(from), new Path(to)),
        s"rename $from -> $to failed")
    fs.delete(new Path(bak), true)
    fs.mkdirs(new Path(bak).getParent)
    fs.mkdirs(new Path(dir).getParent)
    if (fs.exists(new Path(dir))) mv(dir, bak)
    mv(tmp, dir)
    fs.delete(new Path(bak), true)
  }

  /** Restore `dir` from `bak` when a crash between [[swapDir]]'s two
    * renames left the previous data only there. */
  private[graft] def recoverDir(fs: FileSystem, dir: String,
      bak: String): Unit =
    if (!fs.exists(new Path(dir)) && fs.exists(new Path(bak))) {
      fs.mkdirs(new Path(dir).getParent)
      require(fs.rename(new Path(bak), new Path(dir)),
        s"recovery rename $bak -> $dir failed")
    }
}
