package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Key
import graft.functions.Exact._
import graft.sources.{Bucketed, Layout, Tables}
import graft.operators.OpsHelpers.bloomWords

/** Declared relational completions (SURVEY.md §2.4, §2.6): the join
  * strategies, top-k, set ops and window functions the reference never
  * needed (its single join is a 16-row dict lookup, `app.py:15-29`) but any
  * general engine must have. Each is shaped to its scale-correct physical
  * plan: broadcast-hash for fact⋈dim, sort-merge for fact⋈fact,
  * `TakeOrderedAndProject` for top-k (no global sort), windows partitioned
  * by a key so state stays per-executor.
  */
object RelationalOps {

  // ── Broadcast-hash join: lineitem ⋈ part. `part` is a dimension
  // (200 rows/SF unit vs 6M lineitem): explicit broadcast() → zero shuffle
  // on the fact side, plan must show BroadcastHashJoin. ──
  def joinBhj(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p  = Tables.part(spark, dir)
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("cnt"), sumMoney(col("l_quantity")).as("sum_qty"))
      .orderBy("p_brand")
  }

  // ── Sort-merge join: lineitem ⋈ orders, large-large — both sides shuffle
  // on the join key once; partial aggregation downstream reuses nothing but
  // stays map-side-combined. hint("merge") pins SMJ so the demonstrated
  // plan is the at-scale one even when AQE would pick broadcast at sf0.01. ──
  def joinSmj(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir).hint("merge")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"),
        sumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy("o_orderpriority")
  }

  // ── Bucket-co-located join: the SAME fact⋈fact join as joinSmj with
  // ZERO Exchange anywhere in the plan. Both tables are bucketed 16-way
  // on orderkey at WRITE time (graft.sources.Bucketed), so the join reads
  // co-located buckets, and because the aggregation below groups ON the
  // bucket key, the bucket partitioning satisfies its distribution too
  // (subset rule) — scan → join → agg → top-k without one row crossing
  // the network. The plan guard in PlanShapeSpec pins "no Exchange". ──
  def joinBucketed(spark: SparkSession, dir: String): DataFrame = {
    val (ot, lt) = graft.sources.Bucketed.ensure(spark, dir)
    // hint("merge") pins the bucket-exploiting SMJ: at test SF the
    // optimizer would broadcast the small side (adding a
    // BroadcastExchange), which at 100 TB it cannot — the pinned plan is
    // the at-scale one, and with bucketing it has NO exchange at all
    val o = spark.table(ot).hint("merge")
    val l = spark.table(lt)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderpriority"))
      .agg(sumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)
  }

  // ── Bucket-subset aggregation: groupBy on the bucket key over the
  // bucketed lineitem twin. The bucket partitioning (16-way hash on
  // l_orderkey) SATISFIES the aggregate's required distribution, so the
  // plan is scan → partial+final agg → top-k with NO Exchange — the
  // aggregation twin of joinBucketed's shuffle-free join, completing the
  // bucketing story beyond joins. At 100 TB every orderkey-grained rollup
  // over the bucketed store runs without re-hashing the fact table. ──
  def aggBucketed(spark: SparkSession, dir: String): DataFrame = {
    val (_, lt) = graft.sources.Bucketed.ensure(spark, dir)
    spark.table(lt)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        sumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)
  }

  // ── Partition-pruned scan: one day out of a month-long day-partitioned
  // events store (graft.sources.Layout.writeEventsByDay). The filter on
  // the partition column resolves against the FILE INDEX — the plan's
  // PartitionFilters — so the scan lists and reads exactly one day
  // directory; the other 29 days cost nothing, not even a footer read.
  // At 100 TB (≈3.3 TB/day) this is the difference between scanning 100 TB
  // and 3.3 TB for every time-windowed query — the read-side proof of the
  // layout the write side (Layout.scala) exists for. ──
  def scanPrunedDay(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.Layout.ensureEventsByDay(spark, dir)
    Tables.parquet(spark, path)
      .filter(col("day") === to_date(lit("2024-01-15")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), avgMoney(col("value")).as("avg_value"))
      .orderBy("event_type")
  }

  // ── Z-order pruned scan: the TWO-dimensional companion of
  // scan_pruned_day. The store (Layout.writeEventsZOrdered) is sorted by
  // the Morton interleave of (user_id, time), so each parquet file covers
  // a small rectangle of that plane (pinned by LayoutSpec) and its
  // row-group min/max stats skip the file for ANY conjunction of a
  // user-range and a time-range predicate — data skipping no single-column
  // sort order can give both predicates at once. Both filters are plain
  // pushed-down range predicates; correctness never depends on the layout
  // (the oracle runs the same filter on the unsorted source). ──
  def scanZorder(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.Layout.ensureEventsZOrdered(spark, dir)
    Tables.parquet(spark, path)
      // BOTH predicates compare raw columns (the time bound is a folded
      // timestamp literal, not unix_micros(ts) — a function over the
      // column would block parquet pushdown and with it the min/max
      // skipping this key exists to demonstrate)
      .filter(col("user_id").between(5, 99) &&
        col("ts") >= timestamp_micros(lit(1705276800000000L)) && // 2024-01-15 UTC
        col("ts") <= timestamp_micros(lit(1705708800000000L))) // 2024-01-20 UTC
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), avgMoney(col("value")).as("avg_value"))
      .orderBy("event_type")
  }

  // ── Merge-on-read positional deletes: scan the immutable `data/`
  // files and subtract the delete-vector tombstones (file, pos) — the
  // Delta/Iceberg deletion idiom where a delete appends a tiny
  // tombstone file instead of rewriting data ([[graft.sources.Layout
  // .ensureEventsMor]] builds the store). Row identity is Spark's
  // native `_metadata.file_path`/`row_index` constant metadata columns
  // (no stored position column). The subtraction is a BROADCAST
  // left-anti join: tombstones are deletes-sized, never corpus-sized,
  // so the scan streams map-side with zero shuffle before the final
  // model-sized aggregation. At 100 TB the same plan holds per file
  // group; if tombstones themselves grew huge, the next step is the
  // real systems' roaring-bitmap-per-file compression — the join shape
  // is unchanged. The oracle applies the store's documented delete rule
  // to the raw table; the read path never sees that rule. ──
  def scanDeleteVectors(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.Layout.ensureEventsMor(spark, dir)
    val data = Tables.parquet(spark, s"$path/data")
      .select(col("event_type"), col("value"),
        col("_metadata.file_path").as("file"),
        col("_metadata.row_index").as("pos"))
    val deletes = Tables.parquet(spark, s"$path/deletes")
    data.join(broadcast(deletes), Seq("file", "pos"), "left_anti")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sumMoney(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  // ── Bloom-index data skipping for a point lookup on a HIGH-
  // CARDINALITY key: "all events of user 7" opens only the file(s)
  // whose bloom bitmap contains the user's 4 probe bits — min/max
  // stats can't skip here because a hash-clustered file's user_id
  // range spans the domain ([[graft.sources.Layout
  // .ensureEventsBloomIdx]] builds the store; LayoutSpec pins that
  // fewer files than exist are opened). The candidate-file resolution
  // is DISTRIBUTED (a 4-bit semi-match aggregate over the index
  // relation — at a million files the index is itself a table, never
  // driver state); only the matching file NAMES come back, then the
  // scan reads those files and re-applies the exact predicate (bloom
  // false positives are filtered, never answered). Safety: a key whose
  // bits match nothing falls back to the full store scan — a bloom can
  // produce false positives, never false negatives, so an EMPTY match
  // list only happens for an absent key and the fallback still returns
  // the correct (empty) result. ──
  def scanBloomSkip(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.Layout.ensureEventsBloomIdx(spark, dir)
    val target = 7L
    val bits = graft.sources.Layout.BloomIdxSeeds
      .map(j => graft.sources.Layout.bloomIdxBit(target, j))
    val files = Tables.parquet(spark, s"$path/index")
      .filter(col("bit").isin(bits: _*))
      .groupBy(col("file"))
      .agg(countDistinct(col("bit")).as("hits"))
      .filter(col("hits") === bits.distinct.length)
      .select(col("file")).collect().map(_.getString(0))
    val data = Tables.parquet(spark,
      (if (files.nonEmpty) files.toSeq else Seq(s"$path/data")): _*)
    data.filter(col("user_id") === target)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sumMoney(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  // ── MIN/MAX STATS skip: a narrow RANGE predicate on the clustered
  // column consults the manifest-sized stats table first and opens only
  // files whose [lo,hi] intersects [250,260) — on the 16-file range-
  // clustered store that is 1-2 files, so the scan cost tracks the
  // SELECTED band, not the table (the zone-map complement of
  // scan_bloom_skip's point-predicate bloom; [[graft.sources.Layout
  // .ensureEventsMinMax]] builds the store). The stats collect is
  // one row per file — manifest-sized forever; the predicate re-applies
  // inside the surviving files (stats only bound, they don't filter
  // rows). Empty candidate list falls back to the full store — stats
  // may only SKIP, never invent emptiness. The oracle runs the same
  // band on the raw table: layout can never change the answer. ──
  def scanMinMaxSkip(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.Layout.ensureEventsMinMax(spark, dir)
    val (lo, hi) = (250.0, 260.0)
    val files = Tables.parquet(spark, s"$path/stats")
      .filter(col("lo") < hi && col("hi") >= lo)
      .select(col("file")).collect().map(_.getString(0))
    val data = Tables.parquet(spark,
      (if (files.nonEmpty) files.toSeq else Seq(s"$path/data")): _*)
    data.filter(col("value") >= lo && col("value") < hi)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sumMoney(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  // ── PARTITION EVOLUTION read: the store changed partitioning scheme
  // mid-life (gen1 day-partitioned, gen2 month-partitioned — old files
  // never rewritten, the Iceberg partition-spec-evolution reality) and
  // a time-ranged query must prune EACH generation under its own
  // scheme: gen1 by day-directory string range (exact — the window is
  // midnight-aligned), gen2 by month directory plus a residual ts
  // predicate inside the coarser partitions. Both sides push
  // PartitionFilters; the union then aggregates model-sized state. The
  // oracle runs the same window on the raw table — layout can never
  // change the answer. ──
  def scanPartitionEvolution(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.Layout.ensureEventsPartEvo(spark, dir, TtSplitUs)
    val startUs = 1704844800000000L // 2024-01-10 UTC
    val endUs = 1706400000000000L // 2024-01-28 UTC
    val g1 = Tables.parquet(spark, s"$path/gen1")
      .filter(col("day") >= "2024-01-10" && col("day") < "2024-01-28")
      .select(col("event_type"), col("value"))
    val g2 = Tables.parquet(spark, s"$path/gen2")
      .filter(col("month") >= "2024-01" && col("month") <= "2024-01" &&
        col("ts") >= timestamp_micros(lit(startUs)) &&
        col("ts") < timestamp_micros(lit(endUs)))
      .select(col("event_type"), col("value"))
    g1.unionByName(g2)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sumMoney(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  // ── Corrupt-file-TOLERANT scan: the store contains a torn write
  // (`zz_corrupt.parquet` — PAR1 magic, garbage footer); the read opts
  // into `ignoreCorruptFiles` so one bad member costs its own rows,
  // never the job. A plain read of the same store fails loudly
  // (LayoutSpec pins both behaviors), which is the right DEFAULT —
  // silent skipping must be a per-read decision, not global config.
  // The oracle aggregates the raw table: the junk file carried no rows,
  // so tolerance loses nothing here — the spec is what proves the
  // plain read would have died. ──
  def scanCorruptTolerant(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.Layout.ensureEventsCorrupt(spark, dir)
    spark.read.option("ignoreCorruptFiles", "true").parquet(path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), sumMoney(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  // ── Snapshot time travel: two commits into the manifest-versioned store
  // (sources/Versioned — immutable data files, atomic manifest-pointer
  // commits), then BOTH snapshots read back and aggregated side by side.
  // Reading v1 AFTER v2 was committed is the isolation proof: a snapshot
  // reader sees exactly its manifest's file set, never a directory
  // listing, so later appends are invisible by construction. The oracle
  // rebuilds both snapshots from the source with the same time split. ──
  private[graft] val TtSplitUs = 1705363200000000L // 2024-01-16 UTC

  /** Lazily commit the two-snapshot versioned events store (v1 = before
    * the split, v2 appends the rest); shared by the time-travel, diff,
    * and IVM keys. Complete once v2's manifest exists; a crash before
    * that leaves a partial commit history, so the write clears the root
    * and commits both snapshots afresh. Returns the store root. */
  private def ensureVersionedEvents(spark: SparkSession,
      dir: String): String =
    graft.sources.Layout.ensureStore(spark, dir, "events_versioned",
        "manifest-v2.json", "events") { root =>
      val p = new org.apache.hadoop.fs.Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      val ev = Tables.events(spark, dir)
      graft.sources.Versioned.append(spark, root,
        ev.filter(unix_micros(col("ts")) < TtSplitUs))
      graft.sources.Versioned.append(spark, root,
        ev.filter(unix_micros(col("ts")) >= TtSplitUs))
    }

  def scanTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureVersionedEvents(spark, dir)
    def agg(v: Int) = graft.sources.Versioned.readVersion(spark, root, v)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), avgMoney(col("value")).as("avg_value"))
      .withColumn("version", lit(v.toLong))
    agg(1).union(agg(2)).select(col("version"), col("event_type"),
      col("cnt"), col("avg_value")).orderBy("version", "event_type")
  }

  // ── JSONL source surface: the interchange format text/event corpora
  // actually ship in, read the only way that works at corpus scale —
  // EXPLICIT schema (inference is a second full pass and a corruption
  // vector), timestamps as integer epochs (JSON has no timestamp type).
  // The derived store is written once, content-keyed
  // ([[graft.sources.Layout.ensureEventsJsonl]]); the oracle runs the
  // same aggregate on the parquet original, so a pass proves the
  // format round-trip is lossless. ──
  def scanJsonl(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.Layout.ensureEventsJsonl(spark, dir)
    typeSummary(graft.sources.Layout.readEventsJsonl(spark, path))
  }

  // ── ORC source surface: Spark's second built-in columnar format
  // (the Hive/Trino interchange), proven lossless the scan_jsonl way —
  // the derived store is written once (content-keyed), read back
  // through the native ORC reader, and the oracle runs the identical
  // aggregate on the parquet original, so a pass IS the round-trip
  // proof. ORC brings its own footer schema, predicate pushdown and
  // stripe statistics, so the engine's scan discipline (pushed
  // filters, pruned columns) carries over unchanged. ──
  def scanOrc(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.Layout.ensureEventsOrc(spark, dir)
    typeSummary(spark.read.orc(path))
  }

  /** The round-trip check of the format keys: per event_type the count,
    * the exact average value and the latest µs timestamp of `events`. */
  private def typeSummary(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), avgMoney(col("value")).as("avg_value"),
        max(col("ts")).as("max_ts_us"))
      .orderBy("event_type")

  // ── CSV source surface with a QUARANTINE path: the lowest-common-
  // denominator feed format, read with an explicit schema in PERMISSIVE
  // mode so the fixture's deliberately poisoned lines
  // ([[graft.sources.Layout.CsvBadLines]]) null out their unparseable
  // fields and carry the raw text in `_corrupt_record` instead of
  // failing the job — at 100 TB a feed WILL contain malformed lines and
  // FAILFAST is an outage, silent drop is data loss; count-and-continue
  // is the production posture. One scan: corrupt lines land in the
  // null-event_type group (their event_type field is empty by
  // construction, and real events never have one), so the per-type
  // aggregate and the quarantine tally come out of the same pass; the
  // tiny grouped frame then re-aggregates for the total. The oracle runs
  // the aggregate on the parquet original and pins the quarantine count
  // to the fixture's 3 — proving both the lossless round-trip of good
  // rows AND that every poisoned line was caught and excluded. ──
  // CSV-parser pruning trap (verified empirically, Spark 4.1): corruption
  // is only detected for COLUMNS THE PLAN REQUIRES — a branch that needs
  // just (event_type, _corrupt_record) parses nothing else, so poisoned
  // numeric fields (and even wrong token counts) no longer corrupt the
  // row there. Two references to this scan with different pruning would
  // therefore DISAGREE on the quarantine count. Everything below hangs
  // off ONE plan whose required schema includes `value`, and the total
  // crosses rows via a global window over the already-aggregated 6-row
  // frame (a single-partition window over group-sized data, not a second
  // scan).
  def scanCsv(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.Layout.ensureEventsCsv(spark, dir)
    val good = col("_corrupt_record").isNull
    graft.sources.Layout.readEventsCsv(spark, path)
      .groupBy(col("event_type"))
      // corrupt rows are excluded from cnt/avg EXPLICITLY (a corrupt
      // line whose event_type token happens to parse keeps that field
      // in PERMISSIVE mode, so it can land in a real group — quarantine
      // must not depend on every field of a bad line failing) and
      // counted wherever they fall; the global window then totals them
      // across groups
      .agg(count(when(good, lit(1))).as("cnt"),
        avgMoney(when(good, col("value"))).as("avg_value"),
        count(col("_corrupt_record")).as("n_bad"))
      .withColumn("n_quarantined",
        sum(col("n_bad")).over(Window.partitionBy(lit(1))))
      .filter(col("event_type").isNotNull && col("cnt") > 0)
      .select(col("event_type"), col("cnt"), col("avg_value"),
        col("n_quarantined"))
      .orderBy("event_type")
  }

  // ── schema-evolution read: one scan over a store whose generations
  // DISAGREE on the column set (gen1 predates `props`, gen2 adds an
  // `ingest_rev` producer tag — graft.sources.Layout
  // .ensureEventsSchemaEvolution). `mergeSchema=true` unions the parquet
  // footers instead of trusting the first one sampled, so columns absent
  // in a generation read as null rather than vanishing (or failing) for
  // every consumer — the only read posture that survives a decade of
  // producers on a 100 TB store. The footer merge is planning-time
  // metadata work; the scan itself stays one pushdown-capable pass. The
  // aggregate observes the evolution directly (per-generation column
  // presence counts); the oracle rebuilds it from the source with the
  // same time split. ──
  def scanSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.Layout
      .ensureEventsSchemaEvolution(spark, dir, TtSplitUs)
    spark.read.option("mergeSchema", "true")
      // generations live in plain subdirectories; without recursive
      // lookup the root listing finds no files at all
      .option("recursiveFileLookup", "true").parquet(path)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        count(col("props")).as("props_seen"),
        count(col("ingest_rev")).as("rev2_rows"))
      .orderBy("event_type")
  }

  // ── incremental (snapshot-diff) read of the versioned store: the
  // catch-up query of a consumer that processed snapshot 1 and wants
  // what snapshot 2 ADDED — [[graft.sources.Versioned.readDiff]] resolves
  // both manifests and scans ONLY the increment's files (append-only
  // store ⇒ the diff is exactly the new-file set; the carried 100 TB is
  // never touched). Same store-ensure as [[scanTimeTravel]]; the oracle
  // is the second commit's defining predicate. ──
  def scanSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureVersionedEvents(spark, dir)
    graft.sources.Versioned.readDiff(spark, root, 1, 2)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), avgMoney(col("value")).as("avg_value"))
      .orderBy("event_type")
  }

  // ── incremental view maintenance: the cure for the reference's central
  // inefficiency — app.py re-reads the ENTIRE store and recomputes its
  // aggregate cards on every 5-minute refresh (app.py:32-36,101). Here
  // the per-type aggregate is PERSISTED once against snapshot v1 as
  // mergeable partials (count + DECIMAL sum — decimal addition is
  // associative, so partials merge exactly), and the refresh touches
  // ONLY the stored aggregate (|types| rows) plus the snapshot DIFF
  // (Versioned.readDiff resolves manifests and scans just the appended
  // files). At 100 TB with a 3 TB/day append, the refresh reads 3 TB +
  // a few bytes instead of 100 TB — and yields the bit-identical answer
  // a full recompute would, which is exactly what the oracle checks
  // (its SQL aggregates the whole source from scratch). cnt_new reports
  // the increment's contribution per group. ──
  def ivmRefresh(spark: SparkSession, dir: String): DataFrame = {
    val root = ensureVersionedEvents(spark, dir)
    // cnt_val (non-null values) is its own partial: the merged average
    // must divide by count(value), exactly as avgMoney and the oracle do
    def partials(df: DataFrame) = df.groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), count(col("value")).as("cnt_val"),
        sum(money(col("value"))).as("sum_val"))
    val aggPath = graft.sources.Layout.ensureStore(spark, dir,
        "events_ivm_v1", "_SUCCESS", "events")(
      partials(graft.sources.Versioned.readVersion(spark, root, 1))
        .write.mode("overwrite").parquet(_))
    val stored = Tables.parquet(spark, aggPath)
      .withColumn("cnt_new", lit(0L))
    val delta = partials(graft.sources.Versioned.readDiff(spark, root, 1, 2))
      .withColumn("cnt_new", col("cnt"))
    stored.unionByName(delta)
      .groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("cnt"),
        (sum(col("sum_val")).cast("double") / sum(col("cnt_val")))
          .as("avg_value"),
        sum(col("cnt_new")).as("cnt_new"))
      .orderBy("event_type")
  }

  // ── Dynamic partition pruning: the RUNTIME companion of
  // scan_pruned_day. There the pruned day is a literal the planner sees;
  // here the day set comes from a FILTERED DIMENSION (a calendar keyed
  // on a portable day-of-month residue), so which partitions survive is
  // only known once the dim is evaluated — Spark broadcasts the dim for
  // the join, REUSES that broadcast as a dynamicpruningexpression inside
  // the fact scan's PartitionFilters (pinned by PlanShapeSpec), and the
  // fact store reads only the matching day directories. THE mechanism
  // that makes fact⋈dim over a 100 TB date-partitioned store read
  // selected days without the query author naming them. ──
  def scanPrunedDpp(spark: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.Layout.ensureEventsByDay(spark, dir)
    val fact = Tables.parquet(spark, path)
    // the calendar dim: at scale a real table; derived here from the
    // source events (NOT the partitioned store, so the dim subquery is
    // independent of the scan it prunes)
    val dim = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day")).distinct()
      .filter(dayofmonth(col("day")) % 7 === 3)
    fact.join(broadcast(dim), "day")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), avgMoney(col("value")).as("avg_value"))
      .orderBy("event_type")
  }

  // ── Left-semi (EXISTS): orders having at least one near-max-quantity
  // item. Semi joins shuffle only the keys of the probe side — never
  // materialize the match payload. ──
  def joinSemi(spark: SparkSession, dir: String): DataFrame = {
    val o  = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir).filter(col("l_quantity") >= 49)
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  // ── Left-anti (NOT EXISTS): orders with no such item. ──
  def joinAnti(spark: SparkSession, dir: String): DataFrame = {
    val o  = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir).filter(col("l_quantity") >= 49)
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left_anti")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  // ── Top-k: orderBy+limit compiles to TakeOrderedAndProject — per-partition
  // heaps + driver merge of k rows, NOT a global sort (SURVEY §2.6). ──
  def topkLimit(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .limit(10)

  // ── Time-RANGE window frame: per-user trailing-1-hour average — the
  // event-time twin of windowMovingAvg's ROWS frame. RANGE frames bound
  // by a TIME interval are what monitoring/feature pipelines actually
  // want ("average over the last hour", not "last 4 events"); the frame
  // is expressed on epoch-µs so the Window's rangeBetween stays numeric
  // and codegen'd. Partitioned by user_id — state per task is one
  // user's in-frame rows, never the stream. ──
  def windowTimeRangeAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-3600L * 1000000L, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("value"),
        unix_micros(col("ts")).as("us"))
      .withColumn("range_avg",
        sum(money(col("value"))).over(w).cast("double") /
          count(col("value")).over(w))
      .select(col("event_id"), col("user_id"), col("range_avg"))
      .orderBy("event_id")
  }

  // ── UNION ALL of two event slices (SURVEY §2.6: streaming append is
  // concatenation; relational form is unionByName — no shuffle at all). ──
  def setUnion(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    e.filter(col("event_type") === "signup")
      .unionByName(e.filter(col("event_type") === "error"))
      .orderBy("event_id")
  }

  // ── Moving average over the per-user event sequence (the weather
  // dashboard's natural smoothing extension, SURVEY §2.6). Frame order is
  // event_id (ingest order): ordering by the raw ns timestamp would be
  // nondeterministic across engines because Spark reads events.ts truncated
  // to µs. Partition by user_id → window state is per-key, shuffle-bounded. ──
  def windowMovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      .rowsBetween(-3, 0)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        round(avg(col("value")).over(w), 6).as("mavg"))
      .orderBy("event_id")
  }

  // ── row_number top-k per group (rank variant of A3's "most frequent"). ──
  def windowRankTopk(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(desc("value"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_type"), col("event_id"), col("value"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 5)
      .orderBy(col("event_type"), col("rn"))
  }

  // ── the same top-5-per-group as windowRankTopk, through the custom
  // TopKPerKey operator (graft.plans): partial bounded heaps BEFORE the
  // shuffle, so only ≤ k·partitions rows per key move — vs the window
  // form's full shuffle + full sort. Same rows out (oracled identically,
  // minus the rank column). ──
  def topkPerKeyNative(spark: SparkSession, dir: String): DataFrame =
    graft.plans.TopK.perKey(
        Tables.events(spark, dir)
          .select(col("event_type"), col("event_id"), col("value")),
        keyCols = Seq(col("event_type")),
        orderCols = Seq(desc("value"), col("event_id")),
        k = 5)
      .orderBy(col("event_type"), desc("value"), col("event_id"))

  /** Bloom sizing for [[joinBloomPrefilter]]: 2²⁰ bits / 4 probes — the
    * same 128 KB scalar-broadcast bitmap as decontaminate_bloom. At the
    * ~550 keys/SF-unit this dim filter passes, the false-positive rate is
    * ≪1%, and FPs are removed by the exact join, so the bitmap only sizes
    * the shuffled fact stream — it can never change the answer. */
  private val JoinBloomBits = 1L << 20
  private val JoinBloomSeeds = 0 until 4

  // ── runtime-filtered shuffle join: a selective dim-side predicate
  // (1995-Q1 orders, ~3.7% of keys) is turned into a 128 KB Bloom bitmap
  // and applied AT THE FACT SCAN, so ~96% of lineitem never enters the
  // shuffle — the "runtime filter" / sideways-information-passing pattern
  // (Spark's own bloomFilterJoin, Trino's dynamic filtering) built from
  // first principles with codegen'd expressions: seeded xxhash64 probes,
  // bit_or word aggregation, scalar-broadcast application. The exact join
  // then removes Bloom false positives, so the result is IDENTICAL to the
  // plain join (the oracle is the plain SQL join — machine-checked
  // equivalence). At 100 TB this is the difference between shuffling the
  // full fact table and shuffling 4% of it. ──
  /** The 1995-Q1 order dim side of [[joinBloomPrefilter]]. */
  private def bloomJoinDim(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01") &&
        col("o_orderdate") < lit("1995-04-01"))
      .select(col("o_orderkey"), col("o_orderpriority"))

  /** The Bloom-prefiltered fact stream of [[joinBloomPrefilter]]:
    * lineitem rows whose order key MIGHT be in the filtered dim (superset
    * of true matches — no false negatives by construction). Exposed so
    * the spec can pin the superset + pruning properties directly. */
  private[graft] def bloomPrefilteredFact(
      spark: SparkSession, dir: String): DataFrame = {
    val dim = bloomJoinDim(spark, dir)
    val positions = JoinBloomSeeds.map(s =>
      expr(s"pmod(xxhash64(o_orderkey, $s), ${JoinBloomBits}L)"))
    // the set-words relation (word index → or'd bit mask): ≤ #keys·k rows,
    // broadcast as a HASH relation — not as a 128 KB map-typed scalar.
    // (The scalar-broadcast form decontaminate_bloom uses was measured 10×
    // slower HERE: a fact-wide crossJoin carries the whole map through
    // every row and element_at on a map is a linear scan; a broadcast hash
    // join probes O(1) per row and adds 8 bytes, staying codegen'd.)
    val words = bloomWords(dim, positions)

    // one left broadcast-hash probe per seed; a missing word ⇒ bits NULL ⇒
    // coalesce 0 ⇒ the row can't pass that seed's bit test (exactly the
    // unset-bit semantics — false negatives remain impossible)
    val probed = JoinBloomSeeds.foldLeft(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))) {
      (df, s) =>
        df.withColumn(s"p$s",
            expr(s"pmod(xxhash64(l_orderkey, $s), ${JoinBloomBits}L)"))
          .withColumn(s"w$s", expr(s"CAST(p$s div 64 AS INT)"))
          .withColumn(s"m$s",
            expr(s"shiftleft(CAST(1 AS BIGINT), CAST(p$s % 64 AS INT))"))
          .join(broadcast(words.select(col("word").as(s"w$s"), col("bits").as(s"b$s"))),
            Seq(s"w$s"), "left")
    }
    val mightContain = JoinBloomSeeds.map { s =>
      (coalesce(col(s"b$s"), lit(0L)).bitwiseAND(col(s"m$s")) =!= 0)
    }.reduce(_ && _)
    probed.filter(mightContain)                   // Bloom prefilter at scan
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
  }

  def joinBloomPrefilter(spark: SparkSession, dir: String): DataFrame = {
    val dim = bloomJoinDim(spark, dir)
    bloomPrefilteredFact(spark, dir)
      .join(dim.hint("merge"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy("o_orderpriority")
  }

  // ── hopping-window aggregation in batch: 15-minute windows sliding
  // every 5 minutes (duration = 3×slide, so each event lands in EXACTLY
  // three overlapping windows), via the built-in `window(ts, dur, slide)`
  // generator — the batch twin of a Structured Streaming hopping window
  // (same generator, same alignment), so a backfill job and the live
  // stream produce byte-identical frames (pinned: IngestPipelineSpec
  // "file-stream hopping window equals the batch window_hopping key"). Scale shape: the generator is a
  // bounded ×3 row expansion fused into the scan (a projection, not a
  // join), then ONE keyed aggregation with map-side partials; window
  // starts are epoch-aligned multiples of the slide, which the oracle
  // replays arithmetically (the 3 covering starts of t are
  // ⌊t/S⌋·S − j·S, j ∈ {0,1,2}). Decimal-exact sums; one rounded double
  // out. ──
  def windowHopping(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"),
        window(col("ts"), "15 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"), sum(money(col("value"))).as("sv"))
      .select(col("event_type"),
        unix_micros(col("w.start")).as("win_start_us"), col("n"),
        (round(col("sv").cast("double") / col("n"), 6) + lit(0.0d))
          .as("avg_value"))
      .orderBy("event_type", "win_start_us")

  // Preps shared by two keys are one value each, so Bench runs them once.
  // Running the time-travel query commits both snapshots of the versioned
  // store that it and scan_snapshot_diff read.
  private val eventsByDay: (SparkSession, String) => Unit =
    Layout.ensureEventsByDay(_, _)
  private val versionedEvents: (SparkSession, String) => Unit =
    scanTimeTravel(_, _).count()

  /** Oracle twin of [[typeSummary]] over the parquet original. */
  private val duckTypeSummary: String =
    """SELECT event_type, count(*) AS cnt,
      |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) / count("value")
      |    AS avg_value,
      |  max(epoch_us(CAST(ts AS TIMESTAMP))) AS max_ts_us
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val keys: Seq[Key] = Seq(
    // the store's documented tombstone rule applied to the raw table —
    // the Spark side reads only (file, pos) tombstones, never this rule
    Key("scan_partition_evolution", scanPartitionEvolution,
      prep = Some(Layout.ensureEventsPartEvo(_, _, TtSplitUs)), oracle = Some(
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE epoch_us(CAST(ts AS TIMESTAMP)) >= 1704844800000000
        |  AND epoch_us(CAST(ts AS TIMESTAMP)) < 1706400000000000
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Key("scan_corrupt_tolerant", scanCorruptTolerant,
      prep = Some(Layout.ensureEventsCorrupt(_, _)), oracle = Some(
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Key("scan_bloom_skip", scanBloomSkip,
      prep = Some(Layout.ensureEventsBloomIdx(_, _)), oracle = Some(
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE user_id = 7
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Key("scan_minmax_skip", scanMinMaxSkip,
      prep = Some(Layout.ensureEventsMinMax(_, _)), oracle = Some(
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE "value" >= 250.0 AND "value" < 260.0
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Key("scan_delete_vectors", scanDeleteVectors,
      prep = Some(Layout.ensureEventsMor(_, _)), oracle = Some(
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_id % 13 <> 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Key("window_hopping", windowHopping, Some(
      """WITH e AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    CAST("value" AS DECIMAL(18,2)) AS v
        |  FROM events),
        |x AS (
        |  SELECT event_type,
        |    (us // 300000000) * 300000000 - j.j * 300000000 AS win_start_us,
        |    v
        |  FROM e CROSS JOIN (SELECT unnest([0, 1, 2]) AS j) j)
        |SELECT event_type, win_start_us, count(*) AS n,
        |  round(CAST(sum(v) AS DOUBLE) / count(*), 6) + 0.0 AS avg_value
        |FROM x GROUP BY 1, 2 ORDER BY event_type, win_start_us""".stripMargin)),
    // the Bloom form is exact by construction (no false negatives, FPs
    // removed by the join) — its oracle is the PLAIN join, so the pass is
    // a machine-checked equivalence proof of the prefilter
    Key("join_bloom_prefilter", joinBloomPrefilter, Some(
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1995-04-01'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    Key("topk_per_key_native", topkPerKeyNative, Some(
      """SELECT event_type, event_id, "value" FROM (
        |  SELECT event_type, event_id, "value",
        |    row_number() OVER (PARTITION BY event_type ORDER BY "value" DESC, event_id) AS rn
        |  FROM events) t
        |WHERE rn <= 5 ORDER BY event_type, "value" DESC, event_id""".stripMargin)),
    Key("join_bhj", joinBhj, Some(
      """SELECT p_brand, count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),
    Key("join_bucketed", joinBucketed,
      prep = Some(Bucketed.prep), oracle = Some(
      """SELECT l_orderkey, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_orderkey, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),
    Key("agg_bucketed", aggBucketed,
      prep = Some(Bucketed.prep), oracle = Some(
      """SELECT l_orderkey, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),
    Key("scan_pruned_day", scanPrunedDay,
      prep = Some(eventsByDay), oracle = Some(
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) / count("value") AS avg_value
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Key("scan_zorder", scanZorder,
      prep = Some(Layout.ensureEventsZOrdered(_, _)), oracle = Some(
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) / count("value") AS avg_value
        |FROM events
        |WHERE user_id BETWEEN 5 AND 99
        |  AND epoch_us(CAST(ts AS TIMESTAMP))
        |      BETWEEN 1705276800000000 AND 1705708800000000
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Key("scan_orc", scanOrc,
      prep = Some(Layout.ensureEventsOrc(_, _)), oracle = Some(duckTypeSummary)),
    Key("scan_jsonl", scanJsonl,
      prep = Some(Layout.ensureEventsJsonl(_, _)), oracle = Some(duckTypeSummary)),
    // n_quarantined pins the CSV fixture's 3 poisoned lines
    // (graft.sources.Layout.CsvBadLines): the engine must catch and
    // exclude every one of them, and good rows must round-trip losslessly
    Key("scan_csv", scanCsv,
      prep = Some(Layout.ensureEventsCsv(_, _)), oracle = Some(
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) / count("value")
        |    AS avg_value,
        |  CAST(3 AS BIGINT) AS n_quarantined
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // full from-scratch recompute over the whole source — a PASS proves
    // the incremental merge (stored v1 partials + diff partials) equals
    // the total aggregate bit-for-bit; cnt_new = the v2 increment. The
    // prep persists the v1 partials (the offline maintenance job), so the
    // key times the refresh, not the initial build
    Key("ivm_refresh", ivmRefresh,
      prep = Some(ivmRefresh(_, _).count()), oracle = Some(
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) / count("value")
        |    AS avg_value,
        |  count(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >=
        |    1705363200000000 THEN 1 END) AS cnt_new
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // same 2024-01-16 UTC split as the store fixture: gen1 rows predate
    // `props`, gen2 rows carry props + the ingest_rev tag
    Key("scan_schema_evolution", scanSchemaEvolution,
      prep = Some(Layout.ensureEventsSchemaEvolution(_, _, TtSplitUs)), oracle = Some(
      """SELECT event_type, count(*) AS cnt,
        |  count(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >=
        |    1705363200000000 THEN props END) AS props_seen,
        |  count(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >=
        |    1705363200000000 THEN 1 END) AS rev2_rows
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Key("scan_snapshot_diff", scanSnapshotDiff,
      prep = Some(versionedEvents), oracle = Some(
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) / count("value")
        |    AS avg_value
        |FROM events
        |WHERE epoch_us(CAST(ts AS TIMESTAMP)) >= 1705363200000000
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Key("scan_time_travel", scanTimeTravel,
      prep = Some(versionedEvents), oracle = Some(
      """WITH ev AS (SELECT event_type, "value",
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS version, event_type, count(*) AS cnt,
        |    CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) / count("value") AS avg_value
        |  FROM ev WHERE us < 1705363200000000 GROUP BY event_type
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), event_type, count(*),
        |    CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) / count("value")
        |  FROM ev GROUP BY event_type)
        |ORDER BY version, event_type""".stripMargin)),
    Key("scan_pruned_dpp", scanPrunedDpp,
      prep = Some(eventsByDay), oracle = Some(
      """SELECT event_type, count(*) AS cnt,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) / count("value") AS avg_value
        |FROM events WHERE day(CAST(ts AS DATE)) % 7 = 3
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Key("join_smj", joinSmj, Some(
      """SELECT o_orderpriority, count(*) AS cnt,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    Key("join_semi", joinSemi, Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |ORDER BY o_orderkey""".stripMargin)),
    Key("join_anti", joinAnti, Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |ORDER BY o_orderkey""".stripMargin)),
    Key("topk_limit", topkLimit, Some(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),
    Key("set_union", setUnion, Some(
      """SELECT event_id, event_type, "value" FROM events WHERE event_type = 'signup'
        |UNION ALL
        |SELECT event_id, event_type, "value" FROM events WHERE event_type = 'error'
        |ORDER BY event_id""".stripMargin)),
    Key("window_moving_avg", windowMovingAvg, Some(
      """SELECT event_id, user_id,
        |  round(avg("value") OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS mavg
        |FROM events ORDER BY event_id""".stripMargin)),
    Key("window_time_range_avg", windowTimeRangeAvg, Some(
      """SELECT event_id, user_id,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    / count("value") OVER w AS range_avg
        |FROM (SELECT event_id, user_id, "value",
        |        epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events) t
        |WINDOW w AS (PARTITION BY user_id ORDER BY us
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)),
    Key("window_rank_topk", windowRankTopk, Some(
      """SELECT event_type, event_id, "value", rn FROM (
        |  SELECT event_type, event_id, "value",
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY "value" DESC, event_id) AS INTEGER) AS rn
        |  FROM events) t
        |WHERE rn <= 5 ORDER BY event_type, rn""".stripMargin)),
  )
}
