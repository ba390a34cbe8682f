package graft

import org.apache.spark.sql.functions._
import graft.sources.{Layout, Tables}

/** Partition-layout round trip: day-partitioned writes, partition-pruned
  * reads, content fidelity. */
class LayoutSpec extends SparkSuite {
  import spark.implicits._

  test("day-partitioned write prunes partitions on day-filtered reads") {
    val dir = tempDir("graft_layout").toString
    val events = Tables.events(spark, sf0001)
    Layout.writeEventsByDay(events, dir)

    val back = spark.read.parquet(dir)
    // content fidelity (modulo the derived partition column)
    assert(back.count() === events.count())

    val oneDay = back.filter(col("day") === "2024-01-05")
    // pruning is visible in the physical plan as a PartitionFilters entry
    // and, decisively, in the number of files actually read
    val plan = oneDay.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(2000))
    assert(oneDay.count() ===
      events.filter(to_date(col("ts")) === "2024-01-05").count())
    // a pruned scan must touch far fewer partitions than exist
    val days = events.select(to_date(col("ts")).as("d")).distinct().count()
    assert(days > 10) // the corpus spans ~30 days — pruning is meaningful
  }

  test("day-partitioned write leaves exactly one parquet file per day") {
    val dir = tempDir("graft_layout_files").toString
    Layout.writeEventsByDay(Tables.events(spark, sf0001), dir)
    val dayDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("day=")).toSeq
    assert(dayDirs.size > 10)
    dayDirs.foreach { d =>
      val parts = d.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
      assert(parts.length === 1, s"${d.getName}: ${parts.mkString(", ")}")
    }
  }

  test("bucketed tables join with ZERO exchanges (co-located join)") {
    // the 100 TB join answer: bucket both facts on the join key at write
    // time and the shuffle disappears from every subsequent join
    val li = Tables.lineitem(spark, sf0001)
    val o = Tables.orders(spark, sf0001)
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bucketed")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("o_bucketed")
    withBroadcastDisabled {
      val j = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan.take(2000))
      assert(j.count() ===
        li.join(o, li("l_orderkey") === o("o_orderkey")).count())
    }
  }

  private def withBroadcastDisabled[A](body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  test("z-ordered files each cover a small rectangle of (user, time) space") {
    val dir = tempDir("graft_zorder").toString
    val events = Tables.events(spark, sf0001)
    Layout.writeEventsZOrdered(events, dir, nFiles = 8)
    val back = spark.read.parquet(dir)
    assert(back.count() === events.count())

    // per-file bounding boxes: with Z-ordering each file's (user × time)
    // rectangle must be a small fraction of the global domain — that is
    // exactly what parquet min/max stats use to skip files
    val spans = back
      .withColumn("f", input_file_name())
      .withColumn("us", unix_micros(col("ts")))
      .groupBy("f")
      .agg((max("user_id") - min("user_id")).as("du"),
        (max("us") - min("us")).as("dt"))
      .collect()
    val gu = events.agg(max("user_id") - min("user_id")).head.getLong(0).toDouble
    val gt = events.select(unix_micros(col("ts")).as("us"))
      .agg(max("us") - min("us")).head.getLong(0).toDouble
    val areaFractions = spans.map(r =>
      (r.getLong(1) / gu) * (r.getLong(2) / gt))
    assert(spans.length === 8)
    // random placement would put every file near fraction 1.0; the Z-curve
    // keeps the mean rectangle well below half the domain
    assert(areaFractions.sum / areaFractions.length < 0.4,
      areaFractions.mkString(", "))
  }

  test("dynamic partition pruning fires on a dim-filtered partition join") {
    val dir = tempDir("graft_dpp").toString
    Layout.writeEventsByDay(Tables.events(spark, sf0001), dir)
    val fact = spark.read.parquet(dir)
    // dim carrying a non-partition attribute, filtered at query time: the
    // fact side must receive a runtime (dynamicpruning) partition filter,
    // scanning only the dim-selected days
    val allDays = fact.select(col("day")).distinct()
      .withColumn("tag", when(dayofmonth(col("day")) <= 3, "keep")
        .otherwise("drop"))
    val dim = allDays.cache()
    dim.count()
    val j = fact.join(dim.filter(col("tag") === "keep"), Seq("day"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan.take(3000))
    assert(j.count() ===
      fact.filter(dayofmonth(col("day")) <= 3).count())
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    // Spark 3.3+ injects a bloom filter from a selective dim filter into
    // the fact scan at runtime — the shuffle-side cousin of DPP, and the
    // at-scale answer when the join key is NOT the partition column
    val prev = spark.conf.getOption("spark.sql.optimizer.runtime.bloomFilter.enabled")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    spark.conf.set("spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled", "false")
    // production default only injects when the probe scan is >10GB — the
    // right bar on a cluster, lowered here so the tiny fixture qualifies
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try withBroadcastDisabled {
      val li = Tables.lineitem(spark, sf0001)
      val p = Tables.part(spark, sf0001).filter(col("p_size") === 1)
      val j = li.join(p, li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand")).count()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"), plan.take(3000))
      assert(plan.contains("bloom_filter_agg"), plan.take(3000))
      // and the result is unaffected by the filter injection
      val expect = Tables.lineitem(spark, sf0001)
        .join(Tables.part(spark, sf0001).filter(col("p_size") === 1),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand")).count()
      assert(j.collect().map(_.toSeq).toSet === expect.collect().map(_.toSeq).toSet)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", v)
        case None => spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
      }
    }
  }

  test("JSONL store round-trips the events table losslessly") {
    import org.apache.spark.sql.functions._
    val path = graft.sources.Layout.ensureEventsJsonl(spark, sf0001)
    val json = graft.sources.Layout.readEventsJsonl(spark, path)
      .withColumn("ts", timestamp_micros(col("ts")))
    val pq = graft.sources.Tables.events(spark, sf0001)
      .select(json.columns.map(col).toIndexedSeq: _*)
    assert(json.count() == pq.count())
    assert(json.exceptAll(pq).isEmpty && pq.exceptAll(json).isEmpty)
    // the explicit schema rejects nothing on well-formed data: no nulls
    // introduced by the format hop
    assert(json.filter(col("event_id").isNull || col("ts").isNull).count() == 0)
  }

  test("a store left with only _temporary/ by a crashed write is rebuilt, " +
    "not served") {
    // the committer creates the store directory when the job starts: a
    // crash mid-write leaves it holding only _temporary/, which a
    // directory-exists check would take for a finished store
    val conf = spark.sparkContext.hadoopConfiguration
    def crash(store: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(store)
      val fs = p.getFileSystem(conf)
      fs.delete(p, true)
      assert(fs.mkdirs(new org.apache.hadoop.fs.Path(p, "_temporary/0")))
    }
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val tag = graft.sources.Fingerprint.tag(spark, sf0001, "events")
    Seq("jsonl", "byday").foreach(n => crash(s"$wh/graft_events_${n}_$tag"))
    val n = Tables.events(spark, sf0001).count()
    val jsonl = Layout.readEventsJsonl(spark,
      Layout.ensureEventsJsonl(spark, sf0001))
    assert(jsonl.count() === n)
    val byDay = spark.read.parquet(Layout.ensureEventsByDay(spark, sf0001))
    assert(byDay.count() === n)
    // a model store whose LAST part crashed (the earlier parts are
    // complete): the serve key retrains instead of reading the empty
    // part, and answers exactly as train-and-search does
    import graft.ml.{IvfIndex, PqIndex}
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    crash(IvfIndex.ensureModel(spark, sf0001) + "/data")
    def ivf(df: org.apache.spark.sql.DataFrame) =
      rows(df.select("vec_id", "cell", "cos_sim"))
    assert(ivf(IvfIndex.simSearchIvfServe(spark, sf0001)) ===
      ivf(IvfIndex.simSearchIvf(spark, sf0001)))
    crash(PqIndex.ensureModel(spark, sf0001) + "/codes")
    assert(rows(PqIndex.simSearchPqServe(spark, sf0001)) ===
      rows(PqIndex.simSearchPq(spark, sf0001)))
    crash(PqIndex.ensureIvfPqModel(spark, sf0001) + "/codes")
    assert(rows(PqIndex.simSearchIvfPqServe(spark, sf0001)) ===
      rows(PqIndex.simSearchIvfPq(spark, sf0001)))
    // a versioned store whose crash left only v1's commit is rebuilt to
    // exactly two snapshots, not extended by two more appends
    import graft.sources.Versioned
    val root = s"$wh/graft_events_versioned_$tag"
    val rootP = new org.apache.hadoop.fs.Path(root)
    rootP.getFileSystem(conf).delete(rootP, true)
    Versioned.append(spark, root, Tables.events(spark, sf0001)
      .filter(unix_micros(col("ts")) < graft.operators.RelationalOps.TtSplitUs))
    graft.operators.RelationalOps.scanTimeTravel(spark, sf0001).collect()
    assert(Versioned.currentVersion(spark, root) === 2)
    assert(Versioned.readVersion(spark, root, 2).count() === n)
  }

  test("schema evolution: mergeSchema unifies old and new file layouts") {
    // at 100 TB the store accumulates years of files; new columns arrive
    // without rewriting history — mergeSchema + null-backfill semantics
    val dir = tempDir("graft_evolve").toString
    Seq((1L, 10.0)).toDF("id", "v").write.parquet(s"$dir/d=1")
    Seq((2L, 20.0, "new")).toDF("id", "v", "tag").write.parquet(s"$dir/d=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet === Set("id", "v", "tag", "d"))
    val rows = merged.select("id", "tag").as[(Long, Option[String])]
      .collect().toMap
    assert(rows(1L) === None) // old files null-backfill the new column
    assert(rows(2L) === Some("new"))
  }

  test("compaction merges a fragmented store losslessly and atomically") {
    val dir = tempDir("graft_compact").toString + "/events"
    // simulate a week of micro-batch dribble: 64 tiny files
    Tables.events(spark, sf0001).repartition(64)
      .write.mode("overwrite").parquet(dir)
    val originals = spark.read.parquet(dir).orderBy("event_id").collect()
    val (before, after) = Layout.compact(spark, dir, targetFileMB = 128)
    assert(before === 64)
    assert(after === 1) // sf0.001 events ≪ 128 MB → one file
    // content exactly preserved, no leftover swap directories
    val compacted = spark.read.parquet(dir).orderBy("event_id").collect()
    assert(compacted.toSeq === originals.toSeq)
    assert(!new java.io.File(dir + ".tmp").exists())
    assert(!new java.io.File(dir + ".bak").exists())
    // physical file count on disk matches the report
    val files = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files === 1)
  }

  /** Day-partitioned events under `dir` whose `grown` days hold their
    * rows twice, over more than one file each; returns the events. */
  private def grownByDay(dir: String, grown: String*) = {
    val events = Tables.events(spark, sf0001)
    Layout.writeEventsByDay(events, dir)
    events.withColumn("day", to_date(col("ts")))
      .filter(col("day").cast("string").isin(grown: _*))
      .repartition(3)
      .write.mode("append").partitionBy("day").parquet(dir)
    events
  }
  private def dataFiles(d: java.io.File) =
    d.listFiles().filter(_.getName.endsWith(".parquet"))
  private def sortedRows(dir: String) =
    spark.read.parquet(dir).orderBy("event_id", "day").collect().toSeq

  test("a partitioned root compacts per partition") {
    val dir = tempDir("graft_compact_part").toString + "/events"
    val grown = Seq("2024-01-05", "2024-01-06")
    val events = grownByDay(dir, grown: _*)
    val dayDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("day=")).sortBy(_.getName).toSeq
    val (touched, untouched) =
      dayDirs.partition(d => grown.exists(g => d.getName == s"day=$g"))
    assert(touched.forall(dataFiles(_).length > 1))
    def bytes(ds: Seq[java.io.File]) = ds.map(d => d.getName ->
      dataFiles(d).map(f => f.getName ->
        java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap)
    val (coldBytes, schema, rows) =
      (bytes(untouched), spark.read.parquet(dir).schema, sortedRows(dir))
    val filesBefore = dayDirs.map(dataFiles(_).length).sum
    val (before, after) = Layout.compact(spark, dir)
    assert((before, after) === ((filesBefore, untouched.size + 2)))
    assert(touched.forall(dataFiles(_).length == 1))
    // the same rows under the same schema, the day column included
    assert(spark.read.parquet(dir).schema === schema)
    assert(sortedRows(dir) === rows)
    // untouched partitions are not opened, let alone rewritten
    assert(bytes(untouched) === coldBytes)
    // and a day filter still prunes to the day's directory
    val oneDay = spark.read.parquet(dir).filter(col("day") === grown.head)
    val plan = oneDay.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(2000))
    assert(oneDay.count() ===
      2 * events.filter(to_date(col("ts")) === grown.head).count())
  }

  test("compaction restores a flat store a crash stranded in .bak " +
      "before it reads") {
    val dir = tempDir("graft_compact_crash").toString + "/events"
    Tables.events(spark, sf0001).repartition(8)
      .write.mode("overwrite").parquet(dir)
    val originals = spark.read.parquet(dir).orderBy("event_id").collect()
    // a crash between the swap's two renames: the store only in .bak
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + ".bak")))
    assert(Layout.compact(spark, dir) === ((8, 1)))
    assert(spark.read.parquet(dir).orderBy("event_id").collect().toSeq ===
      originals.toSeq)
    assert(!new java.io.File(dir + ".bak").exists())
  }

  test("compaction restores a partition a crash stranded in .bak " +
      "before it reads") {
    val dir = tempDir("graft_compact_part_crash").toString + "/events"
    val day = "2024-01-05"
    grownByDay(dir, day)
    val rows = sortedRows(dir)
    // a crash between the day's two renames: the day only in .bak
    val (dayDir, parked) = (new java.io.File(dir, s"day=$day"),
      new java.io.File(dir + ".bak", s"day=$day"))
    assert(parked.getParentFile.mkdirs() && dayDir.renameTo(parked))
    Layout.compact(spark, dir)
    // restored, and compacted with the rest, because it was restored first
    assert(!parked.exists() && dataFiles(dayDir).length === 1)
    assert(sortedRows(dir) === rows)
  }

  test("exact distinct agrees with HLL within its error bound") {
    val exact = graft.operators.AdvancedOps.distinctAgg(spark, sf0001)
      .select("event_type", "n_users").as[(String, Long)].collect().toMap
    val approx = Tables.events(spark, sf0001)
      .groupBy($"event_type")
      .agg(approx_count_distinct($"user_id", 0.02).as("n"))
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n) <= math.max(2L, (n * 0.1).toLong),
        s"$k exact=$n approx=${approx(k)}")
    }
  }
}
