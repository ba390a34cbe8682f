package graft

import org.apache.spark.sql.functions._
import graft.sources.Versioned

/** Manifest-pointer snapshot store: append-only commits, version
  * resolution, and the isolation property the format exists for. */
class VersionedSpec extends SparkSuite {
  import spark.implicits._

  test("snapshot isolation: a v1 reader is blind to later appends") {
    val root = tempDir("graft_versioned").toString
    assert(Versioned.currentVersion(spark, root) === 0)

    val v1 = Versioned.append(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    assert(v1 === 1)
    val v2 = Versioned.append(spark, root, Seq((3L, "c")).toDF("id", "s"))
    assert(v2 === 2)
    assert(Versioned.currentVersion(spark, root) === 2)

    // v1 read AFTER v2's commit: exactly the original rows
    val r1 = Versioned.readVersion(spark, root, 1)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(r1.toSeq === Seq((1L, "a"), (2L, "b")))
    // v2 = v1's files + the appended ones
    val r2 = Versioned.readVersion(spark, root, 2)
      .as[(Long, String)].collect().sortBy(_._1)
    assert(r2.toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // unknown snapshot fails loudly
    intercept[IllegalArgumentException] {
      Versioned.readVersion(spark, root, 3)
    }
  }

  test("a root holding a comma and a quote commits and reads its " +
      "snapshots") {
    val root = tempDir("graft_versioned").resolve("v,\"1").toString
    Versioned.append(spark, root, Seq((1L, "a")).toDF("id", "s"))
    Versioned.append(spark, root, Seq((2L, "b")).toDF("id", "s"))
    assert(Versioned.readVersion(spark, root, 2).as[(Long, String)]
      .collect().sorted.toSeq === Seq((1L, "a"), (2L, "b")))
    assert(Versioned.readDiff(spark, root, 1, 2).as[(Long, String)]
      .collect().toSeq === Seq((2L, "b")))
  }

  test("readDiff returns exactly the increment and composes to the full " +
    "snapshot") {
    val root = tempDir("graft_diff").toString
    Versioned.append(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    Versioned.append(spark, root, Seq((3L, "c"), (4L, "d")).toDF("id", "s"))
    Versioned.append(spark, root, Seq((5L, "e")).toDF("id", "s"))
    // each increment is exactly its commit's rows
    assert(Versioned.readDiff(spark, root, 1, 2)
      .as[(Long, String)].collect().sorted.toSeq === Seq((3L, "c"), (4L, "d")))
    assert(Versioned.readDiff(spark, root, 2, 3)
      .as[(Long, String)].collect().sorted.toSeq === Seq((5L, "e")))
    // from = 0 is the full snapshot; increments compose to it
    val full = Versioned.readDiff(spark, root, 0, 3)
      .as[(Long, String)].collect().sorted.toSeq
    assert(full === Versioned.readVersion(spark, root, 3)
      .as[(Long, String)].collect().sorted.toSeq)
    val composed = (Versioned.readVersion(spark, root, 1)
      .as[(Long, String)].collect() ++
      Versioned.readDiff(spark, root, 1, 2).as[(Long, String)].collect() ++
      Versioned.readDiff(spark, root, 2, 3).as[(Long, String)].collect())
      .sorted.toSeq
    assert(composed === full)
    // degenerate ranges fail loudly
    intercept[IllegalArgumentException] {
      Versioned.readDiff(spark, root, 2, 2)
    }
  }

  test("ivm_refresh reads ONLY the stored partials + the diff files — " +
    "never snapshot v1's data — and still equals the full recompute") {
    val refresh = graft.operators.RelationalOps.ivmRefresh(spark, sf0001)
    val rows = refresh.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // equals the from-scratch aggregate (bit-exact via decimal partials)
    val full = graft.sources.Tables.events(spark, sf0001)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("cnt"),
        graft.functions.Exact.avgMoney($"value").as("avg_value"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    rows.foreach { case (t, cnt, avg, cntNew) =>
      assert((cnt, avg) === full(t))
      assert(cntNew > 0 && cntNew < cnt) // the increment is a real subset
    }
    // THE IVM property: the refresh plan's input files are the stored
    // aggregate plus the diff's files — v1's data files are not touched
    val tag = graft.sources.Fingerprint.tag(spark, sf0001, "events")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val root = s"$wh/graft_events_versioned_$tag"
    val v1Files = Versioned.readVersion(spark, root, 1).inputFiles.toSet
    val diffFiles = Versioned.readDiff(spark, root, 1, 2).inputFiles.toSet
    val read = refresh.inputFiles.toSet
    assert(read.intersect(v1Files).isEmpty,
      s"refresh re-read v1 data: ${read.intersect(v1Files).take(3)}")
    assert(diffFiles.subsetOf(read)) // the increment IS read
    assert((read -- diffFiles).forall(_.contains("graft_events_ivm_v1_")))
  }

  test("scan_time_travel key: v2 aggregates strictly contain v1's") {
    val byVersion = SparkEntry
      .queries("scan_time_travel")(spark, sf0001)
      .select($"version", $"event_type", $"cnt")
      .as[(Long, String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    assert(byVersion.keySet === Set(1L, 2L))
    // every event type's count can only grow across snapshots
    byVersion(2L).foreach { case (et, c2) =>
      assert(byVersion(1L).getOrElse(et, 0L) <= c2)
    }
    assert(byVersion(2L).values.sum >
      byVersion(1L).values.sum) // the second commit added rows
  }
}
