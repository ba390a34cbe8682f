package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Trending

/** Streaming Misra-Gries: per-window frequent tokens through MemoryStream.
  * Vocabulary below capacity → summaries are exact → the streaming result
  * must equal a plain batch group-count of the same data. */
class TrendingSpec extends SparkSuite {
  import spark.implicits._

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:$sec%02d")

  test("streaming: per-window trending tokens match batch counts exactly") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String)]
    val q = Trending.trendingTokens(
        stream.toDF().toDF("ts", "token"), capacity = 16)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("trending").start()
    try {
      // window [10:00,10:05): spark×3, data×2, ml×1; window [10:05,10:10):
      // data×2, spark×1 — split across two micro-batches so the second
      // updates existing window state through the store
      stream.addData(
        (ts(0), "spark"), (ts(1), "data"), (ts(1, 30), "spark"),
        (ts(2), "ml"), (ts(5), "data"))
      q.processAllAvailable()
      stream.addData(
        (ts(3), "spark"), (ts(4), "data"), (ts(6), "data"), (ts(7), "spark"))
      q.processAllAvailable()
      // update-mode memory sink appends every emitted update; the LAST
      // emission per (window, term) is the current state
      val rows = spark.sql(
        """SELECT win_start, term, cnt FROM (
          |  SELECT *, row_number() OVER (PARTITION BY win_start, term
          |    ORDER BY cnt DESC) AS rn FROM trending) WHERE rn = 1
          |ORDER BY win_start, cnt DESC, term""".stripMargin)
        .select("win_start", "term", "cnt")
        .as[(Timestamp, String, Long)].collect().toSeq
      assert(rows === Seq(
        (ts(0), "spark", 3L), (ts(0), "data", 2L), (ts(0), "ml", 1L),
        (ts(5), "data", 2L), (ts(5), "spark", 1L)))
    } finally q.stop()
  }
}
