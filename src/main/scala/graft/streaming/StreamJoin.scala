package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Key
import graft.sources.Tables

/** Stream-stream interval join: every purchase paired with the same user's
  * clicks in the preceding 30 minutes — the attribution join, run with BOTH
  * sides unbounded.
  *
  * The streaming form is Spark's watermarked stream-stream join: each side
  * declares an event-time watermark and the join condition bounds the time
  * skew between them, which is exactly what lets the engine EVICT state —
  * a click older than (click watermark) can never match a future purchase,
  * so per-executor state is O(rate × window), not O(stream). That bound is
  * the whole viability argument at 100 TB/day; without the time-range
  * conjunct Spark rightly refuses the join.
  *
  * [[pairs]] is one code path for both worlds: `withWatermark` is a no-op
  * on batch frames, so the DuckDB-oracled batch key and the MemoryStream
  * spec (StreamJoinSpec, which pins batch≡streaming on out-of-order input)
  * run literally the same plan-building function.
  */
object StreamJoin {

  /** Purchase↔click pairs within the attribution window. Both inputs need
    * (user_id, event_id, ts); works on batch or streaming frames. */
  def pairs(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val c = clicks
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("lag_us"))
  }

  /** Batch-equivalent form over the events table (the driver-contract key;
    * the streaming execution of the identical plan is pinned by
    * StreamJoinSpec). */
  def streamIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    pairs(e.filter(col("event_type") === "purchase"),
      e.filter(col("event_type") === "click"))
      .orderBy("purchase_id", "click_id")
  }

  val keys: Seq[Key] = Seq(
    Key("stream_interval_join", streamIntervalJoin, Some(
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events)
        |SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |  p.user_id, p.us - c.us AS lag_us
        |FROM ev p JOIN ev c
        |  ON p.user_id = c.user_id
        | AND c.us BETWEEN p.us - 1800000000 AND p.us
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |ORDER BY purchase_id, click_id""".stripMargin)),
  )
}
