package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import graft.Key
import graft.sources.Tables

/** Streaming EWMA with explicit keyed state — the incremental form of the
  * metric-smoothing recurrence eₜ = 0.9·eₜ₋₁ + 0.1·xₜ (e₁ = x₁).
  *
  * State per user is TWO numbers (current ewma, event count) carried
  * across micro-batches — the whole reason the recurrence form exists:
  * the batch closed form needs every x with its position in one window,
  * the streaming form is O(1) state per key on an unbounded stream.
  *
  * The batch key [[streamEwmaFinal]] computes the SAME quantity by the
  * closed form eₙ = 0.9ⁿ⁻¹x₁ + 0.1·Σₜ₌₂ⁿ 0.9ⁿ⁻ᵗxₜ (one window pass + one
  * keyed aggregation, DuckDB-oracled); StreamEwmaSpec pins the
  * MemoryStream recurrence against it on out-of-order input, so the two
  * forms are machine-checked equivalent — the same pairing the repo uses
  * for sessionize and stream_interval_join.
  */
object StreamEwma {

  private val Alpha = 0.1 // smoothing weight of the newest observation

  final case class EwmaEvent(user_id: Long, event_id: Long, us: Long, value: Double)
  final case class EwmaState(ewma: Double, n: Long)
  final case class EwmaOut(user_id: Long, n_events: Long, ewma: Double)

  /** Per-user EWMA recurrence over a (possibly streaming) event set; emits
    * the running smoothed value after each micro-batch. Within-batch order
    * is restored here (micro-batches deliver unordered); cross-batch order
    * is the stream's (or the spec feeds batches in order). */
  def running(events: Dataset[EwmaEvent]): Dataset[EwmaOut] = {
    implicit val stateEnc = Encoders.product[EwmaState]
    implicit val outEnc = Encoders.product[EwmaOut]
    implicit val keyEnc = Encoders.scalaLong
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[EwmaEvent], state: GroupState[EwmaState]) =>
          val sorted = it.toIndexedSeq.sortBy(e => (e.us, e.event_id))
          var st = state.getOption.getOrElse(EwmaState(0.0, 0L))
          sorted.foreach { e =>
            st =
              if (st.n == 0L) EwmaState(e.value, 1L)
              else EwmaState((1 - Alpha) * st.ewma + Alpha * e.value, st.n + 1)
          }
          state.update(st)
          EwmaOut(user, st.n, st.ewma)
      }
  }

  /** Batch closed form of the final per-user EWMA (the driver-contract
    * key): one window pass for (position, count), one keyed aggregation.
    * Emits the same number [[running]]'s state converges to. */
  def streamEwmaFinal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("us"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n_events"),
        (round(sum(when(col("rn") === 1,
          col("value") * pow(lit(1 - Alpha), col("n") - 1))
          .otherwise(col("value") * lit(Alpha) *
            pow(lit(1 - Alpha), col("n") - col("rn")))), 6) + lit(0.0d))
          .as("ewma"))
      .orderBy("user_id")
  }

  val keys: Seq[Key] = Seq(
    Key("stream_ewma", streamEwmaFinal, Some(
      """WITH e AS (
        |  SELECT user_id, event_id, "value" AS v,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY us, event_id) AS rn,
        |        count(*) OVER (PARTITION BY user_id) AS n
        |      FROM e)
        |SELECT user_id, CAST(any_value(n) AS BIGINT) AS n_events,
        |  round(sum(CASE WHEN rn = 1 THEN v * pow(0.9, n - 1)
        |                 ELSE 0.1 * v * pow(0.9, n - rn) END), 6) + 0.0
        |    AS ewma
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin)),
  )
}
