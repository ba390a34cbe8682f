package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The frame and rounding helpers every operator family shares, defined
  * once: the families import them. */
private[operators] object OpsHelpers {

  /** Events with the µs epoch `us` and the calendar `day` (`unix_micros`
    * ≙ DuckDB `epoch_us` after the ns→µs truncation both sides perform —
    * see [[Tables.events]]). */
  def ev(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("us"),
        to_date(col("ts")).as("day"))

  /** `c` rounded to 6 decimals, with `+ 0.0` turning a -0.0 into 0.0. */
  def r6(c: Column): Column = round(c, 6) + lit(0.0d)
}
