package graft.operators

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset,
  SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Exact
import graft.sources.Tables

/** The frame and rounding helpers every operator family shares, defined
  * once: the families import them. */
private[graft] object OpsHelpers {

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

  /** The moment sums of a Pearson r over exact decimal columns x and y:
    * Σx, Σy, Σxy, Σx², Σy², each cast once to double, as sx, sy, sxy,
    * sxx and syy. */
  def pearsonSums(x: Column, y: Column): Seq[Column] = Seq(
    sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
    sum(x * y).cast("double").as("sxy"),
    sum(x * x).cast("double").as("sxx"),
    sum(y * y).cast("double").as("syy"))

  /** Spark's whitespace tokenizer over a document's lowercased text. */
  def toksCol: Column = split(trim(lower(col("text"))), "\\s+")

  /** (doc_id, shingle) for each word 3-gram of each document in `docs`. */
  def wordTrigrams(docs: DataFrame): DataFrame =
    docs.withColumn("toks", toksCol)
      .select(col("doc_id"),
        // guard: sequence(1, 0) in Spark generates a DESCENDING sequence,
        // so docs with <3 tokens must short-circuit to an empty array
        explode(expr(
          "CASE WHEN size(toks) >= 3 THEN transform(sequence(1, size(toks) - 2)," +
            " i -> concat(toks[i-1], ' ', toks[i], ' ', toks[i+1]))" +
            " ELSE CAST(array() AS ARRAY<STRING>) END"))
          .as("shingle"))

  /** The (returnflag, linestatus) subtotal rows of a lineitem rollup,
    * cube or grouping sets `g`: count, exact quantity sum and the two
    * grouping indicators, with `<all>` naming a rolled-up level. */
  def flagStatusTotals(g: RelationalGroupedDataset): DataFrame =
    g.agg(count(lit(1)).as("cnt"),
        Exact.sumMoney(col("l_quantity")).as("sum_qty"),
        grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"))
      .select(coalesce(col("l_returnflag"), lit("<all>")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("<all>")).as("linestatus"),
        col("cnt"), col("sum_qty"), col("g_rf"), col("g_ls"))
      .orderBy("g_rf", "g_ls", "returnflag", "linestatus")

  /** The Bloom filter words set by `positions` (bit positions over the
    * rows of `df`): (word, bits), each 64-bit word's bits or'd together. */
  def bloomWords(df: DataFrame, positions: Seq[Column]): DataFrame =
    df.select(explode(array(positions: _*)).as("pos"))
      .select(expr("CAST(pos div 64 AS INT)").as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("mask"))
      .groupBy("word").agg(expr("bit_or(mask)").as("bits"))

  /** Each user's calendar-day spine: one (user_id, day) row for every day
    * from the user's first to last day in `daily`. */
  def userDayGrid(daily: DataFrame): DataFrame =
    daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
}
