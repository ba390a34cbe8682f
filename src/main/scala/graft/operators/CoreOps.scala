package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Key
import graft.functions.Exact._
import graft.sources.Tables

/** The reference's own operator surface (SURVEY.md §2.1–§2.5, §2.7),
  * re-expressed Spark-first over the driver's test tables.
  *
  * The reference is an eager pandas/Mongo pipeline
  * (`/root/reference/consumer.py`, `/root/reference/app.py`,
  * `/root/reference/analysis.ipynb`); every op below is the declarative
  * Spark equivalent, so Catalyst gets predicate pushdown, column pruning and
  * whole-stage codegen for free — the reference rescans and recomputes
  * everything on each refresh (`app.py:101`), we do not.
  *
  * Determinism rules (SURVEY.md §5.1): every query ends in an explicit
  * total ORDER BY; float aggregates are decimal-exact (graft.functions.Exact)
  * or rounded; timestamps are emitted as formatted strings. The current
  * testdata stores `events.ts` in microseconds, but an older vintage
  * stores nanoseconds, which Spark truncates to microseconds on read while
  * DuckDB keeps them, so raw timestamp output could not hash-match there.
  *
  * The trailing ORDER BY on row-level queries exists FOR THE ORACLE
  * HARNESS (hash compare needs a total order). Library users compose the
  * un-ordered operator; at 100 TB a global sort of a full scan is not part
  * of any of these operators' semantics.
  */
object CoreOps {
  private val TsFmt     = "yyyy-MM-dd HH:mm:ss"
  private val DuckTsFmt = "%Y-%m-%d %H:%M:%S"

  // ── §2.1 S5: full store scan (app.py:32-36, analysis.ipynb cell 0) ──
  def scanEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), date_format(col("ts"), TsFmt).as("ts_s"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .orderBy("event_id")

  // ── §2.2 P1+P2+C4+C5: JSON flatten with defensive parse
  // (consumer.py:32-53; string-vs-struct fallback consumer.py:36-45) ──
  def jsonFlatten(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      // consumer.py:43-45: parse failure / missing path → default, not crash
      .withColumn("k_or_default", coalesce(col("k"), lit(-1)))
      .orderBy("event_id")

  // ── §2.3 F1: completeness filter (consumer.py:55-57) ──
  def nullFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("event_type").isNotNull &&
        col("ts").isNotNull)
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy("event_id")

  // ── §2.7 C2: epoch→local wall-clock by adding the tz offset
  // (consumer.py:59-61; reference hardcodes per-city offsets, we use +7h WIB) ──
  def localTime(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        date_format(col("ts") + expr("INTERVAL 7 HOURS"), TsFmt).as("local_time"))
      .orderBy("event_id")

  // ── §2.7 C1: trim / split / case (producer.py:13,36) ──
  def stringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        upper(col("source")).as("src_upper"),
        element_at(split(trim(col("text")), "\\s+"), 1).as("first_tok"),
        substring(col("text"), 1, 10).as("prefix10"),
        length(trim(col("text"))).as("trimmed_len"))
      .orderBy("doc_id")

  // ── §2.3 F2: timestamp range predicate (app.py:108-110).
  // Half-open [start, end): with any precision skew between engines,
  // >= lower and < upper at second-aligned boundaries classify every row
  // identically under truncation; an inclusive upper bound would not.
  // The literals fold to TimestampType constants, so on µs-encoded
  // parquet the predicate pushes into the scan (row-group skipping —
  // `PushedFilters` shows both bounds); on the legacy ns-as-long vintage
  // the comparison evaluates above the normalizing projection instead,
  // trading pushdown for one shared loader shape. Session TZ is UTC, so
  // the unzoned literals mean the same instants the DuckDB oracle's
  // naive TIMESTAMP literals do. ──
  def rangeFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("ts") >= to_timestamp(lit("2024-01-05 00:00:00")) &&
        col("ts") < to_timestamp(lit("2024-01-20 00:00:00")))
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy("event_id")

  // ── §2.3 F3: membership predicate (app.py:110) ──
  def isinFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type").isin("signup", "purchase"))
      .select(col("event_id"), col("event_type"), col("value"))
      .orderBy("event_id")

  // ── app.py:107-110: the dashboard's filter COMPOSITION — the time-range
  // predicate always applies, but the island membership predicate applies
  // ONLY when the selection is non-empty (an empty dropdown means "all
  // islands", not "no islands"). Driver control flow like the F4
  // empty-set guard: the plan simply omits the isin predicate, it does not
  // filter to zero rows. Both bounds inclusive, as in the reference. ──
  def selectionFilter(df: DataFrame, tsCol: Column, start: Column,
      end: Column, keyCol: Column, selected: Seq[String]): DataFrame = {
    val timed = df.filter(tsCol >= start && tsCol <= end)
    if (selected.isEmpty) timed else timed.filter(keyCol.isin(selected: _*))
  }

  // ── app.py:41-42: schema-drift guard — a store written by an older
  // producer may lack the `local_time` column; the reference substitutes
  // the load wall-clock instead of crashing. Same drift-tolerance family
  // as the string-vs-array weather parse (consumer.py:36-45). ──
  def withTimestampFallback(df: DataFrame): DataFrame =
    if (df.columns.contains("local_time"))
      df.withColumn("timestamp", to_timestamp(col("local_time")))
    else df.withColumn("timestamp", current_timestamp())

  // ── §2.4 J1: broadcast lookup join with default for misses
  // (app.py:15-29 dict lookup + "Lainnya" default → left join + coalesce).
  // customer⟕nation⟕region is the star-schema analogue; both dims are
  // genuinely small → explicit broadcast() keeps it shuffle-free at any SF. ──
  def lookupJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
      .select(col("c_custkey"), col("c_name"),
        coalesce(col("n_name"), lit("Lainnya")).as("n_name"),
        coalesce(col("r_name"), lit("Lainnya")).as("r_name"))
      .orderBy("c_custkey")
  }

  // ── §2.5 A2: filtered summary stats (app.py:116-124).
  // pandas .std() is ddof=1 → stddev_samp (SURVEY §2.5 A2). ──
  def summaryStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .agg(
        count(lit(1)).as("n"),
        avgMoney(col("l_quantity")).as("qty_mean"),
        min(col("l_quantity")).as("qty_min"),
        max(col("l_quantity")).as("qty_max"),
        round(stddev_samp(col("l_quantity")), 6).as("qty_std"),
        avgMoney(col("l_extendedprice")).as("price_mean"),
        min(col("l_extendedprice")).as("price_min"),
        max(col("l_extendedprice")).as("price_max"))

  // ── §2.5 A3: value_counts (app.py:144-145) ──
  def valueCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("event_type"))

  // ── §2.5 A4: group-by average (app.py:149 — mean temp per island) ──
  def groupbyAvg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(avgMoney(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")

  // ── §2.5 A5: global max timestamp + strftime (app.py:156) ──
  def maxTs(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .agg(date_format(max(col("ts")), TsFmt).as("max_ts"))

  // ── §2.2 P4 + §2.7 C3: casts (app.py:44-45). floor/ceil instead of
  // round-to-int in the oracle form: DuckDB CAST(double→int) rounds while
  // Spark truncates, and banker's-vs-half-up rounding differs — floor/ceil
  // are exact in both. bround (half-even, = pandas round) is exercised in
  // ScalaTest instead. l_quantity is integral so its int cast is exact. ──
  def castRound(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("int").as("qty_int"),
        floor(col("l_extendedprice")).as("price_floor"),
        ceil(col("l_extendedprice")).as("price_ceil"),
        col("l_discount").cast("string").as("disc_str"))
      .orderBy("l_orderkey", "l_linenumber")

  // ── §2.2 P5: string→timestamp parse (app.py:40 pd.to_datetime) ──
  def parseTimestamp(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"), date_format(col("ts"), "yyyy-MM-dd HH:mm").as("ts_min_s"))
      .select(col("event_id"),
        date_format(to_timestamp(col("ts_min_s"), "yyyy-MM-dd HH:mm"), TsFmt)
          .as("reparsed"))
      .orderBy("event_id")

  // ── §2.6 A7: distinct + sort (app.py:56 dropdown values) ──
  def distinctSorted(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type")).distinct().orderBy("event_type")

  // ── §2.5 A6: pivot aggregation (app.py:153 pivot_table city×ts grid).
  // Explicit pivot value list — never the implicit distinct-scan, which is a
  // full extra job and unbounded-width risk at scale (SURVEY §7.4). Rows =
  // user buckets, columns = event types, cell = mean value. No DuckDB oracle
  // (dialect pivot naming differs, SURVEY §2.5); verified via its unpivoted
  // form in `groupbyAvg`-style tests. ──
  def pivotMatrix(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("user_bucket", (col("user_id") % 10).as("user_bucket"))
      .groupBy(col("user_bucket"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(avgMoney(col("value")))
      .orderBy("user_bucket")

  // ── §2.2 P3: projection + rename (analysis.ipynb cell 1) ──
  def projectRename(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id").as("id"), col("lang").as("language"),
        col("source").as("src"), col("n_chars").as("chars"))
      .orderBy("id")

  // ── §2.5 A1: descriptive stats, df.describe() (analysis.ipynb cell 2).
  // Exact percentiles (Spark `percentile` ≙ DuckDB `quantile_cont`, both
  // linear interpolation), not approx — SURVEY §5.1. ──
  def describeStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .agg(
        count(col("l_quantity")).as("qty_count"),
        avgMoney(col("l_quantity")).as("qty_mean"),
        round(stddev_samp(col("l_quantity")), 6).as("qty_std"),
        min(col("l_quantity")).as("qty_min"),
        round(expr("percentile(l_quantity, 0.25)"), 6).as("qty_p25"),
        round(expr("percentile(l_quantity, 0.5)"), 6).as("qty_p50"),
        round(expr("percentile(l_quantity, 0.75)"), 6).as("qty_p75"),
        max(col("l_quantity")).as("qty_max"),
        round(stddev_samp(col("l_discount")), 6).as("disc_std"),
        round(expr("percentile(l_discount, 0.5)"), 6).as("disc_p50"))

  // ── Flagship (SURVEY §7.2): revenue per region —
  // lineitem ⋈ orders ⋈ customer ⟕ broadcast(nation) ⟕ broadcast(region).
  // Fact-fact joins shuffle on their keys (sort-merge / shuffled-hash under
  // AQE); dims broadcast. Revenue summed in exact decimal. ──
  def flagshipRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o  = Tables.orders(spark, dir)
    val c  = Tables.customer(spark, dir)
    val n  = Tables.nation(spark, dir)
    val r  = Tables.region(spark, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(sumRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name")
  }

  // ── multi-aggregate pivot: day × event_type grid carrying TWO
  // measures per cell (decimal-exact revenue sum + row count) — the
  // "wide daily report" shape pivot_matrix's single-agg form can't
  // express. Explicit value list (same §7.4 stance); Spark names the
  // cells {value}_{aggAlias} and the oracle's FILTER aggregations use
  // the identical names. Counts are coalesced to 0 so an empty cell
  // agrees with SQL's COUNT; empty-cell sums stay NULL on both
  // engines. ──
  def pivotMulti(spark: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .pivot("event_type", types)
      .agg(sumMoney(col("value")).as("rev"), count(col("value")).as("n"))
    val cols = col("day") +: types.flatMap(t => Seq(col(s"${t}_rev"),
      coalesce(col(s"${t}_n"), lit(0L)).as(s"${t}_n")))
    p.select(cols: _*).orderBy("day")
  }

  val keys: Seq[Key] = Seq(
    // with the EXPLICIT pivot value list the output columns are fixed, so
    // the pivot is oracle-able as conditional aggregation with matching
    // column names (closing the §7.4 "pivot has no oracle" compromise);
    // avgMoney per cell = decimal sum / count, NULL when the cell is empty
    // in both engines
    Key("pivot_multi", pivotMulti, Some {
      val cells = Seq("click", "error", "purchase", "signup", "view")
        .map { t =>
          s"""CAST(sum(CAST("value" AS DECIMAL(18,2)))
             |  FILTER (WHERE event_type = '$t') AS DOUBLE) AS ${t}_rev,
             |count("value") FILTER (WHERE event_type = '$t') AS ${t}_n"""
            .stripMargin
        }.mkString(",\n")
      s"""SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         |$cells
         |FROM events GROUP BY 1 ORDER BY day""".stripMargin
    }),
    Key("pivot_matrix", pivotMatrix, Some {
      val cells = Seq("click", "error", "purchase", "signup", "view").map { t =>
        s"""CAST(sum(CAST("value" AS DECIMAL(18,2))) FILTER (WHERE event_type = '$t') AS DOUBLE)
           | / count("value") FILTER (WHERE event_type = '$t') AS $t""".stripMargin
      }.mkString(",\n")
      s"""SELECT user_id % 10 AS user_bucket,
         |$cells
         |FROM events GROUP BY 1 ORDER BY user_bucket""".stripMargin
    }),
    Key("scan_events", scanEvents, Some(
      s"""SELECT event_id, strftime(ts, '$DuckTsFmt') AS ts_s, user_id, event_type, "value", props
         |FROM events ORDER BY event_id""".stripMargin)),
    Key("json_flatten", jsonFlatten, Some(
      """SELECT event_id, event_type,
        |  CASE WHEN json_valid(props) THEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) END AS k,
        |  COALESCE(CASE WHEN json_valid(props) THEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) END, -1) AS k_or_default
        |FROM events ORDER BY event_id""".stripMargin)),
    Key("null_filter", nullFilter, Some(
      """SELECT event_id, event_type, "value" FROM events
        |WHERE "value" IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL
        |ORDER BY event_id""".stripMargin)),
    Key("local_time", localTime, Some(
      s"""SELECT event_id, strftime(ts + INTERVAL 7 HOUR, '$DuckTsFmt') AS local_time
         |FROM events ORDER BY event_id""".stripMargin)),
    Key("string_funcs", stringFuncs, Some(
      """SELECT doc_id, upper(source) AS src_upper,
        |  string_split_regex(trim(text), '\s+')[1] AS first_tok,
        |  substring(text, 1, 10) AS prefix10,
        |  CAST(length(trim(text)) AS INTEGER) AS trimmed_len
        |FROM documents ORDER BY doc_id""".stripMargin)),
    Key("range_filter", rangeFilter, Some(
      """SELECT event_id, event_type, "value" FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |ORDER BY event_id""".stripMargin)),
    Key("isin_filter", isinFilter, Some(
      """SELECT event_id, event_type, "value" FROM events
        |WHERE event_type IN ('signup', 'purchase') ORDER BY event_id""".stripMargin)),
    Key("lookup_join", lookupJoin, Some(
      """SELECT c_custkey, c_name,
        |  COALESCE(n_name, 'Lainnya') AS n_name, COALESCE(r_name, 'Lainnya') AS r_name
        |FROM customer
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey
        |ORDER BY c_custkey""".stripMargin)),
    Key("summary_stats", summaryStats, Some(
      """SELECT count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity) AS qty_mean,
        |  min(l_quantity) AS qty_min, max(l_quantity) AS qty_max,
        |  round(stddev_samp(l_quantity), 6) AS qty_std,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(l_extendedprice) AS price_mean,
        |  min(l_extendedprice) AS price_min, max(l_extendedprice) AS price_max
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'""".stripMargin)),
    Key("value_counts", valueCounts, Some(
      """SELECT event_type, count(*) AS cnt FROM events
        |GROUP BY event_type ORDER BY cnt DESC, event_type""".stripMargin)),
    Key("groupby_avg", groupbyAvg, Some(
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity) AS avg_qty,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    Key("max_ts", maxTs, Some(
      s"SELECT strftime(max(ts), '$DuckTsFmt') AS max_ts FROM events")),
    Key("cast_round", castRound, Some(
      """SELECT l_orderkey, l_linenumber,
        |  CAST(trunc(l_quantity) AS INTEGER) AS qty_int,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |  CAST(l_discount AS VARCHAR) AS disc_str
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    Key("parse_timestamp", parseTimestamp, Some(
      s"""SELECT event_id,
         |  strftime(strptime(strftime(ts, '%Y-%m-%d %H:%M'), '%Y-%m-%d %H:%M'), '$DuckTsFmt') AS reparsed
         |FROM events ORDER BY event_id""".stripMargin)),
    Key("distinct_sorted", distinctSorted, Some(
      "SELECT DISTINCT event_type FROM events ORDER BY event_type")),
    Key("project_rename", projectRename, Some(
      """SELECT doc_id AS id, lang AS language, source AS src, n_chars AS chars
        |FROM documents ORDER BY id""".stripMargin)),
    Key("describe_stats", describeStats, Some(
      """SELECT count(l_quantity) AS qty_count,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(l_quantity) AS qty_mean,
        |  round(stddev_samp(l_quantity), 6) AS qty_std,
        |  min(l_quantity) AS qty_min,
        |  round(quantile_cont(l_quantity, 0.25), 6) AS qty_p25,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS qty_p50,
        |  round(quantile_cont(l_quantity, 0.75), 6) AS qty_p75,
        |  max(l_quantity) AS qty_max,
        |  round(stddev_samp(l_discount), 6) AS disc_std,
        |  round(quantile_cont(l_discount, 0.5), 6) AS disc_p50
        |FROM lineitem""".stripMargin)),
    Key("flagship_revenue", flagshipRevenue, Some(
      """SELECT r_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)),
  )
}
