package graft.operators

/** Shared oracle-SQL text and rewrite devices (DuckDB side only — never
  * touches a Spark plan). Each rule that several oracles state is written
  * here once, and an oracle interpolates it only where the text it yields
  * equals the text it replaces, so a refactor leaves every oracle
  * byte-identical.
  */
private[graft] object OracleSql {

  /** DuckDB's whitespace tokenizer over a document's lowercased text. */
  val Toks: String = """string_split_regex(trim(lower(text)), '\s+')"""

  /** The session rule: an event opens a new session when the gap to the
    * user's previous event exceeds 30 minutes (µs, window `w`). */
  val SessionBreak = "us - lag(us) OVER w > 1800000000"

  /** The `seq`/`flags` CTEs of the sessionization oracles, then a CTE
    * `name(user_id, us, session_id)`: the running count of session
    * starts over the per-user (us, event_id) order, as `BIGINT` when
    * `cast`. Ends at `FROM flags)`. */
  def sessionIdCtes(name: String, cast: Boolean): String = {
    val (open, close) = if (cast) ("CAST(", " AS BIGINT)") else ("", "")
    s"""WITH seq AS (
       |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
       |flags AS (
       |  SELECT user_id, us, event_id,
       |    CASE WHEN lag(us) OVER w IS NULL OR $SessionBreak
       |         THEN 1 ELSE 0 END AS is_new
       |  FROM seq WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |$name AS (
       |  SELECT user_id, us,
       |    ${open}sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)$close AS session_id
       |  FROM flags)""".stripMargin
  }

  /** Oracle CTE `daily(day, revc)`: each day's total revenue in exact
    * int64 cents. Comma-terminated. */
  val DayCents: String =
    """WITH daily AS (
      |  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
      |    CAST(sum(CAST("value" AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS revc
      |  FROM events GROUP BY 1),""".stripMargin

  /** The lineitem (returnflag, linestatus) subtotal oracle of the
    * rollup, cube and grouping-sets keys, grouped by `groupBy`. */
  def lineitemGrouping(groupBy: String): String =
    s"""SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
       |  COALESCE(l_linestatus, '<all>') AS linestatus,
       |  count(*) AS cnt,
       |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       |  CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
       |  CAST(grouping(l_linestatus) AS INTEGER) AS g_ls
       |FROM lineitem GROUP BY $groupBy
       |ORDER BY g_rf, g_ls, returnflag, linestatus""".stripMargin

  /** Force every CTE in an iterative graph oracle to `AS MATERIALIZED`.
    *
    * Why: DuckDB INLINES multi-referenced CTEs, so an unrolled iterative
    * oracle whose round k references round k-1 twice re-expands the whole
    * prefix combinatorially — round 9 hit this on graph_kcore (>80 GB
    * spill at sf0.1) and fixed that one key by hand; the round-10 sf~1
    * gate showed the same blowup on graph_bfs (>95 CPU-min of DuckDB
    * work, vs seconds materialized) and the rest of the family is one
    * data decade behind it. `AS MATERIALIZED` is the SQL spelling of the
    * engine's own per-round localCheckpoint. Idempotent: an
    * already-materialized CTE no longer matches `AS (`.
    *
    * Guard rails (the rewrite is regex-shaped, so the inputs it is NOT
    * safe for are rejected rather than silently corrupted):
    *  - `WITH RECURSIVE` — `AS MATERIALIZED` is invalid on a recursive
    *    CTE head in DuckDB; every current graph oracle unrolls its rounds
    *    instead, so RECURSIVE input is a bug, not a case to handle.
    *  - a named-`WINDOW` clause — a line-leading continuation like
    *    `w2 AS (...)` is indistinguishable from a CTE head to the regex
    *    and would be corrupted into `w2 AS MATERIALIZED (...)`.
    */
  def matCtes(sql: String): String = {
    require(!sql.contains("RECURSIVE"),
      "matCtes: WITH RECURSIVE oracle — AS MATERIALIZED is invalid on a " +
        "recursive CTE head in DuckDB; unroll the rounds instead")
    require(!"""(?mi)^\s*WINDOW\b""".r.findFirstIn(sql).isDefined &&
      !"""(?i)\bWINDOW\s+[A-Za-z_0-9]+\s+AS\s*\(""".r
        .findFirstIn(sql).isDefined,
      "matCtes: named-WINDOW clause present — its continuation lines " +
        "would be rewritten as CTE heads; materialize by hand")
    sql.replaceAll("(?m)^(\\s*)([A-Za-z_0-9]+(\\([^)]*\\))?) AS \\(",
      "$1$2 AS MATERIALIZED (")
      // ... and the FIRST cte, which carries the WITH keyword on its line
      .replaceAll("(?m)^(WITH\\s+)([A-Za-z_0-9]+(\\([^)]*\\))?) AS \\(",
        "$1$2 AS MATERIALIZED (")
  }

  /** [[matCtes]] for a WITH-list that CONTAINS a genuinely recursive CTE:
    * materialize every CTE head EXCEPT the named ones (a recursive head
    * cannot take AS MATERIALIZED in DuckDB; its non-recursive siblings
    * can and must — the round-11 sf≈1 gate found the dedup-family
    * oracles' 4-5×-referenced shingle CTEs re-inlined into a multi-100 GB
    * spill, the same blowup class graph_bfs hit in round 10). The WINDOW
    * guard from [[matCtes]] applies; the RECURSIVE guard is replaced by
    * the explicit skip set. */
  def matCtesSkip(sql: String, skip: Set[String]): String = {
    require(!"""(?mi)^\s*WINDOW\b""".r.findFirstIn(sql).isDefined &&
      !"""(?i)\bWINDOW\s+[A-Za-z_0-9]+\s+AS\s*\(""".r
        .findFirstIn(sql).isDefined,
      "matCtesSkip: named-WINDOW clause present — its continuation lines " +
        "would be rewritten as CTE heads; materialize by hand")
    def keep(name: String): Boolean = skip.contains(name.takeWhile(_ != '('))
    val body = """(?m)^(\s*)([A-Za-z_0-9]+(\([^)]*\))?) AS \(""".r
      .replaceAllIn(sql, m =>
        if (keep(m.group(2))) scala.util.matching.Regex.quoteReplacement(m.matched)
        else scala.util.matching.Regex
          .quoteReplacement(s"${m.group(1)}${m.group(2)} AS MATERIALIZED ("))
    """(?m)^(WITH(?: RECURSIVE)?\s+)([A-Za-z_0-9]+(\([^)]*\))?) AS \(""".r
      .replaceAllIn(body, m =>
        if (keep(m.group(2))) scala.util.matching.Regex.quoteReplacement(m.matched)
        else scala.util.matching.Regex
          .quoteReplacement(s"${m.group(1)}${m.group(2)} AS MATERIALIZED ("))
  }
}
