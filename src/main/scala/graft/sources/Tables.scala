package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.{
  MetadataFilter, NO_FILTER, SKIP_ROW_GROUPS}
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros, unix_micros}
import org.apache.spark.sql.types.LongType

/** Loaders for the driver's test tables (`/root/testdata/<sf>/<name>.parquet`).
  *
  * The reference's durable store is a MongoDB collection scanned in full on
  * every dashboard refresh (`/root/reference/app.py:32-36`); our store is
  * columnar parquet, so Catalyst's column pruning and predicate pushdown
  * reach the scan (`PushedFilters` / `ReadSchema` in `.explain`). At 100 TB
  * the same loaders work against a partitioned parquet/iceberg layout —
  * nothing here assumes a single file.
  *
  * This is the one place a parquet schema comes from, and the one place
  * that lists which files are a table's data ([[dataFiles]]). Every source
  * table, and every store one Spark job wrote, is read through [[parquet]]
  * with the schema held in the footer of one of its data files, read on
  * the driver; a bare `spark.read.parquet(path)` runs a Spark job per
  * DataFrame to infer the same schema. Neither the listing nor the schema
  * depends on session state, and no read writes the session conf. Reads
  * whose inputs hold several schemas by design (`mergeSchema`, a poisoned
  * member, the streaming stores) keep Spark's inference.
  */
object Tables {
  private[sources] def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, path(dir, name))

  /** Rows of table `name`, summed from its footers' row-group counts —
    * no Spark job. */
  def rowCount(spark: SparkSession, dir: String, name: String): Long = {
    val files = dataFiles(spark, path(dir, name)).toSeq
    // no data file: the read raises Spark's own error
    if (files.isEmpty) table(spark, dir, name).count()
    else files.map(footer(spark, _, NO_FILTER).getBlocks.stream
      .mapToLong(_.getRowCount).sum).sum
  }

  /** `spark.read.parquet(paths*)` with the schema of the first data file's
    * footer. Partition columns are still discovered from the paths. Inputs
    * must share one schema, as the files of one write do. With no data file
    * (a missing path, an empty store) the plain read runs, so the error is
    * Spark's own (`PATH_NOT_FOUND`, `UNABLE_TO_INFER_SCHEMA`).
    *
    * The footer converts under a copy of the session's SQL conf with the
    * two timestamp flags pinned, so a schema depends on the file alone,
    * never on what an earlier read did to the session:
    *   - `inferTimestampNTZ=false`: µs timestamps written
    *     isAdjustedToUTC=false (`events.ts`, `lineitem.l_shipdate`) read as
    *     `timestamp`, not `timestamp_ntz`, which would break every
    *     `unix_micros`/time-zone-aware consumer. With the repo-wide UTC
    *     session the wall values mean the same instants, and select the
    *     same rows as the DuckDB oracle's naive timestamps;
    *   - `nanosAsLong=true`: a `TIMESTAMP(NANOS)` column, which Spark's µs
    *     `TimestampType` cannot hold, reads as its raw long ([[events]]
    *     truncates it). Every session sets the same key
    *     ([[graft.GraftSession]]), which the scan itself needs. */
  private[graft] def parquet(spark: SparkSession, paths: String*): DataFrame =
    paths.iterator.flatMap(dataFiles(spark, _)).nextOption() match {
      case Some(f) => spark.read.schema(ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, footer(spark, f, SKIP_ROW_GROUPS)),
          new ParquetToSparkSchemaConverter(GraftSqlBridge.sqlConf(spark,
            "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
            "spark.sql.legacy.parquet.nanosAsLong" -> "true"))))
        .parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The data files under `path` (a file, a directory tree or a glob),
    * listed lazily through the path's Hadoop `FileSystem` and skipping the
    * names Spark's file index skips (`_SUCCESS`, `.crc`, `_temporary/`, but
    * not `name=value` dirs). The one listing of what a table's or a store's
    * data is: the schema read, the row count, the content tag
    * ([[Fingerprint]]) and the store maintenance ([[Layout.compact]],
    * [[Versioned.append]]) all use it. */
  private[graft] def dataFiles(spark: SparkSession, path: String): Iterator[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(s: FileStatus): Iterator[FileStatus] =
      if (s.isFile) Iterator(s)
      else fs.listStatus(s.getPath).iterator.filter { c =>
        val n = c.getPath.getName
        !n.startsWith(".") && !(n.startsWith("_") && !n.contains("="))
      }.flatMap(walk)
    Option(fs.globStatus(p)).iterator.flatMap(_.iterator).flatMap(walk)
  }

  private def footer(spark: SparkSession, f: FileStatus, filter: MetadataFilter) =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(
      f, spark.sparkContext.hadoopConfiguration), filter)

  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  /** `events.ts` arrives in either of two parquet encodings depending on
    * the generator vintage: µs timestamps (every current testdata scale),
    * or `TIMESTAMP(NANOS)`, which [[parquet]] reads as the raw long. That
    * long is truncated to µs here: `ts div 1000` in integer arithmetic (a
    * double division would lose precision above 2^53 ns ≈ 1970+104 days).
    * BOTH normalize to µs TimestampType, so every operator sees one shape;
    * ns→µs truncation is oracle-safe by the repo discipline of half-open
    * range predicates and second-level formatted output. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }

  /** Events with `ts` as the raw nanosecond epoch long, whatever the disk
    * encoding. On ns-encoded data the long IS the stored column, so
    * coarse-boundary range predicates placed here push into the parquet
    * scan (row-group skipping); on µs-encoded data the long is a derived
    * `unix_micros·1000` (exact — µs·1000 cannot overflow before year
    * ~294247) and no longer scan-pushable, so operators that want
    * pushdown on modern files should instead filter [[events]]' timestamp
    * column with timestamp literals. */
  def eventsRawNanos(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw
      case _ => raw.withColumn("ts", unix_micros(col("ts")) * 1000L)
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
