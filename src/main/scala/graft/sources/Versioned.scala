package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal snapshot-versioned parquet store: manifest-pointer time travel.
  *
  * The table-format idea (Iceberg/Delta, both published designs) reduced
  * to its load-bearing core: data files are IMMUTABLE and never listed by
  * directory scan; each commit writes the new files plus a manifest
  * `manifest-v<N>.json` listing the COMPLETE file set of snapshot N; the
  * manifest write is the atomic commit point (rename from a temp name —
  * the same single-rename protocol as the streaming upsert sink). Readers
  * resolve a snapshot number to its file list and hand exactly those files
  * to the parquet source — so a reader of snapshot N is isolated from any
  * concurrent append (which only ever ADDS files and a HIGHER-numbered
  * manifest), and time travel is "read an older manifest", free of any
  * copy. At 100 TB this is why appends don't block reads and why
  * reproducible training runs can pin the snapshot they saw.
  *
  * Deliberately not implemented (out of scope for an engine demo, present
  * in the real formats): deletes/compaction rewrite manifests, column
  * stats pruning in the manifest, multi-writer commit arbitration.
  */
object Versioned {

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifest(root: String, v: Int) = new Path(s"$root/manifest-v$v.json")

  /** Highest committed snapshot number, 0 if none. */
  def currentVersion(spark: SparkSession, root: String): Int = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    if (!f.exists(rootP)) 0
    else f.listStatus(rootP).map(_.getPath.getName)
      .collect { case n if n.startsWith("manifest-v") && n.endsWith(".json") =>
        n.stripPrefix("manifest-v").stripSuffix(".json").toInt }
      .foldLeft(0)(math.max)
  }

  /** Append `df` as a new snapshot; returns the committed version number.
    * Data lands under `data/` with a per-commit prefix; the manifest (the
    * full file list = previous snapshot's list + the new files) commits
    * via atomic rename. */
  def append(spark: SparkSession, root: String, df: DataFrame): Int = {
    val rootP = new Path(root)
    val f = fs(spark, rootP)
    val prev = currentVersion(spark, root)
    val commitDir = new Path(s"$root/data/commit-${prev + 1}")
    df.write.mode("overwrite").parquet(commitDir.toString)
    val newFiles = Tables.dataFiles(spark, commitDir.toString)
      .map(_.getPath.toString).toArray.sorted
    val carried = if (prev == 0) Array.empty[String] else files(spark, root, prev)
    val all = (carried ++ newFiles).map(p => "\"" + p + "\"")
      .mkString("[", ",", "]")
    val tmp = new Path(s"$root/.manifest-v${prev + 1}.tmp")
    val out = f.create(tmp, true)
    out.write(s"""{"version":${prev + 1},"files":$all}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    require(f.rename(tmp, manifest(root, prev + 1)),
      s"commit rename failed for v${prev + 1}")
    prev + 1
  }

  /** File list of snapshot `v` (manifest is tiny; parsed driver-side). */
  private def files(spark: SparkSession, root: String, v: Int): Array[String] = {
    val m = manifest(root, v)
    val f = fs(spark, m)
    require(f.exists(m), s"no snapshot v$v at $root")
    val in = f.open(m)
    val bytes = new Array[Byte](f.getFileStatus(m).getLen.toInt)
    in.readFully(bytes)
    in.close()
    val s = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    // fixed shape we wrote ourselves: {"version":N,"files":["...","..."]}
    val body = s.substring(s.indexOf("[") + 1, s.lastIndexOf("]"))
    if (body.trim.isEmpty) Array.empty
    else body.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
  }

  /** Read snapshot `v`: exactly the manifest's files, no directory listing
    * — concurrent appends are invisible by construction. */
  def readVersion(spark: SparkSession, root: String, v: Int): DataFrame =
    Tables.parquet(spark, files(spark, root, v).toIndexedSeq: _*)

  /** Incremental read: the files ADDED between snapshots `from` → `to`.
    * Data files are immutable and commits only add, so the snapshot diff
    * IS the new-file set — a consumer that already processed snapshot
    * `from` catches up to `to` by scanning ONLY the increment, never the
    * carried files. This is what keeps downstream jobs O(new data) on a
    * 100 TB append-only table (the Iceberg/Delta "incremental read" /
    * CDC-append pattern). `from` = 0 means "from the beginning" (the full
    * snapshot `to`). */
  def readDiff(spark: SparkSession, root: String, from: Int, to: Int): DataFrame = {
    require(from >= 0 && from < to, s"need 0 <= from < to, got $from..$to")
    val before = if (from == 0) Array.empty[String] else files(spark, root, from)
    val added = files(spark, root, to).diff(before)
    require(added.nonEmpty, s"no files added between v$from and v$to")
    Tables.parquet(spark, added.toIndexedSeq: _*)
  }
}
