package graft.sources

import org.apache.spark.sql.SparkSession

/** Content-keyed naming for DERIVED stores (bucketed table twins, the IVF
  * model+index) so a derived artifact can never be served for data it was
  * not built from.
  *
  * Two failure modes motivate this:
  *   1. Sanitizing a data-dir path into an identifier (`[^A-Za-z0-9]` → `_`)
  *      maps distinct directories to the same name (`sf0.1` vs `sf0_1`), so
  *      one corpus's derived store could answer another corpus's query.
  *   2. A path-only key goes stale silently: regenerate the fixtures at the
  *      same path and an `exists()` check happily serves the OLD store.
  *
  * Embedding a digest of the source data files' (path, length, mtime) into
  * the derived name fixes both at once: distinct dirs get distinct names,
  * and changed data gets a NEW name — the stale store is never looked up
  * again (it lingers as an orphan, the standard cache-invalidation-by-
  * rename). This mirrors how table formats version data files: identity
  * follows content, not location.
  */
object Fingerprint {

  /** Digest-stamped identifier for `dir`'s tables: a readable sanitized
    * prefix plus an 8-hex digest over the data files of the named source
    * tables, as [[Tables.dataFiles]] lists them on any Hadoop file system
    * (local, `file:`, `hdfs://`, `s3a://`), each table's sorted by path. */
  def tag(spark: SparkSession, dir: String, tables: String*): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(dir.getBytes("UTF-8"))
    tables.sorted.foreach { t =>
      Tables.dataFiles(spark, Tables.path(dir, t)).toSeq
        .sortBy(_.getPath.toString).foreach { f =>
          md.update(s"${f.getPath}|${f.getLen}|${f.getModificationTime}"
            .getBytes("UTF-8"))
        }
    }
    val hex = md.digest().take(4).map(b => f"$b%02x").mkString
    s"${dir.replaceAll("[^A-Za-z0-9]", "_")}_$hex"
  }
}
