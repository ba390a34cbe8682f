package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the Spark implementation, the DuckDB
  * SQL that must return the same rows (absent for the rows-only keys that
  * specs pin instead), and the offline store a deployment builds before
  * serving it (Bench runs it ahead of the timed reps). */
final case class Key(name: String, run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    prep: Option[(SparkSession, String) => Unit] = None)
