package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated key subset (dev iteration only;
    // the driver always runs the full inventory with two args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(SparkEntry.lookup(args(2).split(",").toSeq)
        .map(_.name).toSet) else None
    val spark = GraftSession.builder().getOrCreate()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    spark.stop()
  }

  /** [[SparkEntry.oracleSql]] as a JSON object, keys sorted so dumps
    * diff cleanly. */
  def oracleJson: String = new ObjectMapper().writeValueAsString(
    new java.util.TreeMap[String, String](SparkEntry.oracleSql.asJava))
}
