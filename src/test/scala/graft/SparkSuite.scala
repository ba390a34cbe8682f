package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: the engine's session ([[GraftSession]]) with the
  * core count pinned to 4, so test behaviour does not depend on the box.
  * Every suite in the JVM shares it; each suite starts with an empty cache,
  * so a frame another suite left cached cannot change its plans. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()

  val sf0001 = "/root/testdata/sf0.001"

  /** Collects a window-form reference after asserting that the TopKPerKey
    * rewrite left its plan alone, so a test never checks the native
    * operator against itself. The shared session always installs the
    * rewrite; an extra `rn > 0` conjunct (`rn <= k AND rn > 0`) keeps it
    * off. */
  def windowReference(df: DataFrame): Array[Row] = {
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("FinalTopK"), plan.take(1500))
    df.collect()
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.catalog.clearCache()
  }
}
