package graft

import java.nio.file.{Files, Path}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: the test JVM's one session ([[SparkSuite.spark]]).
  * Each suite starts with an empty cache, so a frame another suite left
  * cached cannot change its plans. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.spark

  /** A fresh directory under the test JVM's temp root. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(SparkSuite.root, prefix)

  val sf0001: String = SparkSuite.sf0001

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

  /** Call sites of the jobs `body` starts, read by a listener. The
    * listener bus is asynchronous but delivers in order, so a fence job
    * before `body` and one after it bound the list. */
  def jobsStartedBy(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val starts = new java.util.concurrent.LinkedBlockingQueue[String]()
    def prop(js: SparkListenerJobStart, k: String) =
      Option(js.properties).flatMap(p => Option(p.getProperty(k)))
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(prop(js, "graft.fence").map("fence:" + _).getOrElse(
          js.stageInfos.map(_.name).mkString(" + ")))
    }
    def fence(name: String): Unit = {
      sc.setLocalProperty("graft.fence", name)
      try spark.range(1).collect() finally sc.setLocalProperty("graft.fence", null)
    }
    def next(): String = Option(starts.poll(60,
      java.util.concurrent.TimeUnit.SECONDS)).getOrElse(fail("listener bus stalled"))
    sc.addSparkListener(listener)
    try {
      fence("begin")
      body
      fence("end")
      while (next() != "fence:begin") {}
      Iterator.continually(next()).takeWhile(_ != "fence:end")
        .filterNot(_.startsWith("fence:")).toSeq
    } finally sc.removeSparkListener(listener)
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.catalog.clearCache()
  }
}

object SparkSuite {
  val sf0001 = "/root/testdata/sf0.001"

  /** The engine's session ([[GraftSession]]) with the core count pinned
    * to 4, so test behaviour does not depend on the box; built once per
    * test JVM and shared by every suite (none stops it). */
  lazy val spark: SparkSession = {
    val s = GraftSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    // windows over group-sized inputs warn "No Partition Defined" on every
    // execution, about a thousand lines per run that bury the rest of the
    // log; PlanShapeSpec's partitionless-window check gates that condition
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }

  /** One temp root per test JVM, holding the shared warehouse and every
    * spec's [[SparkSuite.tempDir]]s; deleted when the (forked) test JVM
    * exits. */
  lazy val root: Path = {
    val r = Files.createTempDirectory("graft_test")
    sys.addShutdownHook(FileUtils.deleteQuietly(r.toFile))
    r
  }
}
