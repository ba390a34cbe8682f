package graft

import org.apache.spark.sql.functions._
import graft.operators.Eager
import scala.jdk.CollectionConverters._

/** Pins the contract of [[graft.operators.Eager]] — the eager
  * checkpoint helper every multi-consumer composite leans on since
  * round 9. Each test guards a behavior that a Spark upgrade or a
  * refactor of GraftSqlBridge could silently break. */
class EagerSpec extends SparkSuite {

  test("an Eager frame can be SELF-UNIONED (originConstraints stripped)") {
    // Dataset.localCheckpoint copies the pre-checkpoint plan's
    // constraints, whose ExpressionSets reference pre-checkpoint
    // exprIds; a self-union deduplicates the second occurrence via
    // newInstance and Union.rewriteConstraints then hits the stale ids —
    // `key not found: node#…` at ANALYSIS time. Eager strips them.
    // (ExtensionOps2Spec caught this live in dedup_cluster's distributed
    // path; this is the minimal reproducer kept as a regression gate.)
    val base = Eager(spark.range(10)
      .select(col("id").as("src"), (col("id") + 1).as("dst")))
    val sym = base.union(base.select(col("dst"), col("src")))
    assert(sym.count() === 20)
    // and through an aggregate + join round, the dedup_cluster shape
    val labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    val joined = sym.join(labels, col("src") === col("node"))
    assert(joined.count() === 20)
  }

  test("Eager records provenance: the pre-checkpoint plan is findable " +
      "behind the LogicalRDD leaf") {
    val pre = spark.range(100).groupBy((col("id") % 10).as("k"))
      .agg(count(lit(1)).as("n"))
    val ck = Eager(pre.toDF())
    val leaf = ck.queryExecution.analyzed
    val behind = Eager.planBehind(leaf)
    assert(behind.isDefined, s"no provenance for:\n$leaf")
    // the recorded plan is the AGGREGATE the checkpoint materialized —
    // what PlanShapeSpec's group-sized audit needs to see through
    assert(behind.get.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]),
      behind.get.toString)
  }

  test("Eager preserves stats: a small checkpointed frame still " +
      "auto-broadcasts (sizeInBytes is not defaultSizeInBytes)") {
    // stripping originStats along with the constraints would reset the
    // leaf's sizeInBytes to spark.sql.defaultSizeInBytes (Long.Max-ish),
    // silently demoting every size-based broadcast join over a
    // checkpointed frame to a shuffle
    val small = Eager(spark.range(50).select(col("id").as("k"),
      lit("x").as("tag")))
    val sz = small.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(sz < BigInt(10L * 1024 * 1024), s"sizeInBytes=$sz")
    val big = spark.range(100000).select((col("id") % 50).as("k"),
      col("id").as("v"))
    val plan = big.join(small, "k").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("Eager frames execute once: the checkpoint leaf has no lineage " +
      "back to the input (re-scan is structurally impossible)") {
    val ck = Eager(Tables0.docs(spark, sf0001))
    val leaves = ck.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size === 1)
    assert(leaves.head.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      leaves.head.getClass.toString)
    // three downstream consumers all bottom out in the same leaf class —
    // no parquet relation anywhere
    val fanout = ck.groupBy("lang").count()
      .union(ck.groupBy("lang").count())
      .union(ck.groupBy("lang").count())
    val scans = fanout.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
    }
    assert(scans.isEmpty)
  }

  test("Eager is idempotent: Eager(Eager(x)) checkpoints once and " +
      "returns the inner frame") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val once = Eager(spark.range(40).select((col("id") % 7).as("k")))
    val twice = Eager(once)
    assert(twice eq once)
    // every local checkpoint registers its RDD with the SparkContext;
    // ContextCleaner can only remove ids, so new ids count checkpoints
    assert((sc.getPersistentRDDs.keySet -- before).size === 1)
  }

  test("a memo value is an Eager leaf with provenance") {
    val v = graft.operators.SharedCorpus.memo(spark, "eager_spec_leaf",
      sf0001, "documents")(Tables0.docs(spark, sf0001).groupBy("lang")
        .count())
    val leaf = v.queryExecution.analyzed
    assert(leaf.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      leaf.getClass.toString)
    val behind = Eager.planBehind(leaf)
    assert(behind.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate])),
      s"no provenance for:\n$leaf")
  }

  private def sources(root: String): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally s.close()
  }
  private def text(p: java.nio.file.Path) =
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")

  test("one materialization layer: `.localCheckpoint(` appears in " +
      "src/main only inside Eager, and graft.ml keeps no model cache") {
    val main = sources("src/main/scala")
    assert(main.nonEmpty, "run from the repository root")
    val checkpointing = main.filter(p => text(p).contains(".localCheckpoint("))
      .map(_.getFileName.toString)
    assert(checkpointing === Seq("Eager.scala"))
    val mlCaches = sources("src/main/scala/graft/ml")
      .filter(p => text(p).contains("ConcurrentHashMap"))
    assert(mlCaches.isEmpty, mlCaches.mkString(", "))
    // every derived store is ensured through Layout.ensureStore: none
    // lives under a hard-coded /tmp root, and none is taken as complete
    // because its directory exists
    val exists = "File\\([^)]*\\)\\.exists".r
    val bypass = main.filter { p =>
      val t = text(p)
      t.contains("\"/tmp") || exists.findFirstIn(t).nonEmpty
    }.map(_.getFileName.toString)
    assert(bypass.isEmpty, bypass.mkString(", "))
  }

  test("one schema source: outside Tables, src/main infers a parquet " +
      "schema only where the input holds several schemas by design") {
    // a `spark.read` chain without `.schema(` that ends in `.parquet(`,
    // over the text with its whole-line comments removed
    val inferring = """spark\.read((?:\s*\.\w+\([^()]*\))*)\s*\.parquet\(""".r
    val counts = sources("src/main/scala")
      .filterNot(_.getFileName.toString == "Tables.scala")
      .map { p =>
        val code = text(p).replaceAll("(?m)^\\s*//.*$", "")
        p.getFileName.toString -> inferring.findAllMatchIn(code)
          .count(m => !m.group(1).contains(".schema("))
      }.filter(_._2 > 0).toMap
    assert(counts === Map(
      // scanCorruptTolerant (a poisoned member), scanSchemaEvolution
      // (mergeSchema over two generations)
      "RelationalOps.scala" -> 2,
      // compact: any parquet store, flat or partitioned
      "Layout.scala" -> 1,
      // the streaming day stores, appended to across schema revisions
      "IngestPipeline.scala" -> 3))
  }

  test("source reads without side effects: src/main never writes the " +
      "session conf, lists data files only in Tables, and graft.sources " +
      "never uses java.io.File") {
    val main = sources("src/main/scala")
    assert(main.nonEmpty, "run from the repository root")
    def mentioning(ps: Seq[java.nio.file.Path], s: String) =
      ps.filter(p => text(p).contains(s)).map(_.getFileName.toString)
    assert(mentioning(main, "spark.conf.set(").isEmpty)
    // a hand-rolled data-file listing filters by the part files' suffix
    assert(mentioning(main, "endsWith(\".parquet\")").isEmpty)
    assert(mentioning(sources("src/main/scala/graft/sources"), "java.io.File")
      .isEmpty)
  }

  test("one store layer: outside Layout, src/main names no .tmp/.bak " +
      "swap directory and calls no swapDir/recoverDir") {
    val main = sources("src/main/scala")
    assert(main.nonEmpty, "run from the repository root")
    // a string literal (interpolated or not) holding `.tmp` or `.bak`, or
    // a swap call, over the text with its whole-line comments removed
    val naming = "\"[^\"\\n]*\\.(?:tmp|bak)\\b[^\"\\n]*\"".r
    val swapping = "\\b(?:swapDir|recoverDir)\\(".r
    val offenders = main.filterNot(_.endsWith("graft/sources/Layout.scala"))
      .filter { p =>
        val code = text(p).replaceAll("(?m)^\\s*(?://|\\*|/\\*).*$", "")
        (naming.findFirstIn(code) ++ swapping.findFirstIn(code)).nonEmpty
      }.map(_.getFileName.toString)
    assert(offenders.isEmpty, offenders.mkString(", "))
  }

  test("one definition per shared rule: each rule several oracles or " +
      "frames state is written once in src/main") {
    val main = sources("src/main/scala")
    assert(main.nonEmpty, "run from the repository root")
    val code = main.map(p =>
      text(p).replaceAll("(?m)^\\s*(?://|\\*|/\\*).*$", "")).mkString("\n")
    def count(s: String) = s.r.findAllMatchIn(code).size
    def quoted(s: String) = java.util.regex.Pattern.quote(s)
    // the DuckDB tokenizer in either spelling: a plain literal's `\s`
    // and an interpolated one's `\\s`
    val rules = Map(
      "the DuckDB tokenizer" ->
        (quoted("string_split_regex(trim(lower(text)), '") + """\\{1,2}s\+'\)"""),
      "the Spark tokenizer" -> quoted("split(trim(lower(col(\"text\"))), \"\\\\s+\")"),
      "the session break" -> quoted("OVER w > 1800000000"),
      "the latest-click as-of oracle" ->
        quoted("max(CASE WHEN event_type = 'click' THEN us END) OVER ("),
      "the subtotal oracle" -> quoted("CAST(grouping(l_returnflag) AS INTEGER)"),
      "the subtotal frame" -> quoted("grouping(col(\"l_returnflag\")).cast(\"int\")"),
      "the user day spine" -> quoted("sequence(d0, d1, interval 1 day)"),
      "the trade-graph edges oracle" ->
        quoted("SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst"),
      "the MinHash oracle hash" -> quoted("((2*i + 1) * sid + 17*i + 7)"),
      "the SimHash oracle hash" -> quoted("(sid * 1103515245 + 12345)"),
      "the anchor sample oracle" ->
        quoted("ORDER BY (vec_id % 2147483648) * 2654435761 % 2147483648"),
      "the Croston oracle recursion" -> quoted("max(CASE WHEN t = 2 THEN d END)"),
      "the weekday grid oracle" -> quoted("% 7 + 7) % 7 AS dow"),
      "the Kaplan-Meier step" -> quoted("ln(1.0 - cast(d as double) / n_risk)"),
      "the true range" -> quoted("abs(col(\"h\") - col(\"pc\"))"),
      "the endpoint degree join" ->
        quoted("deg.select(col(\"node\").as(\"u\"), col(\"d\").as(\"du\"))"),
      "the word trigram" -> quoted("i -> concat(toks[i-1], ' ', toks[i], ' ', toks[i+1])"),
      "the Bloom word mask" -> quoted("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"),
      "the Pearson sums" -> quoted("sum(x * y).cast(\"double\").as(\"sxy\")"))
    val restated = rules.map { case (rule, re) => rule -> count(re) }
      .filter(_._2 != 1)
    assert(restated.isEmpty, restated.mkString(", "))
  }

  private object Tables0 {
    def docs(spark: org.apache.spark.sql.SparkSession, dir: String) =
      graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("lang"))
  }
}
