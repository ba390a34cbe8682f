package graft.perfbench

import java.nio.file.Paths
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Benchmark entry point: one workload in this JVM, results to a JSON file.
  *
  * `--workload dashboard|corpus|stream_ingest --seed N --seconds S
  *  --trace 0|1 --cpus C --work DIR --out FILE [--expected FILE]
  *  [--record FILE]`
  *
  * `DIR/data` holds the input tables. Setup runs once and counts from
  * process start, so JVM boot and class loading are part of it. With
  * `--record` the batch keys' digests are written to FILE instead of
  * being checked. */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val (seed, seconds) = (opt("seed").toLong, opt("seconds").toDouble)
    val trace = opt("trace") == "1"
    val work = opt("work")
    val keys = workload match {
      case "dashboard" => Batch.Dashboard
      case "corpus" => Batch.Corpus
      case "stream_ingest" => Seq.empty[String]
      case w => sys.error(s"unknown workload $w")
    }
    val record = opt.get("record")
    val expected = if (record.isDefined) None else opt.get("expected").map(readExpected)

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val dir = Paths.get(work, "data").toString
    val (spark, setup) = Setup.run(opt("cpus").toInt, dir, keys)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(trace)
    tracer.attach(spark)

    val setupLayers = ListMap(
      "setup.jvm_s" -> (setupS - setup.totalS),
      "setup.session_s" -> setup.sessionS,
      "setup.warmup_s" -> setup.warmupS,
      "sources.prep_s" -> setup.prepS.map(_._2).sum)

    val result: ListMap[String, Any] =
      if (workload == "stream_ingest")
        Stream.run(spark, Paths.get(work, "stream"), seed, seconds, tracer)
      else {
        val out = Batch.run(spark, dir, keys, seed, seconds, tracer,
          expected.getOrElse(Map.empty))
        record.foreach(writeExpected(_, out.digests))
        batchResult(out, tracer)
      }

    val metrics = ListMap("setup_s" -> setupS) ++
      result("metrics").asInstanceOf[ListMap[String, Double]]
    val layers = setupLayers ++ result("layers").asInstanceOf[ListMap[String, Double]]
    val doc = ListMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "stamp" -> ListMap(
        "nproc" -> opt("cpus").toInt,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jvm" -> (System.getProperty("java.vm.name") + " " +
          System.getProperty("java.runtime.version")),
        "spark" -> spark.version),
      "attempted" -> result("attempted"), "failed" -> result("failed"),
      "failures" -> result("failures"),
      "metrics" -> metrics.map { case (k, v) => k -> withUnit(k, v) },
      "layers" -> (if (trace) layers.map { case (k, v) => k -> withUnit(k, v) } else ListMap.empty),
      "setup" -> (setupLayers ++ ListMap("total_s" -> setupS, "prep_s" -> ListMap(setup.prepS: _*))),
      "detail" -> result.getOrElse("detail", ListMap.empty),
      "spans" -> (if (trace) tracer.allSpans.map(s =>
        ListMap("layer" -> s.layer, "label" -> s.label, "start_ns" -> s.start,
          "dur_s" -> s.seconds)) else Seq.empty))
    mapper.writeValue(new java.io.File(opt("out")), doc)
    spark.stop()
  }

  /** Aggregates of a batch run: end-to-end metrics over the timed regions
    * of the cold pass and of the steady warm passes; per-layer figures for
    * the cold pass and per steady pass. */
  private def batchResult(out: Batch.Outcome, tracer: Tracer): ListMap[String, Any] = {
    val steady = Batch.steadyPasses(out.passes.last.index)
    val cold = out.calls.filter(_.pass == 0)
    val warm = out.calls.filter(c => steady.contains(c.pass))
    val warmPasses = warm.groupBy(_.pass).values.toSeq
    val warmWalls = warm.map(_.window.seconds)
    val metrics = ListMap(
      "cold_pass_s" -> cold.map(_.window.seconds).sum,
      "warm_pass_s" -> warm.groupBy(_.key).values.map(cs => median(cs.map(_.window.seconds))).sum,
      "query_p50_s" -> quantile(warmWalls, 0.5),
      "query_p90_s" -> quantile(warmWalls, 0.9),
      "query_samples" -> warmWalls.size.toDouble,
      "warm_passes" -> out.passes.last.index.toDouble,
      "steady_passes" -> warmPasses.size.toDouble,
      "failed_frac" -> out.calls.count(!_.ok).toDouble / out.calls.size,
      "peak_heap_mb" -> out.passes.map(_.liveMb).max)
    def layersOf(cs: Seq[Batch.Call], resident: Double): Map[String, Double] = {
      val listened: Map[String, Double] =
        if (tracer.enabled) tracer.layers(cs.map(_.window)) else Map.empty
      listened ++ Map(
        "codegen.compile_s" -> cs.map(_.delta.codegenSum).sum / 1e3,
        "codegen.classes" -> cs.map(_.delta.codegenClasses).sum.toDouble,
        "operators.build_s" -> cs.map(_.buildS).sum,
        "operators.exec_s" -> cs.map(_.execS).sum,
        "memo.builds" -> cs.count(_.delta.memoEntries > 0).toDouble,
        "memo.entries" -> cs.map(_.delta.memoEntries).sum.toDouble,
        "memo.resident_mb" -> resident,
        "jvm.gc_s" -> cs.map(_.delta.gcMs).sum / 1e3)
    }
    val nWarm = warmPasses.size.max(1)
    val warmLayers = layersOf(warm, out.passes.last.residentMb).map { case (k, v) =>
      k -> (if (k == "memo.resident_mb" || k == "executor.peak_exec_mem_mb") v else v / nWarm)
    }
    val keyDetail = out.calls.groupBy(_.key).toSeq.sortBy(_._1).map { case (k, cs) =>
      k -> ListMap(
        "rows_digest" -> out.digests.get(k).map { case (n, d) => s"$n/$d" },
        "wall_s" -> cs.sortBy(_.pass).map(_.window.seconds),
        "named_span_share" -> (if (tracer.enabled) cs.sortBy(_.pass).map(c =>
          tracer.coverage(c.window)) else Seq.empty))
    }
    ListMap(
      "metrics" -> metrics,
      "layers" -> phased(layersOf(cold, out.passes.head.residentMb), warmLayers),
      "attempted" -> out.calls.size, "failed" -> out.calls.count(!_.ok),
      "failures" -> out.failures,
      "detail" -> ListMap("keys" -> ListMap(keyDetail: _*)))
  }

  /** Every per-layer metric, named `cold.<layer>` and `warm.<layer>`; the
    * ones a phase does not produce read 0. */
  val LayerNames: Seq[String] = Seq(
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.driver_gap_s",
    "codegen.compile_s", "codegen.classes", "plans.topk_rewrites",
    "operators.build_s", "operators.exec_s",
    "memo.builds", "memo.entries", "memo.resident_mb",
    "executor.run_s", "executor.cpu_s", "executor.gc_s",
    "executor.shuffle_read_mb", "executor.shuffle_write_mb", "executor.spill_mb",
    "executor.peak_exec_mem_mb", "sources.bytes_read_mb",
    "streaming.batches", "streaming.input_rows", "streaming.add_batch_s",
    "streaming.query_planning_s", "streaming.wal_commit_s", "streaming.latest_offset_s",
    "streaming.state_rows", "streaming.backlog_files_end",
    "store.upsert_s", "store.touched_buckets", "store.files_end",
    "jvm.gc_s")

  def phased(cold: Map[String, Double], warm: Map[String, Double]): ListMap[String, Double] =
    ListMap(LayerNames.map(n => s"cold.$n" -> cold.getOrElse(n, 0.0)) ++
      LayerNames.map(n => s"warm.$n" -> warm.getOrElse(n, 0.0)): _*)

  def withUnit(name: String, v: Double): ListMap[String, Any] = {
    val unit =
      if (name.endsWith("_per_s")) "rows/s"
      else if (name.endsWith("_s")) "s"
      else if (name.endsWith("_mb")) "MiB"
      else if (name.endsWith("_frac")) "ratio"
      else "count"
    ListMap("value" -> v, "unit" -> unit)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = (lo + 1).min(s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def readExpected(path: String): Map[String, (Long, String)] = {
    val root = mapper.readTree(new java.io.File(path))
    root.get("keys").properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("digest").asText)
    }.toMap
  }

  private def writeExpected(path: String, digests: Map[String, (Long, String)]): Unit =
    mapper.writeValue(new java.io.File(path), ListMap("keys" -> ListMap(
      digests.toSeq.sortBy(_._1).map { case (k, (n, d)) =>
        k -> ListMap("rows" -> n, "digest" -> d)
      }: _*)))
}
