package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch-aligned nanosecond clock: `System.nanoTime` precision, but on the
  * same axis as the millisecond timestamps Spark puts on its events. */
object Clock {
  private val nano0 = System.nanoTime()
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  def now: Long = epochNs0 + (System.nanoTime() - nano0)
  def fromMs(ms: Long): Long = ms * 1000000L
}

/** A closed interval on the [[Clock]] axis. */
final case class Span(layer: String, label: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Readings that the JVM and Spark keep as running totals: codegen
  * compilations, GC time and the memo's live entries. Differences of two
  * samples give a window's share. */
final case class Counters(codegenClasses: Long, codegenSum: Double,
    gcMs: Long, memoEntries: Int) {
  def -(o: Counters): Counters = Counters(codegenClasses - o.codegenClasses,
    codegenSum - o.codegenSum, gcMs - o.gcMs, memoEntries - o.memoEntries)
}

object Counters {
  private val compile =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** Compile time sum in ms. The histogram's reservoir keeps every sample
    * until it holds 1028; past that the mean times the count is used. */
  def sample(): Counters = {
    val snap = compile.getSnapshot
    val n = compile.getCount
    val sum = if (n <= snap.size()) snap.getValues.map(_.toDouble).sum
      else snap.getMean * n
    Counters(n, sum, gcs.map(_.getCollectionTime.max(0L)).sum,
      graft.operators.SharedCorpus.liveEntries)
  }
}

/** Spans and listener records of one traced session, kept in memory and
  * aggregated over time windows at the end of the run. With `enabled`
  * false no listener is registered and only the benchmark's own spans are
  * kept. */
final class Tracer(val enabled: Boolean) {
  import Tracer.{Query, Task}
  private val spans = ArrayBuffer.empty[Span]
  private val queries = ArrayBuffer.empty[Query]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]
  private val jobs = ArrayBuffer.empty[(Long, Long)]
  private val stageEnds = ArrayBuffer.empty[Long]
  private val tasks = ArrayBuffer.empty[Task]

  def add(s: Span): Unit = synchronized { spans += s }
  def span[T](layer: String, label: String)(f: => T): T = {
    val t0 = Clock.now
    try f finally add(Span(layer, label, t0, Clock.now))
  }
  def spansOf(layer: String): Seq[Span] = synchronized(spans.filter(_.layer == layer).toSeq)
  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  private object queryListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) =>
        (k, (Clock.fromMs(p.startTimeMs), Clock.fromMs(p.endTimeMs)))
      }
      val topK = qe.optimizedPlan.find(_.isInstanceOf[graft.plans.TopKPerKey]).isDefined
      Tracer.this.synchronized { queries += Query(topK, phases) }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private object sparkListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized { jobStarts(e.jobId) = Clock.fromMs(e.time) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach(s => jobs += ((s, Clock.fromMs(e.time))))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageEnds += Clock.fromMs(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        tasks += Task(Clock.fromMs(e.taskInfo.finishTime), m.executorRunTime,
          m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
          m.peakExecutionMemory, m.inputMetrics.bytesRead)
      }
    }
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = Clock.fromMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      add(Span("streaming.batch", Option(p.name).getOrElse(p.id.toString),
        start, start + Clock.fromMs(ms)))
    }
  }

  private var context: Option[org.apache.spark.SparkContext] = None

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.listenerManager.register(queryListener)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    context = Some(spark.sparkContext)
  }

  /** Waits for the listener bus, so the aggregates below see every event
    * posted so far. */
  private def drain(): Unit = context.foreach(org.apache.spark.PerfbenchBridge.drainListenerBus)

  private def inside(t: Long, w: Span) = t >= w.start && t <= w.end

  /** Length of the union of `xs` clipped to `w`, in ns. */
  private def covered(xs: Seq[(Long, Long)], w: Span): Long = {
    val clipped = xs.map { case (a, b) => (a max w.start, b min w.end) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > ce) { if (ce > cs) total += ce - cs; cs = a; ce = b }
      else ce = ce max b
    }
    if (ce > cs) total += ce - cs
    total
  }

  private def jobsIn(w: Span) = synchronized(jobs.toSeq).filter { case (a, b) => b > w.start && a < w.end }

  /** Share of `w` covered by named spans: Catalyst phases and running jobs. */
  def coverage(w: Span): Double = {
    drain()
    val phases = synchronized(queries.toSeq).flatMap(_.phases.values)
    val len = w.end - w.start
    if (len <= 0) 1.0 else covered(phases ++ jobsIn(w), w).toDouble / len
  }

  /** Per-layer totals over the windows `ws` (listener records are
    * attributed by their timestamps). */
  def layers(ws: Seq[Span]): Map[String, Double] = {
    drain()
    val (qs, ts, ss) = synchronized((queries.toSeq, tasks.toSeq, stageEnds.toSeq))
    def phase(name: String) = qs.flatMap(_.phases.get(name))
      .filter(p => ws.exists(w => inside(p._1, w))).map(p => (p._2 - p._1) / 1e9).sum
    val wt = ts.filter(t => ws.exists(w => inside(t.finish, w)))
    val mb = 1024.0 * 1024.0
    val jobCount = ws.map(w => synchronized(jobs.toSeq).count(j => inside(j._1, w))).sum
    Map(
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimization_s" -> phase("optimization"),
      "catalyst.planning_s" -> phase("planning"),
      "scheduler.jobs" -> jobCount.toDouble,
      "scheduler.stages" -> ss.count(t => ws.exists(w => inside(t, w))).toDouble,
      "scheduler.tasks" -> wt.size.toDouble,
      "scheduler.driver_gap_s" ->
        ws.map(w => (w.end - w.start) - covered(jobsIn(w), w)).sum / 1e9,
      "plans.topk_rewrites" -> qs.count(q => q.hasTopK &&
        q.phases.get("planning").exists(p => ws.exists(w => inside(p._1, w)))).toDouble,
      "executor.run_s" -> wt.map(_.runMs).sum / 1e3,
      "executor.cpu_s" -> wt.map(_.cpuNs).sum / 1e9,
      "executor.gc_s" -> wt.map(_.gcMs).sum / 1e3,
      "executor.shuffle_read_mb" -> wt.map(_.shuffleRead).sum / mb,
      "executor.shuffle_write_mb" -> wt.map(_.shuffleWrite).sum / mb,
      "executor.spill_mb" -> wt.map(_.spill).sum / mb,
      "executor.peak_exec_mem_mb" -> (if (wt.isEmpty) 0.0 else wt.map(_.peakMem).max / mb),
      "sources.bytes_read_mb" -> wt.map(_.input).sum / mb)
  }
}

object Tracer {
  final case class Query(hasTopK: Boolean, phases: Map[String, (Long, Long)])
  final case class Task(finish: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, peakMem: Long,
      input: Long)
}

object Heap {
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala.find { p =>
    p.getType == java.lang.management.MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured"))
  }

  /** Old-generation MiB in use right after a full collection: the live set. */
  def liveMb(): Double = {
    // the second collection frees what the first one queued for Spark's
    // ContextCleaner (unreferenced checkpoint and shuffle state)
    System.gc()
    Thread.sleep(500)
    System.gc()
    val used = oldGen.map(_.getUsage.getUsed)
      .getOrElse(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    used / (1024.0 * 1024.0)
  }

  /** RDD storage held by the session (memo and `Eager` checkpoints), MiB. */
  def residentMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum /
      (1024.0 * 1024.0)
}
