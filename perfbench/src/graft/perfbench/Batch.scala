package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The `dashboard` and `corpus` workloads: a cold pass over a fixed key
  * set, then warm passes, each key timed as `graft.Bench` times it
  * (`clearCache`, build the frame, `.count()`), its output checked after
  * the timed region. */
object Batch {

  /** Reference-surface, TPC-H and store-backed keys: short queries whose
    * cost is Catalyst, codegen, scheduling and the `sources` layouts. No
    * key here touches a memo. */
  val Dashboard: Seq[String] = Seq(
    "value_counts", "groupby_avg", "summary_stats", "pivot_matrix",
    "lookup_join", "flagship_revenue", "tpch_q1", "tpch_q3",
    "scan_pruned_day")

  /** Text, dedup and graph keys that share memoized corpus state, so the
    * cold pass pays the memo builds and the warm passes read them, plus
    * one store-backed scan so setup includes a `sources` layout build. */
  val Corpus: Seq[String] = Seq(
    "text_bm25", "text_tfidf", "text_burstiness",
    "dedup_minhash", "graph_degree_dist", "scan_pruned_day")

  final case class Call(pass: Int, key: String, window: Span,
      buildS: Double, execS: Double, delta: Counters, ok: Boolean)
  final case class Pass(index: Int, liveMb: Double, residentMb: Double)
  final case class Outcome(calls: Seq[Call], passes: Seq[Pass],
      failures: Seq[String], digests: Map[String, (Long, String)])

  /** Order-insensitive digest of a frame's rows: (row count, the sums of
    * the low and high halves of each row's xxhash64). Map columns are
    * hashed through their JSON form, which xxhash64 accepts. */
  def digest(df: DataFrame): (Long, String) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val r = named.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    def part(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    (r.getLong(0), s"${part(1)}:${part(2)}")
  }

  /** Warm passes the JIT is still compiling through; the warm metrics are
    * read from the passes after them. */
  val SettlePasses = 2

  /** Warm passes for a run of `seconds`: a fixed count, so every run does
    * the same work. */
  def warmPasses(seconds: Double): Int =
    math.max(SettlePasses + 2, math.round(seconds / 4).toInt)

  /** The warm passes after the settle passes, for warm passes `1..last`. */
  def steadyPasses(last: Int): Range = (SettlePasses + 1) to last

  def run(spark: SparkSession, dir: String, keys: Seq[String], seed: Long,
      seconds: Double, tracer: Tracer,
      expected: Map[String, (Long, String)]): Outcome = {
    val fns = graft.SparkEntry.queries
    val rnd = new scala.util.Random(seed)
    val calls = ArrayBuffer.empty[Call]
    val passes = ArrayBuffer.empty[Pass]
    val failures = ArrayBuffer.empty[String]
    val rowsOf = scala.collection.mutable.Map.empty[String, Long]
    val digests = scala.collection.mutable.Map.empty[String, (Long, String)]
    def fail(key: String, pass: Int, what: String): Boolean = {
      failures += s"$key pass $pass: $what"; false
    }
    val last = warmPasses(seconds)
    (0 to last).foreach { pass =>
      var frames = rnd.shuffle(keys).map { key =>
        spark.catalog.clearCache()
        val c0 = Counters.sample()
        val t0 = Clock.now
        var t1 = t0
        var rows = -1L
        var df: DataFrame = null
        val ran = try {
          df = fns(key)(spark, dir)
          t1 = Clock.now
          rows = df.count()
          true
        } catch {
          case e: Throwable => fail(key, pass, s"${e.getClass.getName}: ${e.getMessage}")
        }
        val t2 = Clock.now
        val delta = Counters.sample() - c0
        tracer.add(Span("operators.build", key, t0, t1))
        tracer.add(Span("operators.exec", key, t1, t2))
        // the row count every pass must match the first pass and the
        // stored count
        val ok = ran && {
          val want = expected.get(key).map(_._1).getOrElse(rowsOf.getOrElseUpdate(key, rows))
          rowsOf.getOrElseUpdate(key, rows) == rows && want == rows ||
            fail(key, pass, s"count() gave $rows rows, expected $want")
        }
        calls += Call(pass, key, Span("key", key, t0, t2), (t1 - t0) / 1e9,
          (t2 - t1) / 1e9, delta, ok)
        key -> (if (ok) Some(df) else None)
      }
      // full digests after the cold pass and after the last pass, outside
      // the timed region and after the pass so they do not warm the next key
      if (pass == 0 || pass == last) frames.foreach {
        case (key, Some(df)) =>
          val d = digest(df)
          val problems = Seq(
            digests.get(key).filter(_ != d).map(p => s"digest $d differs from the cold pass's $p"),
            expected.get(key) match {
              case None => Some("no stored digest")
              case Some(e) => Option.when(e != d)(s"digest $d differs from stored $e")
            }).flatten
          digests.getOrElseUpdate(key, d)
          if (problems.nonEmpty) {
            problems.foreach(fail(key, pass, _))
            val i = calls.lastIndexWhere(c => c.key == key && c.pass == pass)
            calls(i) = calls(i).copy(ok = false)
          }
        case _ =>
      }
      frames = Nil
      // the live heap after the cold pass and after the last one, with this
      // pass's frames released
      val sampled = pass == 0 || pass == last
      passes += Pass(pass, if (sampled) Heap.liveMb() else 0.0, Heap.residentMb(spark))
    }
    Outcome(calls.toSeq, passes.toSeq, failures.toSeq, digests.toMap)
  }

}
