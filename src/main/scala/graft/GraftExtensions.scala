package graft

import org.apache.spark.sql.{GraftSqlBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Divide, Expression, ExpressionInfo, Multiply, Sqrt}
import org.apache.spark.sql.types.{Decimal, DoubleType, NumericType}
import graft.functions._

/** Session-extension entry point, the standard plugin path for a
  * cluster-wide deployment. It installs:
  *
  *  - every `graft_*` function of [[GraftExtensions.functions]] into the
  *    SQL function registry, so `SELECT graft_dot(a, b)` works in
  *    `spark.sql(...)` exactly like a built-in;
  *  - the window-top-k rewrite ([[graft.plans.TopKRewriteRule]]) and the
  *    strategy that plans its node ([[graft.plans.TopKStrategy]]);
  *  - on the active SparkContext's Hadoop conf, the `file:` file systems
  *    of [[graft.sources.LocalFileSystems]], which start no `chmod` or
  *    `readlink` child process per file.
  *
  * The file systems go in only while `fs.file.impl` and
  * `fs.AbstractFileSystem.file.impl` still hold Hadoop's defaults, and
  * Hadoop caches a `FileSystem` per scheme: a caller who created a `file:`
  * `FileSystem` before the session existed keeps Hadoop's. Such a caller
  * can set both keys explicitly, as the spark-submit line below does.
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions \
  *     --conf spark.hadoop.fs.file.impl=graft.sources.NioLocalFileSystem \
  *     --conf spark.hadoop.fs.AbstractFileSystem.file.impl=graft.sources.NioLocalFs ...
  *   // or, in process: graft.GraftSession.builder().getOrCreate()
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(f => ext.injectFunction(f.registration))
    // window-top-k → native TopKPerKey rewrite (+ the strategy that plans
    // the rewritten node): users keep the row_number() idiom, the engine
    // substitutes the partial-heap plan
    ext.injectOptimizerRule(_ => graft.plans.TopKRewriteRule)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    GraftSqlBridge.activeSparkContext
      .foreach(sc => graft.sources.LocalFileSystems.install(sc.hadoopConfiguration))
  }
}

object GraftExtensions {

  /** One registered function: its SQL name, usage text, implementing
    * class and argument count, and the builder over exactly that many
    * arguments. */
  final case class Fn(name: String, usage: String, cls: Class[_], arity: Int)(
      build: Seq[Expression] => Expression) {
    def registration: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
      FunctionIdentifier(name),
      new ExpressionInfo(cls.getCanonicalName, null, name, usage,
        "", "", "", "", "", "", "built-in"),
      (children: Seq[Expression]) => {
        require(children.length == arity, s"$name requires exactly $arity " +
          s"argument${if (arity == 1) "" else "s"}, got ${children.length}")
        build(children)
      })
  }

  /** The value of literal argument `e`, named `what` in errors, for a
    * builder whose argument sizes or parameterizes aggregation state: an
    * integer type as an Int if `integral`, else any number as a Double. */
  private def literal(e: Expression, what: String, integral: Boolean): Any = {
    require(e.foldable, s"$what must be a literal")
    (e.eval(), integral) match {
      case (n @ (_: Byte | _: Short | _: Int | _: Long), true) =>
        n.asInstanceOf[Number].intValue
      case (n @ (_: Int | _: Long | _: Float | _: Double), false) =>
        n.asInstanceOf[Number].doubleValue
      case (d: Decimal, false) => d.toDouble
      case (other, _) => throw new IllegalArgumentException(
        s"$what must be ${if (integral) "integral" else "numeric"}, got $other")
    }
  }

  private def litDouble(e: Expression, what: String): Double =
    literal(e, what, integral = false).asInstanceOf[Double]

  /** A Misra-Gries capacity: a positive integral literal. */
  private def capacity(name: String, e: Expression): Int = {
    val cap = literal(e, s"$name capacity", integral = true).asInstanceOf[Int]
    require(cap > 0, s"$name capacity must be positive, got $cap")
    cap
  }

  val functions: Seq[Fn] = Seq(
    Fn("graft_dot", "graft_dot(a, b) - dot product of two array<double> columns " +
      "(codegen'd; sequential fold).", classOf[DotProduct], 2)(c => DotProduct(c(0), c(1))),
    // cosine(a,b) = dot/(√na·√nb) as an expression tree over DotProduct
    Fn("graft_cosine", "graft_cosine(a, b) - cosine similarity of two " +
      "array<double> columns.", classOf[DotProduct], 2) { case Seq(a, b) =>
      Divide(DotProduct(a, b), Multiply(Sqrt(DotProduct(a, a)), Sqrt(DotProduct(b, b))))
    },
    // an aggregate: the analyzer wraps a bare AggregateFunction itself
    Fn("graft_simhash", "graft_simhash(h) - SimHash fingerprint (long) of a " +
      "group of 31-bit hashes.", classOf[SimhashAgg], 1)(c => SimhashAgg(c(0))),
    Fn("graft_heavy_hitters", "graft_heavy_hitters(s, capacity) - Misra-Gries " +
      "frequent-items summary of a string column: array<struct<term,cnt>> " +
      "sorted by count desc.", classOf[SummaryAgg[_]], 2)(c =>
      SummaryAgg(c(0), MisraGries(capacity("graft_heavy_hitters", c(1))), stored = false)),
    Fn("graft_heavy_hitters_merge", "graft_heavy_hitters_merge(summary, capacity) - " +
      "merge persisted Misra-Gries summaries (array<struct<term,cnt>>) into one.",
      classOf[SummaryAgg[_]], 2)(c =>
      SummaryAgg(c(0), MisraGries(capacity("graft_heavy_hitters_merge", c(1))), stored = true)),
    Fn("graft_quantile_sketch", "graft_quantile_sketch(v, alpha) - mergeable " +
      "relative-error quantile sketch (binary) of a double column.",
      classOf[SummaryAgg[_]], 2)(c => SummaryAgg(c(0),
      DDSketch(Some(litDouble(c(1), "graft_quantile_sketch alpha"))), stored = false)),
    Fn("graft_quantile_merge", "graft_quantile_merge(sk) - merge stored quantile " +
      "sketches (binary).", classOf[SummaryAgg[_]], 1)(c =>
      SummaryAgg(c(0), DDSketch(None), stored = true)),
    Fn("graft_quantile_estimate", "graft_quantile_estimate(sk, q) - quantile q " +
      "from a (merged) sketch.", classOf[QuantileEstimate], 2) { case Seq(sk, q) =>
      // `0.5` parses as DECIMAL(1,1) and QuantileEstimate demands exact
      // DoubleType; coerce numeric q so callers don't need the 0.5D suffix
      QuantileEstimate(sk, q.dataType match {
        case DoubleType => q
        case _: NumericType => Cast(q, DoubleType)
        case _ => q // let checkInputDataTypes report it
      })
    },
    Fn("graft_cm_sketch", "graft_cm_sketch(key) - mergeable Count-Min frequency " +
      "sketch (binary) of a string column.", classOf[SummaryAgg[_]], 1)(c =>
      SummaryAgg(c(0), CountMin, stored = false)),
    Fn("graft_cm_merge", "graft_cm_merge(sk) - merge stored Count-Min sketches " +
      "(binary).", classOf[SummaryAgg[_]], 1)(c => SummaryAgg(c(0), CountMin, stored = true)),
    Fn("graft_cm_estimate", "graft_cm_estimate(sk, key) - estimated count of key " +
      "in a (merged) sketch; never underestimates.", classOf[CountMinEstimate], 2)(c =>
      CountMinEstimate(c(0), c(1))),
    // d sizes the aggregation state
    Fn("graft_gram", "graft_gram(v, d) - mergeable count/sums/upper-triangle-gram " +
      "summary of a d-dim array<double> column (the covariance/PCA input).",
      classOf[GramMatrixAgg], 2)(c =>
      GramMatrixAgg(c(0), math.round(litDouble(c(1), "graft_gram dim")).toInt)))
}
