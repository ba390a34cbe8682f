package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.DotProduct

/** Session-extension entry point: registers graft's native expressions into
  * the SQL function registry, so `SELECT graft_dot(a, b)` works in
  * `spark.sql(...)` exactly like a built-in — the standard plugin path for
  * a cluster-wide deployment:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or, in process: graft.GraftSession.builder().getOrCreate()
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.dotFunction)
    ext.injectFunction(GraftExtensions.cosineFunction)
    ext.injectFunction(GraftExtensions.simhashFunction)
    ext.injectFunction(GraftExtensions.heavyHittersFunction)
    ext.injectFunction(GraftExtensions.heavyHittersMergeFunction)
    ext.injectFunction(GraftExtensions.quantileSketchFunction)
    ext.injectFunction(GraftExtensions.quantileMergeFunction)
    ext.injectFunction(GraftExtensions.quantileEstimateFunction)
    ext.injectFunction(GraftExtensions.cmSketchFunction)
    ext.injectFunction(GraftExtensions.cmMergeFunction)
    ext.injectFunction(GraftExtensions.cmEstimateFunction)
    ext.injectFunction(GraftExtensions.gramFunction)
    // window-top-k → native TopKPerKey rewrite (+ the strategy that plans
    // the rewritten node): users keep the row_number() idiom, the engine
    // substitutes the partial-heap plan
    ext.injectOptimizerRule(_ => graft.plans.TopKRewriteRule)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}

object GraftExtensions {
  /** (name, info, builder) tuple for the `graft_dot` scalar function. */
  val dotFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(
      classOf[DotProduct].getCanonicalName, null, "graft_dot",
      "graft_dot(a, b) - dot product of two array<double> columns " +
        "(codegen'd; sequential fold).",
      "", "", "", "", "", "", "built-in"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        s"graft_dot requires exactly 2 arguments, got ${children.length}")
      DotProduct(children(0), children(1))
    })

  /** cosine(a,b) = dot/(√na·√nb) as an expression tree over [[DotProduct]]. */
  val cosineFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_cosine"),
    new ExpressionInfo(
      classOf[DotProduct].getCanonicalName, null, "graft_cosine",
      "graft_cosine(a, b) - cosine similarity of two array<double> columns.",
      "", "", "", "", "", "", "built-in"),
    (children: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions.{Divide, Multiply, Sqrt}
      require(children.length == 2,
        s"graft_cosine requires exactly 2 arguments, got ${children.length}")
      val (a, b) = (children(0), children(1))
      Divide(DotProduct(a, b),
        Multiply(Sqrt(DotProduct(a, a)), Sqrt(DotProduct(b, b))))
    })

  /** `graft_simhash(hash_col)` aggregate — the analyzer wraps a bare
    * AggregateFunction from a registry builder itself. */
  val simhashFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_simhash"),
    new ExpressionInfo(
      classOf[graft.functions.SimhashAgg].getCanonicalName, null, "graft_simhash",
      "graft_simhash(h) - SimHash fingerprint (long) of a group of 31-bit hashes.",
      "", "", "", "", "", "", "built-in"),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        s"graft_simhash requires exactly 1 argument, got ${children.length}")
      graft.functions.SimhashAgg(children.head)
    })

  /** `graft_heavy_hitters(col, capacity)` aggregate; capacity must fold
    * to an integer literal (it sizes the aggregation state). */
  val heavyHittersFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_heavy_hitters"),
    new ExpressionInfo(
      classOf[graft.functions.MisraGriesAgg].getCanonicalName, null, "graft_heavy_hitters",
      "graft_heavy_hitters(s, capacity) - Misra-Gries frequent-items summary " +
        "of a string column: array<struct<term,cnt>> sorted by count desc.",
      "", "", "", "", "", "", "built-in"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        s"graft_heavy_hitters requires exactly 2 arguments, got ${children.length}")
      require(children(1).foldable,
        "graft_heavy_hitters capacity must be a literal")
      val cap = children(1).eval() match {
        case b: Byte => b.toInt
        case s: Short => s.toInt
        case i: Int => i
        case l: Long => l.toInt
        case other => throw new IllegalArgumentException(
          s"graft_heavy_hitters capacity must be integral, got $other")
      }
      require(cap > 0,
        s"graft_heavy_hitters capacity must be positive, got $cap")
      graft.functions.MisraGriesAgg(children.head, cap)
    })

  /** `graft_heavy_hitters_merge(summary, capacity)` aggregate — rolls up
    * persisted graft_heavy_hitters summaries (mergeable-summaries rule);
    * capacity must fold to an integer literal. */
  val heavyHittersMergeFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_heavy_hitters_merge"),
    new ExpressionInfo(
      classOf[graft.functions.MisraGriesMergeAgg].getCanonicalName, null,
      "graft_heavy_hitters_merge",
      "graft_heavy_hitters_merge(summary, capacity) - merge persisted " +
        "Misra-Gries summaries (array<struct<term,cnt>>) into one.",
      "", "", "", "", "", "", "built-in"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        s"graft_heavy_hitters_merge requires exactly 2 arguments, got ${children.length}")
      require(children(1).foldable,
        "graft_heavy_hitters_merge capacity must be a literal")
      val cap = children(1).eval() match {
        case b: Byte => b.toInt
        case s: Short => s.toInt
        case i: Int => i
        case l: Long => l.toInt
        case other => throw new IllegalArgumentException(
          s"graft_heavy_hitters_merge capacity must be integral, got $other")
      }
      require(cap > 0,
        s"graft_heavy_hitters_merge capacity must be positive, got $cap")
      graft.functions.MisraGriesMergeAgg(children.head, cap)
    })

  /** Shared literal-extraction for registry builders whose argument sizes
    * or parameterizes aggregation state. */
  private def litDouble(e: Expression, what: String): Double = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case d: Double => d
      case f: Float => f.toDouble
      case de: org.apache.spark.sql.types.Decimal => de.toDouble
      case i: Int => i.toDouble
      case l: Long => l.toDouble
      case other => throw new IllegalArgumentException(
        s"$what must be numeric, got $other")
    }
  }

  /** `graft_quantile_sketch(v, alpha)` aggregate → binary DDSketch. */
  val quantileSketchFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_quantile_sketch"),
    new ExpressionInfo(
      classOf[graft.functions.QuantileSketchAgg].getCanonicalName, null,
      "graft_quantile_sketch",
      "graft_quantile_sketch(v, alpha) - mergeable relative-error quantile " +
        "sketch (binary) of a double column.",
      "", "", "", "", "", "", "built-in"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        s"graft_quantile_sketch requires exactly 2 arguments, got ${children.length}")
      graft.functions.QuantileSketchAgg(children.head,
        litDouble(children(1), "graft_quantile_sketch alpha"))
    })

  /** `graft_quantile_merge(sk)` aggregate — union stored sketches. */
  val quantileMergeFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_quantile_merge"),
    new ExpressionInfo(
      classOf[graft.functions.QuantileMergeAgg].getCanonicalName, null,
      "graft_quantile_merge",
      "graft_quantile_merge(sk) - merge stored quantile sketches (binary).",
      "", "", "", "", "", "", "built-in"),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        s"graft_quantile_merge requires exactly 1 argument, got ${children.length}")
      graft.functions.QuantileMergeAgg(children.head)
    })

  /** `graft_quantile_estimate(sk, q)` scalar — read a quantile out. */
  val quantileEstimateFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_quantile_estimate"),
    new ExpressionInfo(
      classOf[graft.functions.QuantileEstimate].getCanonicalName, null,
      "graft_quantile_estimate",
      "graft_quantile_estimate(sk, q) - quantile q from a (merged) sketch.",
      "", "", "", "", "", "", "built-in"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        s"graft_quantile_estimate requires exactly 2 arguments, got ${children.length}")
      // `0.5` parses as DECIMAL(1,1) and QuantileEstimate demands exact
      // DoubleType; coerce numeric q so callers don't need the 0.5D suffix
      import org.apache.spark.sql.catalyst.expressions.Cast
      import org.apache.spark.sql.types.{DoubleType, NumericType}
      val q = children(1).dataType match {
        case DoubleType => children(1)
        case _: NumericType => Cast(children(1), DoubleType)
        case _ => children(1) // let checkInputDataTypes report it
      }
      graft.functions.QuantileEstimate(children(0), q)
    })

  /** `graft_cm_sketch(key)` aggregate → binary Count-Min sketch. */
  val cmSketchFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_cm_sketch"),
    new ExpressionInfo(
      classOf[graft.functions.CountMinSketchAgg].getCanonicalName, null,
      "graft_cm_sketch",
      "graft_cm_sketch(key) - mergeable Count-Min frequency sketch (binary) " +
        "of a string column.",
      "", "", "", "", "", "", "built-in"),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        s"graft_cm_sketch requires exactly 1 argument, got ${children.length}")
      graft.functions.CountMinSketchAgg(children.head)
    })

  /** `graft_cm_merge(sk)` aggregate — union stored sketches. */
  val cmMergeFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_cm_merge"),
    new ExpressionInfo(
      classOf[graft.functions.CountMinMergeAgg].getCanonicalName, null,
      "graft_cm_merge",
      "graft_cm_merge(sk) - merge stored Count-Min sketches (binary).",
      "", "", "", "", "", "", "built-in"),
    (children: Seq[Expression]) => {
      require(children.length == 1,
        s"graft_cm_merge requires exactly 1 argument, got ${children.length}")
      graft.functions.CountMinMergeAgg(children.head)
    })

  /** `graft_cm_estimate(sk, key)` scalar — point-frequency lookup. */
  val cmEstimateFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_cm_estimate"),
    new ExpressionInfo(
      classOf[graft.functions.CountMinEstimate].getCanonicalName, null,
      "graft_cm_estimate",
      "graft_cm_estimate(sk, key) - estimated count of key in a (merged) " +
        "sketch; never underestimates.",
      "", "", "", "", "", "", "built-in"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        s"graft_cm_estimate requires exactly 2 arguments, got ${children.length}")
      graft.functions.CountMinEstimate(children(0), children(1))
    })

  /** `graft_gram(v, d)` aggregate — one-pass second-moment matrix of an
    * array<double> column; d must be a literal (it sizes the state). */
  val gramFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_gram"),
    new ExpressionInfo(
      classOf[graft.functions.GramMatrixAgg].getCanonicalName, null,
      "graft_gram",
      "graft_gram(v, d) - mergeable count/sums/upper-triangle-gram summary " +
        "of a d-dim array<double> column (the covariance/PCA input).",
      "", "", "", "", "", "", "built-in"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        s"graft_gram requires exactly 2 arguments, got ${children.length}")
      val dim = math.round(litDouble(children(1), "graft_gram dim")).toInt
      graft.functions.GramMatrixAgg(children.head, dim)
    })
}
