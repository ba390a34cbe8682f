package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for `Σ aᵢ·bᵢ` over two `array<double>`
  * columns — the hot inner loop of every cosine-similarity operator
  * (SURVEY.md §2.10 sim_search / dedup_embed).
  *
  * Why a custom Expression (preference order (b) from the build charter):
  * the composed built-in form `aggregate(zip_with(a, b, (x,y) -> x*y), ...)`
  * allocates an intermediate array and evaluates a lambda per element in
  * the interpreter; this expression is a tight primitive loop that
  * whole-stage codegen inlines straight into the generated row consumer.
  * Summation order is the same sequential left-to-right fold, so results
  * are bit-identical to the HOF form (and to DuckDB's list functions) —
  * swapping it in cannot change any oracle answer.
  *
  * Nulls: a null array on either side yields null (BinaryExpression's
  * null-intolerant default); null ELEMENTS are not expected (embeddings
  * are dense) and read as 0.0 per ArrayData.getDouble semantics.
  */
case class DotProduct(left: Expression, right: Expression)
    extends ArrayPairSum {

  override def prettyName: String = "graft_dot"

  override protected def term(x: Double, y: Double): Double = x * y

  override protected def termCode(ctx: CodegenContext, x: String, y: String,
      s: String): String = s"$s += $x * $y;"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  import org.apache.spark.sql.GraftSqlBridge

  /** Column-API entry point: `dot(a, b)`. */
  def apply(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      DotProduct(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}

/** The shared shape of [[DotProduct]] and [[Dist2]]: a double sum over
  * two `array<double>` columns of one term per element pair, up to the
  * shorter length, folded left to right in both the interpreted and the
  * generated path. A subclass states its term once for each path. */
private[functions] trait ArrayPairSum extends BinaryExpression {

  /** The summand of elements `x` and `y`. */
  protected def term(x: Double, y: Double): Double

  /** Java statements adding the summand of `x` and `y` to `s`. */
  protected def termCode(ctx: CodegenContext, x: String, y: String,
      s: String): String

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += term(x.getDouble(i), y.getDouble(i)); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${termCode(ctx, s"$a.getDouble($i)", s"$b.getDouble($i)", s)}
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
}
