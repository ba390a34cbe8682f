package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext

/** Native Catalyst expression for `Σ (aᵢ−bᵢ)²` over two `array<double>`
  * columns — the k-means assignment inner loop ([[graft.ml.IvfIndex]]
  * evaluates it k times per row per Lloyd iteration).
  *
  * Same rationale as [[DotProduct]] (build-charter preference (b)): the
  * composed form `dot(zip_with(a,b,(x,y)->x−y), …)` allocates a diff
  * array and runs two interpreter lambdas per element; this is one tight
  * fused loop that whole-stage codegen inlines. The accumulation is the
  * SAME sequential left-to-right `acc += d·d` fold the HOF pipeline
  * performs, so results are bit-identical — swapping it in cannot move a
  * centroid, a cell boundary, or any oracle answer.
  *
  * Nulls: a null array on either side yields null (BinaryExpression's
  * null-intolerant default); null elements are not expected (embeddings
  * are dense) and read as 0.0 per ArrayData.getDouble semantics.
  */
case class Dist2(left: Expression, right: Expression)
    extends ArrayPairSum {

  override def prettyName: String = "graft_dist2"

  override protected def term(x: Double, y: Double): Double = {
    val d = x - y
    d * d
  }

  override protected def termCode(ctx: CodegenContext, x: String, y: String,
      s: String): String = {
    val d = ctx.freshName("d")
    s"double $d = $x - $y; $s += $d * $d;"
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Dist2 =
    copy(left = newLeft, right = newRight)
}

object Dist2 {
  import org.apache.spark.sql.GraftSqlBridge

  /** Column-API entry point: `dist2(a, b)`. */
  def apply(a: Column, b: Column): Column =
    GraftSqlBridge.column(
      Dist2(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}
