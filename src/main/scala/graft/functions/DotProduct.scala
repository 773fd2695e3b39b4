package graft.functions

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for the embedding dot product: a tight
  * codegen'd loop over the two ArrayData buffers — stays inside whole-stage
  * codegen, no lambda-function interpretation, no per-row array allocation.
  * ~100× faster than `aggregate(zip_with(...))` on the all-pairs similarity
  * path, which is exactly the hot loop of ANN / embedding dedup at scale.
  *
  * Summation is ascending-index (same order as the interpreted fallback and
  * the DuckDB oracle), keeping cross-engine determinism at 6-dp rounding.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // callers guarantee array<double> inputs (Cosine casts at the scan)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  /** Column API for the codegen'd dot product. */
  def dot(a: Column, b: Column): Column =
    GraftColumn(DotProduct(GraftColumn.expr(a), GraftColumn.expr(b)))
}
