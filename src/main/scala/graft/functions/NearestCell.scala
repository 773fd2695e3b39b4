package graft.functions

import org.apache.spark.sql.{Column, GraftColumn}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Native Catalyst expression for the IVF coarse-quantizer assignment:
  * argmin over `cents` of the squared euclidean distance to the input
  * vector, first minimum wins (deterministic under ties). Replaces the
  * per-row Scala UDF that boxed every embedding into a `Seq[Double]` —
  * this is the k·d inner loop that runs over EVERY corpus vector in
  * `ann_ivf` / `dedup_semantic`, so it stays inside whole-stage codegen
  * like its sibling [[DotProduct]]: a tight primitive loop over the
  * ArrayData buffer and a plan-referenced `double[][]`, no boxing, no
  * per-row allocation.
  *
  * Arithmetic contract (shared with the interpreted fallback, the former
  * UDF, and the DuckDB oracle's sequential list replay): ascending-
  * dimension accumulation of (x_i − c_i)², strict `<` comparison so the
  * lowest cell index wins ties.
  *
  * The centroid matrix rides the plan as a reference object — task
  * binaries are torrent-broadcast once per stage, so shipping cost matches
  * the old explicit broadcast while the inner loop loses the
  * deserialize/box round-trip.
  */
case class NearestCell(child: Expression, cents: Array[Array[Double]])
    extends UnaryExpression {

  // callers guarantee array<double> input (IvfIndex casts at the scan)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_cell"

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val ce = cents(c)
      var d2 = 0.0
      var i = 0
      while (i < ce.length) { val df = x.getDouble(i) - ce(i); d2 += df * df; i += 1 }
      if (d2 < bestD) { bestD = d2; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val cm = ctx.addReferenceObj("cents", cents, "double[][]")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val ce = ctx.freshName("ce")
      val d2 = ctx.freshName("d2")
      val df = ctx.freshName("df")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      s"""
         |int $best = 0;
         |double $bestD = Double.MAX_VALUE;
         |for (int $c = 0; $c < $cm.length; $c++) {
         |  double[] $ce = $cm[$c];
         |  double $d2 = 0.0;
         |  for (int $i = 0; $i < $ce.length; $i++) {
         |    double $df = $a.getDouble($i) - $ce[$i];
         |    $d2 += $df * $df;
         |  }
         |  if ($d2 < $bestD) { $bestD = $d2; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCell {
  /** Column API: binds THIS centroid matrix into the expression itself, so
    * the matrix lives exactly as long as the plans that reference it. */
  def nearest(emb: Column, cents: Array[Array[Double]]): Column =
    GraftColumn(NearestCell(GraftColumn.expr(emb), cents))
}
