package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftPlanBuilder
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: dot product of two `array<double>` columns.
  *
  * The higher-order-function formulation (`aggregate(zip_with(a,b,*),...)`)
  * is correct but interpreted and allocates an intermediate array per row —
  * on an O(pairs) similarity join that dominated the benchmark. This
  * expression generates a tight fused Java loop inside whole-stage codegen
  * (no allocation, no virtual calls), keeping vector math on the 100 TB
  * path codegen'd like every other operator.
  *
  * Accumulation order is left-to-right over elements, matching both the
  * HOF formulation and DuckDB's list functions, so oracle results are
  * unchanged. Mismatched array lengths yield NULL (same contract as
  * ArrayCosine) — the bad row is surfaced, never silently truncated.
  */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  // Inputs must already be array<double> — all call sites cast explicitly
  // (toDouble), so no implicit-coercion contract is needed here.
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_array_dot"
  // NULL on length mismatch even when both inputs are non-nullable
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |int graftDotN = $a.numElements();
         |if ($b.numElements() != graftDotN) {
         |  ${ev.isNull} = true;
         |} else {
         |  double graftDotS = 0.0;
         |  for (int graftDotI = 0; graftDotI < graftDotN; graftDotI++) {
         |    graftDotS += $a.getDouble(graftDotI) * $b.getDouble(graftDotI);
         |  }
         |  ${ev.value} = graftDotS;
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

object ArrayDot {
  /** Column API: the expression itself, so it needs no registration on
    * any session. SQL text reaches it as `graft_array_dot`, which
    * `graft.GraftExtensions` injects.
    */
  def dot(a: Column, b: Column): Column =
    GraftPlanBuilder.column(
      ArrayDot(GraftPlanBuilder.expression(a), GraftPlanBuilder.expression(b)))
}
