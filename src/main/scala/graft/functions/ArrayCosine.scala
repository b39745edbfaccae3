package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.GraftPlanBuilder
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: cosine similarity of two `array<double>`
  * columns in ONE fused loop (dot product + both squared norms), where
  * the ArrayDot composition scans each array three times per pair. On
  * the O(candidates) verify stages of the ANN/near-dup operators this
  * is the inner loop — one pass, no allocation, whole-stage codegen.
  *
  * Bit-compatibility: accumulates left-to-right like ArrayDot and
  * DuckDB's list functions, and combines as dot/(sqrt(na)*sqrt(nb)) —
  * the same operand values and operation order as the composed form, so
  * oracle hash-matches are unaffected.
  *
  * Malformed-input contract: mismatched array lengths yield NULL (DuckDB's
  * list_cosine_similarity errors there — either way the bad row is
  * surfaced, never silently truncated); a zero vector yields NaN
  * (0/0, same as the composed dot/norm form).
  */
case class ArrayCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  // Inputs must already be array<double> — call sites cast explicitly.
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_array_cosine"
  // NULL on length mismatch even when both inputs are non-nullable
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var s = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      s += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    s / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |int graftCosN = $a.numElements();
         |if ($b.numElements() != graftCosN) {
         |  ${ev.isNull} = true;
         |} else {
         |  double graftCosS = 0.0; double graftCosA = 0.0; double graftCosB = 0.0;
         |  for (int graftCosI = 0; graftCosI < graftCosN; graftCosI++) {
         |    double graftCosX = $a.getDouble(graftCosI);
         |    double graftCosY = $b.getDouble(graftCosI);
         |    graftCosS += graftCosX * graftCosY;
         |    graftCosA += graftCosX * graftCosX;
         |    graftCosB += graftCosY * graftCosY;
         |  }
         |  ${ev.value} = graftCosS /
         |    (java.lang.Math.sqrt(graftCosA) * java.lang.Math.sqrt(graftCosB));
         |}
       """.stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayCosine =
    copy(left = newLeft, right = newRight)
}

object ArrayCosine {
  /** Column API: the expression itself, so it needs no registration on
    * any session. SQL text reaches it as `graft_array_cosine`, which
    * `graft.GraftExtensions` injects.
    */
  def cosine(a: Column, b: Column): Column =
    GraftPlanBuilder.column(
      ArrayCosine(GraftPlanBuilder.expression(a), GraftPlanBuilder.expression(b)))
}
