package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Cross-implementation contracts for the vector math surface: the
  * codegen'd Catalyst expressions (ArrayDot, ArrayCosine) and the
  * higher-order-function forms (VectorFunctions) must agree BIT-FOR-BIT
  * — same left-to-right accumulation — so any call site can pick the
  * fast path without changing results.
  */
class ExpressionsSpec extends SparkSpec {

  private lazy val vecs = {
    graft.util.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .limit(50)
  }

  test("ArrayDot (codegen) == HOF aggregate dot, bit for bit") {
    val rows = vecs.as("a").crossJoin(vecs.as("b"))
      .select(
        ArrayDot.dot(col("a.v"), col("b.v")).as("expr_dot"),
        VectorFunctions.dot(col("a.v"), col("b.v")).as("hof_dot"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("ArrayCosine (fused codegen) == HOF cosine == dot/(norm*norm), bit for bit") {
    val rows = vecs.as("a").crossJoin(vecs.as("b"))
      .filter(col("a.vec_id") < col("b.vec_id"))
      .select(
        ArrayCosine.cosine(col("a.v"), col("b.v")).as("fused"),
        VectorFunctions.cosine(col("a.v"), col("b.v")).as("hof"),
        (ArrayDot.dot(col("a.v"), col("b.v")) /
          (sqrt(ArrayDot.dot(col("a.v"), col("a.v"))) *
            sqrt(ArrayDot.dot(col("b.v"), col("b.v"))))).as("composed"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(0) === r.getDouble(1))
      assert(r.getDouble(0) === r.getDouble(2))
    }
  }

  test("ArrayDot/ArrayCosine: mismatched lengths yield NULL, never a truncated value") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0)),
                 (Array(1.0, 2.0), Array(1.0, 2.0)))
      .toDF("a", "b")
      .select(ArrayDot.dot(col("a"), col("b")).as("d"),
        ArrayCosine.cosine(col("a"), col("b")).as("c"))
      .collect()
    assert(df(0).isNullAt(0) && df(0).isNullAt(1)) // 3 vs 2 elements
    assert(df(1).getDouble(0) === 5.0)
    assert(math.abs(df(1).getDouble(1) - 1.0) < 1e-12) // 5/(√5·√5) in fp
  }

  test("GeoMean: ignores non-positive inputs, NaN on empty, matches exp(avg(ln))") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val df = Seq(("a", 2.0), ("a", 8.0), ("a", -1.0), ("b", -5.0))
      .toDF("k", "x")
    val got = df.groupBy("k").agg(GeoMean.column(col("x")).as("g"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(got("a") - 4.0) < 1e-12) // sqrt(2*8), -1 ignored
    assert(got("b").isNaN)                   // no positive inputs
  }

  test("expressions survive whole-stage codegen (no fallback in the plan)") {
    val df = vecs.as("a").crossJoin(vecs.as("b"))
      .select(ArrayCosine.cosine(col("a.v"), col("b.v")).as("c"))
    df.collect() // finalize the adaptive plan before inspecting it
    val plan = df.queryExecution.executedPlan.toString
    // the `*(n)` prefix marks a WholeStageCodegen span; the projection
    // containing the expression must carry it (a CodegenFallback
    // expression would break the span)
    assert("""\*\(\d+\) Project \[graft_array_cosine""".r.findFirstIn(plan).isDefined)
  }
}
