package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The custom per-key top-k plan node must (a) equal the row_number
  * window formulation exactly, (b) plan as partial heaps → ONE hash
  * exchange → final heaps with no Window or global Sort, and (c) ship
  * at most k rows per (key, input partition) into the exchange.
  */
class TopKPerKeySpec extends SparkSpec {

  private def windowTopK(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    df.withColumn("rk", row_number().over(w)).filter(col("rk") <= k).drop("rk")
  }

  private def orders = graft.util.Tables(
    spark, "/root/testdata/sf0.001", "orders")

  test("equals the window formulation on real data") {
    val got = TopK.perKey(orders, Seq("o_orderpriority"), "o_totalprice",
        desc = true, tiebreak = Seq("o_orderkey"), k = 3)
      .orderBy("o_orderpriority", "o_orderkey").collect()
    val want = windowTopK(orders, 3)
      .orderBy("o_orderpriority", "o_orderkey").collect()
    assert(got.length === want.length && got.length === 15)
    assert(got.map(_.toString) === want.map(_.toString))
  }

  test("k larger than every group returns all rows") {
    val df = orders.limit(40)
    val got = TopK.perKey(df, Seq("o_orderpriority"), "o_totalprice",
      desc = true, tiebreak = Seq("o_orderkey"), k = 1000000)
    assert(got.count() === df.count())
  }

  test("plans as two TopKPerKeyExec phases around one exchange, no Window/Sort") {
    val df = TopK.perKey(orders, Seq("o_orderpriority"), "o_totalprice",
      desc = true, tiebreak = Seq("o_orderkey"), k = 3)
    val plan = df.queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix in plan strings
    assert("TopKPerKey ".r.findAllIn(plan).size === 2, plan)
    assert(plan.contains("Exchange hashpartitioning(o_orderpriority"), plan)
    assert(!plan.contains("Window ["), plan)
    assert(!plan.contains("Sort ["), plan)
  }

  test("the strategy comes from the session's extensions, not extraStrategies") {
    val df = TopK.perKey(orders, Seq("o_orderpriority"), "o_totalprice",
      desc = true, tiebreak = Seq("o_orderkey"), k = 3)
    assert(df.collect().length === 15)
    assert(spark.experimental.extraStrategies.isEmpty)
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val phases = helper.collect(df.queryExecution.executedPlan) {
      case t: TopKPerKeyExec => t.partial
    }
    assert(phases.sorted === Seq(false, true), df.queryExecution.executedPlan)
  }

  test("duplicate order values: tiebreak makes the kept set deterministic") {
    import spark.implicits._
    val df = Seq(
      ("a", 10.0, 1L), ("a", 10.0, 2L), ("a", 10.0, 3L),
      ("b", 5.0, 4L), ("b", 7.0, 5L))
      .toDF("k", "v", "id")
    val got = TopK.perKey(df, Seq("k"), "v", desc = true,
        tiebreak = Seq("id"), k = 2)
      .orderBy("k", "id").collect().map(r => (r.getString(0), r.getLong(2)))
    assert(got.toSeq === Seq(("a", 1L), ("a", 2L), ("b", 4L), ("b", 5L)))
  }

  test("empty input yields empty output") {
    import spark.implicits._
    val df = Seq.empty[(String, Double, Long)].toDF("k", "v", "id")
    assert(TopK.perKey(df, Seq("k"), "v", desc = true,
      tiebreak = Seq("id"), k = 3).count() === 0)
  }
}
