package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{ArrayCosine, ArrayDot}

/** Everything the engine installs into a session, in one place:
  * `graft_array_dot` and `graft_array_cosine` for SQL text and
  * `call_function`, and the planner strategy for `TopKPerKey`.
  * `graft.util.Session.build` installs it, and `spark.newSession()`
  * inherits it. Another application enables it with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * The DataFrame API (`ArrayCosine.cosine`, `ArrayDot.dot`) builds its
  * expressions directly and needs none of this; `TopK.perKey` needs the
  * strategy.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, name, usage, "", "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_array_dot"),
      info("graft_array_dot",
        "graft_array_dot(a, b) - fused dot product of two array<double>"),
      (exprs: Seq[Expression]) => ArrayDot(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_array_cosine"),
      info("graft_array_cosine",
        "graft_array_cosine(a, b) - fused cosine similarity of two array<double>"),
      (exprs: Seq[Expression]) => ArrayCosine(exprs.head, exprs(1))))
    // whole-operator extension: per-key top-k as partial/final bounded
    // heaps (plans/TopKPerKey.scala)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
  }
}
