package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, InterpretedOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftshim.GraftPlanBuilder

/** A whole-operator extension per the custom-operator ladder (SURVEY
  * §7.1 / brief option c): per-key top-k as a first-class plan node —
  * logical `TopKPerKey`, planner `TopKStrategy`, physical two-phase
  * `TopKPerKeyExec` — instead of the row_number-window formulation
  * (q49), which must shuffle EVERY row to its key's partition and sort
  * entire partitions before discarding all but k rows per key.
  *
  * Physical shape: a PARTIAL phase runs bounded per-key heaps inside
  * each input partition (no distribution requirement — runs on the
  * scan), so at most k rows per (key, input partition) reach the
  * exchange; the FINAL phase declares `ClusteredDistribution(keys)` and
  * lets EnsureRequirements insert the hash exchange, then re-heaps to
  * the exact per-key top k. At 1000 executors the shuffle carries
  * ~k·keys·partitions rows instead of the full table — the same
  * partial/final contract as an aggregate, applied to order statistics.
  *
  * Determinism: callers include a tiebreak column in `order` (as q49
  * does), making the kept set unique, so the DuckDB oracle replays it
  * exactly.
  *
  * Memory: per-task state is one k-bounded heap per distinct key in
  * the partition (≤ k·keys rows) and does NOT spill — the same
  * contract as a pre-spill hash aggregate. With the partial phase
  * upstream the final phase sees ≤ k·inputPartitions rows per key, so
  * sizing follows directly from k and the key cardinality per task.
  */
case class TopKPerKey(k: Int, keys: Seq[Attribute], order: Seq[SortOrder],
                      child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

case class TopKPerKeyExec(k: Int, keys: Seq[Attribute], order: Seq[SortOrder],
                          partial: Boolean, child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keyExprs = keys
    val orderExprs = order
    val childOutput = child.output
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord = new InterpretedOrdering(orderExprs, childOutput)
      // head of each queue = the WORST kept row under `order` (PQ
      // dequeues the maximum, and sorting-last means lowest-ranked)
      val heaps = new java.util.HashMap[UnsafeRow,
        scala.collection.mutable.PriorityQueue[InternalRow]]()
      it.foreach { row =>
        val key = keyProj(row)
        var pq = heaps.get(key)
        if (pq == null) {
          pq = scala.collection.mutable.PriorityQueue.empty[InternalRow](ord)
          heaps.put(key.copy(), pq)
        }
        if (pq.size < kLocal) pq.enqueue(row.copy())
        else if (ord.compare(row, pq.head) < 0) { pq.dequeue(); pq.enqueue(row.copy()) }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(_.iterator)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Planner strategy: logical TopKPerKey → partial + final exec pair
  * (EnsureRequirements places the exchange between them).
  */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(k, keys, order, child) =>
      TopKPerKeyExec(k, keys, order, partial = false,
        TopKPerKeyExec(k, keys, order, partial = true,
          planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Public API: resolve key/order columns by name against the child's
  * analyzed output and wrap the custom node as a DataFrame.
  */
object TopK {
  /** Top `k` rows per `keyCols` group, ranked by `orderCol` (descending
    * when `desc`), ties broken by `tiebreak` ascending — the exact
    * semantics of q49's row_number filter.
    *
    * The session must carry `graft.GraftExtensions`, which
    * `graft.util.Session.build` installs: without its `TopKStrategy`,
    * Spark's planner refuses the `TopKPerKey` node.
    */
  def perKey(df: DataFrame, keyCols: Seq[String], orderCol: String,
             desc: Boolean, tiebreak: Seq[String], k: Int): DataFrame = {
    val child = GraftPlanBuilder.analyzed(df)
    def attr(name: String): Attribute =
      child.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${child.output.map(_.name).mkString(", ")}"))
    val order =
      SortOrder(attr(orderCol), if (desc) Descending else Ascending) +:
        tiebreak.map(t => SortOrder(attr(t), Ascending))
    GraftPlanBuilder.ofRows(df.sparkSession,
      TopKPerKey(k, keyCols.map(attr), order, child))
  }
}
