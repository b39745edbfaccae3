package graft.operators

import org.apache.spark.sql.DataFrame

/** The one round driver of the checkpointed loops (PageRank, PPR,
  * label propagation, k-core peel, connected components, k-means
  * refinement): round r is built lazily from round r−1, its
  * unmaterialized plan goes to the dev plan probe, then it is
  * `localCheckpoint`ed eagerly so no round replays its predecessors'
  * lineage (the depth-≥2 nested-cache lesson).
  */
private[graft] object Iterate {

  /** `n` rounds of `step` from `init`: all n + 1 frames, `init` first
    * and as given. Nothing is released — that stays with the caller.
    */
  def rounds(tag: String, n: Int, init: DataFrame)(
      step: DataFrame => DataFrame): IndexedSeq[DataFrame] =
    (1 to n).scanLeft(init) { (prev, r) =>
      val next = step(prev)
      probeRoundPlan(tag, r, next)
      next.localCheckpoint(eager = true)
    }

  /** Free the block-manager storage of a localCheckpoint'd frame NOW
    * instead of at GC: the checkpoint blocks hang off the wrapped
    * `LogicalRDD`'s RDD, which `Dataset.unpersist` (a CacheManager
    * lookup) never touches. Falls back to plain unpersist for frames
    * that are ordinary cached plans.
    */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => df.unpersist(blocking = false)
    }

  /** Dev-only plan evidence for checkpointed loops (the r14 verdict's
    * plan-evidence gap): the shipped queries materialize every round
    * through `localCheckpoint`, so their dumped plans are just
    * checkpoint scans — this hook writes the UNMATERIALIZED round-body
    * plan (the q218 `materialize=false` staircase pattern) when
    * `-Dgraft.plan.probe.dir=<dir>` is set (PlanDump sets it from
    * SPARK_GRAFT_PLAN_PROBE_DIR). A no-op in every production/bench
    * path: the property is never set there, and the probe costs one
    * string render, no job.
    */
  private[graft] def probeRoundPlan(tag: String, round: Int,
                                    df: DataFrame): Unit =
    sys.props.get("graft.plan.probe.dir").foreach { d =>
      val p = java.nio.file.Paths.get(d, s"${tag}_round$round.txt")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
}
