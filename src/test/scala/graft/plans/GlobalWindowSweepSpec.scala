package graft.plans

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.execution.{GlobalLimitExec, SparkPlan,
  TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec,
  ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.{WindowExec,
  WindowGroupLimitExec}

/** The `WindowExec: No Partition Defined` tripwire (round-13 verdict
  * item #4): every deliberate single-partition window in this repo
  * claims a BOUNDED input — prebucket count tables (Rank.globalRank,
  * Analytics.paretoFrontier2d), calendar grids (q150/q153/q186),
  * sketch registers (Sketches.kmvIntersect), quantile slices
  * (GroupedQuantile), limit-pruned top-n (Retrieval.topNRanks), the
  * √n-flagged bucket table (Similarity.splitBucketsLocal), the
  * quality-domain bin table (Curation.budgetSelect). The sf10
  * rehearsal scrolls past ~300 of these warnings; this spec makes the
  * "bounded by design" claim a TEST instead of a comment, in two
  * layers, the CartesianProduct-sweep way:
  *
  *  1. membership — a global window may only appear in the sanctioned
  *     query list below. A NEW unpartitioned window anywhere else is
  *     a plan regression to triage, not a warning to scroll past.
  *  2. measured bound — each sanctioned query runs at the DRIVER'S
  *     BENCH SCALE (sf0.1, the largest CORRECTNESS-gated fixture) and
  *     the rows actually entering every global window are read back
  *     from the plan: the records written into the single-partition
  *     exchange feeding it, or the limit of the TakeOrdered/
  *     GlobalLimit node that prunes ahead of it (the q188 shape —
  *     Catalyst pushes the rank filter below the window, so the sort
  *     is distributed top-k, never a global sort). Each cap is the
  *     site's documented bound with slack for growth, far below the
  *     fact-table row counts (events 100k / lineitem 600k at sf0.1) —
  *     proving the window rides a side table, not the data.
  */
class GlobalWindowSweepSpec extends SparkSpec {

  /** query → (row cap at sf0.1, the bounded-by-design citation). */
  private val sanctioned: Map[String, (Long, String)] = Map(
    "q115_equidepth_histogram" ->
      (300L, "Rank.globalRank offsets: <= preBuckets=256 bucket counts"),
    "q116_hybrid_rrf" ->
      (100L, "Retrieval.topNRanks: limit(n) prunes before the window"),
    "q130_curation_rank_blend" ->
      (300L, "Rank.globalRank offsets x2: <= preBuckets=256 bucket counts"),
    "q136_hybrid_ivf_rrf" ->
      (100L, "Retrieval.topNRanks: limit(n) prunes before the window"),
    "q142_ann_eval" ->
      (64L, "Retrieval.topNRanks(10) x6: limit prunes before the window"),
    "q144_vocab_ids" ->
      (300L, "Rank.globalRank offsets: <= preBuckets=256 bucket counts"),
    "q147_conversion_latency" ->
      (2048L, "GroupedQuantile: bucket histogram + selected thin slice"),
    "q150_cusum_changepoint" ->
      (366L, "calendar-bounded: one row per event day"),
    "q153_cumulative_users" ->
      (366L, "calendar-bounded: one row per grid day"),
    "q163_sample_apportionment" ->
      (64L, "seat rank over the language table (5 rows)"),
    "q170_vocab_coverage_curve" ->
      (300L, "Rank.globalRank offsets: <= preBuckets=256 bucket counts"),
    "q185_pareto_frontier" ->
      (300L, "Analytics.paretoFrontier2d: <= preBuckets bucket maxima"),
    "q186_sweep_concurrency" ->
      (4096L, "Analytics.sweepConcurrency: one row per boundary day"),
    "q188_kmv_intersect" ->
      (64L, "Sketches.kmvIntersect: rank filter pushed to TakeOrdered(k=64)"),
    "q214_ks_two_sample" ->
      (2048L, "Stats.ksTwoSample: exclusive prefix over the bucket table"),
    "q232_score_calibration" ->
      (300L, "Rank.globalRank offsets: <= preBuckets=256 bucket counts"),
    "q235_mann_whitney" ->
      (2048L, "Stats.mannWhitneyU2: prefix over the bucket table"),
    "q236_hazard_table" ->
      (2048L, "hazard rows: one per duration bucket"),
    "q245_budget_select" ->
      (4096L, "Curation.budgetSelect: quality-domain bins + boundary bin"),
    "q263_ivf_bucket_split" ->
      (512L, "Similarity.splitBucketsLocal: <= C ~ sqrt(n) flagged buckets"),
    "q268_kmeans_capped_build" ->
      (512L, "Similarity.splitBucketsLocal: <= C ~ sqrt(n) flagged buckets"),
    "q269_ivf_lifecycle_roundtrip" ->
      (512L, "Similarity lifecycle: flagged-bucket and seed rank windows"),
    "q271_mining_on_capped_index" ->
      (512L, "Similarity capped chain: flagged-bucket windows per branch"))

  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case o => o.children
  }

  private def collectAll(p: SparkPlan): Seq[SparkPlan] =
    p +: kids(p).flatMap(collectAll)

  private def globalWindows(p: SparkPlan): Seq[SparkPlan] =
    collectAll(p).collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w
    }

  /** Release EVERYTHING the executed query pinned in the shared test
    * session: cached plans AND localCheckpoint RDDs. clearCache()
    * alone leaves the checkpoint blocks of the Similarity/CC chains
    * in the BlockManager — 23 sf0.1 queries of them poisoned the
    * whole downstream suite run (evicted checkpoint blocks turn into
    * "block not found" failures in later suites' localCheckpoints).
    */
  private def releaseAll(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  test("membership: global windows appear only in the sanctioned queries") {
    val sfDir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
        val plan =
          try fn(spark, sfDir).queryExecution.sparkPlan
          catch {
            case e: Throwable =>
              fail(s"$name failed to plan at sf0.001: ${e.getMessage}")
          }
        val n = globalWindows(plan).size
        releaseAll()
        if (n > 0) Some(name) else None
      }
    val unsanctioned = offenders.filterNot(sanctioned.contains)
    assert(unsanctioned.isEmpty,
      s"NEW unpartitioned window(s) in: ${unsanctioned.mkString(", ")} — " +
        "prove the input bounded and sanction it here, or repartition")
    val stale = sanctioned.keySet -- offenders.toSet
    assert(stale.isEmpty,
      s"stale sanction entries (no global window planned): " +
        s"${stale.mkString(", ")}")
  }

  /** Rows entering one executed global window: descend from its child
    * to the first boundary node — a shuffle (read its written-records
    * metric: exactly what crossed into the single partition) or a
    * TakeOrdered/GlobalLimit (its limit bounds the input by
    * construction, no shuffle ever carries more).
    */
  private def windowInputRows(w: SparkPlan): Long = {
    def descend(p: SparkPlan): Seq[Long] = p match {
      case s: ShuffleExchangeLike =>
        Seq(s.metrics.get("shuffleRecordsWritten").map(_.value)
          .getOrElse(Long.MaxValue))
      case t: TakeOrderedAndProjectExec => Seq(t.limit.toLong)
      case g: GlobalLimitExec => Seq(g.limit.toLong)
      case other => kids(other).flatMap(descend)
    }
    val bounds = kids(w).flatMap(descend)
    if (bounds.isEmpty) Long.MaxValue else bounds.max // max over branches
  }

  test("bench scale: every sanctioned global window rides a bounded table") {
    val sfDir = "/root/testdata/sf0.1"
    val report = try sanctioned.toSeq.sortBy(_._1).map { case (name, (cap, why)) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // execute THIS Dataset's QueryExecution (a sink write would
      // re-plan internally and leave these metrics untouched)
      df.queryExecution.toRdd.count()
      val windows = globalWindows(df.queryExecution.executedPlan)
      assert(windows.nonEmpty, s"$name: sanctioned but no global window " +
        "in the executed plan at sf0.1")
      val worst = windows.map(windowInputRows).max
      releaseAll()
      (name, worst, cap, why)
    } finally releaseAll()
    info("worst global-window input rows at sf0.1 (cap, site):")
    report.foreach { case (n, w, c, why) => info(s"  $n: $w <= $c ($why)") }
    val over = report.filter { case (_, worst, cap, _) => worst > cap }
    assert(over.isEmpty, "global-window input exceeded its documented " +
      "bound at sf0.1:\n" + over.map { case (n, w, c, why) =>
        s"  $n: $w rows > cap $c ($why)" }.mkString("\n"))
  }
}
