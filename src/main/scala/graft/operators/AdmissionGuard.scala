package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The shared refuse-at-admission discipline for fan-out operators.
  *
  * Lesson (round-11 sf10 rehearsal, SCALING.md): q174's lossless
  * prefix join filled a 252 GB node's disk 18 minutes in because its
  * candidate-pair space — exactly knowable from ONE cheap aggregation
  * BEFORE the join fan-out — had grown ~quadratically on a closed
  * vocabulary. A job that is going to fill the cluster's disks must
  * refuse LOUDLY at plan-admission time, not die mid-shuffle. The
  * same shape then recurred independently in q274 (segment-bucket
  * saturation), q218 (basket-width fan-out) and q187 (window
  * fan-out); this object is the single implementation the round-12
  * verdict asked those bespoke guards to share.
  *
  * The contract every routed operator keeps:
  *  1. the bound is computed from linear aggregations over inputs the
  *     operator was going to materialize anyway (guard cost = one
  *     scan, never a second pipeline replay — cache the shared frame);
  *  2. the bound is an EXACT count of (or a proven upper bound on)
  *     the rows the fan-out would emit, stated before it runs;
  *  3. refusal is an `IllegalArgumentException` naming the operator,
  *     the measured bound, the budget, and the documented escalation
  *     path — the error IS the runbook entry;
  *  4. budgets are explicit caller-visible parameters (default 1e9
  *     rows ≈ the shuffle a healthy large cluster absorbs without
  *     drama), never silent caps. The cap-with-loud-drop sibling
  *     ([[reportDrops]]) covers operators whose contract is "drop
  *     over-wide groups and SAY SO" rather than "refuse the job";
  *  5. CACHE RELEASE (the one convention, applied by every guarded
  *     operator): the shared frame the guard and the fan-out both
  *     read is `.cache()`d so the guard costs one scan, and no
  *     operator unpersists its plain caches before returning. One
  *     whose OUTPUT is materialized inside it (frequentTriples'
  *     localCheckpointed top-k, Bpe.learnMerges' merge table) could —
  *     nothing the caller holds still reads them — but does not: each
  *     `Dataset.unpersist` re-canonicalizes every cached plan, seconds
  *     per sweep on deep lineages (r15, the kHopFrontiers finding).
  *     One returning a LAZY corpus-scale frame (basketPairs,
  *     skipGramPairs, sortedNeighborhoodPairs, editDistanceJoin,
  *     ngramJaccard) cannot: the returned plan still reads the cache,
  *     and unpersisting pre-consumption would silently re-pay the
  *     build per downstream action. Either way release is the
  *     caller's — `spark.catalog.clearCache()` (the Verify/Bench
  *     runners') or `.unpersist` after materializing — documented at
  *     the `.cache()` site, citing this rule.
  */
object AdmissionGuard {

  /** Materialize a scalar fan-out bound: one single-row aggregation
    * over `df` (already grouped/prepared by the caller), null-safe to
    * 0 for the empty-input case. This is the ONLY action the guard
    * takes before [[admit]] — keep `df` on a cached frame the
    * operator reuses so the guard costs one scan.
    */
  def measuredBound(df: DataFrame, bound: Column): Long =
    df.agg(coalesce(bound, lit(0L)).cast("long")).head().getLong(0)

  /** Admit or refuse: `bound` rows may fan out under `budget`.
    * Returns the bound (callers log or thread it); raises the
    * standard refusal otherwise. `escalation` names the documented
    * scale path for THIS operator (an alternative algorithm, a longer
    * key, a cap) — the generic "raise the budget if the cluster
    * genuinely covers it" tail is appended here so every refusal
    * reads the same.
    */
  def admit(op: String, boundName: String, bound: Long,
            budgetName: String, budget: Long, escalation: String): Long = {
    require(budget >= 1, s"$op needs $budgetName >= 1")
    // Overflow tripwire: the bound aggregations run in non-ANSI Long
    // arithmetic (e.g. c*(c-1) div 2 over a pathologically wide
    // group), so a wrapped-negative bound is always an overflow
    // artifact — and it is precisely the blow-up the guard exists to
    // refuse, never something to admit as "under budget".
    require(bound >= 0,
      s"$op: $boundName is negative ($bound) — the bound arithmetic " +
        s"overflowed Long, which only happens when the true fan-out " +
        s"is astronomically over any budget. Refusing.")
    require(bound <= budget,
      s"$op: $boundName $bound exceeds $budgetName=$budget — " +
        s"$escalation Or raise $budgetName explicitly if the " +
        "cluster's shuffle capacity genuinely covers it.")
    bound
  }

  /** The cap-with-loud-drop sibling (no-silent-caps convention): for
    * operators whose spec is "groups over the cap are DROPPED from
    * enumeration, capped == uncapped below it" — the drop must be
    * observable, so a nonzero count logs a warning naming the cap and
    * the semantic effect.
    */
  def reportDrops(op: String, dropped: Long, capName: String,
                  cap: Long, effect: String): Unit =
    if (dropped > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$op: $dropped group(s) exceeded $capName=$cap and were " +
          s"dropped — $effect")
}
