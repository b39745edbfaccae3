package graft

import java.nio.file.{Files, Paths}
import graft.util.Session

/** Dev-only: dump `.explain("formatted")` for named queries to files —
  * the optimization-round evidence trail (plans/r15/<query>_<tag>.txt).
  * Same session config as Bench so the captured plan is the benched
  * plan. Usage:
  *   runMain graft.PlanDump <outDir> <tag> <q1,q2,...> [sfDir] [mode]
  *
  * mode `static` (default): the pre-execution adaptive plan.
  * mode `final`: EXECUTE the query through the noop sink first, then
  * dump the post-execution plan — the only form in which AQE's runtime
  * decisions (SMJ→BHJ rewrites, ReusedExchange stage dedup, coalesced
  * AQEShuffleReads) are visible; the static dump of an
  * AdaptiveSparkPlan shows isFinalPlan=false shapes that never run.
  *
  * Loop-body evidence: when SPARK_GRAFT_PLAN_PROBE_DIR is set, it is
  * forwarded to -Dgraft.plan.probe.dir, and every loop driven by
  * `graft.operators.Iterate.rounds` writes its UNMATERIALIZED per-round
  * plans there while the query builds — the r14 verdict's fix for
  * before/after dumps that were identical checkpoint scans.
  *
  * Failure policy (r15, ADVICE): a query that cannot produce its plan
  * exits nonzero — an evidence run must never silently leave missing
  * or stale plan files behind.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val mode = if (args.length > 4) args(4) else "static"
    require(mode == "static" || mode == "final",
      s"PlanDump mode must be static|final, got $mode")
    sys.env.get("SPARK_GRAFT_PLAN_PROBE_DIR")
      .foreach(sys.props("graft.plan.probe.dir") = _)
    val spark = Session.build(Session.cpus)
    Files.createDirectories(Paths.get(outDir))
    var failures = List.empty[String]
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      try {
        val df = fn(spark, sfDir)
        if (mode == "final")
          df.write.format("noop").mode("overwrite").save()
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
        println(s"[plandump] wrote $name ($tag, $mode)")
      } catch { case e: Throwable =>
        failures ::= name
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      } finally spark.catalog.clearCache()
    }
    spark.stop()
    if (failures.nonEmpty) {
      println(s"[plandump] FAILED queries: ${failures.reverse.mkString(",")}")
      sys.exit(1)
    }
  }
}
