package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw events from Spark's public hooks, kept in memory and written out
  * when the run ends. Nothing is attributed here: the events carry wall
  * clock milliseconds, and `perfbench/metrics.py` assigns them to the
  * operations whose intervals contain them.
  */
final class Tracer extends SparkListener with QueryExecutionListener {

  /** One row per finished task attempt, see [[Tracer.taskColumns]]. */
  val tasks = new ConcurrentLinkedQueue[Seq[Double]]
  /** Job submissions: (job id, submit ms). */
  val jobs = new ConcurrentLinkedQueue[Seq[Double]]
  /** Completed stage attempts: (stage id, completion ms). */
  val stages = new ConcurrentLinkedQueue[Seq[Double]]
  /** SQL executions: (execution id, start ms, end ms). */
  private val sqlStart = new java.util.concurrent.ConcurrentHashMap[Long, Long]
  val sqlExecs = new ConcurrentLinkedQueue[Seq[Double]]
  /** Query executions reported to the QueryExecutionListener. */
  val queryExecs = new ConcurrentLinkedQueue[Map[String, Any]]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val failed = if (e.reason == Success) 0.0 else 1.0
    if (m == null) {
      tasks.add(Seq[Double](i.launchTime.toDouble, i.finishTime.toDouble, 0, 0, 0, 1, 0, 0, 0, 0, failed))
    } else {
      val records = m.inputMetrics.recordsRead + m.outputMetrics.recordsWritten +
        m.shuffleReadMetrics.recordsRead + m.shuffleWriteMetrics.recordsWritten
      tasks.add(Seq(i.launchTime.toDouble, i.finishTime.toDouble,
        m.executorRunTime.toDouble, m.executorCpuTime.toDouble, m.jvmGCTime.toDouble,
        if (records == 0) 1.0 else 0.0,
        m.shuffleReadMetrics.totalBytesRead.toDouble, m.shuffleWriteMetrics.bytesWritten.toDouble,
        m.memoryBytesSpilled.toDouble, m.diskBytesSpilled.toDouble, failed))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Seq(e.jobId.toDouble, e.time.toDouble))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Seq(s.stageId.toDouble,
      s.completionTime.getOrElse(System.currentTimeMillis()).toDouble))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlStart.put(s.executionId, s.time)
    case s: SparkListenerSQLExecutionEnd =>
      val t0 = Option(sqlStart.remove(s.executionId)).getOrElse(s.time)
      sqlExecs.add(Seq(s.executionId.toDouble, t0.toDouble, s.time.toDouble))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, 0L)

  /** The tracker's phase summaries accumulate every call of a phase into
    * one (start, start + total) interval. Writers reuse the tracker of
    * the frame they write, so one tracker can be reported twice; the
    * tracker's identity lets the reader keep only its last report.
    */
  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (name, p) =>
      name -> Seq(p.startTimeMs.toDouble, (p.startTimeMs + p.durationMs).toDouble)
    }
    queryExecs.add(Map(
      "plan" -> qe.logical.nodeName,
      "tracker" -> System.identityHashCode(qe.tracker),
      "duration_s" -> durationNs / 1e9,
      "phases" -> phases))
  }

  def dump(): Map[String, Any] = Map(
    "task_columns" -> Tracer.taskColumns,
    "tasks" -> tasks.asScala.toSeq,
    "jobs" -> jobs.asScala.toSeq,
    "stages" -> stages.asScala.toSeq,
    "sql_execs" -> sqlExecs.asScala.toSeq,
    "query_execs" -> queryExecs.asScala.toSeq)
}

object Tracer {
  val taskColumns: Seq[String] = Seq("launch_ms", "finish_ms", "run_ms", "cpu_ns",
    "gc_ms", "empty", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_memory_bytes", "spill_disk_bytes", "failed")
}
