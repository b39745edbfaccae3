package perfbench

import java.io.File
import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import scala.io.Source
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.perfbenchshim.BusDrain
import org.apache.spark.sql.SparkSession
import graft.pipeline.Pipeline
import graft.queries.QueryPack

/** One benchmark run in one JVM: `BenchMain <plan.json>`.
  *
  * `perfbench/run.py` writes the plan (workload, generated inputs, work
  * directory) and reads back the JSON this writes to `plan.out`. This
  * side only calls the engine's public functions and records, for every
  * timed call, its wall time and whether it threw. A call that throws is
  * recorded as failed and never retried.
  */
object BenchMain {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val enteredMs = System.currentTimeMillis()
    val plan = mapper.readTree(new File(args(0)))
    val work = plan.get("work_dir").asText
    val cores = plan.get("cores").asInt
    val queryMix = plan.get("workload").asText == "query_mix"

    // Set-up is repeated; each round builds a fresh session and warms it.
    val setups = ArrayBuffer[Double]()
    var spark: SparkSession = null
    val reps = plan.get("setup_reps").asInt
    for (k <- 1 to reps) {
      val t0 = System.nanoTime()
      spark = session(cores, work)
      if (queryMix) QueryMix.warmUp(spark, plan) else Elt.warmUp(spark, plan, k)
      setups += (System.nanoTime() - t0) / 1e9
      if (k < reps) spark.stop()
    }

    val checks = if (queryMix) QueryMix.checkPass(spark, plan) else Nil

    val tracer =
      if (plan.get("trace").asBoolean) {
        val t = new Tracer
        spark.sparkContext.addSparkListener(t)
        spark.listenerManager.register(t)
        Some(t)
      } else None
    val rec = new Recorder
    if (queryMix) QueryMix.run(spark, plan, rec) else Elt.run(spark, plan, rec)
    tracer.foreach(_ => BusDrain(spark.sparkContext))

    val out = Map(
      "entered_ms" -> enteredMs,
      "setup_s" -> setups.toSeq,
      "checks" -> checks,
      "ops" -> rec.ops.toSeq,
      "vm_hwm_kb" -> vmHwmKb(),
      "trace" -> tracer.map(_.dump()).orNull)
    spark.stop()
    mapper.writeValue(new File(plan.get("out").asText), out)
  }

  /** The session the engine's own bench uses (graft.Bench), with every
    * path it writes moved under the run's work directory.
    */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def vmHwmKb(): Long = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally src.close()
  }

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
}

/** Times operations and the named spans inside them. */
final class Recorder {
  val ops = ArrayBuffer[Map[String, Any]]()
  private var spans = ArrayBuffer[Map[String, Any]]()

  /** Runs `body` as one timed operation; `body` returns extra fields to
    * record with it. Returns whether it completed.
    */
  def op(name: String, cls: String)(body: => Map[String, Any]): Boolean = {
    spans = ArrayBuffer()
    val files0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (extra, err) =
      try (body, None)
      catch { case NonFatal(e) => (Map.empty[String, Any], Some(BenchMain.describe(e))) }
    val t1 = System.nanoTime()
    val w1 = System.currentTimeMillis()
    ops += Map(
      "name" -> name, "cls" -> cls, "ok" -> err.isEmpty, "error" -> err.orNull,
      "wall_s" -> (t1 - t0) / 1e9, "start_ms" -> w0, "end_ms" -> w1,
      "files_listed" -> (HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - files0),
      "spans" -> spans.toSeq) ++ extra
    err.isEmpty
  }

  def span[T](name: String)(f: => T): T = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally spans += Map("name" -> name, "start_ms" -> w0,
      "end_ms" -> System.currentTimeMillis(), "wall_s" -> (System.nanoTime() - t0) / 1e9)
  }
}

/** The hourly ELT DAG: extract batches into the lake, then refresh
  * (warehouse load, staging views, mart) — each step a call of the
  * `graft.pipeline.Pipeline` stage function itself.
  */
object Elt {
  /** Batches as (wall-clock tag, one JSON response per channel). */
  def batches(plan: JsonNode): IndexedSeq[(Timestamp, Seq[String])] = {
    val src = Source.fromFile(plan.get("batches_file").asText, "UTF-8")
    val mapper = new ObjectMapper()
    try src.getLines().map { l =>
      val b = mapper.readTree(l)
      (new Timestamp(b.get("ts_ms").asLong), BenchMain.strings(b.get("responses")))
    }.toIndexedSeq
    finally src.close()
  }

  def refresh(spark: SparkSession, conf: Pipeline.Config, rec: Recorder): Unit = {
    val raw = rec.span("load")(Pipeline.loadWarehouse(spark, conf))
    val views = rec.span("staging")(Pipeline.registerStaging(spark, raw))
    rec.span("transform")(Pipeline.transform(spark, views, conf))
  }

  /** One small cycle through every stage (three channels of the first
    * batch), on a lake and database of its own, so the timed run starts
    * with loaded classes and warm JIT.
    */
  def warmUp(spark: SparkSession, plan: JsonNode, round: Int): Unit = {
    val (ts, jsons) = batches(plan).head
    val conf = Pipeline.Config(s"${plan.get("work_dir").asText}/warmup/$round/lake",
      database = s"perfbench_warmup$round")
    Pipeline.extractBatch(spark, jsons.take(3), ts, conf)
    refresh(spark, conf, new Recorder)
  }

  def run(spark: SparkSession, plan: JsonNode, rec: Recorder): Unit = {
    val bs = batches(plan)
    val conf = Pipeline.Config(plan.get("lake_dir").asText, plan.get("database").asText)
    plan.get("steps").elements().asScala.map(_.asText).foreach {
      case "refresh" => rec.op("refresh", "heavy") { refresh(spark, conf, rec); Map.empty }
      case step =>
        val (ts, jsons) = bs(step.stripPrefix("extract:").toInt)
        rec.op("extract", "light") {
          Pipeline.extractBatch(spark, jsons, ts, conf)
          Map("responses" -> jsons.size)
        }
    }
  }
}

/** The analyst's closed loop over `QueryPack` queries: build the query,
  * run it into the `noop` sink, release caches — as graft.Bench does.
  */
object QueryMix {
  def warmUp(spark: SparkSession, plan: JsonNode): Unit = {
    val sf = plan.get("sf_dir").asText
    graft.util.Tables.names.foreach(n => spark.read.parquet(s"$sf/$n.parquet").count())
  }

  /** Untimed pass over the oracle-scale tables: every query once, its
    * result written as parquet for the oracle comparison. It also warms
    * JIT and codegen for the timed run.
    */
  def checkPass(spark: SparkSession, plan: JsonNode): Seq[Map[String, Any]] = {
    val sf = plan.get("check_sf_dir").asText
    val out = plan.get("results_dir").asText
    BenchMain.strings(plan.get("queries")).map { name =>
      val err =
        try { QueryPack.queries(name)(spark, sf).write.mode("overwrite").parquet(s"$out/$name"); None }
        catch { case NonFatal(e) => Some(BenchMain.describe(e)) }
        finally spark.catalog.clearCache()
      Map("name" -> name, "ok" -> err.isEmpty, "error" -> err.orNull,
        "oracle" -> QueryPack.oracleSql.get(name).orNull)
    }
  }

  def run(spark: SparkSession, plan: JsonNode, rec: Recorder): Unit = {
    val sf = plan.get("sf_dir").asText
    val classes = plan.get("classes")
    plan.get("stream").elements().asScala.map(_.asText).foreach { name =>
      rec.op(name, classes.get(name).asText) {
        var left = 0
        try {
          val df = rec.span("build")(QueryPack.queries(name)(spark, sf))
          rec.span("exec")(df.write.format("noop").mode("overwrite").save())
        } finally {
          left = spark.sparkContext.getPersistentRDDs.size
          spark.catalog.clearCache()
        }
        Map("cache_entries_left" -> left)
      }
    }
  }
}
