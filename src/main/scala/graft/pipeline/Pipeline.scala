package graft.pipeline

import java.sql.Timestamp
import java.util.concurrent.{Callable, ExecutionException, Executors}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import graft.ingest.Ingest
import graft.lake.Lake
import graft.warehouse.Warehouse
import graft.mart.YtFacts

/** The end-to-end pipeline driver — the Spark re-expression of the
  * reference's `extract_cloud` DAG (SURVEY §2.11;
  * /root/reference/dags/extract.py:196-217):
  *
  *   extract (API JSON → flat raw rows)           extract.py:199-203
  *   → lake append (per-channel partitions)       extract.py:114-129
  *   → warehouse load (one RAW table per channel) extract.py:156-171
  *   → staging views (dbt `materialized: view`)   dbt_project.yml:36-38
  *   → mart CTAS (cast ×10 cols + N-way UNION)    YT_Facts_stg.sql:3-115
  *
  * What Airflow sequenced as three tasks is three function calls; what
  * dbt ordered via ref() is lazy DataFrame composition Catalyst inlines.
  * Every stage is a distributed Spark job; only the per-channel JSON
  * responses (a handful of driver-side strings, exactly like the
  * reference's API fetch) and table/view names touch the driver.
  */
object Pipeline {

  /** @param lakePath lake root directory
    * @param database catalog database for RAW + mart tables (the
    *                 reference's schema `ytanalytics`, yt_sources.yml:4-14)
    * @param csvLake  header-CSV lake (reference at-rest fidelity, S2/W1)
    *                 vs parquet (the scale default)
    */
  final case class Config(
      lakePath: String,
      database: String = "ytanalytics",
      csvLake: Boolean = false)

  val martTable = "yt_facts_stg"

  /** Extract one batch (all channels' JSON responses) and append it to
    * the lake — task `downloading_rates` (extract.py:199-203).
    */
  def extractBatch(spark: SparkSession, jsons: Seq[String], batchTs: Timestamp,
                   conf: Config): Unit =
    append(Ingest.extract(spark, jsons, batchTs), conf)

  private def append(raw: DataFrame, conf: Config): Unit =
    if (conf.csvLake) Lake.appendBatchCsv(raw, conf.lakePath)
    else Lake.appendBatch(raw, conf.lakePath)

  /** Load every discovered channel into `<db>.<channel>_raw` — task
    * `loading_data_db` (extract.py:205-208,156-171). Channel discovery is
    * a filesystem listing (like the reference's bucket listing); each
    * load is truncate+reload (W2). Returns each qualified table name once,
    * in first-occurrence `Lake.channels` (sorted) order, which fixes the
    * mart's UNION order.
    *
    *   - One lake listing per call: the parquet lake is listed once
    *     (its schema is declared, `Lake.schema`), and every channel's
    *     frame is a partition-pruned filter of that one resolution — so
    *     all RAW tables come from a single lake snapshot. The header-CSV
    *     lake keeps the reference's per-channel `read_csv` schema
    *     inference.
    *   - RAW files follow bytes, not batches: each channel's frame is
    *     written in max(1, ⌈channel bytes / split⌉) partitions, split =
    *     the session's `spark.sql.files.maxPartitionBytes`, the bytes
    *     taken from the listing its read already made. The reference's
    *     lake keeps one object per channel (W1 rewrites it), so its
    *     reload never pays per batch; the append lake holds one file per
    *     channel per batch, and without this every RAW table and the
    *     mart CTAS would carry that file count. A coalesce merges whole
    *     scan splits with no shuffle, and is a no-op once the lake's
    *     files are split-sized.
    *   - Concurrent loads: the per-channel loads run on a driver thread
    *     pool of min(#channels, defaultParallelism) threads, since one
    *     channel's write is a small job that leaves most cores idle.
    *   - Failure contract: every load runs to completion even when
    *     another fails, then the first failure in channel order is
    *     rethrown. No write is still running when the call returns or
    *     throws, so a `Retry` of the whole load (runWithRetries) never
    *     races a leftover write.
    */
  def loadWarehouse(spark: SparkSession, conf: Config): Seq[String] = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS ${conf.database}")
    val chans = Lake.channels(spark, conf.lakePath)
    val keyed = chans.map(ch => s"${conf.database}.${Ingest.rawTableName(ch)}")
    val tables = keyed.distinct
    // Resolved by the first load that needs it, so an empty lake is never read.
    lazy val lake = Lake.read(spark, conf.lakePath)
    lazy val lakeBytes = Lake.channelBytes(lake)
    def frame(ch: String): DataFrame =
      if (conf.csvLake) {
        val df = Lake.readCsv(spark, Lake.channelDir(conf.lakePath, ch))
        splitSized(df, Lake.listedBytes(df))
      } else splitSized(Lake.readChannel(lake, ch).drop("channel_key"),
        lakeBytes.getOrElse(ch, sys.error(s"no listed lake files for channel key '$ch'")))
    // Keys that map to one table name (case-only twins, "A#B" and "A_B")
    // share a table; the last one wins, as it did when the channels were
    // loaded one after another.
    val owner = keyed.zip(chans).toMap
    val loads = tables.map(t =>
      (() => Warehouse.loadRaw(frame(owner(t)), t)): Callable[Unit])
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(loads.size, spark.sparkContext.defaultParallelism)))
    try
      pool.invokeAll(loads.asJava).asScala.foreach { done =>
        try done.get() catch { case e: ExecutionException => throw e.getCause }
      }
    finally pool.shutdown()
    tables
  }

  /** `df` in max(1, ⌈bytes / split⌉) partitions (see [[loadWarehouse]]). */
  private def splitSized(df: DataFrame, bytes: Long): DataFrame = {
    val split = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    df.coalesce(math.max(1L, (bytes + split - 1) / split).toInt)
  }

  /** W4: one identity staging view per RAW table (dbt `materialized:
    * view`) — a zero-copy named subquery the analyzer inlines into the
    * mart plan, exactly like Snowflake inlining dbt's staging views.
    * Returns the view names.
    */
  def registerStaging(spark: SparkSession, rawTables: Seq[String]): Seq[String] =
    rawTables.map { t =>
      val view = t.split('.').last.stripSuffix("_raw") + "_stg"
      Warehouse.table(spark, t).createOrReplaceTempView(view)
      view
    }

  /** Transform: mart build over the staging views + CTAS readback (the
    * Cosmos dbt task group, extract.py:211-215).
    */
  def transform(spark: SparkSession, stagingViews: Seq[String],
                conf: Config): DataFrame = {
    val mart = YtFacts.build(stagingViews.map(spark.table))
    YtFacts.materialize(mart, s"${conf.database}.$martTable")
    spark.table(s"${conf.database}.$martTable")
  }

  /** Full deterministic run over a batch sequence, from a clean lake
    * (the lake is append-only state — replaying without the reset would
    * accumulate prior runs).
    */
  def run(spark: SparkSession, batches: Seq[(Timestamp, Seq[String])],
          conf: Config): DataFrame = {
    reset(spark, conf)
    batches.foreach { case (ts, jsons) => extractBatch(spark, jsons, ts, conf) }
    val rawTables = loadWarehouse(spark, conf)
    val views = registerStaging(spark, rawTables)
    transform(spark, views, conf)
  }

  /** `run` under the reference DAG's operational contract (extract.py:
    * 178-197): every task wrapped in bounded `Retry`. The retry of each
    * stage is IDEMPOTENT:
    *   - extract (lake append) is the one non-idempotent write, so each
    *     batch attempt snapshots the lake file listing first and the
    *     retry hook sweeps any paths a failed attempt left behind —
    *     partial parquet parts AND stray partition dirs (which would
    *     otherwise become phantom channels in `Lake.channels`) — before
    *     re-running;
    *   - warehouse load is truncate+reload (W2) and mart build is CTAS
    *     overwrite (W5): re-running them is the operation itself.
    * So a run that fails anywhere and retries produces the bit-identical
    * mart of a failure-free run (PipelineSpec proves it with an injected
    * mid-extract fault).
    *
    * @param taskProbe test seam (fault injection): invoked at the start
    *                  of every attempt with the stage id, e.g.
    *                  `extract#2`, `load`, `transform`. Production
    *                  passes the default no-op.
    */
  def runWithRetries(spark: SparkSession,
                     batches: Seq[(Timestamp, Seq[String])], conf: Config,
                     attempts: Int = 3, delayMs: Long = 0L,
                     taskProbe: String => Unit = _ => ()): DataFrame = {
    reset(spark, conf)
    batches.zipWithIndex.foreach { case ((ts, jsons), i) =>
      val keep = listPaths(spark, conf.lakePath)
      Retry(s"extract#$i", attempts, delayMs,
          onRetry = () => sweepExcept(spark, conf.lakePath, keep)) {
        taskProbe(s"extract#$i")
        extractBatch(spark, jsons, ts, conf)
      }
    }
    val rawTables = Retry("load", attempts, delayMs) {
      taskProbe("load"); loadWarehouse(spark, conf)
    }
    val views = registerStaging(spark, rawTables)
    Retry("transform", attempts, delayMs) {
      taskProbe("transform"); transform(spark, views, conf)
    }
  }

  /** Empty the lake, then drop the database AND its on-disk location:
    * the in-memory catalog forgets tables across JVMs while their files
    * persist, and saveAsTable refuses a "new" managed table over a
    * leftover location.
    */
  private def reset(spark: SparkSession, conf: Config): Unit = {
    deleteDir(spark, conf.lakePath)
    spark.sql(s"DROP DATABASE IF EXISTS ${conf.database} CASCADE")
    deleteDir(spark,
      s"${spark.conf.get("spark.sql.warehouse.dir")}/${conf.database}.db")
  }

  /** Every path (files AND directories) under `root`, recursively. */
  private def listPaths(spark: SparkSession, root: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(d: org.apache.hadoop.fs.Path): Seq[String] =
      fs.listStatus(d).toSeq.flatMap { st =>
        st.getPath.toString +: (if (st.isDirectory) walk(st.getPath) else Nil)
      }
    if (fs.exists(p)) walk(p).toSet else Set.empty
  }

  /** Delete every path under `root` not present in `keep` — deepest
    * first, so a failed attempt's partition dirs go with their files.
    */
  private def sweepExcept(spark: SparkSession, root: String,
                          keep: Set[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    listPaths(spark, root).diff(keep).toSeq
      .sortBy(-_.length)
      .foreach { s =>
        val path = new org.apache.hadoop.fs.Path(s)
        if (fs.exists(path)) { fs.delete(path, true); () }
      }
  }

  /** The 5-minute variant as a REAL incremental pipeline (SURVEY §3.3 /
    * optimized_extract.py:117-141): JSON response files dropped into
    * `jsonDir` become one micro-batch each (wholetext file source),
    * parsed by `Ingest.itemsOf` — the parse `extractBatch` uses — and
    * `foreachBatch` tags each micro-batch with its batch-constant
    * timestamp (P5), then runs `Ingest.transformItems` (flatten, drops)
    * and the same lake append as `extractBatch`. The tag is a literal
    * here, so each micro-batch compiles its own plan (the batch path
    * carries it as data to share one); at a 5-minute trigger that cost
    * is negligible. The checkpoint makes file pickup exactly-once — the
    * guarantee the reference's read-concat-rewrite loop lacked.
    *
    * @param batchTs micro-batch id -> wall-clock tag (injectable for
    *                deterministic tests; production passes
    *                `_ => Timestamp.from(Instant.now())`)
    */
  def streamExtract(spark: SparkSession, jsonDir: String, conf: Config,
                    checkpointDir: String, batchTs: Long => Timestamp,
                    trigger: org.apache.spark.sql.streaming.Trigger):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val responses = spark.readStream
      .option("wholetext", "true").text(jsonDir)
    Ingest.itemsOf(responses).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        append(Ingest.transformItems(
          batch.withColumn("timestamp", lit(batchTs(id)))), conf)
      }
      .trigger(trigger)
      .start()
  }

  private def deleteDir(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }
}
