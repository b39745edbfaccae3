package graft.pipeline

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.{coalesce, col, element_at, typedLit}
import graft.SparkSpec
import graft.ingest.Ingest
import graft.lake.Lake

/** SURVEY §5.4: full pipeline replay over reference-shaped fixtures —
  * mart schema equals §1.2's table, row count = channels × batches, and
  * the parquet and header-CSV lake variants agree.
  */
class PipelineSpec extends SparkSpec {

  private val chans = Seq(
    SyntheticChannels.Chan(1, "Pipe#A", 1, 10.0),
    SyntheticChannels.Chan(2, "Pipe#B", 2, -4.0), // negative bal -> madeForKids=false
    SyntheticChannels.Chan(5, "Pipe#C", 3, 8.0))  // k=5 -> malformed viewCount
  private val nBatches = 2

  private def batches =
    (1 to nBatches).map(b =>
      SyntheticChannels.batchTs(b) -> chans.map(SyntheticChannels.json(_, b)))

  private def runWith(name: String, csv: Boolean) =
    Pipeline.run(spark, batches,
      Pipeline.Config(lakePath = scratch(s"pipe_lake_$name"),
        database = s"ytanalytics_$name", csvLake = csv))

  test("pipeline replay: row count = channels x batches, schema = A.3") {
    val mart = runWith("pq", csv = false)
    assert(mart.count() === chans.size * nBatches)
    assert(mart.columns.toSeq === Seq("title", "customUrl", "PublishedAt",
      "url_", "Country", "view_count", "subscriberCount", "videoCount",
      "madeForKids", "timestamp"))
    val rows = mart.collect()
    // keep-first flatten: url_ is always the DEFAULT thumbnail
    assert(rows.forall(_.getAs[String]("url_").endsWith("/default.jpg")))
    // malformed viewCount (k=5 channel) -> NULL in every batch
    assert(rows.count(_.isNullAt(mart.columns.indexOf("view_count"))) === nBatches)
    // negative-balance channel -> madeForKids=false
    assert(rows.count(r => !r.getAs[Boolean]("madeForKids")) === nBatches)
  }

  test("pipeline replay is idempotent (rerun produces identical mart)") {
    val a = runWith("idem", csv = false).collect().map(_.toString).sorted
    val b = runWith("idem", csv = false).collect().map(_.toString).sorted
    assert(a === b)
  }

  test("header-CSV lake variant produces the same mart as parquet") {
    val pq = runWith("pq2", csv = false).collect().map(_.toString).sorted
    val cs = runWith("csv", csv = true).collect().map(_.toString).sorted
    assert(cs === pq)
  }

  test("staging views are registered in the session (W4)") {
    runWith("views", csv = false)
    val views = spark.catalog.listTables().collect().map(_.name)
    assert(views.exists(_.endsWith("_stg")))
  }

  test("retry after an injected mid-extract fault yields the identical mart") {
    // Baseline: failure-free run.
    val want = runWith("retry_base", csv = false)
      .collect().map(_.toString).sorted
    // Faulted run: batch 1's first extract attempt leaves a PARTIAL
    // lake write behind — a stray parquet part inside a phantom
    // channel partition — then dies. The retry hook must sweep it
    // (file AND dir) before the re-attempt, or the phantom channel
    // becomes a warehouse table and the mart diverges.
    val lake = scratch("pipe_lake_retry_flaky")
    val failed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val probe: String => Unit = {
      case "extract#1" if !failed.getAndSet(true) =>
        val junkDir = new java.io.File(s"$lake/channel_key=PHANTOM")
        junkDir.mkdirs()
        java.nio.file.Files.writeString(
          new java.io.File(junkDir, "part-junk.parquet").toPath, "partial")
        sys.error("injected extract fault")
      case _ => ()
    }
    val mart = Pipeline.runWithRetries(spark, batches,
      Pipeline.Config(lakePath = lake, database = "ytanalytics_retry_flaky"),
      attempts = 3, taskProbe = probe)
    assert(failed.get(), "fault was never injected")
    assert(mart.collect().map(_.toString).sorted === want)
    // the phantom partition must not have survived into the warehouse
    val tables = spark.sql("SHOW TABLES IN ytanalytics_retry_flaky")
      .collect().map(_.getString(1))
    assert(!tables.exists(_.toLowerCase.contains("phantom")), tables.toSeq)
  }

  /** A lake of `cs` × `batches` five-minute batches behind a reset
    * database (as `Pipeline.run` resets it), with nothing loaded yet.
    * `retitle` replaces titles after the extract, for keys no
    * `Chan.title` can spell.
    */
  private def lakeOf(name: String, cs: Seq[SyntheticChannels.Chan],
                     batches: Int = nBatches, csv: Boolean = false,
                     retitle: Map[String, String] = Map.empty): Pipeline.Config = {
    val conf = Pipeline.Config(lakePath = scratch(s"pipe_lake_$name"),
      database = s"ytanalytics_$name", csvLake = csv)
    spark.sql(s"DROP DATABASE IF EXISTS ${conf.database} CASCADE")
    val dbDir = new org.apache.hadoop.fs.Path(
      s"${spark.conf.get("spark.sql.warehouse.dir")}/${conf.database}.db")
    dbDir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dbDir, true)
    val t0 = SyntheticChannels.batchTs(1).toInstant
    (1 to batches).foreach { b =>
      val raw = Ingest.extract(spark, cs.map(SyntheticChannels.json(_, b)),
        java.sql.Timestamp.from(t0.plusSeconds(300L * b)))
      val titled = if (retitle.isEmpty) raw else raw.withColumn("title",
        coalesce(element_at(typedLit(retitle), col("title")), col("title")))
      if (csv) Lake.appendBatchCsv(titled, conf.lakePath)
      else Lake.appendBatch(titled, conf.lakePath)
    }
    conf
  }

  /** `n` channels; k <= 8 keeps SyntheticChannels.publishedAt a valid date. */
  private def wideLake(name: String, n: Int): Pipeline.Config =
    lakeOf(name, (1 to n).map(k => SyntheticChannels.Chan(k, s"Wide#$k", k, k - 3.5)))

  private def rowSet(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def rawTable(conf: Pipeline.Config, ch: String) =
    spark.table(s"${conf.database}.${Ingest.rawTableName(ch)}")

  /** Each channel's RAW table holds exactly its lake partition's rows. */
  private def assertLoaded(conf: Pipeline.Config, chans: Seq[String],
                           batches: Int = nBatches): Unit = {
    lazy val lake = Lake.read(spark, conf.lakePath)
    chans.foreach { ch =>
      val want =
        if (conf.csvLake) Lake.readCsv(spark, Lake.channelDir(conf.lakePath, ch))
        else Lake.readChannel(lake, ch).drop("channel_key")
      val got = rawTable(conf, ch)
      assert(got.columns.toSeq === want.columns.toSeq, ch)
      val rows = rowSet(got)
      assert(rows.size === batches, ch)
      assert(rows === rowSet(want), ch)
    }
  }

  /** Every RAW table, then the mart, of a full load of `conf`. */
  private def loadAll(conf: Pipeline.Config) = {
    val tables = Pipeline.loadWarehouse(spark, conf)
    (tables, Pipeline.transform(spark, Pipeline.registerStaging(spark, tables), conf))
  }

  /** Runs `body` under its own job group. Returns its outcome, the
    * wall-clock millis at which it returned, and the jobs of the group as
    * a SparkListener saw them: job id -> (start time, end time if ended).
    * A job of the group that starts after `body` returned (a straggling
    * write) gets a second to show itself. Listener events arrive
    * asynchronously but in order, so once a marker job submitted after
    * that is seen, so are all the group's jobs that had started.
    */
  private def traced[T](group: String)(body: => T)
      : (Try[T], Long, Map[Int, (Long, Option[Long])]) = {
    val sc = spark.sparkContext
    val marker = s"$group-marker"
    val started = new ConcurrentHashMap[Int, Long]()
    val ended = new ConcurrentHashMap[Int, Long]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.put(e.jobId, e.time)
          case Some(`marker`) => drained.countDown()
          case _ => ()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        ended.put(e.jobId, e.time); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = Try(body)
      val returnedAt = System.currentTimeMillis()
      Thread.sleep(1000)
      sc.setJobGroup(marker, marker)
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS))
      (out, returnedAt,
        started.asScala.map { case (id, t) => id -> (t, ended.asScala.get(id)) }.toMap)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("concurrent warehouse load over more channels than cores: order and content") {
    val conf = wideLake("wide", 8)
    assert(8 > spark.sparkContext.defaultParallelism, "the pool must be full")
    val chans = Lake.channels(spark, conf.lakePath)
    assert(chans.size === 8)
    assert(Pipeline.loadWarehouse(spark, conf) ===
      chans.map(ch => s"${conf.database}.${Ingest.rawTableName(ch)}"))
    assertLoaded(conf, chans)
  }

  test("one failing channel load: rethrown once every other load has finished") {
    val conf = wideLake("loadfail", 6)
    val chans = Lake.channels(spark, conf.lakePath)
    val bad = chans.head
    val badTable = s"${conf.database}.${Ingest.rawTableName(bad)}"
    // An external table whose location is the managed default, with data
    // in it: the overwrite drops the entry, keeps the files, and then
    // refuses to create the managed table over the non-empty location.
    spark.sql(s"CREATE DATABASE ${conf.database}")
    val loc = s"${spark.catalog.getDatabase(conf.database).locationUri}/" +
      Ingest.rawTableName(bad)
    spark.sql(s"CREATE TABLE $badTable (x INT) USING parquet LOCATION '$loc'")
    spark.sql(s"INSERT INTO $badTable VALUES (1)")

    var activeAtReturn = Seq.empty[Int]
    val (out, returnedAt, jobs) = traced("load-fail") {
      try Pipeline.loadWarehouse(spark, conf)
      finally activeAtReturn = spark.sparkContext.statusTracker.getActiveJobIds().toSeq
    }
    assert(activeAtReturn.isEmpty, activeAtReturn)
    val e = out.failed.get
    assert(e.getMessage.contains("LOCATION_ALREADY_EXISTS"), e.getMessage)
    assert(e.getMessage.contains(Ingest.rawTableName(bad)), e.getMessage)
    // no write of the failed call was still running when it returned
    assert(jobs.nonEmpty)
    assert(jobs.values.forall { case (start, end) =>
      start <= returnedAt && end.exists(_ <= returnedAt) }, jobs)
    assertLoaded(conf, chans.filterNot(_ == bad))
  }

  test("warehouse load job budget: at most one job per channel plus one") {
    val n = 6
    val conf = wideLake("budget", n)
    val (out, _, jobs) = traced("load-budget")(Pipeline.loadWarehouse(spark, conf))
    assert(out.get.size === n)
    assert(jobs.size <= n + 1, s"${jobs.size} jobs for $n channels")
  }

  test("channel keys that differ only in case share one RAW table; the last one wins") {
    val conf = lakeOf("case", Seq(SyntheticChannels.Chan(1, "Case#One", 1, 1.0),
      SyntheticChannels.Chan(3, "case#one", 3, 2.0)))
    val chans = Lake.channels(spark, conf.lakePath)
    assert(chans === Seq("Case_One", "case_one"))
    val table = s"${conf.database}.case_one_raw"
    val tables = Pipeline.loadWarehouse(spark, conf)
    assert(tables === Seq(table))
    assertLoaded(conf, chans.takeRight(1))
    // the mart holds the surviving channel's rows once, not once per key
    val mart = Pipeline.transform(spark,
      Pipeline.registerStaging(spark, tables), conf)
    assert(mart.count() === nBatches)
  }

  test("RAW tables are written in split-sized files, not one file per batch") {
    val batches = 12
    Seq(false, true).foreach { csv =>
      val conf = lakeOf(s"files_${if (csv) "csv" else "pq"}", chans, batches, csv)
      val keys = Lake.channels(spark, conf.lakePath)
      assert(keys.size === chans.size)
      val (tables, mart) = loadAll(conf)
      tables.foreach(t => assert(spark.table(t).inputFiles.length === 1, t))
      assert(mart.inputFiles.length === chans.size)
      assert(mart.count() === chans.size * batches)
      assertLoaded(conf, keys, batches)
    }
    // A split below one channel's bytes: that table takes ⌈bytes/split⌉ files.
    val conf = lakeOf("files_split", chans, batches)
    val ch = Lake.channels(spark, conf.lakePath).head
    val bytes = Lake.channelBytes(Lake.read(spark, conf.lakePath))(ch)
    val split = bytes / 3 + 1
    val want = (bytes + split - 1) / split
    assert(want > 1 && want < batches)
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.get(key)
    spark.conf.set(key, split.toString)
    try Pipeline.loadWarehouse(spark, conf)
    finally spark.conf.set(key, saved)
    assert(rawTable(conf, ch).inputFiles.length === want)
    assertLoaded(conf, Seq(ch), batches)
  }

  test("numeric channel keys load only their own rows (\"7\" vs \"0007\")") {
    val conf = lakeOf("numkeys", Seq(SyntheticChannels.Chan(1, "7", 1, 1.0),
      SyntheticChannels.Chan(3, "0007", 3, 2.0)))
    val keys = Lake.channels(spark, conf.lakePath)
    assert(keys === Seq("0007", "7"))
    val (_, mart) = loadAll(conf)
    assertLoaded(conf, keys)
    val lakeRows = Lake.read(spark, conf.lakePath).select("title", "timestamp")
    assert(rowSet(mart.select("title", "timestamp")) === rowSet(lakeRows))
  }

  test("Hive-escaped and '+' channel keys each find their listed bytes and rows") {
    Seq(false, true).foreach { csv =>
      val conf = lakeOf(s"escaped_${if (csv) "csv" else "pq"}",
        Seq(SyntheticChannels.Chan(1, "Esc#One", 1, 1.0),
          SyntheticChannels.Chan(3, "Esc#Two", 3, 2.0)),
        csv = csv, retitle = Map("Esc One" -> "A#B", "Esc Two" -> "X+Y Z"))
      val keys = Lake.channels(spark, conf.lakePath)
      assert(keys === Seq("A#B", "X+Y_Z"))
      if (!csv)
        assert(Lake.channelBytes(Lake.read(spark, conf.lakePath)).keySet === keys.toSet)
      val (tables, mart) = loadAll(conf)
      assert(tables.size === keys.size)
      assertLoaded(conf, keys)
      assert(rowSet(mart.select("title")) ===
        Seq.fill(nBatches)(Seq("[A#B]", "[X+Y Z]")).flatten.sorted)
    }
  }

  test("retries are bounded: attempts exhausted rethrows the last failure") {
    var calls = 0
    val e = intercept[RuntimeException] {
      Retry("always-fails", attempts = 3) { calls += 1; sys.error(s"boom $calls") }
    }
    assert(calls === 3)
    assert(e.getMessage === "boom 3")
  }

  test("catchup=false runs only the latest pending batch (extract.py:196)") {
    def ts(d: Int) = SyntheticChannels.batchTs(d)
    val pending = Seq(ts(1) -> "a", ts(2) -> "b", ts(3) -> "c")
    // no prior run, no catchup: latest only — the reference's choice
    assert(Retry.selectBatches(pending, None, catchup = false) ===
      Seq(ts(3) -> "c"))
    // catchup replays the full missed backlog after lastRun
    assert(Retry.selectBatches(pending, Some(ts(1)), catchup = true) ===
      Seq(ts(2) -> "b", ts(3) -> "c"))
    // nothing pending after lastRun: both modes are a no-op
    assert(Retry.selectBatches(pending, Some(ts(3)), catchup = false) === Nil)
    assert(Retry.selectBatches(pending, Some(ts(3)), catchup = true) === Nil)
  }

  test("streaming extract (5-min variant) fills the same lake as batch extract") {
    import org.apache.spark.sql.streaming.Trigger
    val jsonDir = scratch("stream_json"); val cp = scratch("stream_cp")
    val streamLake = scratch("stream_lake"); val batchLake = scratch("batch_lake")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(jsonDir))

    // Responses no item row may come from: a corrupt document, one with
    // no items, and a top-level array of otherwise good responses (one
    // `from_json` parse takes a document as one struct, never as rows).
    val stray = SyntheticChannels.Chan(7, "Stray#Z", 7, 1.0)
    def responses(b: Int): Seq[String] = chans.map(SyntheticChannels.json(_, b)) ++ Seq(
      "{ this is not json",
      """{"kind": "youtube#channelListResponse", "items": []}""",
      s"[${SyntheticChannels.json(stray, b)}, ${SyntheticChannels.json(stray, b)}]")
    def dropFiles(b: Int): Unit = responses(b).zipWithIndex.foreach { case (r, i) =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(jsonDir, s"resp_${b}_$i.json"), r)
    }
    def runOnce(): Unit = {
      val q = Pipeline.streamExtract(spark, jsonDir,
        Pipeline.Config(lakePath = streamLake), cp,
        batchTs = id => SyntheticChannels.batchTs(id.toInt + 1),
        trigger = Trigger.AvailableNow())
      q.awaitTermination()
    }
    dropFiles(1); runOnce()   // micro-batch 0 -> batchTs(1)
    dropFiles(2); runOnce()   // micro-batch 1 -> batchTs(2) (checkpoint resume)

    (1 to nBatches).take(2).foreach { b =>
      graft.lake.Lake.appendBatch(
        Ingest.extract(spark, responses(b), SyntheticChannels.batchTs(b)), batchLake)
    }
    // Footer-inferred reads, so the column order is the one each path wrote.
    val got = spark.read.parquet(streamLake)
    val want = spark.read.parquet(batchLake)
    assert(got.count() === chans.size * 2)
    assert(got.columns.toSeq === want.columns.toSeq)
    assert(got.collect().map(_.toString).sorted.toSeq ===
      want.collect().map(_.toString).sorted.toSeq)
  }
}
