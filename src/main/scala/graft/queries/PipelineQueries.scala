package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.Flatten
import graft.pipeline.{Pipeline, SyntheticChannels}
import graft.util.Tables

/** q35 — the reference's entire program, end to end: JSON extract →
  * flatten (P1/P2/P3/P6 keep-first semantics) → drops (P4) → batch
  * timestamp (P5) → channel-key derivation (P7) → partitioned lake
  * append (W1) → per-channel RAW warehouse load (S2/S3/W2) → staging
  * views in the `ytanalytics` database (S4/S5/P9/W4) → mart cast ×10 +
  * 7-way UNION ALL + CTAS (P8/U1/W5) → readback.
  *
  * Inputs are YouTube-API-shaped JSON derived deterministically from
  * `customer` (SyntheticChannels), so the DuckDB oracle replays the whole
  * pipeline as one SELECT over `customer` — including keep-first flatten
  * (the localized title and medium/high thumbnail urls must NOT appear),
  * missing-country null, and non-numeric viewCount → NULL.
  *
  * Scale note: every stage is a distributed job over the lake/warehouse
  * files; the only driver-side data is the 7 API response strings per
  * batch (identical to the reference's driver-side fetch).
  */
object PipelineQueries {

  /** Pin the streaming state-partition count to `n` for the duration
    * of `f`, restoring the session default after. A streaming query
    * pins `spark.sql.shuffle.partitions` at START as its state-store
    * count, and every micro-batch pays a commit per store — at the
    * bench's key cardinalities (150 users × 5 types) 32 stores are
    * pure fixed overhead (the q95/q172 lesson, round-10 verdict #8).
    * Applied ONLY to streams with real state stores (windowed agg,
    * dedup state, flatMapGroupsWithState, stream-stream joins —
    * measured −2.0 s across q74/q77/q80/q86): for the foreachBatch
    * MONITORS the same knob governs the batch aggregation's
    * parallelism, not a store count, and pinning it to 4 measurably
    * SLOWED five of six monitors (compute at 4-way on a 32-core
    * session) — they keep the session default. The production
    * decision stays explicit either way: state partitions ≈ key
    * cardinality / target per-store size, never blindly the batch
    * default. Batch queries are unaffected; the returned frame's own
    * evaluation runs after the restore.
    *
    * CONCURRENCY CONTRACT (round-11 ADVICE): this mutates the
    * session-GLOBAL `spark.sql.shuffle.partitions` for the duration
    * of `f` — any query planned concurrently in the same session
    * would silently plan at `n` partitions, and nested use restores
    * the inner value. Safe here because Bench/Verify/the specs run
    * queries strictly serially in their session (the repo-wide
    * execution contract). A caller that needs concurrent planning
    * must give the stream its own `spark.newSession()` and set the
    * conf there instead of using this helper.
    */
  private def withStateParts[T](s: SparkSession, n: Int)(f: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Move the part files of one partitionBy subdir into the feed dir
    * with pinned, strictly increasing mtimes — the file source
    * (latestFirst = false) processes oldest-mod-time first, so the
    * subdir index IS the arrival order, deterministic even under
    * same-millisecond writes.
    */
  private def moveParts(tmp: String, sub: String, dirF: java.io.File,
                        k: Int): Unit = {
    val partDir = new java.io.File(tmp, sub)
    Option(partDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .zipWithIndex.foreach { case (part, i) =>
        val dst = new java.io.File(dirF, f"chunk$k%02d-$i%d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(1700000000000L + k * 60000L + i)
      }
  }

  /** Write `df` as one file per value of the integer `bCol` (0 until
    * n), arrival-ordered by that index — the micro-batch feed shape
    * for the signed-delta monitors (q273): ONE partitioned write job,
    * parts renamed with pinned mtimes. `bCol` itself is consumed by
    * the partitioning and does not reach the feed schema.
    */
  private def writeBatchOrdered(df: DataFrame, bCol: String, n: Int,
                                dir: String): Unit = {
    val dirF = new java.io.File(dir)
    org.apache.commons.io.FileUtils.deleteQuietly(dirF)
    dirF.mkdirs()
    val tmp = graft.util.TmpDirs.perProcess("graft_feed_batches_tmp")
    df.repartition(col(bCol))
      .write.mode("overwrite").partitionBy(bCol).parquet(tmp)
    (0 until n).foreach(k => moveParts(tmp, s"$bCol=$k", dirF, k))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  /** Write `df` as `nChunks` event-time-span chunk files with strictly
    * increasing modification times: the file source (latestFirst =
    * false) processes oldest-mod-time first, so arrival order ==
    * event-time order — the premise of the bounded-delay watermark
    * proofs (q172/q272: maxTs(k) − delay < maxTs(k) <= minTs(k+1) for
    * disjoint ascending spans, so no row is ever watermark-late). ONE
    * partitioned write job (chunk = time-span bucket), parts renamed
    * into the feed dir with pinned mtimes — not sequential filtered
    * writes. `extraFiles` appends (suffix, frame) pairs as their own
    * files AFTER every chunk (later mtimes) — the q272 flush rows that
    * drive the final watermark past the whole feed.
    */
  private def writeTimeOrdered(df: DataFrame, tsCol: String, dir: String,
      nChunks: Int,
      extraFiles: Seq[(String, DataFrame)] = Seq.empty): Unit = {
    val dirF = new java.io.File(dir)
    org.apache.commons.io.FileUtils.deleteQuietly(dirF)
    dirF.mkdirs()
    val mm = df.agg(min(unix_micros(col(tsCol))).as("lo"),
      max(unix_micros(col(tsCol))).as("hi")).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val span = (hi - lo) / nChunks + 1
    val tmp = graft.util.TmpDirs.perProcess("graft_feed_chunks_tmp")
    df.withColumn("chunk",
        ((unix_micros(col(tsCol)) - lo) / span).cast("int"))
      .repartition(col("chunk"))
      .write.mode("overwrite").partitionBy("chunk").parquet(tmp)
    (0 until nChunks).foreach(k => moveParts(tmp, s"chunk=$k", dirF, k))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    extraFiles.zipWithIndex.foreach { case ((suffix, frame), j) =>
      val xtmp = graft.util.TmpDirs.perProcess("graft_feed_extra_tmp")
      frame.coalesce(1).write.mode("overwrite").parquet(xtmp)
      val part = new java.io.File(xtmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(dirF, s"zz$j-$suffix.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dst.setLastModified(1700000000000L + nChunks * 60000L + j + 1)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(xtmp))
    }
  }

  private def q35(s: SparkSession, d: String): DataFrame = {
    val conf = Pipeline.Config(
      lakePath = graft.util.TmpDirs.perProcess("graft_q35_lake"))
    Pipeline.run(s, SyntheticChannels.batches(s, d), conf)
      .orderBy("title", "timestamp")
  }

  private val oracle =
    """WITH chan AS (
      |  SELECT c_custkey AS k, c_name, c_nationkey, c_acctbal,
      |    replace(c_name, '#', ' ')
      |      || CASE WHEN c_custkey = 2 THEN '-Kids/HD' ELSE '' END AS title
      |  FROM customer WHERE c_custkey BETWEEN 1 AND 7),
      |b AS (SELECT unnest(generate_series(1, 3)) AS batch)
      |SELECT
      |  title,
      |  '@' || lower(c_name) AS customUrl,
      |  TIMESTAMP '2010-01-01 00:00:00' + INTERVAL (k) DAY AS PublishedAt,
      |  'https://img/' || CAST(k AS VARCHAR) || '/default.jpg' AS url_,
      |  CASE WHEN k = 3 THEN NULL
      |       ELSE 'C' || CAST(c_nationkey AS VARCHAR) END AS Country,
      |  CASE WHEN k = 5 THEN NULL
      |       ELSE CAST(floor(c_acctbal * 100) AS BIGINT) + 1000000 * batch
      |       END AS view_count,
      |  CAST(k * 100 + batch AS BIGINT) AS subscriberCount,
      |  CAST(k * 10 + batch AS BIGINT) AS videoCount,
      |  c_acctbal > 0 AS madeForKids,
      |  TIMESTAMP '2026-01-01 12:00:00' + INTERVAL (batch - 1) DAY AS "timestamp"
      |FROM chan, b
      |ORDER BY title, "timestamp"""".stripMargin

  val qs: Seq[Q] = Seq(
    Q("q35_pipeline_end_to_end", q35, Some(oracle),
      "full extract→lake→warehouse→staging→mart pipeline replay (all of SURVEY §2.1-2.7)"),

    // q57 — P6 flattenDictStyle (/root/reference/dags/optimized_extract
    // .py:25-39): structs recurse to BARE leaf names, arrays explode
    // positionally into `{name}_{i}` with NULL past the row's actual
    // length (try_element_at). The nested fixture is built from
    // `documents` on both sides: a two-level struct plus the first 5
    // normalized words as an array pinned to width 3.
    Q("q57_flatten_positional",
      (s, d) => {
        val nested = Tables(s, d, "documents").select(
          col("doc_id"),
          struct(col("lang"),
            struct(col("source"), col("n_chars")).as("inner")).as("meta"),
          slice(split(regexp_replace(lower(trim(col("text"))), "\\s+", " "),
            " "), 1, 5).as("head_words"))
        Flatten.flattenDictStyle(nested, Map("head_words" -> 3))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, lang, source, n_chars,
        |  list_slice(string_split(
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '),
        |    1, 5) AS hw
        |  FROM documents)
        |SELECT doc_id, lang, source, n_chars,
        |  hw[1] AS head_words_0, hw[2] AS head_words_1, hw[3] AS head_words_2
        |FROM w ORDER BY doc_id""".stripMargin),
      "positional dict-style flatten: bare struct leaves + {name}_{i} array explode (P6)"),

    // q74 — STRUCTURED STREAMING under the same CORRECTNESS regime as
    // every batch query (SURVEY §2.9, previously only spec-verified):
    // the events table is ingested through a real incremental file
    // stream (Trigger.AvailableNow = process the whole backlog as
    // micro-batches, then stop), aggregated by the SAME logical plan as
    // batch q21 (MicroBatch.hourlyAgg), and the materialized sink table
    // is what the DuckDB oracle compares against. The stream executes
    // in Spark's incremental engine — partial aggregation state per
    // (window, event_type), exactly-once file tracking — so a hash
    // match here certifies the streaming path end-to-end, not a batch
    // twin. Complete-mode memory sink keeps the comparison exact at
    // test SF; the production shape is MicroBatch.runToParquet
    // (append mode + watermark + checkpoint).
    Q("q74_streaming_window_agg",
      (s, d) => withStateParts(s, 4) {
        val qname = s"graft_q74_sink_${streamSinkRuns.incrementAndGet()}"
        val schema = s.read.parquet(s"$d/events.parquet").schema
        // the file-stream source wants a DIRECTORY to incrementally list;
        // the glob filter scopes it to the events table inside the sf dir
        val stream = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(d)
          .transform(graft.util.Tables.normalizeTs(_))
        val query = graft.streaming.MicroBatch.hourlyAgg(stream)
          .writeStream.format("memory").queryName(qname)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        s.table(qname).orderBy("hour_start", "event_type")
      },
      Some("""SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |  count(*) AS n, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin),
      "AvailableNow file-stream ingest + incremental window agg, oracle-compared to batch"),

    // q77 — streaming STATEFUL DEDUP under the oracle (§2.9's second
    // mechanism, previously spec-only): distinct (user_id, event_type)
    // pairs maintained in streaming dedup state across micro-batches,
    // emitted append-mode. The projection is keys-only so the surviving
    // row is identical whichever arrival wins — what makes streaming
    // dedup oracle-comparable despite nondeterministic file-split
    // arrival order. Production adds dropDuplicatesWithinWatermark to
    // bound state (graft.streaming.StreamingDedup).
    Q("q77_streaming_dedup",
      (s, d) => withStateParts(s, 4) {
        val qname = s"graft_q77_sink_${streamSinkRuns.incrementAndGet()}"
        val schema = s.read.parquet(s"$d/events.parquet").schema
        val query = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(d)
          .select(col("user_id"), col("event_type"))
          .dropDuplicates("user_id", "event_type")
          .writeStream.format("memory").queryName(qname)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        s.table(qname).orderBy("user_id", "event_type")
      },
      Some("""SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin),
      "streaming stateful dedup (distinct keys across micro-batches), oracle-compared"),

    // q80 — BOUNDED-STATE streaming dedup under the oracle: the
    // production path q77 could not certify. q77 oracles plain
    // dropDuplicates, whose per-key state grows forever; this runs
    // StreamingDedup.dedup — dropDuplicatesWithinWatermark, the shape
    // that survives an unbounded feed because state older than the
    // event-time watermark is EVICTED. The delay is chosen to cover the
    // whole test feed's event-time span, so every duplicate falls
    // inside the watermark and the bounded-state answer provably equals
    // DuckDB DISTINCT — which is exactly the operator's contract
    // (re-deliveries arrive within the delay; only those must dedup).
    // The keys-only projection AFTER the dedup makes the surviving row
    // identical whichever arrival wins (q77's arrival-order-proofing);
    // StreamingDedupSpec keeps covering the eviction behavior an
    // all-inside-watermark oracle cannot express.
    Q("q80_streaming_dedup_watermark",
      (s, d) => withStateParts(s, 4) {
        val qname = s"graft_q80_sink_${streamSinkRuns.incrementAndGet()}"
        val schema = s.read.parquet(s"$d/events.parquet").schema
        val stream = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(d)
          .transform(graft.util.Tables.normalizeTs(_))
        val query = graft.streaming.StreamingDedup
          .dedup(stream, Seq("user_id", "event_type"), "ts", "3650 days")
          .select(col("user_id"), col("event_type"))
          .writeStream.format("memory").queryName(qname)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        s.table(qname).orderBy("user_id", "event_type")
      },
      Some("""SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin),
      "bounded-state streaming dedup (dropDuplicatesWithinWatermark), oracle-compared"),

    // q86 — streaming SESSIONIZATION under the oracle: §2.9's custom-
    // state mechanism (flatMapGroupsWithState) joins q74/q77/q80 in the
    // CORRECTNESS regime. The events feed plus one sentinel flush event
    // per user (ts = global max + gap + 1s, value 0) runs through
    // StatefulSessions.sessionize in the incremental engine; the
    // sentinel closes every user's open tail — its gap from ANY last
    // event exceeds the 30-min gap by construction — so append-mode
    // emissions = ALL real sessions, while the sentinel's own 1-event
    // session stays open and unemitted. The oracle replays q20's batch
    // gap logic over the REAL events only. Session boundaries depend
    // only on ts (ties cannot straddle a gap), so arrival order is
    // harmless; session_value rounds at 4dp like q20 (same documented
    // cross-engine float-sum residual). StatefulSessionsSpec covers the
    // cross-micro-batch checkpoint-resume path the oracle cannot see.
    //
    // SINK RULE (learned from this query's first sf10 warmup, which
    // OOM'd the 8 GB bench JVM): the memory sink collects its table on
    // the DRIVER, so it is only for outputs bounded by key space
    // (q74's hourly grid, q77/q80's user×type distinct). Sessions are
    // CORPUS-SIZED — one row per session — so this query writes the
    // stream to a durable parquet sink (executor-side, the production
    // shape q74's comment names) and reads the result back; the
    // memory-sink variant died at 100M events exactly the way a real
    // cluster's driver would.
    Q("q86_streaming_sessions",
      (s, d) => withStateParts(s, 4) {
        val outDir = graft.util.TmpDirs.perProcess(
          s"graft_q86_out_${streamSinkRuns.incrementAndGet()}")
        val ev = Tables(s, d, "events").select(col("user_id"), col("ts"), col("value"))
        val maxUs = ev.agg(max(unix_micros(col("ts"))).as("m"))
        val flush = ev.select(col("user_id")).distinct()
          .crossJoin(broadcast(maxUs))
          .select(col("user_id"),
            expr("timestamp_micros(m + 1801000000)").as("ts"),
            lit(0.0).as("value"))
        val feed = graft.util.FeedCache.ensure("q86_feed", d) { p =>
          ev.unionByName(flush).write.mode("overwrite").parquet(p) }
        import s.implicits.newProductEncoder
        val stream = s.readStream.schema(ev.schema).parquet(feed)
          .as[graft.streaming.StatefulSessions.Ev]
        val query = graft.streaming.StatefulSessions
          .sessionize(s, stream, gapMinutes = 30)
          .writeStream.format("parquet")
          .option("path", s"$outDir/data")
          .option("checkpointLocation", s"$outDir/ckpt")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        s.read.parquet(s"$outDir/data")
          .select(col("user_id"), col("session_start"), col("session_end"),
            col("n_events"), round(col("session_value"), 4).as("session_value"))
          .orderBy("user_id", "session_start")
      },
      Some("""WITH g AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, value,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        |  FROM g)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  count(*) AS n_events, round(sum(value), 4) AS session_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin),
      "flatMapGroupsWithState sessionization under the oracle (sentinel-flushed open tails)"),

    // q88 — incremental latest-wins UPSERT into the warehouse: the
    // incremental sibling of W2's truncate+reload (a real warehouse
    // cannot rebuild 100 TB nightly). The update batch is derived
    // deterministically from events (every 7th event re-delivered 1h
    // later with doubled value and a new type); Warehouse.upsert merges
    // it by event_id, greatest ts wins. The oracle replays the same
    // derivation + QUALIFY row_number merge.
    Q("q88_incremental_upsert",
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select("event_id", "ts", "user_id", "event_type", "value")
        val upd = ev.filter(col("event_id") % 7 === 0)
          .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
          .withColumn("event_type", lit("updated"))
          .withColumn("value", round(col("value") * 2, 4))
        graft.warehouse.Warehouse.upsert(ev, upd, Seq("event_id"), "ts")
          .orderBy("event_id")
      },
      Some("""WITH u AS (SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id,
        |    'updated' AS event_type, round(value * 2, 4) AS value
        |  FROM events WHERE event_id % 7 = 0),
        |b AS (SELECT event_id, ts, user_id, event_type, value, 0 AS is_upd FROM events
        |  UNION ALL
        |  SELECT event_id, ts, user_id, event_type, value, 1 AS is_upd FROM u)
        |SELECT event_id, ts, user_id, event_type, value FROM b
        |QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY ts DESC, is_upd DESC) = 1
        |ORDER BY event_id""".stripMargin),
      "incremental latest-wins upsert (MERGE semantics as union + per-key top-1)"),

    // q95 — STREAM-STREAM interval join under the oracle (§2.9's join
    // mechanism, completing the streaming family: window agg q74,
    // stateful dedup q77/q80, sessionization q86): views and clicks run
    // as TWO separate file streams (each written as 2 files, read with
    // maxFilesPerTrigger=1, so matches genuinely straddle micro-batches
    // and the join buffers state across them — 2 files per side keeps
    // the per-micro-batch state-store commit overhead, the dominant
    // local cost, at the minimum that still proves the mechanism; the
    // spec drives a finer one-file-per-row split), inner-joined on user
    // with click time in [view, view + 2h]. Watermarks on both sides
    // make the state evictable in production; the test delay covers the
    // whole feed so no row is dropped and the result provably equals
    // the batch interval join the oracle runs. Inner matches emit when
    // both rows have arrived — arrival order changes emission order,
    // never the match set, so the sorted output is deterministic.
    Q("q95_stream_stream_join",
      (s, d) => withStateParts(s, 4) {
        val qname = s"graft_q95_sink_${streamSinkRuns.incrementAndGet()}"
        // Size the join's STATE partitions to the stream, not the batch
        // default: a streaming query pins shuffle.partitions at start as
        // its state-store count, and every micro-batch pays a commit per
        // store per side — 32 stores × 4 batches of this feed is pure
        // overhead at this key cardinality (150 users). 4 is the real
        // production decision (state partitions ≈ key cardinality /
        // target per-store size), made explicitly here and restored
        // after; batch queries are unaffected.
        val ev = Tables(s, d, "events")
        val feedV = graft.util.FeedCache.ensure("q95_views", d) { p =>
          ev.filter(col("event_type") === "view")
            .select(col("user_id"), col("event_id").as("view_id"),
              col("ts").as("v_ts"))
            .repartition(2).write.mode("overwrite").parquet(p) }
        val feedC = graft.util.FeedCache.ensure("q95_clicks", d) { p =>
          ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("event_id").as("click_id"),
              col("ts").as("c_ts"))
            .repartition(2).write.mode("overwrite").parquet(p) }
        val vs = s.readStream.schema(s.read.parquet(feedV).schema)
          .option("maxFilesPerTrigger", "1").parquet(feedV)
        val cs = s.readStream.schema(s.read.parquet(feedC).schema)
          .option("maxFilesPerTrigger", "1").parquet(feedC)
        val joined = graft.streaming.IntervalJoin
          .within(vs, "v_ts", cs, "c_ts", "user_id",
            gap = "2 hours", delay = "3650 days")
          .select(col("l.user_id").as("user_id"), col("view_id"),
            col("click_id"),
            (unix_micros(col("c_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
        val query = joined.writeStream.format("memory").queryName(qname)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        s.table(qname).orderBy("view_id", "click_id")
      },
      Some("""SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
        |  epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
        |FROM events v JOIN events c
        |  ON v.user_id = c.user_id
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 2 HOUR
        |WHERE v.event_type = 'view' AND c.event_type = 'click'
        |ORDER BY view_id, click_id""".stripMargin),
      "stream-stream interval join across micro-batches, oracle-compared to batch"),

    // q172 — the PRODUCTION shape of q95: the SAME interval join run
    // with a minutes-scale watermark delay (30 min), the configuration
    // a real deployment uses — join state is continuously evicted as
    // the watermark advances instead of accumulating for the stream's
    // lifetime (q95's cover-everything delay exists only for oracle
    // determinism on an arbitrarily-split feed). Equality with the
    // batch oracle holds because this feed arrives in EVENT-TIME ORDER:
    // each side is split into 4 time-span chunk files processed
    // oldest-first (mod-time ordered, one per micro-batch), so after
    // chunk k the watermark sits at maxTs(k) - delay < minTs(k+1) —
    // (a) no arriving row is ever watermark-late, and (b) a buffered
    // view is evicted only once v_ts + gap < watermark, by which point
    // every click that could match it (c_ts <= v_ts + gap) has already
    // arrived and joined. The q80 bargain, applied to the join:
    // bounded state, provably-complete output on an in-watermark feed.
    // IntervalJoinSpec asserts the eviction itself (numRowsRemoved > 0,
    // final state < total buffered) on the same shape.
    Q("q172_stream_join_bounded",
      (s, d) => withStateParts(s, 4) {
        val qname = s"graft_q172_sink_${streamSinkRuns.incrementAndGet()}"
        // state partitions sized to key cardinality; 4 (not q95's
        // original 8) — state-store commit cost is per partition per
        // trigger and dominates this query's bench profile (round-9
        // verdict: streaming fixed overhead masks real regressions)
        val ev = Tables(s, d, "events")
        // Write `df` as 3 event-time-span chunk files with strictly
        // increasing modification times: the file source (latestFirst =
        // false) processes oldest-mod-time first, so arrival order ==
        // event-time order — the premise of the bounded-delay proof
        // (which holds for ANY chunk count: maxTs(k) − delay <
        // maxTs(k) <= minTs(k+1) for disjoint ascending spans; 2 is
        // the minimum that keeps matches straddling micro-batches —
        // each trimmed trigger saves ~0.8 s of per-batch state-store
        // commit at bench scale, and IntervalJoinSpec keeps asserting
        // the eviction mechanics on its own finer split).
        // ONE partitioned write job per side (chunk = time-span bucket),
        // then the parts are renamed into the feed dir with pinned
        // mtimes — not sequential filtered writes.
        val feedV = graft.util.FeedCache.ensure("q172_views", d) { p =>
          writeTimeOrdered(ev.filter(col("event_type") === "view")
            .select(col("user_id"), col("event_id").as("view_id"),
              col("ts").as("v_ts")), "v_ts", p, nChunks = 2) }
        val feedC = graft.util.FeedCache.ensure("q172_clicks", d) { p =>
          writeTimeOrdered(ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("event_id").as("click_id"),
              col("ts").as("c_ts")), "c_ts", p, nChunks = 2) }
        val vs = s.readStream.schema(s.read.parquet(feedV).schema)
          .option("maxFilesPerTrigger", "1").parquet(feedV)
        val cs = s.readStream.schema(s.read.parquet(feedC).schema)
          .option("maxFilesPerTrigger", "1").parquet(feedC)
        val joined = graft.streaming.IntervalJoin
          .within(vs, "v_ts", cs, "c_ts", "user_id",
            gap = "2 hours", delay = "30 minutes")
          .select(col("l.user_id").as("user_id"), col("view_id"),
            col("click_id"),
            (unix_micros(col("c_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
        val query = joined.writeStream.format("memory").queryName(qname)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        s.table(qname).orderBy("view_id", "click_id")
      },
      Some("""SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
        |  epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
        |FROM events v JOIN events c
        |  ON v.user_id = c.user_id
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 2 HOUR
        |WHERE v.event_type = 'view' AND c.event_type = 'click'
        |ORDER BY view_id, click_id""".stripMargin),
      "bounded-state stream-stream join: 30-min watermark on a time-ordered feed, oracle-equal"),

    // q173 — S1 through a REAL Spark source: the YouTube extract read
    // via spark.read.format("graft-youtube") (DataSourceV2, one
    // InputPartition per fetch unit, transport executed executor-side —
    // sources/YoutubeSource.scala) instead of driver-side strings handed
    // to Ingest.extract. The fixture transport replays the
    // same SyntheticChannels responses (one file per channel × batch),
    // so the DuckDB oracle replays the flatten/drop/key-derivation
    // pipeline over `customer` at the RAW level — counts still strings,
    // publishedAt still ISO text — proving the source + declarative
    // parse produce byte-identical extract rows. Batch wall-clock tags
    // derive from the unit name (the production analogue: one batch
    // per crawl run), so, as in Ingest.extract, the tag is a column of
    // the data, not a per-batch literal.
    Q("q173_dsv2_extract",
      (s, d) => {
        val dir = new java.io.File(
          graft.util.TmpDirs.perProcess("graft_q173_fixtures"))
        org.apache.commons.io.FileUtils.deleteQuietly(dir)
        dir.mkdirs()
        val chans = SyntheticChannels.channels(s, d)
        (1 to SyntheticChannels.nBatches).foreach { b =>
          chans.foreach { c =>
            java.nio.file.Files.writeString(
              new java.io.File(dir, f"b$b%02d_c${c.k}%02d.json").toPath,
              SyntheticChannels.json(c, b))
          }
        }
        val raw = s.read.format("graft-youtube")
          .option("path", dir.getPath).load()
        val items = raw
          .select(
            regexp_extract(col("unit"), "b(\\d+)_c\\d+\\.json$", 1)
              .cast("int").as("batch"),
            from_json(col("value"), graft.model.Schemas.channelResponse)
              .as("r"))
          .select(col("batch"), explode(col("r.items")).as("item"))
          .select(col("batch"), col("item.*"))
        Flatten.loopdict(items)
          .withColumn("timestamp",
            expr("TIMESTAMP '2026-01-01 12:00:00' + (batch - 1) * INTERVAL '1' DAY"))
          .drop(graft.ingest.Ingest.dropCols: _*)
          .select(
            graft.ingest.Ingest.channelKey(col("title")).as("channel_key"),
            col("title"), col("customUrl"), col("publishedAt"), col("url"),
            col("country"), col("viewCount"), col("subscriberCount"),
            col("videoCount"), col("madeForKids"), col("timestamp"))
          .orderBy("title", "timestamp")
      },
      Some("""WITH chan AS (
        |  SELECT c_custkey AS k, c_name, c_nationkey, c_acctbal,
        |    replace(c_name, '#', ' ')
        |      || CASE WHEN c_custkey = 2 THEN '-Kids/HD' ELSE '' END AS title
        |  FROM customer WHERE c_custkey BETWEEN 1 AND 7),
        |b AS (SELECT unnest(generate_series(1, 3)) AS batch)
        |SELECT
        |  array_to_string(string_split(
        |    string_split(replace(title, '-', ' '), '/')[1], ' '), '_')
        |    AS channel_key,
        |  title,
        |  '@' || lower(c_name) AS customUrl,
        |  '2010-01-0' || CAST(k + 1 AS VARCHAR) || 'T00:00:00Z' AS publishedAt,
        |  'https://img/' || CAST(k AS VARCHAR) || '/default.jpg' AS url,
        |  CASE WHEN k = 3 THEN NULL
        |       ELSE 'C' || CAST(c_nationkey AS VARCHAR) END AS country,
        |  CASE WHEN k = 5 THEN 'N/A'
        |       ELSE CAST(CAST(floor(c_acctbal * 100) AS BIGINT)
        |         + 1000000 * batch AS VARCHAR) END AS viewCount,
        |  CAST(k * 100 + batch AS VARCHAR) AS subscriberCount,
        |  CAST(k * 10 + batch AS VARCHAR) AS videoCount,
        |  c_acctbal > 0 AS madeForKids,
        |  TIMESTAMP '2026-01-01 12:00:00' + INTERVAL (batch - 1) DAY AS "timestamp"
        |FROM chan, b
        |ORDER BY title, "timestamp"""".stripMargin),
      "S1 as a DataSourceV2: graft-youtube source (executor-side pluggable transport), raw extract oracle"),

    // q177 — SCHEMA EVOLUTION across lake epochs: epoch 1 lands the v1
    // projection, epoch 2 adds a column (the inevitable fate of every
    // long-lived lake dataset), and the union read uses mergeSchema so
    // v1 rows surface the new column as NULL instead of failing or
    // silently dropping it. Epochs are partition dirs (batch=N), so
    // the epoch id rides back as a pruned partition column. The oracle
    // replays the evolution from `orders` directly — the merged read
    // must be indistinguishable from a table that always had the
    // column.
    Q("q177_schema_evolution",
      (s, d) => {
        val o = Tables(s, d, "orders")
        val lake = graft.util.TmpDirs.perProcess("graft_q177_lake")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lake))
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$lake/batch=1")
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            substring(col("o_orderpriority"), 1, 1).as("prio"))
          .write.mode("overwrite").parquet(s"$lake/batch=2")
        s.read.option("mergeSchema", "true").parquet(lake)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("prio"), col("batch"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice,
        |  CASE WHEN o_orderkey % 2 = 1
        |       THEN substring(o_orderpriority, 1, 1) END AS prio,
        |  CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS batch
        |FROM orders ORDER BY o_orderkey""".stripMargin),
      "lake schema evolution: mergeSchema union of v1/v2 epochs, NULL-fill proven against the oracle"),

    // q101 — streaming INCREMENTAL AGGREGATE MAINTENANCE: the q99
    // algebraic-partials warehouse pattern driven by a real stream.
    // foreachBatch aggregates each micro-batch (3 single-file batches)
    // to (user, count, integral sum) partials and MERGES them into the
    // persisted state table — O(|batch|) per trigger, history never
    // rescanned, the exact shape of a production streaming-ETL sink.
    // State is batchId-keyed and _SUCCESS-resolved (BatchState): a
    // resumed or retried run re-derives its predecessor from disk.
    // Long addition is order-independent, so however the files split
    // into batches the final state provably equals the oracle's full
    // recompute — same oracle as q99, entirely different machinery.
    Q("q101_streaming_agg_maintenance",
      (s, d) => {
        import graft.warehouse.Warehouse
        import graft.streaming.BatchState
        val ev = Tables(s, d, "events").select(col("user_id"),
          round(col("value") * 10000).cast("long").as("vbp"))
        val feed = graft.util.FeedCache.ensure("q101_feed", d) { p =>
          ev.repartition(3).write.mode("overwrite").parquet(p) }
        val Seq(st) = BatchState.fold(s, feed, "q101", Seq("state")) {
          (batch, prev) =>
            val partial = Warehouse.aggState(batch, Seq("user_id"), col("vbp"))
            Seq(prev.fold(partial)(p =>
              Warehouse.mergeAggState(p :+ partial, Seq("user_id"))))
        }
        st.select(col("user_id"), col("n_rows").as("n_events"),
            (col("total_bp") / 10000.0).as("total_value"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
        |    / 10000.0 AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
      "streaming incremental agg maintenance: per-batch partial merge == full recompute"),

    // q120 — SNAPSHOT DIFF (CDC recovery): classify every order key as
    // insert / delete / update / unchanged between two derived snapshot
    // versions — base = keys with k%10 != 0 at original price; next =
    // keys with k%13 != 0, with a 10% price bump on k%7 == 0 rows. The
    // bump runs in exact integer CENTS (cents + cents div 10) — no
    // float multiply whose half-way rounding could diverge between
    // engines. The batch complement of q88's upsert: upsert APPLIES a
    // delta, diff RECOVERS one. One key-partitioned full-outer join;
    // at warehouse scale both snapshots land bucketed on the key
    // (Warehouse.loadBucketed) and the exchanges vanish.
    Q("q120_snapshot_diff",
      (s, d) => {
        val o = Tables(s, d, "orders").select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
          col("o_orderstatus").as("st"))
        val base = o.filter(col("k") % 10 =!= 0)
        val next = o.filter(col("k") % 13 =!= 0)
          .withColumn("cents", when(col("k") % 7 === 0,
            col("cents") + expr("cents div 10")).otherwise(col("cents")))
        graft.operators.Diff.snapshotDiff(base, next,
            Seq("k"), Seq("cents", "st"))
          .groupBy("diff_status")
          .agg(count(lit(1)).as("n_rows"), sum("k").as("key_checksum"))
          .orderBy("diff_status")
      },
      Some("""WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |    o_orderstatus AS st FROM orders),
        |base AS (SELECT * FROM o WHERE k % 10 <> 0),
        |nxt AS (SELECT k,
        |    CASE WHEN k % 7 = 0 THEN cents + cents // 10 ELSE cents END AS cents,
        |    st FROM o WHERE k % 13 <> 0),
        |j AS (SELECT coalesce(b.k, n.k) AS k,
        |    CASE WHEN b.k IS NULL THEN 'insert'
        |         WHEN n.k IS NULL THEN 'delete'
        |         WHEN b.cents IS DISTINCT FROM n.cents
        |           OR b.st IS DISTINCT FROM n.st THEN 'update'
        |         ELSE 'unchanged' END AS diff_status
        |  FROM base b FULL OUTER JOIN nxt n ON b.k = n.k)
        |SELECT diff_status, count(*) AS n_rows,
        |  CAST(sum(k) AS BIGINT) AS key_checksum
        |FROM j GROUP BY diff_status ORDER BY diff_status""".stripMargin),
      "snapshot diff / CDC: insert-delete-update-unchanged via one key-partitioned full-outer join"),

    // q123 — STREAMING CDC APPLY: a change feed (upserts + 'd'
    // tombstones keyed on l_orderkey, versioned by l_linenumber) arrives
    // as file-stream micro-batches; each batch folds into the state
    // table via the q88 latest-wins upsert — tombstones ride as
    // VERSIONED ROWS, not immediate deletes, so application is
    // arrival-order-PROOF (any batch split converges to the same state:
    // max-version-wins is commutative where ordered-apply is not). The
    // final read drops tombstones. This is how MERGE-with-deletes
    // actually survives an out-of-order feed at scale; the oracle is
    // the batch last-change-per-key answer.
    Q("q123_streaming_cdc_apply",
      (s, d) => {
        import graft.warehouse.Warehouse
        // (k, linenumber) is NOT unique in the feed, so the version
        // ENCODES the payload (ln, cents, op-flag): version ties are
        // then payload-identical and the winner's content deterministic
        // — the composite-version trick real CDC feeds use when the
        // source clock is too coarse.
        val changes = Tables(s, d, "lineitem").select(
            col("l_orderkey").as("k"),
            col("l_linenumber").cast("long").as("ln"),
            round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
            when(col("l_linenumber") % 7 === 0, lit("d")).otherwise(lit("u"))
              .as("op"))
          .withColumn("ver", col("ln") * lit(1000000000000L) +
            col("cents") * 10L + when(col("op") === "d", 1L).otherwise(0L))
          .drop("ln")
        val feed = graft.util.FeedCache.ensure("q123_feed", d) { p =>
          changes.repartition(4).write.mode("overwrite").parquet(p) }
        val Seq(st) = graft.streaming.BatchState
          .fold(s, feed, "q123", Seq("state")) { (batch, prev) =>
            val target = prev.fold(batch.limit(0))(_.head)
            Seq(Warehouse.upsert(target, batch, Seq("k"), "ver"))
          }
        st.filter(col("op") =!= "d")
          .select("k", "cents")
          .orderBy("k")
      },
      Some("""WITH c AS (SELECT l_orderkey AS k,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
        |    CASE WHEN l_linenumber % 7 = 0 THEN 'd' ELSE 'u' END AS op,
        |    CAST(l_linenumber AS BIGINT) * 1000000000000
        |      + CAST(round(l_extendedprice * 100, 0) AS BIGINT) * 10
        |      + CASE WHEN l_linenumber % 7 = 0 THEN 1 ELSE 0 END AS ver
        |  FROM lineitem),
        |last AS (SELECT k, cents, op FROM c
        |  QUALIFY row_number() OVER (PARTITION BY k ORDER BY ver DESC) = 1)
        |SELECT k, cents FROM last WHERE op <> 'd' ORDER BY k""".stripMargin),
      "streaming CDC apply: versioned tombstones + latest-wins fold, arrival-order-proof"),

    // q128 — STREAM-STATIC enrichment under the oracle (closing the one
    // streaming path previously verified only by StreamingEnrichSpec):
    // the events feed arrives as 3 file-stream micro-batches, each
    // inner-joined to the STATIC customer dimension (user_id ==
    // c_custkey — the dim is read once and broadcast per batch, the
    // standard stream-static plan), enriched rows appended to parquet,
    // and the final rollup compared hash-for-hash to the batch join the
    // oracle runs. Join-then-append is arrival-order-proof: the match
    // set is independent of batching. Value rides as exact cents.
    Q("q128_stream_static_enrich",
      (s, d) => {
        val run = streamSinkRuns.incrementAndGet()
        val ev = Tables(s, d, "events")
          .select(col("user_id"),
            round(col("value") * 100, 0).cast("long").as("cents"))
        val feed = graft.util.FeedCache.ensure("q128_feed", d) { p =>
          ev.repartition(3).write.mode("overwrite").parquet(p) }
        val dim = Tables(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val out = graft.util.TmpDirs.perProcess(s"graft_q128_out_$run")
        val stream = s.readStream.schema(s.read.parquet(feed).schema)
          .option("maxFilesPerTrigger", "1").parquet(feed)
        val query = stream
          .join(broadcast(dim), col("user_id") === col("c_custkey"))
          .select(col("c_mktsegment").as("segment"), col("cents"))
          .writeStream
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation",
            graft.util.TmpDirs.perProcess(s"graft_q128_ckpt_$run"))
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        s.read.parquet(out)
          .groupBy("segment")
          .agg(count(lit(1)).as("n_events"),
            (sum("cents") / 100.0).as("total_value"))
          .orderBy("segment")
      },
      Some("""SELECT c_mktsegment AS segment, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) / 100.0
        |    AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY segment""".stripMargin),
      "stream-static broadcast enrichment across micro-batches == the batch join"),

    // q137 — DELETE PROPAGATION (right-to-be-forgotten audit): given a
    // deletion list (user_id % 97 == 0), report the purge cascade
    // across the raw feed and two derived marts — rows before, rows
    // purged, rows after, per table. The deletion list rides as a
    // broadcast anti-join probe into each table scan (the 100 TB shape:
    // the list is small, the tables are not — no table ever shuffles
    // for the purge); each mart's rollup happens BEFORE the purge so
    // the report shows true cascade counts, not post-hoc arithmetic.
    Q("q137_delete_propagation",
      (s, d) => {
        val ev = Tables(s, d, "events")
        val dels = ev.select(col("user_id")).distinct()
          .filter(col("user_id") % 97 === 0)
        val daily = ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
        val latest = ev.groupBy("user_id")
          .agg(max(struct(col("ts"), col("event_id"))).as("last"))
        def report(name: String, df: org.apache.spark.sql.DataFrame) = {
          val purged = df.join(broadcast(dels), Seq("user_id"), "left_semi")
          df.agg(lit(name).as("table_name"), count(lit(1)).as("rows_before"))
            .crossJoin(broadcast(purged.agg(count(lit(1)).as("rows_purged"))))
            .select(col("table_name"), col("rows_before"), col("rows_purged"),
              (col("rows_before") - col("rows_purged")).as("rows_after"))
        }
        report("events", ev)
          .unionAll(report("daily_rollup", daily))
          .unionAll(report("user_latest", latest))
          .orderBy("table_name")
      },
      Some("""WITH dels AS (SELECT DISTINCT user_id FROM events
        |  WHERE user_id % 97 = 0),
        |daily AS (SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |latest AS (SELECT user_id FROM events GROUP BY user_id)
        |SELECT 'daily_rollup' AS table_name,
        |  CAST((SELECT count(*) FROM daily) AS BIGINT) AS rows_before,
        |  CAST((SELECT count(*) FROM daily WHERE user_id IN
        |    (SELECT user_id FROM dels)) AS BIGINT) AS rows_purged,
        |  CAST((SELECT count(*) FROM daily) - (SELECT count(*) FROM daily
        |    WHERE user_id IN (SELECT user_id FROM dels)) AS BIGINT) AS rows_after
        |UNION ALL
        |SELECT 'events',
        |  CAST((SELECT count(*) FROM events) AS BIGINT),
        |  CAST((SELECT count(*) FROM events WHERE user_id IN
        |    (SELECT user_id FROM dels)) AS BIGINT),
        |  CAST((SELECT count(*) FROM events) - (SELECT count(*) FROM events
        |    WHERE user_id IN (SELECT user_id FROM dels)) AS BIGINT)
        |UNION ALL
        |SELECT 'user_latest',
        |  CAST((SELECT count(*) FROM latest) AS BIGINT),
        |  CAST((SELECT count(*) FROM latest WHERE user_id IN
        |    (SELECT user_id FROM dels)) AS BIGINT),
        |  CAST((SELECT count(*) FROM latest) - (SELECT count(*) FROM latest
        |    WHERE user_id IN (SELECT user_id FROM dels)) AS BIGINT)
        |ORDER BY table_name""".stripMargin),
      "right-to-be-forgotten cascade report: broadcast semi-probe per table, no table shuffle"),

    // q141 — STREAMING drift monitor: q131's total-variation check run
    // the way production actually runs it — the REFERENCE histogram
    // (first half of the month) is frozen, with the bucket spec (lo/hi
    // from the reference only; live values outside clamp into the end
    // buckets) frozen with it; the live feed (second half) arrives as
    // file-stream micro-batches whose (type, bucket) counts fold into
    // an accumulating state table per batch (count merge is commutative
    // — arrival-order-proof); the final TVD compares accumulated live
    // counts against the frozen reference. Exact integers throughout.
    Q("q141_streaming_drift",
      (s, d) => {
        import graft.functions.IntMath
        val k = 20
        val e = Tables(s, d, "events").select(col("event_type").as("g"),
          col("ts"), round(col("value") * 100, 0).cast("long").as("cents"))
        val ref = e.filter(col("ts") < lit("2024-01-16").cast("timestamp"))
        val mm = ref.agg(min("cents").as("lo"), max("cents").as("hi"))
        def bucketed(df: org.apache.spark.sql.DataFrame) =
          df.crossJoin(broadcast(mm))
            .withColumn("bkt", least(lit(k - 1), greatest(lit(0L),
              IntMath.intDiv((col("cents") - col("lo")) * k,
                col("hi") - col("lo") + 1L))).cast("int"))
            .groupBy("g", "bkt").agg(count(lit(1)).as("n"))
        val refCnt = bucketed(ref)
        val live = e.filter(col("ts") >= lit("2024-01-16").cast("timestamp"))
          .drop("ts")
        val feed = graft.util.FeedCache.ensure("q141_feed", d) { p =>
          live.repartition(3).write.mode("overwrite").parquet(p) }
        val Seq(liveCnt) = graft.streaming.BatchState
          .fold(s, feed, "q141", Seq("state")) { (batch, prev) =>
            val part = bucketed(batch)
            Seq(prev.fold(part)(_.head.unionByName(part)
              .groupBy("g", "bkt").agg(sum("n").as("n"))))
          }
        val j = refCnt.select(col("g"), col("bkt"), col("n").as("n1"))
          .join(liveCnt.select(col("g"), col("bkt"), col("n").as("n2")),
            Seq("g", "bkt"), "full_outer")
          .select(col("g"), coalesce(col("n1"), lit(0L)).as("n1"),
            coalesce(col("n2"), lit(0L)).as("n2"))
        val tot = j.groupBy("g").agg(sum("n1").as("t1"), sum("n2").as("t2"))
        j.join(broadcast(tot), "g")
          .groupBy("g", "t1", "t2")
          .agg(sum(abs(col("n1") * col("t2") - col("n2") * col("t1")))
            .as("num"))
          .select(col("g").as("event_type"), col("t1").as("n_ref"),
            col("t2").as("n_live"),
            IntMath.halfUp(col("num"), lit(2L) * col("t1") * col("t2"), 10000L)
              .as("tvd_bp"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type AS g, ts,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
        |mm AS (SELECT min(cents) AS lo, max(cents) AS hi FROM e
        |  WHERE ts < TIMESTAMP '2024-01-16'),
        |b AS (SELECT g, ts < TIMESTAMP '2024-01-16' AS is_ref,
        |    CAST(least(19, greatest(0, ((cents - lo) * 20) // (hi - lo + 1)))
        |      AS INTEGER) AS bkt FROM e, mm),
        |cnt AS (SELECT g, bkt,
        |    CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n2
        |  FROM b GROUP BY g, bkt),
        |tot AS (SELECT g, CAST(sum(n1) AS BIGINT) AS t1,
        |    CAST(sum(n2) AS BIGINT) AS t2 FROM cnt GROUP BY g)
        |SELECT cnt.g AS event_type, t1 AS n_ref, t2 AS n_live,
        |  CAST((2 * sum(abs(n1 * t2 - n2 * t1)) * 10000 + 2 * t1 * t2)
        |    // (2 * (2 * t1 * t2)) AS BIGINT) AS tvd_bp
        |FROM cnt JOIN tot ON cnt.g = tot.g
        |GROUP BY cnt.g, t1, t2 ORDER BY event_type""".stripMargin),
      "streaming drift monitor: frozen reference histogram vs micro-batch-accumulated live counts")) ++ Seq(q204, q228, q230, q252, q270, q272, q273)

  // q273 — incremental TOP-K view maintenance under inserts AND
  // deletions (graft.operators.TopKState): the IVM family's
  // order-statistic member, the one that is NOT abelian — q200's
  // aggregates, q262's join views and q264/q270's COUNT(DISTINCT)
  // support state all merge by addition, but a deleted top row needs
  // a row NOBODY kept. State = per-group top-B buffer (B = 2k) + the
  // θ threshold of the best row ever evicted; the invariant
  // (buffer = all live rows above θ) makes the top-k read EXACT while
  // |buffer| >= k, and the one case deletion churn can break —
  // buffer drained below k with live rows still outstanding — is a
  // CERTIFIED condition (nb < k AND n_live > nb), answered by a
  // per-flagged-group refill from the base feed (broadcast semi-join)
  // and surfaced as the `refilled` output column. The feed's shape is
  // chosen so the drain actually happens: mid-stream deletes (30% of
  // early inserts, landing while later insert waves still refill the
  // buffer) exercise in-buffer and below-θ deletion, and a final
  // CHURN WAVE (batch 3: 60% of the survivors deleted AFTER the last
  // insert) drains buffers below k with live rows still outstanding —
  // the refill path runs, it is not dormant.
  // State rides BatchState (buf/meta components, _SUCCESS commit,
  // two-snapshot gc); the oracle replays the whole three-batch state
  // machine — admission, eviction, θ promotion, refill — in SQL.
  private lazy val q273 = Q("q273_topk_ivm_refill",
    (s, d) => {
      import graft.functions.TextFunctions.hash60
      import graft.operators.TopKState
      val k = 10
      val bCap = 2 * k
      val base0 = Tables(s, d, "orders").select(
        col("o_orderpriority").as("pri"),
        col("o_orderkey").cast("long").as("id"),
        round(col("o_totalprice") * 100).cast("long").as("v"))
      val ks = col("id").cast("string")
      val insB = pmod(hash60(ks, 3), lit(3)).cast("int")
      val midDel = pmod(hash60(ks, 7), lit(1000)) < 300 && insB < 2
      val midB = (insB + lit(1) +
        pmod(hash60(ks, 11), lit(2) - insB).cast("int")).cast("int")
      val waveDel = !(pmod(hash60(ks, 7), lit(1000)) < 300 && insB < 2) &&
        pmod(hash60(ks, 13), lit(1000)) < 600
      val signed = base0
        .withColumn("b", insB).withColumn("sign", lit(1L))
        .unionByName(base0.filter(midDel)
          .withColumn("b", midB).withColumn("sign", lit(-1L)))
        .unionByName(base0.filter(waveDel)
          .withColumn("b", lit(3).cast("int")).withColumn("sign", lit(-1L)))
        .select("b", "pri", "id", "v", "sign")
      val feed = graft.util.FeedCache.ensure("q273_feed", d) { p =>
        writeBatchOrdered(signed, "b", 4, p) }
      val Seq(buf, meta) = graft.streaming.BatchState
        .fold(s, feed, "q273", Seq("buf", "meta")) { (batch, prev) =>
          val (bufP, metaP) = prev match {
            case Some(Seq(b, m)) => (b, m)
            case _ => TopKState.emptyState(batch, Seq("pri"))
          }
          val (bufN, metaN) = TopKState.step(bufP, metaP, batch, Seq("pri"), bCap)
          Seq(bufN, metaN)
        }
      TopKState.topkWithRefill(buf, meta, s.read.parquet(feed), Seq("pri"), k)
        .orderBy("pri", "rnk")
    },
    Some("""WITH o AS MATERIALIZED (SELECT o_orderpriority AS pri,
      |    CAST(o_orderkey AS BIGINT) AS id,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS v,
      |    ('0x' || substring(md5('3#' || CAST(CAST(o_orderkey AS BIGINT) AS VARCHAR)), 1, 15))::BIGINT % 3 AS ib,
      |    ('0x' || substring(md5('7#' || CAST(CAST(o_orderkey AS BIGINT) AS VARCHAR)), 1, 15))::BIGINT % 1000 AS h7,
      |    ('0x' || substring(md5('11#' || CAST(CAST(o_orderkey AS BIGINT) AS VARCHAR)), 1, 15))::BIGINT AS h11,
      |    ('0x' || substring(md5('13#' || CAST(CAST(o_orderkey AS BIGINT) AS VARCHAR)), 1, 15))::BIGINT % 1000 AS h13
      |  FROM orders),
      |ins AS MATERIALIZED (SELECT ib AS b, pri, id, v FROM o),
      |del AS MATERIALIZED (
      |  SELECT ib + 1 + h11 % (2 - ib) AS b, pri, id
      |  FROM o WHERE h7 < 300 AND ib < 2
      |  UNION ALL
      |  SELECT 3 AS b, pri, id FROM o
      |  WHERE NOT (h7 < 300 AND ib < 2) AND h13 < 600),
      |c0 AS MATERIALIZED (SELECT pri, id, v, row_number() OVER (
      |    PARTITION BY pri ORDER BY v DESC, id ASC) AS rn
      |  FROM ins WHERE b = 0),
      |b0 AS MATERIALIZED (SELECT pri, id, v FROM c0 WHERE rn <= 20),
      |t0 AS MATERIALIZED (SELECT pri, v AS tv, id AS tid FROM c0 WHERE rn = 21),
      |a1 AS (SELECT i.pri, i.id, i.v FROM ins i LEFT JOIN t0 ON t0.pri = i.pri
      |  WHERE i.b = 1 AND (t0.pri IS NULL OR i.v > t0.tv
      |    OR (i.v = t0.tv AND i.id < t0.tid))),
      |c1 AS MATERIALIZED (SELECT pri, id, v, row_number() OVER (
      |    PARTITION BY pri ORDER BY v DESC, id ASC) AS rn FROM (
      |    SELECT * FROM b0 UNION ALL SELECT * FROM a1) u
      |  WHERE u.id NOT IN (SELECT id FROM del WHERE b = 1)),
      |b1 AS MATERIALIZED (SELECT pri, id, v FROM c1 WHERE rn <= 20),
      |t1 AS MATERIALIZED (SELECT pri, COALESCE(e.tv, t0.tv) AS tv,
      |    COALESCE(e.tid, t0.tid) AS tid
      |  FROM (SELECT pri, v AS tv, id AS tid FROM c1 WHERE rn = 21) e
      |  FULL OUTER JOIN t0 USING (pri)),
      |a2 AS (SELECT i.pri, i.id, i.v FROM ins i LEFT JOIN t1 ON t1.pri = i.pri
      |  WHERE i.b = 2 AND (t1.pri IS NULL OR i.v > t1.tv
      |    OR (i.v = t1.tv AND i.id < t1.tid))),
      |c2 AS MATERIALIZED (SELECT pri, id, v, row_number() OVER (
      |    PARTITION BY pri ORDER BY v DESC, id ASC) AS rn FROM (
      |    SELECT * FROM b1 UNION ALL SELECT * FROM a2) u
      |  WHERE u.id NOT IN (SELECT id FROM del WHERE b = 2)),
      |b2 AS MATERIALIZED (SELECT pri, id, v FROM c2 WHERE rn <= 20),
      |b3 AS MATERIALIZED (SELECT pri, id, v FROM b2
      |  WHERE id NOT IN (SELECT id FROM del WHERE b = 3)),
      |live AS MATERIALIZED (SELECT pri, id, v FROM ins
      |  WHERE id NOT IN (SELECT id FROM del)),
      |nl AS (SELECT pri, CAST(count(*) AS BIGINT) AS n_live FROM live GROUP BY pri),
      |nb AS (SELECT pri, CAST(count(*) AS BIGINT) AS nb FROM b3 GROUP BY pri),
      |fl AS MATERIALIZED (SELECT nl.pri, COALESCE(nb.nb, 0) AS nb, nl.n_live,
      |    CASE WHEN COALESCE(nb.nb, 0) < 10
      |      AND nl.n_live > COALESCE(nb.nb, 0)
      |      THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS refilled
      |  FROM nl LEFT JOIN nb ON nb.pri = nl.pri),
      |rows_ AS (SELECT b3.pri, b3.id, b3.v FROM b3
      |    JOIN fl ON fl.pri = b3.pri AND fl.refilled = 0
      |  UNION ALL
      |  SELECT l.pri, l.id, l.v FROM live l
      |    JOIN fl ON fl.pri = l.pri AND fl.refilled = 1),
      |rk AS (SELECT pri, id, v, row_number() OVER (
      |    PARTITION BY pri ORDER BY v DESC, id ASC) AS rnk FROM rows_)
      |SELECT rk.pri, fl.refilled, CAST(rk.rnk AS BIGINT) AS rnk, rk.id, rk.v
      |FROM rk JOIN fl ON fl.pri = rk.pri WHERE rk.rnk <= 10
      |ORDER BY rk.pri, rnk""".stripMargin),
    "incremental top-k view maintenance: top-B buffer + θ threshold state, certified refill on deletion drain, full state-machine replay oracle")

  // q272 — LEFT OUTER stream-stream interval join: the attribution
  // query production actually runs (q95/q172 prove the inner match
  // set; a marketing/abuse pipeline needs the NON-converting views
  // too). Every view emits — matched rows as the click arrives,
  // unmatched rows with null click columns once the watermark PROVES
  // no click can still arrive (the engine emits the null-padded row
  // when it evicts the view's join state — "unmatched" is a
  // watermark-certified verdict, never a timeout guess). On a finite
  // feed the tail views would still be buffered when the files run
  // out, so each side's feed ends with a sentinel FLUSH row 10 years
  // past max(ts) (the q86 close-the-books pattern; the global
  // watermark is the MIN across sources, hence both sides): the final
  // no-data batch's watermark then passes every v_ts + gap, all
  // verdicts emit, and the sentinels (keys -1/-2, matching nothing)
  // are filtered from the output. Equality with the batch LEFT JOIN:
  // the match set is arrival-order independent (q95's argument) and
  // the unmatched set is its exact complement — certified row by row
  // by the watermark under the same event-time-ordered chunk feed as
  // q172 (writeTimeOrdered). 100 TB shape: state stays bounded by the
  // gap + delay horizon exactly as in the inner join; the outer
  // verdicts add no state, only an emit-on-evict.
  private lazy val q272 = Q("q272_stream_join_outer",
    (s, d) => withStateParts(s, 4) {
      val qname = s"graft_q272_sink_${streamSinkRuns.incrementAndGet()}"
      val ev = Tables(s, d, "events")
      val maxUs = ev.agg(max(unix_micros(col("ts"))).as("m"))
      def flushRow(idName: String, tsName: String, key: Long) =
        maxUs.select(lit(key).as("user_id"), lit(-1L).as(idName),
          expr("timestamp_micros(m + 315360000000000)").as(tsName))
      val feedV = graft.util.FeedCache.ensure("q272_views", d) { p =>
        writeTimeOrdered(ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id").as("view_id"),
            col("ts").as("v_ts")), "v_ts", p, nChunks = 2,
          extraFiles = Seq(("flush", flushRow("view_id", "v_ts", -1L)))) }
      val feedC = graft.util.FeedCache.ensure("q272_clicks", d) { p =>
        writeTimeOrdered(ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("c_ts")), "c_ts", p, nChunks = 2,
          extraFiles = Seq(("flush", flushRow("click_id", "c_ts", -2L)))) }
      val vs = s.readStream.schema(s.read.parquet(feedV).schema)
        .option("maxFilesPerTrigger", "1").parquet(feedV)
      val cs = s.readStream.schema(s.read.parquet(feedC).schema)
        .option("maxFilesPerTrigger", "1").parquet(feedC)
      // The sentinel filter must NOT live inside the streaming plan:
      // a deterministic predicate on view_id gets pushed below the
      // EventTimeWatermark node into the left scan, the flush row
      // never registers its event time, and the global watermark
      // (min across sources) stays 30 min behind max(ts) forever —
      // stranding the tail views' unmatched verdicts in state
      // (observed: exactly the feed's last-2.5h views missing).
      // Sentinels are filtered from the SINK read instead.
      val joined = graft.streaming.IntervalJoin
        .withinOuter(vs, "v_ts", cs, "c_ts", "user_id",
          gap = "2 hours", delay = "30 minutes")
        .select(col("l.user_id").as("user_id"), col("view_id"),
          col("click_id"),
          (unix_micros(col("c_ts")) - unix_micros(col("v_ts")))
            .as("gap_us"))
      val query = joined.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      query.awaitTermination()
      s.table(qname).filter(col("view_id") >= 0)
        .orderBy(col("view_id"), col("click_id").asc_nulls_first)
    },
    Some("""WITH v AS (SELECT user_id, event_id AS view_id, ts AS v_ts
      |    FROM events WHERE event_type = 'view'),
      |c AS (SELECT user_id, event_id AS click_id, ts AS c_ts
      |    FROM events WHERE event_type = 'click')
      |SELECT v.user_id, v.view_id, c.click_id,
      |  epoch_us(c.c_ts) - epoch_us(v.v_ts) AS gap_us
      |FROM v LEFT JOIN c ON c.user_id = v.user_id
      | AND c.c_ts >= v.v_ts AND c.c_ts <= v.v_ts + INTERVAL 2 HOUR
      |ORDER BY view_id, click_id NULLS FIRST""".stripMargin),
    "LEFT OUTER stream-stream interval join: watermark-certified unmatched verdicts, oracle-compared to batch LEFT JOIN")

  /** Streaming memory-sink name counter (q74/q77): Bench re-runs every query in one
    * session, and a finished streaming query's name can be reused only
    * after its temp view is dropped — a fresh name per run is simpler
    * and leak-free at test row counts.
    */
  private val streamSinkRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  // q204 — STREAMING TABLE CHECKSUM: q178's order-independent checksum
  // maintained INCREMENTALLY by a real micro-batch stream — the
  // continuous integrity monitor for a landing table. This is the
  // payoff of keeping the checksum as a mergeable DECIMAL state
  // (Integrity.checksumState): each micro-batch contributes partials,
  // the sink merges by plain addition (the same q99/q101 algebraic-
  // partials discipline), and the mod-2⁶¹−1 reduction happens once at
  // read time. However the files split into batches, the final state
  // provably equals q178's single-pass batch checksum — SAME oracle,
  // entirely different machinery.
  // lazy: referenced from `qs` above its definition point — object init
  // order would otherwise read null
  private lazy val q204 = Q("q204_streaming_checksum",
    (s, d) => {
      import graft.operators.Integrity
      val docs = Tables(s, d, "documents")
        .select(col("source"), col("doc_id"), col("lang"), col("n_chars"),
          col("text"))
      val feed = graft.util.FeedCache.ensure("q204_feed", d) { p =>
        docs.repartition(3).write.mode("overwrite").parquet(p) }
      val Seq(st) = graft.streaming.BatchState
        .fold(s, feed, "q204", Seq("state")) { (batch, prev) =>
          val partial = Integrity.checksumState(batch, col("source"),
            Seq(col("doc_id"), col("lang"), col("n_chars"), col("text")))
          Seq(prev.fold(partial)(p => Integrity.mergeChecksumState(p :+ partial)))
        }
      Integrity.finishChecksum(st)
        .select(col("grp").as("source"), col("n_rows"), col("checksum"))
        .orderBy("source")
    },
    Some("""WITH r AS (SELECT source,
      |    CAST(('0x' || substring(md5('0#' ||
      |      concat_ws(chr(31),
      |        coalesce(CAST(doc_id AS VARCHAR), chr(1)),
      |        coalesce(lang, chr(1)),
      |        coalesce(CAST(n_chars AS VARCHAR), chr(1)),
      |        coalesce(text, chr(1)))), 1, 15)) AS BIGINT) AS h
      |  FROM documents)
      |SELECT source, count(*) AS n_rows,
      |  CAST(sum(h) % 2305843009213693951 AS BIGINT) AS checksum
      |FROM r GROUP BY source ORDER BY source""".stripMargin),
    "streaming incremental table checksum: per-batch mergeable state == one-pass batch checksum")

  // q228 — STREAMING EXACT PERCENTILES: the third member of the
  // mergeable-state family (q204 checksums, q101 scalar aggs) — the
  // maintained state is a per-group VALUE-COUNT DISTRIBUTION (priority,
  // cents, n), merged across micro-batches by plain addition, and the
  // finish step is an exact order statistic: p50/p90 = the smallest
  // value whose running count clears ceil(q·n), evaluated as the
  // integer cross-multiplication 2·cum ≥ n / 10·cum ≥ 9·n (no division,
  // both engines agree). State is bounded by the distinct-value count
  // per group — the documented escalation for unbounded domains is
  // bucketing the value first (q112's integer buckets). However the
  // feed splits into batches, the final state provably equals the
  // one-pass batch distribution — the oracle IS the batch computation.
  private lazy val q228 = Q("q228_streaming_percentiles",
    (s, d) => {
      val ord = Tables(s, d, "orders").select(
        col("o_orderpriority").as("pri"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val feed = graft.util.FeedCache.ensure("q228_feed", d) { p =>
        ord.repartition(3).write.mode("overwrite").parquet(p) }
      val Seq(st) = graft.streaming.BatchState
        .fold(s, feed, "q228", Seq("state")) { (batch, prev) =>
          val partial = batch.groupBy("pri", "cents")
            .agg(count(lit(1)).cast("long").as("n"))
          Seq(prev.fold(partial)(_.head.unionByName(partial)
            .groupBy("pri", "cents").agg(sum("n").as("n"))))
        }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("pri").orderBy("cents")
      val tot = st.groupBy("pri").agg(sum("n").as("tn"))
      st.withColumn("cum", sum("n").over(w))
        .join(broadcast(tot), "pri")
        .groupBy("pri")
        .agg(max("tn").cast("long").as("n"),
          min(when(col("cum") * 2 >= col("tn"), col("cents")))
            .cast("long").as("p50_cents"),
          min(when(col("cum") * 10 >= col("tn") * 9, col("cents")))
            .cast("long").as("p90_cents"))
        .orderBy("pri")
    },
    Some("""WITH o AS (SELECT o_orderpriority pri,
      |    CAST(round(o_totalprice * 100) AS BIGINT) cents FROM orders),
      |c AS (SELECT pri, cents, count(*) n FROM o GROUP BY 1, 2),
      |cu AS (SELECT pri, cents,
      |    sum(n) OVER (PARTITION BY pri ORDER BY cents) cum FROM c),
      |t AS (SELECT pri, CAST(count(*) AS BIGINT) tn FROM o GROUP BY 1)
      |SELECT pri, tn AS n,
      |  CAST(min(CASE WHEN 2 * cum >= tn THEN cents END) AS BIGINT)
      |    AS p50_cents,
      |  CAST(min(CASE WHEN 10 * cum >= 9 * tn THEN cents END) AS BIGINT)
      |    AS p90_cents
      |FROM cu JOIN t USING (pri) GROUP BY pri, tn
      |ORDER BY pri""".stripMargin),
    "streaming-maintained value-count state -> exact p50/p90 order statistics at read time")

  // q230 — WRITE-AUDIT-PUBLISH manifest: the lake-commit discipline
  // (Iceberg/Delta's WAP pattern) over plain partitioned parquet — the
  // staging write is AUDITED by comparing the read-back bytes' per-
  // partition manifest (row count + order-independent content checksum,
  // q178's algebra) against the manifest of the intended data; only an
  // all-green audit would publish. The query output IS the audited
  // manifest with its per-partition verdict, so the oracle both
  // replays the checksums and asserts the audit held (the q54
  // proof-in-query pattern).
  private lazy val q230 = Q("q230_wap_manifest",
    (s, d) => {
      import graft.operators.Integrity
      val docs = Tables(s, d, "documents")
      val cols = Seq(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      val staging = graft.util.TmpDirs.perProcess("graft_q230_staging")
      docs.write.mode("overwrite").partitionBy("source").parquet(staging)
      val back = s.read.parquet(staging)
      val manifest = Integrity.groupChecksum(back, col("source"), cols)
        .select(col("grp").as("source"), col("n_rows"), col("checksum"))
      val expected = Integrity.groupChecksum(docs, col("source"), cols)
        .select(col("grp").as("source"), col("n_rows").as("e_rows"),
          col("checksum").as("e_sum"))
      manifest.join(expected, Seq("source"), "full_outer")
        .select(col("source"), col("n_rows"), col("checksum"),
          (col("n_rows") === col("e_rows") &&
            col("checksum") === col("e_sum")).as("audit_ok"))
        .orderBy("source")
    },
    Some("""WITH r AS (SELECT source,
      |    CAST(('0x' || substring(md5('0#' ||
      |      concat_ws(chr(31),
      |        coalesce(CAST(doc_id AS VARCHAR), chr(1)),
      |        coalesce(lang, chr(1)),
      |        coalesce(CAST(n_chars AS VARCHAR), chr(1)),
      |        coalesce(text, chr(1)))), 1, 15)) AS BIGINT) AS h
      |  FROM documents)
      |SELECT source, count(*) AS n_rows,
      |  CAST(sum(h) % 2305843009213693951 AS BIGINT) AS checksum,
      |  TRUE AS audit_ok
      |FROM r GROUP BY source ORDER BY source""".stripMargin),
    "write-audit-publish: partitioned staging write audited by per-partition checksum manifest")

  // q252 — STREAMING COUNT-MIN heavy hitters: q118's sketch as the
  // fourth member of the mergeable-state family (q204 checksums, q228
  // value-count distributions, q101 scalar aggs). Maintained state =
  // the d×w CMS cell matrix (merged across micro-batches by plain
  // CELL-WISE ADDITION — the sketch's defining property) plus the term
  // dictionary (merged by union; bounded by vocabulary — the exactness
  // contract's price; a recall-lossy production variant would keep a
  // candidate heap instead, documented not defaulted). Finish = probe
  // every dictionary term's d cells, est = min, top-10 by estimate
  // with a read-time exact-count audit column. However the feed splits
  // into batches, the final cells provably equal the one-pass batch
  // sketch — the oracle IS the batch CMS.
  // q270 — q264's COUNT(DISTINCT) view maintenance in its PRODUCTION
  // shape (round-10 verdict #5): the per-(group, value) support table
  // lives ON PARQUET under the BatchState batchId/_SUCCESS discipline,
  // and each micro-batch's maintenance is DELTA-SIZED — one signed agg
  // over the batch (Warehouse.supportState) merged against the stored
  // table (mergeSupportState); the base corpus is NEVER re-scanned
  // after its own ingest batch (the q270 plan contract pins the
  // maintenance-batch shape: two parquet scans, aggs, no join). The
  // signed feed stages base rows (+1), later inserts (+1) and
  // retractions (−1, re-emitting existing rows) to parquet first —
  // production deltas arrive as files — and the stream drains it with
  // maxFilesPerTrigger=1, so the state provably survives arbitrary
  // batch splits (support addition is abelian) and restarts
  // (BatchState resolves the latest committed id; gc keeps the
  // footprint at two snapshots). The final view derives from the LAST
  // committed support table alone; the oracle is the from-scratch
  // COUNT(DISTINCT) on the post-change rows — equality also proves
  // n_neg_support == 0 everywhere.
  private lazy val q270 = Q("q270_distinct_ivm_persisted",
    (s, d) => {
      import graft.functions.TextFunctions.hash60
      import graft.warehouse.Warehouse
      val ev = Tables(s, d, "events").select(
        col("event_type"),
        round(col("value") * 10000).cast("long").as("vbp"),
        (hash60(col("event_id").cast("string"), 7) % 1000).as("ha"),
        (hash60(col("event_id").cast("string"), 8) % 1000).as("hd"))
      val signed = ev.filter(col("ha") < 800)
        .select(col("event_type"), col("vbp"), lit(1L).as("sign"))
        .unionAll(ev.filter(col("ha") >= 800)
          .select(col("event_type"), col("vbp"), lit(1L).as("sign")))
        .unionAll(ev.filter(col("ha") < 800 && col("hd") < 50)
          .select(col("event_type"), col("vbp"), lit(-1L).as("sign")))
      val feed = graft.util.FeedCache.ensure("q270_feed", d) { p =>
        signed.repartition(3).write.mode("overwrite").parquet(p) }
      val Seq(support) = graft.streaming.BatchState
        .fold(s, feed, "q270", Seq("support")) { (batch, prev) =>
          val partial = Warehouse.supportState(
            batch, Seq("event_type"), col("vbp"))
          Seq(prev.fold(partial)(p =>
            Warehouse.mergeSupportState(p :+ partial, Seq("event_type"))))
        }
      Warehouse.distinctViewFromSupport(support, Seq("event_type"))
        .orderBy("event_type")
    },
    Some("""WITH e AS (SELECT event_type,
      |    CAST(round(value * 10000) AS BIGINT) AS vbp,
      |    ('0x' || substring(md5('7#' ||
      |      CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS ha,
      |    ('0x' || substring(md5('8#' ||
      |      CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS hd
      |  FROM events),
      |post AS (SELECT event_type, vbp FROM e
      |  WHERE ha >= 800 OR (ha < 800 AND hd >= 50))
      |SELECT event_type,
      |  CAST(count(DISTINCT vbp) AS BIGINT) AS n_distinct,
      |  CAST(0 AS BIGINT) AS n_neg_support,
      |  CAST(count(*) AS BIGINT) AS n_rows
      |FROM post GROUP BY 1 ORDER BY 1""".stripMargin),
    "distinct-count IVM with PERSISTED support state: delta-sized per-batch maintenance, BatchState commit/gc, no base re-scan")

  private lazy val q252 = Q("q252_streaming_cms_hh",
    (s, d) => {
      import graft.functions.TextFunctions.{words, hash60}
      val cmsD = 4
      val cmsW = 256
      def probeCells(df: DataFrame): DataFrame =
        df.select(col("term"),
            explode(array((0 until cmsD).map(r =>
              struct(lit(r).as("r"),
                (hash60(col("term"), 101 + r) % cmsW).cast("int")
                  .as("bkt"))): _*)).as("rb"))
          .select(col("term"), col("rb.r").as("r"), col("rb.bkt").as("bkt"))
      val docs = Tables(s, d, "documents").select("doc_id", "text")
      val feed = graft.util.FeedCache.ensure("q252_feed", d) { p =>
        docs.repartition(3).write.mode("overwrite").parquet(p) }
      // Persisted state: cells_<id>/dict_<id> under BatchState, so the
      // footprint is two snapshots of ≤(d·w + |vocab|) rows.
      val Seq(cells, dict) = graft.streaming.BatchState
        .fold(s, feed, "q252", Seq("cells", "dict")) { (batch, prev) =>
          val termCnt = batch
            .select(explode(words(col("text"))).as("term"))
            .filter(length(col("term")) > 0)
            .groupBy("term").agg(count(lit(1)).cast("long").as("cnt"))
          val cells = probeCells(termCnt.select("term"))
            .join(termCnt, "term")
            .groupBy("r", "bkt").agg(sum("cnt").as("bsum"))
          val dict = termCnt.select("term")
          prev match {
            case Some(Seq(pCells, pDict)) => Seq(
              pCells.unionByName(cells)
                .groupBy("r", "bkt").agg(sum("bsum").as("bsum")),
              pDict.unionByName(dict).distinct())
            case _ => Seq(cells, dict)
          }
        }
      val est = probeCells(dict)
        .join(broadcast(cells), Seq("r", "bkt"))
        .groupBy("term").agg(min("bsum").as("cms_est"))
      val exact = s.read.parquet(feed)
        .select(explode(words(col("text"))).as("term"))
        .filter(length(col("term")) > 0)
        .groupBy("term").agg(count(lit(1)).cast("long").as("exact_cnt"))
      est.join(exact, "term")
        .select(col("term"), col("cms_est").cast("long").as("cms_est"),
          col("exact_cnt"),
          (col("cms_est") - col("exact_cnt")).cast("long").as("overcount"))
        .orderBy(col("cms_est").desc, col("term"))
        .limit(10)
    },
    Some("""WITH w AS (SELECT
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
      |  FROM documents),
      |tok AS (SELECT unnest(ws) AS term FROM w),
      |exact AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok
      |  WHERE len(term) > 0 GROUP BY term),
      |rb AS (SELECT term, cnt, r.r,
      |    CAST(('0x' || substring(md5((101 + r.r)::VARCHAR || '#' || term), 1, 15))::BIGINT
      |      % 256 AS INTEGER) AS bkt
      |  FROM exact, generate_series(0, 3) AS r(r)),
      |sums AS (SELECT r, bkt, CAST(sum(cnt) AS BIGINT) AS bsum
      |  FROM rb GROUP BY r, bkt),
      |est AS (SELECT rb.term, min(s.bsum) AS cms_est
      |  FROM rb JOIN sums s ON s.r = rb.r AND s.bkt = rb.bkt
      |  GROUP BY rb.term)
      |SELECT e.term, e.cms_est, x.cnt AS exact_cnt,
      |  CAST(e.cms_est - x.cnt AS BIGINT) AS overcount
      |FROM est e JOIN exact x ON x.term = e.term
      |ORDER BY cms_est DESC, e.term LIMIT 10""".stripMargin),
    "streaming-maintained count-min cells (merge = cell-wise addition) -> estimate-ordered heavy hitters with exact audit")
}
