package graft.streaming

import java.sql.Timestamp
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.TestSpark

/** Generative proof for the LEFT OUTER stream-stream interval join
  * (q272): for ANY pair of event sets and ANY time-ordered chunking of
  * each side, the streamed output — matched rows as they meet,
  * null-padded verdicts on watermark-certified eviction, books closed
  * by sentinel flush rows — equals the batch LEFT JOIN. The fixture
  * spec pins one interleaving; this quantifies over corpora and
  * micro-batch splits, where a verdict emitted early (before the
  * watermark proves no match), twice (eviction + late match), or
  * never (tail stranded at stream end) would surface as a multiset
  * mismatch. Runs the REAL engine per case (file source,
  * maxFilesPerTrigger=1), so cases are few and tiny by design.
  */
object IntervalJoinProperties extends Properties("graft.intervaljoin") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = TestSpark.spark

  private val gapS = 30L   // join window
  private val delayS = 10L // watermark delay

  // Event times are offsets from a non-epoch base: the engine's initial
  // watermark IS the epoch and a row with event time <= watermark is
  // dropped as late, so a row at offset 0 from the epoch would break the
  // operator's watermark-respecting-feed precondition in batch 0.
  private def ts(s: Long): Timestamp = new Timestamp((1700000000L + s) * 1000L)

  private case class Side(rows: List[(Long, Long, Long)], nChunks: Int)
  private case class Case(left: Side, right: Side, tag: Long)

  private def sideGen(maxN: Int): Gen[Side] = for {
    n <- Gen.choose(0, maxN)
    rows <- Gen.listOfN(n, for {
      k <- Gen.choose(1L, 3L)
      s <- Gen.choose(0L, 120L) // ~4 gap-lengths: hits, misses, edges
    } yield (k, s))
    nChunks <- Gen.choose(1, 3)
  } yield Side(
    rows.zipWithIndex.map { case ((k, s), i) => (k, i.toLong, s) },
    nChunks)

  private val caseGen: Gen[Case] = for {
    l <- sideGen(8)
    r <- sideGen(8)
    tag <- Gen.choose(0L, Long.MaxValue - 1)
  } yield Case(l, r, tag)

  /** Write one side as nChunks time-ordered parquet files plus the
    * sentinel flush chunk (key −9, far past max + gap + delay on both
    * sides), mtime-ordered so maxFilesPerTrigger=1 replays them as
    * separate micro-batches in this order.
    */
  private def writeSide(side: Side, dir: String, cols: (String, String,
      String), flushKey: Long): Unit = {
    import spark.implicits._
    val sorted = side.rows.sortBy(_._3)
    val per = math.max(1, math.ceil(
      sorted.size.toDouble / side.nChunks).toInt)
    val chunks = sorted.grouped(per).toList :+
      List((flushKey, -1L, 1000000L)) // flush far past any row
    chunks.zipWithIndex.foreach { case (rows, k) =>
      val tmp = s"$dir/__tmp_$k"
      rows.map { case (key, id, s) => (key, id, ts(s)) }
        .toDF(cols._1, cols._2, cols._3)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val dirF = new java.io.File(dir)
      new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { part =>
          val dst = new java.io.File(dirF, f"chunk$k%02d.parquet")
          java.nio.file.Files.move(part.toPath, dst.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          dst.setLastModified(1700000000000L + k * 60000L)
        }
    }
  }

  private def scratch(name: String): String = {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_test_prop", name)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
    p.toString
  }

  property("streamed outer interval join == batch LEFT JOIN for any feeds and chunkings") =
    forAll(caseGen) { c =>
      val name = s"ij_prop_${java.lang.Long.toHexString(c.tag)}"
      val vDir = scratch(s"${name}_l"); val cDir = scratch(s"${name}_r")
      writeSide(c.left, vDir, ("k", "lid", "l_ts"), flushKey = -9L)
      writeSide(c.right, cDir, ("k", "rid", "r_ts"), flushKey = -8L)
      val ls = spark.readStream
        .schema(spark.read.parquet(vDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(vDir)
      val rs = spark.readStream
        .schema(spark.read.parquet(cDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(cDir)
      val q = IntervalJoin.withinOuter(ls, "l_ts", rs, "r_ts", "k",
          gap = s"$gapS seconds", delay = s"$delayS seconds")
        .select(col("l.k").as("k"), col("lid"), col("rid"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table(name)
        .filter(col("lid") >= 0) // sentinel filtered at the SINK
        .collect()
        .map(r => (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
        .toList.sorted
      spark.catalog.dropTempView(name)
      val truth = c.left.rows.flatMap { case (k, lid, lts) =>
        val ms = c.right.rows.collect {
          case (rk, rid, rts)
            if rk == k && rts >= lts && rts <= lts + gapS => rid
        }
        if (ms.isEmpty) List((lid, -1L)) else ms.map(rid => (lid, rid))
      }.sorted
      got == truth
    }
}
