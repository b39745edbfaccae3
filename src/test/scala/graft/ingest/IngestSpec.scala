package graft.ingest

import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.pipeline.SyntheticChannels
import graft.pipeline.SyntheticChannels.{Chan, json}

/** P4/P5/P7 semantics (/root/reference/dags/extract.py:109-116,162-164):
  * channel-key derivation edge cases, batch-constant timestamp (carried
  * as data, so one compiled extract serves every batch), drops.
  */
class IngestSpec extends SparkSpec {

  private def keyOf(title: String): String = {
    import spark.implicits._
    Seq(title).toDF("t").select(Ingest.channelKey(col("t"))).head().getString(0)
  }

  test("channelKey: '-'→' ', keep before first '/', join spaces with '_'") {
    // reference: '_'.join(title.replace('-',' ').split('/')[0].split(' '))
    assert(keyOf("Jungle-Toons/Kids HD") === "Jungle_Toons")
    assert(keyOf("MrBeast") === "MrBeast")
    assert(keyOf("VJ Siddhu Vlogs") === "VJ_Siddhu_Vlogs")
    assert(keyOf("T-Series") === "T_Series")
    assert(keyOf("A/B/C") === "A")
  }

  test("Json.str round-trips every ASCII char, quote, backslash and a non-BMP char") {
    // the escaper behind the synthetic responses this spec ingests
    val s = (0 to 0x7f).map(_.toChar).mkString + "\"\\" + "\uD83D\uDE00"
    val lit = graft.util.Json.str(s)
    assert(!lit.exists(_ < ' '), "a raw control char survived escaping")
    assert(Seq("\\n", "\\r", "\\t").forall(lit.contains))
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(lit, classOf[String])
    assert(back === s)
  }

  test("objectKey matches `<key>/<key>_data.csv`") {
    import spark.implicits._
    val k = Seq("Jungle-Toons/x").toDF("t")
      .select(Ingest.objectKey(col("t"))).head().getString(0)
    assert(k === "Jungle_Toons/Jungle_Toons_data.csv")
  }

  test("rawTableName joins spaces and appends _RAW, lowercased") {
    assert(Ingest.rawTableName("Jungle Toons") === "jungle_toons_raw")
    assert(Ingest.rawTableName("MrBeast") === "mrbeast_raw")
    assert(Ingest.rawTableName("A#B") === "a_b_raw")
    assert(Ingest.rawTableName("X+Y_Z") === "x_y_z_raw")
  }

  test("extract drops API housekeeping columns and stamps a batch-constant timestamp") {
    val ts = Timestamp.from(Instant.parse("2026-02-01T00:00:00Z"))
    val raw = Ingest.extract(spark,
      Seq(json(Chan(1, "A#B", 1, 5.0), 1), json(Chan(2, "C#D", 2, -3.0), 1)), ts)
    for (dropped <- Seq("kind", "description", "etag", "id", "topicIds", "topicCategories"))
      assert(!raw.columns.contains(dropped), s"$dropped should be dropped")
    val tss = raw.select("timestamp").collect().map(_.getTimestamp(0)).distinct
    assert(tss === Array(ts)) // batch-CONSTANT, not per-row clock
    assert(raw.count() === 2)
  }

  test("rawSchema is the extract's row type, and the declared lake schema its inferred one") {
    val ts = Timestamp.from(Instant.parse("2026-02-01T00:00:00Z"))
    val raw = Ingest.extract(spark, Seq(json(Chan(3, "E#F", 3, 1.0), 2)), ts)
    def typed(s: org.apache.spark.sql.types.StructType) = s.map(f => f.name -> f.dataType)
    assert(typed(raw.schema) === typed(Ingest.rawSchema))
    val lake = scratch("rawschema_lake")
    graft.lake.Lake.appendBatch(raw, lake)
    assert(typed(spark.read.parquet(lake).schema) === typed(graft.lake.Lake.schema))
  }

  test("corrupt or schema-less JSON responses degrade to zero rows, not errors") {
    val ts = Timestamp.from(Instant.parse("2026-02-01T00:00:00Z"))
    val raw = Ingest.extract(spark, Seq(
      json(Chan(1, "A#B", 1, 5.0), 1), // one good response
      "{ this is not json",            // syntactically corrupt
      """{"kind": "other#thing"}"""),  // valid JSON, no items array
      ts)
    assert(raw.count() === 1) // load-tolerant: only the good item lands
  }

  test("one compiled extract serves every batch: the tag is data, not code") {
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    val chans = Seq(Chan(1, "A#B", 1, 5.0), Chan(2, "C#D", 2, -3.0))
    def code(b: Int) = codegenStringSeq(Ingest.extract(spark,
      chans.map(json(_, b)), SyntheticChannels.batchTs(b)).queryExecution.executedPlan)
      .map(_._2)
    val first = code(1)
    assert(first.nonEmpty, "the extract ran no generated code")
    assert(code(2) === first)
  }

  test("three tagged batches: each tag holds exactly its batch's rows, timestamp REQUIRED") {
    val chans = Seq(Chan(1, "A#B", 1, 5.0), Chan(2, "C#D", 2, -3.0))
    val lake = scratch("tagged_lake")
    (1 to 3).foreach { b =>
      val raw = Ingest.extract(spark, chans.map(json(_, b)), SyntheticChannels.batchTs(b))
      assert(!raw.schema("timestamp").nullable)
      graft.lake.Lake.appendBatch(raw, lake)
    }
    val got = graft.lake.Lake.read(spark, lake)
    (1 to 3).foreach { b =>
      val subs = got.filter(col("timestamp") === lit(SyntheticChannels.batchTs(b)))
        .select("subscriberCount").collect().map(_.getString(0)).sorted.toSeq
      assert(subs === chans.map(c => (c.k * 100 + b).toString).sorted, s"batch $b")
    }
    assert(got.count() === chans.size * 3)

    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.Type.Repetition
    val conf = spark.sparkContext.hadoopConfiguration
    val files = got.inputFiles.toSeq
    assert(files.nonEmpty)
    files.foreach { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        assert(schema.getType(schema.getFieldIndex("timestamp"))
          .getRepetition === Repetition.REQUIRED, f)
      } finally reader.close()
    }
  }

  test("extract keeps the flattened raw surface (FIXTURES A.2)") {
    val ts = Timestamp.from(Instant.parse("2026-02-01T00:00:00Z"))
    val raw = Ingest.extract(spark, Seq(json(Chan(3, "E#F", 3, 1.0), 2)), ts)
    val expected = Seq("title", "customUrl", "publishedAt", "url", "width",
      "height", "country", "viewCount", "subscriberCount",
      "hiddenSubscriberCount", "videoCount", "privacyStatus", "isLinked",
      "longUploadsStatus", "madeForKids", "timestamp")
    assert(raw.columns.toSeq === expected)
  }
}
