package graft.pipeline

import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.util.Json

/** Deterministic YouTube-API-shaped JSON responses derived from the
  * `customer` test table: 7 channels (c_custkey 1..7) × 3 batches,
  * including the edge cases FIXTURES.md §A.1 calls for — a title with
  * '-' and '/' (key derivation, extract.py:115), a channel with no
  * `country` (null-fill), a non-numeric `viewCount` (cast-to-null), and
  * titles with spaces (table-name '_'.join, extract.py:162).
  *
  * Every field is a pure function of (customer row, batch number), so
  * the entire pipeline output is replayable as a DuckDB oracle over
  * `customer` (q35) — the pipeline is verified end to end, not rows>0.
  *
  * Driver-side by design: the reference fetches per-channel JSON on the
  * driver too (extract.py:69-83); this is 7 rows, not a data-scale
  * collect.
  */
object SyntheticChannels {

  val nChannels = 7
  val nBatches = 3

  final case class Chan(k: Int, name: String, nationKey: Int, acctBal: Double) {
    /** '#'→' ' gives every title a space; channel 2 adds '-' and '/'. */
    def title: String =
      name.replace('#', ' ') + (if (k == 2) "-Kids/HD" else "")
  }

  def channels(spark: SparkSession, sfDir: String): Seq[Chan] =
    graft.util.Tables(spark, sfDir, "customer")
      .filter(col("c_custkey").between(1, nChannels))
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
      .collect()
      .map(r => Chan(r.getLong(0).toInt, r.getString(1), r.getInt(2), r.getDouble(3)))
      .sortBy(_.k)
      .toSeq

  /** Batch wall-clock tags: noon UTC on consecutive days (b ∈ 1..3). */
  def batchTs(b: Int): Timestamp =
    Timestamp.from(Instant.parse(f"2026-01-0${b}%dT12:00:00Z"))

  /** One channels().list response (FIXTURES §A.1 shape). Oracle-visible
    * derivations:
    *   viewCount       = floor(c_acctbal*100) + 1000000*batch  (k=5: "N/A")
    *   subscriberCount = k*100 + batch
    *   videoCount      = k*10 + batch
    *   country         = 'C'+c_nationkey                       (k=3: absent)
    *   publishedAt     = 2010-01-01 + k days
    *   madeForKids     = c_acctbal > 0
    * The localizations.en.title / thumbnails medium+high fields exist to
    * be REMOVED by keep-first flatten — the oracle proves they never leak.
    */
  def json(c: Chan, batch: Int): String = {
    val viewCount =
      if (c.k == 5) "N/A"
      else (math.floor(c.acctBal * 100).toLong + 1000000L * batch).toString
    val countryField =
      if (c.k == 3) "" else s""""country": "C${c.nationKey}","""
    val publishedAt = f"2010-01-0${c.k + 1}%dT00:00:00Z"
    s"""{
       |  "kind": "youtube#channelListResponse",
       |  "etag": "resp-${c.k}-$batch",
       |  "items": [{
       |    "kind": "youtube#channel",
       |    "etag": "item-${c.k}-$batch",
       |    "id": "UC${c.k}",
       |    "snippet": {
       |      "title": ${Json.str(c.title)},
       |      "description": "channel ${c.k} description",
       |      "customUrl": ${Json.str("@" + c.name.toLowerCase)},
       |      "publishedAt": "$publishedAt",
       |      "thumbnails": {
       |        "default": {"url": "https://img/${c.k}/default.jpg", "width": 88, "height": 88},
       |        "medium":  {"url": "https://img/${c.k}/medium.jpg", "width": 240, "height": 240},
       |        "high":    {"url": "https://img/${c.k}/high.jpg", "width": 800, "height": 800}
       |      },
       |      $countryField
       |      "__end": null
       |    },
       |    "statistics": {
       |      "viewCount": "$viewCount",
       |      "subscriberCount": "${c.k * 100 + batch}",
       |      "hiddenSubscriberCount": false,
       |      "videoCount": "${c.k * 10 + batch}"
       |    },
       |    "status": {
       |      "privacyStatus": "public",
       |      "isLinked": true,
       |      "longUploadsStatus": "longUploadsUnspecified",
       |      "madeForKids": ${c.acctBal > 0}
       |    },
       |    "topicDetails": {
       |      "topicIds": ["/m/topic${c.k}"],
       |      "topicCategories": ["https://en.wikipedia.org/wiki/Cat${c.k}"]
       |    },
       |    "localizations": {"en": {"title": "LOCALIZED MUST NOT WIN", "description": "loc"}}
       |  }]
       |}""".stripMargin
  }

  /** All (batchTs, responses) pairs for a full pipeline run. */
  def batches(spark: SparkSession, sfDir: String): Seq[(Timestamp, Seq[String])] = {
    val chans = channels(spark, sfDir)
    (1 to nBatches).map(b => batchTs(b) -> chans.map(json(_, b)))
  }
}
