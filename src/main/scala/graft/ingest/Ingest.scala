package graft.ingest

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}
import graft.model.Schemas

/** Ingest: YouTube `channels().list` JSON responses -> flat raw rows.
  * Replicates /root/reference/dags/extract.py:92-116 (extract step):
  * json_normalize (P1) -> last-segment rename (P2) -> keep-first dedup
  * (P3) -> batch-constant timestamp (P5) -> column drops (P4) ->
  * channel-key derivation (P7).
  *
  * The reference fetches from the live API; this engine is offline, so
  * responses arrive as JSON strings (fixture files or any upstream
  * fetcher) and are parsed with the explicit schema — the distributed
  * part (parse/flatten/project) is identical either way.
  */
object Ingest {

  /** API housekeeping columns removed after flatten (P4, extract.py:113). */
  val dropCols: Seq[String] =
    Seq("kind", "description", "etag", "id", "topicIds", "topicCategories")

  /** The row type [[transformItems]] produces from `Schemas.channelItem`
    * rows carrying the `timestamp` tag (flatten, drops): the lake's data
    * columns.
    */
  val rawSchema: StructType =
    StructType(Flatten.loopdictSchema(Schemas.channelItem)
      .filterNot(f => dropCols.contains(f.name)))
      .add("timestamp", TimestampType)

  /** [[extract]]'s source rows: one response document and its batch's
    * tag as epoch micros, a primitive never-null column.
    */
  private val responseRows: StructType = StructType(Seq(
    StructField("value", StringType),
    StructField("ts_us", LongType, nullable = false)))

  /** Response-string column -> exploded item rows, each followed by its
    * response's other columns (streaming-capable: pure expressions, no
    * actions). The one parse of the batch and streaming extract paths.
    */
  def itemsOf(responses: DataFrame, valueCol: String = "value"): DataFrame = {
    val carried = responses.columns.toSeq.filterNot(_ == valueCol).map(col)
    responses
      .select(carried :+ from_json(col(valueCol), Schemas.channelResponse).as("r"): _*)
      .select(carried :+ explode(col("r.items")).as("item"): _*)
      .select(col("item.*") +: carried: _*)
  }

  /** Flatten + drops over item rows that already carry their batch's
    * `timestamp` tag — shared by the batch and streaming extract paths.
    */
  def transformItems(items: DataFrame): DataFrame =
    Flatten.loopdict(items).drop(dropCols: _*)

  /** Full extract: parse + flatten + timestamp + drops. `batchTs` is the
    * batch-constant wall-clock tag (reference: datetime.now(America/
    * Toronto) taken ONCE per batch, extract.py:109-111 — hence one value
    * per batch, not per-row current_timestamp()). It rides as data, a
    * `ts_us` column of every source row converted as `lit` would convert
    * it, not as a literal: a timestamp literal is inlined into the
    * generated code, so each batch would compile its plan anew, while
    * this plan's code is the same for every batch. `timestamp_micros` of
    * a never-null column keeps `timestamp` non-nullable, so the lake's
    * parquet footers declare it REQUIRED, as a literal did.
    */
  def extract(spark: SparkSession, jsons: Seq[String], batchTs: Timestamp): DataFrame = {
    val tsUs = DateTimeUtils.fromJavaTimestamp(batchTs)
    val responses = spark.createDataFrame(jsons.map(Row(_, tsUs)).asJava, responseRows)
    transformItems(itemsOf(responses)
      .withColumn("timestamp", timestamp_micros(col("ts_us"))).drop("ts_us"))
  }

  /** Channel key (P7): title.replace('-',' ').split('/')[0].split(' ')
    * joined by '_' — extract.py:115. The reference computes this driver-
    * side on row 0; as a Column it runs distributed for free.
    */
  def channelKey(title: Column): Column =
    concat_ws("_", split(element_at(split(regexp_replace(title, "-", " "), "/"), 1), " "))

  /** Lake object key: `<key>/<key>_data.csv` — extract.py:116. */
  def objectKey(title: Column): Column = {
    val k = channelKey(title)
    concat(k, lit("/"), k, lit("_data.csv"))
  }

  /** RAW table name from a lake prefix: `'_'.join(prefix.split(' ')) +
    * "_RAW"` — extract.py:162-164, lowercased and with every other
    * character outside [A-Za-z0-9_] (a key's '#', '+', '.') made '_'
    * too, since Spark's catalog names tables from those alone. Keys
    * that map to one name share its table, as case-only twins do.
    */
  def rawTableName(channelKey: String): String =
    (channelKey.split(' ').mkString("_") + "_RAW")
      .replaceAll("[^A-Za-z0-9_]", "_").toLowerCase
}
