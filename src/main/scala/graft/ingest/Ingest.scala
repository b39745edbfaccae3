package graft.ingest

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}
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
    * rows (flatten, the `timestamp` tag, drops): the lake's data columns.
    */
  val rawSchema: StructType =
    StructType(Flatten.loopdictSchema(Schemas.channelItem)
      .filterNot(f => dropCols.contains(f.name)))
      .add("timestamp", TimestampType)

  /** Response-string column -> exploded item rows (streaming-capable:
    * pure expressions, no actions).
    */
  def itemsOf(responses: DataFrame, valueCol: String = "value"): DataFrame =
    responses
      .select(from_json(col(valueCol), Schemas.channelResponse).as("r"))
      .select(explode(col("r.items")).as("item"))
      .select("item.*")

  /** Parse one-JSON-document-per-string responses into item rows. */
  def parseResponses(spark: SparkSession, jsons: Seq[String]): DataFrame = {
    import spark.implicits._
    spark.read.schema(Schemas.channelResponse).json(jsons.toDS())
      .select(explode(col("items")).as("item"))
      .select("item.*")
  }

  /** Flatten + drops + the batch-constant timestamp tag — shared by the
    * batch and streaming extract paths.
    */
  def transformItems(items: DataFrame, batchTs: Timestamp): DataFrame =
    Flatten.loopdict(items)
      .withColumn("timestamp", lit(batchTs))
      .drop(dropCols: _*)

  /** Full extract: flatten + timestamp + drops. `batchTs` is the batch-
    * constant wall-clock tag (reference: datetime.now(America/Toronto)
    * taken ONCE per batch, extract.py:109-111 — hence a literal, not
    * per-row current_timestamp()).
    */
  def extract(spark: SparkSession, jsons: Seq[String], batchTs: Timestamp): DataFrame =
    transformItems(parseResponses(spark, jsons), batchTs)

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
