package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import graft.ingest.Ingest

/** The lake layer (reference: per-channel S3 CSV objects, one prefix per
  * channel, logical append implemented as read-concat-rewrite —
  * /root/reference/dags/extract.py:114-129, W1/S2/S3).
  *
  * Spark-first redesign: a single parquet dataset partitioned by
  * channel_key with `mode("append")` — the sink IS the accumulated state,
  * so the reference's read-modify-write round trip (and its bare-except
  * data-loss hazard) disappears. Partition pruning gives the per-channel
  * read the reference got from key prefixes. At 100 TB: append-only
  * columnar files per partition, no rewrite amplification.
  */
object Lake {

  /** W1: append a batch, partitioned by derived channel key. */
  def appendBatch(batch: DataFrame, path: String): Unit =
    batch
      .withColumn("channel_key", Ingest.channelKey(col("title")))
      .write.mode("append").partitionBy("channel_key").parquet(path)

  /** W1 (reference-fidelity variant): header CSV lake, matching the
    * reference's at-rest format exactly (extract.py:119-120,160-166 —
    * header CSV, schema re-inferred on read). The parquet lake is the
    * scale default; this variant exists because header-CSV is part of the
    * declared surface (S2/W1).
    */
  def appendBatchCsv(batch: DataFrame, path: String): Unit =
    batch
      .withColumn("channel_key", Ingest.channelKey(col("title")))
      .write.mode("append").partitionBy("channel_key")
      .option("header", "true").csv(path)

  /** One channel's partition dir: the key Hive-escaped, as the
    * partitioned write named it.
    */
  def channelDir(path: String, channelKey: String): String =
    s"$path/channel_key=${ExternalCatalogUtils.escapePathName(channelKey)}"

  /** S2 (CSV variant): header + inferSchema, like pd.read_csv. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  /** The parquet lake's row type: the extract's columns plus the
    * `channel_key` partition column as a string. Declared, not inferred:
    * inference types a lake whose keys all parse as numbers as integer
    * keys, and then "0007" and "7" select each other's rows.
    */
  val schema: StructType = Ingest.rawSchema.add("channel_key", StringType)

  /** S2: read the whole lake — one listing, no footer schema inference. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** S3: one channel of a lake already resolved by [[read]], via
    * partition pruning — no further listing or schema inference.
    */
  def readChannel(lake: DataFrame, channelKey: String): DataFrame =
    lake.filter(col("channel_key") === channelKey)

  /** Bytes per channel key (as [[channels]] returns it) in the listing
    * `lake`, a [[read]], was resolved from — read from the file index
    * Spark built for that read, so nothing is listed again.
    */
  def channelBytes(lake: DataFrame): Map[String, Long] =
    listing(lake).groupMapReduce(_.values.getUTF8String(0).toString)(
      _.files.map(_.getLen).sum)(_ + _)

  /** Total bytes of the files a file-source read was resolved from, from
    * its own cached listing.
    */
  def listedBytes(df: DataFrame): Long =
    listing(df).flatMap(_.files).map(_.getLen).sum

  private def listing(df: DataFrame): Seq[PartitionDirectory] =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location.listFiles(Nil, Nil) }
      .flatten

  /** Channel discovery (reference: s3.list_objects, extract.py:158-159)
    * — a pure filesystem directory listing of the `channel_key=` partition
    * dirs: no parquet footer reads, no data scan, no Spark job. This is
    * the exact analogue of the reference's bucket listing, and stays O(#
    * partitions) at any data size.
    */
  def channels(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("channel_key=") =>
        unescapePartitionValue(n.stripPrefix("channel_key=")) }
      .sorted
  }

  /** Hive partition-dir unescape: %XX sequences only. (URLDecoder would
    * additionally turn a literal '+' into a space — Hive never
    * plus-encodes, so that corrupts keys containing '+'.)
    */
  private[lake] def unescapePartitionValue(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
