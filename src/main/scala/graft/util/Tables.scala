package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Test-table access. One parquet file per table under the scale-factor
  * dir (see TESTDATA.md). Reads are plain `spark.read.parquet` so Catalyst
  * gets vectorized scans + pushdown; at cluster scale the same call works
  * on a directory of many files.
  *
  * `events.ts` has shipped in two physical encodings across testdata
  * generations: parquet TIMESTAMP(NANOS) (which Spark's vectorized reader
  * surfaces as a long under the nanosAsLong fallback; the session sets it
  * when it is built) and parquet timestamp[us] with isAdjustedToUTC=false
  * (which Spark reads as TIMESTAMP_NTZ). `normalizeTs` dispatches on the
  * arrived type and lands both on session-tz TimestampType at microsecond
  * precision — the session runs in UTC, so the NTZ cast is
  * value-preserving and both encodings yield identical instants (DuckDB
  * applies the same ns->us truncation).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Normalize a timestamp column to TimestampType micros regardless of
    * the parquet physical encoding it arrived as. Works on batch and
    * streaming DataFrames (pure projection, type known at analysis time).
    */
  def normalizeTs(df: DataFrame, colName: String = "ts"): DataFrame =
    df.schema(colName).dataType match {
      case LongType => // TIMESTAMP(NANOS) via nanosAsLong: epoch nanos
        df.withColumn(colName, expr(s"timestamp_micros($colName div 1000)"))
      case TimestampNTZType => // timestamp[us] not adjusted to UTC
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }
}
