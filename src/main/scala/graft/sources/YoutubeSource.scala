package graft.sources

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The S1 REST-API source as a REAL Spark source: a DataSourceV2
  * `TableProvider` registered as `graft-youtube`: an entry point for
  * YouTube `channels().list` responses that fetches on the executors,
  * where `Ingest.extract` takes responses already fetched to the driver
  * (reference: the live-API fetch at
  * /root/reference/dags/extract.py:69-83).
  *
  * The TRANSPORT is the pluggable part: `listUnits` enumerates fetch
  * units on the driver at plan time (one InputPartition each — a unit is
  * a channel id / page in production, a fixture file here), and `fetch`
  * runs INSIDE each partition's reader, i.e. on the executors — the
  * shape that distributes a 10k-channel crawl across a cluster instead
  * of serializing it through the driver. The sandbox has no network, so
  * the default transport replays fixture files; a live deployment drops
  * in an HTTP transport behind the same two methods (`transport` option
  * = fully-qualified class name, zero-arg constructor).
  *
  * Rows are `(unit, value)` — provenance + the raw response document.
  * Parsing stays declarative downstream (`from_json` with the explicit
  * schema, then the P1-P7 flatten pipeline), so Catalyst sees through
  * everything after the fetch.
  *
  * Also a MICRO_BATCH_READ stream: `spark.readStream.format("graft-
  * youtube")` polls `listUnits` per trigger and drains only the units
  * beyond the checkpointed offset — the reference's 5-minute polling
  * DAG (optimized_extract.py:117-141) as a Structured Streaming source
  * with exactly-once pickup (see `YoutubeMicroBatchStream`).
  */
trait YoutubeTransport extends Serializable {
  /** Enumerate fetch units (driver-side, metadata-cheap). */
  def listUnits(options: Map[String, String]): Seq[String]

  /** Fetch one unit's raw JSON document (executor-side). */
  def fetch(unit: String, options: Map[String, String]): String
}

/** Fixture-backed transport: units are the `*.json` files under `path`
  * (sorted by name for deterministic partition order). `path` must be
  * visible to executors — shared storage on a real cluster.
  */
class FixtureTransport extends YoutubeTransport {
  override def listUnits(options: Map[String, String]): Seq[String] = {
    val dir = new java.io.File(options.getOrElse("path",
      sys.error("graft-youtube: 'path' option is required by FixtureTransport")))
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".json")).map(_.getPath).sorted.toSeq
  }

  override def fetch(unit: String, options: Map[String, String]): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(unit)), java.nio.charset.StandardCharsets.UTF_8)
}

object YoutubeDataSource {
  val SHORT_NAME = "graft-youtube"

  /** One row per fetched unit: provenance + raw response document. */
  val schema: StructType = StructType(Seq(
    StructField("unit", StringType, nullable = false),
    StructField("value", StringType, nullable = true)))

  def transportFor(options: Map[String, String]): YoutubeTransport =
    Class.forName(options.getOrElse("transport", classOf[FixtureTransport].getName))
      .getDeclaredConstructor().newInstance().asInstanceOf[YoutubeTransport]
}

class YoutubeDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = YoutubeDataSource.SHORT_NAME

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    YoutubeDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new YoutubeTable
}

class YoutubeTable extends Table with SupportsRead {
  override def name(): String = YoutubeDataSource.SHORT_NAME
  override def schema(): StructType = YoutubeDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val opts = options.asCaseSensitiveMap().asScala.toMap
    new ScanBuilder { override def build(): Scan = new YoutubeScan(opts) }
  }
}

final case class YoutubeInputPartition(unit: String) extends InputPartition

class YoutubeScan(options: Map[String, String]) extends Scan with Batch {
  override def readSchema(): StructType = YoutubeDataSource.schema
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    YoutubeDataSource.transportFor(options).listUnits(options)
      .map(YoutubeInputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new YoutubeReaderFactory(options)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new YoutubeMicroBatchStream(options)
}

/** Offset = count of units consumed from the transport's stable-sorted
  * unit list. Valid because the listing is APPEND-ONLY in sort order
  * within a run (a poll appending new response pages / fixture files);
  * already-consumed prefixes never reorder. This is the reference's
  * 5-minute polling loop (optimized_extract.py:117-141) as a Spark
  * micro-batch source: each trigger drains the units that appeared
  * since the last committed offset, exactly-once via the checkpoint.
  */
final case class YoutubeOffset(n: Int) extends Offset {
  override def json(): String = n.toString
}

class YoutubeMicroBatchStream(options: Map[String, String])
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  private def units: Seq[String] =
    YoutubeDataSource.transportFor(options).listUnits(options)

  // RATE LIMIT / backpressure: at most this many units admitted per
  // trigger (the reference's 5-minute poll under API-quota pressure —
  // a lagging consumer drains a large backlog in bounded batches
  // instead of one giant catch-up batch). Unset = drain everything
  // available. Composes with Trigger.AvailableNow: the drain becomes a
  // MULTI-TRIGGER staircase of capped batches, each committed to the
  // checkpoint, until the pinned backlog end is reached.
  private val maxPerTrigger: Option[Int] =
    options.get("maxUnitsPerTrigger").map { v =>
      val n = v.toInt
      require(n >= 1, s"maxUnitsPerTrigger must be >= 1, got $n")
      n
    }

  // Trigger.AvailableNow contract: pin the backlog end at query start
  // so the drain terminates even while new units keep appearing.
  @volatile private var availableNowTarget: Option[Int] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(units.size)

  override def initialOffset(): Offset = YoutubeOffset(0)
  // SupportsAdmissionControl route: the engine calls the 2-arg form;
  // the source self-caps (admission decided here, not via ReadLimit
  // parsing, so the cap also holds under composite AvailableNow limits)
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val target = availableNowTarget.getOrElse(units.size)
    val s = start.asInstanceOf[YoutubeOffset].n
    YoutubeOffset(maxPerTrigger
      .map(m => math.min(target.toLong, s.toLong + m).toInt)
      .getOrElse(target))
  }
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")
  override def deserializeOffset(json: String): Offset =
    YoutubeOffset(json.trim.toInt)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[YoutubeOffset].n,
      end.asInstanceOf[YoutubeOffset].n)
    units.slice(s, e).map(YoutubeInputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new YoutubeReaderFactory(options)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class YoutubeReaderFactory(options: Map[String, String])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val unit = p.asInstanceOf[YoutubeInputPartition].unit
    new PartitionReader[InternalRow] {
      private var emitted = false
      private var row: InternalRow = _
      override def next(): Boolean =
        if (emitted) false
        else {
          val doc = YoutubeDataSource.transportFor(options).fetch(unit, options)
          row = InternalRow(UTF8String.fromString(unit), UTF8String.fromString(doc))
          emitted = true
          true
        }
      override def get(): InternalRow = row
      override def close(): Unit = ()
    }
  }
}
