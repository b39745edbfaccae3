package graft.lake

import java.sql.Timestamp
import java.time.Instant
import graft.SparkSpec
import graft.ingest.Ingest
import graft.pipeline.SyntheticChannels.{Chan, json}

/** Connector parity for object-store URIs: the whole lake surface
  * (append, read, partition-pruned channel read, bucket listing) driven
  * through `mocks3://bucket/...` paths with NO graft code changes —
  * the claim that `Lake` is path-scheme-agnostic, tested instead of
  * asserted. On a real cluster the same calls take s3a:// URIs.
  *
  * Each `json(chan, batchNo)` fixture is ONE channel-row response, so
  * an extract over two channels appends two rows.
  */
class LakeObjectStoreSpec extends SparkSpec {

  private val ts1 = Timestamp.from(Instant.parse("2024-05-01T00:00:00Z"))

  private def freshBucketPath(name: String): String = {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mocks3.impl", classOf[MockObjectStoreFileSystem].getName)
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft-mocks3/$name")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    s"mocks3://$name/lake/raw"
  }

  test("lake append + read + channel pruning work against bucket URIs") {
    val path = freshBucketPath(s"bkt-${ProcessHandle.current().pid()}")
    val batch = Ingest.extract(spark, Seq(
      json(Chan(1, "Alpha News", 10, 1.0), 1),
      json(Chan(3, "Beta Vlogs", 20, 2.0), 1)), ts1)
    Lake.appendBatch(batch, path)
    Lake.appendBatch(batch, path) // object-store append = more objects

    val all = Lake.read(spark, path)
    assert(all.count() === 4, "2 appends x 2 channel rows")

    val one = Lake.readChannel(all, "Alpha_News")
    assert(one.count() === 2)
    // partition pruning must reach the mocks3 scan like any other path
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("channel_key"), s"no partition pruning:\n$plan")

    // bucket "listing" (the reference's list_objects analogue)
    assert(Lake.channels(spark, path).sorted ===
      Seq("Alpha_News", "Beta_Vlogs"))
  }

  test("distinct buckets do not bleed into each other") {
    val pid = ProcessHandle.current().pid()
    val a = freshBucketPath(s"bkt-a-$pid")
    val b = freshBucketPath(s"bkt-b-$pid")
    val batch = Ingest.extract(spark,
      Seq(json(Chan(1, "Solo Cast", 5, 1.0), 1)), ts1)
    Lake.appendBatch(batch, a)
    assert(Lake.read(spark, a).count() === 1)
    assert(Lake.channels(spark, b).isEmpty,
      "bucket b must not see bucket a's objects")
  }
}
