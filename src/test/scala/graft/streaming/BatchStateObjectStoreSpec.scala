package graft.streaming

import graft.SparkSpec
import graft.warehouse.Warehouse
import org.apache.spark.sql.functions._

/** Connector parity for the persisted-state surface (round-11 verdict
  * #7): BatchState's commit/retry/gc discipline AND a q270-shaped
  * support-state maintenance chain driven through `mocks3://bucket/…`
  * URIs with NO graft code changes — the round-11 Hadoop-FS listing
  * fix, tested on the object-store seam the way LakeObjectStoreSpec
  * tests the lake. On a real cluster the same calls take s3a:// URIs.
  */
class BatchStateObjectStoreSpec extends SparkSpec {

  private def freshBase(name: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.mocks3.impl",
      classOf[graft.lake.MockObjectStoreFileSystem].getName)
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft-mocks3/$name")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    s"mocks3://$name/state"
  }

  private def fs(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sessionState.newHadoopConf())

  private def mk(base: String, comp: String, id: Long,
                 success: Boolean): Unit = {
    val f = fs(base)
    val d = fs(base).makeQualified(
      new org.apache.hadoop.fs.Path(BatchState.dir(base, comp, id)))
    f.mkdirs(d)
    if (success)
      f.create(new org.apache.hadoop.fs.Path(d, "_SUCCESS"), true).close()
  }

  test("commit resolution + gc semantics hold on bucket URIs") {
    val base = freshBase(s"bs-sem-${ProcessHandle.current().pid()}")
    val comps = Seq("cells", "dict")
    mk(base, "cells", 0, success = true)
    mk(base, "dict", 0, success = false) // orphaned partial write
    mk(base, "cells", 1, success = true)
    mk(base, "dict", 1, success = true)
    mk(base, "cells", 2, success = true)
    mk(base, "dict", 2, success = true)
    assert(BatchState.committedIds(base, comps) === Seq(1L, 2L))
    assert(BatchState.lastId(base, comps, "t") === 2L)
    assert(BatchState.prevId(base, comps, 2L) === Some(1L))
    // gc at the end of batch 2 sweeps id 0 — including the orphaned
    // dict partial — through the bucket's FileSystem, not java.io.File
    assert(BatchState.gc(base, comps, 2L) === Seq(0L))
    assert(!fs(base).exists(
      new org.apache.hadoop.fs.Path(BatchState.dir(base, "dict", 0))))
    assert(BatchState.committedIds(base, comps) === Seq(1L, 2L))
  }

  test("q270-shaped support-state chain commits, gcs and retries on bucket URIs") {
    import spark.implicits._
    val base = freshBase(s"bs-supp-${ProcessHandle.current().pid()}")
    // the LakeWarehouseSpec fixture, run through three batches: the
    // engine-visible behavior (final view, two-snapshot footprint,
    // post-gc retry) must be byte-identical to the local-FS run
    val rows = Seq(("g1", 1L, 1L), ("g1", 1L, 1L), ("g1", 2L, 1L),
      ("g2", 3L, 1L), ("g1", 1L, -1L), ("g1", 2L, -1L),
      ("g2", 4L, 1L), ("g2", 3L, -1L))
    def step(batch: Seq[(String, Long, Long)], id: Long): Unit =
      BatchState.step(spark, base, Seq("support"), id) { prev =>
        val partial = Warehouse.supportState(
          batch.toDF("g", "u", "sign"), Seq("g"), col("u"))
        Seq(prev.fold(partial)(p =>
          Warehouse.mergeSupportState(p :+ partial, Seq("g"))))
      }
    Seq(rows.take(3), rows.slice(3, 6), rows.drop(6))
      .zipWithIndex.foreach { case (b, i) => step(b, i.toLong) }
    // two-snapshot steady state, resolved through the bucket FS
    assert(BatchState.committedIds(base, Seq("support")) === Seq(1L, 2L))
    def view(): Seq[(String, Long, Long, Long)] =
      Warehouse.distinctViewFromSupport(
          spark.read.parquet(BatchState.dir(base, "support",
            BatchState.lastId(base, Seq("support"), "spec"))),
          Seq("g"))
        .orderBy("g").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    assert(view() === Seq(("g1", 1L, 0L, 1L), ("g2", 1L, 0L, 1L)))
    // zero-support compaction holds through the object store too
    val finalState = spark.read.parquet(BatchState.dir(base, "support",
        2L)).orderBy("g", "__v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(finalState === Seq(("g1", 1L, 1L), ("g2", 4L, 1L)))
    // RETRY of the final batch after its gc: merges from 1, overwrites
    // only support_2, resolves the identical view
    step(rows.drop(6), 2L)
    assert(BatchState.committedIds(base, Seq("support")) === Seq(1L, 2L))
    assert(view() === Seq(("g1", 1L, 0L, 1L), ("g2", 1L, 0L, 1L)))
  }
}
