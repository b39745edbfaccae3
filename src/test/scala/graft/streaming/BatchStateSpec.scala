package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the restart/retry semantics the mergeable-state monitors
  * (q101/q123/q141/q204/q228/q252/q270/q273) rely on: commit = ALL
  * component dirs carry _SUCCESS; a retried batch merges from its
  * STRICT predecessor (never the dir it is about to overwrite); an
  * empty state resolves loudly, not as silent emptiness.
  */
class BatchStateSpec extends graft.SparkSpec {

  private def mk(base: String, comp: String, id: Long,
                 success: Boolean): Unit = {
    val d = new java.io.File(BatchState.dir(base, comp, id))
    assert(d.mkdirs() || d.isDirectory)
    if (success) new java.io.File(d, "_SUCCESS").createNewFile()
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_bs").toString

  test("commit resolution: only ids with ALL component _SUCCESS markers count") {
    val base = tmp()
    val comps = Seq("cells", "dict")
    mk(base, "cells", 0, success = true)
    mk(base, "dict", 0, success = true)
    mk(base, "cells", 1, success = true) // dict_1 missing entirely
    mk(base, "cells", 2, success = true)
    mk(base, "dict", 2, success = false) // dir exists, write not committed
    // a stray non-numeric dir must not blow up resolution
    new java.io.File(s"$base/cells_tmpjunk").mkdirs()
    assert(BatchState.committedIds(base, comps) === Seq(0L))
    assert(BatchState.lastId(base, comps, "t") === 0L)
  }

  test("retry merges from the strict predecessor, never the batch's own dir") {
    val base = tmp()
    val comps = Seq("state")
    mk(base, "state", 0, success = true)
    mk(base, "state", 1, success = true)
    // batch 1 RETRIED after committing: must re-read 0, not itself —
    // reading state_1 while overwriting state_1 is the parity-dir bug
    assert(BatchState.prevId(base, comps, 1L) === Some(0L))
    // the first batch of a fresh run has no predecessor
    assert(BatchState.prevId(base, comps, 0L) === None)
    // a resumed run's next batch finds the latest committed id
    assert(BatchState.prevId(base, comps, 2L) === Some(1L))
    assert(BatchState.lastId(base, comps, "t") === 1L)
  }

  test("gc retires only unreachable ids and a post-gc retry still resolves") {
    // Simulate the monitors' merge loop twice — once with gc at the
    // end of every batch, once without — including a RETRY of the
    // final batch after gc ran: both runs must resolve the identical
    // merge-from chain, and the gc run's footprint must be exactly
    // two snapshots.
    def runChain(base: String, gcEach: Boolean): Seq[Option[Long]] =
      (0L to 3L).map { id =>
        val from = BatchState.prevId(base, Seq("state"), id)
        mk(base, "state", id, success = true)
        if (gcEach) BatchState.gc(base, Seq("state"), id)
        from
      }
    val withGc = tmp(); val noGc = tmp()
    assert(runChain(withGc, gcEach = true) ===
      runChain(noGc, gcEach = false))
    // steady state: exactly {2, 3} survive
    assert(BatchState.committedIds(withGc, Seq("state")) === Seq(2L, 3L))
    // a retry of batch 3 AFTER its own gc still merges from 2 and
    // idempotently re-gcs without touching 2
    assert(BatchState.prevId(withGc, Seq("state"), 3L) === Some(2L))
    assert(BatchState.gc(withGc, Seq("state"), 3L).isEmpty)
    assert(BatchState.committedIds(withGc, Seq("state")) === Seq(2L, 3L))
    // gc sweeps orphaned partial dirs below the floor too, across all
    // components, and reports what it retired
    val multi = tmp()
    mk(multi, "cells", 0, success = true)
    mk(multi, "dict", 0, success = false) // orphaned partial write
    mk(multi, "cells", 1, success = true)
    mk(multi, "dict", 1, success = true)
    mk(multi, "cells", 2, success = true)
    mk(multi, "dict", 2, success = true)
    assert(BatchState.gc(multi, Seq("cells", "dict"), 2L) === Seq(0L))
    assert(!new java.io.File(BatchState.dir(multi, "dict", 0)).exists)
    assert(BatchState.committedIds(multi, Seq("cells", "dict")) ===
      Seq(1L, 2L))
  }

  test("empty or missing state is loud at read time, empty at scan time") {
    val base = tmp()
    val e = intercept[RuntimeException](
      BatchState.lastId(base, Seq("state"), "q999"))
    assert(e.getMessage.contains("no committed state"))
    assert(BatchState.committedIds(s"$base/nope", Seq("state")).isEmpty)
  }

  test("step: a write that throws leaves the batch uncommitted; its retry " +
      "commits the failure-free state") {
    val comps = Seq("cells", "dict")
    // a two-component merge in q252's shape: summed cells, unioned dict
    def frames(id: Long, prev: Option[Seq[DataFrame]]): Seq[DataFrame] = {
      val cells = spark.range(id * 10, id * 10 + 5)
        .select((col("id") % 3).as("k"), lit(1L).as("n"))
      val dict = spark.range(id, id + 3).toDF("term")
      prev match {
        case Some(Seq(pc, pd)) => Seq(
          pc.unionByName(cells).groupBy("k").agg(sum("n").as("n")),
          pd.unionByName(dict).distinct())
        case _ => Seq(cells, dict)
      }
    }
    def rows(base: String): Seq[Seq[String]] =
      BatchState.latest(spark, base, comps, "t")
        .map(_.collect().map(_.toString).sorted.toSeq)

    val clean = tmp()
    (0L to 2L).foreach(id => BatchState.step(spark, clean, comps, id)(frames(id, _)))

    val failed = tmp()
    (0L to 1L).foreach(id => BatchState.step(spark, failed, comps, id)(frames(id, _)))
    val before = rows(failed)
    val e = intercept[Exception] {
      BatchState.step(spark, failed, comps, 2L) { prev =>
        val Seq(c, d) = frames(2L, prev)
        Seq(c, d.withColumn("term", raise_error(lit("injected")).cast("long")))
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected")), e)
    // cells_2 committed, dict_2 did not: batch 2 is not committed, no gc
    // ran, and the predecessor resolves and reads as before
    assert(new java.io.File(BatchState.dir(failed, "cells", 2), "_SUCCESS").exists)
    assert(BatchState.committedIds(failed, comps) === Seq(0L, 1L))
    assert(BatchState.lastId(failed, comps, "t") === 1L)
    assert(rows(failed) === before)
    // the retry of batch 2 merges from 1 and lands on the clean run's state
    BatchState.step(spark, failed, comps, 2L)(frames(2L, _))
    assert(BatchState.committedIds(failed, comps) === Seq(1L, 2L))
    assert(rows(failed) === rows(clean))
  }
}
