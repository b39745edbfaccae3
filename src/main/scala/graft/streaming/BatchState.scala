package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Restart-safe persisted state for foreachBatch monitors (the round-9
  * advisor's q252 finding, factored for the whole mergeable-state
  * family — q101 scalar aggs, q123 CDC upsert, q141 drift, q204
  * checksums, q228 percentiles, q252 CMS, q270 distinct support,
  * q273 top-k buffers): state dirs are keyed BY batchId
  * (`<component>_<id>`), and "committed" means every component dir
  * carries its parquet `_SUCCESS` marker. Each batch merges from
  * the latest committed id STRICTLY below its own — a resumed run
  * re-derives its predecessor from disk (no driver-memory var to
  * lose on recovery), and a RETRIED batchId re-reads the same
  * predecessor and idempotently overwrites its own dirs (never the
  * dir it reads from — the parity-dir scheme this replaces could read
  * and overwrite the same directory on a retry). Retention is bounded
  * by [[gc]]: a retry of batch N must still find N−1 even after N
  * once committed, so the end of batch N retires only ids < N−1 —
  * the steady-state footprint is two snapshots, not #batches.
  *
  * The protocol itself is [[step]] (one batch) and [[fold]] (a whole
  * parquet feed drained through `foreachBatch`); a query supplies only
  * its per-batch merge and derives its answer from [[fold]]'s result.
  */
object BatchState {

  private val runs = new java.util.concurrent.atomic.AtomicInteger(0)

  def dir(stateBase: String, component: String, id: Long): String =
    s"$stateBase/${component}_$id"

  /** Listing and existence probes go through the Hadoop FileSystem of
    * the state path's scheme (the round-10 advisor: `java.io.File`
    * silently resolved DFS/S3 state dirs to "no committed ids"), so
    * the same code serves `file:`, `hdfs:`, or an object store.
    */
  private def hadoopFs(p: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration()))

  /** All fully committed batch ids under `stateBase`, ascending. */
  def committedIds(stateBase: String, components: Seq[String]): Seq[Long] = {
    require(components.nonEmpty, "BatchState needs >= 1 component")
    val first = components.head
    val base = new org.apache.hadoop.fs.Path(stateBase)
    val fs = hadoopFs(base)
    val entries =
      if (fs.exists(base)) fs.listStatus(base)
      else Array.empty[org.apache.hadoop.fs.FileStatus]
    entries
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"${first}_"))
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix(s"${first}_").toLong).toOption)
      .filter(id => components.forall(c => fs.exists(
        new org.apache.hadoop.fs.Path(s"${dir(stateBase, c, id)}/_SUCCESS"))))
      .sorted.toSeq
  }

  /** The merge-from predecessor for (a possibly retried) `batchId`:
    * the latest committed id strictly below it, None for the first.
    */
  def prevId(stateBase: String, components: Seq[String],
             batchId: Long): Option[Long] =
    committedIds(stateBase, components).filter(_ < batchId).lastOption

  /** Read-time resolution: the latest fully committed id; loud error
    * (never a silent empty state) when nothing committed.
    */
  def lastId(stateBase: String, components: Seq[String],
             what: String): Long =
    committedIds(stateBase, components).lastOption.getOrElse(
      sys.error(s"$what: no committed state under $stateBase"))

  /** Retire state ids no future read or retry can reach — the header's
    * documented GC rule, as code. Safety argument: after foreachBatch
    * for batch N writes its dirs, the only readers of older state are
    * (a) a RETRY of N itself — the engine re-runs N only until N's
    * offsets commit, and that retry merges from the latest committed
    * id < N, which is N−1 (N−1's state committed inside ITS
    * foreachBatch, before the engine ever advanced to N) — and (b)
    * batch N+1, which reads N. Ids < N−1 are therefore unreachable.
    * Called at the END of batch N (`batchId` = N), deletes every
    * component dir — committed or orphaned partial — whose id is
    * < N−1, and is itself idempotent across retries (a re-run of N
    * re-deletes nothing and re-keeps N−1). Steady-state footprint:
    * two snapshots per component, independent of run length. Returns
    * the retired ids, ascending.
    */
  def gc(stateBase: String, components: Seq[String],
         batchId: Long): Seq[Long] = {
    require(components.nonEmpty, "BatchState needs >= 1 component")
    val base = new org.apache.hadoop.fs.Path(stateBase)
    val fs = hadoopFs(base)
    if (!fs.exists(base)) return Seq.empty
    val victims = fs.listStatus(base).toSeq
      .filter(_.isDirectory)
      .flatMap { s =>
        val nm = s.getPath.getName
        val i = nm.lastIndexOf('_')
        if (i <= 0) None
        else scala.util.Try(nm.substring(i + 1).toLong).toOption
          .filter(id => id < batchId - 1 &&
            components.contains(nm.substring(0, i)))
          .map(id => (id, s.getPath))
      }
    victims.foreach { case (_, p) => fs.delete(p, true) }
    victims.map(_._1).distinct.sorted
  }

  /** One batch of the protocol: hand `next` the components of the
    * committed predecessor (None for the first batch), write the
    * frames it returns to this batch's dirs in component order, then
    * [[gc]]. The predecessor is read through `spark`. A throw while
    * writing leaves the batch uncommitted (some dir lacks `_SUCCESS`)
    * and skips the gc; a retry of the same `batchId` re-reads the same
    * predecessor and overwrites.
    */
  def step(spark: SparkSession, stateBase: String, components: Seq[String],
           batchId: Long)(next: Option[Seq[DataFrame]] => Seq[DataFrame]): Unit = {
    val prev = prevId(stateBase, components, batchId).map(p =>
      components.map(c => spark.read.parquet(dir(stateBase, c, p))))
    val frames = next(prev)
    require(frames.size == components.size,
      s"BatchState.step: ${frames.size} frames for components $components")
    components.zip(frames).foreach { case (c, df) =>
      df.write.mode("overwrite").parquet(dir(stateBase, c, batchId))
    }
    gc(stateBase, components, batchId)
    ()
  }

  /** The components of the latest committed id; loud when nothing is
    * committed (see [[lastId]]).
    */
  def latest(spark: SparkSession, stateBase: String, components: Seq[String],
             what: String): Seq[DataFrame] = {
    val last = lastId(stateBase, components, what)
    components.map(c => spark.read.parquet(dir(stateBase, c, last)))
  }

  /** Drain the parquet `feed` one file per micro-batch
    * (`maxFilesPerTrigger=1`, `Trigger.AvailableNow`), folding each
    * batch into the persisted state with [[step]]: `next(batch, prev)`
    * returns the batch's new components. State and checkpoint dirs are
    * fresh per call (`graft_<tag>_state_<run>`, `graft_<tag>_ckpt_<run>`
    * under [[graft.util.TmpDirs.perProcess]]). Returns the final
    * committed components ([[latest]]).
    */
  def fold(spark: SparkSession, feed: String, tag: String,
           components: Seq[String])(
      next: (DataFrame, Option[Seq[DataFrame]]) => Seq[DataFrame])
      : Seq[DataFrame] = {
    val run = runs.incrementAndGet()
    val stateBase = graft.util.TmpDirs.perProcess(s"graft_${tag}_state_$run")
    spark.readStream.schema(spark.read.parquet(feed).schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        step(spark, stateBase, components, batchId)(prev => next(batch, prev))
      }
      .option("checkpointLocation",
        graft.util.TmpDirs.perProcess(s"graft_${tag}_ckpt_$run"))
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    latest(spark, stateBase, components, tag)
  }
}
