package graft.streaming

/** Restart-safe persisted state for foreachBatch monitors (the round-9
  * advisor's q252 finding, factored for the whole mergeable-state
  * family — q101 scalar aggs, q123 CDC upsert, q141 drift, q204
  * checksums, q228 percentiles, q252 CMS): state dirs are keyed BY
  * batchId (`<component>_<id>`), and "committed" means every component
  * dir carries its parquet `_SUCCESS` marker. Each batch merges from
  * the latest committed id STRICTLY below its own — a resumed run
  * re-derives its predecessor from disk (no driver-memory var to
  * lose on recovery), and a RETRIED batchId re-reads the same
  * predecessor and idempotently overwrites its own dirs (never the
  * dir it reads from — the parity-dir scheme this replaces could read
  * and overwrite the same directory on a retry). Retention is bounded
  * by [[gc]]: a retry of batch N must still find N−1 even after N
  * once committed, so the end of batch N retires only ids < N−1 —
  * the steady-state footprint is two snapshots, not #batches.
  */
object BatchState {

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
}
