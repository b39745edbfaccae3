package graft.util

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Per-process scratch paths. The lake/warehouse mains and q35 write
  * (and recursively delete) real directories under java.io.tmpdir; a
  * fixed shared name would let two concurrent runs on one host clobber
  * each other's state mid-query, so every path is suffixed with a
  * JVM-unique token.
  *
  * The token is pid + JVM start millis, NOT the pid alone: containers
  * recycle PIDs fast enough that two Verify runs minutes apart can land
  * on the same pid, and a streaming parquet sink APPENDS — a recycled
  * pid would silently merge a stale run's committed files into the new
  * run's read (observed: q128 reading 110k rows from a 10k feed because
  * a dead sf0.1 run had left its sink dir under the same pid suffix).
  *
  * Every path handed out is deleted recursively at JVM exit, not
  * earlier: frames over these dirs read them lazily (BatchState.fold's
  * state, stream sinks). The hook runs below Spark's own (priority
  * 40), so the SparkContext has stopped first.
  */
object TmpDirs {
  private val jvmToken: String = {
    val ph = ProcessHandle.current()
    val start = ph.info().startInstant()
      .map[Long](_.toEpochMilli).orElse(System.currentTimeMillis())
    s"${ph.pid()}-$start"
  }

  private val issued = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private lazy val exitHook: Unit =
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => issued.forEach(p => scala.util.Try(deleteTree(Paths.get(p)))),
      org.apache.hadoop.fs.FileSystem.SHUTDOWN_HOOK_PRIORITY + 20)

  def perProcess(name: String): String = {
    val p = s"${System.getProperty("java.io.tmpdir")}/$name-$jvmToken"
    exitHook
    issued.add(p)
    p
  }

  private def deleteTree(root: Path): Unit =
    if (Files.exists(root)) scala.util.Using.resource(Files.walk(root))(
      _.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_)))
}
