package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite run (Test / fork := true
  * puts all suites in one JVM; per-suite sessions would pay ~5 s startup
  * each), built with the Bench settings on 4 cores.
  */
object TestSpark {
  lazy val spark: SparkSession = graft.util.Session.build(4)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Fresh scratch dir under tmp, deleted on JVM exit is not guaranteed —
    * callers overwrite/delete as needed; names are test-unique.
    */
  def scratch(name: String): String = {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_test", name)
    deleteRec(p)
    p.toString
  }

  private def deleteRec(p: java.nio.file.Path): Unit = {
    import java.nio.file._
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
  }
}
