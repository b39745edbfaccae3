package graft.util

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Child JVM for [[TmpDirsSpec]]: takes two per-process dirs, puts a
  * file in each, prints their paths and exits normally.
  */
object TmpDirsExitChild {
  def main(args: Array[String]): Unit =
    Seq("graft_exit_a", "graft_exit_b").foreach { name =>
      val d = Paths.get(TmpDirs.perProcess(name))
      Files.createDirectories(d)
      Files.writeString(d.resolve("part-0.txt"), "x")
      println(s"dir=$d")
    }
}

class TmpDirsSpec extends AnyFunSuite {

  test("perProcess dirs are deleted when their JVM exits") {
    val tmp = Files.createTempDirectory("graft_tmpdirs_spec")
    try {
      val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java")
      val proc = new ProcessBuilder(javaBin.toString, "-Xmx128m",
          s"-Djava.io.tmpdir=$tmp",
          "-cp", System.getProperty("java.class.path"),
          "graft.util.TmpDirsExitChild")
        .redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes())
      assert(proc.waitFor() === 0, s"child failed:\n$out")
      val dirs = out.linesIterator.filter(_.startsWith("dir="))
        .map(l => Paths.get(l.stripPrefix("dir="))).toSeq
      assert(dirs.size === 2, s"child output:\n$out")
      dirs.foreach(d => assert(d.startsWith(tmp)))
      dirs.foreach(d => assert(!Files.exists(d), s"$d survived its JVM"))
    } finally {
      val s = Files.walk(tmp)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.delete(p))
      finally s.close()
    }
  }
}
