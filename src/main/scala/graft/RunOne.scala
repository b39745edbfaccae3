package graft

import graft.util.Session

/** Dev harness: run one named query against a scale dir and show rows +
  * the formatted physical plan (`sbt "runMain graft.RunOne q35_... /root/
  * testdata/sf0.001 [explain]"`). Not part of the driver contract.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = Session.build(Session.cpus)
    val df = SparkEntry.queries(name)(spark, sfDir)
    if (args.contains("explain")) df.explain("formatted")
    df.show(50, truncate = false)
    println(s"rows=${df.count()}")
    spark.stop()
  }
}
