package graft.streaming

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.warehouse.Warehouse

/** Generative proof of the BatchState discipline end-to-end: for ANY
  * consistent signed history, ANY batching, ANY interleaving of
  * mid-commit crashes (a state dir written WITHOUT its _SUCCESS
  * marker, then retried) and post-commit re-runs (the engine replays
  * batch N until N's offsets commit), the q270-shaped support chain
  * resolves to exactly the from-scratch recompute, keeps the
  * two-snapshot footprint, and leaves the state compacted to the
  * surviving keys. The fixture specs pin one crash and one retry;
  * this quantifies over the failure lattice — a retry that merged
  * from its own partial write, a gc that retired the predecessor a
  * retry still needs, or an orphaned partial admitted as committed
  * would each diverge on some generated case.
  */
object BatchStateProperties extends Properties("graft.batchstate") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = TestSpark.spark

  private case class Life(g: String, v: Long, ins: Int, del: Option[Int])
  private case class Chain(lives: List[Life], nb: Int,
                           crash: List[Boolean], rerun: List[Boolean])

  private val chainGen: Gen[Chain] = for {
    nb <- Gen.choose(2, 4)
    n <- Gen.choose(1, 20)
    lives <- Gen.listOfN(n, for {
      g <- Gen.oneOf("g0", "g1")
      v <- Gen.choose(0L, 6L)
      ins <- Gen.choose(0, nb - 1)
      del <- Gen.option(Gen.choose(math.min(ins + 1, nb - 1), nb - 1))
        .map(_.filter(_ > ins))
    } yield Life(g, v, ins, del))
    crash <- Gen.listOfN(nb, Gen.prob(0.4))
    rerun <- Gen.listOfN(nb, Gen.prob(0.3))
  } yield Chain(lives, nb, crash, rerun)

  property("support chain == recompute under any crashes, retries and gc") =
    forAll(chainGen) { c =>
      import spark.implicits._
      val base = graft.util.TmpDirs.perProcess(
        s"graft_bsprop_${System.nanoTime()}")
      val comps = Seq("support")
      def batchRows(b: Int): Seq[(String, Long, Long)] =
        c.lives.filter(_.ins == b).map(l => (l.g, l.v, 1L)) ++
          c.lives.filter(_.del.contains(b)).map(l => (l.g, l.v, -1L))
      def step(b: Int): Unit =
        BatchState.step(spark, base, comps, b.toLong) { prev =>
          val partial = Warehouse.supportState(
            batchRows(b).toDF("g", "u", "sign"), Seq("g"), col("u"))
          Seq(prev.fold(partial)(p =>
            Warehouse.mergeSupportState(p :+ partial, Seq("g"))))
        }
      (0 until c.nb).foreach { b =>
        if (c.crash(b)) {
          // mid-commit crash: dir written, _SUCCESS never lands
          step(b)
          val marker = new org.apache.hadoop.fs.Path(
            s"${BatchState.dir(base, "support", b.toLong)}/_SUCCESS")
          marker.getFileSystem(
            spark.sessionState.newHadoopConf()).delete(marker, false)
        }
        step(b) // the (re)try that commits
        if (c.rerun(b)) step(b)
      }
      val committed = BatchState.committedIds(base, comps)
      val got = Warehouse.distinctViewFromSupport(
          spark.read.parquet(BatchState.dir(base, "support",
            BatchState.lastId(base, comps, "prop"))), Seq("g"))
        .as[(String, Long, Long, Long)].collect().toSet
      val state = spark.read.parquet(
          BatchState.dir(base, "support", (c.nb - 1).toLong))
        .as[(String, Long, Long)].collect().toSet
      val surviving = c.lives.filter(_.del.isEmpty)
      val viewTruth = surviving.groupBy(_.g).map { case (g, ls) =>
        (g, ls.map(_.v).distinct.size.toLong, 0L, ls.size.toLong)
      }.toSet
      val stateTruth = surviving.groupBy(l => (l.g, l.v))
        .map { case ((g, v), ls) => (g, v, ls.size.toLong) }.toSet
      committed.size <= 2 &&
        committed.last == (c.nb - 1).toLong &&
        got == viewTruth && state == stateTruth
    }
}
