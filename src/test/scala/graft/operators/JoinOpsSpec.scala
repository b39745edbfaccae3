package graft.operators

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Boundary semantics of the time-join operators — the cases an oracle
  * over bulk data may never isolate.
  */
class JoinOpsSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asof: ties are inclusive, earlier rows win over nothing, no-match is null") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),  // exact tie with right row
      (2L, 10L, ts("2024-01-01 11:30:00")),  // after both right rows
      (3L, 20L, ts("2024-01-01 09:00:00"))   // key with no right rows
    ).toDF("id", "k", "t")
    val right = Seq(
      (10L, ts("2024-01-01 10:00:00"), "a"),
      (10L, ts("2024-01-01 11:00:00"), "b")
    ).toDF("rk", "rt", "tag")
    val out = AsOfJoin.asof(left, right,
        leftKey = col("k"), rightKey = col("rk"),
        leftTime = col("t"), rightTime = col("rt"),
        payload = Seq(col("tag") -> "tag"))
      .select(col("id"), col("__match.tag").as("tag"))
      .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(out === Map(1L -> Some("a"), 2L -> Some("b"), 3L -> None))
  }

  test("asof rejects left/payload columns that collide with reserved __ names") {
    import spark.implicits._
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "x")).toDF("k", "t", "__match")
    val right = Seq((1L, ts("2024-01-01 09:00:00"), "a")).toDF("rk", "rt", "tag")
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asof(left, right, col("k"), col("rk"), col("t"), col("rt"),
        payload = Seq(col("tag") -> "tag"))
    }
    assert(e.getMessage.contains("__match"))
    val e2 = intercept[IllegalArgumentException] {
      AsOfJoin.asof(left.withColumnRenamed("__match", "m"), right,
        col("k"), col("rk"), col("t"), col("rt"),
        payload = Seq(col("tag") -> "__p"))
    }
    assert(e2.getMessage.contains("__p"))
  }

  test("asofNearest: direction pick, backward tie, equal-time zero gap, no-match null") {
    import spark.implicits._
    val left = Seq(
      (1L, 1L, 100L), // back 90 (gap 10) vs fwd 105 (gap 5) -> f
      (2L, 2L, 100L), // back 95 vs fwd 105: equal gaps -> b
      (3L, 3L, 100L), // right row AT 100 -> backward, gap 0
      (4L, 4L, 100L), // only a backward row
      (5L, 9L, 100L)  // key with no right rows -> nulls
    ).toDF("id", "k", "t")
    val right = Seq(
      (1L, 90L, 11L), (1L, 105L, 12L),
      (2L, 95L, 21L), (2L, 105L, 22L),
      (3L, 100L, 31L), (3L, 101L, 32L),
      (4L, 40L, 41L)
    ).toDF("rk", "rt", "rid")
    val out = AsOfJoin.asofNearest(left, right,
        leftKey = col("k"), rightKey = col("rk"),
        leftTime = col("t"), rightTime = col("rt"),
        rightId = col("rid"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(3)), Option(r.getString(4)), Option(r.get(5)))))
      .toMap
    assert(out(1L) === ((Some(12L), Some("f"), Some(5L))))
    assert(out(2L) === ((Some(21L), Some("b"), Some(5L))))
    assert(out(3L) === ((Some(31L), Some("b"), Some(0L))))
    assert(out(4L) === ((Some(41L), Some("b"), Some(60L))))
    assert(out(5L) === ((None, None, None)))
  }

  test("asofNearest: tied right rows at one (key, time) resolve deterministically") {
    import spark.implicits._
    // two purchases at the same micro-timestamp: backward carry must
    // pick the MAX right id, forward carry the MIN — the engine- and
    // run-independent rule the __rid window order pins (and the q226
    // oracle replays)
    val left = Seq((1L, 1L, 150L), (2L, 1L, 50L)).toDF("id", "k", "t")
    val right = Seq((1L, 100L, 7L), (1L, 100L, 9L)).toDF("rk", "rt", "rid")
    def run() = AsOfJoin.asofNearest(left, right,
        leftKey = col("k"), rightKey = col("rk"),
        leftTime = col("t"), rightTime = col("rt"),
        rightId = col("rid"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(3), r.getString(4), r.getLong(5)))).toMap
    val out = run()
    assert(out(1L) === ((9L, "b", 50L))) // backward tie -> max rid
    assert(out(2L) === ((7L, "f", 50L))) // forward tie  -> min rid
    assert(run() === out)
  }

  test("asofNearest rejects left columns clashing with working/output names") {
    import spark.implicits._
    val bad = Seq((1L, 100L, 0L)).toDF("k", "t", "near_id")
    val right = Seq((1L, 90L, 7L)).toDF("rk", "rt", "rid")
    val err = intercept[IllegalArgumentException] {
      AsOfJoin.asofNearest(bad, right, col("k"), col("rk"),
        col("t"), col("rt"), col("rid"))
    }
    assert(err.getMessage.contains("near_id"))
  }

  test("range join: window start inclusive, end exclusive, bucket boundary crossed") {
    import spark.implicits._
    val w = 3600L * 1000000L // 1 hour
    val left = Seq(
      (1L, 1L, ts("2024-01-01 10:59:59")), // 59:59 after right row -> in
      (2L, 1L, ts("2024-01-01 11:00:00")), // exactly 1h after -> out
      (3L, 1L, ts("2024-01-01 10:00:00"))  // simultaneous -> in
    ).toDF("id", "k", "t")
    val right = Seq((1L, ts("2024-01-01 10:00:00"), 42L))
      .toDF("rk", "rt", "tag")
    val out = RangeJoin.withinAfter(left, right,
        leftKey = col("k"), rightKey = col("rk"),
        leftTime = col("t"), rightTime = col("rt"), windowUs = w)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out === Seq(1L, 3L))
  }

  test("range join bucketization finds matches across a bucket boundary") {
    import spark.implicits._
    val w = 3600L * 1000000L
    // right at 10:30, left at 11:15: different 1h-buckets, within window
    val left = Seq((1L, 1L, ts("2024-01-01 11:15:00"))).toDF("id", "k", "t")
    val right = Seq((1L, ts("2024-01-01 10:30:00"), 7L)).toDF("rk", "rt", "tag")
    val out = RangeJoin.withinAfter(left, right,
      leftKey = col("k"), rightKey = col("rk"),
      leftTime = col("t"), rightTime = col("rt"), windowUs = w)
    assert(out.count() === 1)
  }

  test("GraftExtensions injects both native functions; SQL text resolves them") {
    // Session.build installs the extensions and newSession() inherits
    // them: SQL text resolves both functions with nothing registered
    val s2 = spark.newSession()
    val row = s2.sql(
      """SELECT graft_array_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
        |       graft_array_dot(array(2.0d, 3.0d), array(4.0d, 5.0d)) AS d""".stripMargin)
      .head()
    assert(row.getDouble(0) === 1.0)
    assert(row.getDouble(1) === 23.0)
  }
}
