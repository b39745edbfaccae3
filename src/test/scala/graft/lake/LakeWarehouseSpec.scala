package graft.lake

import java.sql.Timestamp
import java.time.Instant
import graft.SparkSpec
import graft.ingest.Ingest
import graft.pipeline.SyntheticChannels.{Chan, json}
import graft.warehouse.Warehouse

/** W1/W2/W3 sink semantics + S2/S3 reads (SURVEY §2.7): append
  * accumulation, partition pruning, filesystem channel discovery,
  * overwrite idempotence, the labeled head-5 variant, and the header-CSV
  * fidelity lake.
  */
class LakeWarehouseSpec extends SparkSpec {

  private val ts1 = Timestamp.from(Instant.parse("2026-04-01T00:00:00Z"))
  private val ts2 = Timestamp.from(Instant.parse("2026-04-02T00:00:00Z"))
  private val chans = Seq(Chan(1, "Alpha#One", 1, 5.0), Chan(2, "Beta#Two", 2, 6.0))

  private def batch(ts: Timestamp, b: Int) =
    Ingest.extract(spark, chans.map(json(_, b)), ts)

  test("upsert: updated keys take the update row, others keep the target row") {
    import spark.implicits._
    val target = Seq((1L, 10L, "a"), (2L, 10L, "b"), (3L, 10L, "c"))
      .toDF("k", "v", "payload")
    val updates = Seq((2L, 20L, "B"), (4L, 20L, "D")).toDF("k", "v", "payload")
    val got = Warehouse.upsert(target, updates, Seq("k"), "v")
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq ===
      Seq((1L, 10L, "a"), (2L, 20L, "B"), (3L, 10L, "c"), (4L, 20L, "D")))
  }

  test("upsert: a version tie goes to the update side") {
    import spark.implicits._
    val target = Seq((1L, 10L, "old")).toDF("k", "v", "payload")
    val updates = Seq((1L, 10L, "new")).toDF("k", "v", "payload")
    val got = Warehouse.upsert(target, updates, Seq("k"), "v").collect()
    assert(got.length === 1 && got(0).getString(2) === "new")
  }

  test("lake append accumulates batches under channel_key partitions") {
    val lake = scratch("lake_parquet")
    Lake.appendBatch(batch(ts1, 1), lake)
    Lake.appendBatch(batch(ts2, 2), lake)
    assert(Lake.read(spark, lake).count() === 4)
    // channel discovery = filesystem listing of partition dirs, sorted
    // (Chan k=2 title "Beta Two-Kids/HD" -> key "Beta_Two_Kids")
    assert(Lake.channels(spark, lake) === Seq("Alpha_One", "Beta_Two_Kids"))
    val one = Lake.readChannel(Lake.read(spark, lake), Lake.channels(spark, lake).head)
    assert(one.count() === 2)
    assert(one.select("title").distinct().count() === 1)
  }

  test("channel discovery round-trips Hive-escaped and plus-containing keys") {
    import spark.implicits._
    val lake = scratch("lake_escape")
    // '#' is %-escaped in partition dirs; '+' is NOT and must survive
    val weird = Seq(("A#B", "u", "2020-01-01T00:00:00Z", "url", "C1",
        "1", "2", "3"))
      .toDF("title", "customUrl", "publishedAt", "url", "country",
        "viewCount", "subscriberCount", "videoCount")
    Lake.appendBatch(weird, lake)
    Lake.appendBatch(weird.withColumn("title",
      org.apache.spark.sql.functions.lit("X+Y Z")), lake)
    assert(Lake.channels(spark, lake) === Seq("A#B", "X+Y_Z"))
    assert(Lake.unescapePartitionValue("A%23B") === "A#B")
    assert(Lake.unescapePartitionValue("X+Y") === "X+Y")
    assert(Lake.unescapePartitionValue("100%") === "100%")
  }

  test("CSV lake variant roundtrips with header + inferred schema") {
    val lake = scratch("lake_csv")
    Lake.appendBatchCsv(batch(ts1, 1), lake)
    Lake.appendBatchCsv(batch(ts2, 2), lake)
    val ch = Lake.channels(spark, lake).head
    val df = Lake.readCsv(spark, s"$lake/channel_key=$ch")
    assert(df.count() === 2)
    // inferSchema re-derives types from text, like pd.read_csv (S2);
    // small numerics may infer as int rather than long
    assert(Set("integer", "long").contains(df.schema("viewCount").dataType.typeName))
    assert(df.schema("madeForKids").dataType.typeName === "boolean")
  }

  test("loadRaw is truncate+reload idempotent (W2)") {
    val df = batch(ts1, 1)
    Warehouse.loadRaw(df, "t_raw_idemp")
    Warehouse.loadRaw(df, "t_raw_idemp")
    assert(Warehouse.table(spark, "t_raw_idemp").count() === 2)
  }

  test("loadRawHead5 appends at most 5 rows per call (W3)") {
    spark.sql("DROP TABLE IF EXISTS t_raw_head5")
    val many = Ingest.extract(spark,
      (1 to 7).map(k => json(Chan(k, s"C#$k", k, 1.0), 1)), ts1)
    Warehouse.loadRawHead5(many, "t_raw_head5")
    assert(Warehouse.table(spark, "t_raw_head5").count() === 5)
    Warehouse.loadRawHead5(many, "t_raw_head5")
    assert(Warehouse.table(spark, "t_raw_head5").count() === 10)
  }

  test("applyAggDelta: deletes retract, zero-count keys vanish, overshoot surfaces") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val state = Seq(("a", 2L, 30L), ("b", 1L, 5L), ("c", 1L, 7L))
      .toDF("k", "n_rows", "total_bp")
    val batch = Seq(
      ("a", "D", 10L),  // retract one of a's rows
      ("a", "I", 4L),   // and insert a new one
      ("b", "D", 5L),   // fully retract b -> key must vanish
      ("c", "D", 7L), ("c", "D", 7L)) // CDC bug: over-delete c
      .toDF("k", "op", "vbp")
    val got = Warehouse.applyAggDelta(state, batch, Seq("k"), col("op"),
        col("vbp")).orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // a: (2-1+1, 30-10+4); b gone; c surfaces the impossible -1 count
    assert(got === Seq(("a", 2L, 24L), ("c", -1L, -7L)))
  }

  test("joinViewDelta: bilinear signed maintenance equals the from-scratch join") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // A(key, grp): k1/k2 in g1, k3 in g2. B(key, cents).
    val a0 = Seq((1L, "g1"), (2L, "g1"), (3L, "g2")).toDF("k", "grp")
    val b0 = Seq((1L, 10L), (1L, 20L), (2L, 5L), (3L, 7L))
      .toDF("k", "cents")
    // every algebra case: delete an A row whose B rows survive (k2),
    // delete one of k1's B rows, delete BOTH sides of k3 (the
    // double-retraction cancellation), insert a fresh key k4 on both
    // sides (insert x insert), and insert a B row under deleted k2
    // (insert x delete -> must NOT appear)
    val da = Seq((2L, "g1", -1L), (3L, "g2", -1L), (4L, "g2", 1L))
      .toDF("k", "grp", "sign")
    val db = Seq((1L, 20L, -1L), (3L, 7L, -1L), (4L, 9L, 1L),
      (2L, 99L, 1L)).toDF("k", "cents", "sign")
    val got = Warehouse.joinViewDelta(a0, da, b0, db, "k", Seq("grp"),
        col("cents"))
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // final A = {k1 g1, k4 g2}; final B = {(1,10),(2,5),(4,9),(2,99)}
    // join: g1 -> (1,10); g2 -> (4,9). g2's k3 pair fully cancelled.
    assert(got === Seq(("g1", 1L, 10L), ("g2", 1L, 9L)))
  }

  test("distinctViewDelta: support-count algebra, zeroed values drop, negative support surfaces") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // g1: u1 twice, u2 once; g2: u3 once
    val base = Seq(("g1", 1L), ("g1", 1L), ("g1", 2L), ("g2", 3L))
      .toDF("g", "u")
    // -u1 once (support 2->1: distinct UNCHANGED), -u2 (1->0: value
    // leaves), +u1 again (1->2), g2: -u3 and +u4 (distinct stays 1,
    // different value), g3: retraction of a row that never existed ->
    // support -1 must SURFACE as n_neg_support, never clamp
    val delta = Seq(("g1", 1L, -1L), ("g1", 2L, -1L), ("g1", 1L, 1L),
      ("g2", 3L, -1L), ("g2", 4L, 1L), ("g3", 5L, -1L))
      .toDF("g", "u", "sign")
    val got = Warehouse.distinctViewDelta(base, delta, Seq("g"), col("u"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // g1: supports u1=2, u2=0 -> distinct 1, rows 2
    // g2: supports u3=0, u4=1 -> distinct 1, rows 1
    // g3: support u5=-1 -> the impossible state reaches the output
    assert(got === Seq(("g1", 1L, 0L, 2L), ("g2", 1L, 0L, 1L),
      ("g3", 0L, 1L, -1L)))
  }

  test("persisted support state: any batch split and a post-gc retry resolve " +
      "the identical view; maintenance never re-reads base") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.streaming.BatchState
    import graft.warehouse.Warehouse
    // the q270 discipline driven by hand: the same signed feed split
    // into 1 batch vs 3 batches, each batch merging its partial
    // against the stored parquet state (BatchState commit + gc), must
    // land on the identical final view — support addition is abelian,
    // so the state provably survives arbitrary engine batch splits —
    // and a RETRY of the last batch after gc idempotently rewrites
    // only its own dir and resolves the same view
    val rows = Seq(("g1", 1L, 1L), ("g1", 1L, 1L), ("g1", 2L, 1L),
      ("g2", 3L, 1L), ("g1", 1L, -1L), ("g1", 2L, -1L),
      ("g2", 4L, 1L), ("g2", 3L, -1L))
    def step(stateBase: String, batch: Seq[(String, Long, Long)],
             id: Long): Unit =
      BatchState.step(spark, stateBase, Seq("support"), id) { prev =>
        val partial = Warehouse.supportState(
          batch.toDF("g", "u", "sign"), Seq("g"), col("u"))
        Seq(prev.fold(partial)(p =>
          Warehouse.mergeSupportState(p :+ partial, Seq("g"))))
      }
    def run(stateBase: String, splits: Seq[Seq[(String, Long, Long)]])
        : Seq[(String, Long, Long, Long)] = {
      splits.zipWithIndex.foreach { case (batch, i) =>
        step(stateBase, batch, i.toLong)
      }
      Warehouse.distinctViewFromSupport(
          spark.read.parquet(BatchState.dir(stateBase, "support",
            BatchState.lastId(stateBase, Seq("support"), "spec"))),
          Seq("g"))
        .orderBy("g").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
    }
    val one = graft.util.TmpDirs.perProcess("graft_supp_one")
    val three = graft.util.TmpDirs.perProcess("graft_supp_three")
    val vOne = run(one, Seq(rows))
    val vThree = run(three, Seq(rows.take(3), rows.slice(3, 6), rows.drop(6)))
    assert(vOne === vThree, "final view must be batch-split invariant")
    assert(vOne === Seq(("g1", 1L, 0L, 1L), ("g2", 1L, 0L, 1L)))
    // COMPACTION (round-11 ADVICE): fully-retracted keys — (g1,2) and
    // (g2,3) net to support 0 across the three batches — must be
    // ABSENT from the persisted merged state, not carried forever:
    // under retraction-heavy churn the snapshot would otherwise grow
    // with total-ever-distinct values. (Asserted on the multi-batch
    // run: the single-batch state is a raw partial, no merge ran.)
    val finalState = spark.read.parquet(BatchState.dir(three, "support",
        BatchState.lastId(three, Seq("support"), "spec")))
      .orderBy("g", "__v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(finalState === Seq(("g1", 1L, 1L), ("g2", 4L, 1L)),
      "zero-support keys must be compacted out of the persisted state")
    // retry of the final batch (id 2) after its gc: merges from 1,
    // overwrites only support_2, view unchanged
    assert(BatchState.prevId(three, Seq("support"), 2L) === Some(1L))
    step(three, rows.drop(6), 2L)
    val vRetry = Warehouse.distinctViewFromSupport(
        spark.read.parquet(BatchState.dir(three, "support", 2L)), Seq("g"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(vRetry === vOne, "a retried final batch must resolve the same view")
  }
}
