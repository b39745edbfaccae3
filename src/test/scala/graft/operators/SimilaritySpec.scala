package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  private lazy val emb = graft.util.Tables(
    spark, "/root/testdata/sf0.001", "embeddings")

  test("bruteForceTopK returns k rows sorted by similarity desc") {
    val top = Similarity.bruteForceTopK(emb,
      col("vec_id"), col("embedding"), queryId = 0L, k = 5).collect()
    assert(top.length === 5)
    val sims = top.map(_.getDouble(1)).toSeq
    assert(sims === sims.sorted.reverse)
    assert(!top.exists(_.getLong(0) == 0L)) // query excluded
  }

  test("the DataFrame path builds its cosine with no registered function") {
    def ids(df: org.apache.spark.sql.DataFrame) =
      Similarity.bruteForceTopK(df, col("vec_id"), col("embedding"),
        queryId = 0L, k = 5).collect().map(_.getLong(0)).toSeq
    val want = ids(emb)
    val s2 = spark.newSession()
    val e2 = s2.read.parquet(emb.inputFiles: _*)
    assert(ids(e2) === want)
    // with the function gone from the registry SQL text cannot resolve
    // graft_array_cosine; the Column API must not care
    s2.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_array_cosine"))
    assert(!s2.catalog.functionExists("graft_array_cosine"))
    assert(ids(e2) === want)
  }

  test("ivfTopK results are a subset of brute-force candidates scored identically") {
    val bf = Similarity.bruteForceTopK(emb,
        col("vec_id"), col("embedding"), queryId = 0L, k = 500).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = Similarity.ivfTopK(emb,
      col("vec_id"), col("embedding"), col("label"), queryId = 0L, k = 10).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      assert(bf(r.getLong(0)) === r.getDouble(1)) // same exact cosine
    }
  }

  test("quantizedTopK: int8 ranking tracks exact cosine within tolerance") {
    val top = Similarity.quantizedTopK(emb,
      col("vec_id"), col("embedding"), queryId = 0L, k = 10, tol = 0.02)
      .collect()
    assert(top.length === 10)
    // audit column must certify every returned row
    assert(top.forall(_.getBoolean(3)))
    // quantized error actually small: |qcos - cos| well under tol
    top.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2)) <= 0.02)
    }
    val qsims = top.map(_.getDouble(1)).toSeq
    assert(qsims === qsims.sorted.reverse)
  }

  test("multi-probe signLsh: more probes can only improve the top-k") {
    def topk(probes: Int): Seq[Double] =
      Similarity.signLshTopK(emb, col("vec_id"), col("embedding"),
        queryId = 0L, k = 10, bits = 4, probes = probes)
        .collect().map(_.getDouble(1)).toSeq
    val (p1, p3, p5) = (topk(1), topk(3), topk(5))
    // the candidate set grows monotonically with probes, so the sorted
    // top-k scores must dominate pointwise
    p3.zipAll(p1, 2.0, -2.0).foreach { case (m, s) => assert(m >= s) }
    p5.zipAll(p3, 2.0, -2.0).foreach { case (m, s) => assert(m >= s) }
  }

  test("ivf nprobe=2 dominates nprobe=1 pointwise; both score exactly") {
    def topk(nprobe: Int): Seq[(Long, Double)] =
      Similarity.ivfTopK(emb, col("vec_id"), col("embedding"), col("label"),
        queryId = 0L, k = 10, nprobe = nprobe)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val (n1, n2) = (topk(1), topk(2))
    n2.map(_._2).zipAll(n1.map(_._2), 2.0, -2.0).foreach {
      case (m, s) => assert(m >= s)
    }
    // nprobe=2 candidates still carry the exact cosine of the brute force
    val bf = Similarity.bruteForceTopK(emb,
        col("vec_id"), col("embedding"), queryId = 0L, k = 500).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    n2.foreach { case (id, sim) => assert(bf(id) === sim) }
  }

  test("sampled quantizer build changes centroids, not scoring exactness") {
    val sampled = Similarity.ivfTopK(emb, col("vec_id"), col("embedding"),
        col("label"), queryId = 0L, k = 10,
        buildSamplePerMille = 500, buildSampleSeed = 0).collect()
    assert(sampled.length === 10)
    val bf = Similarity.bruteForceTopK(emb,
        col("vec_id"), col("embedding"), queryId = 0L, k = 500).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    sampled.foreach(r => assert(bf(r.getLong(0)) === r.getDouble(1)))
  }

  test("ivfQuantizedTopK: byte-domain probe tracks exact cosine within tol") {
    val got = Similarity.ivfQuantizedTopK(emb, col("vec_id"),
      col("embedding"), col("label"), queryId = 0L, k = 10,
      nprobe = 2, tol = 0.02).collect()
    assert(got.length === 10)
    // the audit column certifies every returned row
    assert(got.forall(_.getBoolean(3)))
    got.foreach(r => assert(math.abs(r.getDouble(1) - r.getDouble(2)) <= 0.02))
    // ranked by the QUANTIZED score (the byte-domain scan is the ranking)
    val qsims = got.map(_.getDouble(1)).toSeq
    assert(qsims === qsims.sorted.reverse)
    // exact-cosine audit values agree with the brute-force scoring path
    val bf = Similarity.bruteForceTopK(emb,
        col("vec_id"), col("embedding"), queryId = 0L, k = 500).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach(r => assert(bf(r.getLong(0)) === r.getDouble(2)))
  }

  test("ivfQuantizedTopK candidates come from the same buckets as ivfTopK") {
    // same nprobe probes the same centroid buckets, so the byte-domain
    // candidate ids must be a superset-equal of the exact ivf top-k ids
    // scored from the identical probe set (ranking may reorder within).
    val exactIds = Similarity.ivfTopK(emb, col("vec_id"), col("embedding"),
      col("label"), queryId = 0L, k = 200, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    val quantIds = Similarity.ivfQuantizedTopK(emb, col("vec_id"),
      col("embedding"), col("label"), queryId = 0L, k = 200, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    assert(quantIds === exactIds)
  }

  test("ivfQuantizedTopK sampled build: audit still certifies every row") {
    val got = Similarity.ivfQuantizedTopK(emb, col("vec_id"),
      col("embedding"), col("label"), queryId = 0L, k = 10, nprobe = 2,
      tol = 0.02, buildSamplePerMille = 500, buildSampleSeed = 0).collect()
    assert(got.length === 10)
    assert(got.forall(_.getBoolean(3)))
    val qsims = got.map(_.getDouble(1)).toSeq
    assert(qsims === qsims.sorted.reverse)
  }

  test("pqTopK: k rows ranked by pq_sim, audited, deterministic") {
    def run() = Similarity.pqTopK(emb, col("vec_id"), col("embedding"),
      col("label"), queryId = 0L, k = 10, dim = 64, numSub = 8).collect()
    val got = run()
    assert(got.length === 10)
    val sims = got.map(_.getDouble(1)).toSeq
    assert(sims === sims.sorted.reverse)
    // ADC scores live in cosine range and the audit column is populated
    assert(sims.forall(s => s >= -1.0001 && s <= 1.0001))
    assert(got.map(_.getBoolean(3)).count(identity) >= 1) // some recall
    assert(got.map(_.toString).toSeq === run().map(_.toString).toSeq)
  }

  test("probeMasks: deterministic, distinct, Hamming<=2, H1 prefix stable") {
    val m = Similarity.probeMasks(4)
    assert(m.length === 1 + 4 + 6)
    assert(m.distinct.length === m.length)
    assert(m.head === 0L)
    // first bits+1 masks are exactly the pre-Hamming-2 enumeration, so
    // q72 (probes=3) scans the identical buckets it always did
    assert(m.take(5) === Seq(0L, 1L, 2L, 4L, 8L))
    assert(m.drop(5) === Seq(3L, 5L, 9L, 6L, 10L, 12L))
    assert(m.forall(x => java.lang.Long.bitCount(x) <= 2))
  }

  test("signLshTopK at probes > bits+1: H2 buckets only grow the top-k") {
    def topk(probes: Int): Seq[Double] =
      Similarity.signLshTopK(emb, col("vec_id"), col("embedding"),
        queryId = 0L, k = 10, bits = 4, probes = probes)
        .collect().map(_.getDouble(1)).toSeq
    val (p5, p7, p11) = (topk(5), topk(7), topk(11))
    p7.zipAll(p5, 2.0, -2.0).foreach { case (m, s) => assert(m >= s) }
    p11.zipAll(p7, 2.0, -2.0).foreach { case (m, s) => assert(m >= s) }
    // brute force still dominates: probes=11 scans Hamming<=2 buckets
    // (11 of 16), not the full space
    val bf = Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"),
      queryId = 0L, k = 10).collect().map(_.getDouble(1)).toSeq
    p11.zip(bf).foreach { case (a, b) => assert(a <= b) }
  }

  test("quantizeInt8: values in [-127,127], zero vector yields NULL") {
    import spark.implicits._
    val df = Seq((1L, Seq(0.5f, -1.0f, 0.25f)), (2L, Seq(0f, 0f, 0f)))
      .toDF("vec_id", "v")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.quantizeInt8(col("v")).as("q8"))
      .orderBy("vec_id").collect()
    assert(df(0).getSeq[Int](1).toList === List(64, -127, 32))
    assert(df(1).isNullAt(1))
  }

  test("signBucket with offset reads different dims") {
    import spark.implicits._
    import graft.functions.VectorFunctions.signBucket
    val v = Seq(Array(1.0, -1.0, 1.0, 1.0, -1.0, -1.0, 1.0, -1.0)).toDF("v")
    val row = v.select(
      signBucket(col("v"), 4),
      signBucket(col("v"), 4, 4)).head()
    assert(row.getLong(0) === (1L + 4L + 8L)) // dims 1,-1,1,1 -> bits 0,2,3
    assert(row.getLong(1) === 4L)             // dims -1,-1,1,-1 -> bit 2
  }

  test("q04 plan pushes filters and prunes columns at the parquet scan") {
    val df = graft.SparkEntry.queries("q04_filter_pushdown")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["))
    assert(plan.contains("l_discount"))
    // pruned read schema: only the 4 referenced columns reach the scan
    assert(!plan.contains("l_extendedprice"))
  }

  test("q10 plan broadcasts the dimension tables") {
    val df = graft.SparkEntry.queries("q10_join_broadcast_dims")(
      spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("ivfTopKPartitioned == ivfTopK, and the probe scan is partition-pruned") {
    val idx = scratch("ivf_part_idx")
    val part = Similarity.ivfTopKPartitioned(emb, col("vec_id"),
      col("embedding"), col("label"), queryId = 0L, k = 10, nprobe = 2,
      buildSamplePerMille = 1000, buildSampleSeed = 0, indexDir = idx)
    val mem = Similarity.ivfTopK(emb, col("vec_id"), col("embedding"),
      col("label"), queryId = 0L, k = 10, nprobe = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // storage layout is an execution detail: identical answer
    assert(rows(part) === rows(mem))
    // the bucket filter must reach the scan as a PARTITION filter
    // (file-level pruning), not a data filter
    val plan = part.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"probe not partition-pruned:\n$plan")
    // and the index at rest is one directory per coarse bucket
    val bucketDirs = new java.io.File(idx).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket="))
    assert(bucketDirs.nonEmpty)
  }

  test("ivfTopKPartitioned refuses buildSamplePerMille = 0 instead of training on nothing") {
    val err = intercept[IllegalArgumentException] {
      Similarity.ivfTopKPartitioned(emb, col("vec_id"), col("embedding"),
        col("label"), queryId = 0L, k = 10, nprobe = 1,
        buildSamplePerMille = 0, buildSampleSeed = 0,
        indexDir = scratch("ivf_part_idx_empty_sample"))
    }
    assert(err.getMessage.contains("buildSamplePerMille must be in [1, 1000]"))
  }

  test("rankedNeighborsIvf: nprobe=C equals the exact neighbor lists") {
    // with every bucket probed, the IVF candidate set is the full
    // corpus, so lists must equal the exact scored pass row-for-row
    val nLabels = emb.select("label").distinct().count().toInt
    def pull(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "vec_id", "rn", "cu").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
        .toSet
    val ivf = pull(Similarity.rankedNeighborsIvf(emb, col("vec_id"),
      col("embedding"), col("label"), k = 3, nprobe = nLabels))
    val exact = pull(Similarity.rankedNeighbors(emb, col("vec_id"),
      col("embedding"), k = 3))
    assert(ivf === exact)
  }

  test("rankedNeighborsIvf rank-1 probe bucket equals assignToNearest's fold") {
    // the per-row sorted probe array and the argmax fold must agree on
    // every vector (same rounded cosine + min-label tie rule), so a
    // query's own bucket is always probed
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"), col("label").as("lbl"))
    val cents = Similarity.centroidsWide(e)
    val fold = Similarity.assignToNearest(e.drop("lbl"), cents)
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaRanked = Similarity.rankedNeighborsIvf(emb, col("vec_id"),
      col("embedding"), col("label"), k = 1, nprobe = 1)
    // nprobe=1 scores exactly the rank-1 bucket's candidates; recover
    // each query's probed bucket by joining candidates back to fold
    val probed = viaRanked.select("query_id", "vec_id").collect()
      .map(r => r.getLong(0) -> fold(r.getLong(1))).toMap
    probed.foreach { case (q, b) => assert(b === fold(q), s"query $q") }
  }

  test("mutualNnMargin: mutual pairs only, hand-computed integer margins") {
    import spark.implicits._
    // 1≡2 and 3≡4 (two identical clusters on orthogonal axes); 5 leans
    // toward cluster {3,4} but is nobody's top-1 -> excluded, yet it
    // inflates the neighborhoods it enters:
    //   S1 = S2 = cu(1.0) + cu(0.6) = 16000; S3 = S4 = 10000 + 8000
    //   margin(1,2) = (2·2·10000·10⁴) div 32000 = 12500
    //   margin(3,4) = 4·10⁸ div 36000            = 11111
    val d = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(1.0, 0.0)),
      (3L, Array(0.0, 1.0)), (4L, Array(0.0, 1.0)),
      (5L, Array(0.6, 0.8)))
      .toDF("vec_id", "embedding")
    val got = Similarity.mutualNnMargin(d, col("vec_id"), col("embedding"),
        k = 2).orderBy("vec_a")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq
    assert(got === Seq((1L, 2L, 1.0, 12500L), (3L, 4L, 1.0, 11111L)))
  }

  test("mutualTop1PairsSampled: m >= corpus degenerates to the full exact set") {
    val full = Similarity.mutualTop1Pairs(emb, col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sampled = Similarity.mutualTop1PairsSampled(
        emb, col("vec_id"), col("embedding"), m = 100000, seed = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full.nonEmpty, "fixture corpus must have a mutual pair")
    assert(sampled === full)
  }

  test("mutualTop1PairsSampled equals the full set restricted to sampled pairs") {
    // the audit-scoping contract: each sampled anchor's top-1 runs over
    // the FULL corpus, so sampling restricts WHICH pairs are audited,
    // never what the audit says about them
    val m = 250
    val anchors = Similarity.anchorSampleIds(emb, col("vec_id"), m, seed = 0)
      .collect().map(_.getLong(0)).toSet
    assert(anchors.size === m, "fixture corpus must exceed the sample")
    val full = Similarity.mutualTop1Pairs(emb, col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sampled = Similarity.mutualTop1PairsSampled(
        emb, col("vec_id"), col("embedding"), m = m, seed = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sampled ===
      full.filter(p => anchors.contains(p._1) && anchors.contains(p._2)))
  }

  test("sampled recall estimate tracks the full audit on the fixture corpus") {
    // the q249 honesty pin: recall over the deterministic half-corpus
    // sample must sit within 1500 bp of the full-audit recall (the
    // sample is unbiased — hash order is independent of geometry; the
    // band is wide because a 500-vector corpus has few mutual pairs)
    def recallBp(ex: org.apache.spark.sql.DataFrame): Long = {
      val iv = Similarity.mutualTop1PairsIvf(
        emb, col("vec_id"), col("embedding"), col("label"), nprobe = 2)
      val r = Similarity.pairRecallScoreboard(ex, iv).collect()(0)
      assert(r.getLong(1) > 0, "ground truth must be non-empty")
      r.getLong(3)
    }
    val full = recallBp(Similarity.mutualTop1Pairs(
      emb, col("vec_id"), col("embedding")))
    val sampled = recallBp(Similarity.mutualTop1PairsSampled(
      emb, col("vec_id"), col("embedding"), m = 250, seed = 0))
    assert(math.abs(sampled - full) <= 1500,
      s"sampled recall $sampled bp drifted from full audit $full bp")
  }

  test("isqrt: exact at perfect-square boundaries, no libm leakage, no overflow") {
    import graft.functions.IntMath.isqrt
    assert(isqrt(0L) === 0L && isqrt(1L) === 1L && isqrt(3L) === 1L)
    assert(isqrt(4L) === 2L && isqrt(15L) === 3L && isqrt(16L) === 4L)
    assert(isqrt(999999L) === 999L && isqrt(1000000L) === 1000L)
    assert(isqrt(Long.MaxValue) === 3037000499L)
    // exhaustive boundary sweep around every square up to 2000²
    (1L to 2000L).foreach { s =>
      assert(isqrt(s * s) === s && isqrt(s * s - 1) === s - 1)
    }
  }

  test("kmeansBuckets: C-derivation rule, deterministic assignment, label range") {
    // fixture corpus n = 500 -> C = max(10, isqrt(500)) = 22
    val idx = Similarity.kmeansBuckets(
      emb, col("vec_id"), col("embedding"), rounds = 2)
    val n = idx.count()
    assert(n === 500)
    val buckets = idx.select("bucket").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(buckets.forall(b => b >= 0 && b < 22),
      s"bucket labels must be seed ranks in [0, C): $buckets")
    assert(buckets.size > 10,
      "corpus-scaled C must actually spread beyond the fixture's 10 labels")
    // determinism: a second build is row-identical
    val again = Similarity.kmeansBuckets(
        emb, col("vec_id"), col("embedding"), rounds = 2)
      .select("vec_id", "bucket").collect().map(r =>
        (r.getLong(0), r.getLong(1))).toSet
    val first = idx.select("vec_id", "bucket").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSet
    assert(again === first)
    // minC floor engages when isqrt(n) < minC
    val small = emb.limit(50)
    val idxS = Similarity.kmeansBuckets(
      small, col("vec_id"), col("embedding"), rounds = 1, minC = 10)
    assert(idxS.select("bucket").distinct().count() <= 10)
  }

  test("kmeansBuckets: a converged assignment is a fixed point of reassignment") {
    // run enough rounds to converge on the fixture, then verify
    // moved = 0 everywhere — i.e. the bucket column IS the nearest-
    // centroid assignment of its own per-bucket centroids, which is
    // exactly the property rankedNeighborsIvf relies on when it
    // re-derives the quantizer from the passed label column
    val idx = Similarity.kmeansBuckets(
      emb, col("vec_id"), col("embedding"), rounds = 12)
    val movedCnt = idx.filter(col("moved")).count()
    assert(movedCnt === 0L,
      s"fixture corpus should converge within 12 rounds ($movedCnt still moving)")
  }

  test("kmeansBuckets: sampled refinement trains on the hash-gated set, assigns the full corpus") {
    import graft.functions.TextFunctions
    val idx = Similarity.kmeansBuckets(
      emb, col("vec_id"), col("embedding"), rounds = 2,
      buildSamplePerMille = 500)
    // full-corpus coverage and full-corpus C (isqrt(500) = 22), even
    // though seeding + refinement only saw the ~half train set
    assert(idx.count() === 500,
      "sampled build must still assign the FULL corpus")
    assert(idx.select("bucket").distinct().collect()
      .map(_.getLong(0)).forall(b => b >= 0 && b < 22),
      "bucket labels must stay seed ranks in [0, C_full)")
    // the centroid chain is a pure function of the train set: the
    // full (unsampled) build run ON the train set — with C pinned to
    // the full-corpus C — must agree bucket-for-bucket on train rows
    val train = emb.filter(TextFunctions
      .hash60(col("vec_id").cast("string"), 0) % 1000 < 500)
    val ref = Similarity.kmeansBuckets(
      train, col("vec_id"), col("embedding"), rounds = 2, minC = 22)
    val got = idx.join(train.select("vec_id"), "vec_id")
      .select("vec_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = ref.select("vec_id", "bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === want,
      "train-restricted sampled build must equal the full build on the train set")
  }

  test("halfCentroidDrift: per-dim means by id parity, orthogonal means -> 0 bp") {
    import spark.implicits._
    val d = Seq(
      (0L, Array(1.0, 0.0)), (2L, Array(3.0, 0.0)),  // half 0: mean (2, 0)
      (1L, Array(0.0, 2.0)), (3L, Array(0.0, 2.0)))  // half 1: mean (0, 2)
      .toDF("vec_id", "embedding")
    val got = Similarity.halfCentroidDrift(d, col("vec_id"),
        col("embedding")).orderBy("dim").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got === Seq((1, 2.0, 0.0, 2000000L, 0L),
      (2, 0.0, 2.0, 2000000L, 0L)))
  }

  test("hardNegatives: rank-2 negative per mutual anchor, exact gaps") {
    import spark.implicits._
    val d = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(1.0, 0.0)),
      (3L, Array(0.0, 1.0)), (4L, Array(0.0, 1.0)),
      (5L, Array(0.6, 0.8)))
      .toDF("vec_id", "embedding")
    val got = Similarity.hardNegatives(d, col("vec_id"), col("embedding"))
      .orderBy("anchor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getLong(5))).toSeq
    // v5 anchors nothing (not mutual); its cosine to each cluster is
    // the hard negative score for that cluster's anchors
    assert(got === Seq(
      (1L, 2L, 5L, 1.0, 0.6, 4000L), (2L, 1L, 5L, 1.0, 0.6, 4000L),
      (3L, 4L, 5L, 1.0, 0.8, 2000L), (4L, 3L, 5L, 1.0, 0.8, 2000L)))
  }

  test("ndcgLabelGraded: hand-computed graded DCG with exact integer discounts") {
    import spark.implicits._
    // query (1,0) label 5; cosine ranks: c3 (identical dir, label 9,
    // gain 0) > c1 (label 5, gain 2) > c2 (label 6, gain 1).
    // dcg  = 0·(27720/2) + 2·(27720/3) + 1·(27720/4)
    //      = 2·9240 + 6930 = 25410
    // idcg = 2·13860 + 1·9240 + 0 = 36960
    // ndcg_bp = 10⁴·25410 div 36960 = 6875 exactly
    val corpus = Seq(
      (1L, Array(0.8, 0.6), 5),
      (2L, Array(0.6, 0.8), 6),
      (3L, Array(1.0, 0.0), 9))
      .toDF("vec_id", "embedding", "label")
    val queries = Seq((100L, Array(1.0, 0.0), 5))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.ndcgLabelGraded(corpus,
        col("vec_id"), col("embedding"), col("label"),
        queries, col("vec_id"), col("embedding"), col("label"), k = 3)
      .collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getLong(3)) === ((100L, 25410L, 36960L, 6875L)))
  }

  test("ndcgLabelGraded: all-zero gains yield idcg 0 and ndcg 0, not a crash") {
    import spark.implicits._
    val corpus = Seq((1L, Array(1.0, 0.0), 50))
      .toDF("vec_id", "embedding", "label")
    val queries = Seq((2L, Array(1.0, 0.0), 5))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.ndcgLabelGraded(corpus,
        col("vec_id"), col("embedding"), col("label"),
        queries, col("vec_id"), col("embedding"), col("label"), k = 3)
      .collect().head
    assert((got.getLong(1), got.getLong(2), got.getLong(3))
      === ((0L, 0L, 0L)))
  }

  test("matryoshkaRecall: truncation flips the ranking, overlap counted exactly") {
    import spark.implicits._
    // q = (1,0,0,0). Full cosines: c1 0.6, c2 0.8, c3 ≈ 0.287
    // → full top-2 {2, 1}. First-2-dim cosines: c1 0.6, c2 0.8,
    // c3 1.0 → truncated top-2 {3, 2}. Overlap {2} → recall@2 = 5000.
    val corpus = Seq(
      (1L, Array(0.6, 0.8, 0.0, 0.0)),
      (2L, Array(0.8, 0.6, 0.0, 0.0)),
      (3L, Array(0.9, 0.0, 0.0, 3.0)))
      .toDF("vec_id", "embedding")
    val queries = Seq((50L, Array(1.0, 0.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.matryoshkaRecall(corpus,
        col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"),
        dimsList = Seq(2), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got === Seq((50L, 2L, 5000L)))
  }

  test("maxSimTopK: each query chunk matches its best document chunk independently") {
    import spark.implicits._
    // q = [(1,0), (0,1)] as two 2-dim chunks. Doc 1 holds both aspects
    // (maxsim 10000+10000), doc 2 only the second (0+10000) — the
    // aggregate cosine of doc 2 with q is 0.5·√2 ≈ 0.707 on BOTH docs'
    // full vectors, which is exactly what MaxSim disambiguates.
    val corpus = Seq(
      (1L, Array(1.0, 0.0, 0.0, 1.0)),
      (2L, Array(0.0, 1.0, 0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val queries = Seq((9L, Array(1.0, 0.0, 0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.maxSimTopK(corpus,
        col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"),
        chunks = 2, subDim = 2, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got === Seq((9L, 1L, 20000L), (9L, 2L, 10000L)))
  }

  test("ivfInsertAudit: membership conserved, delta buckets subset of built, flag fires on share") {
    val g = graft.functions.TextFunctions
      .hash60(col("vec_id").cast("string"), 0) % 10
    val base = emb.filter(g < 8)
    val delta = emb.filter(g >= 8)
    val (nb, nd) = (base.count(), delta.count())
    val audit = Similarity.ivfInsertAudit(base, delta,
      col("vec_id"), col("embedding"), rounds = 2, flagBp = 3000L)
    val rows = audit.collect()
    // every base vector lands in exactly one bucket; every delta too
    assert(rows.map(_.getLong(1)).sum === nb, "n_base conserved")
    assert(rows.map(_.getLong(2)).sum === nd,
      "n_delta conserved — delta can only land in built buckets")
    // share/flag arithmetic: integer bp, flag iff share >= 3000
    rows.foreach { r =>
      val (b, d, share, flag) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(share === (10000 * d) / (b + d))
      assert(flag === (if (share >= 3000L) 1L else 0L))
    }
  }

  test("ivfInsertAudit: empty delta reports zero shares and no rebuild flags") {
    val audit = Similarity.ivfInsertAudit(
      emb, emb.limit(0), col("vec_id"), col("embedding"),
      rounds = 1, flagBp = 3000L)
    val rows = audit.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(2) == 0L && r.getLong(3) == 0L
      && r.getLong(4) == 0L))
  }

  test("ivfBucketSplit: membership conserved, children partition flagged parents, unflagged untouched") {
    val g = graft.functions.TextFunctions
      .hash60(col("vec_id").cast("string"), 0) % 10
    val base = emb.filter(g < 8)
    val delta = emb.filter(g >= 8)
    val total = base.count() + delta.count()
    val audit = Similarity.ivfInsertAudit(base, delta,
        col("vec_id"), col("embedding"), rounds = 2, flagBp = 2500L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1) + r.getLong(2),
        r.getLong(4))).toMap
    val rows = Similarity.ivfBucketSplit(base, delta,
        col("vec_id"), col("embedding"), rounds = 2, flagBp = 2500L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._3).sum === total, "membership conserved")
    val maxParent = audit.keys.max
    rows.foreach { case (bucket, parent, _, split) =>
      if (split == 0L) {
        assert(bucket === parent, "unflagged rows must pass through")
        assert(audit(parent)._2 === 0L, "pass-through row was flagged")
      } else {
        assert(bucket === parent || bucket > maxParent,
          s"split child $bucket neither keeps $parent nor takes a fresh label")
      }
    }
    // each flagged parent's children sum to its audited membership
    rows.filter(_._4 == 1L).groupBy(_._2).foreach { case (parent, kids) =>
      assert(kids.map(_._3).sum === audit(parent)._1,
        s"children of $parent lost members")
    }
    assert(rows.exists(_._4 == 1L), "fixture must exercise the split path")
  }

  test("ivfBucketSplit: an impossible threshold splits nothing") {
    val g = graft.functions.TextFunctions
      .hash60(col("vec_id").cast("string"), 0) % 10
    val rows = Similarity.ivfBucketSplit(
        emb.filter(g < 8), emb.filter(g >= 8),
        col("vec_id"), col("embedding"), rounds = 1, flagBp = 10000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (b, p, s) => b == p && s == 0L },
      "flagBp=10000 must pass every bucket through")
  }

  test("ivfInsertAudit: a delta copy of a base vector joins its bucket") {
    import spark.implicits._
    val base = emb.limit(200).cache()
    // delta = exact copies of two base vectors under fresh ids; the
    // frozen-quantizer assignment must agree with the base bucket
    val picks = base.orderBy("vec_id").limit(2).collect()
    val delta = picks.map(r => (r.getLong(0) + 1000000L,
        r.getAs[Seq[Float]]("embedding").toArray))
      .toSeq.toDF("vec_id", "embedding")
    val idx = Similarity.kmeansBuckets(
      base, col("vec_id"), col("embedding"), rounds = 2)
    val baseBuckets = idx.filter(
        col("vec_id").isin(picks.map(_.getLong(0)): _*))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val audit = Similarity.ivfInsertAudit(base, delta,
      col("vec_id"), col("embedding"), rounds = 2, flagBp = 3000L)
    // the two delta rows land in the SAME buckets their twins hold
    val deltaByBucket = audit.filter(col("n_delta") > 0)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    baseBuckets.values.foreach { bkt =>
      assert(deltaByBucket.contains(bkt),
        s"delta copy must land in its twin's bucket $bkt")
    }
    assert(deltaByBucket.values.sum === 2L)
    base.unpersist()
  }

  test("mutualNnMarginIvfSampled: m >= corpus degenerates to the full pass; " +
      "m < corpus equals the full pass restricted to sampled-endpoint pairs") {
    val idx = Similarity.kmeansBuckets(
        emb, col("vec_id"), col("embedding"), rounds = 2)
      .localCheckpoint(eager = true)
    val full = Similarity.mutualNnMarginIvf(idx,
        col("vec_id"), col("v"), col("bucket"), k = 4, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val degenerate = Similarity.mutualNnMarginIvfSampled(idx,
        col("vec_id"), col("v"), col("bucket"), k = 4, nprobe = 2,
        m = 1000000, seed = 11)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(degenerate === full, "m >= corpus must equal the full pass")
    val anchors = Similarity.anchorSampleIds(
        idx.select("vec_id"), col("vec_id"), m = 200, seed = 11)
      .collect().map(_.getLong(0)).toSet
    val sampled = Similarity.mutualNnMarginIvfSampled(idx,
        col("vec_id"), col("v"), col("bucket"), k = 4, nprobe = 2,
        m = 200, seed = 11)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val restricted = full.filter(p =>
      anchors.contains(p._1) && anchors.contains(p._2))
    assert(sampled === restricted,
      "sampled mining must equal the full pass restricted to pairs " +
        "with both endpoints sampled (index side stays full-corpus)")
    assert(sampled.size < full.size,
      "the m=200 sample must actually cut the pair set on this fixture")
  }

  test("hardNegativesIvfSampled: m >= corpus degenerates to the full pass; " +
      "sampled triplets = full triplets with both mutual endpoints sampled") {
    val idx = Similarity.kmeansBuckets(
        emb, col("vec_id"), col("embedding"), rounds = 2)
      .localCheckpoint(eager = true)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(5))
    val full = Similarity.hardNegativesIvf(idx,
        col("vec_id"), col("v"), col("bucket"), nprobe = 2)
      .collect().map(key).toSet
    val degenerate = Similarity.hardNegativesIvfSampled(idx,
        col("vec_id"), col("v"), col("bucket"), nprobe = 2,
        m = 1000000, seed = 11)
      .collect().map(key).toSet
    assert(degenerate === full, "m >= corpus must equal the full pass")
    val anchors = Similarity.anchorSampleIds(
        idx.select("vec_id"), col("vec_id"), m = 200, seed = 11)
      .collect().map(_.getLong(0)).toSet
    val sampled = Similarity.hardNegativesIvfSampled(idx,
        col("vec_id"), col("v"), col("bucket"), nprobe = 2,
        m = 200, seed = 11)
      .collect().map(key).toSet
    val restricted = full.filter(t =>
      anchors.contains(t._1) && anchors.contains(t._2))
    assert(sampled === restricted,
      "sampled triplets must equal the full pass restricted to " +
        "mutual pairs with both endpoints sampled (negatives are " +
        "unrestricted corpus vectors by construction)")
  }

  test("int8 mining path: exact on integer-valued vectors, deterministic " +
      "and bucket-identical on the real corpus") {
    import spark.implicits._
    // vectors whose components are already int8 with max |x| = 127:
    // quantizeInt8 maps them to themselves (scale = 1), so ByteCosine
    // must reproduce the double path EXACTLY — the bit-identical
    // bargain the q84 oracle relies on, pinned here for the mining
    // composition
    val rng = new scala.util.Random(7)
    val ints = (0L until 60L).map { i =>
      val v = Array.fill(8)((rng.nextInt(200) - 100))
      v(rng.nextInt(8)) = if (rng.nextBoolean()) 127 else -127
      (i, v.map(_.toDouble))
    }.toDF("vec_id", "embedding")
    val idx = Similarity.kmeansBuckets(
        ints, col("vec_id"), col("embedding"), rounds = 1)
      .localCheckpoint(eager = true)
    def run(int8: Boolean) = Similarity.mutualNnMarginIvfSampled(idx,
        col("vec_id"), col("v"), col("bucket"), k = 3, nprobe = 2,
        m = 1000, seed = 0, int8 = int8)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3))).toSet
    assert(run(int8 = true) === run(int8 = false),
      "byte-domain scoring must be bit-identical to double scoring " +
        "over integer-valued max-127 vectors")
    // on the real (non-integer) corpus: deterministic, and the pair
    // ids come from the same bucket structure (assignment is exact on
    // both paths — only SCORES quantize)
    val idxE = Similarity.kmeansBuckets(
        emb, col("vec_id"), col("embedding"), rounds = 2)
      .localCheckpoint(eager = true)
    val a = Similarity.mutualNnMarginIvfSampled(idxE, col("vec_id"),
        col("v"), col("bucket"), k = 4, nprobe = 2, m = 200, seed = 11,
        int8 = true).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Similarity.mutualNnMarginIvfSampled(idxE, col("vec_id"),
        col("v"), col("bucket"), k = 4, nprobe = 2, m = 200, seed = 11,
        int8 = true).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b, "int8 mining must be deterministic across runs")
  }

  test("kmeansBucketsCapped: skewed fixture — cap splits the megabucket, " +
      "membership conserved, unflagged untouched") {
    import spark.implicits._
    // 70 members of one dominant direction with a deterministic
    // per-id spread in dim1 (pairwise-distinct 4dp cosines — no split
    // ties) + 30 spread vectors: Lloyd packs the family into a few
    // oversize buckets that a 5/4 cap must split (simulated
    // exhaustively off-line: 4 flagged buckets, every one splitting
    // into two non-empty children)
    val rows = (0L until 100L).map { i =>
      val v = new Array[Double](8)
      if (i < 70L) { v(0) = 100.0; v(1) = 3.0 * (i % 40).toDouble }
      else { v((i % 7 + 1).toInt) = 50.0; v(0) = (i % 5).toDouble }
      (i, v)
    }.toDF("vec_id", "embedding")
    val plain = Similarity.kmeansBuckets(rows,
        col("vec_id"), col("embedding"), rounds = 2)
      .select("vec_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = plain.size.toLong
    val c = math.max(10L, graft.functions.IntMath.isqrt(n))
    val sizes = plain.groupBy(_._2).map { case (b, m) => b -> m.size.toLong }
    val over = sizes.filter { case (_, sz) => sz * 4 * c > 5 * n }.keySet
    assert(over.nonEmpty, "fixture must actually produce an oversize bucket")
    val capped = Similarity.kmeansBucketsCapped(rows,
        col("vec_id"), col("embedding"), rounds = 2,
        capNum = 5, capDen = 4)
      .select("vec_id", "bucket", "parent", "was_split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // membership conserved row-for-row
    assert(capped.map(_._1).toSet === plain.keySet)
    assert(capped.length === plain.size)
    // every flagged parent split into exactly two non-empty children;
    // children partition the parent's membership
    over.foreach { parent =>
      val kids = capped.filter(_._3 == parent)
      assert(kids.forall(_._4 == 1L), "split rows must carry was_split=1")
      val childBuckets = kids.map(_._2).toSet
      assert(childBuckets.size === 2,
        s"parent $parent must split into exactly two children")
      assert(kids.map(_._1).toSet ===
        plain.filter(_._2 == parent).keySet,
        "children must partition the parent's membership exactly")
    }
    // unflagged rows pass through with their Lloyd bucket untouched
    capped.filter(_._4 == 0L).foreach { case (id, b, p, _) =>
      assert(b === p && plain(id) === b,
        "pass-through rows must keep bucket = parent = Lloyd label")
    }
  }

  test("ivfLifecycleServe: empty delta degenerates to fresh == lifecycle") {
    // with no delta there is no drift, no flagged bucket, no split —
    // the lifecycle index IS the fresh build, so the two serves must
    // agree exactly: n_common == n_lifecycle == n_fresh on every anchor
    val base = emb.limit(200)
    val delta = emb.filter(lit(false))
    val out = Similarity.ivfLifecycleServe(base, delta,
        col("vec_id"), col("embedding"), rounds = 2, flagBp = 2500L,
        m = 6, seed = 13, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.length === 6)
    out.foreach { case (a, nl, nf, nc) =>
      assert(nl === nf && nc === nl,
        s"anchor $a: no-drift lifecycle serve must equal the fresh serve")
      assert(nl === 5L, s"anchor $a: serve must fill k=5 on this corpus")
    }
  }
}
