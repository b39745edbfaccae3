package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins the integer-PageRank fixed-point program on hand-computed
  * graphs (the oracle gate covers q180 end-to-end; cross-engine
  * equality is only meaningful if the program itself is the intended
  * one).
  */
class GraphSpec extends SparkSpec {

  private def edgesOf(pairs: (Long, Long)*) = {
    import spark.implicits._
    // symmetric + degree, the coOccurrenceEdges output shape
    val sym = pairs ++ pairs.map { case (u, v) => (v, u) }
    val deg = sym.groupBy(_._1).view.mapValues(_.size).toMap
    sym.map { case (u, v) => (u, v, deg(u).toLong) }.toDF("u", "v", "du")
  }

  test("coOccurrenceEdges: distinct pairs within group, symmetric, with degree") {
    import spark.implicits._
    val df = Seq((1L, 10L), (1L, 20L), (1L, 20L), (2L, 10L), (2L, 30L))
      .toDF("gk", "it")
    val got = Graph.coOccurrenceEdges(df, col("gk"), col("it"))
      .orderBy("u", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // groups: {10,20} and {10,30} -> undirected edges (10,20),(10,30)
    assert(got === Seq((10L, 20L, 2L), (10L, 30L, 2L),
      (20L, 10L, 1L), (30L, 10L, 1L)))
  }

  test("pageRankInt: triangle converges symmetrically, exact integer values") {
    // triangle: all degrees 2, n=3, init=333333333, tele=49999999
    // iter1: contrib=166666666, in=333333332, s=49999999+283333332=333333331
    // iter2: s=49999999+(85*333333330) div 100=333333329
    // iter3: in=333333328 -> s=49999999+283333328=333333327
    val got = Graph.pageRankInt(
      edgesOf((1L, 2L), (1L, 3L), (2L, 3L)), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 333333327L, 2L -> 333333327L,
      3L -> 333333327L))
  }

  test("pageRankInt: path graph ranks the hub above the leaves, exactly") {
    // path 1-2-3: deg(1)=deg(3)=1, deg(2)=2
    // iter1: c1=c3=333333333, c2=166666666
    //   in(1)=in(3)=166666666 -> s=49999999+141666666=191666665
    //   in(2)=666666666 -> s=49999999+566666666=616666665
    val got = Graph.pageRankInt(edgesOf((1L, 2L), (2L, 3L)), iters = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 191666665L, 2L -> 616666665L,
      3L -> 191666665L))
    assert(got(2L) > got(1L), "hub outranks leaves")
  }

  test("plan probe: one unmaterialized round plan per pageRankInt round, only when set") {
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(scratch("graph_plan_probe"))
    val edges = edgesOf((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    def written = Option(dir.toFile.list()).fold(Set.empty[String])(_.toSet)
    sys.props("graft.plan.probe.dir") = dir.toString
    try {
      Graph.pageRankInt(edges, iters = 2).collect()
      assert(written === Set("q180_pagerank_copurchase_round1.txt",
        "q180_pagerank_copurchase_round2.txt"))
      written.foreach { f =>
        val plan = Files.readString(dir.resolve(f))
        // the round BODY, not the checkpoint scan it materializes into
        assert(plan.contains("Join"), s"$f holds no join:\n$plan")
      }
      written.foreach(f => Files.delete(dir.resolve(f)))
    } finally sys.props.remove("graft.plan.probe.dir")
    Graph.pageRankInt(edges, iters = 2).collect()
    assert(written.isEmpty, "the probe wrote while its property was unset")
  }

  test("triangleStats: K4 has 4 triangles, 12 wedges, clustering 10000") {
    // K4: every pair adjacent -> C(4,3)=4 triangles; wedges = 4*C(3,2)=12;
    // clustering = 3*4/12 = 1.0 -> 10000 bp
    val k4 = for (i <- 1L to 4L; j <- 1L to 4L if i < j) yield (i, j)
    val got = Graph.triangleStats(edgesOf(k4: _*), maxDeg = 10).collect().head
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4)) === ((4L, 6L, 12L, 4L, 10000L)))
  }

  test("triangleStats: hub pruning removes the hub's triangles only") {
    // triangle 1-2-3 plus hub 9 connected to all of 1,2,3 (deg 3);
    // with maxDeg=2 the hub drops, leaving exactly the base triangle
    val got = Graph.triangleStats(
      edgesOf((1L, 2L), (1L, 3L), (2L, 3L), (9L, 1L), (9L, 2L), (9L, 3L)),
      maxDeg = 2).collect().head
    assert(got.getLong(3) === 0L,
      "nodes 1,2,3 have degree 3 with the hub attached -> all pruned")
    val keepAll = Graph.triangleStats(
      edgesOf((1L, 2L), (1L, 3L), (2L, 3L), (9L, 1L), (9L, 2L), (9L, 3L)),
      maxDeg = 3).collect().head
    assert(keepAll.getLong(3) === 4L, "K4 shape: 4 triangles with the hub")
  }

  test("degreeDistribution: star graph bins by bitlen, slope exactly -1") {
    // S4 star: center degree 4 (bucket 3 = [4,7]), 4 leaves degree 1
    // (bucket 1 = [1,1]); log-log points (1, bitlen(4)=3), (3, bitlen(1)=1)
    // -> slope exactly -1 -> -10000 bp
    val got = Graph.degreeDistribution(
      edgesOf((9L, 1L), (9L, 2L), (9L, 3L), (9L, 4L)))
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(6))).toSeq
    assert(got === Seq((1L, 1L, 1L, 4L, -10000L),
      (3L, 4L, 7L, 1L, -10000L)))
  }

  test("personalizedPageRankInt: path graph, hand-computed seed proximity") {
    // path 1-2-3, seed = 1. iter1: only the seed contributes ->
    // s(2) = (85*1e9) div 100 = 850000000, s(3) = 0.
    val one = Graph.personalizedPageRankInt(
      edgesOf((1L, 2L), (2L, 3L)), iters = 1, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(one === Seq((2L, 850000000L)))
    // iter2: 2 splits 850000000 across 1 and 3 (div 2 = 425000000);
    // seed restarts feed 2 -> s(2) = (85*150000000) div 100,
    // s(3) = (85*425000000) div 100 — proximity ranking flips to 3
    val two = Graph.personalizedPageRankInt(
      edgesOf((1L, 2L), (2L, 3L)), iters = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(two === Seq((3L, 361250000L), (2L, 127500000L)))
  }

  test("kHopFrontiers: path graph expands one node per hop from min seed") {
    val got = Graph.kHopFrontiers(
      edgesOf((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)), hops = 3)
      .orderBy("hop").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 1L, 2L), (2L, 1L, 3L), (3L, 1L, 4L)))
  }

  test("kHopFrontiers: exhausted graph reports empty frontiers, stable cumulative") {
    val got = Graph.kHopFrontiers(edgesOf((1L, 2L)), hops = 3)
      .orderBy("hop").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 1L, 2L), (2L, 0L, 2L), (3L, 0L, 2L)))
  }

  test("triangleStats: triangle-free bipartite graph counts zero") {
    // C4 cycle: 4 wedges, 0 triangles, clustering 0
    val got = Graph.triangleStats(
      edgesOf((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)), maxDeg = 10)
      .collect().head
    assert((got.getLong(2), got.getLong(3), got.getLong(4)) === ((4L, 0L, 0L)))
  }

  test("labelPropagationCommunities: two disjoint triangles collapse to their min ids") {
    // Round 1 (all labels distinct) is min-neighbor propagation:
    // 1→2, 2→1, 3→1. Round 2: node 1 sees {1,1} → 1; nodes 2,3 see
    // {2,1} → tie broken to 1. Both triangles land on their min id.
    val got = Graph.labelPropagationCommunities(
      edgesOf((1L, 2L), (1L, 3L), (2L, 3L),
        (4L, 5L), (4L, 6L), (5L, 6L)), rounds = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 3L), (4L, 3L)))
  }

  test("labelPropagationCommunities: a leaf keeps chasing its hub's stale label") {
    // Star 1-{2,3,4} plus edge 2-3. Round 1 (min-neighbor): 1→2,
    // 2→1, 3→1, 4→1. Round 2: node 1 sees {1,1,1} → 1; nodes 2,3
    // see {2,1} → tie → 1; but leaf 4's ONLY neighbor is hub 1,
    // whose round-1 label is 2 — synchronous update hands it 2.
    val got = Graph.labelPropagationCommunities(
      edgesOf((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L)), rounds = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 3L), (2L, 1L)))
  }

  test("kCorePeel: fixed k=3 keeps the 4-clique, drops the pendant, then stabilizes") {
    // 4-clique {1,2,3,4} + pendant 5-1: degrees 4,3,3,3,1.
    // Round 1 at k=3 drops node 5 → 4 nodes, 6 clique edges; rounds
    // 2-3 are stable (all degrees 3 ≥ k).
    val got = Graph.kCorePeel(
      edgesOf((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
        (3L, 4L), (1L, 5L)), rounds = 3, kFixed = Some(3L))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === Seq((1L, 3L, 4L, 6L), (2L, 3L, 4L, 6L),
      (3L, 3L, 4L, 6L)))
  }

  test("kCorePeel: cascade — peeling a chain empties it") {
    // Path 1-2-3-4: degrees 1,2,2,1. k=2 drops the endpoints round 1
    // (interior keeps the 2-3 edge), halves again round 2, empty by
    // round 3.
    val got = Graph.kCorePeel(
      edgesOf((1L, 2L), (2L, 3L), (3L, 4L)), rounds = 3,
      kFixed = Some(2L))
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    assert(got === Seq((1L, 2L, 1L), (2L, 0L, 0L), (3L, 0L, 0L)))
  }

  test("connectedComponentsInt: two components converge to min labels, changed=0") {
    // components {1,2,3} (path) and {5,6}: diameter 2, so 3 rounds
    // converge with a clean final round
    val got = Graph.connectedComponentsInt(
      edgesOf((1L, 2L), (2L, 3L), (5L, 6L)), rounds = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got === Seq((1L, 1L, 0L), (2L, 1L, 0L), (3L, 1L, 0L),
      (5L, 5L, 0L), (6L, 5L, 0L)))
  }

  test("connectedComponentsInt: one round on a path reports the moved frontier") {
    // path 1-2-3-4, one round of neighbor-min: lbl(2)=1, lbl(3)=2,
    // lbl(4)=3 — three labels moved in the (only = final) round
    val got = Graph.connectedComponentsInt(
      edgesOf((1L, 2L), (2L, 3L), (3L, 4L)), rounds = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got === Seq((1L, 1L, 0L), (2L, 1L, 1L), (3L, 2L, 1L),
      (4L, 3L, 1L)))
  }

  test("connectedComponentsInt: labels equal the union-find clusters once converged") {
    // the distributed rounds land on the same (node -> min member)
    // map the driver-side union-find produces (Dedup.dupClusters'
    // local strategy) — the q259/q260 cross-strategy contract
    import org.apache.spark.sql.functions.col
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L))
    val cc = Graph.connectedComponentsInt(edgesOf(pairs: _*), rounds = 4)
      .select(col("node"), col("component")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    import spark.implicits._
    val uf = Dedup.dupClusters(pairs.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === uf)
  }
}
