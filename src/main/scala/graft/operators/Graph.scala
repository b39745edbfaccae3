package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph centrality over relational co-occurrence graphs, in EXACT
  * integer arithmetic so an independent engine replays every score
  * bit-for-bit (the same no-libm contract as q94/q100/q148).
  *
  * Reference analogue: none — extension in the analytics pack, the
  * "which items anchor the catalog" ranking a recommendation/curation
  * pipeline derives from co-engagement.
  */
object Graph {

  /** Co-occurrence edges: distinct undirected item pairs sharing a
    * group (e.g. parts sharing an order). Output one row per ordered
    * direction (u, v) plus each source's out-degree — the shape the
    * propagation loop consumes.
    *
    * Scale shape: pair enumeration is the ARRAY FAN-OUT — collect_set
    * per group (dedups inside the agg state, no separate distinct
    * pass), sort_array for determinism, then the codegen'd
    * transform/slice explode of the C(n,2) pairs (functions/
    * ArrayPairs): ONE shuffle on the
    * group key where the basket-keyed self-join paid shuffle + join +
    * dedup (measured 8.1 s → 3.3 s on the sf0.1 co-purchase graph —
    * the q218 frequent-triples lesson applied at the source). Fan-out
    * per group is bounded by the group size (orders hold single-digit
    * lineitems; a 100 TB feed with pathological groups would cap or
    * sample groups first — loud contract, same family as every dedup
    * maxDf). Distinct-edges and degree are each one hash shuffle on
    * the edge/node key.
    */
  def coOccurrenceEdges(df: DataFrame, group: Column, item: Column): DataFrame = {
    val sym = coOccurrenceEdgesUV(df, group, item)
    val deg = sym.groupBy("u").agg(count(lit(1)).as("du"))
    sym.join(deg, "u")
  }

  /** The (u, v)-only form of [[coOccurrenceEdges]]: symmetrized
    * distinct co-occurrence pairs WITHOUT the out-degree aggregation
    * and its node-keyed join. The propagation operators that never
    * read `du` (kHopFrontiers, labelPropagationCommunities, kCorePeel,
    * connectedComponentsInt — each recomputes whatever degree notion
    * it needs, or none) were paying a full |2m|-row count aggregation
    * plus a join per query for a column Catalyst cannot prove unused
    * through their loops (r14 guide §2.4: don't compute what you
    * throw away; the join survives column pruning because join
    * elimination is not a thing Spark does).
    */
  def coOccurrenceEdgesUV(df: DataFrame, group: Column, item: Column): DataFrame = {
    val arr = df.select(group.as("gk"), item.as("it"))
      .groupBy("gk").agg(sort_array(collect_set(col("it"))).as("a"))
      .filter(size(col("a")) >= 2)
    // The distinct pair table feeds BOTH union branches of the
    // symmetrization (and, in the degreed form, the degree aggregate)
    // — cache it so the build runs once, not per consumer.
    val pairs = arr
      .select(explode(graft.functions.ArrayPairs.pairs(col("a"))).as("p"))
      .select(col("p.u"), col("p.v"))
      .distinct()
      .cache()
    pairs.unionAll(pairs.select(col("v").as("u"), col("u").as("v")))
  }

  /** PERSONALIZED PageRank from the deterministic min-id seed — the
    * co-occurrence recommender: random walks restart at ONE node, so
    * scores rank items by proximity to the seed (contrast
    * [[pageRankInt]]'s global centrality). Same exact-integer program
    * (scores ×1e9, damping 85/100, integral divisions, per-superstep
    * caching); the teleport term lands only on the seed. On a symmetric
    * graph every node has in-edges, so the iteration join stays inner;
    * nodes beyond `iters` hops hold score 0 and are filtered — the
    * result is exactly the seed's `iters`-hop neighborhood, ranked.
    *
    * Output: top-`k` (node, ppr) excluding the seed itself.
    */
  def personalizedPageRankInt(edges: DataFrame, iters: Int, k: Int): DataFrame = {
    require(iters >= 1, "personalizedPageRankInt needs iters >= 1")
    val e = edges.select("u", "v", "du")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("u").as("node"), col("du")).distinct()
    // measured-|V| broadcast gate for the loop frames (see `gated`)
    val nNodes = nodes.count()
    val seed = nodes.agg(min("node").as("seed"))
    val init = nodes.crossJoin(broadcast(seed))
      .select(col("node"), col("du"), col("seed"),
        when(col("node") === col("seed"), lit(1000000000L))
          .otherwise(lit(0L)).as("s"))
    Iterate.rounds("q209_personalized_pagerank", iters, init) { score =>
      val contrib = score.filter(col("s") > 0)
        .select(col("node").as("u"), expr("s div du").as("c"))
      val inbound = e.select("u", "v").join(gated(contrib, nNodes), "u")
        .groupBy("v").agg(sum("c").as("inc"))
        .withColumnRenamed("v", "node")
      score.select("node", "du", "seed")
        .join(gated(inbound, nNodes), Seq("node"), "left")
        .withColumn("s",
          when(col("node") === col("seed"), lit(150000000L))
            .otherwise(lit(0L)) +
          expr("(85 * coalesce(inc, CAST(0 AS BIGINT))) div 100"))
        .drop("inc")
    }.last.filter(col("s") > 0 && col("node") =!= col("seed"))
      .select(col("node"), col("s").as("ppr"))
      .orderBy(col("ppr").desc, col("node"))
      .limit(k)
  }

  /** K-hop BFS frontier profile from a deterministic seed (the minimum
    * node id — fixed by contract so both engines expand the same
    * tree): frontier size and cumulative visited count per hop, the
    * "how fast does influence spread" / neighborhood-growth curve that
    * also calibrates whether a k-hop feature join is feasible (a
    * frontier near |V| by hop 2 means it is not).
    *
    * BFS is inherently sequential in hops; each hop's expansion is one
    * keyed join (frontier → neighbors) + one distinct + one anti-join
    * against the visited set, all distributed; only the per-hop SIZE
    * (a scalar) reaches the driver — q193's bounded-driver bargain.
    * Visited/frontier sets are cached; at cluster scale you'd
    * checkpoint them every few hops exactly like the PageRank scores.
    *
    * Output: (hop, frontier_size, cumulative_visited), hop 1..`hops`,
    * cumulative including the seed.
    */
  def kHopFrontiers(edges: DataFrame, hops: Int): DataFrame = {
    require(hops >= 1, "kHopFrontiers needs hops >= 1")
    val spark = edges.sparkSession
    // cached: every hop probes the SAME 2-column edge set; without this
    // the upstream pair build + degree join re-execute per hop
    // (measured 6.6 s -> ~3 s at sf0.1, 3 hops)
    val e = edges.select("u", "v").cache()
    var visited = e.agg(min(col("u")).as("node")).cache()
    var frontier = visited
    var rows = Vector.empty[(Long, Long, Long)]
    var cum = 1L
    for (h <- 1 to hops) {
      val next = e.join(frontier.select(col("node").as("u")), "u")
        .select(col("v").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .cache()
      val size = next.count()
      cum += size
      rows :+= ((h.toLong, size, cum))
      // No distinct on the union (r15, guide §2.4 "a distinct on data
      // that is already unique"): `visited` is distinct by induction
      // and `next` is distinct AND disjoint from it (it was built
      // through `.distinct()` + the left_anti against visited), so the
      // union is already a set — the distinct was one full shuffle of
      // the visited table per hop for nothing.
      visited = visited.unionAll(next).cache()
      frontier = next
    }
    // Hop caches are NOT swept here (r15, measured): each
    // `Dataset.unpersist` is a CacheManager uncacheQuery that
    // re-canonicalizes every registered plan against the target — for
    // the ~9 deep-lineage hop frames the sweep cost 1.5-2.5 s of the
    // query's ~4.5 s (within-session A/B, plans/r15 probe: ~2.2-2.8 s
    // without the sweep vs 2.8-5.4 s with). Release is the CALLER's
    // clearCache — the ngramJaccard/AdmissionGuard rule-5 convention;
    // every harness (Bench, Verify) clears per query. Held until then:
    // `e`, the seed, and each hop's `next` and `visited`.
    import spark.implicits._
    rows.toDF("hop", "frontier_size", "cumulative_visited")
  }

  /** Degree distribution in power-of-two bins with an integer power-law
    * slope probe — the "is this graph scale-free enough to need skew
    * handling" diagnostic a pipeline runs BEFORE choosing between the
    * broadcast/salting strategies (q41) and plain keyed joins. Bins are
    * bitlen(degree) (integer log₂ via the engine-portable
    * length(bin(x)) — q179's trick), counts likewise compressed through
    * bitlen, and the log-log slope comes from
    * [[Stats.trendSlopeByGroup]] — exact rational + sign-safe bp, no
    * libm anywhere.
    *
    * Scale shape: degree table → one projection + one tiny groupBy
    * (≤ 64 bitlen buckets); the slope is an algebraic fold of that
    * bucket table; histogram rows carry the slope as a broadcast
    * constant.
    */
  def degreeDistribution(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("u"), col("du")).distinct()
    val hist = deg
      .select(length(bin(col("du"))).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_nodes"))
    val slope = Stats.trendSlopeByGroup(
        hist.select(lit("all").as("g"), col("bucket").as("x"),
          length(bin(col("n_nodes"))).cast("long").as("y")),
        col("g"), col("x"), col("y"))
      .select(col("slope_num"), col("slope_den"), col("slope_bp"))
    hist
      .select(col("bucket"),
        expr("CAST(shiftleft(1L, CAST(bucket AS INT) - 1) AS BIGINT)").as("lo"),
        expr("CAST(shiftleft(1L, CAST(bucket AS INT)) - 1 AS BIGINT)").as("hi"),
        col("n_nodes"))
      .crossJoin(broadcast(slope))
  }

  /** PageRank over a symmetric edge list, `iters` synchronous
    * iterations, damping 85/100, all in scaled integer arithmetic
    * (scores scaled by 1e9; every division integral, so both engines
    * truncate identically — no float ever enters).
    *
    *   init        = 1e9 div n
    *   contrib(u)  = score(u) div deg(u)
    *   next(v)     = (15·init) div 100 + (85·Σ_in contrib) div 100
    *
    * Integer truncation leaks a few units of mass per node per
    * iteration relative to real-valued PageRank — deliberately: the
    * contract is THIS fixed-point program, replayed exactly, the same
    * bargain as q100's integer BM25. On a symmetric graph every node
    * has in-edges, so no dangling-mass term is needed.
    *
    * Scale shape: each iteration is one join of the score table to the
    * edge list on the source key plus one aggregation keyed on the
    * target — the canonical Pregel step as two exchanges; at cluster
    * scale you'd co-partition edges and scores on the node key once
    * (bucketing) so the join side of every iteration is exchange-free,
    * and checkpoint scores every few iterations to cut the lineage.
    * `edges` is persisted (MEMORY_AND_DISK) for the loop — without it
    * Spark re-runs the upstream pair self-join once per iteration
    * (measured 10 s -> ~3 s at sf0.1 for 3 iterations); at 100 TB the
    * equivalent is materializing the edge list to a bucketed table
    * once, not recomputing it per superstep.
    *
    * Input columns: u, v, du (from `coOccurrenceEdges`).
    * Output: (node, pr) — pr = scaled score after `iters` iterations.
    */
  /** Triangle census + global clustering coefficient in one pass of the
    * degree-ordered COMPACT-FORWARD algorithm (Latapy 2008): each
    * undirected edge is oriented from its lower-rank endpoint to its
    * higher-rank endpoint, rank = (degree, node) lexicographic, so every
    * triangle is enumerated exactly once from its lowest-rank corner and
    * the wedge fan-out per node is bounded by its ORIENTED out-degree —
    * O(m^1.5) total work instead of sum-of-degrees² on power-law graphs,
    * the difference between feasible and not at 100 TB.
    *
    * Hubs with degree > maxDeg are pruned FIRST (induced subgraph on
    * low-degree nodes) — the standard practical bargain for triangle
    * counting on skewed graphs; the cap is a loud contract the oracle
    * replays, same family as every dedup maxDf. Wedge/clustering counts
    * use the INDUCED degrees so numerator and denominator describe the
    * same graph.
    *
    * Ranks pack as du·2³¹ + node (monotone in (du, node)); contract:
    * node ids in [0, 2³¹), degrees < 2³¹ — loud here, checked nowhere
    * cheaper.
    *
    * Scale shape: prune + orient are projections over one degree join;
    * the wedge stage is a self-join keyed on the pivot node with
    * fan-out ≤ oriented out-degree ≤ O(√m); closure is a semi-join
    * keyed on the (x, y) edge pair. Three keyed exchanges total, no
    * driver state, and the final stats collapse to one row via
    * algebraic aggregates.
    *
    * Input: `coOccurrenceEdges` output (u, v, du). Output one row:
    * (n_nodes, n_edges, n_wedges, n_triangles, clustering_bp) with
    * clustering_bp = (3·triangles·10⁴) div wedges (0 when wedge-free).
    */
  def triangleStats(edges: DataFrame, maxDeg: Int): DataFrame = {
    require(maxDeg >= 1, "triangleStats needs maxDeg >= 1")
    val keptNodes = edges.select(col("u").as("node"), col("du")).distinct()
      .filter(col("du") <= maxDeg)
      .select(col("node"),
        (col("du") * lit(2147483648L) + col("node")).as("rank"))
    val und = edges.filter(col("u") < col("v")).select("u", "v")
    val kept = und
      .join(broadcast(keptNodes.select(col("node").as("u"),
        col("rank").as("ra"))), "u")
      .join(broadcast(keptNodes.select(col("node").as("v"),
        col("rank").as("rb"))), "v")
    // ornt feeds three branches (both wedge sides + the closure probe)
    // and kept two (ornt, induced degrees) — cache both or the upstream
    // pair join re-runs per branch.
    kept.cache()
    val ornt = kept.select(
      when(col("ra") < col("rb"), col("u")).otherwise(col("v")).as("a"),
      when(col("ra") < col("rb"), col("v")).otherwise(col("u")).as("b"),
      greatest(col("ra"), col("rb")).as("rank_b")).cache()
    val wedges = ornt.as("e1").join(ornt.as("e2"),
        col("e1.a") === col("e2.a") && col("e1.rank_b") < col("e2.rank_b"))
      .select(col("e1.b").as("x"), col("e2.b").as("y"))
    val closed = wedges.join(
      ornt.select(col("a").as("x"), col("b").as("y")), Seq("x", "y"),
      "left_semi")
    val indDeg = kept.select("u", "v")
      .unionAll(kept.select(col("v").as("u"), col("u").as("v")))
      .groupBy("u").agg(count(lit(1)).as("d"))
    val wedgeCount = indDeg.agg(
      count(lit(1)).as("n_nodes"),
      expr("CAST(sum(d) div 2 AS BIGINT)").as("n_edges"),
      expr("CAST(sum(d * (d - 1) div 2) AS BIGINT)").as("n_wedges"))
    val tri = closed.agg(count(lit(1)).as("n_triangles"))
    wedgeCount.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") === 0, lit(0L))
          .otherwise(expr("(3 * n_triangles * 10000) div n_wedges"))
          .as("clustering_bp"))
  }

  /** The one broadcast ceiling of `gated`, in nodes (~160 MB built). */
  val BroadcastNodeLimit = 10000000L

  /** Broadcast a |V|-row loop frame only when the MEASURED node count
    * fits the broadcast envelope (r15, the q237 dv discipline): the
    * score/label/contribution tables of every propagation loop are one
    * row per node, so an unconditional hint OOMs at 10⁸-10⁹-node scale
    * — but WITHOUT the hint Spark 4.1 plans the per-round probe as a
    * SortMergeJoin even at bench SF (checkpoint stats carryover keeps
    * origin-plan sizes, over the auto threshold; the r15 round-body
    * probes show the SMJ+exchange per round). ≤ 10M nodes broadcasts —
    * the per-round edge-side exchange AND sort disappear; above, the
    * keyed join degrades gracefully. The count is one action over an
    * already-persisted frame.
    */
  private[graft] def gated(df: DataFrame, measuredNodes: Long): DataFrame =
    if (measuredNodes <= BroadcastNodeLimit) broadcast(df) else df

  def pageRankInt(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "pageRankInt needs iters >= 1")
    val e = edges.select("u", "v", "du")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("u").as("node"), col("du")).distinct()
    // node count to the driver (one action on the persisted edges):
    // feeds the SAME init/tele scalars the crossJoin(broadcast(n))
    // computed per-row before (Long./ == div on positives — and n = 0
    // means no rows, so the guard value never reaches one), and gates
    // the loop broadcasts.
    val nNodes = nodes.count()
    val init = if (nNodes == 0) 0L else 1000000000L / nNodes
    val tele = (15L * init) / 100L
    val start = nodes
      .select(col("node"), col("du"),
        lit(init).as("s"), lit(tele).as("tele"))
    // Each superstep's score table (|nodes| rows) is checkpointed by
    // Iterate: without it the lineage of iteration i re-executes
    // iterations 1..i-1 — O(iters²) join work (measured 10.4 s -> ~5 s
    // at sf0.1, 3 iters). The cluster-scale form checkpoints every few
    // supersteps and unpersists the predecessors.
    Iterate.rounds("q180_pagerank_copurchase", iters, start) { score =>
      val contrib = score
        .select(col("node").as("u"), expr("s div du").as("c"))
      val inbound = e.select("u", "v").join(gated(contrib, nNodes), "u")
        .groupBy("v").agg(sum("c").as("inc"))
        .withColumnRenamed("v", "node")
      score.select("node", "du", "tele")
        .join(gated(inbound, nNodes), "node")
        .withColumn("s", expr("tele + (85 * inc) div 100"))
        .drop("inc")
    }.last.select(col("node"), col("s").as("pr"))
  }

  /** Synchronous LABEL PROPAGATION (Raghavan et al. 2007) made
    * deterministic: labels start as node ids; each round every node
    * adopts the most frequent label among its NEIGHBORS, ties broken by
    * the smallest label (the classic random tie-break replaced by a
    * total order so an independent engine replays every round exactly).
    * Round 1 over all-distinct labels degenerates to min-neighbor
    * propagation; round 2 onward the frequency term is live. Output:
    * the top-`k` communities of the final labelling by size.
    *
    * Scale shape: one join + one (node, label) hash agg + one per-node
    * top-1 window per round — all keyed shuffles, nothing driver-side;
    * each round's label table (|nodes| rows) is cached so round i's
    * lineage does not re-run rounds 1..i−1 (the pageRankInt lesson).
    */
  def labelPropagationCommunities(edges: DataFrame, rounds: Int,
                                  k: Int): DataFrame = {
    require(rounds >= 1, "labelPropagationCommunities needs rounds >= 1")
    val e = edges.select("u", "v")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val init = e.select(col("u").as("node")).distinct()
      .withColumn("lbl", col("node"))
    // measured-|V| broadcast gate for the per-round label table (see
    // `gated`): without it the label join sort-merges the cached edge
    // set every round (checkpoint stats carryover defeats the auto
    // threshold)
    val nNodes = init.count()
    Iterate.rounds("q219_label_propagation", rounds, init) { labels =>
      val counted = e
        .join(gated(labels.select(col("node").as("v"), col("lbl")), nNodes),
          "v")
        .groupBy(col("u").as("node"), col("lbl"))
        .agg(count(lit(1)).as("n"))
      // Per-node top-1 stays the row_number window DELIBERATELY (r15
      // measured negative result): a max(struct(n, -lbl, lbl))
      // aggregation — the §2.3 aggregate-before-shuffle rewrite — falls
      // back to SortAggregate in Spark 4.1 (struct max has no hash-agg
      // buffer), adding a sort on BOTH sides of the exchange, while
      // this window form plans as WindowGroupLimit: a rank-limit
      // pushdown that already keeps only each partition's per-node
      // top-1 BEFORE the exchange — the map-side reduction the agg
      // rewrite was chasing, minus the sort-agg fallback. Within-
      // session A/B: agg form 4.9-5.0 s vs window 4.1-6.5 s (noisy,
      // no win); plans/r15/q219_label_propagation_round2.txt vs
      // _roundbody_before.txt shows the SortAggregate fallback.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("node").orderBy(col("n").desc, col("lbl"))
      counted
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("node", "lbl")
    }.last.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).cast("long").as("sz"))
      .orderBy(col("sz").desc, col("community"))
      .limit(k)
  }

  /** K-CORE peeling, `rounds` synchronous rounds at a DATA-RELATIVE
    * threshold: k = the exact 10th-percentile degree (order statistic
    * at ceil(n/10), ties broken by node id — deterministic at every
    * scale, where a fixed k would peel everything at one SF and
    * nothing at another). Each round drops nodes with degree < k and
    * the edges touching them; the output is the per-round (nodes,
    * edges) trajectory plus k — the standard "does a dense core
    * exist" diagnostic over a co-occurrence graph.
    *
    * Scale shape: the peel NEVER touches the edge set after the one
    * initial degree aggregation — the loop state is the |nodes|-sized
    * degree table. Peeling removes nodes; a removed node changes only
    * its NEIGHBORS' degrees, so each round subtracts a correction
    * (edges incident to the round's drop frontier, counted per
    * surviving endpoint) from the standing degree table instead of
    * re-aggregating — and the surviving edge count is Σ dg ÷ 2 over
    * that same table, free. The drop frontier is the nodes BELOW the
    * degree percentile — small by construction (≤ n·p/100 rows in
    * round 1, the cascade tail after) — so the correction is one
    * broadcast-hash probe of the cached edge set (map-side, no
    * shuffle; the only shuffled rows are the drop-incident edges,
    * and those endpoints are low-degree BY DEFINITION of the drop).
    * The two prior forms both paid O(m) per round and went
    * super-linear over the sf1→sf10 decade once the per-round edge
    * materializations crossed the memory→disk tier (semi-join
    * re-keying exp 1.55, anti-join + localCheckpoint rewrite no
    * better): rewriting the 90% that SURVIVES to express the 10%
    * that leaves is the wrong side of the subtraction at any scale.
    * Driver sees two scalars (n, k); everything else is distributed.
    */
  def kCorePeel(edges: DataFrame, rounds: Int,
                kFixed: Option[Long] = None): DataFrame = {
    require(rounds >= 1, "kCorePeel needs rounds >= 1")
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.select("u", "v")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val d0 = e0.groupBy("u").agg(count(lit(1)).as("dg")).cache()
    val k = kFixed.getOrElse {
      val n = d0.count()
      val idx = ((n + 9) / 10).toInt
      d0.orderBy(col("dg"), col("u")).limit(idx)
        .agg(max("dg")).as[Long].head()
    }
    // deg = the ALIVE nodes with their degree in the current induced
    // subgraph. Rows may reach dg = 0 (a survivor whose neighbors all
    // fell): such nodes are never dropped (they have no edges to
    // remove) and never counted (dg < k), matching the edge-aggregated
    // semantics where they simply vanish from the degree table.
    val drops = scala.collection.mutable.Buffer.empty[DataFrame]
    val degs = Iterate.rounds("q221_kcore_peel", rounds,
        d0.localCheckpoint(eager = true)) { deg =>
      // this round's drop frontier: alive, has edges, below threshold
      val drop = deg.filter(col("dg") < k && col("dg") >= 1).select("u")
        .localCheckpoint(eager = true)
      drops += drop
      // degree correction: each dropped node subtracts 1 from every
      // surviving neighbor — count e0 edges whose v fell THIS round,
      // per u. An edge is corrected exactly once (its endpoint is
      // dropped exactly once), so e0 — not the shrunken subgraph — is
      // the right probe table, and the probe is map-side broadcast.
      val corr = e0
        .join(broadcast(drop.select(col("u").as("v"))), "v")
        .groupBy("u").agg(count(lit(1)).as("dc"))
      deg.filter(col("dg") >= k)
        .join(corr, Seq("u"), "left")
        .select(col("u"),
          (col("dg") - coalesce(col("dc"), lit(0L))).as("dg"))
    }
    // Round r's stats are one aggregate of deg_r: it holds exactly the
    // rows of deg_{r-1} with dg >= k (the left join against `corr`, one
    // row per u, keeps the row count), so its count is the surviving
    // node count and Σ dg ÷ 2 the surviving edge count.
    val out = (1 to rounds).map { rnd =>
      degs(rnd).agg(count(lit(1)).as("nodes"),
          coalesce(expr("sum(dg) div 2"), lit(0L)).as("edges"))
        .select(lit(rnd.toLong).as("rnd"), lit(k).as("k"), col("nodes"),
          col("edges"))
    }.reduce(_ unionAll _).orderBy("rnd")
      .localCheckpoint(eager = true)
    // then release every checkpointed deg/drop block: their blocks
    // belong to the wrapped RDD, which clearCache never touches, and the
    // RDD-level release is cheap. e0/d0 (plain caches) are left to the
    // caller's clearCache — each Dataset.unpersist re-canonicalizes
    // every cached plan, ~0.2-0.3 s (r15, the kHopFrontiers finding).
    (degs ++ drops).foreach(Iterate.releaseCheckpoint)
    out
  }

  /** Distributed CONNECTED COMPONENTS by synchronous min-label
    * propagation: lbl₀(x) = x; lblₜ₊₁(x) = min(lblₜ(x),
    * min over in-neighbors y of lblₜ(y)), `rounds` fixed rounds (the
    * q180/q253 fixed-point discipline — both engines replay the
    * IDENTICAL rounds, and a per-node `changed` audit reports whether
    * the last round still moved any label, so convergence is observed,
    * never assumed). Labels are node ids, so the converged component
    * id is the component's MINIMUM member — the same canonical label
    * the driver-side union-find emits.
    *
    * This is the SCALE escalation of [[graft.operators.Dedup]]'s
    * capped union-find (`localClusters` collects ≤ 1M edges to the
    * driver by loud contract): here NO driver state exists beyond the
    * loop counter. Each round is one label-to-edges equi-join + one
    * target-keyed min aggregation with map-side partial combine + a
    * node-keyed coalesce fold against the previous labels; round state
    * rides localCheckpoint (the depth-≥2 nested-cache lesson — lineage
    * is truncated to bytes every round). Min-propagation needs
    * diameter rounds; co-occurrence graphs are short-diameter, and on
    * a 1000-executor cluster the escalation for long-diameter graphs
    * is the alternating star contraction — the round STRUCTURE here
    * (join + min-agg + fold) is exactly its building block.
    *
    * Input: symmetrized (u, v) edges (both directions present).
    * Output: (node, component, changed) — `changed` = 1 iff the FINAL
    * round moved this node's label (sum(changed) = 0 proves the fixed
    * point was reached).
    */
  def connectedComponentsInt(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "connectedComponentsInt needs rounds >= 1")
    val e = edges.select("u", "v")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val init = e.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .localCheckpoint(eager = true)
    // measured-|V| broadcast gate for the per-round label frames (see
    // `gated`)
    val nNodes = init.count()
    // each round also carries its predecessor's label as `pl`, so the
    // last round alone answers `changed`. e (plain cache) is left to
    // the caller's clearCache (r15 — the Dataset.unpersist CacheManager
    // sweep cost, see kHopFrontiers)
    Iterate.rounds("q259_connected_components", rounds, init) { lbl =>
      val nbrMin = e.join(gated(lbl.select(col("node").as("u"),
          col("lbl").as("nl")), nNodes), "u")
        .groupBy(col("v").as("node")).agg(min("nl").as("m"))
      lbl.join(gated(nbrMin, nNodes), Seq("node"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("m"), col("lbl"))).as("lbl"),
          col("lbl").as("pl"))
    }.last
      .select(col("node"), col("lbl").as("component"),
        when(col("lbl") =!= col("pl"), lit(1L)).otherwise(lit(0L))
          .as("changed"))
  }
}
