package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.functions.ArrayCosine

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - `bruteForceTopK`: exact baseline — one pass over all vectors, the
  *    (single-row) query side broadcast, top-k via TakeOrdered. O(n·d)
  *    work, fully distributed, no O(n²) blow-up: this is the shape that
  *    survives 100 TB (scan + broadcast + per-row expression + top-k).
  *  - `signLshTopK`: sign-LSH pre-bucketing — the probe only scans the
  *    query's bucket (1/2^bits of the data in expectation). Recall < 1
  *    by construction; callers can probe multiple buckets.
  *  - `centroids` / `ivfTopK`: the coarse-quantizer build and the full
  *    IVF probe (assign to nearest centroid, scan one bucket).
  *
  * All scoring uses the fused codegen'd ArrayCosine expression (one
  * array pass per pair: dot + both norms in a single loop).
  */
object Similarity {


  private def cos(a: Column, b: Column): Column = ArrayCosine.cosine(a, b)

  /** Query = the embedding of `queryId`; returns the k nearest others. */
  def bruteForceTopK(df: DataFrame, id: Column, vec: Column,
                     queryId: Long, k: Int): DataFrame = {
    val q = df.filter(id === queryId).select(toDouble(vec).as("qv"))
    df.filter(id =!= queryId)
      .select(id.as("vec_id"), toDouble(vec).as("v"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cos(col("v"), col("qv")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Sign-LSH (axis-aligned hyperplane) bucketed ANN with a MULTI-PROBE
    * recall knob: `probes` = how many buckets to scan — the query's own
    * bucket, then its Hamming-distance-1 neighbors in bit order (flip
    * bit 0, bit 1, …), then its Hamming-distance-2 neighbors in
    * lexicographic (i, j) pair order (flip bits 0+1, 0+2, …, 1+2, …).
    * probes=1 is the classic single-bucket probe (~1/2^bits of the
    * data); probes=P scans P/2^bits and recovers the near-dups that
    * straddle one (then two) hyperplanes — the standard multi-probe LSH
    * recall/scan trade (recall grows with P, scan cost linearly; brute
    * force = the P=2^bits limit). The probe set stays a handful of
    * broadcast rows, so the plan shape (scan + broadcast hash join +
    * TakeOrdered) is unchanged at any P. Deterministic enumeration
    * order means a given P always scans the same buckets — the oracle
    * replays the identical mask list.
    */
  def signLshTopK(df: DataFrame, id: Column, vec: Column,
                  queryId: Long, k: Int, bits: Int,
                  probes: Int = 1): DataFrame = {
    val maxProbes = 1 + bits + bits * (bits - 1) / 2
    require(probes >= 1 && probes <= maxProbes,
      s"probes must be in [1, $maxProbes]: only Hamming<=2 neighbors are enumerated")
    val e = df.select(id.as("vec_id"), toDouble(vec).as("v"),
      signBucket(vec.cast("array<double>"), bits).as("bucket"))
    // masks: 0 (own bucket), single-bit flips in bit order, then two-bit
    // flips in lexicographic pair order. XOR of distinct masks gives
    // distinct buckets, so no candidate appears twice.
    val masks = probeMasks(bits).take(probes)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"),
        explode(array(masks.map(m => col("bucket").bitwiseXOR(lit(m))): _*))
          .as("qbucket"))
    e.filter(col("vec_id") =!= queryId)
      .join(broadcast(q), col("bucket") === col("qbucket"))
      .select(col("vec_id"), round(cos(col("v"), col("qv")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** The multi-probe mask enumeration (see signLshTopK): Hamming-0,
    * then Hamming-1 in bit order, then Hamming-2 in lexicographic (i, j)
    * order. Public so specs and oracle builders read the same list.
    */
  def probeMasks(bits: Int): Seq[Long] =
    0L +:
      ((0 until bits).map(b => 1L << b) ++
        (for { i <- 0 until bits; j <- (i + 1) until bits }
          yield (1L << i) | (1L << j)))

  /** Per-label centroid in long format: (label, dim [1-based], value). */
  def centroids(df: DataFrame, label: Column, vec: Column): DataFrame =
    df.select(label.as("label"), posexplode(toDouble(vec)).as(Seq("pos", "x")))
      .groupBy(col("label"), (col("pos") + 1).as("dim"))
      .agg(round(avg(col("x")), 6).as("centroid"))

  /** IVF probe: full inverted-file ANN over a learned coarse quantizer.
    * Centroids = per-label means (rounded 6dp so both engines agree on
    * the quantizer bit-for-bit); every vector is assigned to its
    * nearest centroid by cosine (rounded 4dp, ties broken by label —
    * fully deterministic); the probe scans ONLY the query's centroid
    * bucket.
    *
    * Scale shape: the quantizer collapses to ONE broadcast row holding
    * all C centroids (label-ascending), and assignment is a per-row
    * argmax FOLD over that array — the corpus never shuffles for
    * assignment (the previous form cross-joined C rows per vector and
    * sorted them through a `Window.partitionBy(vec_id)` exchange, which
    * at 100× would have been the plan's dominant cost). The fold's `>`
    * uses Spark's total double ordering (NaN largest), identical to the
    * window's `orderBy(sim.desc, c_lbl)` it replaces; first-wins on
    * ties = min label, matching the oracle's row_number tiebreak. The
    * probe reads 1/C of the data in expectation. This is the standard
    * IVF architecture: at 100 TB the assignment is written once at
    * ingest (partitioned by bucket) and probes touch one partition.
    *
    * Two knobs close the remaining 100 TB gaps:
    *  - `buildSamplePerMille` (+ seed): the quantizer is trained on a
    *    deterministic md5-hash sample of the corpus instead of
    *    posexploding every vector — at 100 TB a coarse quantizer is
    *    always trained on a sample; hash-gating (not rand()) keeps the
    *    trained centroids — and therefore every downstream assignment —
    *    reproducible across runs, engines, and partitionings, so the
    *    oracle replays the identical sample. Assignment + probe still
    *    cover the FULL corpus.
    *  - `nprobe`: scan the `nprobe` nearest centroid buckets instead of
    *    one — the standard IVF recall knob (scan nprobe/C of the data;
    *    recall grows toward brute force as nprobe→C). The probe set is
    *    ranked on the same rounded cosine + label tiebreak as
    *    assignment, so nprobe=1 is exactly the original single-bucket
    *    probe.
    */
  def ivfTopK(df: DataFrame, id: Column, vec: Column, label: Column,
              queryId: Long, k: Int, nprobe: Int = 1,
              buildSamplePerMille: Int = 1000,
              buildSampleSeed: Int = 0): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val e = df.select(id.as("vec_id"), toDouble(vec).as("v"), label.as("lbl"))
    val trainSet = trainSample(e, buildSamplePerMille, buildSampleSeed)
    val cents = centroidsWide(trainSet)
    val assigned = assignToNearest(e.drop("lbl"), cents)
    val qv = e.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    val qbuckets = nearestBuckets(cents, qv, nprobe)
    assigned.filter(col("vec_id") =!= queryId)
      .join(broadcast(qbuckets), col("bucket") === col("qbucket"))
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), round(cos(col("v"), col("qv")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF ANN served from a PERSISTED bucket-partitioned index — the
    * 100 TB serving layout: the build writes (vec_id, v) PARTITIONED BY
    * the assigned coarse bucket, and the probe reads back through a
    * bucket filter that Spark resolves as a PartitionFilter — the
    * non-probed buckets are pruned at the FILE level (no IO at all,
    * not merely no compute), which is what makes a billion-vector
    * index servable: each query touches nprobe/k_clusters of the
    * storage. Same quantizer, assignment and tiebreaks as `ivfTopK`,
    * so the result equals the in-memory probe bit-for-bit. The nprobe
    * bucket labels are collected driver-side — bounded by nprobe, the
    * broadcast-small bargain.
    */
  def ivfTopKPartitioned(df: DataFrame, id: Column, vec: Column,
                         label: Column, queryId: Long, k: Int, nprobe: Int,
                         buildSamplePerMille: Int, buildSampleSeed: Int,
                         indexDir: String): DataFrame = {
    val e = df.select(id.as("vec_id"), toDouble(vec).as("v"), label.as("lbl"))
    val trainSet = trainSample(e, buildSamplePerMille, buildSampleSeed)
    val cents = centroidsWide(trainSet)
    val qv = e.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    // BUILD: the index at rest — one bucket directory per coarse cell
    assignToNearest(e.drop("lbl"), cents)
      .filter(col("vec_id") =!= queryId)
      .write.mode("overwrite").partitionBy("bucket").parquet(indexDir)
    // PROBE: nprobe labels (driver-bounded), partition-pruned read-back
    val probes = nearestBuckets(cents, qv, nprobe)
      .collect().map(_.get(0)).toSeq
    df.sparkSession.read.parquet(indexDir)
      .filter(col("bucket").isin(probes: _*))
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), round(cos(col("v"), col("qv")), 4).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** The deterministic quantizer-training sample of a `vec_id`-keyed
    * frame: rows whose hash60(vec_id, seed) falls below `perMille`
    * per mille — hash gating, never rand(), so the trained centroids
    * replay across runs, engines and partitionings. 1000 keeps `e`.
    */
  private def trainSample(e: DataFrame, perMille: Int, seed: Int): DataFrame = {
    require(perMille >= 1 && perMille <= 1000,
      "buildSamplePerMille must be in [1, 1000]")
    if (perMille == 1000) e
    else e.filter(graft.functions.TextFunctions
      .hash60(col("vec_id").cast("string"), seed) % 1000 < perMille)
  }

  /** Wide per-label centroids (c_lbl, cv) from a (v, lbl) training set —
    * the IVF coarse-quantizer build, rounded 6dp so every engine agrees
    * on the quantizer bit-for-bit.
    */
  private[graft] def centroidsWide(train: DataFrame): DataFrame =
    train.select(col("lbl"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("lbl", "pos").agg(round(avg("x"), 6).as("c"))
      .groupBy("lbl")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("lbl").as("c_lbl"),
        transform(col("pc"), p => p.getField("c")).as("cv"))

  /** Nearest-centroid assignment: adds `bucket` to every row of `e`
    * (which must carry `v`), via a broadcast single-row centroid array
    * and a per-row argmax FOLD — the corpus never shuffles for
    * assignment. First-wins on rounded-cosine ties = min label,
    * matching the oracle's row_number tiebreak.
    */
  private[graft] def assignToNearest(e: DataFrame, cents: DataFrame): DataFrame = {
    val centArr = cents
      .agg(array_sort(collect_list(struct(col("c_lbl"), col("cv")))).as("cents"))
    // zero: sim = -2 (< any cosine) so element 1 always replaces it; its
    // label rides along only to give the fold a correctly-typed slot.
    val zero = struct(lit(-2.0).as("sim"),
      element_at(col("cents"), 1).getField("c_lbl").as("lbl"))
    val best = aggregate(col("cents"), zero, (acc, cent) => {
      val sim = round(cos(col("v"), cent.getField("cv")), 4)
      when(sim > acc.getField("sim"),
        struct(sim.as("sim"), cent.getField("c_lbl").as("lbl")))
        .otherwise(acc)
    })
    e.crossJoin(broadcast(centArr))
      .withColumn("bucket", best.getField("lbl"))
      .drop("cents")
  }

  /** The query's nprobe nearest centroids, ranked exactly like
    * assignment (rounded cosine desc, label asc) — so nprobe=1 IS the
    * query's assigned bucket. C rows ranked, nprobe kept: driver-free,
    * broadcast-sized both sides.
    */
  private def nearestBuckets(cents: DataFrame, qv: DataFrame,
                             nprobe: Int): DataFrame =
    cents.crossJoin(broadcast(qv.select("qv")))
      .select(col("c_lbl").as("qbucket"),
        round(cos(col("cv"), col("qv")), 4).as("csim"))
      .orderBy(col("csim").desc, col("qbucket"))
      .limit(nprobe)
      .select("qbucket")

  /** The int8 × IVF COMPOSITION — byte-domain bucketed ANN: buckets are
    * assigned on EXACT vectors (the quantizer and assignment are cheap
    * one-time build work), but the probe scan — the per-query cost that
    * dominates at 100 TB — reads int8-packed BINARY vectors scored by
    * the fused long-arithmetic ByteCosine kernel. This multiplies the
    * two scale features: the IVF bucket cut (scan nprobe/C of the
    * corpus) times the int8 density cut (8x vs doubles per vector
    * touched), which is precisely how production IVF indexes store
    * their posting lists. The exact cosine rides along as the q71-style
    * audit column (`close` = quantized and exact scores agree within
    * `tol`), so the result itself certifies the approximation.
    *
    * Zero vectors are dropped up front (no int8 scale exists; cosine is
    * undefined for them) — the same standalone cheap-pass guard as
    * `quantizedVectors`, applied before the build so quantizer,
    * assignment, and probe all see the identical corpus.
    *
    * `buildSamplePerMille`/`buildSampleSeed` carry over `ivfTopK`'s
    * deterministic hash-sampled quantizer build, so the THREE scale
    * features compose in one operator: sampled build (the quantizer
    * never scans the full corpus) × bucket probing (nprobe/C of the
    * data per query) × byte density (8x per vector touched).
    */
  def ivfQuantizedTopK(df: DataFrame, id: Column, vec: Column,
                       label: Column, queryId: Long, k: Int,
                       nprobe: Int = 1, tol: Double = 0.02,
                       buildSamplePerMille: Int = 1000,
                       buildSampleSeed: Int = 0): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val e = df.select(id.as("vec_id"), toDouble(vec).as("v"), label.as("lbl"))
      .filter(array_max(transform(col("v"), x => abs(x))) > 0)
    val trainSet = trainSample(e, buildSamplePerMille, buildSampleSeed)
    val cents = centroidsWide(trainSet)
    val assigned = assignToNearest(e.drop("lbl"), cents)
      .withColumn("q8", graft.functions.Int8Vec.pack(quantizeInt8(col("v"))))
    val q = assigned.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), col("q8").as("qq"))
    val qbuckets = nearestBuckets(cents, q.select(col("qv")), nprobe)
    assigned.filter(col("vec_id") =!= queryId)
      .join(broadcast(qbuckets), col("bucket") === col("qbucket"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(graft.functions.Int8Vec.byteCosine(col("q8"), col("qq")), 4)
          .as("qcos_sim"),
        round(cos(col("v"), col("qv")), 4).as("cos_sim"))
      .withColumn("close", abs(col("qcos_sim") - col("cos_sim")) <= tol)
      .orderBy(col("qcos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** PRODUCT-QUANTIZATION ANN with true ADC scoring — the deepest
    * compression step in the ANN family: each vector's `dim` doubles
    * collapse to `numSub` one-byte codes (64x at d=64/m=8 vs doubles),
    * and the per-query scan touches ONLY the packed codes plus a
    * broadcast lookup table — never the original vectors.
    *
    *  - Codebooks: subspace m's codebook is the per-label centroid
    *    (6dp-rounded, the shared `centroidsWide` build) restricted to
    *    dims [m·s, (m+1)·s). Label-keyed like the IVF coarse quantizer,
    *    so both engines derive identical codebooks.
    *  - Encoding: code_m = label of the sub-codebook entry with minimal
    *    6dp-rounded L2² distance (ties → min label; fold keeps first,
    *    codebook array is label-sorted). Codes pack through PackInt8 to
    *    a PHYSICAL 8-byte binary column — the scan-side storage.
    *  - ADC scoring: pq_sim = Σ_m dot(q_m, c_m[code_m]) /
    *    (‖q‖ · sqrt(Σ_m ‖c_m[code_m]‖²)) — the numerator and the
    *    reconstruction norm come from a per-query LUT of (dot, n2) per
    *    (label, subspace), built once from C·numSub broadcast-side rows.
    *    The scan unpacks 8 codes (UnpackInt8) and folds them against
    *    the LUT in subspace order: 8 map lookups + 16 adds per vector,
    *    independent of `dim`. Both engines sum in the identical order
    *    (fold over m; each LUT cell a fixed-order 8-element sum), so
    *    4dp-rounded scores agree.
    *  - Audit: exact cosine rides along per candidate, and
    *    `in_exact_topk` marks membership in the brute-force top-k (the
    *    q72/q75 recall-audit pattern) — the result certifies its own
    *    approximation quality.
    *
    * Scale shape: encoding is the one-time index build (O(C·d) per row,
    * written at ingest in production); the per-query cost that scales
    * with corpus size reads 8 bytes + does 8 LUT lookups per vector.
    * The exact `v` column rides only to feed the audit; the production
    * scan projection is (vec_id, pq_code).
    */
  def pqTopK(df: DataFrame, id: Column, vec: Column, label: Column,
             queryId: Long, k: Int, dim: Int, numSub: Int): DataFrame = {
    require(numSub >= 1 && dim % numSub == 0,
      s"dim=$dim must divide into numSub=$numSub equal subspaces")
    val subLen = dim / numSub
    val e = df.select(id.as("vec_id"), toDouble(vec).as("v"), label.as("lbl"))
      .filter(array_max(transform(col("v"), x => abs(x))) > 0)
    val cents = centroidsWide(e)
    val centArr = cents
      .agg(array_sort(collect_list(struct(col("c_lbl"), col("cv")))).as("cents"))
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    def sq(a: Column): Column =
      aggregate(a, lit(0.0), (acc, x) => acc + x * x)
    // per-row codes: argmin over the sub-codebook of the 6dp-rounded L2²
    val codesCol = array((0 until numSub).map { m =>
      val sv = slice(col("v"), m * subLen + 1, subLen)
      val zero = struct(lit(Double.MaxValue).as("d"),
        element_at(col("cents"), 1).getField("c_lbl").as("l"))
      aggregate(col("cents"), zero, (acc, c) => {
        val dsub = slice(c.getField("cv"), m * subLen + 1, subLen)
        val dd = round(aggregate(zip_with(sv, dsub, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc2, x) => acc2 + x), 6)
        when(dd < acc.getField("d"),
          struct(dd.as("d"), c.getField("c_lbl").as("l"))).otherwise(acc)
      }).getField("l")
    }: _*)
    val coded = e.crossJoin(broadcast(centArr))
      .select(col("vec_id"), col("v"),
        graft.functions.Int8Vec.pack(codesCol).as("pq_code"))
    val qrow = e.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), sqrt(sq(col("v"))).as("qnorm"))
    // per-query LUT: (label → per-subspace (dot with q, squared norm))
    val lut = cents.crossJoin(broadcast(qrow.select(col("qv"))))
      .select(col("c_lbl"), array((0 until numSub).map { m =>
        val cvm = slice(col("cv"), m * subLen + 1, subLen)
        val qvm = slice(col("qv"), m * subLen + 1, subLen)
        struct(dot(cvm, qvm).as("dot"), sq(cvm).as("n2"))
      }: _*).as("sub"))
      .agg(collect_list(struct(col("c_lbl"), col("sub"))).as("entries"))
      .select(map_from_entries(col("entries")).as("lutMap"))
    val codes = graft.functions.Int8Vec.unpack(col("pq_code"))
    val acc0 = struct(lit(0.0).as("num"), lit(0.0).as("n2"))
    val sums = aggregate(sequence(lit(0), lit(numSub - 1)), acc0, (acc, m) => {
      val cell = element_at(element_at(col("lutMap"),
        element_at(codes, m + 1)), m + 1)
      struct((acc.getField("num") + cell.getField("dot")).as("num"),
        (acc.getField("n2") + cell.getField("n2")).as("n2"))
    })
    val approx = coded.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qrow))
      .crossJoin(broadcast(lut))
      .select(col("vec_id"),
        round(sums.getField("num") /
          (col("qnorm") * sqrt(sums.getField("n2"))), 4).as("pq_sim"),
        round(cos(col("v"), col("qv")), 4).as("cos_sim"))
      .orderBy(col("pq_sim").desc, col("vec_id"))
      .limit(k)
    val exact = e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qrow.select(col("qv"))))
      .select(col("vec_id"), round(cos(col("v"), col("qv")), 4).as("s"))
      .orderBy(col("s").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), lit(true).as("hit"))
    approx.join(exact, Seq("vec_id"), "left")
      .select(col("vec_id"), col("pq_sim"), col("cos_sim"),
        coalesce(col("hit"), lit(false)).as("in_exact_topk"))
      .orderBy(col("pq_sim").desc, col("vec_id"))
  }

  /** One Lloyd (k-means) ITERATION of the coarse quantizer — the
    * training loop every IVF/PQ build above seeds from labels is
    * expressible in the engine itself: assign every vector to its
    * nearest centroid (the shuffle-free broadcast argmax fold), then
    * recompute each cluster's centroid as the mean of its ASSIGNED
    * vectors (6dp-rounded like every quantizer build, so both engines
    * agree bit-for-bit), then re-assign against the moved centroids.
    *
    * Output: (vec_id, bucket0, bucket1, moved) per vector — the
    * iteration's full effect, auditable row by row (Σ moved is the
    * convergence signal a driver loop would test).
    *
    * Scale shape per iteration: one broadcast-fold assignment pass +
    * one centroid agg (map-side combined, C·dim output rows) — the
    * textbook distributed Lloyd step. Production runs this in a driver
    * loop with a bounded iteration count on a deterministic hash sample
    * (the q38 `buildSamplePerMille` shape); empty clusters keep their
    * previous centroid implicitly (no assigned rows → no new mean → the
    * label drops out, matching the oracle's inner-join replay).
    */
  def lloydStep(df: DataFrame, id: Column, vec: Column,
                label: Column): DataFrame = {
    val e = df.select(id.as("vec_id"), toDouble(vec).as("v"), label.as("lbl"))
    val a0 = assignToNearest(e.drop("lbl"), centroidsWide(e))
      .withColumnRenamed("bucket", "bucket0")
    val cents1 = centroidsWide(a0.select(col("bucket0").as("lbl"), col("v")))
    assignToNearest(a0, cents1)
      .select(col("vec_id"), col("bucket0"), col("bucket").as("bucket1"),
        (col("bucket0") =!= col("bucket")).as("moved"))
      .orderBy("vec_id")
  }

  /** Corpus-scaled IVF coarse-quantizer BUILD — the index-build entry
    * point the fixed-C family lacked (round-9 verdict #1: with C fixed
    * at the label count, every IVF probe family is O(n²·nprobe/C)
    * asymptotically). C is derived from the corpus size:
    * C = max(minC, isqrt(n)) — the √n rule that balances per-query
    * assignment cost (C centroids scanned) against per-bucket
    * membership (~n/C ≈ √n), the standard production IVF sizing.
    * Seeds are the C vectors with the smallest (hash60(id), id) —
    * anchor-sample determinism, bucket label = seed rank — and
    * `rounds` synchronous Lloyd iterations refine them (the q180
    * FIXED-ROUND discipline: a fixed count unrolls in the oracle as
    * CTEs; convergence is OBSERVABLE, not assumed — the `moved`
    * column flags vectors whose assignment still changed in the last
    * refinement, Σ moved = the fixed-point residual a driver loop
    * would test, exactly lloydStep's audit contract).
    *
    * Output: (vec_id, v, bucket, moved). Feed `bucket` as the label
    * column of any IVF operator — rankedNeighborsIvf & family derive
    * their quantizer from per-label centroids of exactly this
    * assignment, and a converged assignment is a fixed point of that
    * derivation.
    *
    * Scale shape: each round is one broadcast-fold assignment pass
    * (no shuffle — the assignToNearest argmax fold) plus one C×dim
    * centroid aggregate (map-side combined), with the per-round
    * centroid table localCheckpointed (the depth-≥-2 nested cache
    * lesson). The n·C cosine work per round is Θ(n^1.5) under C ≈ √n —
    * the balanced IVF build cost. At 100 TB set `buildSamplePerMille`
    * (+ seed): seeding and every Lloyd refinement round then run on a
    * deterministic md5-hash-gated sample (the q38 quantizer-training
    * shape — hash gating, never rand(), so the trained centroids are
    * reproducible across runs, engines, and partitionings and the
    * oracle replays the identical sample), while C stays derived from
    * the FULL corpus size (the index serves all of it) and the final
    * assignment + `moved` audit cover the FULL corpus (two broadcast
    * argmax folds against the last two refinement centroid tables).
    * The driver holds only the scalars n and C.
    */
  def kmeansBuckets(df: DataFrame, id: Column, vec: Column, rounds: Int,
                    minC: Int = 10, buildSamplePerMille: Int = 1000,
                    buildSampleSeed: Int = 0): DataFrame = {
    require(rounds >= 1, "kmeansBuckets needs rounds >= 1")
    require(minC >= 1, "kmeansBuckets needs minC >= 1")
    val e = df.select(id.as("vec_id"), toDouble(vec).as("v"))
    val train = trainSample(e, buildSamplePerMille, buildSampleSeed)
    val n = e.count()
    require(n >= 1, "kmeansBuckets needs a non-empty corpus")
    // C from the FULL corpus size even under sampled training: the
    // index must hold ~√n buckets for the data it will serve
    val c = math.max(minC.toLong, graft.functions.IntMath.isqrt(n)).toInt
    // seed centroids: rank 0..C-1 over (hash60, id) of the TRAIN set —
    // C rows, so the unpartitioned rank window is driver-bounded by
    // construction
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__h"), col("vec_id"))
    // seed ranking hashes with buildSampleSeed — the SAME seed that
    // gates the train sample — so a caller passing a nonzero seed gets
    // sampling and seeding keyed to one hash and an oracle replays
    // both with one md5 prefix (the round-10 advisor's determinism
    // note; every in-repo caller passes 0, so replays are unchanged)
    val seeds = train.select(col("vec_id"), col("v"),
        graft.functions.TextFunctions
          .hash60(col("vec_id").cast("string"), buildSampleSeed).as("__h"))
      .orderBy(col("__h"), col("vec_id")).limit(c)
      .select((row_number().over(w) - 1).cast("long").as("c_lbl"),
        col("v").as("cv"))
      .localCheckpoint(eager = true)
    require(buildSamplePerMille == 1000 || seeds.limit(1).count() >= 1,
      "buildSamplePerMille gated out the entire corpus — no train rows")
    // ONE refinement loop over the train set (the full corpus unless
    // sampled): each round re-derives the centroids from the previous
    // assignment and reassigns, carrying the previous bucket as
    // `bucket0`; `prev`/`cents` hold the last two centroid tables
    var prev = seeds
    var cents = seeds
    val refined = Iterate.rounds("kmeans_buckets", rounds,
        assignToNearest(train, seeds)) { assigned =>
      prev = cents
      cents = centroidsWide(
          assigned.select(col("bucket").as("lbl"), col("v")))
        .localCheckpoint(eager = true)
      assignToNearest(
        assigned.drop("bucket0").withColumnRenamed("bucket", "bucket0"),
        cents)
    }.last
    // full build: the last round IS the output. Sampled build: assign
    // the FULL corpus against the last two centroid tables so `bucket`
    // and the `moved` fixed-point audit keep their full-corpus contract
    // (restricted to train rows, moved equals the train refinement's
    // own residual)
    val assigned =
      if (buildSamplePerMille == 1000) refined
      else assignToNearest(
        assignToNearest(e, prev).withColumnRenamed("bucket", "bucket0"),
        cents)
    assigned.select(col("vec_id"), col("v"), col("bucket"),
      (col("bucket0") =!= col("bucket")).as("moved"))
  }

  /** [[kmeansBuckets]] with a BUILD-TIME bucket-size cap — the
    * oversize guard the round-10 verdict asked for (#2): on a skewed
    * corpus Lloyd can leave a megabucket whose probe cost is bounded
    * only by the ×8 salt; this entry point folds q263's local 2-means
    * split into the build so any bucket whose membership exceeds
    * capNum/capDen times the balanced size n/C is split before the
    * index ever serves (flag test in exact integers:
    * size·capDen·C > capNum·n — no division). ONE split round, the
    * fixed-round discipline: a split halves the worst offender; the
    * residual is OBSERVABLE, not assumed away — callers read it off
    * the returned sizes (q268 surfaces it as `still_over`), exactly
    * like kmeansBuckets' `moved` column. Unflagged buckets pass
    * through untouched (broadcast LeftAnti — split cost proportional
    * to the flagged membership).
    *
    * Output: full post-split membership (vec_id, v, bucket, parent,
    * was_split) — parent = pre-split label, so the audit trail from
    * the capped index back to the Lloyd assignment is in-band.
    */
  def kmeansBucketsCapped(df: DataFrame, id: Column, vec: Column,
      rounds: Int, capNum: Int, capDen: Int, minC: Int = 10,
      buildSamplePerMille: Int = 1000,
      buildSampleSeed: Int = 0): DataFrame = {
    require(capNum >= 1 && capDen >= 1 && capNum > capDen,
      "cap must be a ratio > 1 (capNum > capDen >= 1)")
    val idx = kmeansBuckets(df, id, vec, rounds, minC,
        buildSamplePerMille, buildSampleSeed)
      .select("vec_id", "v", "bucket")
      .localCheckpoint(eager = true)
    val n = idx.count()
    val c = math.max(minC.toLong, graft.functions.IntMath.isqrt(n))
    val flagged = idx.groupBy("bucket")
      .agg(count(lit(1)).cast("long").as("sz"))
      .filter(col("sz") * capDen * c > capNum * n)
      .select("bucket").localCheckpoint(eager = true)
    splitBucketsLocal(idx, flagged)
  }

  /** Incremental IVF INSERT maintenance + staleness audit — the serve
    * path of a 100 TB vector index that cannot rebuild per batch: new
    * vectors are assigned against the FROZEN quantizer (per-bucket 6dp
    * centroids of the built assignment — the same re-derivation
    * rankedNeighborsIvf performs, a fixed point of a converged build),
    * so an insert batch costs |delta|·C broadcast-fold cosines and
    * ZERO base-corpus work beyond the one-time build. What an
    * append-only index silently loses is BALANCE — inserts drift the
    * data away from the centroids that were trained before them — so
    * the audit is first-class output: per-bucket base/delta membership,
    * the integer delta share (bp), and a rebuild flag where the share
    * crosses `flagBp` (the q251 lifecycle discipline: growth must be
    * observable, the rebuild decision must be data-driven, and both
    * are hash-verified). Delta buckets are a subset of built buckets
    * by construction (assignment only targets existing centroids) —
    * the join back to base membership is exact, never outer-null.
    *
    * Output: (bucket, n_base, n_delta, delta_share_bp, rebuild),
    * one row per non-empty built bucket.
    */
  def ivfInsertAudit(base: DataFrame, delta: DataFrame, id: Column,
                     vec: Column, rounds: Int, flagBp: Long): DataFrame = {
    require(flagBp >= 1 && flagBp <= 10000, "flagBp must be in [1, 10000]")
    val (idx, dAssigned) = insertParts(base, delta, id, vec, rounds)
    bucketAudit(membershipUnion(idx, dAssigned))
      .withColumn("rebuild",
        when(col("delta_share_bp") >= flagBp, lit(1L)).otherwise(lit(0L)))
  }

  /** The q261/q263 shared assembly: build the index on `base`, assign
    * `delta` against the FROZEN per-bucket centroids (the
    * rankedNeighborsIvf re-derivation — a fixed point of a converged
    * build). Returns (built assignment, delta assignment).
    */
  private def insertParts(base: DataFrame, delta: DataFrame, id: Column,
      vec: Column, rounds: Int): (DataFrame, DataFrame) = {
    val idx = kmeansBuckets(base, id, vec, rounds)
    val cents = centroidsWide(idx.select(col("bucket").as("lbl"), col("v")))
    val dAssigned = assignToNearest(
      delta.select(id.as("vec_id"), toDouble(vec).as("v")), cents)
    (idx, dAssigned)
  }

  /** Union the built and delta assignments into ONE membership table
    * tagged `is_delta` — the shared first step of every insert-side
    * audit. Columns select-normalized on both branches (the round-10
    * positional-union lesson). Unmaterialized: callers that fan out
    * over it localCheckpoint it themselves.
    */
  private def membershipUnion(idx: DataFrame, dA: DataFrame): DataFrame =
    idx.select(col("vec_id"), col("v"), col("bucket"),
        lit(0L).as("is_delta"))
      .unionAll(dA.select(col("vec_id"), col("v"), col("bucket"),
        lit(1L).as("is_delta")))

  /** The per-bucket drift audit — THE one place the delta-share
    * contract lives (round-11 verdict #4 de-triplication): per-bucket
    * base/delta membership counts off one partial-combined agg over a
    * [[membershipUnion]] table, and the integer drift share
    * delta_share_bp = (10000·n_delta) div (n_base + n_delta).
    * [[ivfInsertAudit]] REPORTS it (rebuild flag), [[ivfBucketSplit]]
    * and [[ivfLifecycleServe]] ACT on it (via [[flaggedBuckets]]).
    * Delta buckets are a subset of built buckets by construction
    * (assignment only targets existing centroids), so the rollup's
    * bucket set is exactly the non-empty built buckets.
    */
  private def bucketAudit(members: DataFrame): DataFrame =
    members.groupBy("bucket").agg(
        sum(lit(1L) - col("is_delta")).cast("long").as("n_base"),
        sum(col("is_delta")).cast("long").as("n_delta"))
      .withColumn("delta_share_bp",
        expr("(10000 * n_delta) div (n_base + n_delta)"))

  /** Buckets whose drift share crosses `flagBp` — the rebuild/split
    * admission set. Unmaterialized (callers broadcast or checkpoint).
    */
  private def flaggedBuckets(audit: DataFrame, flagBp: Long): DataFrame =
    audit.filter(col("delta_share_bp") >= flagBp).select("bucket")

  /** PARTIAL index rebuild — split only the buckets the insert audit
    * flags: the rebalance step that closes the q253 → q261 lifecycle
    * (build → serve/insert → audit → rebuild) WITHOUT the full-corpus
    * rebuild a flagged index would otherwise force. Each flagged
    * bucket 2-means-splits LOCALLY: seeds are its two smallest-
    * (md5-hash, id) members (the kmeansBuckets seeding discipline,
    * bucket-scoped), members side by rounded-4dp cosine argmax (ties
    * to the lower seed rank — assignToNearest's exact ordering), the
    * seed-0 half keeps the parent label and the seed-1 half takes a
    * fresh label past the assignment's max (maxb + rank of the
    * flagged parent). Unflagged buckets pass through UNTOUCHED — the
    * whole rebuild cost is proportional to the FLAGGED membership,
    * which is the entire point at 100 TB.
    *
    * Output: (bucket, parent, n_members, was_split) — post-split
    * bucket labels with their pre-split parent; `was_split` marks
    * rows produced by the split path.
    */
  def ivfBucketSplit(base: DataFrame, delta: DataFrame, id: Column,
                     vec: Column, rounds: Int, flagBp: Long): DataFrame = {
    require(flagBp >= 1 && flagBp <= 10000, "flagBp must be in [1, 10000]")
    import org.apache.spark.sql.expressions.Window
    val (idx, dA) = insertParts(base, delta, id, vec, rounds)
    val members = membershipUnion(idx, dA).localCheckpoint(eager = true)
    val audit = bucketAudit(members)
    val flagged = flaggedBuckets(audit, flagBp)
      .localCheckpoint(eager = true)
    val post = splitBucketsLocal(
      members.select("vec_id", "v", "bucket"), flagged)
    val splitCounts = post.filter(col("was_split") === 1L)
      .groupBy("bucket", "parent")
      .agg(count(lit(1)).cast("long").as("n_members"))
      .select(col("bucket"), col("parent"), col("n_members"),
        lit(1L).as("was_split"))
    val passCounts = audit.join(broadcast(flagged), Seq("bucket"), "left_anti")
      .select(col("bucket"), col("bucket").as("parent"),
        (col("n_base") + col("n_delta")).as("n_members"),
        lit(0L).as("was_split"))
    splitCounts.unionAll(passCounts)
  }

  /** Serve per-query exact top-k from an arbitrary bucket MEMBERSHIP
    * table (post-split, post-insert, fresh-built — any): per-bucket
    * 6dp centroids are re-derived from the membership (the
    * rankedNeighborsIvf fixed-point discipline), each query ranks
    * them (sim desc, label asc) and probes its `nprobe` nearest
    * buckets, exact rounded-4dp cosine within. Queries broadcast (an
    * anchor handful); the membership — the 100 TB side — is only ever
    * scanned, never shuffled. Returns (query_id, vec_id) per served
    * neighbor.
    */
  private def serveTopkFromMembership(members: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val cents = centroidsWide(
      members.select(col("bucket").as("lbl"), col("v")))
    val centArr = cents
      .agg(array_sort(collect_list(struct(col("c_lbl"), col("cv")))).as("cents"))
    val rankedArr = array_sort(
      transform(col("cents"), c => struct(
        round(cos(col("qv"), c.getField("cv")), 4).as("sim"),
        c.getField("c_lbl").as("lbl"))),
      (l, r) =>
        when(l.getField("sim") > r.getField("sim"), -1)
          .when(l.getField("sim") < r.getField("sim"), 1)
          .when(l.getField("lbl") < r.getField("lbl"), -1)
          .when(l.getField("lbl") > r.getField("lbl"), 1)
          .otherwise(0))
    val probes = queries.crossJoin(broadcast(centArr))
      .withColumn("ranked", rankedArr)
      .select(col("query_id"), col("qv"),
        explode(transform(slice(col("ranked"), 1, nprobe),
          p => p.getField("lbl"))).as("pb"))
    val scored = members.join(broadcast(probes),
        col("bucket") === col("pb"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cos(col("v"), col("qv")), 4).as("cos_sim"))
    graft.plans.TopK.perKey(scored, Seq("query_id"), "cos_sim",
        desc = true, tiebreak = Seq("vec_id"), k = k)
      .select("query_id", "vec_id")
  }

  /** The IVF index LIFECYCLE, round-tripped end-to-end in one query
    * (round-10 verdict #3): build the index on `base` (q253's
    * corpus-scaled kmeans), assign `delta` against the frozen
    * centroids (q261's insert), flag drifted buckets by delta share
    * and 2-means-split ONLY those (q263's partial rebuild), then
    * SERVE top-k for a deterministic anchor sample from the
    * lifecycle index — and, side by side, from a FRESH full-corpus
    * build. Output is the per-anchor overlap scoreboard:
    * (anchor_id, n_lifecycle, n_fresh, n_common) — the lifecycle
    * pieces are individually verified elsewhere; this pins the loop a
    * 100 TB index actually lives in (build → serve/insert → audit →
    * rebalance → serve) and BOUNDS the served result against the
    * fresh-build reference instead of asserting blind equality (two
    * different quantizers legitimately disagree at bucket borders).
    */
  def ivfLifecycleServe(base: DataFrame, delta: DataFrame, id: Column,
      vec: Column, rounds: Int, flagBp: Long, m: Int, seed: Int,
      k: Int, nprobe: Int): DataFrame = {
    require(flagBp >= 1 && flagBp <= 10000, "flagBp must be in [1, 10000]")
    val (idx, dA) = insertParts(base, delta, id, vec, rounds)
    val members = membershipUnion(idx, dA).localCheckpoint(eager = true)
    val audit = bucketAudit(members)
    val flagged = flaggedBuckets(audit, flagBp)
      .localCheckpoint(eager = true)
    val post = splitBucketsLocal(
      members.select("vec_id", "v", "bucket"), flagged)
      .select("vec_id", "v", "bucket")
    val full = base.select(id.as("vec_id"), toDouble(vec).as("v"))
      .unionAll(delta.select(id.as("vec_id"), toDouble(vec).as("v")))
      .localCheckpoint(eager = true)
    val anchors = anchorSampleIds(full, col("vec_id"), m, seed)
      .localCheckpoint(eager = true)
    val queries = full.join(broadcast(anchors), "vec_id")
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val servedL = serveTopkFromMembership(post, queries, k, nprobe)
    val fresh = kmeansBuckets(full, col("vec_id"), col("v"), rounds)
      .select("vec_id", "v", "bucket")
    val servedF = serveTopkFromMembership(fresh, queries, k, nprobe)
    val nl = servedL.groupBy("query_id")
      .agg(count(lit(1)).cast("long").as("n_lifecycle"))
    val nf = servedF.groupBy("query_id")
      .agg(count(lit(1)).cast("long").as("n_fresh"))
    // every scoreboard side below is anchor-bounded (≤ m rows / m·k
    // pairs) — broadcast explicitly so the assembly never plans a
    // merge join even before AQE sizes it
    val ncm = servedL.join(broadcast(servedF), Seq("query_id", "vec_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).cast("long").as("n_common"))
    anchors.select(col("vec_id").as("query_id"))
      .join(broadcast(nl), Seq("query_id"), "left")
      .join(broadcast(nf), Seq("query_id"), "left")
      .join(broadcast(ncm), Seq("query_id"), "left")
      .select(col("query_id").as("anchor_id"),
        coalesce(col("n_lifecycle"), lit(0L)).as("n_lifecycle"),
        coalesce(col("n_fresh"), lit(0L)).as("n_fresh"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
  }

  /** Local 2-means split of the `flagged` buckets of a membership
    * table — the shared rebalance kernel behind [[ivfBucketSplit]]
    * (q263's flag-driven partial rebuild), the build-time oversize
    * guard ([[kmeansBucketsCapped]]), and the lifecycle round-trip
    * ([[ivfLifecycleServe]]). Per flagged bucket: seeds = its two
    * smallest-(hash60, id) members (the kmeansBuckets seeding
    * discipline, bucket-scoped), members side by rounded-4dp cosine
    * argmax (ties to the lower seed rank — assignToNearest's exact
    * ordering), the seed-0 half keeps the parent label, the seed-1
    * half takes maxb + rank(parent). Unflagged rows pass through with
    * bucket = parent, was_split = 0 via a broadcast LeftAnti — the
    * whole split cost is proportional to the FLAGGED membership.
    * Membership is conserved row-for-row by construction. Returns the
    * full post-split membership (vec_id, v, bucket, parent,
    * was_split).
    */
  private[graft] def splitBucketsLocal(members: DataFrame,
      flagged: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxb = members.agg(max("bucket").as("maxb"))
    // |flagged| <= C ~ sqrt(n) rows: the unpartitioned rank window is
    // bounded by construction (the kmeansBuckets seeds argument)
    val fr = flagged.withColumn("rnk",
      row_number().over(Window.orderBy("bucket")).cast("long"))
    val fm = members.join(broadcast(flagged), "bucket")
    val ws = Window.partitionBy("bucket").orderBy(col("__h"), col("vec_id"))
    val seeds = fm.select(col("bucket"), col("vec_id"), col("v"),
        graft.functions.TextFunctions
          .hash60(col("vec_id").cast("string"), 0).as("__h"))
      .withColumn("rn", row_number().over(ws)).filter(col("rn") <= 2)
      .select(col("bucket"), (col("rn") - 1).cast("long").as("side"),
        col("v").as("sv"))
      .localCheckpoint(eager = true)
    val wp = Window.partitionBy("bucket", "vec_id")
      .orderBy(col("sim").desc, col("side"))
    val assigned = fm.join(broadcast(seeds), "bucket")
      .withColumn("sim", round(cos(col("v"), col("sv")), 4))
      .withColumn("rn", row_number().over(wp)).filter(col("rn") === 1)
    val splitRows = assigned
      .join(broadcast(fr), "bucket")
      .crossJoin(broadcast(maxb))
      .select(col("vec_id"), col("v"),
        when(col("side") === 0, col("bucket"))
          .otherwise(col("maxb") + col("rnk")).as("nb"),
        col("bucket").as("parent"), lit(1L).as("was_split"))
      .select(col("vec_id"), col("v"), col("nb").as("bucket"),
        col("parent"), col("was_split"))
    val passRows = members
      .join(broadcast(flagged), Seq("bucket"), "left_anti")
      .select(col("vec_id"), col("v"), col("bucket"),
        col("bucket").as("parent"), lit(0L).as("was_split"))
    // Deliberately NOT materialized, measured both ways at sf10:
    // count-only consumers (q263's rollup) rely on column PRUNING to
    // drop the 64-dim vectors from the recompute (6.1 s unmaterialized
    // vs 23.1 s checkpointed — the checkpoint forces the full
    // membership incl. vectors onto the block manager), and even the
    // fan-out mining consumer (q271) measured FASTER recomputing the
    // pruned branches than reading the materialized rows
    // (173.8 s vs 192.8 s). The general localCheckpoint-per-round rule
    // applies to ITERATED state, not to a one-shot kernel whose
    // consumers prune differently.
    splitRows.unionAll(passRows)
  }

  /** IVF-PQ with RESIDUAL codebooks — the full production index
    * composition (coarse quantizer × nprobe probing × product-quantized
    * residuals with ADC scoring): each vector is assigned to its
    * nearest coarse centroid, the PQ codebooks are trained on the
    * RESIDUALS v − c_bucket (the standard refinement: residuals are
    * centered near zero, so a fixed code budget spends its resolution
    * on the part the coarse quantizer could not explain), and the
    * per-query scan touches only the probed buckets' packed codes plus
    * a broadcast LUT.
    *
    *  - Coarse layer: `centroidsWide` build + `assignToNearest`, the
    *    q38/q79 machinery; probe set = `nprobe` nearest centroids.
    *  - Residual codebooks: subspace m's codebook is the per-label 6dp
    *    centroid of the residuals restricted to dims [m·s, (m+1)·s) —
    *    label-keyed like every quantizer here, so both engines derive
    *    identical codebooks.
    *  - Encoding: code_m = argmin 6dp-rounded L2² between the vector's
    *    residual subvector and the codebook entries (ties → min label);
    *    codes pack via PackInt8 to physical binary.
    *  - ADC: the reconstruction is v̂ = c_bucket + r̂, so the LUT is
    *    keyed (bucket, code label, m): dot(q_m, c_b_m + rcb_l_m) and
    *    ‖c_b_m + rcb_l_m‖² — C·C·numSub broadcast cells; subspaces
    *    partition the dims, so Σ_m cells give dot(q, v̂) and ‖v̂‖²
    *    exactly, and pq_sim = dot / (‖q‖·‖v̂‖), folded in subspace
    *    order on both engines. Exact cosine + brute-force-membership
    *    audit ride along (the q89 pattern).
    *
    * Scale shape: encode once at ingest (the index build); the
    * per-query cost reads nprobe/C of the corpus at numSub bytes per
    * vector — the coarse cut and the code compression MULTIPLY, and
    * the LUT (C·C·numSub doubles) is still broadcast-trivial.
    */
  def ivfPqTopK(df: DataFrame, id: Column, vec: Column, label: Column,
                queryId: Long, k: Int, dim: Int, numSub: Int,
                nprobe: Int): DataFrame = {
    require(numSub >= 1 && dim % numSub == 0,
      s"dim=$dim must divide into numSub=$numSub equal subspaces")
    require(nprobe >= 1, "nprobe must be >= 1")
    val subLen = dim / numSub
    val e = df.select(id.as("vec_id"), toDouble(vec).as("v"), label.as("lbl"))
      .filter(array_max(transform(col("v"), x => abs(x))) > 0)
    val cents = centroidsWide(e)
    val assigned = assignToNearest(e, cents) // vec_id, v, lbl, bucket
    val res = assigned
      .join(broadcast(cents), col("bucket") === col("c_lbl"))
      .select(col("vec_id"), col("v"), col("lbl"), col("bucket"),
        zip_with(col("v"), col("cv"), (x, y) => x - y).as("r"))
    val rcb = centroidsWide(res.select(col("lbl"), col("r").as("v")))
    val rcbArr = rcb
      .agg(array_sort(collect_list(struct(col("c_lbl"), col("cv")))).as("rcbs"))
    val codesCol = array((0 until numSub).map { m =>
      val sv = slice(col("r"), m * subLen + 1, subLen)
      val zero = struct(lit(Double.MaxValue).as("d"),
        element_at(col("rcbs"), 1).getField("c_lbl").as("l"))
      aggregate(col("rcbs"), zero, (acc, c) => {
        val dsub = slice(c.getField("cv"), m * subLen + 1, subLen)
        val dd = round(aggregate(zip_with(sv, dsub, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc2, x) => acc2 + x), 6)
        when(dd < acc.getField("d"),
          struct(dd.as("d"), c.getField("c_lbl").as("l"))).otherwise(acc)
      }).getField("l")
    }: _*)
    val coded = res.crossJoin(broadcast(rcbArr))
      .select(col("vec_id"), col("v"), col("bucket"),
        graft.functions.Int8Vec.pack(codesCol).as("pq_code"))
    val qrow = e.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"),
        sqrt(aggregate(col("v"), lit(0.0), (acc, x) => acc + x * x))
          .as("qnorm"))
    val qbuckets = nearestBuckets(cents, qrow.select(col("qv")), nprobe)
    // per-bucket LUT: bucket -> map(code label -> per-subspace (dot, n2)
    // of the reconstruction c_bucket + rcb_label)
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    def sq(a: Column): Column =
      aggregate(a, lit(0.0), (acc, x) => acc + x * x)
    val lut = cents.select(col("c_lbl").as("bucket"), col("cv"))
      .join(qbuckets, col("bucket") === col("qbucket")).drop("qbucket")
      .crossJoin(broadcast(rcb.select(col("c_lbl").as("r_lbl"), col("cv").as("rv"))))
      .crossJoin(broadcast(qrow.select(col("qv"))))
      .select(col("bucket"), col("r_lbl"), array((0 until numSub).map { m =>
        val recon = zip_with(
          slice(col("cv"), m * subLen + 1, subLen),
          slice(col("rv"), m * subLen + 1, subLen), (x, y) => x + y)
        val qvm = slice(col("qv"), m * subLen + 1, subLen)
        struct(dot(qvm, recon).as("dot"), sq(recon).as("n2"))
      }: _*).as("sub"))
      .groupBy("bucket")
      .agg(collect_list(struct(col("r_lbl"), col("sub"))).as("entries"))
      .select(col("bucket").as("lut_bucket"),
        map_from_entries(col("entries")).as("lutMap"))
    val codes = graft.functions.Int8Vec.unpack(col("pq_code"))
    val acc0 = struct(lit(0.0).as("num"), lit(0.0).as("n2"))
    val sums = aggregate(sequence(lit(0), lit(numSub - 1)), acc0, (acc, m) => {
      val cell = element_at(element_at(col("lutMap"),
        element_at(codes, m + 1)), m + 1)
      struct((acc.getField("num") + cell.getField("dot")).as("num"),
        (acc.getField("n2") + cell.getField("n2")).as("n2"))
    })
    val approx = coded.filter(col("vec_id") =!= queryId)
      .join(broadcast(lut), col("bucket") === col("lut_bucket"))
      .crossJoin(broadcast(qrow))
      .select(col("vec_id"),
        round(sums.getField("num") /
          (col("qnorm") * sqrt(sums.getField("n2"))), 4).as("pq_sim"),
        round(cos(col("v"), col("qv")), 4).as("cos_sim"))
      .orderBy(col("pq_sim").desc, col("vec_id"))
      .limit(k)
    val exact = e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qrow.select(col("qv"))))
      .select(col("vec_id"), round(cos(col("v"), col("qv")), 4).as("s"))
      .orderBy(col("s").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), lit(true).as("hit"))
    approx.join(exact, Seq("vec_id"), "left")
      .select(col("vec_id"), col("pq_sim"), col("cos_sim"),
        coalesce(col("hit"), lit(false)).as("in_exact_topk"))
      .orderBy(col("pq_sim").desc, col("vec_id"))
  }

  /** Batch kNN join: top-k corpus neighbors for EVERY query vector —
    * the workload shape of retrieval eval sets and near-dup candidate
    * mining, where single-query probes (bruteForceTopK) would mean M
    * separate jobs.
    *
    * Scale shape: the query side (eval sets — thousands of vectors) is
    * BROADCAST against the streaming corpus scan; scoring is one fused
    * codegen cosine per (corpus row, query); the per-query top-k runs
    * on the custom TopKPerKey node, so the only shuffle carries ≤ k
    * rows per (query, input partition) — never the M×N scored space.
    */
  def knnJoin(corpus: DataFrame, id: Column, vec: Column,
              queries: DataFrame, qid: Column, qvec: Column,
              k: Int): DataFrame = {
    // Scoring-parallelism guard: the M×N scored pass inherits the
    // CORPUS SCAN's partitioning (the broadcast side adds none, and
    // nothing shuffles before TopKPerKey's partial heaps) — a small
    // parquet file arrives as ONE split and would serialize the whole
    // quadratic scoring budget onto one core (caught by the sf1
    // rehearsal: 10+ min single-threaded at 20k×20k). Spread the scan
    // when it's narrower than the cluster; never shrink a wide one.
    val c0 = corpus.select(id.as("vec_id"), toDouble(vec).as("v"))
    val lanes = corpus.sparkSession.sparkContext.defaultParallelism
    val c = if (c0.rdd.getNumPartitions < lanes) c0.repartition(lanes) else c0
    val q = queries.select(qid.as("query_id"), toDouble(qvec).as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("vec_id"),
        round(cos(col("v"), col("qv")), 4).as("cos_sim"))
    graft.plans.TopK.perKey(scored, Seq("query_id"), "cos_sim",
      desc = true, tiebreak = Seq("vec_id"), k = k)
  }

  /** The int8 scan-side projection: (vec_id, v exact, q8 BINARY). The
    * quantized vector is PHYSICALLY one byte per component —
    * `VectorFunctions.quantizeInt8` (the tested single source of the
    * quantization arithmetic) packed through the PackInt8 kernel — so
    * the 8x-vs-double / 4x-vs-float memory-and-bandwidth cut of the
    * int8 ANN path is real storage, not a claim (Int8VecSpec asserts
    * this column is BinaryType). Zero vectors quantize to NULL (no
    * scale exists; cosine is undefined for them anyway) and are dropped.
    */
  def quantizedVectors(df: DataFrame, id: Column, vec: Column): DataFrame =
    df.select(id.as("vec_id"), toDouble(vec).as("v"))
      // zero-vector guard as a standalone max|x| pass (one cheap array
      // scan), NOT `q8.isNotNull`: predicate pushdown would inline the
      // whole quantize+pack chain into the filter and evaluate it twice
      // per row (observed: 1.6x on the q71 scan).
      .filter(array_max(transform(col("v"), x => abs(x))) > 0)
      .select(col("vec_id"), col("v"),
        graft.functions.Int8Vec.pack(quantizeInt8(col("v"))).as("q8"))

  /** Int8-quantized brute-force top-k with a built-in accuracy audit:
    * every vector is symmetrically quantized to int8 (per-vector
    * scale 127/max|x|; the scale cancels in cosine), candidates are
    * ranked by QUANTIZED cosine, and the exact cosine rides along so
    * the result itself certifies the approximation (`close` = the two
    * scores agree within `tol`) — the q54/q63/q70 audit pattern
    * applied to vector quantization.
    *
    * Scale shape: the scan side carries packed int8 BINARY vectors
    * (64 B vs 512 B of doubles at d=64 — see quantizedVectors), scored
    * by the fused long-arithmetic ByteCosine kernel; integer sums are
    * exact below 2^53, so byte-domain scores are bit-identical to the
    * oracle's double-domain scoring of the same integers. One pass,
    * single-row broadcast query, TakeOrdered top-k; the exact-cosine
    * audit rides in the same projection, no second scan.
    */
  def quantizedTopK(df: DataFrame, id: Column, vec: Column,
                    queryId: Long, k: Int, tol: Double): DataFrame = {
    val quantized = quantizedVectors(df, id, vec)
    val q = quantized.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), col("q8").as("qq"))
    quantized.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(graft.functions.Int8Vec.byteCosine(col("q8"), col("qq")), 4)
          .as("qcos_sim"),
        round(cos(col("v"), col("qv")), 4).as("cos_sim"))
      .withColumn("close", abs(col("qcos_sim") - col("cos_sim")) <= tol)
      .orderBy(col("qcos_sim").desc, col("vec_id"))
      .limit(k)
  }

  /** EMBEDDING-SPACE drift between two deterministic corpus halves
    * (id parity): per-dimension 6-dp centroid means side by side with
    * the absolute shift in exact micro-units, plus the squared cosine
    * between the two mean vectors in signed basis points — the
    * distribution-shift monitor for embedding pipelines (the
    * dense-space sibling of q131's count-TVD drift). After the 6-dp
    * rounding the means become EXACT integers in micro-units, so the
    * mean-vector cosine runs the q182 sqrt-free integral program
    * (sign reapplied by multiplication) — no cross-engine float-sum
    * ordering anywhere near the contract.
    *
    * Scale shape: one posexplode + (half, dim) aggregate with map-side
    * partials (the exchange carries 2·d rows); everything downstream
    * is constant-size (d-row join, 1-row cosine fold broadcast back).
    */
  def halfCentroidDrift(df: DataFrame, id: Column, vec: Column): DataFrame = {
    val e = df.select((id % 2).as("half"), toDouble(vec).as("v"))
    val m = e.select(col("half"), posexplode(col("v")).as(Seq("d0", "x")))
      .groupBy("half", "d0").agg(round(avg("x"), 6).as("mu"))
      .withColumn("mu_u", round(col("mu") * 1000000).cast("long"))
    val j = m.filter(col("half") === 0)
      .select(col("d0"), col("mu").as("mean_a"), col("mu_u").as("ua"))
      .join(m.filter(col("half") === 1)
        .select(col("d0"), col("mu").as("mean_b"), col("mu_u").as("ub")),
        "d0")
    val dec = "decimal(38,0)"
    val cosRow = j.agg(
        sum((col("ua") * col("ub")).cast(dec)).as("dot"),
        sum((col("ua") * col("ua")).cast(dec)).as("na"),
        sum((col("ub") * col("ub")).cast(dec)).as("nb"))
      .select(when(col("na") === 0 || col("nb") === 0, lit(null))
        .otherwise(signum(col("dot")).cast("long") *
          expr("CAST((dot * dot * 10000) div ((na * nb) div 10000) div 10000 AS BIGINT)"))
        .as("cos2_bp"))
    j.select((col("d0") + 1).cast("int").as("dim"), col("mean_a"),
        col("mean_b"), abs(col("ua") - col("ub")).as("shift_u"))
      .crossJoin(broadcast(cosRow))
  }

  /** Mutual nearest neighbors with MARGIN scoring — the bitext/parallel-
    * pair mining shape (Artetxe & Schwenk, ACL'19): a pair qualifies
    * when each vector is the other's top-1 neighbor, and its margin
    * divides the pair cosine by the mean of the two k-NN neighborhood
    * cosines — "close in absolute terms AND closer than everything
    * around you", which kills hub vectors that are near everything.
    *
    *   margin_bp = (2·k·cu(x,y)·10⁴) div (Sx + Sy)
    *
    * with cu = round(cos·10⁴) (the 4-dp contract integerized) and
    * Sx = Σ cu over x's k nearest others. The quotient runs on the
    * integer domain; pairs where cu ≤ 0 or Sx + Sy ≤ 0 are dropped by
    * loud contract (mutual top-1 pairs with non-positive cosine are
    * degenerate; keeping the division non-negative is the engine-
    * agreement rule every Stats program follows).
    *
    * Scale shape: ONE scored pass (corpus scan × broadcast corpus — the
    * knnJoin shape) feeds both the rank-1 extraction and the
    * neighborhood sums; per-query top-k runs on the TopKPerKey node
    * (≤ k+1 rows per query·partition shuffle); mutuality is a self-join
    * keyed on the (src, dst) pair. Exact by construction at this size —
    * at 100 TB the same downstream runs over ANN lists (q38/q67)
    * instead of the exact scored pass.
    */
  /** Top-k OTHER neighbors per vector with rank and the integerized
    * 4-dp cosine — the shared exact scored pass under mutualNnMargin
    * and hardNegatives (one knnJoin through TopKPerKey; self excluded
    * after the fact, hence k+1 in).
    */
  private[graft] def rankedNeighbors(df: DataFrame, id: Column, vec: Column,
                              k: Int): DataFrame = {
    val e = df.select(id.as("vec_id"), toDouble(vec).as("v"))
    rankedNeighborsFor(e, e, k)
  }

  /** The exact scored pass for an arbitrary QUERY SUBSET: top-k corpus
    * neighbors per query row, with rank and the integerized 4-dp
    * cosine. Shared by the full pass ([[rankedNeighbors]], queries =
    * corpus) and the sampled audit ([[mutualTop1PairsSampled]],
    * queries = an m-anchor hash sample — m×n work, linear in the
    * corpus for fixed m). Both frames must carry (vec_id, v).
    */
  private def rankedNeighborsFor(corpus: DataFrame, queries: DataFrame,
                                 k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    knnJoin(corpus, col("vec_id"), col("v"),
        queries, col("vec_id"), col("v"), k + 1)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .withColumn("cu", round(col("cos_sim") * 10000).cast("long"))
  }

  /** Deterministic fixed-size anchor sample: the `m` ids with the
    * smallest (hash60(id), id) — the q181 priority-sample discipline
    * applied to audit scoping. Fixed SIZE (not a fixed rate): the
    * audit's cost stays m×n as the corpus grows, and the oracle
    * replays the selection exactly (ORDER BY md5-hash, id LIMIT m).
    * m >= corpus makes the sample the whole corpus. Plan shape:
    * TakeOrdered over a per-row hash projection — no global sort.
    */
  def anchorSampleIds(df: DataFrame, id: Column, m: Int,
                      seed: Int): DataFrame = {
    require(m >= 1, "anchorSampleIds needs m >= 1")
    df.select(id.as("vec_id"),
        graft.functions.TextFunctions
          .hash60(id.cast("string"), seed).as("__h"))
      .orderBy(col("__h"), col("vec_id")).limit(m)
      .select("vec_id")
  }

  /** Mutual top-1 pairs (src < dst, with the pair cosine/cu) from a
    * ranked-neighbor table — the mutuality core shared by the exact and
    * IVF mining paths and by the recall audit.
    */
  private def mutualTop1(topk: DataFrame): DataFrame = {
    val top1 = topk.filter(col("rn") === 1)
      .select(col("query_id").as("src"), col("vec_id").as("dst"),
        col("cos_sim"), col("cu"))
    top1.as("x").join(
        top1.select(col("src").as("dst"), col("dst").as("src")).as("y"),
        Seq("src", "dst"))
      .filter(col("src") < col("dst"))
  }

  /** Margin assembly over any ranked-neighbor table (exact or IVF):
    * mutuality + neighborhood sums + the integer margin quotient.
    */
  private def marginFromTopk(topk: DataFrame, k: Int): DataFrame = {
    val sums = topk.groupBy("query_id").agg(sum("cu").as("s"))
    mutualTop1(topk)
      .join(sums.select(col("query_id").as("src"), col("s").as("sx")), "src")
      .join(sums.select(col("query_id").as("dst"), col("s").as("sy")), "dst")
      .filter(col("cu") > 0 && (col("sx") + col("sy")) > 0)
      .select(col("src").as("vec_a"), col("dst").as("vec_b"),
        col("cos_sim"),
        expr(s"(2 * $k * cu * 10000) div (sx + sy)").as("margin_bp"))
  }

  def mutualNnMargin(df: DataFrame, id: Column, vec: Column,
                     k: Int): DataFrame = {
    require(k >= 1, "mutualNnMargin needs k >= 1")
    marginFromTopk(rankedNeighbors(df, id, vec, k), k)
  }

  /** Top-k neighbors per vector restricted to the query's `nprobe`
    * nearest IVF buckets — the 100 TB substitute for the exact scored
    * pass under [[mutualNnMargin]]/[[hardNegatives]] (the swap the
    * exact variants' Scaladoc promises). Quantizer build, assignment
    * ordering, rounding, and tiebreaks are EXACTLY ivfTopK's (per-label
    * 6-dp centroids; rounded-4-dp cosine, min-label ties), so the
    * DuckDB oracle replays the lists bit-for-bit; the rank-1 of the
    * per-row probe ranking IS the row's assigned bucket, so every
    * vector's own bucket is always probed.
    *
    * Scale shape — what changes vs the exact pass: the corpus is never
    * broadcast. Candidates carry their assigned bucket, queries explode
    * to (query, probe-bucket) rows, and the scored space is a
    * BUCKET-KEYED equi-join (shuffle on bucket — at 100 TB the
    * bucket-partitioned persisted layout of ivfTopKPartitioned serves
    * it with no shuffle at all), scanning nprobe/C of the pair space
    * instead of all of it. Per-query top-k still runs on TopKPerKey.
    * Probe ranking is a per-row sorted array over the ONE broadcast
    * centroid row — no exchange, same as assignment.
    */
  private[graft] def rankedNeighborsIvf(df: DataFrame, id: Column,
      vec: Column, label: Column, k: Int, nprobe: Int): DataFrame =
    rankedNeighborsIvfCore(df, id, vec, label, k, nprobe,
      anchors = None, int8 = false)

  /** The IVF ranked-neighbor pass with two orthogonal scale switches
    * (both off in [[rankedNeighborsIvf]], which predates them):
    *
    *  - `anchors`: restrict the QUERY side to a given id frame — the
    *    sampled-anchor mining discipline (round-10 verdict #1). The
    *    index/candidate side stays FULL-corpus, so each anchor's list
    *    is exactly the list the full pass would produce for it; total
    *    cost drops from n·nprobe·(n/C) to m·nprobe·(n/C) — linear in
    *    the corpus for fixed m, which is what retires the Θ(n^1.5)
    *    full self-mining asymptote at 100 TB ("mine every vector" is
    *    the wrong query there; mine a deterministic anchor sample).
    *  - `int8`: score the probe scan in the byte domain — both sides
    *    quantize through quantizeInt8/PackInt8 and score through the
    *    fused long-arithmetic ByteCosine kernel (bit-identical to
    *    double cosine over the same integer values, the q84 bargain,
    *    so the oracle keeps scoring `q8::DOUBLE[]`), cutting the
    *    scan's memory traffic 8x vs doubles. Bucket assignment and
    *    probe RANKING stay exact — they are one-time build work.
    */
  private def rankedNeighborsIvfCore(df: DataFrame, id: Column,
      vec: Column, label: Column, k: Int, nprobe: Int,
      anchors: Option[DataFrame], int8: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "rankedNeighborsIvf needs k >= 1")
    require(nprobe >= 1, "nprobe must be >= 1")
    val e = df.select(id.as("vec_id"), toDouble(vec).as("v"), label.as("lbl"))
    val cents = centroidsWide(e)
    val centArr = cents
      .agg(array_sort(collect_list(struct(col("c_lbl"), col("cv")))).as("cents"))
    // all C centroids ranked per row (sim desc, label asc — the
    // assignToNearest fold's exact ordering; spec-pinned equal)
    val rankedArr = array_sort(
      transform(col("cents"), c => struct(
        round(cos(col("v"), c.getField("cv")), 4).as("sim"),
        c.getField("c_lbl").as("lbl"))),
      (l, r) =>
        when(l.getField("sim") > r.getField("sim"), -1)
          .when(l.getField("sim") < r.getField("sim"), 1)
          .when(l.getField("lbl") < r.getField("lbl"), -1)
          .when(l.getField("lbl") > r.getField("lbl"), 1)
          .otherwise(0))
    val base = e.crossJoin(broadcast(centArr)).withColumn("ranked", rankedArr)
    def packed(c: Column): Column =
      graft.functions.Int8Vec.pack(quantizeInt8(c))
    // Salted bucket join: the scored join's key cardinality is C
    // buckets, which would cap scoring parallelism at C regardless of
    // cluster width (the q41 salting pattern — semantics unchanged,
    // every pair still meets exactly once on its (bucket, salt) key).
    // Members take a deterministic salt; probes replicate ×salts.
    val salts = 8
    val assigned0 = base.select(col("vec_id"), col("v"),
      element_at(col("ranked"), 1).getField("lbl").as("bucket"),
      pmod(xxhash64(col("vec_id")), lit(salts)).as("__salt"))
    val assigned =
      if (int8) assigned0.withColumn("q8", packed(col("v"))).drop("v")
      else assigned0
    val probes0 = base.select(col("vec_id").as("query_id"),
        col("v").as("qv"),
        explode(transform(slice(col("ranked"), 1, nprobe),
          p => p.getField("lbl"))).as("pb"))
    // anchor restriction BEFORE the salt replication and the scored
    // join — the whole m/n cut happens on the probe side's first
    // projection, and the broadcast semi-join never touches the
    // corpus-sized candidate scan
    val probes1 = anchors match {
      case Some(a) => probes0.join(
        broadcast(a.select(col("vec_id").as("query_id"))),
        Seq("query_id"), "left_semi")
      case None => probes0
    }
    val probes2 =
      if (int8) probes1.withColumn("qq", packed(col("qv"))).drop("qv")
      else probes1
    val probes = probes2
      .withColumn("__salt", explode(array((0 until salts).map(lit): _*)))
    val simCol =
      if (int8) graft.functions.Int8Vec.byteCosine(col("q8"), col("qq"))
      else cos(col("v"), col("qv"))
    val scored = assigned.join(probes,
        col("bucket") === col("pb") && assigned("__salt") === probes("__salt"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(simCol, 4).as("cos_sim"))
    graft.plans.TopK.perKey(scored, Seq("query_id"), "cos_sim",
        desc = true, tiebreak = Seq("vec_id"), k = k)
      .withColumn("rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cos_sim").desc, col("vec_id"))))
      .withColumn("cu", round(col("cos_sim") * 10000).cast("long"))
  }

  /** [[mutualNnMargin]] over IVF neighbor lists instead of the exact
    * scored pass — same output contract (margins computed over the IVF
    * neighborhoods). Pair recall vs exact is the caller's audit
    * ([[mutualTop1Pairs]] / [[mutualTop1PairsIvf]], q247/q249).
    */
  def mutualNnMarginIvf(df: DataFrame, id: Column, vec: Column,
      label: Column, k: Int, nprobe: Int): DataFrame = {
    marginFromTopk(rankedNeighborsIvf(df, id, vec, label, k, nprobe), k)
  }

  /** [[mutualNnMarginIvf]] restricted to a deterministic m-anchor hash
    * sample of QUERIES — the sampled-anchor discipline
    * ([[anchorSampleIds]], already proven on q247/q249's audits)
    * composed with the kmeans-index mining itself (round-10 verdict
    * #1: full self-mining under C ≈ √n is Θ(n^1.5) by construction —
    * the only superlinear rows in the three-decade scaling record).
    * The index side stays full-corpus, so each anchor's neighbor list
    * (and hence each emitted pair) is EXACTLY what the full pass
    * would produce; the output equals the full mining restricted to
    * pairs with BOTH endpoints sampled (mutuality needs both
    * directions' top-1 — spec-pinned). m >= corpus degenerates to the
    * full pass exactly. `int8` routes the probe scan through the
    * packed byte path (PackInt8/ByteCosine) — scores are then the
    * quantized cosines, the q84 contract.
    */
  def mutualNnMarginIvfSampled(df: DataFrame, id: Column, vec: Column,
      label: Column, k: Int, nprobe: Int, m: Int, seed: Int,
      int8: Boolean = false): DataFrame = {
    val anchors = anchorSampleIds(df.select(id.as("vec_id")),
      col("vec_id"), m, seed)
    marginFromTopk(rankedNeighborsIvfCore(df, id, vec, label, k, nprobe,
      Some(anchors), int8), k)
  }

  /** Exact mutual top-1 pairs, unfiltered by margin guards — the audit
    * ground truth for the IVF mining path.
    */
  def mutualTop1Pairs(df: DataFrame, id: Column, vec: Column): DataFrame =
    mutualTop1(rankedNeighbors(df, id, vec, 1))
      .select(col("src").as("vec_a"), col("dst").as("vec_b"))

  /** Exact mutual top-1 pairs RESTRICTED to a deterministic m-anchor
    * hash sample — the audit ground truth at scale (round-9 verdict:
    * the full-corpus exact pass embedded in q247/q249 was the suite's
    * worst sf1 exponent, defeating the IVF swap at exactly the scale
    * it targets). Each sampled anchor's top-1 is still computed over
    * the FULL corpus (one m×n scored pass through TopKPerKey —
    * linear in the corpus for fixed m), so the output EQUALS the
    * full exact-mutual pair set restricted to pairs with BOTH
    * endpoints sampled (spec-pinned): mutuality of a sampled pair
    * needs both directions' top-1, hence both endpoints in the
    * sample. m >= corpus degenerates to [[mutualTop1Pairs]] exactly.
    */
  def mutualTop1PairsSampled(df: DataFrame, id: Column, vec: Column,
                             m: Int, seed: Int): DataFrame = {
    val e = df.select(id.as("vec_id"), toDouble(vec).as("v"))
    val anchors = anchorSampleIds(e, col("vec_id"), m, seed)
    mutualTop1(rankedNeighborsFor(e, e.join(broadcast(anchors), "vec_id"), 1))
      .select(col("src").as("vec_a"), col("dst").as("vec_b"))
  }

  /** IVF-list mutual top-1 pairs (see [[rankedNeighborsIvf]]). */
  def mutualTop1PairsIvf(df: DataFrame, id: Column, vec: Column,
      label: Column, nprobe: Int): DataFrame =
    mutualTop1(rankedNeighborsIvf(df, id, vec, label, 1, nprobe))
      .select(col("src").as("vec_a"), col("dst").as("vec_b"))

  /** One-row recall scoreboard of an approximate (vec_a, vec_b) pair
    * set against a ground-truth pair set (possibly sample-restricted —
    * [[mutualTop1PairsSampled]]): both sets collapse to pair keys,
    * ONE full-outer join, one algebraic aggregate. recall_bp is NULL
    * when the ground-truth set is empty (possible under sampling —
    * reported honestly, not divided through). n_approx counts the
    * approximate set UNRESTRICTED; n_exact/n_common count within the
    * ground truth's scope.
    */
  def pairRecallScoreboard(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.withColumn("ex", lit(1L))
      .join(approx.withColumn("iv", lit(1L)),
        Seq("vec_a", "vec_b"), "full_outer")
      .agg(
        coalesce(sum(coalesce(col("iv"), lit(0L))), lit(0L)).as("n_approx"),
        coalesce(sum(coalesce(col("ex"), lit(0L))), lit(0L)).as("n_exact"),
        coalesce(sum(coalesce(col("ex"), lit(0L)) *
          coalesce(col("iv"), lit(0L))), lit(0L)).as("n_common"))
      .select(col("n_approx"), col("n_exact"), col("n_common"),
        when(col("n_exact") > 0,
          expr("(n_common * 10000) div n_exact")).as("recall_bp"))

  /** Contrastive HARD-NEGATIVE mining: for every anchor that has a
    * mutual-top-1 positive, emit the triplet (anchor, positive,
    * hardest negative) where the negative is the anchor's best-scoring
    * OTHER neighbor (rank 2 — by construction the highest cosine that
    * is not the positive). The gap column is the contrastive margin the
    * triplet trains against: gap_bp = cu(pos) − cu(neg), exact on the
    * integerized 4-dp cosines (can be 0 when rounded scores tie — a
    * curriculum filter is the caller's business, not ours).
    *
    * Both members of a mutual pair anchor a triplet, so one pair
    * yields two rows — the standard symmetric-triplet expansion.
    *
    * Scale shape: the SAME single scored pass as [[mutualNnMargin]]
    * (TopKPerKey, broadcast query copy); mutuality and the rank-2
    * probe are joins keyed on ids. At 100 TB the pass swaps for ANN
    * lists; the triplet assembly is unchanged.
    */
  def hardNegatives(df: DataFrame, id: Column, vec: Column): DataFrame =
    hardNegativesFromTopk(rankedNeighbors(df, id, vec, 2))

  /** [[hardNegatives]] over IVF neighbor lists — the 100 TB mining
    * regime (see [[rankedNeighborsIvf]]); same triplet contract.
    */
  def hardNegativesIvf(df: DataFrame, id: Column, vec: Column,
      label: Column, nprobe: Int): DataFrame =
    hardNegativesFromTopk(rankedNeighborsIvf(df, id, vec, label, 2, nprobe))

  /** [[hardNegativesIvf]] restricted to a deterministic m-anchor hash
    * sample of queries — see [[mutualNnMarginIvfSampled]] for the
    * sampling contract (triplets whose mutual pair has both endpoints
    * sampled; negatives may be any corpus vector).
    */
  def hardNegativesIvfSampled(df: DataFrame, id: Column, vec: Column,
      label: Column, nprobe: Int, m: Int, seed: Int,
      int8: Boolean = false): DataFrame = {
    val anchors = anchorSampleIds(df.select(id.as("vec_id")),
      col("vec_id"), m, seed)
    hardNegativesFromTopk(rankedNeighborsIvfCore(df, id, vec, label, 2,
      nprobe, Some(anchors), int8))
  }

  private def hardNegativesFromTopk(topk: DataFrame): DataFrame = {
    val top1 = topk.filter(col("rn") === 1)
      .select(col("query_id").as("anchor_id"),
        col("vec_id").as("positive_id"),
        col("cos_sim").as("cos_pos"), col("cu").as("cu_pos"))
    val mutual = top1.as("x").join(
        top1.select(col("anchor_id").as("positive_id"),
          col("positive_id").as("anchor_id")).as("y"),
        Seq("anchor_id", "positive_id"), "left_semi")
    val top2 = topk.filter(col("rn") === 2)
      .select(col("query_id").as("anchor_id"),
        col("vec_id").as("negative_id"),
        col("cos_sim").as("cos_neg"), col("cu").as("cu_neg"))
    mutual.join(top2, "anchor_id")
      .select(col("anchor_id"), col("positive_id"), col("negative_id"),
        col("cos_pos"), col("cos_neg"),
        (col("cu_pos") - col("cu_neg")).as("gap_bp"))
  }

  /** NDCG@k of the exact-cosine ranking against LABEL-GRADED relevance
    * — the retrieval-eval square of q142's recall/MRR scoreboard, with
    * graded gains instead of binary hits: a neighbor earns gain 2 on an
    * exact label match, 1 on an adjacent label (|Δ| = 1), else 0.
    *
    * The discount is the LINEAR-weight DCG (gain/(rank+1), Wang et al.
    * 2013's family with the log swapped for a rational weight): scaled
    * by 27720 = lcm(2..11) every per-rank weight 27720 div (rank+1) is
    * an EXACT integer through rank 10 — the usual log2 discount cannot
    * cross engines bit-for-bit, this one can (the standing no-libm
    * bargain). ndcg_bp = 10⁴·dcg div idcg, idcg from the same gains
    * re-ranked gain-desc (rank-asc tiebreak); all operands
    * non-negative, so truncation and floor agree.
    *
    * Scale shape: the query side broadcasts (a handful of probes), the
    * corpus scans once through the codegen'd cosine, per-query top-k
    * via the TopKPerKey node; both rank windows run on k·|queries|
    * rows — nothing corpus-sized past the scan.
    */
  def ndcgLabelGraded(corpus: DataFrame, id: Column, vec: Column,
                      label: Column, queries: DataFrame, qid: Column,
                      qvec: Column, qlabel: Column, k: Int): DataFrame = {
    val c = corpus.select(id.as("vec_id"), toDouble(vec).as("v"),
      label.cast("long").as("lbl"))
    val q = queries.select(qid.as("qid"), toDouble(qvec).as("qv"),
      qlabel.cast("long").as("qlbl"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("qid"), col("qlbl"), col("vec_id"), col("lbl"),
        round(cos(col("v"), col("qv")), 4).as("cs"))
    val top = graft.plans.TopK.perKey(scored, Seq("qid"), "cs",
      desc = true, tiebreak = Seq("vec_id"), k = k)
    val wr = Window.partitionBy("qid").orderBy(col("cs").desc, col("vec_id"))
    val ranked = top
      .withColumn("rnk", row_number().over(wr).cast("long"))
      .withColumn("g",
        when(col("lbl") === col("qlbl"), 2L)
          .when(abs(col("lbl") - col("qlbl")) === 1, 1L)
          .otherwise(0L))
    val wi = Window.partitionBy("qid").orderBy(col("g").desc, col("rnk"))
    ranked
      .withColumn("irnk", row_number().over(wi).cast("long"))
      .groupBy("qid")
      .agg(
        sum(expr("g * (27720 div (rnk + 1))")).cast("long").as("dcg"),
        sum(expr("g * (27720 div (irnk + 1))")).cast("long").as("idcg"))
      .select(col("qid"), col("dcg"), col("idcg"),
        when(col("idcg") === 0, 0L)
          .otherwise(expr("(10000 * dcg) div idcg")).as("ndcg_bp"))
      .orderBy("qid")
  }

  /** MATRYOSHKA truncation audit: recall@k of the cosine ranking under
    * PREFIX-truncated embeddings (Kusupati et al. 2022) against the
    * full-dimension ranking — the eval that decides how far an MRL
    * embedding can be cut for the cheap first-stage scan. One row per
    * (query, dims): recall_bp = 10⁴·|top_k(dims) ∩ top_k(full)| div k.
    *
    * Scale shape: same as every batch eval here — queries broadcast,
    * corpus scanned once per ranking through the codegen'd cosine
    * (`slice` keeps the truncation inside the same expression), each
    * ranking collapses to k·|queries| rows via TopKPerKey before the
    * overlap joins; a query whose overlap is empty emits no row (both
    * engines agree — inner-join semantics).
    */
  def matryoshkaRecall(corpus: DataFrame, id: Column, vec: Column,
                       queries: DataFrame, qid: Column, qvec: Column,
                       dimsList: Seq[Int], k: Int): DataFrame = {
    require(dimsList.nonEmpty, "matryoshkaRecall needs at least one dims")
    val c = corpus.select(id.as("vec_id"), toDouble(vec).as("v"))
    val q = queries.select(qid.as("qid"), toDouble(qvec).as("qv"))
    val joined = c.crossJoin(broadcast(q))
    def topAt(dims: Option[Int]) = {
      val (vv, qq) = dims match {
        case Some(n) => (slice(col("v"), 1, n), slice(col("qv"), 1, n))
        case None    => (col("v"), col("qv"))
      }
      graft.plans.TopK.perKey(
        joined.select(col("qid"), col("vec_id"),
          round(cos(vv, qq), 4).as("cs")),
        Seq("qid"), "cs", desc = true, tiebreak = Seq("vec_id"), k = k)
        .select("qid", "vec_id")
    }
    val full = topAt(None).cache()
    dimsList.map { dm =>
      topAt(Some(dm)).join(full, Seq("qid", "vec_id"))
        .groupBy("qid").agg(count(lit(1)).as("n"))
        .select(col("qid"), lit(dm.toLong).as("dims"),
          expr(s"(10000 * n) div $k").as("recall_bp"))
    }.reduce(_ unionAll _).orderBy("qid", "dims")
  }

  /** MMR DIVERSIFICATION (maximal marginal relevance, Carbonell &
    * Goldstein 1998): re-rank a relevance top-`candK` so each pick
    * balances relevance against similarity to what was already picked —
    *
    *   score(c) = λ·rel_bp(c) − (1−λ)·maxₚ cos_bp(c, p)
    *
    * in integer hundredth-weights (λ = lamPct/100), ties to the
    * smallest id. The serving-side answer to "the top 10 are ten
    * near-copies" — which is precisely what a deduplicated corpus
    * still produces for a hot query.
    *
    * Scale shape: the candidate set is a top-k artifact (candK rows —
    * broadcast-small BY CONSTRUCTION, like every reranker input); the
    * candidate×candidate cosine table is candK² rows computed once;
    * each greedy round is one small agg with a 1-row driver argmax
    * (q193's bounded-driver bargain — `pickK` scalars total).
    */
  def mmrDiversify(corpus: DataFrame, id: Column, vec: Column,
                   queryId: Long, candK: Int, pickK: Int,
                   lamPct: Int): DataFrame = {
    require(pickK >= 1 && candK >= pickK, "mmrDiversify needs candK >= pickK >= 1")
    require(lamPct >= 0 && lamPct <= 100, "lamPct is a percentage")
    val c = corpus.select(id.as("vec_id"), toDouble(vec).as("v"))
    val qv = c.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"))
    val cand = c.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qv))
      .select(col("vec_id"), col("v"),
        round(cos(col("v"), col("qv")) * 10000, 0).cast("long").as("rel_bp"))
      .orderBy(col("rel_bp").desc, col("vec_id"))
      .limit(candK)
      .cache()
    val psim = cand.select(col("vec_id").as("ia"), col("v").as("va"))
      .crossJoin(cand.select(col("vec_id").as("ib"), col("v").as("vb")))
      .select(col("ia"), col("ib"),
        round(cos(col("va"), col("vb")) * 10000, 0).cast("long").as("sim_bp"))
      .cache()
    var picked = Vector.empty[(Long, Long, Long)] // (vec_id, rel, score)
    for (r <- 1 to pickK) {
      val remaining = cand.filter(!col("vec_id").isin(picked.map(_._1): _*))
      val scored =
        if (picked.isEmpty)
          remaining.select(col("vec_id"), col("rel_bp"),
            (col("rel_bp") * lamPct).as("mmr"))
        else
          remaining
            .join(psim.filter(col("ib").isin(picked.map(_._1): _*)),
              col("vec_id") === col("ia"))
            .groupBy("vec_id", "rel_bp")
            .agg(max("sim_bp").as("ms"))
            .select(col("vec_id"), col("rel_bp"),
              (col("rel_bp") * lamPct - col("ms") * (100 - lamPct)).as("mmr"))
      val top = scored.orderBy(col("mmr").desc, col("vec_id")).limit(1)
        .collect().headOption.getOrElse(throw new IllegalArgumentException(
          s"mmrDiversify: candidate pool exhausted after ${picked.size} " +
            s"of $pickK picks (corpus minus the query row must hold at " +
            "least pickK candidates)"))
      picked :+= ((top.getLong(0), top.getLong(1), top.getLong(2)))
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    picked.zipWithIndex
      .map { case ((id0, rel, mmr), i) => (i + 1L, id0, rel, mmr) }
      .toDF("pick", "vec_id", "rel_bp", "mmr_score")
  }

  /** LATE-INTERACTION MaxSim retrieval (the ColBERT scoring shape,
    * Khattab & Zaharia 2020): query and document arrive as BAGS of
    * sub-vectors, and the score is Σᵢ maxⱼ cos(qᵢ, dⱼ) — each query
    * part finds its best-matching document part, so a document
    * matching all query aspects in different places outranks one
    * matching a single aspect everywhere (what single-vector cosine
    * cannot see). Here the multi-vector bags are the `chunks`
    * equal prefix slices of the stored embedding; a real ColBERT
    * index stores per-token vectors — the plan is identical.
    *
    * Per-chunk cosines land as round-half-away integer bp (the q71
    * contract) so the max/sum tree is exact integer arithmetic in
    * both engines — summing rounded DOUBLES would be order-sensitive.
    *
    * Scale shape: query chunks broadcast (|queries|·chunks rows); the
    * corpus explodes to chunks ONCE and scans through the codegen'd
    * cosine; max-per-(query, doc, query-chunk) and the final sum are
    * one map-side-combined agg pair; top-k via TopKPerKey.
    */
  def maxSimTopK(corpus: DataFrame, id: Column, vec: Column,
                 queries: DataFrame, qid: Column, qvec: Column,
                 chunks: Int, subDim: Int, k: Int): DataFrame = {
    require(chunks >= 1 && subDim >= 1, "maxSimTopK needs chunks, subDim >= 1")
    def chunked(df: DataFrame, idc: Column, v: Column, idName: String,
                posName: String, outName: String) =
      df.select(idc.as(idName), posexplode(array(
        (0 until chunks).map(i => slice(toDouble(v), i * subDim + 1, subDim)): _*))
        .as(Seq(posName, outName)))
    val cChunks = chunked(corpus, id, vec, "vec_id", "j", "cv")
    val qChunks = chunked(queries, qid, qvec, "qid", "i", "qv")
    val scored = cChunks.crossJoin(broadcast(qChunks))
      .select(col("qid"), col("vec_id"), col("i"),
        round(cos(col("cv"), col("qv")) * 10000, 0).cast("long").as("cos_bp"))
      .groupBy("qid", "vec_id", "i")
      .agg(max("cos_bp").as("best_bp"))
      .groupBy("qid", "vec_id")
      .agg(sum("best_bp").cast("long").as("maxsim_bp"))
    graft.plans.TopK.perKey(scored, Seq("qid"), "maxsim_bp",
      desc = true, tiebreak = Seq("vec_id"), k = k)
      .orderBy("qid", "vec_id")
  }
}
