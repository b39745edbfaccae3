package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

/** Training-data deduplication operators, designed for the 100 TB case:
  *
  *  - `exact`: one hash-shuffle on the dedup key (map-side partial agg
  *    applies since the agg is min/count).
  *  - `minhashLsh`: per-row signature computation (no shuffle), then a
  *    shuffle keyed on (band, bandSig) whose fan-in is bounded by the
  *    LSH bucket sizes — never the O(n²) pair space. Candidates are
  *    verified with exact Jaccard before being reported.
  *  - `simhash`: per-row 60-bit fingerprint; candidate pairs via the
  *    pigeonhole chunk trick (hamming ≤ k ⟹ one of k+1 chunks equal),
  *    again bounded by bucket sizes.
  *  - `ngramJaccard`: the exact quadratic baseline — correct, but the
  *    gram self-join explodes on high-frequency shingles; at scale use
  *    `minhashLsh` (this one exists as the correctness anchor and for
  *    small/blocked inputs).
  *  - `embeddingNearDup`: exact cosine over all pairs (broadcast nested
  *    loop — only for candidate sets that fit a broadcast); the scale
  *    path is sign-LSH bucketing first (see Similarity.signLshTopK).
  */
object Dedup {

  /** Exact duplicate groups by `key`: representative = min(id). */
  def exact(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Connected components over a near-dup pair graph — the step that
    * turns pairwise similarity into dedup decisions (keep one doc per
    * component). Input: (doc_a, doc_b) edges with integral (long) ids;
    * output: (doc_id, cluster_id) for every endpoint, cluster_id = min
    * doc_id in the component.
    *
    * Two physical strategies behind one exact semantics (the unique
    * min-label fixpoint, so DuckDB's recursive CTE must agree either way):
    *
    *  - **small graph (≤ `localEdgeLimit` distinct undirected edges)**:
    *    collect the edge list and run union-find on the driver. The
    *    verified near-dup pair graph is orders of magnitude smaller than
    *    the corpus (it only contains documents that HAVE a near-dup), so
    *    even a 100 TB corpus commonly yields a graph that fits in tens of
    *    MB — and one collect beats paying a full shuffle join per
    *    propagation hop. Same reasoning as a broadcast join: bounded
    *    driver data in exchange for eliminating iteration shuffles. The
    *    collect is primitive tuples (1M edges = 16 MB of longs plus
    *    tuple boxes), never generic Rows, and the default cap keeps the
    *    driver-heap worst case well under the propagation loop's cost
    *    crossover.
    *  - **large graph**: Pregel-style min-label propagation — each
    *    iteration joins labels to edges and takes the per-node min of
    *    own + neighbor labels; iterations = graph diameter (near-dup
    *    graphs are short chains/cliques, so single digits); each
    *    iteration is one shuffle join + one aggregation, all distributed
    *    — the driver only checks the convergence count.
    */
  def dupClusters(pairs: DataFrame, maxRounds: Int = 25,
                  localEdgeLimit: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    // Undirected distinct edge list: shared by both strategies, cached
    // because the size probe (count) and the chosen strategy both scan
    // it — without the cache the (expensive) upstream pair computation
    // would run twice. Released by the runner's clearCache().
    val und = pairs.select(col("doc_a").cast("long").as("src"),
        col("doc_b").cast("long").as("dst"))
      .distinct().cache()
    if (und.count() <= localEdgeLimit) return localClusters(spark, und)
    // both directions + self-loops: with (id, id) edges the propagation
    // step is ONE join + ONE aggregation — no union branch needed to
    // keep a node's own label in play.
    val edges = und
      .union(und.select(col("dst").as("src"), col("src").as("dst")))
      .union(und.select(col("src"), col("src").as("dst")))
      .union(und.select(col("dst").as("src"), col("dst")))
      .distinct().cache()
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s // empty graph
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")).cache()
    // Convergence check without a join: labels only ever DECREASE under
    // min-propagation, so the (exact, decimal) label sum is stationary
    // iff the fixpoint is reached — one aggregate per iteration instead
    // of a join+filter+count.
    var prevSum = labelSum(labels)
    var rounds = 0
    var converged = false
    def step(cur: DataFrame): DataFrame =
      edges.join(cur.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min("label").as("label"))
    while (!converged && rounds < maxRounds) {
      // two propagation hops per materialization: halves the per-round
      // job overhead while the fixpoint (and its sum check) stay exact
      val next = step(step(labels)).cache()
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels.unpersist()
      labels = next
      rounds += 1
    }
    // The fixpoint guarantee (and oracle agreement) only holds if we
    // actually converged — a graph with diameter > 50 hops must fail
    // loudly, never return partially-propagated labels.
    if (!converged)
      throw new IllegalStateException(
        s"dupClusters did not converge after $rounds rounds (graph diameter > ${2 * rounds} hops)")
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Driver-side union-find over a collected (bounded) edge list; same
    * min-label fixpoint as the distributed loop, exact and rounds-free.
    */
  private def localClusters(spark: org.apache.spark.sql.SparkSession,
                            und: DataFrame): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val nodes = scala.collection.mutable.LongMap.empty[Unit]
    // primitive-tuple collect: ~32 bytes/edge vs hundreds for a generic
    // InternalRow-backed Row — keeps the 1M-edge cap to tens of MB heap
    und.as[(Long, Long)].collect().foreach { case (a, b) =>
      nodes(a) = (); nodes(b) = ()
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // relabel every component to its min member (union-by-min above
    // keeps roots minimal, so find() IS the min label)
    val out = nodes.keysIterator.map(id => (id, find(id))).toSeq
    out.toDF("doc_id", "cluster_id")
  }

  /** (doc_id, grams) pairs with non-empty distinct gram sets.
    *
    * The non-empty filter is expressed as `size(words) >= n` (identical
    * semantics: wordGrams is empty iff the doc has fewer than n words)
    * so the Filter node evaluates one cheap split+size, not a duplicate
    * of the whole zip_with gram chain — the gram expression is the
    * dominant per-row cost of every dedup operator built on this.
    */
  def gramSets(df: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    df.select(id.as("doc_id"), words(text).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), array_distinct(
        graft.functions.WordGramsNative.gramsCol(col("ws"), n)).as("grams"))

  /** Posting buckets: one row per surviving gram holding the SORTED
    * array of doc_ids that contain it, built in a single bounded
    * aggregation (`BoundedLongListAgg`). Grams with document frequency
    * > maxDf eval to NULL inside the aggregate — the DF skew cap — so
    * a corpus-wide stopword shingle never materializes its posting
    * list anywhere: not in the agg buffer (hard-capped at maxDf+1
    * longs), not in the shuffle, not downstream. This ONE shuffle
    * replaces the previous count→anti-join→self-join shape (three
    * shuffles of the exploded gram table plus two caches).
    */
  private def gramBuckets(d: DataFrame, maxDf: Int): DataFrame =
    d.select(col("doc_id"), explode(col("grams")).as("gram"))
      // Shingle hashing: group/shuffle 8-byte xxhash64 keys instead of
      // ~25-byte gram strings (3x less shuffle, cheaper compares). A
      // 64-bit collision merges two grams' postings — P ≈ G²/2⁶⁵,
      // ~1e-11 even at 10M distinct grams per partition-group — the
      // same accepted tradeoff MinHash makes hashing shingles.
      .groupBy(xxhash64(col("gram")).as("gram"))
      .agg(graft.functions.BoundedLongList(col("doc_id"), maxDf).as("docs"))
      .filter(col("docs").isNotNull)
      .select(sort_array(col("docs")).as("docs"))

  /** All ordered (doc_a < doc_b) pairs from each posting bucket,
    * emitted per-row with higher-order functions — no join. A bucket
    * of size m (m <= the cap) emits m(m-1)/2 pairs, so the total pair
    * count stays linear in corpus size for a fixed cap.
    */
  private def bucketPairs(buckets: DataFrame): DataFrame =
    buckets.select(explode(flatten(transform(col("docs"), (x, i) =>
        transform(slice(col("docs"), i + lit(2), size(col("docs"))),
          y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))

  /** N-gram Jaccard similar pairs (doc_a < doc_b, jaccard >= thr) over
    * DF-capped gram sets: grams appearing in more than `maxDf` documents
    * are removed from every set before pairing AND before the set sizes —
    * the standard skew guard, since a single hot shingle with frequency f
    * contributes f² join pairs (stopword shingles at corpus scale would
    * otherwise make one key quadratic). Semantics = exact Jaccard over
    * the filtered sets; the oracle replays the same cap.
    *
    * Output: doc_a, doc_b, jaccard (rounded 4dp; threshold applied to the
    * rounded value so engine float drift cannot flip boundary pairs).
    */
  def ngramJaccard(df: DataFrame, id: Column, text: Column,
                   n: Int, thr: Double, maxDf: Int): DataFrame = {
    // Cached: consumed by both the size agg and the pair agg; bounded
    // (<= maxDf longs per surviving gram). Lazy-output operator, so
    // release is the CALLER's — clearCache / unpersist after
    // materializing (AdmissionGuard rule 5); operators cannot
    // unpersist a plan their caller has not consumed yet.
    val buckets = gramBuckets(gramSets(df, id, text, n), maxDf).cache()
    val sz = buckets.select(explode(col("docs")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val pairs = bucketPairs(buckets)
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
    pairs
      .join(sz.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(col("shared").cast("double") /
          (col("sa.n_grams") + col("sb.n_grams") - col("shared")), 4).as("jaccard"))
      .filter(col("jaccard") >= thr)
  }

  /** Asymmetric gram containment: |grams(a) ∩ grams(b)| / |grams(a)| —
    * detects documents CONTAINED in others (quotes, boilerplate
    * wrappers, subset pages), which symmetric Jaccard misses when the
    * containing doc is much larger. Emits BOTH directions of every
    * overlapping pair that clears `thr` — but enumerates and aggregates
    * each unordered pair ONCE (doc_a < doc_b, same machinery as
    * `ngramJaccard`) and fans out to the two directions only after the
    * shared-gram count is known: half the pair-explode volume and half
    * the pair-agg shuffle of the emit-both-at-explode alternative. Same
    * one-gram-shuffle / DF-cap linearity bound as `ngramJaccard`.
    */
  def containment(df: DataFrame, id: Column, text: Column,
                  n: Int, thr: Double, maxDf: Int): DataFrame = {
    val buckets = gramBuckets(gramSets(df, id, text, n), maxDf).cache()
    val sz = buckets.select(explode(col("docs")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val pairs = bucketPairs(buckets)
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
    pairs
      .join(sz.select(col("doc_id").as("doc_a"), col("n_grams").as("na")),
        "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n_grams").as("nb")),
        "doc_b")
      .select(explode(array(
        struct(col("doc_a").as("doc_a"), col("doc_b").as("doc_b"),
          round(col("shared").cast("double") / col("na"), 4)
            .as("containment")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"),
          round(col("shared").cast("double") / col("nb"), 4)
            .as("containment")))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), col("p.containment"))
      .filter(col("containment") >= thr)
  }

  /** PREFIX-FILTERED set-similarity join (the PPJoin/AllPairs candidate
    * strategy, Xiao et al. / Bayardo et al.) over n-GRAM sets: the
    * LOSSLESS alternative to `ngramJaccard`'s DF cap. Order each
    * document's distinct gram set by global document frequency
    * ascending (rarest first, gram as tiebreak); for Jaccard >= thr
    * only the first |x| - ceil(thr·|x|) + 1 grams — the PREFIX — can
    * witness a qualifying pair, so only prefixes are indexed. Hot
    * (boilerplate) grams sit at the END of every ordering and almost
    * never enter a prefix: they prune themselves, instead of the cap
    * discarding them (and their pairs) outright. Candidates sharing a
    * prefix gram are verified by exact Jaccard over the full sets.
    *
    * Scale shape: one DF aggregation (map-side combined), one doc-keyed
    * window for the (df, gram) rank (set size rides along from the
    * gram array — no second window), prefix postings via the same
    * bounded-list bucket
    * machinery (maxPost caps a pathological prefix posting; at sane
    * thresholds prefixes hold only rare grams, so the cap is slack,
    * not a filter), pair verification keyed on doc ids. No self-join
    * of the gram table, no all-pairs anywhere.
    *
    * Output: doc_a < doc_b, n_a, n_b, shared, jaccard (4dp, threshold
    * on the rounded value) — EXACT Jaccard pairs at `thr`, no cap
    * distortion.
    */
  def prefixJaccard(df: DataFrame, id: Column, text: Column, n: Int,
                    thr: Double, maxPost: Int,
                    pairBudget: Long = 1000000000L): DataFrame = {
    require(pairBudget >= 1, "prefixJaccard needs pairBudget >= 1")
    // Grams hashed per-gram to longs at the source (the q23/q24
    // xxhash64 bargain, P[collision] ≈ G²/2⁶⁵): every downstream
    // stage — df counts, rank ordering (df asc, hash as tiebreak),
    // postings, verify intersect — moves 8-byte longs, not ~25-byte
    // strings. Cached for the query's duration: THREE branches (df
    // counts, rank join, verify) read it, and a dedup campaign at
    // scale materializes its gram table once for the same reason
    // (released by the runner's clearCache).
    val grams = gramSets(df, id, text, n)
      .select(col("doc_id"),
        transform(col("grams"), g => xxhash64(g)).as("grams"))
      .cache()
    val tok = grams.select(col("doc_id"),
      size(col("grams")).cast("long").as("sz"),
      explode(col("grams")).as("token"))
    val dfreq = tok.groupBy("token").agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df").asc, col("token").asc)
    val ranked = tok.join(dfreq, "token")
      .withColumn("rn", row_number().over(wDoc))
    // prefix length = |x| - ceil(t_eff·|x|) + 1. thr is carried as
    // exact basis points (math.round, never thr*10000 cast — 0.6*10000
    // is 5999.999… in IEEE) and the ceil is pure long arithmetic.
    // t_eff = (2·thrBp − 1) / 20000 — the HALF-UP slack: the verify
    // stage thresholds the ROUNDED-4dp jaccard, so the smallest exact
    // J that can still qualify is thr − 0.00005 (it rounds up to thr).
    // Every pruning bound below (prefix length, size-ratio filter)
    // must therefore admit down to t_eff, or a pair in the half-up
    // band [thr − 0.00005, thr) would be pruned yet verify-eligible —
    // a losslessness hole (round-9 advisor finding).
    val thrBp = math.round(thr * 10000)
    val effNum = 2 * thrBp - 1 // t_eff numerator over 20000
    val need = graft.functions.IntMath.intDiv(
      lit(effNum) * col("sz") + lit(19999L), lit(20000L))
    val prefix = ranked.filter(col("rn") <= col("sz") - need + 1)
    // PPJoin's LENGTH filter inside the fan-out: J(a,b) ≤ min/max of
    // the set sizes, so a pair with size ratio < t_eff can never
    // verify — prune it at emission, before the distinct and the
    // verify joins (t_eff, not thr: the half-up band must survive).
    // Sizes ride the postings as packed (sz << 40 | doc_id)
    // longs (the q73 packing precedent; contract: doc ids < 2⁴⁰,
    // gram-set sizes < 2²³ — GUARDED at pack time below, so a
    // violating id fails loudly instead of silently corrupting the
    // packed sort order), so the sorted bucket is size-ordered and
    // the prune is one shift-compare per emitted pair in codegen.
    // On a CLOSED vocabulary (see SCALING.md's sf1 triage) prefix
    // postings stay dense and the pair space is inherently quadratic —
    // this filter cuts the constant; the 100 TB escalation for such
    // corpora is the capped q23 or LSH q24 path, documented not
    // defaulted (losslessness is this operator's contract).
    val idMask = (1L << 40) - 1
    val pk = when(col("doc_id").between(0, idMask) && col("sz") < (1L << 23),
        shiftleft(col("sz"), 40) + col("doc_id"))
      .otherwise(raise_error(concat(
        lit("prefixJaccard packed-long contract violated " +
          "(need 0 <= doc_id < 2^40, |grams| < 2^23): doc_id="),
        col("doc_id").cast("string"),
        lit(" sz="), col("sz").cast("string"))))
    // Cached like `grams` above (released by the runner's clearCache):
    // the admission guard's .head() below materializes this lineage
    // eagerly, and without the cache the candidate build would replay
    // the whole postings pipeline (gram hashing, df counts, rank
    // window) a second time — the guard must cost ONE postings scan,
    // not two (round-11 ADVICE).
    val packed = prefix.select(col("token"), pk.as("pk")).cache()
    // ADMISSION GUARD (round-11 sf10 rehearsal): the emitted candidate
    // space is exactly Σ_token C(min(c, maxPost-capped), 2) — one cheap
    // agg over the prefix postings, knowable BEFORE the fan-out — and
    // on a closed vocabulary it grows ~n² (measured: 312K pairs at
    // sf0.1 → 39.7M at sf1 → 4.28G at sf10, where the pair-distinct's
    // shuffle alone exceeded a 252 GB node's disk and took the whole
    // bench session down with it). A job that is going to fill the
    // cluster's disks must refuse LOUDLY at plan-admission time, not
    // die 20 minutes in: if the bound exceeds `pairBudget`, raise with
    // the measured bound and the documented escalation path (capped
    // q23 n-gram Jaccard / LSH q24). Buckets over maxPost are dropped
    // by BoundedLongList (null → filtered), so they contribute 0.
    AdmissionGuard.admit("prefixJaccard", "candidate-pair bound",
      AdmissionGuard.measuredBound(
        packed.groupBy("token").agg(count(lit(1)).as("c")),
        sum(when(col("c") <= maxPost,
          expr("c * (c - 1) div 2")).otherwise(lit(0L)))),
      "pairBudget", pairBudget,
      "The lossless prefix join is inherently Omega(pairs) on this " +
        "corpus (closed vocabulary / dense prefixes); escalate to the " +
        "capped n-gram Jaccard (Dedup.ngramJaccard, q23) or " +
        "MinHash-LSH (Dedup.minhashLsh, q24).")
    // The pair EMISSION stage needs the same deterministic-width pin
    // as the verify stage below: the grouped posting table is one row
    // per prefix token — byte-tiny on a closed vocabulary (~31 rows on
    // the bench fixture) — so AQE can legally coalesce the post-agg
    // exchange to 1 partition and serialize the entire C(c,2) explode
    // plus the pair-distinct's map side onto one core (in-suite flake,
    // round-14 sf1 rehearsal: 237 s vs 42 s solo at sf1; the r10
    // verify-stage collapse, same class). A user repartition AQE never
    // coalesces spreads bucket rows round-robin so each token's
    // emission runs on its own task; the shuffle it adds moves only
    // the bucket rows (≤ vocab × maxPost longs), not the pairs.
    val width = df.sparkSession.sparkContext.defaultParallelism
    val cand = bucketPairs(
        packed.groupBy(col("token"))
          .agg(graft.functions.BoundedLongList(col("pk"), maxPost).as("docs"))
          .filter(col("docs").isNotNull)
          .select(sort_array(col("docs")).as("docs"))
          .repartition(width))
      // ascending packed order ⟹ sz(doc_a) ≤ sz(doc_b); admit down to
      // t_eff = (2·thrBp − 1)/20000 (half-up slack, see above)
      .filter(shiftrightunsigned(col("doc_a"), 40) * 20000 >=
        lit(effNum) * shiftrightunsigned(col("doc_b"), 40))
      .select(
        least(col("doc_a").bitwiseAND(idMask),
          col("doc_b").bitwiseAND(idMask)).as("doc_a"),
        greatest(col("doc_a").bitwiseAND(idMask),
          col("doc_b").bitwiseAND(idMask)).as("doc_b"))
      .distinct()
    // The verify stage is COMPUTE-bound (one hash-set intersect per
    // candidate pair), so its width must be the cluster's, not the
    // scan's: without this, a small corpus parquet (2 splits at bench
    // scale) rides through the cached gram relation into the verify
    // join's probe side whenever AQE broadcasts the byte-tiny pair
    // table, and ~all the intersect budget serializes onto 2 cores
    // (measured at sf1: 451 s first-plan vs 38 s at width 32 — the
    // knnJoin 1-split lesson, same class, SCALING.md sf1 triage).
    // Explicit numPartitions: AQE never coalesces a user repartition.
    val sets = grams.select(col("doc_id"), array_sort(col("grams")).as("toks"))
      .repartition(width, col("doc_id"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("toks").as("ta")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("toks").as("tb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(col("ta")).cast("long").as("n_a"),
        size(col("tb")).cast("long").as("n_b"),
        size(array_intersect(col("ta"), col("tb"))).cast("long").as("shared"))
      .withColumn("jaccard", round(col("shared").cast("double") /
        (col("n_a") + col("n_b") - col("shared")), 4))
      .filter(col("jaccard") >= thr)
  }

  /** MinHash + LSH near-dup pairs, verified by exact Jaccard over the
    * full gram sets. numPerm permutations split into `bands` bands;
    * band-buckets larger than `maxBucket` docs are discarded before
    * pairing — a degenerate signature (e.g. many near-empty documents
    * sharing one band) would otherwise reintroduce O(bucket²) inside a
    * single key. No caching: gram sets recompute per use, which is the
    * correct call at 100 TB (a cached full-corpus gram table would
    * spill); the gram projection is cheap per-row work.
    */
  def minhashLsh(df: DataFrame, id: Column, text: Column, n: Int,
                 numPerm: Int, bands: Int, thr: Double,
                 maxBucket: Int): DataFrame = {
    // Cached (gram arrays): consumed by the signature build and both
    // verify-stage joins; released by the runner's clearCache().
    val d = gramSets(df, id, text, n).cache()
    val cand = lshCandFromGrams(d, numPerm, bands, maxBucket)
    cand
      .join(d.select(col("doc_id").as("doc_a"), col("grams").as("ga")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("grams").as("gb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(jaccard(col("ga"), col("gb")), 4).as("jaccard"))
      .filter(col("jaccard") >= thr)
  }

  /** (doc_id, band_id, band_sig) rows for every document — the MinHash
    * banding stage shared by the one-shot, quality-audit, and
    * incremental LSH paths. Signature = native per-row kernel
    * (MinHashSigExpr): one md5 per gram + numPerm cheap permutations
    * min-combined in ONE array pass — NO shuffle (the aggregate
    * formulation is kept as minhashSignaturesAgg for the equality
    * property).
    */
  private def bandedSignatures(d: DataFrame, numPerm: Int,
                               bands: Int): DataFrame = {
    val bandSize = numPerm / bands
    val sig = d.select(col("doc_id"),
        graft.functions.MinHashNative.signatureCol(col("grams"), numPerm)
          .as("sig"))
      .filter(col("sig").isNotNull)
    val bandCols = (0 until bands).map(b => bandSignature(col("sig"), b, bandSize))
    sig.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band_id", "band_sig")))
  }

  /** Band buckets via the bounded aggregate: buckets larger than
    * maxBucket eval to NULL and are dropped (degenerate-signature
    * guard), the rest emit their candidate pairs per-row — replacing
    * the previous window-count guard (a full sort of the banded table)
    * plus band-key self-join with ONE aggregation.
    */
  private def lshCandFromGrams(d: DataFrame, numPerm: Int, bands: Int,
                               maxBucket: Int): DataFrame =
    bucketPairs(
        bandedSignatures(d, numPerm, bands)
          .groupBy("band_id", "band_sig")
          .agg(graft.functions.BoundedLongList(col("doc_id"), maxBucket)
            .as("docs"))
          .filter(col("docs").isNotNull)
          .select(sort_array(col("docs")).as("docs")))
      .distinct()

  /** LSH candidate pairs WITHOUT the exact-Jaccard verify — the
    * banding stage of [[minhashLsh]] exposed on its own, for the
    * banding-quality scoreboard (q250: recall/precision of the
    * candidate generator against the capped-exact ground truth).
    */
  def lshCandidates(df: DataFrame, id: Column, text: Column, n: Int,
                    numPerm: Int, bands: Int, maxBucket: Int): DataFrame =
    lshCandFromGrams(gramSets(df, id, text, n), numPerm, bands, maxBucket)

  /** INCREMENTAL MinHash-LSH index maintenance — the q246
    * batch-equivalence pattern applied to near-dup dedup: a delta of
    * new documents arrives, and instead of re-running LSH over the
    * corpus, the maintained result is assembled from
    *
    *   kept = stored base pairs whose generating band bucket is STILL
    *          within `maxBucket` after the delta lands (bucket sizes
    *          merge by addition — a bucket crossing the cap RETIRES
    *          its stored pairs, exactly as the full recompute would
    *          drop the now-degenerate bucket);
    *   new  = delta members × members of their merged under-cap
    *          buckets (per-doc signature work on the DELTA ONLY).
    *
    * This equals the full-recompute pair set EXACTLY, because bucket
    * sizes only grow under insertion: a full-under-cap bucket was
    * base-under-cap, so every both-base survivor was stored, and every
    * delta-touching pair comes from a merged under-cap bucket probed
    * by the delta side. The q251 oracle IS the full recompute — green
    * means the incremental algebra is lossless; DedupSpec drives the
    * retirement branch (a bucket crossing the cap) by hand.
    *
    * In production the base side is the PERSISTED index — (bucket key,
    * member list, size) plus the verified pair set with generating
    * bucket keys; here both are computed in-query from the base
    * predicate (the same simulation contract as q246's base sessions).
    *
    * Output: (doc_a, doc_b, jaccard, status 'kept'|'new'), thr-filtered
    * like [[minhashLsh]].
    */
  def minhashLshIncremental(df: DataFrame, id: Column, text: Column,
                            isDelta: Column, n: Int, numPerm: Int,
                            bands: Int, thr: Double,
                            maxBucket: Int): DataFrame = {
    val flags = df.select(id.as("doc_id"), isDelta.as("is_delta"))
    val d = gramSets(df, id, text, n).cache()
    val banded = bandedSignatures(d, numPerm, bands)
      .join(flags, "doc_id").cache()
    val bandedBase = banded.filter(!col("is_delta"))
    val bandedDelta = banded.filter(col("is_delta"))
    // the stored index: member lists for base-under-cap buckets (NULL
    // past the cap — those buckets are already degenerate) + base sizes
    val baseBuckets = bandedBase.groupBy("band_id", "band_sig")
      .agg(graft.functions.BoundedLongList(col("doc_id"), maxBucket)
          .as("docs"),
        count(lit(1)).as("base_n"))
    val deltaCounts = bandedDelta.groupBy("band_id", "band_sig")
      .agg(count(lit(1)).as("delta_n"))
    // merge-by-addition: the only per-bucket maintenance state
    val alive = baseBuckets.select(col("band_id"), col("band_sig"),
        col("base_n"))
      .join(deltaCounts, Seq("band_id", "band_sig"), "full_outer")
      .filter(coalesce(col("base_n"), lit(0L)) +
        coalesce(col("delta_n"), lit(0L)) <= maxBucket)
      .select("band_id", "band_sig")
    // stored pairs carry their generating bucket key → retirement is a
    // semi-join against the surviving buckets
    val storedPairs = baseBuckets.filter(col("docs").isNotNull)
      .select(col("band_id"), col("band_sig"),
        explode(graft.functions.ArrayPairs.pairs(
          sort_array(col("docs")))).as("p"))
      .select(col("band_id"), col("band_sig"),
        col("p.u").as("doc_a"), col("p.v").as("doc_b"))
    val kept = storedPairs
      .join(alive, Seq("band_id", "band_sig"), "left_semi")
      .select("doc_a", "doc_b").distinct()
    val newPairs = bandedDelta
      .join(alive, Seq("band_id", "band_sig"), "left_semi")
      .select(col("band_id"), col("band_sig"), col("doc_id").as("dd"))
      .join(banded.select(col("band_id"), col("band_sig"),
        col("doc_id").as("od")), Seq("band_id", "band_sig"))
      .filter(col("dd") =!= col("od"))
      .select(least(col("dd"), col("od")).as("doc_a"),
        greatest(col("dd"), col("od")).as("doc_b"))
      .distinct()
    val cand = kept.withColumn("status", lit("kept"))
      .unionAll(newPairs.withColumn("status", lit("new")))
    cand
      .join(d.select(col("doc_id").as("doc_a"), col("grams").as("ga")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("grams").as("gb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(jaccard(col("ga"), col("gb")), 4).as("jaccard"),
        col("status"))
      .filter(col("jaccard") >= thr)
  }

  /** S-curve AUTO-TUNED LSH banding: among the divisor pairs
    * (bands, rows) with bands·rows = numPerm, pick the one whose
    * capture probability at the TARGET threshold sits closest to the
    * S-curve midpoint — P(candidate | J = s) = 1 − (1 − s^rows)^bands
    * has its inflection near the (bands, rows) "threshold", so
    * |P(thr) − 1/2| minimal ⟹ the curve's steep transition is centred
    * on thr (pairs above it are captured with rapidly growing
    * probability, pairs below rapidly dropped). Evaluation is
    * integer-only fixed point at basis-point scale with truncating
    * division at every multiply (x·y div 10⁴) — no libm, and the
    * DuckDB oracle replays the identical chain as recursive CTEs.
    * Ties prefer MORE bands: recall over precision, since a candidate
    * generator's verify stage removes false positives but can never
    * recover a missed pair. Driver-side arithmetic over ≤ numPerm
    * divisor pairs — scale-free.
    *
    * Returns (bands, rows, pAtThrBp) — the chosen point and its
    * capture probability at thr in basis points.
    */
  def tuneBanding(numPerm: Int, thr: Double): (Int, Int, Long) = {
    require(numPerm >= 1, "tuneBanding needs numPerm >= 1")
    val thrBp = math.round(thr * 10000)
    require(thrBp >= 1 && thrBp <= 10000,
      "tuneBanding needs thr in (0, 1]")
    // x after e truncating multiplies = base^e at bp scale (operands
    // non-negative, so Long / == DuckDB // — the div-vs-floor rule)
    def powBp(base: Long, e: Int): Long = {
      var x = 10000L
      for (_ <- 1 to e) x = x * base / 10000L
      x
    }
    val cands = (1 to numPerm).filter(numPerm % _ == 0).map { b =>
      val r = numPerm / b
      val p = 10000L - powBp(10000L - powBp(thrBp, r), b)
      (b, r, p)
    }
    cands.minBy { case (b, _, p) => ((2 * p - 10000L).abs, -b) }
  }

  /** INCREMENTAL MinHash-LSH index DELETES — the right-to-be-forgotten
    * path [[minhashLshIncremental]] lacked (a 100 TB dedup index that
    * can only grow forces periodic full rebuilds). A delete set leaves
    * the corpus; the maintained result is assembled from
    *
    *   kept        = stored pairs (pairs of under-cap PRE-delete
    *                 buckets) with BOTH endpoints surviving — the q137
    *                 cascade discipline: any pair touching a deleted
    *                 doc retires. No bucket-level retirement exists on
    *                 delete: bucket sizes merge by SUBTRACTION, and a
    *                 stored (under-cap) bucket can only shrink, so its
    *                 surviving pairs stay valid;
    *   resurrected = pairs of buckets that were CAP-DEGENERATE before
    *                 the delete (size > maxBucket ⟹ nothing stored)
    *                 but fall to live_n <= maxBucket after it — the
    *                 full recompute on the shrunk corpus emits their
    *                 surviving members' pairs, so the maintenance must
    *                 too. Member recovery is a semi-join of the banded
    *                 table against the RESURRECTED bucket keys only —
    *                 affected-bucket-sized work (the q246 replay
    *                 discipline), never a corpus rescan.
    *
    * kept ∪ resurrected EQUALS the full recompute on the shrunk corpus
    * exactly (the q256 oracle IS that recompute): a post-delete
    * under-cap bucket was either pre-under-cap (its complete pair set
    * was stored; survivors are kept) or pre-over-cap (it is a
    * resurrected key). DedupSpec drives insert-then-delete to exact
    * round-trip equality with the base recompute.
    *
    * Output: (doc_a, doc_b, jaccard, status 'kept'|'resurrected'),
    * thr-filtered like [[minhashLsh]].
    */
  def minhashLshRetire(df: DataFrame, id: Column, text: Column,
                       isDeleted: Column, n: Int, numPerm: Int,
                       bands: Int, thr: Double,
                       maxBucket: Int): DataFrame = {
    val flags = df.select(id.as("doc_id"), isDeleted.as("is_del"))
    val d = gramSets(df, id, text, n).cache()
    val banded = bandedSignatures(d, numPerm, bands)
      .join(flags, "doc_id").cache()
    // the stored index state, built over the FULL pre-delete corpus:
    // complete member lists for under-cap buckets (NULL past the cap)
    // plus total sizes
    val buckets = banded.groupBy("band_id", "band_sig")
      .agg(graft.functions.BoundedLongList(col("doc_id"), maxBucket)
          .as("docs"),
        count(lit(1)).as("all_n"))
    val delCounts = banded.filter(col("is_del"))
      .groupBy("band_id", "band_sig").agg(count(lit(1)).as("del_n"))
    val sized = buckets
      .join(delCounts, Seq("band_id", "band_sig"), "left")
      .withColumn("live_n", col("all_n") - coalesce(col("del_n"), lit(0L)))
    val deleted = flags.filter(col("is_del")).select("doc_id")
    val storedPairs = sized.filter(col("docs").isNotNull)
      .select(explode(graft.functions.ArrayPairs.pairs(
        sort_array(col("docs")))).as("p"))
      .select(col("p.u").as("doc_a"), col("p.v").as("doc_b"))
      .distinct()
    val kept = storedPairs
      .join(deleted.select(col("doc_id").as("doc_a")),
        Seq("doc_a"), "left_anti")
      .join(deleted.select(col("doc_id").as("doc_b")),
        Seq("doc_b"), "left_anti")
    val resKeys = sized
      .filter(col("docs").isNull && col("live_n") <= maxBucket)
      .select("band_id", "band_sig")
    val resurrected = banded.filter(!col("is_del"))
      .join(resKeys, Seq("band_id", "band_sig"), "left_semi")
      .groupBy("band_id", "band_sig")
      .agg(graft.functions.BoundedLongList(col("doc_id"), maxBucket)
        .as("docs"))
      .filter(col("docs").isNotNull)
      .select(explode(graft.functions.ArrayPairs.pairs(
        sort_array(col("docs")))).as("p"))
      .select(col("p.u").as("doc_a"), col("p.v").as("doc_b"))
      .distinct()
      .join(kept, Seq("doc_a", "doc_b"), "left_anti")
    // select-normalize before the POSITIONAL union: the key-joins above
    // move their join key first, so kept arrives as (doc_b, doc_a)
    val cand = kept.select("doc_a", "doc_b")
      .withColumn("status", lit("kept"))
      .unionAll(resurrected.select("doc_a", "doc_b")
        .withColumn("status", lit("resurrected")))
    cand
      .join(d.select(col("doc_id").as("doc_a"), col("grams").as("ga")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("grams").as("gb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(jaccard(col("ga"), col("gb")), 4).as("jaccard"),
        col("status"))
      .filter(col("jaccard") >= thr)
  }

  /** 60-bit SimHash fingerprint per document (word-level features),
    * computed per-row by the native SimHashExpr kernel — NO shuffle at
    * all (the aggregate formulation this replaces exploded one row per
    * token and shuffled 60 partial sums per doc). Token-less docs are
    * dropped, matching the aggregate form which never emitted them;
    * bit-equality with that form is property-tested.
    */
  def simhashFingerprints(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"),
        graft.functions.SimHashNative.fingerprintCol(text).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** The replaced aggregate MinHash-signature formulation, kept as the
    * cross-check reference for the equality property (TextProperties).
    */
  def minhashSignaturesAgg(df: DataFrame, id: Column, text: Column,
                           n: Int, numPerm: Int): DataFrame = {
    val d = gramSets(df, id, text, n)
    val h = d.select(col("doc_id"), explode(col("grams")).as("gram"))
      .select(col("doc_id"), hash60(col("gram"), 0).as("h"))
    val mins = (0 until numPerm).map(s => min(permHash(col("h"), s)).as(s"m$s"))
    h.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until numPerm).map(s => col(s"m$s")): _*).as("sig"))
  }

  /** The replaced aggregate formulation, kept as the cross-check
    * reference for the equality property (TextProperties).
    */
  def simhashFingerprintsAgg(df: DataFrame, id: Column, text: Column): DataFrame = {
    val tok = df.select(id.as("doc_id"), explode(words(text)).as("word"))
      .filter(length(col("word")) > 0)
      .select(col("doc_id"), hash60(col("word"), 0).as("h"))
    val sums = (0 until 60).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(lit(1L)) * lit(2L) - lit(1L)).as(s"s$i"))
    val fp = (0 until 60).map(i =>
      when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    tok.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }

  /** SimHash near-dup pairs with hamming distance <= maxDist (pigeonhole:
    * 4 chunks of 15 bits; hamming<=3 implies at least one chunk equal).
    *
    * Candidates come from BOUNDED chunk buckets (the same
    * `BoundedLongList` machinery as `minhashLsh`/`embeddingNearDupLsh`):
    * a (c, chunk) key holding more than `maxBucket` docs evals to NULL
    * inside the aggregate and is dropped before pairing, so a
    * degenerate 15-bit chunk value — e.g. a corpus of short near-empty
    * docs whose fingerprints share a chunk — can never go quadratic
    * inside one join key. The cap is part of the recall contract (like
    * the LSH caps) and must be replayed by any oracle. Pair volume is
    * linear in corpus size for a fixed cap; the previous chunk
    * self-join was the last uncapped candidate join in the dedup
    * family.
    */
  def simhashPairs(df: DataFrame, id: Column, text: Column,
                   maxDist: Int, maxBucket: Int): DataFrame =
    hammingPairs(simhashFingerprints(df, id, text),
      col("doc_id"), col("simhash"), maxDist, maxBucket)

  /** Hamming-distance pairs over ANY 60-bit fingerprint column — the
    * chunk-pigeonhole candidate machinery behind `simhashPairs`,
    * factored out so other fingerprint families (perceptual hashes over
    * decoded media payloads, q81) reuse the identical bounded plan:
    * 4 chunks of 15 bits (hamming<=3 implies at least one chunk equal),
    * chunk buckets hard-capped at `maxBucket` docs through
    * `BoundedLongList` (a degenerate chunk value evals to NULL inside
    * the aggregate and never materializes a bucket anywhere — the cap
    * is part of the recall contract, replayed by the oracles), pairs
    * emitted per-row from the surviving buckets, verified by exact
    * bit_count on the full fingerprints.
    */
  def hammingPairs(df: DataFrame, id: Column, fp60: Column,
                   maxDist: Int, maxBucket: Int): DataFrame = {
    require(maxDist <= 3, "chunking is sized for hamming <= 3")
    // Cached: consumed by the chunk bucketing and both verify-stage
    // joins; released by the runner's clearCache().
    val fp = df.select(id.as("doc_id"), fp60.as("fpr")).cache()
    val chunks = fp.select(col("doc_id"),
        explode(sequence(lit(0), lit(3))).as("c"), col("fpr"))
      .withColumn("chunk", expr("shiftright(fpr, c * 15) & 32767"))
    val cand = bucketPairs(
        chunks.groupBy("c", "chunk")
          .agg(graft.functions.BoundedLongList(col("doc_id"), maxBucket)
            .as("docs"))
          .filter(col("docs").isNotNull)
          .select(sort_array(col("docs")).as("docs")))
      .distinct()
    cand
      .join(fp.select(col("doc_id").as("doc_a"), col("fpr").as("fp_a")), "doc_a")
      .join(fp.select(col("doc_id").as("doc_b"), col("fpr").as("fp_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(fp_a ^ fp_b)").cast("int").as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** The replaced chunk self-join formulation (uncapped), kept as the
    * cross-check reference for the capped-vs-uncapped equality property
    * (TextProperties): on any corpus whose chunk buckets stay within
    * the cap, `simhashPairs` must emit exactly these pairs.
    */
  def simhashPairsJoinRef(df: DataFrame, id: Column, text: Column,
                          maxDist: Int): DataFrame = {
    val fp = simhashFingerprints(df, id, text)
    val chunks = fp.select(col("doc_id"), col("simhash"),
      explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("chunk", expr("shiftright(simhash, c * 15) & 32767"))
    val cand = chunks.as("a").join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"))
      .distinct()
    cand.select(col("doc_a"), col("doc_b"),
        expr("bit_count(sim_a ^ sim_b)").cast("int").as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** Exact SUBSTRING-level dedup: maximal runs of duplicated token
    * windows INSIDE documents — the contamination shape document-level
    * dedup (exact/MinHash/SimHash/embedding) cannot touch: a repeated
    * 300-token boilerplate span embedded in otherwise-distinct pages.
    *
    * Mechanism (the sorted-run variant of suffix-array dedup, sized for
    * a distributed engine): every POSITIONAL window of `w` tokens is
    * hashed (60-bit md5-derived, so the oracle replays it); a window
    * hash is "duplicated" iff it occurs in >= 2 DISTINCT documents;
    * consecutive duplicated positions within a document are merged into
    * maximal runs (gaps-and-islands). A shared span of L >= w tokens
    * between two documents yields L-w+1 consecutive duplicated windows
    * — reported as one run of span_tokens = L.
    *
    * Output: (doc_id, run_start [1-based token pos], n_windows,
    * span_tokens) per maximal duplicated run.
    *
    * Scale shape: ONE pass, ONE shuffle. The window table never stores
    * window TEXT — each occurrence ships as a single packed long
    * (doc_id·2²⁶ + pos) keyed by its 8-byte hash — and the duplicate
    * test is one aggregation through the same `BoundedLongListAgg` skew
    * guard as every other dedup family member: a window occurring more
    * than `maxDf` times corpus-wide (site chrome, licence headers at
    * 100 TB) evals to NULL inside the aggregate and never materializes
    * a posting list ANYWHERE; the cap is a recall contract replayed by
    * the oracle (`HAVING count(*) <= maxDf`). Because the occurrences
    * ride INSIDE the bounded buckets, the duplicated positions explode
    * straight back out of them — no full-corpus cache, no join back to
    * a second window scan (the shape that would have to re-tokenize
    * 100 TB or pin it in memory). The run merge is one doc_id-keyed
    * window sort over only the DUPLICATED positions (a small fraction
    * of corpus tokens). The packing bounds are loud, not silent:
    * pos < 2²⁶ (a 67M-token document) and doc_id < 2³⁷ throw via
    * raise_error. 60-bit hash collisions merge two windows' identities
    * — P ≈ W²/2⁶¹, the same accepted tradeoff as gram-bucket hashing.
    */
  def substringRuns(df: DataFrame, id: Column, text: Column,
                    w: Int, maxDf: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dup = dupWindowBuckets(packedWindows(df, id, text, w), maxDf)
      .select(explode(col("dps")).as("dp"))
      .select(shiftright(col("dp"), 26).as("doc_id"),
        col("dp").bitwiseAND(lit(SubstrPack - 1)).cast("int").as("pos"))
    dup
      .withColumn("grp", col("pos") -
        row_number().over(Window.partitionBy("doc_id").orderBy("pos")))
      .groupBy("doc_id", "grp")
      .agg(min("pos").cast("int").as("run_start"),
        count(lit(1)).cast("int").as("n_windows"),
        (max("pos") - min("pos") + w).cast("int").as("span_tokens"))
      .select("doc_id", "run_start", "n_windows", "span_tokens")
  }

  /** doc_id·2²⁶ + pos packing bound shared by the substring-dedup family
    * (see substringRuns' scale notes for why occurrences ride as packed
    * longs inside the bounded buckets).
    */
  private val SubstrPack = 1L << 26

  /** (h, dp) per positional w-token window: 60-bit md5-derived window
    * hash + the packed (doc_id, pos) occurrence. Pack bounds throw
    * loudly (pos < 2²⁶, doc_id < 2³⁷), never truncate.
    */
  private def packedWindows(df: DataFrame, id: Column, text: Column,
                            w: Int): DataFrame =
    df.select(id.as("doc_id"), words(text).as("ws"))
      .filter(size(col("ws")) >= w)
      .select(col("doc_id"),
        posexplode(graft.functions.WordGramsNative.gramsCol(col("ws"), w))
          .as(Seq("pos0", "gram")))
      .select(hash60(col("gram"), 0).as("h"),
        when(col("pos0") + 1 < SubstrPack && col("doc_id") >= 0 &&
            col("doc_id") < (1L << 37),
          col("doc_id") * SubstrPack + col("pos0") + 1)
          .otherwise(raise_error(concat(
            lit("substringRuns pack overflow: doc_id="), col("doc_id"),
            lit(" pos="), col("pos0") + 1))).as("dp"))

  /** Duplicated-window posting buckets: ONE `BoundedLongListAgg`
    * shuffle keyed on the window hash; a bucket survives iff it is
    * within the `maxDf` boilerplate cap (recall contract, replayed by
    * the oracles' HAVING) AND spans >= 2 distinct documents. Output:
    * one row per duplicated hash holding its packed occurrences.
    */
  private def dupWindowBuckets(packed: DataFrame, maxDf: Int): DataFrame =
    packed.groupBy("h")
      .agg(graft.functions.BoundedLongList(col("dp"), maxDf).as("dps"))
      .filter(col("dps").isNotNull &&
        size(array_distinct(transform(col("dps"),
          x => shiftright(x, 26)))) >= 2)
      .select(col("dps"))

  /** The substring-dedup LAST MILE: emit the CLEANED corpus. Where
    * `substringRuns` only detects duplicated spans, this removes them —
    * every token covered by a duplicated window occurrence that is NOT
    * the canonical occurrence of its window hash is spliced out, so
    * exactly one copy of each duplicated span survives corpus-wide.
    * Canonical = the lexicographically least (doc_id, pos) occurrence —
    * `min(packed dp)` in one expression — the same deterministic
    * min-representative rule as q68's cluster pruning.
    *
    * Output: (doc_id, n_tokens, n_removed, clean_text) for EVERY
    * document (untouched docs pass through with n_removed = 0);
    * clean_text is the surviving normalized tokens space-joined (the
    * tokenization is `words()` — lower/trim/collapse — so the output is
    * the normalized token stream, the form a training pipeline feeds a
    * tokenizer).
    *
    * Scale shape, on top of substringRuns' one-shuffle design: the
    * non-canonical occurrences explode straight out of the bounded
    * buckets (canonical = array_min, no extra shuffle); merging their
    * fixed-width windows [pos, pos+w-1] into maximal remove-ranges is
    * one doc_id-keyed window sort over only the MARKED positions (a
    * small fraction of corpus tokens); the ranges collapse to one array
    * row per affected doc and join back doc_id-keyed (broadcastable in
    * practice — only docs WITH duplication carry ranges); the splice
    * itself is a per-row higher-order filter, no shuffle. A hot
    * boilerplate window past `maxDf` is NOT removed anywhere (the cap
    * is the same recall contract as q73's, replayed by the oracle).
    */
  def substringClean(df: DataFrame, id: Column, text: Column,
                     w: Int, maxDf: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val marked = dupWindowBuckets(packedWindows(df, id, text, w), maxDf)
      .select(array_min(col("dps")).as("canon"), explode(col("dps")).as("dp"))
      .filter(col("dp") =!= col("canon"))
      .select(shiftright(col("dp"), 26).as("doc_id"),
        col("dp").bitwiseAND(lit(SubstrPack - 1)).cast("int").as("pos"))
    // Fixed-width windows sorted by start merge iff the next start is
    // within w of the previous (overlap or adjacency) — a running-sum
    // break flag, the gaps-and-islands shape generalized to width w.
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val ranges = marked
      .withColumn("brk",
        when(col("pos") > lag("pos", 1).over(byDoc) + w, 1)
          .when(lag("pos", 1).over(byDoc).isNull, 1).otherwise(0))
      .withColumn("grp", sum("brk").over(byDoc))
      .groupBy("doc_id", "grp")
      .agg(min("pos").cast("int").as("lo"),
        (max("pos") + w - 1).cast("int").as("hi"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("lo"), col("hi"))).as("rs"))
    val noRanges = array().cast("array<struct<lo:int,hi:int>>")
    df.select(id.as("doc_id"), words(text).as("ws"))
      .join(ranges, Seq("doc_id"), "left")
      .select(col("doc_id"), col("ws"), coalesce(col("rs"), noRanges).as("rs"))
      .select(col("doc_id"), col("ws"),
        filter(
          transform(col("ws"), (t, i) => struct(t.as("t"), (i + 1).as("p"))),
          s => !exists(col("rs"), r =>
            s.getField("p").between(r.getField("lo"), r.getField("hi"))))
          .as("kept"))
      .select(col("doc_id"),
        size(col("ws")).cast("int").as("n_tokens"),
        (size(col("ws")) - size(col("kept"))).cast("int").as("n_removed"),
        array_join(transform(col("kept"), s => s.getField("t")), " ")
          .as("clean_text"))
  }

  /** Exact embedding cosine near-dup pairs (id_a < id_b, rounded sim >=
    * thr). Quadratic: the smaller side must be broadcastable. This is the
    * correctness anchor; the scale default is `embeddingNearDupLsh`.
    */
  def embeddingNearDup(df: DataFrame, id: Column, vec: Column,
                       thr: Double): DataFrame = {
    import graft.functions.ArrayCosine.cosine
    val e = df.select(id.as("vec_id"), toDouble(vec).as("v"))
    e.as("a").join(broadcast(e.as("b")), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(cosine(col("a.v"), col("b.v")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= thr)
  }

  /** Banded sign-LSH embedding near-dup — the 100 TB default. Band b is
    * the sign pattern of dims [b·r, (b+1)·r); a pair is a candidate iff
    * it collides in ≥1 band; candidates are verified with exact cosine.
    *
    * Plan shape: per-row signature projection (no shuffle) → explode to
    * (band, sig) → self-join SHUFFLED ON THE BAND KEYS (never a full
    * broadcast, never the global O(n²) pair space) → distinct → two
    * vec_id joins for the verify stage. Candidate volume per band-bucket
    * is |bucket|², bounded by choosing r so 2^r buckets keep buckets
    * small; recall for a pair with per-bit agreement p is 1-(1-p^r)^B
    * (documented <1: this operator trades recall for a 10-100x pair-space
    * cut; raise `bands` for higher recall).
    *
    * `maxBucket` is part of the RECALL CONTRACT, not a tuning detail:
    * candidates from degenerate-signature buckets larger than the cap
    * are dropped entirely, so callers must choose it explicitly (like
    * `minhashLsh`) and replay it in any oracle.
    */
  def embeddingNearDupLsh(df: DataFrame, id: Column, vec: Column,
                          thr: Double, bands: Int, bitsPerBand: Int,
                          maxBucket: Int): DataFrame = {
    import graft.functions.ArrayCosine.cosine
    val e = df.select(id.as("vec_id"), toDouble(vec).as("v"))
    val sigCols = (0 until bands).map(b =>
      signBucket(col("v"), bitsPerBand, b * bitsPerBand))
    val banded = e.select(col("vec_id"),
      posexplode(array(sigCols: _*)).as(Seq("band", "sig")))
    // Band buckets via the bounded aggregate (see gramBuckets): a
    // degenerate signature — e.g. skewed embeddings whose sign bits all
    // agree — would otherwise make one (band, sig) key quadratic in the
    // self-join this replaces. Buckets past maxBucket eval to NULL and
    // are dropped; the oracle replays the same cap.
    val cand = bucketPairs(
        banded.groupBy("band", "sig")
          .agg(graft.functions.BoundedLongList(col("vec_id"), maxBucket)
            .as("docs"))
          .filter(col("docs").isNotNull)
          .select(sort_array(col("docs")).as("docs")))
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(cosine(col("va"), col("vb")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= thr)
  }

  /** SemDeDup-style SEMANTIC dedup (cluster-then-prune; Abbas et al.
    * 2023, arXiv:2303.09540): vectors are assigned to their nearest
    * coarse-quantizer centroid (the IVF build/assign machinery —
    * label-keyed 6dp centroids, rounded-cosine argmax, min-label ties),
    * and WITHIN each cluster any vector whose cosine to a LOWER-id
    * cluster member reaches `thr` is marked a semantic duplicate — the
    * same deterministic min-representative rule as q68's cluster prune.
    * Pairwise comparison happens only inside clusters: the global
    * O(n²) pair space is cut to Σ|cluster|², which is the entire point
    * of the published algorithm (they size k so clusters stay small).
    *
    * Output: (vec_id, bucket, kept) for every non-zero vector — the
    * audit-friendly form (a pipeline filters on `kept`; the bucket
    * column says WHICH cluster adjudicated the drop).
    *
    * Scale shape: assignment is the shuffle-free broadcast-centroid
    * fold; in-cluster candidate lists ride the same hard-capped
    * `BoundedLongListAgg` as every other dedup family (a cluster past
    * `maxBucket` contributes no pairs — the cap is the RECALL CONTRACT,
    * replayed by the oracle's HAVING); pair verification joins back on
    * vec_id, ≤ |cluster| choose 2 rows per cluster. At 100 TB the
    * operator's knob is the quantizer's k: more centroids → smaller
    * clusters → fewer pairs, the recall/cost trade the paper documents.
    */
  def semDedup(df: DataFrame, id: Column, vec: Column, label: Column,
               thr: Double, maxBucket: Int): DataFrame = {
    import graft.functions.ArrayCosine.cosine
    val e = df.select(id.as("vec_id"), toDouble(vec).as("v"), label.as("lbl"))
      .filter(array_max(transform(col("v"), x => abs(x))) > 0)
    val cents = Similarity.centroidsWide(e)
    val assigned = Similarity.assignToNearest(e.drop("lbl"), cents)
    val buckets = assigned.groupBy("bucket")
      .agg(graft.functions.BoundedLongList(col("vec_id"), maxBucket)
        .as("docs"))
      .filter(col("docs").isNotNull)
      .select(sort_array(col("docs")).as("docs"))
    val dropped = bucketPairs(buckets)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
      .join(assigned.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
      .join(assigned.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
      .filter(round(cosine(col("va"), col("vb")), 4) >= thr)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("dup", lit(true))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("bucket"), col("dup").isNull.as("kept"))
      .orderBy("vec_id")
  }

  /** Character-level verification of candidate pairs by edit distance:
    * joins each (doc_a, doc_b) pair back to a `prefixLen`-char text
    * prefix and scores levenshtein similarity in exact basis points —
    * sim_bp = 10000 - halfUp(lev / max(len_a, len_b)). The string-level
    * second opinion a shingle-based candidate generator (MinHash,
    * SimHash) cannot give: token-identical but character-divergent
    * pairs (numbers, inflections) score low here.
    *
    * The prefix cap is the scale contract, stated rather than hidden:
    * levenshtein is O(len²) per pair, so unbounded texts would make one
    * hot pair quadratic in document size; prefixLen² per pair is flat.
    * Both engines' levenshtein is the unit-cost DP — identical integers.
    *
    * Scale shape: two id-keyed joins of the (bounded) candidate set
    * against the prefix projection; the O(prefixLen²) DP runs inside
    * the join's project, once per candidate pair.
    */
  /** Per-document n-gram NOVELTY: the exact-basis-point fraction of a
    * doc's distinct n-grams whose first corpus occurrence (min id) is
    * this doc — the marginal-contribution signal (boilerplate ~0, fresh
    * content ~10000bp). One gram-keyed shuffle builds the first-seer
    * table; the novelty join reuses that partitioning; the per-doc
    * rollup map-side combines. No pair joins — novelty is a gram-level
    * property, cheaper than any pairwise dedup.
    * Output: (doc_id, n_grams, n_novel, novelty_bp). Docs with fewer
    * than n words have no grams and are absent.
    */
  def gramNovelty(df: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    val g = df.select(id.as("doc_id"),
      explode(graft.functions.TextFunctions.distinctGrams(text, n)).as("gram"))
    val first = g.groupBy("gram").agg(min("doc_id").as("first_doc"))
    g.join(first, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        graft.functions.IntMath.bp(col("n_novel"), col("n_grams"))
          .as("novelty_bp"))
  }

  def editSimilarity(df: DataFrame, id: Column, text: Column,
                     pairs: DataFrame, prefixLen: Int): DataFrame = {
    val t = df.select(id.as("doc_id"),
      substring(text, 1, prefixLen).as("pre"))
    val m = greatest(length(col("pa")), length(col("pb")))
    pairs
      .join(t.select(col("doc_id").as("doc_a"), col("pre").as("pa")), "doc_a")
      .join(t.select(col("doc_id").as("doc_b"), col("pre").as("pb")), "doc_b")
      .withColumn("edit_dist", levenshtein(col("pa"), col("pb")).cast("long"))
      // Two empty prefixes are identical by definition: sim = 10000 bp.
      // Without the guard the m=0 denominator yields NULL (Spark) vs a
      // division error (DuckDB) — a divergent edge in the contract.
      .withColumn("edit_sim_bp",
        when(m === 0, lit(10000L)).otherwise(
          lit(10000L) - graft.functions.IntMath.halfUp(
            col("edit_dist"), m.cast("long"), 10000L)))
      .drop("pa", "pb")
  }

  /** Sorted-neighborhood (SNM) dedup: the third classic blocking family
    * next to LSH (q24) and posting lists (q23) — sort the corpus by a
    * canonical key and pair each row with its next `win − 1` neighbors
    * in sort order, then verify candidates with exact distinct-gram
    * Jaccard. Effective when near-duplicates share a PREFIX (mirrored
    * articles, versioned documents) where gram banding would drown in
    * candidates.
    *
    * The sort lives INSIDE blocks (the first `blockLen` chars of the
    * normalized text): windows partition by block, so the global-sort
    * single-partition anti-pattern never appears — the standard
    * blocked-SNM bargain, candidates never straddle a block boundary
    * (loud contract; the oracle replays it). At 100 TB blocks are the
    * parallelism unit; a range-partitioned sort with `win`-row overlap
    * is the blockless alternative, deliberately not used here.
    *
    * Neighbor pairing is declarative: each row EMITS probes for ranks
    * rn+1 … rn+win−1 and the pairs come from ONE equi-join on
    * (block, rank) — no window self-join, fan-out exactly win−1.
    * Verification joins each candidate pair to the two docs' distinct
    * grams keyed on doc id (|pairs| × doc-length bound);
    * jacc_bp = 10⁴·|∩| div (|A|+|B|−|∩|), integer-exact on both
    * engines. Pairs sharing zero grams drop (their Jaccard is 0 —
    * callers pass minBp ≥ 1).
    */
  def sortedNeighborhoodPairs(df: DataFrame, id: Column, text: Column,
                              n: Int, keyLen: Int, blockLen: Int,
                              win: Int, minBp: Long,
                              pairBudget: Long = 1000000000L): DataFrame = {
    require(win >= 2, "sortedNeighborhoodPairs needs win >= 2")
    require(minBp >= 1, "minBp >= 1 (zero-overlap pairs are never emitted)")
    val base = df.select(id.as("doc_id"), words(text).as("ws"),
        regexp_replace(lower(trim(text)), "\\s+", " ").as("t"))
      .filter(col("t").isNotNull && length(col("t")) > 0)
      .select(col("doc_id"), col("ws"),
        substring(col("t"), 1, keyLen).as("skey"),
        substring(col("t"), 1, blockLen).as("blk"))
      .cache() // guard + rank window + gram branch share one scan;
               // lazy-output operator, so release is the CALLER's
               // (clearCache / unpersist after materializing —
               // AdmissionGuard rule 5)
    // ADMISSION GUARD (AdmissionGuard, the q174 discipline): the
    // candidate fan-out is EXACT from block sizes alone — a block of
    // c rows emits Σ_{k<c} min(win−1, k) pairs = C(c,2) when the
    // whole block fits one window, else w(w+1)/2 + (c−1−w)·w with
    // w = win−1. Callers widening `win` toward the block size turn
    // SNM back into the all-pairs join it exists to avoid; the bound
    // makes that visible before the fan-out, not after.
    val w = win - 1L
    AdmissionGuard.admit("sortedNeighborhoodPairs", "candidate-pair bound",
      AdmissionGuard.measuredBound(
        base.groupBy("blk").agg(count(lit(1)).as("c")),
        sum(when(col("c") - 1 <= w, expr("c * (c - 1) div 2"))
          .otherwise(lit(w * (w + 1) / 2) + (col("c") - 1 - w) * w))),
      "pairBudget", pairBudget,
      "The window spans whole blocks, so SNM has degenerated to " +
        "all-pairs inside them; shrink win, lengthen blockLen, or " +
        "escalate to MinHash-LSH (Dedup.minhashLsh, q24).")
    val ranked = base.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("blk").orderBy("skey", "doc_id")))
    val probes = ranked.select(col("blk"), col("doc_id").as("id_a"),
      explode(sequence(col("rn") + 1, col("rn") + (win - 1))).as("rn2"))
    val pairs = probes.join(
        ranked.select(col("blk"), col("rn").as("rn2"),
          col("doc_id").as("id_b")), Seq("blk", "rn2"))
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"))
    val grams = base.filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.WordGramsNative.gramsCol(col("ws"), n))).as("gram"))
    val gc = grams.groupBy("doc_id").agg(count(lit(1)).as("ng"))
    val shared = pairs
      .join(grams.select(col("doc_id").as("doc_a"), col("gram")), "doc_a")
      .join(grams.select(col("doc_id").as("doc_b"), col("gram")),
        Seq("doc_b", "gram"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
    shared
      .join(gc.select(col("doc_id").as("doc_a"), col("ng").as("na")), "doc_a")
      .join(gc.select(col("doc_id").as("doc_b"), col("ng").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("shared"),
        expr("(10000 * shared) div (na + nb - shared)").as("jacc_bp"))
      .filter(col("jacc_bp") >= minBp)
  }

  /** WEIGHTED (multiset) Jaccard refine over candidate pairs — the
    * similarity the set-Jaccard stages upstream deliberately blur: a
    * doc that repeats a shared phrase ten times scores the same as one
    * using it once under set semantics; the weighted form
    *
    *   wJ = Σ_g min(tfₐ, tf_b) / Σ_g max(tfₐ, tf_b)
    *
    * distinguishes them. The denominator never materializes the gram
    * union: Σ max = Tₐ + T_b − Σ min (T = per-doc total gram count),
    * so the only pair-level work is the Σ min join over SHARED grams —
    * the same doc_a/doc_b posting joins as the set verify, with tf
    * payloads. Exact integers end to end: wjacc_bp = 10⁴·Σmin div
    * (Tₐ+T_b−Σmin), operands non-negative.
    *
    * @param pairs candidate pairs (doc_a, doc_b) from any blocking
    *              stage (sorted-neighborhood, LSH buckets, …)
    */
  def weightedJaccardPairs(pairs: DataFrame, df: DataFrame, id: Column,
                           text: Column, n: Int): DataFrame = {
    val tf = df.select(id.as("doc_id"), words(text).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(
        graft.functions.WordGramsNative.gramsCol(col("ws"), n)).as("gram"))
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("tf"))
    val tot = tf.groupBy("doc_id").agg(sum("tf").as("t"))
    val p = pairs.select("doc_a", "doc_b")
    val smin = p
      .join(tf.select(col("doc_id").as("doc_a"), col("gram"),
        col("tf").as("tfa")), "doc_a")
      .join(tf.select(col("doc_id").as("doc_b"), col("gram"),
        col("tf").as("tfb")), Seq("doc_b", "gram"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(least(col("tfa"), col("tfb"))).as("smin"))
    p.join(smin, Seq("doc_a", "doc_b"), "left")
      .join(tot.select(col("doc_id").as("doc_a"), col("t").as("ta")), "doc_a")
      .join(tot.select(col("doc_id").as("doc_b"), col("t").as("tb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("smin"), lit(0L)).cast("long").as("smin"),
        expr("(10000 * coalesce(smin, 0)) div (ta + tb - coalesce(smin, 0))")
          .as("wjacc_bp"))
  }

  /** CONTENT-DEFINED CHUNKING: cut each document where a rolling 4-char
    * polynomial hash (base-31 over code points) lands on a multiple of
    * `mask` — the Rabin-style boundary rule that keeps chunk boundaries
    * STABLE under insertions (a fixed-width chunker shifts every chunk
    * after an edit; CDC re-synchronizes at the next content-defined
    * cut, so chunk-level dedup still matches the unedited tail). Output
    * is one row per (doc, chunk) with the chunk text — exact chunk
    * dedup is then a plain groupBy on the chunk string.
    *
    * Expected chunk length = `mask` chars (uniform hash); chunks
    * shorter than `minLen` are dropped from the output (boundary noise,
    * the same role as a CDC minimum-chunk floor).
    *
    * Scale shape: pure per-row expression work — the whole sweep is the
    * native one-pass `CdcChunks` codegen kernel (decode code points
    * once, roll the 4-char hash, slice segments), no shuffle until the
    * consumer's chunk groupBy; cost is O(len) per doc, independent of
    * corpus size. (The previous composed array program paid an O(p)
    * UTF8String seek per `substr(txt, p, 1)` probe — O(len²) per doc,
    * 12.1 s at sf0.1; the kernel is spec-pinned chunk-for-chunk equal
    * to it, see `cdcChunksComposed` + DedupSpec/KernelUnicodeSpec.)
    */
  def cdcChunks(df: DataFrame, id: Column, text: Column,
                mask: Int = 64, minLen: Int = 8): DataFrame = {
    require(mask >= 2, "mask must be >= 2")
    df.select(id.as("doc_id"), text.as("txt"))
      .filter(col("txt").isNotNull && length(col("txt")) >= 4)
      .select(col("doc_id"),
        explode(graft.functions.CdcChunksNative.chunksCol(
          col("txt"), mask, minLen)).as("chunk"))
  }

  /** The pre-round-9 composed-expression form of [[cdcChunks]], kept as
    * the executable reference the native kernel is spec-pinned against
    * (bit-equal chunks on ASCII and multi-byte text). Not used by any
    * query — O(len²) per doc, see the kernel's Scaladoc.
    */
  private[graft] def cdcChunksComposed(df: DataFrame, id: Column, text: Column,
                mask: Int = 64, minLen: Int = 8): DataFrame = {
    require(mask >= 2, "mask must be >= 2")
    val t = df.select(id.as("doc_id"), text.as("txt"))
      .filter(col("txt").isNotNull && length(col("txt")) >= 4)
    val ln = length(col("txt"))
    // NOTE: substr-per-position, NOT a materialized code-point array —
    // an aliased `transform(split(txt,''), ascii)` column gets INLINED
    // into the filter lambda by projection collapse and recomputed at
    // every position (O(len²): measured 12 s -> 190 s at sf0.1).
    def code(p: Column) = ascii(col("txt").substr(p, lit(1)))
    val cutEnds = transform(
      filter(sequence(lit(1), ln - 3), i =>
        (code(i) * 29791 + code(i + 1) * 961 + code(i + 2) * 31 +
          code(i + 3)) % mask === 0),
      c => c + 3)
    t.withColumn("segs", arrays_zip(
        concat(array(lit(0)), cutEnds).as("s"),
        concat(cutEnds, array(ln)).as("e")))
      .select(col("doc_id"), col("txt"), explode(col("segs")).as("z"))
      .filter(col("z.e") > col("z.s"))
      .select(col("doc_id"),
        col("txt").substr(col("z.s") + 1, col("z.e") - col("z.s"))
          .as("chunk"))
      .filter(length(col("chunk")) >= minLen)
  }

  /** Bounded EDIT-DISTANCE self-join (PassJoin's segment pigeonhole):
    * all pairs with levenshtein(a, b) <= d — the CHARACTER-level
    * near-dup family member (the token-based family — n-gram Jaccard,
    * MinHash, SimHash — is blind to single-character typo/OCR drift,
    * which is exactly what edit distance catches).
    *
    * LOSSLESS candidate rule: partition every string into d+1
    * contiguous segments (PassJoin's even-partition scheme — the
    * first (d+1) − (L mod (d+1)) segments take floor(L/(d+1)) chars,
    * the rest one more). If ed(a, b) <= d, the <= d edits touch at
    * most d segments, so at least ONE segment of a survives verbatim
    * in b, displaced by at most d positions (each edit shifts later
    * text by <= 1). Candidates are therefore the equality join of a's
    * indexed segments (la, q, content) against b's probe substrings —
    * for each candidate partner length la in [len(b)−d, len(b)+d],
    * segment q's window start shifted by −d..d — and the join misses
    * no qualifying pair BY CONSTRUCTION; `levenshtein` (codegen'd,
    * same unit-cost DP as the DuckDB oracle) then verifies exactly.
    *
    * Scale shape: probe fan-out is a CONSTANT (2d+1)²·(d+1) keys per
    * string (49·4 at d = 3); candidates meet on hash-partitioned
    * (la, q, content) keys — short segments on a skewed alphabet
    * densify buckets, which is the documented escalation to longer
    * strings or a posting cap (the q174 admission discipline), not a
    * silent slowdown. Verification is one distinct + one per-pair DP
    * on candidate pairs only. Strings shorter than d+1 cannot fill
    * their segments and FAIL LOUDLY (raise_error) — the short-string
    * regime belongs to an exact small-bucket product, not to this
    * pigeonhole.
    *
    * ADMISSION GUARD (the q174/pairBudget discipline, triggered by
    * this operator's own sf1 rehearsal): segment selectivity is a
    * function of the KEY, not the corpus — 7-char segments (30-char
    * keys at d = 3) over natural-ish text saturated their buckets and
    * the candidate space grew ~quadratically (337K pairs at 5K docs →
    * 30.8M at 50K — a disk-filling ~3G at 500K) while the TRUE answer
    * stayed sparse (~2.8K). The exact candidate bound
    * Σ_key |segments| · |probes| is knowable from two linear
    * aggregations BEFORE the join fan-out; over `candBudget` the job
    * refuses loudly with the measured bound and the escalation path
    * (longer keys — 60-char keys cut the same corpus's candidates
    * ~80× — or smaller d, never a silent quadratic).
    *
    * Output: (doc_a < doc_b, dist), dist = exact levenshtein <= d.
    */
  def editDistanceJoin(df: DataFrame, id: Column, text: Column,
                       d: Int, candBudget: Long = 1000000000L): DataFrame = {
    require(d >= 1 && d <= 5, "editDistanceJoin needs 1 <= d <= 5")
    require(candBudget >= 1, "editDistanceJoin needs candBudget >= 1")
    val k = d + 1
    val docs = df.select(id.as("doc_id"), text.as("txt"))
      .withColumn("len",
        when(length(col("txt")) >= k, length(col("txt")).cast("int"))
          .otherwise(raise_error(concat(
            lit(s"editDistanceJoin: string shorter than d+1 = $k " +
              "cannot fill its pigeonhole segments (escalate short " +
              "strings to an exact small-bucket pass): doc_id="),
            col("doc_id").cast("string")))))
    def segCols(laCol: Column, q: Column): (Column, Column) = {
      // PassJoin even partition of length la into k segments, all in
      // exact integer arithmetic (operands non-negative, div == floor)
      val base = laCol.divide(k).cast("int")
      val nSmall = lit(k) - (laCol % k)
      val slen = base + when(q >= nSmall, 1).otherwise(0)
      val start = q * base + greatest(lit(0), q - nSmall)
      (start, slen)
    }
    val qIdx = explode(sequence(lit(0), lit(d)))
    val index = docs.select(col("doc_id"), col("txt"),
        col("len").as("la"))
      .withColumn("q", qIdx)
    val (iStart, iLen) = segCols(col("la"), col("q"))
    val segs = index
      .withColumn("seg", col("txt").substr(iStart + 1, iLen))
      .select(col("doc_id").as("id_a"), col("la"), col("q"), col("seg"))
    val probes0 = docs.select(col("doc_id"), col("txt"), col("len"))
      .withColumn("la", explode(sequence(col("len") - d, col("len") + d)))
      .filter(col("la") >= k)
      .withColumn("q", qIdx)
    val (pStart, pLen) = segCols(col("la"), col("q"))
    val probes = probes0
      .withColumn("shift", explode(sequence(lit(-d), lit(d))))
      .withColumn("pos", pStart + col("shift"))
      .filter(col("pos") >= 0 && col("pos") + pLen <= col("len"))
      .withColumn("sub", col("txt").substr(col("pos") + 1, pLen))
      .select(col("doc_id").as("id_b"), col("la"), col("q"), col("sub"))
      .cache() // guard + candidate join share one fan-out each
               // (released by the runner's clearCache)
    segs.cache()
    // admission: exact candidate bound from two linear aggregations —
    // refuse BEFORE the join can materialize a quadratic bucket space
    AdmissionGuard.admit("editDistanceJoin", "candidate bound",
      AdmissionGuard.measuredBound(
        segs.groupBy("la", "q", "seg")
          .agg(count(lit(1)).as("ns"))
          .join(probes.groupBy(col("la").as("pla"), col("q").as("pq"),
                col("sub"))
              .agg(count(lit(1)).as("np")),
            col("la") === col("pla") && col("q") === col("pq") &&
              col("seg") === col("sub")),
        sum(col("ns") * col("np"))),
      "candBudget", candBudget,
      "The segment buckets are saturated for this key length " +
        "(pigeonhole selectivity is a property of the KEY, not the " +
        "corpus); escalate to a longer key column or a smaller d.")
    val cand = segs.join(probes,
        segs("la") === probes("la") && segs("q") === probes("q") &&
          col("seg") === col("sub") && col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"))
      .distinct()
    val ta = docs.select(col("doc_id").as("doc_a"), col("txt").as("ta"))
    val tb = docs.select(col("doc_id").as("doc_b"), col("txt").as("tb"))
    cand.join(ta, "doc_a").join(tb, "doc_b")
      .withColumn("dist", levenshtein(col("ta"), col("tb")).cast("long"))
      .filter(col("dist") <= d)
      .select("doc_a", "doc_b", "dist")
  }
}
