package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Frequent-itemset mining over (basket, item) pairs — the Apriori
  * staircase (Agrawal & Srikant, VLDB'94) with the candidate pruning
  * done the distributed way: every Lₖ level is a broadcast-sized
  * frequency table, and the basket stream is filtered against it BEFORE
  * the next level's enumeration, so per-basket fan-out only ever runs
  * over items that can still participate in a frequent set.
  *
  * Reference analogue: none — analytics-pack extension (q129's pair
  * counting promoted to the full L1→L2→L3 candidate-generation loop).
  */
object Itemsets {

  /** Frequent item TRIPLES at relative support `supNum/supDen` (e.g.
    * 1/2 = "in at least half the baskets"), top-`k` by support.
    *
    * The three Apriori moves, in plan terms:
    *  1. L1: per-item basket counts; items below support leave the
    *     basket stream via a broadcast semi-join — every later stage
    *     fans out only over L1 survivors.
    *  2. Each surviving basket collapses to ONE row holding its sorted
    *     frequent-item array (one basket-keyed shuffle, the only one);
    *     pair and triple enumeration are nested posexplode/slice
    *     expressions over that array — pure codegen fan-out, no
    *     basket-keyed self-joins (the self-join form sort-merged the
    *     ~10⁷-row enumeration twice; this form never shuffles it).
    *  3. L2 and the Apriori closure: the surviving pair set is
    *     broadcast-sized, and candidate triples pass three broadcast
    *     semi-joins — (x,y), (x,z), (y,z) all frequent — as per-row
    *     hash probes BEFORE the count agg.
    *
    * Scale shape: one shuffle to build basket arrays, one map-side-
    * combined agg per Lₖ; every Lₖ table rides as a broadcast; the
    * support thresholds are exact integer cross-multiplications
    * (sup·supDen ≥ n·supNum — no division anywhere). Per-basket
    * fan-out is C(|L1 items in basket|, 3), bounded by the EXPLICIT
    * `maxBasket` cap: baskets holding more L1-surviving items are
    * DROPPED from pair/triple enumeration entirely (their support
    * contributions vanish — the same loud drop contract as every
    * dedup maxDf; below the cap, capped == uncapped exactly,
    * spec-pinned). The result is materialized before return and the
    * intermediate caches released (a 246-query bench session must not
    * accumulate block-manager residue).
    */
  /** @param materialize eagerly localCheckpoint the k result rows and
    *   release the staircase caches (the default — bench-session
    *   hygiene). `false` returns the lazy plan (caches left alive) for
    *   plan introspection: PlansSpec asserts the staircase shape on
    *   this form, since the materialized form's plan is just the
    *   checkpoint scan.
    */
  /** Unordered co-occurrence pair counts over baskets — the
    * market-basket primitive behind "frequently bought together"
    * (q129). One shuffle builds per-basket distinct sorted item
    * arrays; the C(n,2) pairs are emitted in codegen
    * (functions/ArrayPairs) — no basket self-join anywhere.
    *
    * ADMISSION GUARD (AdmissionGuard, the q174 discipline): the
    * fan-out is exactly Σ C(|basket|, 2), knowable from the basket
    * arrays BEFORE the explode. On the TPC-H-ish order model baskets
    * are bounded (≤ 7 lineitems), but the operator cannot assume its
    * caller's data model — a retail-scale basket table with power-law
    * widths turns this into the quadratic it looks linear as; the
    * guard names that before the shuffle pays for it.
    *
    * Output: (item_a < item_b, n_baskets).
    */
  def basketPairs(df: DataFrame, basket: Column, item: Column,
                  pairBudget: Long = 1000000000L): DataFrame = {
    val arr = df.select(basket.as("bk"), item.as("it"))
      .groupBy("bk").agg(sort_array(collect_set(col("it"))).as("a"))
      .cache() // guard + explode share one build; lazy-output
               // operator, so release is the CALLER's (clearCache /
               // unpersist after materializing — AdmissionGuard rule 5)
    AdmissionGuard.admit("basketPairs", "pair fan-out bound",
      AdmissionGuard.measuredBound(arr,
        sum(expr("CAST(size(a) AS BIGINT) * (size(a) - 1) div 2"))),
      "pairBudget", pairBudget,
      "Basket width drives a quadratic per-basket fan-out; cap or " +
        "pre-filter baskets to frequent items first (the " +
        "frequentTriples L1 xB maxBasket discipline).")
    arr.select(explode(graft.functions.ArrayPairs.pairs(col("a")))
        .as("p"))
      .groupBy(col("p.u").as("item_a"), col("p.v").as("item_b"))
      .agg(count(lit(1)).as("n_baskets"))
  }

  def frequentTriples(df: DataFrame, basket: Column, item: Column,
                      supNum: Int, supDen: Int, k: Int,
                      maxBasket: Int = 10000,
                      materialize: Boolean = true): DataFrame = {
    require(supNum >= 1 && supDen >= supNum,
      "frequentTriples needs a relative support in (0, 1]")
    require(maxBasket >= 3, "maxBasket must be >= 3 (a triple needs 3 items)")
    val b = df.select(basket.as("bk"), item.as("it")).distinct().cache()
    val nB = b.agg(countDistinct("bk").as("nb"))
    def frequent(counted: DataFrame, supCol: Column): DataFrame =
      counted.crossJoin(broadcast(nB))
        .filter(supCol * supDen >= col("nb") * supNum)
    val l1 = frequent(
      b.groupBy("it").agg(count(lit(1)).as("sup")), col("sup"))
      .select("it")
    // Dictionary-encode the L1 survivors to dense longs RANKED IN ITEM
    // ORDER (r14, guide §2.3 narrower types): the 10⁷-row triple
    // enumeration, its three closure probes and the support aggregate
    // then run on 8-byte longs instead of item strings — measured at
    // sf0.1 in one warm session: enumerate+probes+agg 5.6 s on strings
    // vs 3.1 s on codes, the agg alone 2.1 s vs 0.7 s. |L1| is
    // support-bounded (each survivor sits in ≥ nb·supNum/supDen
    // baskets, so |L1| ≤ avgBasketWidth·supDen/supNum — dozens), so
    // the rank window rides a ≤|L1|-row table, the kmeans-seed-window
    // bargain. Codes inherit the item sort order, so the sorted code
    // arrays enumerate the identical i<j<k combinations and the
    // decoded output is bit-identical, tie-order included.
    // The rank window below is UNPARTITIONED — a deliberate
    // single-partition sort that is only sane because |L1| is
    // support-bounded. That bound is the CALLER's supNum/supDen; a
    // tiny relative support would silently turn this into an unbounded
    // one-task sort, so the admission guard names it first (r15
    // ADVICE: the operator's other caps are loud, this one wasn't).
    AdmissionGuard.admit("frequentTriples", "L1 survivor count",
      AdmissionGuard.measuredBound(l1, count(lit(1))),
      "l1Budget", 1000000L,
      "Relative support supNum/supDen bounds |L1| to " +
        "avgBasketWidth*supDen/supNum; a support this low makes the " +
        "dictionary rank window a single-task sort over an unbounded " +
        "item set — raise the support or dictionary-encode with a " +
        "distributed zipWithIndex instead.")
    val wDict = org.apache.spark.sql.expressions.Window.orderBy("it")
    val dict = l1
      .withColumn("__c", (row_number().over(wDict) - 1).cast("long"))
      .cache()
    val arrAll = b.join(broadcast(dict), "it")
      .groupBy("bk").agg(sort_array(collect_set(col("__c"))).as("items"))
      .cache()
    // Width pin before the fan-out (the q174 emission-pin discipline):
    // the basket-array table is byte-tiny (one row per basket of
    // longs), so AQE legally coalesces it to 1-2 partitions and the
    // entire C(w,3) explode serializes onto as many cores. A user
    // repartition AQE never coalesces spreads the arrays round-robin;
    // the shuffle it adds moves only the basket arrays, never the
    // enumerated combinations.
    val arr = arrAll.filter(size(col("items")) <= maxBasket)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    // x at 0-based i; candidates after it start at 1-based i+2
    val pairs = arr
      .select(posexplode(col("items")).as(Seq("i", "x")), col("items"))
      .select(col("x"),
        explode(slice(col("items"), col("i") + lit(2),
          size(col("items")))).as("y"))
    val l2 = frequent(
      pairs.groupBy("x", "y").agg(count(lit(1)).as("sup")), col("sup"))
      .select("x", "y").cache()
    // y at 0-based i+1+j in items; z candidates start at 1-based i+j+3
    val tri = arr
      .select(posexplode(col("items")).as(Seq("i", "x")), col("items"))
      .select(col("x"), col("i"), col("items"),
        posexplode(slice(col("items"), col("i") + lit(2),
          size(col("items")))).as(Seq("j", "y")))
      .select(col("x"), col("y"),
        explode(slice(col("items"), col("i") + col("j") + lit(3),
          size(col("items")))).as("z"))
    val lazyOut = tri
      .join(broadcast(l2), Seq("x", "y"), "left_semi")
      .join(broadcast(l2.select(col("x"), col("y").as("z"))),
        Seq("x", "z"), "left_semi")
      .join(broadcast(l2.select(col("x").as("y"), col("y").as("z"))),
        Seq("y", "z"), "left_semi")
      .groupBy(col("x"), col("y"), col("z"))
      .agg(count(lit(1)).cast("long").as("sup"))
      // decode the k result triples back to items (3 broadcast probes
      // over the ≤|L1|-row dict — cost lands on the tiny aggregated
      // table, not the enumeration)
      .join(broadcast(dict.select(col("__c").as("x"),
        col("it").as("item1"))), "x")
      .join(broadcast(dict.select(col("__c").as("y"),
        col("it").as("item2"))), "y")
      .join(broadcast(dict.select(col("__c").as("z"),
        col("it").as("item3"))), "z")
      .select("item1", "item2", "item3", "sup")
      .orderBy(col("sup").desc, col("item1"), col("item2"), col("item3"))
      .limit(k)
    if (!materialize) lazyOut
    else {
      // materialize the k result rows (the Bpe.learnMerges pattern)
      val out = lazyOut.localCheckpoint(eager = true)
      // The maxBasket cap DROPS over-wide baskets from enumeration
      // (their support contributions vanish) — make that observable
      // (no-silent-caps convention): one cheap count over the cached
      // basket-array table, logged when nonzero so callers see that
      // support counts shifted.
      val dropped = arrAll.filter(size(col("items")) > maxBasket).count()
      AdmissionGuard.reportDrops("frequentTriples", dropped,
        "maxBasket", maxBasket,
        "support counts exclude their pair/triple contributions")
      // round caches (plain) left to the caller's clearCache (r15):
      // each Dataset.unpersist re-canonicalizes every cached plan —
      // measured seconds per sweep on deep lineages (the kHopFrontiers
      // finding); the k result rows above are already checkpointed.
      out
    }
  }
}
