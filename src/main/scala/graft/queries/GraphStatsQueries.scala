package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Analytics
import graft.util.Tables

/** Graph / sketches / exact-statistics / temporal query pack — the
  * q178+ half of the former AnalyticsQueries file, split along its
  * batch seam (round-8 verdict housekeeping; no query renames).
  * Every entry keeps the house rules: integer-exact arithmetic,
  * div-vs-floor discipline, paired DuckDB oracles, total ORDER BY.
  */
object GraphStatsQueries {

  val qs: Seq[Q] = Seq(

    // q178 — ORDER-INDEPENDENT TABLE CHECKSUM: "did two pipelines
    // produce the SAME table?" answered with one scan and |groups|
    // rows. Rows serialize canonically (chr(1) null sentinel, chr(31)
    // separator — concat_ws alone would merge adjacent nulls), hash to
    // the repo-standard 60-bit md5 value, and each source's checksum
    // is the SUM of row hashes mod 2^61−1 — sums commute, so partition/
    // file/shuffle order all wash out. The oracle match IS the
    // demonstration: two independent engines scanning the same table
    // in different orders land on the identical checksum. Scale shape:
    // per-row projection + algebraic agg (map-side partials collapse
    // each partition to one row per group) — a 100 TB equality check
    // costs one columnar scan per side.
    Q("q178_table_checksum",
      (s, d) => graft.operators.Integrity.groupChecksum(
          Tables(s, d, "documents"), col("source"),
          Seq(col("doc_id"), col("lang"), col("n_chars"), col("text")))
        .select(col("grp").as("source"), col("n_rows"), col("checksum"))
        .orderBy("source"),
      Some("""WITH r AS (SELECT source,
        |    CAST(('0x' || substring(md5('0#' ||
        |      concat_ws(chr(31),
        |        coalesce(CAST(doc_id AS VARCHAR), chr(1)),
        |        coalesce(lang, chr(1)),
        |        coalesce(CAST(n_chars AS VARCHAR), chr(1)),
        |        coalesce(text, chr(1)))), 1, 15)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT source, count(*) AS n_rows,
        |  CAST(sum(h) % 2305843009213693951 AS BIGINT) AS checksum
        |FROM r GROUP BY source ORDER BY source""".stripMargin),
      "order-independent per-source content checksum (sum of row hashes mod 2^61-1)"),

    // q179 — HYPERLOGLOG registers replayed by the oracle: md5-derived
    // 64-register HLL (p=6) where register index, rho (leading-zero
    // rank via the engine-portable length(bin(x)) — an integer-string
    // op, no libm), and the raw integer-division estimate are all
    // recomputed exactly in DuckDB. The register table IS the mergeable
    // sketch state — the constant-size thing a 1000-executor distinct
    // count ships instead of a key-cardinality shuffle (register build
    // collapses to ≤ 64 rows per partition via map-side max partials).
    Q("q179_hll_registers",
      (s, d) => graft.operators.Sketches.hllReplay(
          Tables(s, d, "events"), col("user_id"), p = 6)
        .orderBy("register"),
      Some("""WITH h AS (SELECT CAST(('0x' || substring(
        |      md5('0#' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events),
        |r AS (SELECT h % 64 AS register,
        |    CASE WHEN (h >> 6) = 0 THEN 55
        |         ELSE 55 - length(bin(h >> 6)) END AS rho0
        |  FROM h),
        |occ AS (SELECT register, max(rho0) AS rho FROM r GROUP BY 1),
        |gs AS (SELECT unnest(generate_series(0, 63)) AS register),
        |regs AS (SELECT gs.register,
        |    CAST(COALESCE(occ.rho, 0) AS BIGINT) AS rho
        |  FROM gs LEFT JOIN occ USING (register)),
        |s AS (SELECT sum(CAST(1 AS HUGEINT) << CAST(60 - rho AS INT)) AS sv
        |  FROM regs),
        |est AS (SELECT CAST((709 * 64 * 64 * (CAST(1 AS HUGEINT) << 60))
        |    // (1000 * sv) AS BIGINT) AS est FROM s),
        |n AS (SELECT count(DISTINCT user_id) AS n_true FROM events)
        |SELECT regs.register, regs.rho, est.est, n.n_true
        |FROM regs, est, n ORDER BY register""".stripMargin),
      "HyperLogLog p=6 register table + raw integer estimate, replayed exactly by the oracle"),

    // q180 — PAGERANK over the part co-purchase graph (parts sharing an
    // order), 3 synchronous iterations in scaled integer arithmetic
    // (scores x 1e9, damping 85/100, every division integral) — the
    // whole fixed-point program replays in DuckDB as unrolled CTEs.
    // Scale shape: pair fan-out bounded by order size; each iteration is
    // one score-to-edges join + one target-keyed aggregation (the
    // canonical Pregel step); at cluster scale co-partition edges and
    // scores on the node key once and checkpoint between iterations.
    Q("q180_pagerank_copurchase",
      (s, d) => {
        val edges = graft.operators.Graph.coOccurrenceEdges(
          Tables(s, d, "lineitem"), col("l_orderkey"), col("l_partkey"))
        graft.operators.Graph.pageRankInt(edges, iters = 3)
          .select(col("node").as("part_key"), col("pr"))
          .orderBy(desc("pr"), col("part_key")).limit(20)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS gk, l_partkey AS it
        |  FROM lineitem),
        |p0 AS (SELECT a.it AS u, b.it AS v FROM li a JOIN li b USING (gk)
        |  WHERE a.it < b.it),
        |p1 AS (SELECT DISTINCT u, v FROM p0),
        |e AS (SELECT u, v FROM p1 UNION ALL SELECT v, u FROM p1),
        |deg AS (SELECT u, count(*) AS du FROM e GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM deg),
        |s0 AS (SELECT deg.u AS node, deg.du,
        |    1000000000 // n.n AS s,
        |    (15 * (1000000000 // n.n)) // 100 AS tele
        |  FROM deg, n),
        |i1 AS (SELECT e.v AS node, sum(s0.s // s0.du) AS inc
        |  FROM e JOIN s0 ON e.u = s0.node GROUP BY 1),
        |s1 AS (SELECT s0.node, s0.du, s0.tele,
        |    s0.tele + (85 * i1.inc) // 100 AS s
        |  FROM s0 JOIN i1 USING (node)),
        |i2 AS (SELECT e.v AS node, sum(s1.s // s1.du) AS inc
        |  FROM e JOIN s1 ON e.u = s1.node GROUP BY 1),
        |s2 AS (SELECT s1.node, s1.du, s1.tele,
        |    s1.tele + (85 * i2.inc) // 100 AS s
        |  FROM s1 JOIN i2 USING (node)),
        |i3 AS (SELECT e.v AS node, sum(s2.s // s2.du) AS inc
        |  FROM e JOIN s2 ON e.u = s2.node GROUP BY 1),
        |s3 AS (SELECT s2.node, s2.tele,
        |    s2.tele + (85 * i3.inc) // 100 AS s
        |  FROM s2 JOIN i3 USING (node))
        |SELECT node AS part_key, CAST(s AS BIGINT) AS pr
        |FROM s3 ORDER BY pr DESC, part_key LIMIT 20""".stripMargin),
      "integer PageRank (3 iters, damping 85/100) over part co-purchase edges"),

    // q183 — TRIANGLE CENSUS, degree-ordered: compact-forward counting
    // (orient every edge toward its higher-(degree,id) endpoint; a
    // triangle is found exactly once, from its lowest corner) over a
    // sparse co-purchase slice (qty ≥ 40 lineitems), hubs above deg 64
    // pruned by loud contract. The oracle replays the same induced
    // graph but counts triangles its own way (min-id-centered 3-way
    // join) — agreeing counts across two DIFFERENT enumeration orders
    // is the point. Clustering coefficient in integer basis points.
    Q("q183_triangle_census",
      (s, d) => {
        val edges = graft.operators.Graph.coOccurrenceEdges(
          Tables(s, d, "lineitem").filter(col("l_quantity") >= 40),
          col("l_orderkey"), col("l_partkey"))
        graft.operators.Graph.triangleStats(edges, maxDeg = 64)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS gk, l_partkey AS it
        |  FROM lineitem WHERE l_quantity >= 40),
        |p0 AS (SELECT a.it AS u, b.it AS v FROM li a JOIN li b USING (gk)
        |  WHERE a.it < b.it),
        |p1 AS (SELECT DISTINCT u, v FROM p0),
        |e AS (SELECT u, v FROM p1 UNION ALL SELECT v, u FROM p1),
        |deg AS (SELECT u, count(*) AS du FROM e GROUP BY 1),
        |keep AS (SELECT u FROM deg WHERE du <= 64),
        |ke AS (SELECT p1.u, p1.v FROM p1
        |  JOIN keep a ON a.u = p1.u JOIN keep b ON b.u = p1.v),
        |ie AS (SELECT u, v FROM ke UNION ALL SELECT v, u FROM ke),
        |idg AS (SELECT u, count(*) AS d FROM ie GROUP BY 1),
        |tri AS (SELECT count(*) AS t FROM ke a
        |  JOIN ke b ON b.u = a.u AND b.v > a.v
        |  JOIN ke c ON c.u = a.v AND c.v = b.v),
        |st AS (SELECT count(*) AS n_nodes,
        |    CAST(sum(d) // 2 AS BIGINT) AS n_edges,
        |    CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
        |  FROM idg)
        |SELECT CAST(st.n_nodes AS BIGINT) AS n_nodes, st.n_edges,
        |  st.n_wedges, CAST(tri.t AS BIGINT) AS n_triangles,
        |  CAST(CASE WHEN st.n_wedges = 0 THEN 0
        |    ELSE (3 * tri.t * 10000) // st.n_wedges END AS BIGINT)
        |    AS clustering_bp
        |FROM st, tri""".stripMargin),
      "compact-forward triangle census + clustering bp; oracle counts by a different enumeration"),

    // q184 — KMV BOTTOM-K distinct sketch per event type + "__union":
    // the mergeable bottom-k cardinality sketch (est = (k−1)·2⁶⁰ div
    // kth-smallest-hash), replayed hash-for-hash by the oracle; scopes
    // with < k keys degrade to the exact count (the sketch IS the key
    // set). Complements q179's HLL: KMV union-merges by keeping the k
    // smallest of the pooled hashes — the same program computes the
    // union scope, which is how a 1000-executor run combines shards.
    Q("q184_kmv_sketch",
      (s, d) => graft.operators.Sketches.kmvReplay(
          Tables(s, d, "events"), col("user_id"), col("event_type"),
          k = 128)
        .orderBy("scope"),
      Some("""WITH b AS (SELECT event_type AS scope,
        |    CAST(user_id AS VARCHAR) AS kk FROM events
        |  UNION ALL SELECT '__union', CAST(user_id AS VARCHAR) FROM events),
        |a AS (SELECT scope, kk,
        |    CAST(('0x' || substring(md5('0#' || kk), 1, 15)) AS BIGINT) AS h
        |  FROM b),
        |d AS (SELECT DISTINCT scope, h FROM a),
        |nh AS (SELECT scope, count(*) AS n_hashes FROM d GROUP BY 1),
        |kt AS (SELECT scope, h AS kth_hash FROM (SELECT scope, h,
        |    row_number() OVER (PARTITION BY scope ORDER BY h) AS rn FROM d)
        |  WHERE rn = 128),
        |nt AS (SELECT scope, count(DISTINCT kk) AS n_true FROM a GROUP BY 1)
        |SELECT nh.scope, CAST(least(nh.n_hashes, 128) AS BIGINT) AS n_kept,
        |  kt.kth_hash,
        |  CAST(CASE WHEN nh.n_hashes < 128 THEN nh.n_hashes
        |    ELSE (CAST(127 AS HUGEINT) * 1152921504606846976) // kt.kth_hash
        |    END AS BIGINT) AS est,
        |  CAST(nt.n_true AS BIGINT) AS n_true
        |FROM nh LEFT JOIN kt USING (scope) JOIN nt USING (scope)
        |ORDER BY scope""".stripMargin),
      "KMV bottom-k distinct sketch per scope + union scope, replayed hash-for-hash"),

    // q185 — 2-D PARETO FRONTIER (skyline) of parts: cheapest price for
    // the size, decomposed through per-cost maxima so the corpus never
    // self-joins (textbook skyline is an O(n²) dominance anti-join; the
    // 2-D case collapses to one groupBy + a prefix-max over the
    // |distinct costs| table + a semi-join back). Oracle replays the
    // same decomposition — SkylineSpec pins it against brute-force
    // dominance on a small graph, so the program's equivalence to the
    // dominance definition is tested, not assumed.
    Q("q185_pareto_frontier",
      (s, d) => graft.operators.Analytics.paretoFrontier2d(
          Tables(s, d, "part"), col("p_partkey"),
          round(col("p_retailprice") * 100, 0), col("p_size"))
        .select(col("id").as("part_key"), col("cost").as("price_cents"),
          col("gain").as("size"))
        .orderBy("price_cents", "part_key"),
      Some("""WITH b AS (SELECT p_partkey AS id,
        |    CAST(round(p_retailprice * 100, 0) AS BIGINT) AS cost,
        |    CAST(p_size AS BIGINT) AS gain FROM part),
        |pc AS (SELECT cost, max(gain) AS mg FROM b GROUP BY 1),
        |fr AS (SELECT cost, mg FROM (SELECT cost, mg,
        |    max(mg) OVER (ORDER BY cost
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM pc) WHERE pm IS NULL OR pm < mg)
        |SELECT b.id AS part_key, b.cost AS price_cents, b.gain AS size
        |FROM b JOIN fr ON b.cost = fr.cost AND b.gain = fr.mg
        |ORDER BY price_cents, part_key""".stripMargin),
      "2-D skyline via per-cost maxima + prefix max — no dominance self-join"),

    // q186 — INTERVAL-OVERLAP SWEEP LINE: how many order lines are
    // pending shipment ([order date, ship date)) on each day the count
    // changes. +1/−1 deltas collapse via ONE algebraic groupBy(day)
    // before the prefix sum runs over the calendar-bounded day table —
    // a billion intervals cost one exchange of |days| rows. The classic
    // occupancy/max-concurrency primitive (concurrent sessions, active
    // subscriptions) over the TPC-H order lifecycle.
    Q("q186_sweep_concurrency",
      (s, d) => {
        val o = Tables(s, d, "orders")
          .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d0"))
        val l = Tables(s, d, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"),
            to_date(col("l_shipdate")).as("d1"))
        graft.operators.Analytics.sweepConcurrency(
            o.join(l, "o_orderkey"), col("d0"), col("d1"))
          .select(col("at").as("day"), col("net_change"),
            col("concurrent").as("pending"))
          .orderBy("day")
      },
      Some("""WITH iv AS (SELECT CAST(o.o_orderdate AS DATE) AS d0,
        |    CAST(l.l_shipdate AS DATE) AS d1
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |d AS (SELECT d0 AS day, 1 AS delta FROM iv
        |  UNION ALL SELECT d1, -1 FROM iv),
        |g AS (SELECT day, CAST(sum(delta) AS BIGINT) AS net_change
        |  FROM d GROUP BY 1)
        |SELECT day, net_change,
        |  CAST(sum(net_change) OVER (ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pending
        |FROM g ORDER BY day""".stripMargin),
      "sweep-line pending-shipment occupancy: algebraic delta fold + prefix sum over days"),

    // q188 — KMV INTERSECTION estimate from ONE combined sketch: the
    // set-operation capability HLL lacks — the bottom-k of A ∪ B is a
    // uniform sample of the union, so the fraction of it lying in both
    // scopes estimates |A ∩ B| (Beyer et al., SIGMOD'07), all in
    // replayed integer arithmetic with exact audit columns alongside.
    // Scopes: viewers vs purchasers (user sets of two event types).
    Q("q188_kmv_intersect",
      (s, d) => graft.operators.Sketches.kmvIntersect(
          Tables(s, d, "events"), col("user_id"), col("event_type"),
          scopeA = "view", scopeB = "purchase", k = 64),
      Some("""WITH b AS (SELECT event_type AS scope,
        |    CAST(user_id AS VARCHAR) AS kk FROM events
        |  WHERE event_type IN ('view', 'purchase')),
        |hh AS (SELECT
        |    CAST(('0x' || substring(md5('0#' || kk), 1, 15)) AS BIGINT) AS h,
        |    max(CASE WHEN scope = 'view' THEN 1 ELSE 0 END) AS in_a,
        |    max(CASE WHEN scope = 'purchase' THEN 1 ELSE 0 END) AS in_b
        |  FROM b GROUP BY 1),
        |r AS (SELECT h, in_a, in_b, row_number() OVER (ORDER BY h) AS rn
        |  FROM hh),
        |sk AS (SELECT count(*) AS n_kept,
        |    max(CASE WHEN rn = 64 THEN h END) AS kth_hash,
        |    CAST(sum(in_a * in_b) AS BIGINT) AS n_both_in_k
        |  FROM r WHERE rn <= 64),
        |e AS (SELECT n_kept, kth_hash, n_both_in_k,
        |    CASE WHEN n_kept < 64 THEN n_kept
        |      ELSE CAST((CAST(63 AS HUGEINT) * 1152921504606846976)
        |        // kth_hash AS BIGINT) END AS est_union
        |  FROM sk),
        |t AS (SELECT count(*) AS n_true_union,
        |    CAST(sum(in_a * in_b) AS BIGINT) AS n_true_intersect FROM hh)
        |SELECT e.n_kept, e.kth_hash, e.n_both_in_k, e.est_union,
        |  CAST((CAST(e.n_both_in_k AS HUGEINT) * e.est_union) // e.n_kept
        |    AS BIGINT) AS est_intersect,
        |  t.n_true_union, t.n_true_intersect
        |FROM e, t""".stripMargin),
      "KMV |A intersect B| from one combined bottom-k sketch, integer-replayed"),

    // q189 — SPEARMAN rank correlation per language between document
    // length (chars) and token count, in exact basis points: ranks are
    // row_number over (value, doc_id) — the id tiebreak makes each rank
    // a permutation, so the classic d² identity is exact and rho_bp =
    // 10⁴ − (6·10⁴·Σd²) div (n(n²−1)) with a NON-NEGATIVE division
    // operand (Spark truncates, DuckDB floors — they agree only there;
    // the possibly-negative rho comes from the subtraction, which is
    // exact). Where Pearson needs sqrt, the rank domain needs nothing.
    Q("q189_spearman",
      (s, d) => graft.operators.Stats.spearmanByGroup(
          Tables(s, d, "documents").filter(col("text").isNotNull),
          col("lang"), col("doc_id"), col("n_chars"),
          size(graft.functions.TextFunctions.words(col("text"))))
        .select(col("g").as("lang"), col("n"), col("sd2"), col("rho_bp"))
        .orderBy("lang"),
      Some("""WITH b AS (SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS x,
        |    CAST(len(string_split(regexp_replace(lower(trim(text)),
        |      '\s+', ' ', 'g'), ' ')) AS BIGINT) AS y
        |  FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
        |r AS (SELECT lang,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY x, doc_id)
        |      AS BIGINT) AS rx,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY y, doc_id)
        |      AS BIGINT) AS ry
        |  FROM b),
        |a AS (SELECT lang, count(*) AS n,
        |    CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sd2
        |  FROM r GROUP BY 1)
        |SELECT lang, CAST(n AS BIGINT) AS n, sd2,
        |  CAST(10000 - (60000 * sd2) // (n * (n * n - 1)) AS BIGINT)
        |    AS rho_bp
        |FROM a WHERE n >= 2 ORDER BY lang""".stripMargin),
      "Spearman rho per language in exact bp — permutation ranks, no negative division"),

    // q190 — OLS TREND SLOPE of daily event volume per type, as the
    // exact rational (num, den) plus sign·((10⁴·|num|) div den) — the
    // abs-then-sign arrangement dodges the one place integer engines
    // disagree (negative division: truncate vs floor). x is the epoch
    // day number (OLS slope is shift-invariant); sums run in
    // DECIMAL(38) before the final casts.
    Q("q190_trend_slope",
      (s, d) => {
        val daily = Tables(s, d, "events")
          .groupBy(col("event_type"),
            datediff(to_date(col("ts")), lit("1970-01-01")).as("x"))
          .agg(count(lit(1)).as("y"))
        graft.operators.Stats.trendSlopeByGroup(daily,
            col("event_type"), col("x"), col("y"))
          .select(col("g").as("event_type"), col("n"), col("slope_num"),
            col("slope_den"), col("slope_bp"))
          .orderBy("event_type")
      },
      Some("""WITH daily AS (SELECT event_type,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS x,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, count(*) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) AS sx2
        |  FROM daily GROUP BY 1),
        |c AS (SELECT event_type, n, n * sxy - sx * sy AS num,
        |    n * sx2 - sx * sx AS den FROM a)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CAST(num AS BIGINT) AS slope_num, CAST(den AS BIGINT) AS slope_den,
        |  CASE WHEN den = 0 THEN NULL
        |    ELSE CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
        |      ((10000 * abs(num)) // den) AS BIGINT) END AS slope_bp
        |FROM c ORDER BY event_type""".stripMargin),
      "exact OLS slope per event type — rational components + sign-safe scaled quotient"),

    // q192 — DEGREE DISTRIBUTION of the sparse co-purchase graph in
    // power-of-two bins plus an integer log-log slope probe: the
    // "is this graph scale-free enough to need skew handling"
    // diagnostic run BEFORE choosing between salting (q41) and plain
    // keyed joins. Integer log₂ via length(bin(x)) on both axes
    // (q179's trick) feeds q190's sign-safe OLS program — a
    // composition of two already-verified exact programs, no libm.
    Q("q192_degree_distribution",
      (s, d) => {
        val edges = graft.operators.Graph.coOccurrenceEdges(
          Tables(s, d, "lineitem").filter(col("l_quantity") >= 40),
          col("l_orderkey"), col("l_partkey"))
        graft.operators.Graph.degreeDistribution(edges).orderBy("bucket")
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS gk, l_partkey AS it
        |  FROM lineitem WHERE l_quantity >= 40),
        |p0 AS (SELECT a.it AS u, b.it AS v FROM li a JOIN li b USING (gk)
        |  WHERE a.it < b.it),
        |p1 AS (SELECT DISTINCT u, v FROM p0),
        |e AS (SELECT u, v FROM p1 UNION ALL SELECT v, u FROM p1),
        |deg AS (SELECT u, count(*) AS du FROM e GROUP BY 1),
        |hist AS (SELECT CAST(length(bin(du)) AS BIGINT) AS bucket,
        |    count(*) AS n_nodes
        |  FROM deg GROUP BY 1),
        |a AS (SELECT count(*) AS n,
        |    sum(CAST(bucket AS HUGEINT)) AS sx,
        |    sum(CAST(length(bin(n_nodes)) AS HUGEINT)) AS sy,
        |    sum(CAST(bucket AS HUGEINT) * length(bin(n_nodes))) AS sxy,
        |    sum(CAST(bucket AS HUGEINT) * bucket) AS sx2
        |  FROM hist),
        |c AS (SELECT n * sxy - sx * sy AS num, n * sx2 - sx * sx AS den
        |  FROM a),
        |sl AS (SELECT CAST(num AS BIGINT) AS slope_num,
        |    CAST(den AS BIGINT) AS slope_den,
        |    CASE WHEN den = 0 THEN NULL
        |      ELSE CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END) *
        |        ((10000 * abs(num)) // den) AS BIGINT) END AS slope_bp
        |  FROM c)
        |SELECT hist.bucket,
        |  CAST(1::BIGINT << CAST(bucket - 1 AS INT) AS BIGINT) AS lo,
        |  CAST((1::BIGINT << CAST(bucket AS INT)) - 1 AS BIGINT) AS hi,
        |  CAST(hist.n_nodes AS BIGINT) AS n_nodes,
        |  sl.slope_num, sl.slope_den, sl.slope_bp
        |FROM hist, sl ORDER BY bucket""".stripMargin),
      "power-of-two degree histogram + integer log-log slope — the skew diagnostic"),

    // q196 — TIME-CAPPED conversion: purchases strictly after the first
    // view and within 7 days of it — the windowed funnel variant an
    // attribution window actually reports (q91 is the unbounded
    // ordering, q147 the latency percentiles; this is the bounded
    // rate). First-touch agg + same-key probe join, constant-size out.
    Q("q196_capped_conversion",
      (s, d) => graft.operators.Analytics.cappedConversion(
          Tables(s, d, "events"), col("user_id"), col("ts"),
          col("event_type"), fromType = "view", toType = "purchase",
          days = 7),
      Some("""WITH v AS (SELECT user_id, min(ts) AS t0 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT DISTINCT e.user_id FROM events e
        |  JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > v.t0
        |    AND e.ts <= v.t0 + INTERVAL 7 DAY),
        |a AS (SELECT count(*) AS n_viewers FROM v),
        |b AS (SELECT count(*) AS n_converted FROM c)
        |SELECT CAST(a.n_viewers AS BIGINT) AS n_viewers,
        |  CAST(b.n_converted AS BIGINT) AS n_converted,
        |  CAST((10000 * b.n_converted) // a.n_viewers AS BIGINT)
        |    AS conversion_bp
        |FROM a, b""".stripMargin),
      "7-day capped view->purchase conversion rate, boundary-inclusive at micros"),

    // q197 — SKIP-GRAM pair extraction over per-user event sequences:
    // each event pairs with its neighbors within ±2 SEQUENCE positions
    // (word2vec data prep on behavioral streams), reported as the
    // (center, context) type co-occurrence matrix an embedding trainer
    // consumes. Window-free pairing: probe-rank explode + one
    // (user, rank) equi-join (the q187 trick), fan-out exactly 2·win.
    Q("q197_skipgram_pairs",
      (s, d) => graft.operators.Analytics.skipGramPairs(
          Tables(s, d, "events"), col("user_id"), col("ts"),
          col("event_id"), col("event_type"), win = 2)
        .orderBy("center_type", "context_type"),
      Some("""WITH r AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (SELECT user_id, event_type AS center_type,
        |    unnest([rn - 2, rn - 1, rn + 1, rn + 2]) AS rn2
        |  FROM r)
        |SELECT p.center_type, r2.event_type AS context_type,
        |  count(*) AS n_pairs
        |FROM p JOIN r r2 ON r2.user_id = p.user_id AND r2.rn = p.rn2
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      "skip-gram (center, context) type matrix over event sequences, window-free pairing"),

    // q198 — JACKKNIFE variance of the daily event-volume mean per
    // type, as an exact rational: var = Σ(S − n·xᵢ)² / (n³(n−1)) —
    // leave-one-out resampling algebra collapsed to two algebraic
    // passes (S first, then the squared deviations), every component
    // non-negative so the scaled quotient is engine-agreement-safe.
    // The error bar q190's trend slope deserves next to it.
    Q("q198_jackknife_variance",
      (s, d) => {
        val daily = Tables(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("x"))
        graft.operators.Stats.jackknifeVarByGroup(daily,
            col("event_type"), col("x"))
          .select(col("g").as("event_type"), col("n"), col("var_num"),
            col("var_den"), col("var_bp"))
          .orderBy("event_type")
      },
      Some("""WITH daily AS (SELECT event_type,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
        |fp AS (SELECT event_type, count(*) AS n,
        |    sum(CAST(x AS HUGEINT)) AS s
        |  FROM daily GROUP BY 1 HAVING count(*) >= 2),
        |sq AS (SELECT d.event_type, fp.n, fp.s,
        |    sum((fp.s - fp.n * CAST(d.x AS HUGEINT))
        |      * (fp.s - fp.n * CAST(d.x AS HUGEINT))) AS num
        |  FROM daily d JOIN fp USING (event_type) GROUP BY 1, 2, 3)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |  CAST(num AS BIGINT) AS var_num,
        |  CAST(CAST(n AS HUGEINT) * n * n * (n - 1) AS BIGINT) AS var_den,
        |  CAST((10000 * num) // (CAST(n AS HUGEINT) * n * n * (n - 1))
        |    AS BIGINT) AS var_bp
        |FROM sq ORDER BY event_type""".stripMargin),
      "exact-rational jackknife variance of the daily-volume mean per event type"),

    // q199 — K-HOP BFS frontier profile from the minimum-id seed of
    // the sparse co-purchase graph: frontier size and cumulative
    // visited per hop — the neighborhood-growth curve that calibrates
    // whether a k-hop feature join is feasible. Hops are sequential;
    // each expansion is a keyed join + distinct + anti-join, with only
    // the per-hop size scalar on the driver. Oracle unrolls 3 hops.
    Q("q199_khop_frontiers",
      (s, d) => {
        // u,v-only edge form: BFS never reads du (r14 — drops the
        // degree agg + join from the build)
        val edges = graft.operators.Graph.coOccurrenceEdgesUV(
          Tables(s, d, "lineitem").filter(col("l_quantity") >= 40),
          col("l_orderkey"), col("l_partkey"))
        graft.operators.Graph.kHopFrontiers(edges, hops = 3)
          .orderBy("hop")
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS gk, l_partkey AS it
        |  FROM lineitem WHERE l_quantity >= 40),
        |p0 AS (SELECT a.it AS u, b.it AS v FROM li a JOIN li b USING (gk)
        |  WHERE a.it < b.it),
        |p1 AS (SELECT DISTINCT u, v FROM p0),
        |e AS (SELECT u, v FROM p1 UNION ALL SELECT v, u FROM p1),
        |seed AS (SELECT min(u) AS node FROM e),
        |v0 AS (SELECT node FROM seed),
        |f1 AS (SELECT DISTINCT e.v AS node FROM e JOIN seed
        |    ON e.u = seed.node
        |  WHERE e.v NOT IN (SELECT node FROM v0)),
        |v1 AS (SELECT node FROM v0 UNION SELECT node FROM f1),
        |f2 AS (SELECT DISTINCT e.v AS node FROM e JOIN f1 ON e.u = f1.node
        |  WHERE e.v NOT IN (SELECT node FROM v1)),
        |v2 AS (SELECT node FROM v1 UNION SELECT node FROM f2),
        |f3 AS (SELECT DISTINCT e.v AS node FROM e JOIN f2 ON e.u = f2.node
        |  WHERE e.v NOT IN (SELECT node FROM v2)),
        |u AS (SELECT 1 AS hop, (SELECT count(*) FROM f1) AS fs
        |  UNION ALL SELECT 2, (SELECT count(*) FROM f2)
        |  UNION ALL SELECT 3, (SELECT count(*) FROM f3))
        |SELECT CAST(hop AS BIGINT) AS hop, CAST(fs AS BIGINT)
        |    AS frontier_size,
        |  CAST(1 + sum(fs) OVER (ORDER BY hop) AS BIGINT)
        |    AS cumulative_visited
        |FROM u ORDER BY hop""".stripMargin),
      "3-hop BFS frontier sizes + cumulative visited from the min-id seed"),

    // q200 — incremental aggregate maintenance WITH RETRACTIONS: the
    // delete half of IVM that q99's add-only merge cannot express, and
    // the reason aggregate state lives as abelian-group partials
    // (count + integral sum — a delete is a merge with negated
    // contributions; max/min would not survive). Scenario: pre-cutoff
    // 'error' events are retracted by a CDC batch while post-cutoff
    // events insert, all applied to the stored state in one keyed
    // merge; fully-retracted keys vanish. The oracle recomputes the
    // post-change truth from scratch — the merge must equal it exactly
    // (long addition commutes, so the equality is exact, not
    // approximate).
    Q("q200_agg_retraction",
      (s, d) => {
        import graft.warehouse.Warehouse
        val ev = Tables(s, d, "events").select(col("user_id"), col("ts"),
          col("event_type"),
          round(col("value") * 10000).cast("long").as("vbp"))
        val cutoff = lit("2024-01-15 00:00:00").cast("timestamp")
        val history = ev.filter(col("ts") < cutoff)
        val state = Warehouse.aggState(history, Seq("user_id"), col("vbp"))
        val batch = history.filter(col("event_type") === "error")
          .withColumn("op", lit("D"))
          .unionByName(ev.filter(col("ts") >= cutoff)
            .withColumn("op", lit("I")))
        Warehouse.applyAggDelta(state, batch, Seq("user_id"), col("op"),
            col("vbp"))
          .select(col("user_id"), col("n_rows").as("n_events"),
            (col("total_bp") / 10000.0).as("total_value"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT)
        |    / 10000.0 AS total_value
        |FROM events
        |WHERE NOT (ts < TIMESTAMP '2024-01-15 00:00:00'
        |  AND event_type = 'error')
        |GROUP BY user_id ORDER BY user_id""".stripMargin),
      "IVM with retractions: signed-merge state == from-scratch recompute of the post-change truth"),

    // q201 — A/B EXPOSURE ANALYSIS with deterministic assignment: users
    // hash-gate into two arms (hash60(id) % 2 — stable across re-runs
    // and appends, the q106 split discipline applied to
    // experimentation), each arm's 7-day view→purchase conversion rate
    // in exact bp, and the risk difference arm B − arm A (negative via
    // SUBTRACTION of non-negative quotients — engine-safe). One row.
    Q("q201_ab_exposure",
      (s, d) => {
        import graft.functions.TextFunctions.hash60
        val ev = Tables(s, d, "events")
        val base = ev.select(col("user_id").as("u"), col("ts"),
          col("event_type").as("typ"),
          (hash60(col("user_id").cast("string"), 11) % 2).as("arm"))
        val v = base.filter(col("typ") === "view")
          .groupBy("u", "arm").agg(min("ts").as("t0"))
        val conv = base.filter(col("typ") === "purchase").join(v, "u")
          .filter(col("ts") > col("t0") &&
            col("ts") <= col("t0") + expr("INTERVAL 7 DAYS"))
          .select("u").distinct()
        val perArm = v.join(conv.withColumn("c", lit(1L)), Seq("u"), "left")
          .groupBy("arm").agg(count(lit(1)).as("n"),
            sum(coalesce(col("c"), lit(0L))).as("nc"))
        val a = perArm.filter(col("arm") === 0)
          .select(col("n").as("n_a"), col("nc").as("conv_a"),
            expr("(10000 * nc) div n").as("rate_a_bp"))
        val b = perArm.filter(col("arm") === 1)
          .select(col("n").as("n_b"), col("nc").as("conv_b"),
            expr("(10000 * nc) div n").as("rate_b_bp"))
        a.crossJoin(broadcast(b))
          .withColumn("diff_bp", col("rate_b_bp") - col("rate_a_bp"))
      },
      Some("""WITH b AS (SELECT user_id AS u, ts, event_type AS typ,
        |    CAST(('0x' || substring(md5('11#' || CAST(user_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 2 AS arm
        |  FROM events),
        |v AS (SELECT u, arm, min(ts) AS t0 FROM b WHERE typ = 'view'
        |  GROUP BY 1, 2),
        |c AS (SELECT DISTINCT p.u FROM b p JOIN v ON v.u = p.u
        |  WHERE p.typ = 'purchase' AND p.ts > v.t0
        |    AND p.ts <= v.t0 + INTERVAL 7 DAY),
        |pa AS (SELECT v.arm, count(*) AS n,
        |    CAST(count(c.u) AS BIGINT) AS nc
        |  FROM v LEFT JOIN c ON c.u = v.u GROUP BY 1),
        |a AS (SELECT n AS n_a, nc AS conv_a, (10000 * nc) // n AS rate_a_bp
        |  FROM pa WHERE arm = 0),
        |bb AS (SELECT n AS n_b, nc AS conv_b, (10000 * nc) // n AS rate_b_bp
        |  FROM pa WHERE arm = 1)
        |SELECT CAST(a.n_a AS BIGINT) AS n_a, a.conv_a,
        |  CAST(a.rate_a_bp AS BIGINT) AS rate_a_bp,
        |  CAST(bb.n_b AS BIGINT) AS n_b, bb.conv_b,
        |  CAST(bb.rate_b_bp AS BIGINT) AS rate_b_bp,
        |  CAST(bb.rate_b_bp - a.rate_a_bp AS BIGINT) AS diff_bp
        |FROM a, bb""".stripMargin),
      "deterministic hash-armed A/B with 7-day capped conversion + exact risk difference"),

    // q202 — PERSISTENT TRENDING: event types in the daily top-3 on a
    // high share of days — persistence across windows separates durable
    // movers from one-day spikes (the stability cut a trending feed
    // applies on top of q132's per-day ranks). Fact table shuffles once
    // into the daily rollup; ranks partition by day (calendar-bounded);
    // the presence aggregate is |types| rows.
    Q("q202_persistent_trending",
      (s, d) => {
        val daily = Tables(s, d, "events")
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val ranked = daily.withColumn("rnk", row_number().over(
          Window.partitionBy("day").orderBy(col("n").desc,
            col("event_type"))))
        val nDays = daily.select("day").distinct()
          .agg(count(lit(1)).as("n_days"))
        ranked.filter(col("rnk") <= 3)
          .groupBy("event_type").agg(count(lit(1)).as("days_in_top3"))
          .crossJoin(broadcast(nDays))
          .select(col("event_type"), col("days_in_top3"), col("n_days"),
            expr("(10000 * days_in_top3) div n_days").as("presence_bp"))
          .filter(col("presence_bp") >= 5000)
          .orderBy(desc("presence_bp"), col("event_type"))
      },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, event_type,
        |    count(*) AS n FROM events GROUP BY 1, 2),
        |r AS (SELECT day, event_type, row_number() OVER (PARTITION BY day
        |    ORDER BY n DESC, event_type) AS rnk FROM daily),
        |nd AS (SELECT count(DISTINCT day) AS n_days FROM daily),
        |p AS (SELECT event_type, count(*) AS days_in_top3 FROM r
        |  WHERE rnk <= 3 GROUP BY 1)
        |SELECT p.event_type, CAST(p.days_in_top3 AS BIGINT) AS days_in_top3,
        |  CAST(nd.n_days AS BIGINT) AS n_days,
        |  CAST((10000 * p.days_in_top3) // nd.n_days AS BIGINT)
        |    AS presence_bp
        |FROM p, nd WHERE (10000 * p.days_in_top3) // nd.n_days >= 5000
        |ORDER BY presence_bp DESC, event_type""".stripMargin),
      "types persistently in the daily top-3 — stability cut over per-day ranks"),

    // q205 — GOLDEN-RECORD survivorship: one authoritative customer
    // profile from the conflicting per-order feed, by per-FIELD rule —
    // latest order's priority (most recent wins, key-tie by order id),
    // max spend in exact cents, majority order status (ties to the
    // largest value — the documented window-free contract). The MDM
    // merge primitive next to upsert (q88) and snapshot diff (q120);
    // two algebraic exchanges, no windows.
    Q("q205_golden_record",
      (s, d) => {
        val o = Tables(s, d, "orders").select(col("o_custkey"),
          col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
          col("o_orderstatus"))
        graft.operators.Survivorship.goldenRecord(o,
            col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
            col("o_orderpriority"), col("cents"), col("o_orderstatus"))
          .select(col("k").as("custkey"), col("n_rows").as("n_orders"),
            col("latest").as("latest_priority"),
            col("largest").as("max_spend_cents"),
            col("majority").as("usual_status"), col("majority_n"))
          .orderBy("custkey")
      },
      Some("""WITH o AS (SELECT o_custkey AS k, o_orderkey, o_orderdate,
        |    o_orderpriority,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
        |    o_orderstatus FROM orders),
        |main AS (SELECT k, CAST(count(*) AS BIGINT) AS n_orders,
        |    max(cents) AS max_spend_cents FROM o GROUP BY 1),
        |lat AS (SELECT k, o_orderpriority AS latest_priority FROM o
        |  QUALIFY row_number() OVER (PARTITION BY k
        |    ORDER BY o_orderdate DESC, o_orderkey DESC) = 1),
        |vc AS (SELECT k, o_orderstatus, CAST(count(*) AS BIGINT) AS n
        |  FROM o GROUP BY 1, 2),
        |mj AS (SELECT k, o_orderstatus AS usual_status, n AS majority_n
        |  FROM vc QUALIFY row_number() OVER (PARTITION BY k
        |    ORDER BY n DESC, o_orderstatus DESC) = 1)
        |SELECT main.k AS custkey, main.n_orders, lat.latest_priority,
        |  main.max_spend_cents, mj.usual_status, mj.majority_n
        |FROM main JOIN lat ON lat.k = main.k JOIN mj ON mj.k = main.k
        |ORDER BY custkey""".stripMargin),
      "per-field golden-record survivorship: latest / largest / majority in two algebraic folds"),

    // q206 — BURST (bot-rate) flag: users whose event rate exceeds 8
    // events inside ANY rolling 24-hour window, with the peak burst —
    // the abuse-detection cut a pipeline runs before engagement
    // analytics. The rolling count is a RANGE frame over event-time
    // micros anchored at each event (window starts only at observed
    // events — sufficient: a maximal burst window can always be slid
    // to start on one); partitions are per-user, calendar-bounded.
    Q("q206_burst_flag",
      (s, d) => {
        val e = Tables(s, d, "events").select(col("user_id"),
          unix_micros(col("ts")).as("us"))
        val w = Window.partitionBy("user_id").orderBy("us")
          .rangeBetween(Window.currentRow, 86399999999L)
        e.withColumn("burst", count(lit(1)).over(w))
          .groupBy("user_id").agg(max("burst").as("max_burst_24h"))
          .filter(col("max_burst_24h") >= 8)
          .orderBy("user_id")
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events),
        |c AS (SELECT user_id, count(*) OVER (PARTITION BY user_id
        |    ORDER BY us RANGE BETWEEN CURRENT ROW
        |    AND 86399999999 FOLLOWING) AS burst FROM e),
        |m AS (SELECT user_id, CAST(max(burst) AS BIGINT) AS max_burst_24h
        |  FROM c GROUP BY 1)
        |SELECT user_id, max_burst_24h FROM m WHERE max_burst_24h >= 8
        |ORDER BY user_id""".stripMargin),
      "rolling-24h burst detector over event-time range frames, per-user partitions"),

    // q209 — PERSONALIZED PageRank from the min-id seed part over the
    // sparse co-purchase graph: random walks restarting at ONE node
    // rank items by proximity to the seed — the co-purchase
    // recommender, vs q180's global centrality. Same exact-integer
    // fixed point (×1e9, damping 85/100), teleport only at the seed,
    // 3 unrolled iterations in the oracle; the result is exactly the
    // seed's 3-hop neighborhood (q199's frontier), ranked.
    Q("q209_personalized_pagerank",
      (s, d) => {
        val edges = graft.operators.Graph.coOccurrenceEdges(
          Tables(s, d, "lineitem").filter(col("l_quantity") >= 40),
          col("l_orderkey"), col("l_partkey"))
        graft.operators.Graph.personalizedPageRankInt(edges, iters = 3,
            k = 20)
          .select(col("node").as("part_key"), col("ppr"))
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS gk, l_partkey AS it
        |  FROM lineitem WHERE l_quantity >= 40),
        |p0 AS (SELECT a.it AS u, b.it AS v FROM li a JOIN li b USING (gk)
        |  WHERE a.it < b.it),
        |p1 AS (SELECT DISTINCT u, v FROM p0),
        |e AS (SELECT u, v FROM p1 UNION ALL SELECT v, u FROM p1),
        |deg AS (SELECT u, count(*) AS du FROM e GROUP BY 1),
        |sd AS (SELECT min(u) AS seed FROM e),
        |s0 AS (SELECT deg.u AS node, deg.du,
        |    CASE WHEN deg.u = sd.seed THEN 1000000000 ELSE 0 END AS s
        |  FROM deg, sd),
        |i1 AS (SELECT e.v AS node, sum(s0.s // s0.du) AS inc
        |  FROM e JOIN s0 ON e.u = s0.node WHERE s0.s > 0 GROUP BY 1),
        |s1 AS (SELECT s0.node, s0.du,
        |    CASE WHEN s0.node = sd.seed THEN 150000000 ELSE 0 END
        |      + (85 * coalesce(i1.inc, 0)) // 100 AS s
        |  FROM s0 LEFT JOIN i1 USING (node), sd),
        |i2 AS (SELECT e.v AS node, sum(s1.s // s1.du) AS inc
        |  FROM e JOIN s1 ON e.u = s1.node WHERE s1.s > 0 GROUP BY 1),
        |s2 AS (SELECT s1.node, s1.du,
        |    CASE WHEN s1.node = sd.seed THEN 150000000 ELSE 0 END
        |      + (85 * coalesce(i2.inc, 0)) // 100 AS s
        |  FROM s1 LEFT JOIN i2 USING (node), sd),
        |i3 AS (SELECT e.v AS node, sum(s2.s // s2.du) AS inc
        |  FROM e JOIN s2 ON e.u = s2.node WHERE s2.s > 0 GROUP BY 1),
        |s3 AS (SELECT s2.node,
        |    CASE WHEN s2.node = sd.seed THEN 150000000 ELSE 0 END
        |      + (85 * coalesce(i3.inc, 0)) // 100 AS s
        |  FROM s2 LEFT JOIN i3 USING (node), sd)
        |SELECT node AS part_key, CAST(s AS BIGINT) AS ppr
        |FROM s3, sd WHERE s > 0 AND node <> sd.seed
        |ORDER BY ppr DESC, part_key LIMIT 20""".stripMargin),
      "personalized PageRank (seed teleport, 3 iters) — the exact-integer co-purchase recommender"),

    // q214 — EXACT two-sample KOLMOGOROV–SMIRNOV distance between the
    // purchase and view value distributions (cents domain, so every
    // intermediate is integral): D = max |F_A − F_B| reported as the
    // exact numerator plus (10⁴·d_num) div (n1·n2). The textbook global
    // cumulative sum is a serial bottleneck — the operator runs the
    // two-level distributed prefix instead: distinct-value collapse,
    // $25-bucket offsets through a |buckets|-row window, within-bucket
    // parallel windows (Stats.ksTwoSample). The oracle replays the
    // plain one-window form — bit-equal by the prefix-sum identity.
    Q("q214_ks_two_sample",
      (s, d) => {
        val e = Tables(s, d, "events")
        graft.operators.Stats.ksTwoSample(e,
          expr("CAST(round(value * 100) AS BIGINT)"),
          (col("event_type") === "purchase").cast("int"),
          (col("event_type") === "view").cast("int"),
          v => (v / lit(2500)).cast("long"))
      },
      Some("""WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS b
        |  FROM events WHERE event_type IN ('purchase', 'view')),
        |g AS (SELECT v, CAST(sum(a) AS BIGINT) AS d1,
        |    CAST(sum(b) AS BIGINT) AS d2 FROM e GROUP BY 1),
        |c AS (SELECT v, sum(d1) OVER (ORDER BY v) AS c1,
        |    sum(d2) OVER (ORDER BY v) AS c2 FROM g),
        |t AS (SELECT CAST(sum(d1) AS BIGINT) AS n1,
        |    CAST(sum(d2) AS BIGINT) AS n2 FROM g)
        |SELECT n1, n2,
        |  CAST(max(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS d_num,
        |  CAST((10000 * max(abs(c1 * n2 - c2 * n1))) // (n1 * n2)
        |    AS BIGINT) AS ks_bp
        |FROM c, t GROUP BY n1, n2""".stripMargin),
      "exact two-sample KS distance via the two-level distributed prefix (no global window)"),

    // q215 — LEAVE-ONE-OUT TARGET ENCODING of market segment against
    // order value: the ML feature-engineering primitive that replaces a
    // category with the mean target of the OTHER rows in the category —
    // loo = (seg_sum − own) / (seg_n − 1) — so a row never leaks its own
    // label into its feature (the q176 leakage discipline, row-level).
    // Exact in cents; both `div` operands non-negative. Scale shape:
    // customer is a broadcast dim, the 5-row segment aggregate
    // broadcasts back onto the fact — the fact is never shuffled.
    Q("q215_target_encoding_loo",
      (s, d) => {
        val o = Tables(s, d, "orders").select(col("o_orderkey"),
          col("o_custkey"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        val c = Tables(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment").as("seg"))
        val joined = o.join(broadcast(c),
          col("o_custkey") === col("c_custkey"))
        val segAgg = joined.groupBy("seg")
          .agg(sum("cents").as("ssum"), count(lit(1)).as("sn"))
        joined.join(broadcast(segAgg), "seg")
          .filter(col("sn") >= 2)
          .select(col("o_orderkey"), col("seg"), col("cents"),
            expr("(ssum - cents) div (sn - 1)").as("loo_cents"))
          .orderBy("o_orderkey").limit(100)
      },
      Some("""WITH o AS (SELECT o_orderkey, o_custkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |j AS (SELECT o.o_orderkey, c.c_mktsegment AS seg, o.cents
        |  FROM o JOIN customer c ON o.o_custkey = c.c_custkey),
        |a AS (SELECT seg, CAST(sum(cents) AS BIGINT) AS ssum,
        |    count(*) AS sn FROM j GROUP BY 1)
        |SELECT j.o_orderkey, j.seg, j.cents,
        |  CAST((a.ssum - j.cents) // (a.sn - 1) AS BIGINT) AS loo_cents
        |FROM j JOIN a USING (seg) WHERE a.sn >= 2
        |ORDER BY o_orderkey LIMIT 100""".stripMargin),
      "leave-one-out target encoding in exact cents — leakage-free category feature"),

    // q217 — CHI-SQUARE independence: is order priority independent of
    // order status? The feed-audit companion to q131's TVD and q214's
    // KS — those compare distributions of one variable, this tests
    // ASSOCIATION between two categoricals, in exact basis points
    // (Stats.chiSquareBp: per-cell 10⁴·(o·N−r·c)² div (N·r·c), all
    // operands non-negative DECIMAL(38)). One (a,b) hash agg collapses
    // the table; margins broadcast back; one row out.
    Q("q217_chi_square",
      (s, d) => graft.operators.Stats.chiSquareBp(
        Tables(s, d, "orders"),
        col("o_orderpriority"), col("o_orderstatus")),
      Some("""WITH o AS (SELECT o_orderpriority pr, o_orderstatus st,
        |    CAST(count(*) AS HUGEINT) AS ob FROM orders GROUP BY 1, 2),
        |rt AS (SELECT pr, CAST(sum(ob) AS HUGEINT) AS r FROM o GROUP BY 1),
        |ct AS (SELECT st, CAST(sum(ob) AS HUGEINT) AS c FROM o GROUP BY 1),
        |nt AS (SELECT CAST(sum(ob) AS HUGEINT) AS nn FROM o)
        |SELECT
        |  CAST(sum((10000 * (o.ob * nt.nn - rt.r * ct.c)
        |      * (o.ob * nt.nn - rt.r * ct.c)) // (nt.nn * rt.r * ct.c))
        |    AS BIGINT) AS chi2_bp,
        |  CAST(count(*) - count(DISTINCT o.pr) - count(DISTINCT o.st) + 1
        |    AS BIGINT) AS dof,
        |  CAST(max(nt.nn) AS BIGINT) AS n
        |FROM o JOIN rt USING (pr) JOIN ct USING (st), nt""".stripMargin),
      "chi-square independence statistic over a contingency table, exact basis points"),

    // q218 — FREQUENT TRIPLES: Apriori L1→L2→L3 over customer→brand
    // baskets at 50% relative support (Itemsets.frequentTriples). Every
    // Lₖ is broadcast-sized and prunes the basket stream BEFORE the
    // next enumeration; the basket key carries both self-joins
    // co-partitioned. q129's pair counting promoted to the real
    // candidate-generation staircase.
    Q("q218_frequent_triples",
      (s, d) => {
        val baskets = Tables(s, d, "orders").as("o")
          .join(Tables(s, d, "lineitem").as("l"),
            col("o.o_orderkey") === col("l.l_orderkey"))
          .join(broadcast(Tables(s, d, "part").as("p")),
            col("p.p_partkey") === col("l.l_partkey"))
          .select(col("o.o_custkey").as("ck"), col("p.p_brand").as("br"))
        graft.operators.Itemsets.frequentTriples(
          baskets, col("ck"), col("br"), supNum = 1, supDen = 2, k = 20)
      },
      Some("""WITH b AS (SELECT DISTINCT o.o_custkey ck, p.p_brand br
        |  FROM orders o
        |  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  JOIN part p ON p.p_partkey = l.l_partkey),
        |n AS (SELECT count(DISTINCT ck) AS nb FROM b),
        |l1 AS (SELECT br FROM b GROUP BY br
        |  HAVING count(*) * 2 >= (SELECT nb FROM n)),
        |bf AS (SELECT ck, br FROM b WHERE br IN (SELECT br FROM l1)),
        |l2 AS (SELECT pa.br x, pb.br y FROM bf pa
        |  JOIN bf pb ON pa.ck = pb.ck AND pa.br < pb.br
        |  GROUP BY 1, 2 HAVING count(*) * 2 >= (SELECT nb FROM n)),
        |t AS (SELECT pa.br item1, pb.br item2, pc.br item3,
        |    count(*) AS sup
        |  FROM bf pa
        |  JOIN bf pb ON pa.ck = pb.ck AND pa.br < pb.br
        |  JOIN bf pc ON pb.ck = pc.ck AND pb.br < pc.br
        |  GROUP BY 1, 2, 3)
        |SELECT item1, item2, item3, CAST(sup AS BIGINT) AS sup FROM t
        |WHERE EXISTS (SELECT 1 FROM l2 WHERE x = item1 AND y = item2)
        |  AND EXISTS (SELECT 1 FROM l2 WHERE x = item1 AND y = item3)
        |  AND EXISTS (SELECT 1 FROM l2 WHERE x = item2 AND y = item3)
        |ORDER BY sup DESC, item1, item2, item3 LIMIT 20""".stripMargin),
      "Apriori frequent brand triples at 50% support — L1/L2 broadcast pruning before every enumeration"),

    // q219 — LABEL PROPAGATION communities over the part co-purchase
    // graph, 2 synchronous rounds, deterministic tie-break (most
    // frequent neighbor label, then smallest) — the cheap community
    // pass between q37's exact components (structure only) and
    // modularity methods (which need floats). Oracle unrolls both
    // rounds; output = top-20 communities by size.
    Q("q219_label_propagation",
      // u,v-only edge form: label propagation never reads du (r14)
      (s, d) => graft.operators.Graph.labelPropagationCommunities(
        graft.operators.Graph.coOccurrenceEdgesUV(
          Tables(s, d, "lineitem"), col("l_orderkey"), col("l_partkey")),
        rounds = 2, k = 20),
      Some("""WITH g AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey k, l_partkey p FROM lineitem),
        |pr AS MATERIALIZED (SELECT a.p u, b.p v FROM g a
        |  JOIN g b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT u, v FROM pr UNION ALL SELECT v AS u, u AS v FROM pr),
        |c1 AS (SELECT e.u node, e.v lbl, count(*) n FROM e GROUP BY 1, 2),
        |r1 AS MATERIALIZED (SELECT node, lbl FROM (
        |  SELECT node, lbl, row_number()
        |      OVER (PARTITION BY node ORDER BY n DESC, lbl) rn
        |  FROM c1) WHERE rn = 1),
        |c2 AS (SELECT e.u node, r1.lbl, count(*) n
        |  FROM e JOIN r1 ON r1.node = e.v GROUP BY 1, 2),
        |r2 AS (SELECT node, lbl FROM (
        |  SELECT node, lbl, row_number()
        |      OVER (PARTITION BY node ORDER BY n DESC, lbl) rn
        |  FROM c2) WHERE rn = 1)
        |SELECT CAST(lbl AS BIGINT) AS community,
        |  CAST(count(*) AS BIGINT) AS sz
        |FROM r2 GROUP BY 1 ORDER BY sz DESC, community LIMIT 20""".stripMargin),
      "deterministic 2-round label propagation — co-purchase communities by size"),

    // q221 — K-CORE peeling trajectory at the data-relative threshold
    // k = exact p10 degree (a fixed k peels everything at one SF and
    // nothing at another; the order statistic adapts). Three rounds of
    // degree-filter + endpoint semi-joins, per-round cached; the
    // (nodes, edges) decay curve is the "is there a dense core"
    // diagnostic. Oracle materializes each round's edge set once.
    Q("q221_kcore_peel",
      // u,v-only edge form: the peel recomputes its own degree table
      // from the symmetric edges; coOccurrenceEdges' du was computed
      // and thrown away (r14)
      (s, d) => graft.operators.Graph.kCorePeel(
        graft.operators.Graph.coOccurrenceEdgesUV(
          Tables(s, d, "lineitem"), col("l_orderkey"), col("l_partkey")),
        rounds = 3),
      Some("""WITH g AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey k, l_partkey p FROM lineitem),
        |pr AS MATERIALIZED (SELECT a.p u, b.p v FROM g a
        |  JOIN g b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2),
        |e0 AS MATERIALIZED (
        |  SELECT u, v FROM pr UNION ALL SELECT v AS u, u AS v FROM pr),
        |d0 AS MATERIALIZED (SELECT u, count(*) dg FROM e0 GROUP BY 1),
        |kk AS MATERIALIZED (SELECT dg AS k FROM
        |  (SELECT dg, row_number() OVER (ORDER BY dg, u) rn FROM d0),
        |  (SELECT count(*) cnt FROM d0) WHERE rn = (cnt + 9) // 10),
        |v1 AS MATERIALIZED (SELECT u FROM d0, kk WHERE dg >= k),
        |e1 AS MATERIALIZED (SELECT e0.u, e0.v FROM e0
        |  JOIN v1 a ON e0.u = a.u JOIN v1 b ON e0.v = b.u),
        |d1 AS MATERIALIZED (SELECT u, count(*) dg FROM e1 GROUP BY 1),
        |v2 AS MATERIALIZED (SELECT u FROM d1, kk WHERE dg >= k),
        |e2 AS MATERIALIZED (SELECT e1.u, e1.v FROM e1
        |  JOIN v2 a ON e1.u = a.u JOIN v2 b ON e1.v = b.u),
        |d2 AS MATERIALIZED (SELECT u, count(*) dg FROM e2 GROUP BY 1),
        |v3 AS MATERIALIZED (SELECT u FROM d2, kk WHERE dg >= k),
        |e3 AS MATERIALIZED (SELECT e2.u, e2.v FROM e2
        |  JOIN v3 a ON e2.u = a.u JOIN v3 b ON e2.v = b.u)
        |SELECT CAST(rnd AS BIGINT) AS rnd, CAST(k AS BIGINT) AS k,
        |  CAST(nodes AS BIGINT) AS nodes, CAST(edges AS BIGINT) AS edges
        |FROM (
        |  SELECT 1 rnd, (SELECT k FROM kk) k,
        |    (SELECT count(*) FROM v1) nodes,
        |    (SELECT count(*) // 2 FROM e1) edges
        |  UNION ALL SELECT 2, (SELECT k FROM kk),
        |    (SELECT count(*) FROM v2), (SELECT count(*) // 2 FROM e2)
        |  UNION ALL SELECT 3, (SELECT k FROM kk),
        |    (SELECT count(*) FROM v3), (SELECT count(*) // 2 FROM e3))
        |ORDER BY rnd""".stripMargin),
      "k-core peel trajectory at the exact p10-degree threshold — dense-core diagnostic"),

    // q226 — NEAREST-direction as-of join (pandas merge_asof
    // direction='nearest'): each click matched to the user's closest
    // purchase BEFORE OR AFTER, ties to the backward match — the
    // attribution variant q43/q98's backward-only semantics can't
    // express. Same union+one-shuffle window shape; both running
    // frames share the (key, time, side) sort. Gap arithmetic in exact
    // long micros.
    Q("q226_asof_nearest",
      (s, d) => {
        val ev = Tables(s, d, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("t_us"))
        val purchases = ev.filter(col("event_type") === "purchase")
        graft.operators.AsOfJoin.asofNearest(
            clicks, purchases,
            leftKey = col("user_id"), rightKey = col("user_id"),
            leftTime = col("t_us"), rightTime = unix_micros(col("ts")),
            rightId = col("event_id"))
          .select("event_id", "user_id", "near_id", "direction", "gap_us")
          .orderBy("event_id").limit(100)
      },
      Some("""WITH u AS (
        |  SELECT user_id k, epoch_us(ts) t, 1 side, event_id eid,
        |    NULL::BIGINT pid
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, epoch_us(ts), 0, NULL, event_id
        |  FROM events WHERE event_type = 'purchase'),
        |w AS (SELECT *,
        |  last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS)
        |    OVER (PARTITION BY k ORDER BY t, side, pid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) bt,
        |  last_value(CASE WHEN side = 0 THEN pid END IGNORE NULLS)
        |    OVER (PARTITION BY k ORDER BY t, side, pid
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) bid,
        |  first_value(CASE WHEN side = 0 THEN t END IGNORE NULLS)
        |    OVER (PARTITION BY k ORDER BY t, side, pid
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) ft,
        |  first_value(CASE WHEN side = 0 THEN pid END IGNORE NULLS)
        |    OVER (PARTITION BY k ORDER BY t, side, pid
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) fid
        |  FROM u)
        |SELECT eid AS event_id, k AS user_id,
        |  CASE WHEN bt IS NULL AND ft IS NULL THEN NULL
        |       WHEN ft IS NULL THEN bid WHEN bt IS NULL THEN fid
        |       WHEN t - bt <= ft - t THEN bid ELSE fid END AS near_id,
        |  CASE WHEN bt IS NULL AND ft IS NULL THEN NULL
        |       WHEN ft IS NULL THEN 'b' WHEN bt IS NULL THEN 'f'
        |       WHEN t - bt <= ft - t THEN 'b' ELSE 'f' END AS direction,
        |  CASE WHEN bt IS NULL AND ft IS NULL THEN NULL
        |       WHEN ft IS NULL THEN t - bt WHEN bt IS NULL THEN ft - t
        |       ELSE least(t - bt, ft - t) END AS gap_us
        |FROM w WHERE side = 1 ORDER BY event_id LIMIT 100""".stripMargin),
      "nearest-direction as-of join — one-shuffle dual running frames, exact micro gaps"),

    // q232 — SCORE CALIBRATION table (reliability diagram in exact
    // integers): events bucketed into exact-rank deciles of `value`,
    // per-decile purchase rate and mean score in bp — the "is this
    // score a usable ranking signal" eval before anyone trains on it.
    // Deciles come from Rank.globalRank (two-level bucketed rank — no
    // single-partition window) and the integer bucket formula
    // ((rank−1)·10) div n, NOT ntile (whose remainder placement is
    // engine-defined); rates are exact integer divisions.
    Q("q232_score_calibration",
      (s, d) => {
        import graft.operators.Rank
        val ev = Tables(s, d, "events").select(col("event_id"),
          round(col("value") * 10000).cast("long").as("score_bp"),
          (col("event_type") === "purchase").cast("long").as("y"))
        val n = ev.agg(count(lit(1)).as("nn"))
        Rank.globalRank(ev, "score_bp", "event_id")
          .crossJoin(broadcast(n))
          .select(expr("((global_rank - 1) * 10) div nn").as("decile"),
            col("score_bp"), col("y"))
          .groupBy("decile")
          .agg(count(lit(1)).cast("long").as("n_rows"),
            sum("y").cast("long").as("n_purchases"),
            expr("(10000 * sum(y)) div count(1)").as("purchase_rate_bp"),
            expr("sum(score_bp) div count(1)").as("mean_score_bp"))
          .orderBy("decile")
      },
      Some("""WITH e AS (SELECT event_id,
        |    CAST(round(value * 10000) AS BIGINT) AS score_bp,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        |  FROM events),
        |r AS (SELECT score_bp, y, row_number()
        |    OVER (ORDER BY score_bp, event_id) AS rk,
        |    count(*) OVER () AS nn
        |  FROM e)
        |SELECT ((rk - 1) * 10) // nn AS decile,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(y) AS BIGINT) AS n_purchases,
        |  CAST((10000 * sum(y)) // count(*) AS BIGINT) AS purchase_rate_bp,
        |  CAST(sum(score_bp) // count(*) AS BIGINT) AS mean_score_bp
        |FROM r GROUP BY 1 ORDER BY decile""".stripMargin),
      "exact-rank decile calibration table — purchase rate vs score decile"),

    // q235 — MANN-WHITNEY U: are purchase values stochastically larger
    // than click values? The rank-sum companion to q214's KS shape
    // test, exact via DOUBLED midranks (2·midrank of a tie run is
    // always integral); 2U_a + 2U_b = 2·n_a·n_b is the built-in
    // cross-engine invariant. Same value-level collapse + two-level
    // prefix as KS.
    Q("q235_mann_whitney",
      (s, d) => graft.operators.Stats.mannWhitneyU2(
        Tables(s, d, "events"),
        expr("CAST(round(value * 100) AS BIGINT)"),
        (col("event_type") === "click").cast("int"),
        (col("event_type") === "purchase").cast("int"),
        v => (v / lit(2500)).cast("long")),
      Some("""WITH e AS (SELECT CAST(round(value * 100) AS BIGINT) AS v,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |g AS (SELECT v, CAST(sum(a) AS BIGINT) AS ca,
        |    CAST(sum(b) AS BIGINT) AS cb FROM e GROUP BY 1),
        |r AS (SELECT v, ca, cb,
        |    coalesce(sum(ca + cb) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cbefore
        |  FROM g),
        |m AS (SELECT ca, cb, 2 * cbefore + ca + cb + 1 AS mr2 FROM r)
        |SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |  CAST(sum(cb) AS BIGINT) AS n_b,
        |  CAST(sum(ca * mr2) - sum(ca) * (sum(ca) + 1) AS BIGINT) AS u2_a,
        |  CAST(sum(cb * mr2) - sum(cb) * (sum(cb) + 1) AS BIGINT) AS u2_b
        |FROM m""".stripMargin),
      "exact Mann-Whitney rank-sum via doubled midranks — stochastic-dominance test"),

    // q236 — DISCRETE HAZARD table (the integer core of Kaplan-Meier,
    // whose survival product needs floats the exact contract won't
    // buy): per lifetime-day k, users at risk (lifetime ≥ k), churners
    // (lifetime = k), hazard in exact bp. Lifetime = whole days
    // between a user's first and last event — micro arithmetic, no
    // date functions. One per-user min/max agg + one tiny per-day agg
    // + a reverse running sum over ≤31 rows.
    Q("q236_hazard_table",
      (s, d) => {
        val lt = Tables(s, d, "events")
          .groupBy("user_id")
          .agg(((unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            / lit(86400000000L)).cast("long").as("k"))
          .filter(col("k") <= 30)
        val byDay = lt.groupBy("k").agg(count(lit(1)).as("d"))
        val w = org.apache.spark.sql.expressions.Window.orderBy("k")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        byDay
          .withColumn("n_risk", sum("d").over(w))
          .select(col("k"), col("d").cast("long").as("churned"),
            col("n_risk").cast("long").as("n_risk"),
            expr("(10000 * d) div n_risk").as("hazard_bp"))
          .orderBy("k")
      },
      Some("""WITH lt AS (SELECT user_id,
        |    (epoch_us(max(ts)) - epoch_us(min(ts))) // 86400000000
        |      AS k
        |  FROM events GROUP BY 1 HAVING k <= 30),
        |bd AS (SELECT k, CAST(count(*) AS BIGINT) AS d FROM lt GROUP BY 1),
        |rz AS (SELECT k, d, sum(d) OVER (ORDER BY k DESC) AS n_risk
        |  FROM bd)
        |SELECT k, d AS churned, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST((10000 * d) // n_risk AS BIGINT) AS hazard_bp
        |FROM rz ORDER BY k""".stripMargin),
      "discrete hazard table — at-risk / churned / hazard bp per lifetime day"),

    // q237 — DEGREE MIXING independence: is a node's degree class
    // independent of its neighbors' degree class? Chi-square over the
    // (bitlen(du), bitlen(dv)) contingency of the co-purchase edge
    // list — the integer assortativity probe (rank/Pearson
    // assortativity needs n ≲ 2·10⁴ in long arithmetic; the
    // bitlen-binned chi-square has no such bound). Reuses q217's
    // statistic over q192's binning.
    Q("q237_degree_mixing_chi2",
      (s, d) => {
        val e = graft.operators.Graph.coOccurrenceEdges(
          Tables(s, d, "lineitem"), col("l_orderkey"), col("l_partkey"))
        // v-side degree by partial-combined count over the symmetric
        // edges (≡ du keyed by v, since deg(x) = |{edges out of x}| =
        // |{edges into x}| on a symmetrized graph) instead of a full
        // |2m|-row distinct of (v, du) pairs: the count agg ships ≤
        // |V| rows per input partition to its exchange where the
        // distinct shuffled all 2.4M (r14 guide §2.3). The broadcast
        // is SIZE-GATED on the MEASURED node count (r15, the r14
        // verdict's scale caution): dv is one row per NODE, so an
        // unconditional hint OOMs at 10⁸-10⁹-node scale, while no hint
        // at all planned the probe as a sort-merge join even at bench
        // SF (estimates put the agg output over the auto threshold and
        // the AQE runtime rewrite did not fire — measured, see
        // plans/r15). dv is cached and counted once — the same rows
        // the probe join consumes anyway — and ≤ 10M nodes (~160 MB
        // built) broadcasts; above, the keyed join degrades gracefully.
        val dvT = e.groupBy(col("v")).agg(count(lit(1)).as("dv")).cache()
        val dv = graft.operators.Graph.gated(dvT, dvT.count())
        graft.operators.Stats.chiSquareBp(
          e.join(dv, "v"),
          length(bin(col("du"))), length(bin(col("dv"))))
      },
      Some("""WITH g AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey k, l_partkey p FROM lineitem),
        |pr AS MATERIALIZED (SELECT a.p u, b.p v FROM g a
        |  JOIN g b ON a.k = b.k AND a.p < b.p GROUP BY 1, 2),
        |e AS (SELECT u, v FROM pr UNION ALL SELECT v AS u, u AS v FROM pr),
        |dg AS (SELECT u, count(*) du FROM e GROUP BY 1),
        |j AS (SELECT length(bin(da.du)) AS ba, length(bin(db.du)) AS bb
        |  FROM e JOIN dg da ON da.u = e.u JOIN dg db ON db.u = e.v),
        |o AS (SELECT ba, bb, CAST(count(*) AS HUGEINT) AS ob
        |  FROM j GROUP BY 1, 2),
        |rt AS (SELECT ba, CAST(sum(ob) AS HUGEINT) AS r FROM o GROUP BY 1),
        |ct AS (SELECT bb, CAST(sum(ob) AS HUGEINT) AS c FROM o GROUP BY 1),
        |nt AS (SELECT CAST(sum(ob) AS HUGEINT) AS nn FROM o)
        |SELECT
        |  CAST(sum((10000 * (o.ob * nt.nn - rt.r * ct.c)
        |      * (o.ob * nt.nn - rt.r * ct.c)) // (nt.nn * rt.r * ct.c))
        |    AS BIGINT) AS chi2_bp,
        |  CAST(count(*) - count(DISTINCT o.ba) - count(DISTINCT o.bb) + 1
        |    AS BIGINT) AS dof,
        |  CAST(max(nt.nn) AS BIGINT) AS n
        |FROM o JOIN rt USING (ba) JOIN ct USING (bb), nt""".stripMargin),
      "degree-mixing chi-square — integer assortativity probe over bitlen degree classes"),

    // q238 — TIME-WEIGHTED AVERAGE: each event's value holds until the
    // user's next event; the mean weighted by holding duration is the
    // finance-style TWA that a plain mean misstates whenever sampling
    // is irregular. Exact: micros × value-bp in DECIMAL, one division
    // per user at the end. One user-keyed shuffle feeds both the lead
    // window and the final agg.
    Q("q238_time_weighted_avg",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("us", "event_id")
        Tables(s, d, "events")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("us"),
            round(col("value") * 10000).cast("long").as("vbp"))
          .withColumn("nxt", lead("us", 1).over(w))
          .filter(col("nxt").isNotNull)
          .groupBy("user_id")
          .agg(
            sum((col("nxt") - col("us")).cast("decimal(38,0)") * col("vbp"))
              .as("wsum"),
            sum(col("nxt") - col("us")).cast("decimal(38,0)").as("dur"))
          .select(col("user_id"),
            expr("CAST(wsum div dur AS BIGINT)").as("twa_bp"),
            col("dur").cast("long").as("dur_us"))
          .orderBy("user_id").limit(100)
      },
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CAST(round(value * 10000) AS BIGINT) AS vbp
        |  FROM events),
        |l AS (SELECT user_id, us, vbp, lead(us) OVER (
        |    PARTITION BY user_id ORDER BY us, event_id) AS nxt
        |  FROM e),
        |a AS (SELECT user_id,
        |    CAST(sum(CAST(nxt - us AS HUGEINT) * vbp) AS HUGEINT) AS wsum,
        |    CAST(sum(nxt - us) AS HUGEINT) AS dur
        |  FROM l WHERE nxt IS NOT NULL GROUP BY 1)
        |SELECT user_id, CAST(wsum // dur AS BIGINT) AS twa_bp,
        |  CAST(dur AS BIGINT) AS dur_us
        |FROM a ORDER BY user_id LIMIT 100""".stripMargin),
      "time-weighted average value per user — duration-weighted exact decimal fold"),

    // q246 — INCREMENTAL SESSIONIZATION under late data: the last two
    // days of the feed arrive as a delta batch; instead of
    // re-sessionizing the corpus, only the AFFECTED users (those in
    // the delta — sessions can extend or merge across the cut) replay
    // their history, and everyone else's base sessions are reused
    // untouched. The ORACLE is the full recompute over all events —
    // green means the incremental algebra is EXACTLY lossless, the
    // q80/q172 batch-equivalence pattern applied to backfill merge.
    // Scale shape: one semi-join prunes the replay to delta users; the
    // untouched side is an anti-join passthrough; both sessionize
    // passes are the single user-keyed exchange of q20.
    Q("q246_incremental_sessions",
      (s, d) => {
        def sess(ev: org.apache.spark.sql.DataFrame) = {
          val w = Window.partitionBy("user_id").orderBy("us", "event_id")
          ev.withColumn("prev", lag("us", 1).over(w))
            .withColumn("new_sess",
              when(col("prev").isNull ||
                col("us") - col("prev") > 1800L * 1000000L, 1).otherwise(0))
            .withColumn("session_id", sum("new_sess").over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
            .groupBy("user_id", "session_id")
            .agg(count(lit(1)).cast("long").as("n_events"))
        }
        val ev = Tables(s, d, "events").select(col("user_id"),
          col("event_id"), unix_micros(col("ts")).as("us"))
        val cut = ev.agg((max("us") - 2L * 86400000000L).as("cut"))
        val evc = ev.crossJoin(broadcast(cut))
        val base = evc.filter(col("us") < col("cut")).drop("cut")
        val affected = evc.filter(col("us") >= col("cut"))
          .select("user_id").distinct()
        val untouched = sess(base)
          .join(affected, Seq("user_id"), "left_anti")
        val replayed = sess(ev.join(affected, Seq("user_id"), "left_semi"))
        untouched.unionAll(replayed)
          .groupBy(col("n_events"))
          .agg(count(lit(1)).cast("long").as("n_sessions"))
          .orderBy("n_events")
      },
      Some("""WITH g AS (SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |s AS (SELECT user_id,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM g),
        |sess AS (SELECT user_id, session_id,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM s GROUP BY 1, 2)
        |SELECT n_events, CAST(count(*) AS BIGINT) AS n_sessions
        |FROM sess GROUP BY 1 ORDER BY 1""".stripMargin),
      "incremental sessionization — delta-user replay + untouched passthrough equals the full recompute"),

    // q259 — DISTRIBUTED CONNECTED COMPONENTS (min-label propagation,
    // 6 synchronous rounds) over the sparse co-purchase slice (qty ≥
    // 40, the q183 graph — sparse enough to fragment into a real
    // component-size distribution). The SCALE escalation of the
    // driver-side capped union-find (q227/q234's localClusters, 1M-edge
    // loud cap): every round is one label-to-edges join + one
    // target-keyed min agg with partial combine — no driver state, no
    // cap. Labels are node ids, so the converged component id is the
    // component's minimum member, exactly the union-find's canonical
    // label. The oracle unrolls the identical 6 rounds as MATERIALIZED
    // CTEs (the q180 fixed-point discipline) and both engines report
    // `moved_last` — the number of labels the FINAL round still moved —
    // so convergence is an audited output, never an assumption.
    Q("q259_connected_components",
      (s, d) => {
        // u,v-only edge form: min-label propagation never reads du (r14)
        val edges = graft.operators.Graph.coOccurrenceEdgesUV(
          Tables(s, d, "lineitem").filter(col("l_quantity") >= 40),
          col("l_orderkey"), col("l_partkey"))
        val cc = graft.operators.Graph.connectedComponentsInt(edges, rounds = 6)
        val moved = cc.agg(sum("changed").cast("long").as("moved_last"))
        cc.groupBy("component")
          .agg(count(lit(1)).cast("long").as("n_nodes"))
          .crossJoin(broadcast(moved))
          .orderBy(desc("n_nodes"), col("component")).limit(25)
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS gk, l_partkey AS it
        |  FROM lineitem WHERE l_quantity >= 40),
        |p0 AS (SELECT a.it AS u, b.it AS v FROM li a JOIN li b USING (gk)
        |  WHERE a.it < b.it),
        |p1 AS (SELECT DISTINCT u, v FROM p0),
        |e AS MATERIALIZED (SELECT u, v FROM p1
        |  UNION ALL SELECT v, u FROM p1),
        |l0 AS MATERIALIZED (SELECT u AS node, u AS lbl
        |  FROM (SELECT DISTINCT u FROM e)),
        |m1 AS (SELECT e.v AS node, min(p.lbl) AS m
        |  FROM e JOIN l0 p ON e.u = p.node GROUP BY 1),
        |l1 AS MATERIALIZED (SELECT l0.node,
        |    LEAST(l0.lbl, COALESCE(m1.m, l0.lbl)) AS lbl
        |  FROM l0 LEFT JOIN m1 USING (node)),
        |m2 AS (SELECT e.v AS node, min(p.lbl) AS m
        |  FROM e JOIN l1 p ON e.u = p.node GROUP BY 1),
        |l2 AS MATERIALIZED (SELECT l1.node,
        |    LEAST(l1.lbl, COALESCE(m2.m, l1.lbl)) AS lbl
        |  FROM l1 LEFT JOIN m2 USING (node)),
        |m3 AS (SELECT e.v AS node, min(p.lbl) AS m
        |  FROM e JOIN l2 p ON e.u = p.node GROUP BY 1),
        |l3 AS MATERIALIZED (SELECT l2.node,
        |    LEAST(l2.lbl, COALESCE(m3.m, l2.lbl)) AS lbl
        |  FROM l2 LEFT JOIN m3 USING (node)),
        |m4 AS (SELECT e.v AS node, min(p.lbl) AS m
        |  FROM e JOIN l3 p ON e.u = p.node GROUP BY 1),
        |l4 AS MATERIALIZED (SELECT l3.node,
        |    LEAST(l3.lbl, COALESCE(m4.m, l3.lbl)) AS lbl
        |  FROM l3 LEFT JOIN m4 USING (node)),
        |m5 AS (SELECT e.v AS node, min(p.lbl) AS m
        |  FROM e JOIN l4 p ON e.u = p.node GROUP BY 1),
        |l5 AS MATERIALIZED (SELECT l4.node,
        |    LEAST(l4.lbl, COALESCE(m5.m, l4.lbl)) AS lbl
        |  FROM l4 LEFT JOIN m5 USING (node)),
        |m6 AS (SELECT e.v AS node, min(p.lbl) AS m
        |  FROM e JOIN l5 p ON e.u = p.node GROUP BY 1),
        |l6 AS MATERIALIZED (SELECT l5.node,
        |    LEAST(l5.lbl, COALESCE(m6.m, l5.lbl)) AS lbl
        |  FROM l5 LEFT JOIN m6 USING (node)),
        |mv AS (SELECT CAST(count(*) FILTER (WHERE a.lbl <> b.lbl)
        |    AS BIGINT) AS moved_last
        |  FROM l6 a JOIN l5 b USING (node)),
        |comp AS (SELECT lbl AS component,
        |    CAST(count(*) AS BIGINT) AS n_nodes
        |  FROM l6 GROUP BY 1)
        |SELECT comp.component, comp.n_nodes, mv.moved_last
        |FROM comp, mv
        |ORDER BY n_nodes DESC, component LIMIT 25""".stripMargin),
      "distributed connected components (6 min-label rounds, convergence audited) over the sparse co-purchase graph"),

    // q277 — APPROXIMATE distinct-IVM with fixed-size register state:
    // the companion to q270's exact support table for cardinalities
    // where "state ∝ total distinct values" is unaffordable — per-group
    // HLL registers (p=6, ≤ 64 rows per group FOREVER) maintained
    // across three md5-gated insert batches, with one batch REPLAYED
    // into the merge (at-least-once retry): register-wise max is
    // idempotent, so the duplicate is a provable no-op — the property
    // neither counters nor support sums have, and the reason the
    // sketch path needs no exactly-once bookkeeping. The oracle
    // recomputes registers and estimate from the unsplit table in one
    // pass: equality proves batch-split invariance AND replay immunity
    // in the same hash compare. Insert-only by construction (max has
    // no inverse) — retraction workloads take q270. Exact n_true rides
    // along as the audit column (q179's contract discipline).
    Q("q277_hll_distinct_ivm",
      (s, d) => {
        import graft.functions.TextFunctions.hash60
        import graft.operators.Sketches
        val ev = Tables(s, d, "events").select(
          col("event_type"), col("user_id"),
          (hash60(col("event_id").cast("string"), 7) % 3).as("b"))
        val parts = (0 until 3).map(b =>
          Sketches.hllState(ev.filter(col("b") === b),
            Seq("event_type"), col("user_id"), p = 6))
        val merged = Sketches.mergeHllState(parts, Seq("event_type"))
        // duplicate replay of batch 0: must change nothing
        val replayed = Sketches.mergeHllState(
          Seq(merged, parts(0)), Seq("event_type"))
        val nTrue = Tables(s, d, "events").groupBy("event_type")
          .agg(count_distinct(col("user_id")).as("n_true"))
        Sketches.hllEstimateFromState(replayed, Seq("event_type"), p = 6)
          .join(broadcast(nTrue), "event_type")
          .orderBy("event_type")
      },
      Some("""WITH h AS (SELECT event_type,
        |    CAST(('0x' || substring(md5('0#' ||
        |      CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
        |r AS (SELECT event_type, h % 64 AS register,
        |    CASE WHEN (h >> 6) = 0 THEN 55
        |         ELSE 55 - length(bin(h >> 6)) END AS rho0
        |  FROM h),
        |occ AS (SELECT event_type, register, max(rho0) AS rho
        |  FROM r GROUP BY 1, 2),
        |agg AS (SELECT event_type, count(*) AS n_regs,
        |    sum(CAST(1 AS HUGEINT) << CAST(60 - rho AS INT)) AS sv_occ
        |  FROM occ GROUP BY 1),
        |est AS (SELECT event_type, CAST(n_regs AS BIGINT) AS n_regs,
        |    CAST((709 * 64 * 64 * (CAST(1 AS HUGEINT) << 60)) //
        |      (1000 * (sv_occ + (64 - n_regs) *
        |        (CAST(1 AS HUGEINT) << 60))) AS BIGINT) AS est
        |  FROM agg),
        |n AS (SELECT event_type, count(DISTINCT user_id) AS n_true
        |  FROM events GROUP BY 1)
        |SELECT est.event_type, est.n_regs, est.est, n.n_true
        |FROM est JOIN n USING (event_type)
        |ORDER BY event_type""".stripMargin),
      "approximate distinct-IVM: fixed-size per-group HLL register state, batch-split + duplicate-replay invariant, estimate replayed exactly by the oracle"),

    // q278 — APPROXIMATE frequency-IVM with RETRACTIONS: the cell of
    // the IVM matrix q200 (exact counts, state ∝ keys), q270 (exact
    // distinct), and q277 (approximate distinct, insert-only) leave
    // open — per-user event counts maintained in a signed COUNT-MIN
    // sketch (d=4, w=256, ≤ 1024 cells FOREVER) under the q262 md5
    // gates: base inserts, new inserts, 5% retractions, one signed
    // cell partial per batch, merged by abelian (r, bkt) addition.
    // Linearity makes the merged state EQUAL the one-pass sketch of
    // the post-change table — which is what the oracle recomputes, so
    // the hash match proves split invariance AND retraction handling
    // at once. Estimates for the post-change exact top-10 users ride
    // with exact counts and the (provably ≥ 0) overcount; the 100 TB
    // contrast with q277 is documented in cmsState's header: sums
    // retract but do NOT absorb replays, so CMS maintenance keeps the
    // BatchState commit discipline HLL's idempotent max can skip.
    Q("q278_cms_frequency_ivm",
      (s, d) => {
        import graft.functions.TextFunctions.hash60
        import graft.operators.Sketches
        val ev = Tables(s, d, "events").select(
          col("user_id"),
          (hash60(col("event_id").cast("string"), 7) % 1000).as("ha"),
          (hash60(col("event_id").cast("string"), 8) % 1000).as("hd"))
        val base = ev.filter(col("ha") < 900)
          .select(col("user_id"), lit(1L).as("sign"))
        val ins = ev.filter(col("ha") >= 900)
          .select(col("user_id"), lit(1L).as("sign"))
        val del = ev.filter(col("ha") < 900 && col("hd") < 50)
          .select(col("user_id"), lit(-1L).as("sign"))
        val merged = Sketches.mergeCmsState(Seq(base, ins, del)
          .map(b => Sketches.cmsState(b, col("user_id"), 4, 256)))
        val post = base.unionAll(ins).unionAll(del)
          .groupBy("user_id").agg(sum("sign").as("exact_cnt"))
          .filter(col("exact_cnt") =!= 0L)
        val top = post.orderBy(col("exact_cnt").desc, col("user_id"))
          .limit(10)
        Sketches.cmsEstimateFor(merged, top, col("user_id"), 4, 256)
          .select(col("user_id"), col("exact_cnt"), col("cms_est"),
            (col("cms_est") - col("exact_cnt")).as("overcount"))
          .orderBy(col("exact_cnt").desc, col("user_id"))
      },
      Some("""WITH e AS (SELECT user_id,
        |    ('0x' || substring(md5('7#' ||
        |      CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS ha,
        |    ('0x' || substring(md5('8#' ||
        |      CAST(event_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS hd
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
        |post AS (SELECT user_id FROM e
        |  WHERE ha >= 900 OR (ha < 900 AND hd >= 50)),
        |exact AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
        |  FROM post GROUP BY 1),
        |rb AS (SELECT user_id, exact_cnt, r.r,
        |    CAST(('0x' || substring(md5((101 + r.r)::VARCHAR || '#' ||
        |      CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
        |      % 256 AS INTEGER) AS bkt
        |  FROM exact, generate_series(0, 3) AS r(r)),
        |sums AS (SELECT r, bkt, CAST(sum(exact_cnt) AS BIGINT) AS c
        |  FROM rb GROUP BY r, bkt),
        |top AS (SELECT user_id, exact_cnt FROM exact
        |  ORDER BY exact_cnt DESC, user_id LIMIT 10)
        |SELECT t.user_id, t.exact_cnt, min(s.c) AS cms_est,
        |  min(s.c) - t.exact_cnt AS overcount
        |FROM top t JOIN rb ON rb.user_id = t.user_id
        |JOIN sums s ON s.r = rb.r AND s.bkt = rb.bkt
        |GROUP BY t.user_id, t.exact_cnt
        |ORDER BY t.exact_cnt DESC, t.user_id""".stripMargin),
      "approximate frequency-IVM with retractions: signed count-min cell state (d=4 w=256), merged == one-pass sketch of the post-change table, cells replayed exactly by the oracle"),
  )
}
