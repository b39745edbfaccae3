package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.util.Tables

/** ANN / similarity-search pack over `embeddings`. */
object SimilarityQueries {

  /** DuckDB equivalent of VectorFunctions.signBucket over 4 dims (16
    * buckets — sized so a bucket holds tens of vectors at test SFs).
    */
  private val lshBits = 4
  private val bucketSql: String =
    (0 until lshBits).map(i =>
      s"CASE WHEN v[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END").mkString(" + ")

  val qs: Seq[Q] = Seq(

    // Brute-force exact top-k: scan all vectors once, query broadcast.
    Q("q27_ann_bruteforce",
      (s, d) => Similarity.bruteForceTopK(Tables(s, d, "embeddings"),
        col("vec_id"), col("embedding"), queryId = 0L, k = 10),
      Some("""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], qv), 4) AS cos_sim
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
      "exact cosine top-k (single scan + broadcast query + TakeOrdered)"),

    // Sign-LSH bucketed ANN: probe only the query's bucket (~1/256 of
    // the data). The approximate scale path.
    Q("q28_ann_sign_lsh",
      (s, d) => Similarity.signLshTopK(Tables(s, d, "embeddings"),
        col("vec_id"), col("embedding"), queryId = 0L, k = 10, bits = lshBits),
      Some(s"""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |b AS (SELECT vec_id, v, $bucketSql AS bucket FROM e),
        |q AS (SELECT v AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
        |SELECT vec_id, round(list_cosine_similarity(v, qv), 4) AS cos_sim
        |FROM b, q WHERE vec_id <> 0 AND bucket = qbucket
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
      "sign-LSH bucketed ANN (IVF-style probe of one bucket)"),

    // Per-label centroids (coarse quantizer build for IVF), long format.
    Q("q29_centroids",
      (s, d) => Similarity.centroids(Tables(s, d, "embeddings"),
          col("label"), col("embedding"))
        .orderBy("label", "dim"),
      Some("""SELECT label, CAST(t.dim AS INTEGER) AS dim,
        |  round(avg(embedding[t.dim]), 6) AS centroid
        |FROM embeddings, generate_series(1, 64) AS t(dim)
        |GROUP BY label, t.dim ORDER BY label, dim""".stripMargin),
      "per-label mean vectors (IVF coarse-quantizer build)"),

    // Full IVF ANN: quantizer build (q29's centroids, widened) + nearest-
    // centroid assignment + single-bucket probe. ~1/|labels| of the data
    // scanned per probe; recall < 1 documented. The quantizer is trained
    // on a DETERMINISTIC 50% md5-hash sample (the 100 TB shape — a
    // coarse quantizer never sees the full corpus; hash-gating keeps the
    // trained centroids reproducible and the oracle replays the sample);
    // assignment + probe still cover every vector.
    Q("q38_ann_ivf",
      (s, d) => Similarity.ivfTopK(Tables(s, d, "embeddings"),
        col("vec_id"), col("embedding"), col("label"), queryId = 0L, k = 10,
        nprobe = 1, buildSamplePerMille = 500, buildSampleSeed = 0),
      Some("""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v, label AS lbl FROM embeddings),
        |c AS (
        |  SELECT lbl, t.dim, round(avg(v[t.dim]), 6) AS cd
        |  FROM e, generate_series(1, 64) AS t(dim)
        |  WHERE ('0x' || substring(md5('0#' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % 1000 < 500
        |  GROUP BY lbl, t.dim),
        |cw AS (SELECT lbl AS c_lbl, list(cd ORDER BY dim) AS cv FROM c GROUP BY lbl),
        |a AS (
        |  SELECT vec_id, v, c_lbl,
        |    round(list_cosine_similarity(v, cv), 4) AS sim
        |  FROM e, cw
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_lbl) = 1),
        |q AS (SELECT v AS qv, c_lbl AS qb FROM a WHERE vec_id = 0)
        |SELECT vec_id, round(list_cosine_similarity(v, qv), 4) AS cos_sim
        |FROM a, q WHERE vec_id <> 0 AND c_lbl = qb
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
      "IVF ANN: centroid quantizer + nearest-centroid assign + bucket probe"),

    // q55 — the ArrayCosine malformed-input contract, end to end: every
    // 50th vector is truncated by one element, so its (v, v2) pair has
    // mismatched lengths and MUST yield NULL (ArrayCosine.scala:35-48's
    // mismatch branch; DuckDB's list_cosine_similarity would error
    // there, so the oracle guards with a CASE on len equality — both
    // engines surface the bad row instead of silently truncating).
    // Well-formed rows pair v with reverse(v) so the similarity is a
    // non-trivial value, not the constant 1.0.
    Q("q55_cosine_null_contract",
      (s, d) => {
        import graft.functions.ArrayCosine.cosine
        val e = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val v2 = when(col("vec_id") % 50 === 0,
            slice(col("v"), lit(1), size(col("v")) - 1))
          .otherwise(reverse(col("v")))
        e.select(col("vec_id"),
            round(cosine(col("v"), v2), 4).as("cos_sim"),
            (col("vec_id") % 50 === 0).as("mismatched"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT vec_id, v,
        |  CASE WHEN vec_id % 50 = 0 THEN v[1:len(v) - 1]
        |       ELSE list_reverse(v) END AS v2
        |  FROM e)
        |SELECT vec_id,
        |  CASE WHEN len(v) = len(v2)
        |       THEN round(list_cosine_similarity(v, v2), 4) END AS cos_sim,
        |  vec_id % 50 = 0 AS mismatched
        |FROM p ORDER BY vec_id""".stripMargin),
      "cosine NULL-on-length-mismatch contract (malformed rows surfaced, not masked)"),

    // q67 — batch kNN join: top-5 neighbors for every 100th vector (the
    // retrieval-eval shape: M queries against the corpus in ONE job).
    // Queries broadcast; per-query top-k on the custom TopKPerKey node
    // (≤ k rows per (query, partition) reach the shuffle). Self-matches
    // rank first at cos_sim 1.0 — kept deliberately (they prove the
    // scoring path end to end and the oracle replays them).
    Q("q67_ann_knn_join",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        Similarity.knnJoin(e, col("vec_id"), col("embedding"),
            e.filter(col("vec_id") % 100 === 0), col("vec_id"),
            col("embedding"), k = 5)
          .orderBy("query_id", "vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0),
        |s AS (SELECT query_id, vec_id,
        |    round(list_cosine_similarity(v, qv), 4) AS cos_sim
        |  FROM e, q)
        |SELECT query_id, vec_id, cos_sim FROM s
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY cos_sim DESC, vec_id) <= 5
        |ORDER BY query_id, vec_id""".stripMargin),
      "batch kNN join: per-query top-k via broadcast queries + TopKPerKey node"),

    // q71 — int8-quantized ANN with the accuracy audit built into the
    // result: rank by quantized cosine (the 4x-smaller scan path),
    // carry exact cosine alongside, flag disagreement beyond 0.02
    // (observed int8 error at d=64 is ~1e-3, an order of magnitude
    // inside the tolerance). Every quantization step — max|x|, the one
    // shared 127/max division, x*scale, round-half-away — is replayed
    // verbatim in SQL, so both engines rank bit-identical integer
    // vectors and the audit itself is oracle-checked.
    Q("q71_ann_quantized",
      (s, d) => Similarity.quantizedTopK(Tables(s, d, "embeddings"),
        col("vec_id"), col("embedding"), queryId = 0L, k = 10, tol = 0.02),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |    127.0 / list_max(list_transform(v, x -> abs(x))) AS sc
        |  FROM e WHERE list_max(list_transform(v, x -> abs(x))) > 0),
        |z AS (SELECT vec_id, v,
        |    list_transform(v, x -> CAST(round(x * sc) AS INT))::DOUBLE[] AS q8
        |  FROM m),
        |q AS (SELECT v AS qv, q8 AS qq FROM z WHERE vec_id = 0),
        |s AS (SELECT vec_id,
        |    round(list_cosine_similarity(q8, qq), 4) AS qcos_sim,
        |    round(list_cosine_similarity(v, qv), 4) AS cos_sim
        |  FROM z, q WHERE vec_id <> 0)
        |SELECT vec_id, qcos_sim, cos_sim,
        |  abs(qcos_sim - cos_sim) <= 0.02 AS close
        |FROM s ORDER BY qcos_sim DESC, vec_id LIMIT 10""".stripMargin),
      "int8-quantized ANN scan with exact-cosine accuracy audit"),

    // q72 — MULTI-PROBE sign-LSH with a recall audit: probe the query's
    // bucket plus its first two Hamming-1 neighbors (3/16 of the data
    // instead of 1/16 — the recall/scan knob q28 lacks), and flag each
    // returned neighbor by whether it is in the brute-force top-10
    // (q27's projection), so the result itself MEASURES the recall the
    // knob buys — the q54/q63/q70 audit pattern applied to ANN recall.
    Q("q72_ann_multiprobe",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        val approx = Similarity.signLshTopK(e, col("vec_id"),
          col("embedding"), queryId = 0L, k = 10, bits = lshBits, probes = 3)
        val exact = Similarity.bruteForceTopK(e, col("vec_id"),
            col("embedding"), queryId = 0L, k = 10)
          .select(col("vec_id"), lit(true).as("hit"))
        approx.join(exact, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cos_sim"),
            coalesce(col("hit"), lit(false)).as("in_exact_topk"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |b AS (SELECT vec_id, v, $bucketSql AS bucket FROM e),
        |q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0),
        |probes AS (SELECT qv, xor(qb, m) AS qbucket
        |  FROM q, (VALUES (0), (1), (2)) AS masks(m)),
        |cand AS (SELECT vec_id, round(list_cosine_similarity(v, qv), 4) AS cos_sim
        |  FROM b JOIN probes ON b.bucket = probes.qbucket WHERE vec_id <> 0),
        |topk AS (SELECT vec_id, cos_sim FROM cand
        |  ORDER BY cos_sim DESC, vec_id LIMIT 10),
        |exact AS (SELECT vec_id FROM (
        |  SELECT b.vec_id, round(list_cosine_similarity(v, qv), 4) AS s
        |  FROM b, q WHERE vec_id <> 0 ORDER BY s DESC, vec_id LIMIT 10))
        |SELECT t.vec_id, t.cos_sim, (x.vec_id IS NOT NULL) AS in_exact_topk
        |FROM topk t LEFT JOIN exact x ON t.vec_id = x.vec_id
        |ORDER BY t.cos_sim DESC, t.vec_id""".stripMargin),
      "multi-probe sign-LSH ANN (Hamming-1 buckets) with brute-force recall audit"),

    // q75 — IVF with nprobe=2: scan the TWO nearest centroid buckets
    // (2/|labels| of the data), same recall-audit columns as q72. The
    // quantizer build here is the full corpus (q38 exercises the
    // sampled build; this query isolates the nprobe knob).
    Q("q75_ann_ivf_nprobe",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        val approx = Similarity.ivfTopK(e, col("vec_id"), col("embedding"),
          col("label"), queryId = 0L, k = 10, nprobe = 2)
        val exact = Similarity.bruteForceTopK(e, col("vec_id"),
            col("embedding"), queryId = 0L, k = 10)
          .select(col("vec_id"), lit(true).as("hit"))
        approx.join(exact, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cos_sim"),
            coalesce(col("hit"), lit(false)).as("in_exact_topk"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
      },
      Some("""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v, label AS lbl FROM embeddings),
        |c AS (SELECT lbl, t.dim, round(avg(v[t.dim]), 6) AS cd
        |  FROM e, generate_series(1, 64) AS t(dim) GROUP BY lbl, t.dim),
        |cw AS (SELECT lbl AS c_lbl, list(cd ORDER BY dim) AS cv FROM c GROUP BY lbl),
        |a AS (SELECT vec_id, v, c_lbl,
        |    round(list_cosine_similarity(v, cv), 4) AS sim
        |  FROM e, cw
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_lbl) = 1),
        |qv AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |qb AS (SELECT c_lbl AS qbucket FROM cw, qv
        |  QUALIFY row_number() OVER (
        |    ORDER BY round(list_cosine_similarity(cv, qv), 4) DESC, c_lbl) <= 2),
        |cand AS (SELECT vec_id, round(list_cosine_similarity(v, qv), 4) AS cos_sim
        |  FROM a JOIN qb ON a.c_lbl = qb.qbucket, qv WHERE vec_id <> 0),
        |topk AS (SELECT vec_id, cos_sim FROM cand
        |  ORDER BY cos_sim DESC, vec_id LIMIT 10),
        |exact AS (SELECT vec_id FROM (
        |  SELECT vec_id, round(list_cosine_similarity(v, qv), 4) AS s
        |  FROM e, qv WHERE vec_id <> 0 ORDER BY s DESC, vec_id LIMIT 10))
        |SELECT t.vec_id, t.cos_sim, (x.vec_id IS NOT NULL) AS in_exact_topk
        |FROM topk t LEFT JOIN exact x ON t.vec_id = x.vec_id
        |ORDER BY t.cos_sim DESC, t.vec_id""".stripMargin),
      "IVF nprobe=2 probe (two nearest centroid buckets) with brute-force recall audit"),

    // q79 — the int8 × IVF COMPOSITION: buckets assigned on exact
    // vectors, the probe scan reading int8-packed BINARY vectors scored
    // by the fused ByteCosine kernel (nprobe/C of the corpus touched ×
    // 8x byte density — the two scale features multiplying), exact
    // cosine riding along as the q71 audit. Every stage — the amax>0
    // zero-vector drop, the 6dp centroid build, rounded-cosine + label
    // assignment, the shared 127/max quantization, nprobe bucket
    // ranking — is replayed verbatim in SQL, so both engines rank
    // bit-identical integer vectors out of identical buckets.
    Q("q79_ann_ivf_quantized",
      (s, d) => Similarity.ivfQuantizedTopK(Tables(s, d, "embeddings"),
        col("vec_id"), col("embedding"), col("label"), queryId = 0L,
        k = 10, nprobe = 2, tol = 0.02),
      Some("""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v, label AS lbl FROM embeddings
        |  WHERE list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) > 0),
        |c AS (SELECT lbl, t.dim, round(avg(v[t.dim]), 6) AS cd
        |  FROM e, generate_series(1, 64) AS t(dim) GROUP BY lbl, t.dim),
        |cw AS (SELECT lbl AS c_lbl, list(cd ORDER BY dim) AS cv FROM c GROUP BY lbl),
        |a AS (SELECT vec_id, v, c_lbl,
        |    round(list_cosine_similarity(v, cv), 4) AS sim
        |  FROM e, cw
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_lbl) = 1),
        |z AS (SELECT vec_id, v, c_lbl,
        |    list_transform(v, x -> CAST(round(x *
        |      (127.0 / list_max(list_transform(v, y -> abs(y))))) AS INT))::DOUBLE[] AS q8
        |  FROM a),
        |qrow AS (SELECT v AS qv, q8 AS qq FROM z WHERE vec_id = 0),
        |qb AS (SELECT c_lbl AS qbucket FROM cw, qrow
        |  QUALIFY row_number() OVER (
        |    ORDER BY round(list_cosine_similarity(cv, qv), 4) DESC, c_lbl) <= 2),
        |s AS (SELECT vec_id,
        |    round(list_cosine_similarity(q8, qq), 4) AS qcos_sim,
        |    round(list_cosine_similarity(v, qv), 4) AS cos_sim
        |  FROM z JOIN qb ON z.c_lbl = qb.qbucket, qrow WHERE vec_id <> 0)
        |SELECT vec_id, qcos_sim, cos_sim,
        |  abs(qcos_sim - cos_sim) <= 0.02 AS close
        |FROM s ORDER BY qcos_sim DESC, vec_id LIMIT 10""".stripMargin),
      "int8 × IVF composition: byte-packed probe-bucket scan with exact-cosine audit"),

    // q83 — multi-probe BEYOND Hamming-1: probes=7 > bits+1=5, so the
    // probe set includes the first two Hamming-2 neighbor buckets
    // (masks 3 and 5 in the deterministic enumeration — bit pairs in
    // lexicographic order), scanning 7/16 of the data. Same brute-force
    // recall-audit columns as q72; the oracle inlines the identical
    // mask list from Similarity.probeMasks.
    Q("q83_ann_multiprobe_h2",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        val approx = Similarity.signLshTopK(e, col("vec_id"),
          col("embedding"), queryId = 0L, k = 10, bits = lshBits, probes = 7)
        val exact = Similarity.bruteForceTopK(e, col("vec_id"),
            col("embedding"), queryId = 0L, k = 10)
          .select(col("vec_id"), lit(true).as("hit"))
        approx.join(exact, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cos_sim"),
            coalesce(col("hit"), lit(false)).as("in_exact_topk"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |b AS (SELECT vec_id, v, $bucketSql AS bucket FROM e),
        |q AS (SELECT v AS qv, bucket AS qb FROM b WHERE vec_id = 0),
        |probes AS (SELECT qv, xor(qb, m) AS qbucket
        |  FROM q, (VALUES ${Similarity.probeMasks(lshBits).take(7)
             .map(m => s"($m)").mkString(", ")}) AS masks(m)),
        |cand AS (SELECT vec_id, round(list_cosine_similarity(v, qv), 4) AS cos_sim
        |  FROM b JOIN probes ON b.bucket = probes.qbucket WHERE vec_id <> 0),
        |topk AS (SELECT vec_id, cos_sim FROM cand
        |  ORDER BY cos_sim DESC, vec_id LIMIT 10),
        |exact AS (SELECT vec_id FROM (
        |  SELECT b.vec_id, round(list_cosine_similarity(v, qv), 4) AS s
        |  FROM b, q WHERE vec_id <> 0 ORDER BY s DESC, vec_id LIMIT 10))
        |SELECT t.vec_id, t.cos_sim, (x.vec_id IS NOT NULL) AS in_exact_topk
        |FROM topk t LEFT JOIN exact x ON t.vec_id = x.vec_id
        |ORDER BY t.cos_sim DESC, t.vec_id""".stripMargin),
      "multi-probe sign-LSH past Hamming-1 (lexicographic Hamming-2 masks) with recall audit"),

    // q84 — the FULL IVF composition: all three scale features in one
    // operator — sampled quantizer build (q38's knob: the quantizer
    // trains on a deterministic 50% md5-hash sample, never the full
    // corpus), nprobe=2 bucket probing (q75's knob), and the int8
    // byte-packed probe scan with exact-cosine audit (q71/q79). Each
    // knob is isolated by its own query; this one proves they multiply.
    Q("q84_ann_ivf_quantized_sampled",
      (s, d) => Similarity.ivfQuantizedTopK(Tables(s, d, "embeddings"),
        col("vec_id"), col("embedding"), col("label"), queryId = 0L,
        k = 10, nprobe = 2, tol = 0.02,
        buildSamplePerMille = 500, buildSampleSeed = 0),
      Some("""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v, label AS lbl FROM embeddings
        |  WHERE list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) > 0),
        |c AS (SELECT lbl, t.dim, round(avg(v[t.dim]), 6) AS cd
        |  FROM e, generate_series(1, 64) AS t(dim)
        |  WHERE ('0x' || substring(md5('0#' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % 1000 < 500
        |  GROUP BY lbl, t.dim),
        |cw AS (SELECT lbl AS c_lbl, list(cd ORDER BY dim) AS cv FROM c GROUP BY lbl),
        |a AS (SELECT vec_id, v, c_lbl,
        |    round(list_cosine_similarity(v, cv), 4) AS sim
        |  FROM e, cw
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_lbl) = 1),
        |z AS (SELECT vec_id, v, c_lbl,
        |    list_transform(v, x -> CAST(round(x *
        |      (127.0 / list_max(list_transform(v, y -> abs(y))))) AS INT))::DOUBLE[] AS q8
        |  FROM a),
        |qrow AS (SELECT v AS qv, q8 AS qq FROM z WHERE vec_id = 0),
        |qb AS (SELECT c_lbl AS qbucket FROM cw, qrow
        |  QUALIFY row_number() OVER (
        |    ORDER BY round(list_cosine_similarity(cv, qv), 4) DESC, c_lbl) <= 2),
        |s AS (SELECT vec_id,
        |    round(list_cosine_similarity(q8, qq), 4) AS qcos_sim,
        |    round(list_cosine_similarity(v, qv), 4) AS cos_sim
        |  FROM z JOIN qb ON z.c_lbl = qb.qbucket, qrow WHERE vec_id <> 0)
        |SELECT vec_id, qcos_sim, cos_sim,
        |  abs(qcos_sim - cos_sim) <= 0.02 AS close
        |FROM s ORDER BY qcos_sim DESC, vec_id LIMIT 10""".stripMargin),
      "full IVF composition: sampled quantizer build × nprobe probing × int8 byte scan"),

    // q89 — PRODUCT QUANTIZATION with true ADC scoring: 64 dims → 8
    // one-byte codes (8 subspaces × label-keyed 6dp sub-codebooks, code
    // = min 6dp-rounded L2², ties → min label), scored WITHOUT touching
    // the original vectors — Σ_m LUT[code_m].dot over the packed codes,
    // normalized by ‖q‖·sqrt(Σ_m LUT[code_m].n2). Both engines fold the
    // 8 subspaces in the same order over identical codebooks, so 4dp
    // scores agree. Exact cosine + brute-force-membership audit columns
    // (the q72/q75 recall pattern) certify the approximation in-result.
    Q("q89_ann_pq_adc",
      (s, d) => Similarity.pqTopK(Tables(s, d, "embeddings"),
        col("vec_id"), col("embedding"), col("label"), queryId = 0L,
        k = 10, dim = 64, numSub = 8),
      Some("""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v, label AS lbl FROM embeddings
        |  WHERE list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) > 0),
        |c AS (SELECT lbl, t.dim, round(avg(v[t.dim]), 6) AS cd
        |  FROM e, generate_series(1, 64) AS t(dim) GROUP BY lbl, t.dim),
        |cw AS (SELECT lbl AS c_lbl, list(cd ORDER BY dim) AS cv FROM c GROUP BY lbl),
        |d AS (SELECT e.vec_id, m.m, cw.c_lbl,
        |    round(list_sum(list_transform(generate_series(1, 8),
        |      i -> (v[m.m*8 + i] - cv[m.m*8 + i]) * (v[m.m*8 + i] - cv[m.m*8 + i]))), 6) AS dd
        |  FROM e, generate_series(0, 7) AS m(m), cw),
        |code AS (SELECT vec_id, m, c_lbl FROM d
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dd, c_lbl) = 1),
        |qrow AS (SELECT v AS qv,
        |    sqrt(list_sum(list_transform(v, x -> x * x))) AS qnorm
        |  FROM e WHERE vec_id = 0),
        |lut AS (SELECT cw.c_lbl, m.m,
        |    list_sum(list_transform(generate_series(1, 8),
        |      i -> cv[m.m*8 + i] * qv[m.m*8 + i])) AS dot,
        |    list_sum(list_transform(generate_series(1, 8),
        |      i -> cv[m.m*8 + i] * cv[m.m*8 + i])) AS n2
        |  FROM cw, generate_series(0, 7) AS m(m), qrow),
        |sums AS (SELECT code.vec_id,
        |    list_sum(list(lut.dot ORDER BY code.m)) AS num,
        |    list_sum(list(lut.n2 ORDER BY code.m)) AS n2sum
        |  FROM code JOIN lut ON code.m = lut.m AND code.c_lbl = lut.c_lbl
        |  GROUP BY code.vec_id),
        |s AS (SELECT sums.vec_id,
        |    round(num / (qnorm * sqrt(n2sum)), 4) AS pq_sim,
        |    round(list_cosine_similarity(e.v, qrow.qv), 4) AS cos_sim
        |  FROM sums JOIN e USING (vec_id), qrow WHERE vec_id <> 0),
        |topk AS (SELECT vec_id, pq_sim, cos_sim FROM s
        |  ORDER BY pq_sim DESC, vec_id LIMIT 10),
        |exact AS (SELECT vec_id FROM (
        |  SELECT vec_id, round(list_cosine_similarity(v, qv), 4) AS sc
        |  FROM e, qrow WHERE vec_id <> 0 ORDER BY sc DESC, vec_id LIMIT 10))
        |SELECT t.vec_id, t.pq_sim, t.cos_sim, (x.vec_id IS NOT NULL) AS in_exact_topk
        |FROM topk t LEFT JOIN exact x ON t.vec_id = x.vec_id
        |ORDER BY t.pq_sim DESC, t.vec_id""".stripMargin),
      "product-quantization ANN: 8-byte codes + broadcast ADC LUT, recall-audited"),

    // q97 — IVF-PQ with RESIDUAL codebooks, the full production-index
    // composition: coarse assign (q38) × nprobe=2 probing (q75) × PQ
    // codes (q89) — but the codebooks train on the RESIDUALS
    // v − c_bucket, the standard refinement that spends the code budget
    // on what the coarse layer could not explain. ADC reconstruction is
    // v̂ = c_bucket + r̂, so the LUT keys on (bucket, code label,
    // subspace); both engines fold the 8 subspaces over identical
    // codebooks, and the exact-cosine + brute-force-membership audit
    // certifies the approximation in-result.
    Q("q97_ann_ivf_pq_residual",
      (s, d) => Similarity.ivfPqTopK(Tables(s, d, "embeddings"),
        col("vec_id"), col("embedding"), col("label"), queryId = 0L,
        k = 10, dim = 64, numSub = 8, nprobe = 2),
      Some("""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v, label AS lbl FROM embeddings
        |  WHERE list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) > 0),
        |c AS (SELECT lbl, t.dim, round(avg(v[t.dim]), 6) AS cd
        |  FROM e, generate_series(1, 64) AS t(dim) GROUP BY lbl, t.dim),
        |cw AS (SELECT lbl AS c_lbl, list(cd ORDER BY dim) AS cv FROM c GROUP BY lbl),
        |a AS (SELECT vec_id, v, lbl, c_lbl AS bucket,
        |    round(list_cosine_similarity(v, cv), 4) AS sim
        |  FROM e, cw
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_lbl) = 1),
        |res AS (SELECT a.vec_id, a.lbl, a.bucket,
        |    list_transform(generate_series(1, 64), i -> a.v[i] - cw.cv[i]) AS r
        |  FROM a JOIN cw ON a.bucket = cw.c_lbl),
        |rc AS (SELECT lbl, t.dim, round(avg(r[t.dim]), 6) AS cd
        |  FROM res, generate_series(1, 64) AS t(dim) GROUP BY lbl, t.dim),
        |rcw AS (SELECT lbl AS r_lbl, list(cd ORDER BY dim) AS rv FROM rc GROUP BY lbl),
        |dd AS (SELECT res.vec_id, m.m, rcw.r_lbl,
        |    round(list_sum(list_transform(generate_series(1, 8),
        |      i -> (r[m.m*8 + i] - rv[m.m*8 + i]) * (r[m.m*8 + i] - rv[m.m*8 + i]))), 6) AS dist
        |  FROM res, generate_series(0, 7) AS m(m), rcw),
        |code AS (SELECT vec_id, m, r_lbl FROM dd
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, r_lbl) = 1),
        |qrow AS (SELECT v AS qv,
        |    sqrt(list_sum(list_transform(v, x -> x * x))) AS qnorm
        |  FROM e WHERE vec_id = 0),
        |qb AS (SELECT c_lbl AS qbucket FROM cw, qrow
        |  QUALIFY row_number() OVER (
        |    ORDER BY round(list_cosine_similarity(cv, qv), 4) DESC, c_lbl) <= 2),
        |lut AS (SELECT cw.c_lbl AS bucket, rcw.r_lbl, m.m,
        |    list_sum(list_transform(generate_series(1, 8),
        |      i -> qv[m.m*8 + i] * (cw.cv[m.m*8 + i] + rcw.rv[m.m*8 + i]))) AS dt,
        |    list_sum(list_transform(generate_series(1, 8),
        |      i -> (cw.cv[m.m*8 + i] + rcw.rv[m.m*8 + i])
        |         * (cw.cv[m.m*8 + i] + rcw.rv[m.m*8 + i]))) AS n2
        |  FROM cw JOIN qb ON cw.c_lbl = qb.qbucket, rcw,
        |    generate_series(0, 7) AS m(m), qrow),
        |sums AS (SELECT code.vec_id,
        |    list_sum(list(lut.dt ORDER BY code.m)) AS num,
        |    list_sum(list(lut.n2 ORDER BY code.m)) AS n2sum
        |  FROM code
        |  JOIN a ON code.vec_id = a.vec_id
        |  JOIN lut ON lut.bucket = a.bucket AND lut.r_lbl = code.r_lbl
        |    AND lut.m = code.m
        |  GROUP BY code.vec_id),
        |sc AS (SELECT sums.vec_id,
        |    round(num / (qnorm * sqrt(n2sum)), 4) AS pq_sim,
        |    round(list_cosine_similarity(e.v, qrow.qv), 4) AS cos_sim
        |  FROM sums JOIN e USING (vec_id), qrow WHERE vec_id <> 0),
        |topk AS (SELECT vec_id, pq_sim, cos_sim FROM sc
        |  ORDER BY pq_sim DESC, vec_id LIMIT 10),
        |exact AS (SELECT vec_id FROM (
        |  SELECT vec_id, round(list_cosine_similarity(v, qv), 4) AS s
        |  FROM e, qrow WHERE vec_id <> 0 ORDER BY s DESC, vec_id LIMIT 10))
        |SELECT t.vec_id, t.pq_sim, t.cos_sim, (x.vec_id IS NOT NULL) AS in_exact_topk
        |FROM topk t LEFT JOIN exact x ON t.vec_id = x.vec_id
        |ORDER BY t.pq_sim DESC, t.vec_id""".stripMargin),
      "IVF-PQ residual composition: coarse probe x residual codebooks x ADC LUT, recall-audited"),

    // q102 — one Lloyd (k-means) iteration of the coarse quantizer: the
    // TRAIN loop the IVF/PQ builds seed from labels, run inside the
    // engine — assign (broadcast argmax fold), recompute centroids from
    // the assignment (6dp means), re-assign. Output is the iteration's
    // full per-vector effect; Σ moved is the convergence signal a
    // driver loop tests. Both engines replay identical assignment
    // tiebreaks (rounded cosine desc, min label), so the moved set is
    // deterministic.
    Q("q102_kmeans_lloyd_step",
      (s, d) => Similarity.lloydStep(Tables(s, d, "embeddings"),
        col("vec_id"), col("embedding"), col("label")),
      Some("""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v, label AS lbl FROM embeddings),
        |c0 AS (SELECT lbl, t.dim, round(avg(v[t.dim]), 6) AS cd
        |  FROM e, generate_series(1, 64) AS t(dim) GROUP BY lbl, t.dim),
        |cw0 AS (SELECT lbl AS c_lbl, list(cd ORDER BY dim) AS cv FROM c0 GROUP BY lbl),
        |a0 AS (SELECT vec_id, v, c_lbl AS bucket0,
        |    round(list_cosine_similarity(v, cv), 4) AS sim
        |  FROM e, cw0
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_lbl) = 1),
        |c1 AS (SELECT bucket0 AS lbl, t.dim, round(avg(v[t.dim]), 6) AS cd
        |  FROM a0, generate_series(1, 64) AS t(dim) GROUP BY 1, 2),
        |cw1 AS (SELECT lbl AS c_lbl, list(cd ORDER BY dim) AS cv FROM c1 GROUP BY lbl),
        |a1 AS (SELECT a0.vec_id, a0.bucket0, cw1.c_lbl AS bucket1,
        |    round(list_cosine_similarity(a0.v, cw1.cv), 4) AS sim1
        |  FROM a0, cw1
        |  QUALIFY row_number() OVER (PARTITION BY a0.vec_id
        |    ORDER BY sim1 DESC, cw1.c_lbl) = 1)
        |SELECT vec_id, bucket0, bucket1, (bucket0 <> bucket1) AS moved
        |FROM a1 ORDER BY vec_id""".stripMargin),
      "one distributed Lloyd step: assign, recompute 6dp centroids, re-assign"),

    // q126 — EMBEDDING-SPACE decontamination: the semantic complement
    // of q58's n-gram benchmark decontam — flag corpus vectors whose
    // best cosine against the benchmark set (vec_id % 100 == 0, a
    // broadcast handful) reaches 0.8. Paraphrased contamination that
    // shares no 8-gram still lands here. Zero vectors are excluded on
    // both sides (the q55 NULL contract); best match ties at 6dp break
    // to the smallest bench id via the max-struct fold — no window over
    // the corpus.
    //
    // Scale shape: bench rows broadcast; the corpus is scanned ONCE,
    // scored k_bench times per row inside codegen, and folded by one
    // map-side-combined max-struct agg — same shape as q27 at any
    // corpus size.
    Q("q126_embedding_decontam",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .filter(array_max(transform(col("v"), x => abs(x))) > 0)
        val bench = e.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("b_id"), col("v").as("bv"))
        val corpus = e.filter(col("vec_id") % 100 =!= 0)
        corpus.crossJoin(broadcast(bench))
          .select(col("vec_id"), col("b_id"),
            round(graft.functions.ArrayCosine.cosine(col("v"), col("bv")), 6)
              .as("rc"))
          .filter(col("rc").isNotNull)
          .groupBy("vec_id")
          .agg(max(struct(col("rc"), (-col("b_id")).as("nb"))).as("best"))
          .select(col("vec_id"), (-col("best.nb")).as("best_bench_id"),
            col("best.rc").as("cos_sim"),
            (col("best.rc") >= 0.8).as("contaminated"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) > 0),
        |b AS (SELECT vec_id AS b_id, v AS bv FROM e WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id, v FROM e WHERE vec_id % 100 <> 0),
        |s AS (SELECT c.vec_id, b.b_id,
        |    round(list_cosine_similarity(c.v, b.bv), 6) AS rc FROM c, b)
        |SELECT vec_id, b_id AS best_bench_id, rc AS cos_sim,
        |  rc >= 0.8 AS contaminated
        |FROM s
        |QUALIFY row_number() OVER (PARTITION BY vec_id
        |  ORDER BY rc DESC, b_id) = 1
        |ORDER BY vec_id""".stripMargin),
      "semantic decontamination: best-cosine-vs-benchmark flag via broadcast max-struct fold"),

    // q136 — hybrid retrieval ON THE SCALE PATH: q116's fusion with the
    // vector arm swapped from brute force to IVF nprobe=2 probing (the
    // q75 machinery) — the composition a production hybrid search
    // actually runs: BM25 posting-list pruning on the text side, a
    // 2-of-C bucket probe on the vector side, exact-integer RRF on top.
    // Both arms end in TakeOrdered before their 50-row rank windows.
    Q("q136_hybrid_ivf_rrf",
      (s, d) => {
        import graft.operators.{Retrieval, Similarity}
        val bm = Retrieval.bm25ScoreBp(Tables(s, d, "documents"),
          col("doc_id"), col("text"), Seq("spark", "join", "window"))
        val tr = Retrieval.topNRanks(bm, col("score_bp"), col("doc_id"),
          50, "text_rank")
        val ivf = Similarity.ivfTopK(Tables(s, d, "embeddings"),
          col("vec_id"), col("embedding"), col("label"), queryId = 0L,
          k = 50, nprobe = 2)
        val vr = Retrieval.topNRanks(ivf, col("cos_sim"), col("vec_id"),
          50, "vec_rank")
        Retrieval.rrfFuse(tr, "doc_id", "text_rank", vr, "vec_id", "vec_rank")
          .select(col("id"), col("rank_a").as("text_rank"),
            col("rank_b").as("vec_rank"), col("rrf_score"))
          .orderBy(col("rrf_score").desc, col("id"))
          .limit(20)
      },
      Some(s"""${TextQueries.bm25Ctes},
        |tr AS (SELECT doc_id AS id,
        |    CAST(row_number() OVER (ORDER BY score_bp DESC, doc_id) AS INTEGER)
        |      AS text_rank
        |  FROM c ORDER BY score_bp DESC, doc_id LIMIT 50),
        |ve AS (SELECT vec_id, embedding::DOUBLE[] AS v, label AS lbl
        |  FROM embeddings),
        |vc AS (SELECT lbl, t.dim, round(avg(v[t.dim]), 6) AS cd
        |  FROM ve, generate_series(1, 64) AS t(dim) GROUP BY lbl, t.dim),
        |vcw AS (SELECT lbl AS c_lbl, list(cd ORDER BY dim) AS cv
        |  FROM vc GROUP BY lbl),
        |va AS (SELECT vec_id, v, c_lbl,
        |    round(list_cosine_similarity(v, cv), 4) AS sim
        |  FROM ve, vcw
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY sim DESC, c_lbl) = 1),
        |vqv AS (SELECT v AS qv FROM ve WHERE vec_id = 0),
        |vqb AS (SELECT c_lbl AS qbucket FROM vcw, vqv
        |  QUALIFY row_number() OVER (
        |    ORDER BY round(list_cosine_similarity(cv, qv), 4) DESC, c_lbl) <= 2),
        |vcand AS (SELECT vec_id,
        |    round(list_cosine_similarity(v, qv), 4) AS cos_sim
        |  FROM va JOIN vqb ON va.c_lbl = vqb.qbucket, vqv WHERE vec_id <> 0),
        |vr AS (SELECT vec_id AS id,
        |    CAST(row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS INTEGER)
        |      AS vec_rank
        |  FROM vcand ORDER BY cos_sim DESC, vec_id LIMIT 50)
        |SELECT coalesce(tr.id, vr.id) AS id, text_rank, vec_rank,
        |  CAST(coalesce(1000000 // (60 + text_rank), 0)
        |    + coalesce(1000000 // (60 + vec_rank), 0) AS BIGINT) AS rrf_score
        |FROM tr FULL OUTER JOIN vr ON tr.id = vr.id
        |ORDER BY rrf_score DESC, id LIMIT 20""".stripMargin),
      "hybrid retrieval on the scale path: BM25 x IVF-probe ANN fused by integer RRF"),

    // q142 — ANN EVALUATION SUITE: recall@10 and MRR of each ANN method
    // against exact brute force, as one table — the accuracy scoreboard
    // the per-query audits (q72/q75) inline, consolidated the way an
    // index-selection decision actually reads it. All metrics exact
    // integers: recall_bp = hits x 1000 (of 10), mrr_milli = 1e6 div
    // rank of the exact-top-1 in the method's list (0 = missed). The
    // brute-force row is the control (recall 10000, MRR 1e6/1).
    Q("q142_ann_eval",
      (s, d) => {
        import graft.functions.IntMath
        import graft.operators.Retrieval
        val e = Tables(s, d, "embeddings")
        def ranked(df: org.apache.spark.sql.DataFrame) =
          Retrieval.topNRanks(df, col("cos_sim"), col("vec_id"), 10, "rnk")
            .select(col("vec_id"), col("rnk"))
        val exact = ranked(Similarity.bruteForceTopK(e, col("vec_id"),
          col("embedding"), queryId = 0L, k = 10))
        val exSet = exact.select(col("vec_id"), lit(1).as("inex"))
        val top1 = exact.filter(col("rnk") === 1)
          .select(col("vec_id").as("t1"))
        def eval(name: String, df: org.apache.spark.sql.DataFrame) =
          ranked(df)
            .join(broadcast(exSet), Seq("vec_id"), "left")
            .crossJoin(broadcast(top1))
            .agg(lit(name).as("method"),
              sum(when(col("inex").isNotNull, 1L).otherwise(0L)).as("n_hit"),
              min(when(col("vec_id") === col("t1"), col("rnk"))).as("fr"))
            .select(col("method"), col("n_hit"),
              (col("n_hit") * 1000L).as("recall_bp"),
              coalesce(col("fr"), lit(0)).cast("int").as("first_hit_rank"),
              coalesce(IntMath.intDiv(lit(1000000L), col("fr").cast("long")),
                lit(0L)).as("mrr_milli"))
        eval("1_brute", Similarity.bruteForceTopK(e, col("vec_id"),
            col("embedding"), queryId = 0L, k = 10))
          .unionAll(eval("2_sign_lsh", Similarity.signLshTopK(e,
            col("vec_id"), col("embedding"), queryId = 0L, k = 10,
            bits = lshBits)))
          .unionAll(eval("3_ivf", Similarity.ivfTopK(e, col("vec_id"),
            col("embedding"), col("label"), queryId = 0L, k = 10,
            nprobe = 1)))
          .orderBy("method")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label AS lbl
        |  FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |allsim AS (SELECT vec_id, round(list_cosine_similarity(v, qv), 4) AS cs
        |  FROM e, q WHERE vec_id <> 0),
        |exact AS (SELECT vec_id, rnk FROM (SELECT vec_id,
        |    row_number() OVER (ORDER BY cs DESC, vec_id) AS rnk FROM allsim)
        |  WHERE rnk <= 10),
        |top1 AS (SELECT vec_id AS t1 FROM exact WHERE rnk = 1),
        |b AS (SELECT vec_id, v, $bucketSql AS bucket FROM e),
        |qb AS (SELECT bucket AS qbucket FROM b WHERE vec_id = 0),
        |lshr AS (SELECT vec_id, rnk FROM (SELECT s.vec_id,
        |    row_number() OVER (ORDER BY s.cs DESC, s.vec_id) AS rnk
        |  FROM b a JOIN allsim s ON a.vec_id = s.vec_id, qb
        |  WHERE a.bucket = qb.qbucket) WHERE rnk <= 10),
        |vc AS (SELECT lbl, t.dim, round(avg(v[t.dim]), 6) AS cd
        |  FROM e, generate_series(1, 64) AS t(dim) GROUP BY lbl, t.dim),
        |vcw AS (SELECT lbl AS c_lbl, list(cd ORDER BY dim) AS cv
        |  FROM vc GROUP BY lbl),
        |va AS (SELECT vec_id, c_lbl,
        |    round(list_cosine_similarity(v, cv), 4) AS sim
        |  FROM e, vcw
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY sim DESC, c_lbl) = 1),
        |ivfqb AS (SELECT c_lbl AS qbucket FROM va WHERE vec_id = 0),
        |ivfr AS (SELECT vec_id, rnk FROM (SELECT s.vec_id,
        |    row_number() OVER (ORDER BY s.cs DESC, s.vec_id) AS rnk
        |  FROM va a JOIN allsim s ON a.vec_id = s.vec_id, ivfqb
        |  WHERE a.c_lbl = ivfqb.qbucket) WHERE rnk <= 10),
        |m AS (SELECT '1_brute' AS method, vec_id, rnk FROM exact
        |  UNION ALL SELECT '2_sign_lsh', vec_id, rnk FROM lshr
        |  UNION ALL SELECT '3_ivf', vec_id, rnk FROM ivfr)
        |SELECT m.method,
        |  CAST(sum(CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  CAST(sum(CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1000
        |    AS BIGINT) AS recall_bp,
        |  CAST(coalesce(min(CASE WHEN m.vec_id = top1.t1 THEN m.rnk END), 0)
        |    AS INTEGER) AS first_hit_rank,
        |  CAST(CASE WHEN min(CASE WHEN m.vec_id = top1.t1 THEN m.rnk END)
        |      IS NOT NULL
        |    THEN 1000000 // min(CASE WHEN m.vec_id = top1.t1 THEN m.rnk END)
        |    ELSE 0 END AS BIGINT) AS mrr_milli
        |FROM m LEFT JOIN exact ex ON m.vec_id = ex.vec_id, top1
        |GROUP BY m.method ORDER BY m.method""".stripMargin),
      "ANN eval scoreboard: recall@10 + integer MRR per method vs brute force"),

    // q155 — ANN SCAN-COST table: the other axis of q142's accuracy
    // scoreboard — how many candidate vectors each method actually
    // scores (brute = the corpus; sign-LSH = the query's bucket; IVF =
    // the assigned centroid bucket), as exact counts and basis-point
    // fractions of the corpus. Recall (q142) over scan fraction (here)
    // IS the index-selection tradeoff. Bucket sizes are one tiny agg
    // each off the same scans the methods themselves run.
    Q("q155_ann_scan_cost",
      (s, d) => {
        import graft.functions.IntMath
        val e = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val tot = e.filter(col("vec_id") =!= 0L)
          .agg(count(lit(1)).as("n_corpus"))
        val bucketed = e.withColumn("bucket",
          graft.functions.VectorFunctions.signBucket(col("v"), lshBits))
        val qb = bucketed.filter(col("vec_id") === 0L)
          .select(col("bucket").as("qbucket"))
        val lshN = bucketed.filter(col("vec_id") =!= 0L)
          .crossJoin(broadcast(qb))
          .filter(col("bucket") === col("qbucket"))
          .agg(count(lit(1)).as("n_scanned"))
        val cents = Similarity.centroidsWide(
          Tables(s, d, "embeddings").select(col("vec_id"),
            col("embedding").cast("array<double>").as("v"),
            col("label").as("lbl")))
        val assigned = Similarity.assignToNearest(
          e.select(col("vec_id"), col("v")), cents)
        val ivfQb = assigned.filter(col("vec_id") === 0L)
          .select(col("bucket").as("qbucket"))
        val ivfN = assigned.filter(col("vec_id") =!= 0L)
          .crossJoin(broadcast(ivfQb))
          .filter(col("bucket") === col("qbucket"))
          .agg(count(lit(1)).as("n_scanned"))
        def row(name: String, scanned: org.apache.spark.sql.DataFrame) =
          scanned.crossJoin(broadcast(tot))
            .select(lit(name).as("method"), col("n_scanned"),
              col("n_corpus"),
              IntMath.bp(col("n_scanned"), col("n_corpus")).as("scan_bp"))
        row("1_brute", tot.select(col("n_corpus").as("n_scanned")))
          .unionAll(row("2_sign_lsh", lshN))
          .unionAll(row("3_ivf", ivfN))
          .orderBy("method")
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label AS lbl
        |  FROM embeddings),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM e
        |  WHERE vec_id <> 0),
        |b AS (SELECT vec_id, $bucketSql AS bucket FROM e),
        |qb AS (SELECT bucket AS qbucket FROM b WHERE vec_id = 0),
        |lshn AS (SELECT CAST(count(*) AS BIGINT) AS n_scanned FROM b, qb
        |  WHERE vec_id <> 0 AND bucket = qbucket),
        |vc AS (SELECT lbl, t.dim, round(avg(v[t.dim]), 6) AS cd
        |  FROM e, generate_series(1, 64) AS t(dim) GROUP BY lbl, t.dim),
        |vcw AS (SELECT lbl AS c_lbl, list(cd ORDER BY dim) AS cv
        |  FROM vc GROUP BY lbl),
        |va AS (SELECT vec_id, c_lbl,
        |    round(list_cosine_similarity(v, cv), 4) AS sim
        |  FROM e, vcw
        |  QUALIFY row_number() OVER (PARTITION BY vec_id
        |    ORDER BY sim DESC, c_lbl) = 1),
        |ivfqb AS (SELECT c_lbl AS qbucket FROM va WHERE vec_id = 0),
        |ivfn AS (SELECT CAST(count(*) AS BIGINT) AS n_scanned FROM va, ivfqb
        |  WHERE vec_id <> 0 AND c_lbl = qbucket),
        |m AS (SELECT '1_brute' AS method, n_corpus AS n_scanned FROM tot
        |  UNION ALL SELECT '2_sign_lsh', n_scanned FROM lshn
        |  UNION ALL SELECT '3_ivf', n_scanned FROM ivfn)
        |SELECT method, n_scanned, tot.n_corpus,
        |  (2 * n_scanned * 10000 + n_corpus) // (2 * n_corpus) AS scan_bp
        |FROM m, tot ORDER BY method""".stripMargin),
      "ANN scan-cost table: candidates scored per method, exact bp of corpus"),

    // q175 — IVF ANN from a PERSISTED bucket-PARTITIONED index: the
    // build writes the assigned corpus partitioned by coarse bucket
    // (the serving layout), the probe READS BACK through a bucket
    // filter Spark resolves as a PartitionFilter — non-probed buckets
    // are pruned at the FILE level, no IO. Result must equal the
    // in-memory IVF probe (same quantizer/assignment/tiebreaks as
    // q38/q75), which is exactly what the oracle replays — storage
    // layout is an execution detail the answer cannot see.
    Q("q175_ann_ivf_partitioned",
      (s, d) => Similarity.ivfTopKPartitioned(Tables(s, d, "embeddings"),
        col("vec_id"), col("embedding"), col("label"), queryId = 7L,
        k = 10, nprobe = 2, buildSamplePerMille = 1000,
        buildSampleSeed = 0,
        indexDir = graft.util.TmpDirs.perProcess("graft_q175_ivf")),
      Some("""WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v, label AS lbl FROM embeddings),
        |c AS (SELECT lbl, t.dim, round(avg(v[t.dim]), 6) AS cd
        |  FROM e, generate_series(1, 64) AS t(dim) GROUP BY lbl, t.dim),
        |cw AS (SELECT lbl AS c_lbl, list(cd ORDER BY dim) AS cv FROM c GROUP BY lbl),
        |a AS (SELECT vec_id, v, c_lbl,
        |    round(list_cosine_similarity(v, cv), 4) AS sim
        |  FROM e, cw
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, c_lbl) = 1),
        |qv AS (SELECT v AS qv FROM e WHERE vec_id = 7),
        |qb AS (SELECT c_lbl AS qbucket FROM cw, qv
        |  QUALIFY row_number() OVER (
        |    ORDER BY round(list_cosine_similarity(cv, qv), 4) DESC, c_lbl) <= 2)
        |SELECT vec_id, round(list_cosine_similarity(v, qv), 4) AS cos_sim
        |FROM a JOIN qb ON a.c_lbl = qb.qbucket, qv WHERE vec_id <> 7
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
      "IVF ANN over a persisted bucket-partitioned index (file-level partition pruning)"),

    // q191 — MUTUAL NEAREST NEIGHBORS with margin scoring, the
    // bitext/parallel-pair mining shape (Artetxe & Schwenk, ACL'19): a
    // pair qualifies when each vector is the other's top-1, and the
    // margin divides the pair cosine by the mean of the two 4-NN
    // neighborhood cosines — "close, AND closer than everything around
    // you", which kills hub vectors near everything. Margin runs on the
    // integerized 4-dp cosines so the quotient replays exactly (the
    // non-negative-division rule). One scored pass feeds ranks, sums,
    // and mutuality; at 100 TB the same downstream consumes ANN lists
    // (q38/q67) instead of the exact pass.
    Q("q191_mutual_nn_margin",
      (s, d) => graft.operators.Similarity.mutualNnMargin(
          Tables(s, d, "embeddings"), col("vec_id"), col("embedding"),
          k = 4)
        .orderBy("vec_a", "vec_b"),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |s AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
        |    round(list_cosine_similarity(b.v, a.v), 4) AS cos_sim
        |  FROM e a JOIN e b ON b.vec_id <> a.vec_id),
        |r AS (SELECT query_id, vec_id, cos_sim,
        |    CAST(round(cos_sim * 10000) AS BIGINT) AS cu,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM s),
        |tk AS (SELECT * FROM r WHERE rn <= 4),
        |sm AS (SELECT query_id, CAST(sum(cu) AS BIGINT) AS sv
        |  FROM tk GROUP BY 1),
        |t1 AS (SELECT query_id AS src, vec_id AS dst, cos_sim, cu
        |  FROM tk WHERE rn = 1),
        |mu AS (SELECT x.src, x.dst, x.cos_sim, x.cu FROM t1 x
        |  JOIN t1 y ON y.src = x.dst AND y.dst = x.src
        |  WHERE x.src < x.dst)
        |SELECT mu.src AS vec_a, mu.dst AS vec_b, mu.cos_sim,
        |  CAST((2 * 4 * mu.cu * 10000) // (sx.sv + sy.sv) AS BIGINT)
        |    AS margin_bp
        |FROM mu JOIN sm sx ON sx.query_id = mu.src
        |        JOIN sm sy ON sy.query_id = mu.dst
        |WHERE mu.cu > 0 AND sx.sv + sy.sv > 0
        |ORDER BY vec_a, vec_b""".stripMargin),
      "mutual top-1 pairs + integer margin over 4-NN neighborhood sums (pair-mining shape)"),

    // q194 — contrastive HARD-NEGATIVE triplets: every anchor with a
    // mutual-top-1 positive gets its hardest negative (rank-2 neighbor
    // — the best-scoring non-positive by construction) and the
    // integer contrastive gap cu(pos) − cu(neg). Both pair members
    // anchor a triplet (symmetric expansion). Same single scored pass
    // as q191; the triplet assembly is id-keyed joins.
    Q("q194_hard_negatives",
      (s, d) => graft.operators.Similarity.hardNegatives(
          Tables(s, d, "embeddings"), col("vec_id"), col("embedding"))
        .orderBy("anchor_id"),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |s AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
        |    round(list_cosine_similarity(b.v, a.v), 4) AS cos_sim
        |  FROM e a JOIN e b ON b.vec_id <> a.vec_id),
        |r AS (SELECT query_id, vec_id, cos_sim,
        |    CAST(round(cos_sim * 10000) AS BIGINT) AS cu,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM s),
        |t1 AS (SELECT query_id AS anchor_id, vec_id AS positive_id,
        |    cos_sim AS cos_pos, cu AS cu_pos FROM r WHERE rn = 1),
        |mu AS (SELECT x.* FROM t1 x JOIN t1 y
        |  ON y.anchor_id = x.positive_id AND y.positive_id = x.anchor_id),
        |t2 AS (SELECT query_id AS anchor_id, vec_id AS negative_id,
        |    cos_sim AS cos_neg, cu AS cu_neg FROM r WHERE rn = 2)
        |SELECT mu.anchor_id, mu.positive_id, t2.negative_id, mu.cos_pos,
        |  t2.cos_neg, CAST(mu.cu_pos - t2.cu_neg AS BIGINT) AS gap_bp
        |FROM mu JOIN t2 USING (anchor_id)
        |ORDER BY anchor_id""".stripMargin),
      "mutual-positive + rank-2 hard negative triplets with integer contrastive gap"),

    // q203 — EMBEDDING-SPACE drift between deterministic corpus halves
    // (id parity): per-dim 6-dp centroid means with exact micro-unit
    // shifts, plus the squared cosine between the mean vectors in
    // signed bp — the dense-space sibling of q131's count-TVD drift.
    // After 6-dp rounding the means are exact integers in micro-units,
    // so the cosine runs the q182 sqrt-free integral program — no
    // float-sum ordering near the contract.
    Q("q203_embedding_drift",
      (s, d) => graft.operators.Similarity.halfCentroidDrift(
          Tables(s, d, "embeddings"), col("vec_id"), col("embedding"))
        .orderBy("dim"),
      Some("""WITH e AS (SELECT vec_id % 2 AS half,
        |    embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT half, t.dim, round(avg(v[t.dim]), 6) AS mu
        |  FROM e, generate_series(1, 64) AS t(dim) GROUP BY 1, 2),
        |mm AS (SELECT half, dim, mu,
        |    CAST(round(mu * 1000000) AS BIGINT) AS mu_u FROM m),
        |j AS (SELECT a.dim, a.mu AS mean_a, b.mu AS mean_b,
        |    a.mu_u AS ua, b.mu_u AS ub
        |  FROM mm a JOIN mm b ON a.dim = b.dim
        |    AND a.half = 0 AND b.half = 1),
        |s AS (SELECT sum(CAST(ua AS HUGEINT) * ub) AS dot,
        |    sum(CAST(ua AS HUGEINT) * ua) AS na,
        |    sum(CAST(ub AS HUGEINT) * ub) AS nb FROM j),
        |c AS (SELECT CASE WHEN na = 0 OR nb = 0 THEN NULL ELSE
        |    CAST((CASE WHEN dot < 0 THEN -1 ELSE 1 END) *
        |      (((dot * dot * 10000) // ((na * nb) // 10000)) // 10000)
        |      AS BIGINT) END AS cos2_bp FROM s)
        |SELECT CAST(j.dim AS INTEGER) AS dim, j.mean_a, j.mean_b,
        |  CAST(abs(j.ua - j.ub) AS BIGINT) AS shift_u, c.cos2_bp
        |FROM j, c ORDER BY dim""".stripMargin),
      "per-dim centroid drift between id-parity halves + sqrt-free mean-vector cosine"),

    // q220 — NDCG@10 with LABEL-GRADED relevance: the graded-gain
    // retrieval eval next to q142's binary recall/MRR. Gain 2 = exact
    // label match, 1 = adjacent label, 0 otherwise; linear-weight DCG
    // scaled by 27720 = lcm(2..11) so every per-rank discount is an
    // exact integer (log2 can't cross engines; this can). Queries =
    // vec_id < 4 broadcast; corpus = the vec_id%3 slice scanned once
    // through the codegen'd cosine; top-10 via the TopKPerKey node.
    Q("q220_ndcg_graded",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        Similarity.ndcgLabelGraded(
          e.filter(col("vec_id") % 3 === 0 && col("vec_id") >= 4),
          col("vec_id"), col("embedding"), col("label"),
          e.filter(col("vec_id") < 4),
          col("vec_id"), col("embedding"), col("label"), k = 10)
      },
      Some("""WITH q AS (SELECT vec_id qid, embedding::DOUBLE[] qv,
        |    CAST(label AS BIGINT) ql FROM embeddings WHERE vec_id < 4),
        |c AS (SELECT vec_id, embedding::DOUBLE[] v,
        |    CAST(label AS BIGINT) lbl FROM embeddings
        |  WHERE vec_id % 3 = 0 AND vec_id >= 4),
        |s AS (SELECT q.qid, q.ql, c.vec_id, c.lbl,
        |    round(list_cosine_similarity(q.qv, c.v), 4) cs FROM q, c),
        |rk AS (SELECT qid, ql, vec_id, lbl, row_number()
        |    OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) rnk
        |  FROM s QUALIFY rnk <= 10),
        |gr AS (SELECT qid, rnk, CASE WHEN lbl = ql THEN 2
        |    WHEN abs(lbl - ql) = 1 THEN 1 ELSE 0 END g FROM rk),
        |dcg AS (SELECT qid, CAST(sum(g * (27720 // (rnk + 1))) AS BIGINT)
        |    dcg FROM gr GROUP BY 1),
        |ig AS (SELECT qid, g, row_number()
        |    OVER (PARTITION BY qid ORDER BY g DESC, rnk) irnk FROM gr),
        |idcg AS (SELECT qid, CAST(sum(g * (27720 // (irnk + 1))) AS BIGINT)
        |    idcg FROM ig GROUP BY 1)
        |SELECT d.qid, d.dcg, i.idcg,
        |  CAST(CASE WHEN i.idcg = 0 THEN 0
        |    ELSE 10000 * d.dcg // i.idcg END AS BIGINT) AS ndcg_bp
        |FROM dcg d JOIN idcg i USING (qid) ORDER BY d.qid""".stripMargin),
      "NDCG@10 with label-graded gains — exact-integer linear-discount DCG"),

    // q224 — MATRYOSHKA truncation audit: recall@10 of the cosine
    // ranking under 16- and 32-dim PREFIX truncations vs the full-dim
    // ranking — the eval that decides how far an MRL embedding can be
    // cut for the cheap first-stage scan. Queries broadcast, one corpus
    // scan per ranking with the truncation inside the codegen'd cosine
    // (slice), rankings collapse via TopKPerKey before the overlap
    // joins.
    Q("q224_matryoshka_recall",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        Similarity.matryoshkaRecall(
          e.filter(col("vec_id") >= 4), col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 4), col("vec_id"), col("embedding"),
          dimsList = Seq(16, 32), k = 10)
      },
      Some("""WITH q AS (SELECT vec_id qid, embedding::DOUBLE[] qv
        |  FROM embeddings WHERE vec_id < 4),
        |c AS (SELECT vec_id, embedding::DOUBLE[] v
        |  FROM embeddings WHERE vec_id >= 4),
        |fulltop AS (SELECT qid, vec_id, row_number() OVER (
        |    PARTITION BY qid
        |    ORDER BY round(list_cosine_similarity(qv, v), 4) DESC, vec_id)
        |    rn FROM q, c QUALIFY rn <= 10),
        |t16 AS (SELECT qid, vec_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY
        |      round(list_cosine_similarity(qv[1:16], v[1:16]), 4) DESC,
        |      vec_id) rn FROM q, c QUALIFY rn <= 10),
        |t32 AS (SELECT qid, vec_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY
        |      round(list_cosine_similarity(qv[1:32], v[1:32]), 4) DESC,
        |      vec_id) rn FROM q, c QUALIFY rn <= 10)
        |SELECT qid, dims, CAST((10000 * n) // 10 AS BIGINT) AS recall_bp
        |FROM (
        |  SELECT f.qid, CAST(16 AS BIGINT) dims, count(*) n
        |  FROM fulltop f JOIN t16 s USING (qid, vec_id) GROUP BY 1
        |  UNION ALL SELECT f.qid, 32, count(*)
        |  FROM fulltop f JOIN t32 s USING (qid, vec_id) GROUP BY 1)
        |ORDER BY qid, dims""".stripMargin),
      "Matryoshka truncation recall@10 at 16/32 dims vs the full ranking"),

    // q233 — LATE-INTERACTION MaxSim (the ColBERT scoring shape):
    // query/document as bags of 4×16-dim sub-vectors, score =
    // Σᵢ maxⱼ cos_bp(qᵢ, dⱼ) — each query part finds its best document
    // part. Per-chunk cosines become round-half-away integer bp BEFORE
    // the max/sum tree, so the aggregation is exact integer arithmetic
    // in both engines (summing rounded doubles would be
    // order-sensitive). Query chunks broadcast; corpus explodes once.
    Q("q233_colbert_maxsim",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        Similarity.maxSimTopK(
          e.filter(col("vec_id") % 5 === 0 && col("vec_id") >= 2),
          col("vec_id"), col("embedding"),
          e.filter(col("vec_id") < 2),
          col("vec_id"), col("embedding"),
          chunks = 4, subDim = 16, k = 10)
      },
      Some("""WITH q AS (SELECT vec_id qid, embedding::DOUBLE[] v
        |  FROM embeddings WHERE vec_id < 2),
        |c AS (SELECT vec_id, embedding::DOUBLE[] v
        |  FROM embeddings WHERE vec_id % 5 = 0 AND vec_id >= 2),
        |qc AS (SELECT qid, i, v[(i*16+1):((i+1)*16)] AS qv
        |  FROM q, (SELECT unnest(generate_series(0, 3)) AS i)),
        |cc AS (SELECT vec_id, j, v[(j*16+1):((j+1)*16)] AS cv
        |  FROM c, (SELECT unnest(generate_series(0, 3)) AS j)),
        |s AS (SELECT qc.qid, cc.vec_id, qc.i,
        |    max(CAST(round(list_cosine_similarity(qc.qv, cc.cv) * 10000)
        |      AS BIGINT)) AS best_bp
        |  FROM qc, cc GROUP BY 1, 2, 3),
        |sc AS (SELECT qid, vec_id, CAST(sum(best_bp) AS BIGINT)
        |    AS maxsim_bp
        |  FROM s GROUP BY 1, 2),
        |rk AS (SELECT qid, vec_id, maxsim_bp, row_number()
        |    OVER (PARTITION BY qid ORDER BY maxsim_bp DESC, vec_id) rn
        |  FROM sc QUALIFY rn <= 10)
        |SELECT qid, vec_id, maxsim_bp FROM rk
        |ORDER BY qid, vec_id""".stripMargin),
      "ColBERT-style MaxSim over 4x16-dim sub-vector bags — exact integer max/sum tree"),

    // q240 — MMR DIVERSIFIED re-ranking: 3 greedy picks from the
    // cosine top-20 at λ=0.70, score = 70·rel_bp − 30·max-sim-to-picked
    // in exact integer hundredth-weights, ties to smallest id — the
    // serving-side fix for "the top 10 are ten near-copies". Candidate
    // set and its pairwise-cosine table are top-k artifacts (20 / 400
    // rows); each greedy round is one small agg + a 1-row driver
    // argmax (q193's bounded-driver bargain). Oracle unrolls all
    // three rounds.
    Q("q240_mmr_diversify",
      (s, d) => Similarity.mmrDiversify(
        Tables(s, d, "embeddings").filter(col("vec_id") % 4 === 0),
        col("vec_id"), col("embedding"),
        queryId = 0L, candK = 20, pickK = 3, lamPct = 70),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v
        |  FROM embeddings WHERE vec_id % 4 = 0),
        |q AS (SELECT v qv FROM e WHERE vec_id = 0),
        |cand AS (SELECT vec_id, v,
        |    CAST(round(list_cosine_similarity(v, qv) * 10000) AS BIGINT)
        |      rel_bp
        |  FROM e, q WHERE vec_id <> 0
        |  ORDER BY rel_bp DESC, vec_id LIMIT 20),
        |ps AS (SELECT a.vec_id ia, b.vec_id ib,
        |    CAST(round(list_cosine_similarity(a.v, b.v) * 10000) AS BIGINT)
        |      sim_bp
        |  FROM cand a, cand b),
        |p1 AS (SELECT vec_id, rel_bp, CAST(rel_bp * 70 AS BIGINT) mmr
        |  FROM cand ORDER BY mmr DESC, vec_id LIMIT 1),
        |s2 AS (SELECT c.vec_id, c.rel_bp,
        |    CAST(c.rel_bp * 70 - 30 * max(ps.sim_bp) AS BIGINT) mmr
        |  FROM cand c JOIN ps ON ps.ia = c.vec_id
        |    AND ps.ib IN (SELECT vec_id FROM p1)
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM p1)
        |  GROUP BY 1, 2),
        |p2 AS (SELECT vec_id, rel_bp, mmr FROM s2
        |  ORDER BY mmr DESC, vec_id LIMIT 1),
        |s3 AS (SELECT c.vec_id, c.rel_bp,
        |    CAST(c.rel_bp * 70 - 30 * max(ps.sim_bp) AS BIGINT) mmr
        |  FROM cand c JOIN ps ON ps.ia = c.vec_id
        |    AND (ps.ib IN (SELECT vec_id FROM p1)
        |      OR ps.ib IN (SELECT vec_id FROM p2))
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM p1)
        |    AND c.vec_id NOT IN (SELECT vec_id FROM p2)
        |  GROUP BY 1, 2),
        |p3 AS (SELECT vec_id, rel_bp, mmr FROM s3
        |  ORDER BY mmr DESC, vec_id LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS pick, vec_id, rel_bp,
        |  mmr AS mmr_score FROM p1
        |UNION ALL SELECT 2, vec_id, rel_bp, mmr FROM p2
        |UNION ALL SELECT 3, vec_id, rel_bp, mmr FROM p3
        |ORDER BY pick""".stripMargin),
      "MMR diversified top-3 from the cosine top-20 — exact integer greedy re-ranking"),

    // q247 — the documented 100 TB swap for q191, now code: mutual-NN
    // margin mining over IVF neighbor lists (nprobe=2 of the 10 label
    // buckets) instead of the exact all-pairs scored pass. The corpus
    // is never broadcast: candidates carry their assigned bucket and
    // the scored space is a bucket-keyed equi-join scanning ~nprobe/C
    // of the pair space. The in_exact audit flag is SAMPLED (round-9
    // verdict: the embedded full-corpus exact pass was the suite's
    // worst sf1 exponent — the scale-killer of the very query built to
    // avoid one): ground truth is the exact pass over the 1000
    // smallest-hash anchors (m×n, linear in the corpus), so in_exact
    // is true/false when BOTH endpoints are sampled and NULL (un-
    // audited) otherwise — approximation AND audit scope both visible
    // in the result, not asserted away.
    Q("q247_mutual_nn_ivf",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        val sim = graft.operators.Similarity
        val sm = sim.mutualTop1PairsSampled(
            e, col("vec_id"), col("embedding"), m = 1000, seed = 0)
          .withColumn("ex", lit(1))
        val anchors = sim.anchorSampleIds(e, col("vec_id"), m = 1000,
          seed = 0)
        sim.mutualNnMarginIvf(
            e, col("vec_id"), col("embedding"), col("label"),
            k = 4, nprobe = 2)
          .join(sm, Seq("vec_a", "vec_b"), "left")
          .join(broadcast(anchors.select(col("vec_id").as("vec_a"),
            lit(1).as("sa"))), Seq("vec_a"), "left")
          .join(broadcast(anchors.select(col("vec_id").as("vec_b"),
            lit(1).as("sb"))), Seq("vec_b"), "left")
          .select(col("vec_a"), col("vec_b"), col("cos_sim"),
            col("margin_bp"),
            when(col("sa").isNotNull && col("sb").isNotNull,
              col("ex").isNotNull).as("in_exact"))
          .orderBy("vec_a", "vec_b")
      },
      Some("""WITH e AS MATERIALIZED (SELECT vec_id,
        |    embedding::DOUBLE[] AS v, label AS lbl FROM embeddings),
        |cw AS MATERIALIZED (
        |  SELECT lbl AS c_lbl, list(cd ORDER BY dim) AS cv FROM (
        |    SELECT lbl, t.dim, round(avg(v[t.dim]), 6) AS cd
        |    FROM e, generate_series(1, 64) AS t(dim) GROUP BY lbl, t.dim)
        |  GROUP BY lbl),
        |pc AS MATERIALIZED (
        |  SELECT e.vec_id, cw.c_lbl, row_number() OVER (
        |    PARTITION BY e.vec_id
        |    ORDER BY round(list_cosine_similarity(e.v, cw.cv), 4) DESC,
        |      cw.c_lbl) AS prn
        |  FROM e, cw),
        |a AS MATERIALIZED (SELECT e.vec_id, e.v, pc.c_lbl AS bucket
        |  FROM e JOIN pc ON pc.vec_id = e.vec_id AND pc.prn = 1),
        |p AS MATERIALIZED (SELECT e.vec_id AS query_id, e.v AS qv,
        |    pc.c_lbl AS pb
        |  FROM e JOIN pc ON pc.vec_id = e.vec_id AND pc.prn <= 2),
        |r AS MATERIALIZED (SELECT query_id, vec_id, cos_sim,
        |    CAST(round(cos_sim * 10000) AS BIGINT) AS cu,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM (SELECT p.query_id, a.vec_id,
        |      round(list_cosine_similarity(a.v, p.qv), 4) AS cos_sim
        |    FROM p JOIN a ON a.bucket = p.pb AND a.vec_id <> p.query_id)),
        |tk AS MATERIALIZED (SELECT * FROM r WHERE rn <= 4),
        |sm AS (SELECT query_id, CAST(sum(cu) AS BIGINT) AS sv
        |  FROM tk GROUP BY 1),
        |t1 AS (SELECT query_id AS src, vec_id AS dst, cos_sim, cu
        |  FROM tk WHERE rn = 1),
        |mu AS (SELECT x.src, x.dst, x.cos_sim, x.cu FROM t1 x
        |  JOIN t1 y ON y.src = x.dst AND y.dst = x.src
        |  WHERE x.src < x.dst),
        |anc AS MATERIALIZED (SELECT vec_id FROM e
        |  ORDER BY ('0x' || substring(md5('0#' ||
        |    CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id
        |  LIMIT 1000),
        |xr AS MATERIALIZED (SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM (SELECT a2.vec_id AS query_id, b2.vec_id AS vec_id,
        |      round(list_cosine_similarity(b2.v, a2.v), 4) AS cos_sim
        |    FROM e a2 JOIN anc a0 ON a0.vec_id = a2.vec_id
        |    JOIN e b2 ON b2.vec_id <> a2.vec_id)),
        |xt1 AS (SELECT query_id AS src, vec_id AS dst FROM xr
        |  WHERE rn = 1),
        |xmu AS MATERIALIZED (SELECT x.src, x.dst FROM xt1 x
        |  JOIN xt1 y ON y.src = x.dst AND y.dst = x.src
        |  WHERE x.src < x.dst)
        |SELECT mu.src AS vec_a, mu.dst AS vec_b, mu.cos_sim,
        |  CAST((2 * 4 * mu.cu * 10000) // (sx.sv + sy.sv) AS BIGINT)
        |    AS margin_bp,
        |  CASE WHEN s1.vec_id IS NOT NULL AND s2.vec_id IS NOT NULL
        |       THEN xmu.src IS NOT NULL END AS in_exact
        |FROM mu JOIN sm sx ON sx.query_id = mu.src
        |        JOIN sm sy ON sy.query_id = mu.dst
        |LEFT JOIN xmu ON xmu.src = mu.src AND xmu.dst = mu.dst
        |LEFT JOIN anc s1 ON s1.vec_id = mu.src
        |LEFT JOIN anc s2 ON s2.vec_id = mu.dst
        |WHERE mu.cu > 0 AND sx.sv + sy.sv > 0
        |ORDER BY vec_a, vec_b""".stripMargin),
      "mutual-NN margin mining over IVF lists (bucket-keyed scored join) with hash-sampled exact-mutual audit flag"),

    // q248 — hard-negative triplets over the SAME IVF lists (nprobe=2):
    // the q194 contract in the 100 TB regime — anchor/positive from
    // IVF mutual top-1, negative = IVF rank-2, integer contrastive gap.
    Q("q248_hard_negatives_ivf",
      (s, d) => graft.operators.Similarity.hardNegativesIvf(
          Tables(s, d, "embeddings"), col("vec_id"), col("embedding"),
          col("label"), nprobe = 2)
        .orderBy("anchor_id"),
      Some("""WITH e AS MATERIALIZED (SELECT vec_id,
        |    embedding::DOUBLE[] AS v, label AS lbl FROM embeddings),
        |cw AS MATERIALIZED (
        |  SELECT lbl AS c_lbl, list(cd ORDER BY dim) AS cv FROM (
        |    SELECT lbl, t.dim, round(avg(v[t.dim]), 6) AS cd
        |    FROM e, generate_series(1, 64) AS t(dim) GROUP BY lbl, t.dim)
        |  GROUP BY lbl),
        |pc AS MATERIALIZED (
        |  SELECT e.vec_id, cw.c_lbl, row_number() OVER (
        |    PARTITION BY e.vec_id
        |    ORDER BY round(list_cosine_similarity(e.v, cw.cv), 4) DESC,
        |      cw.c_lbl) AS prn
        |  FROM e, cw),
        |a AS MATERIALIZED (SELECT e.vec_id, e.v, pc.c_lbl AS bucket
        |  FROM e JOIN pc ON pc.vec_id = e.vec_id AND pc.prn = 1),
        |p AS MATERIALIZED (SELECT e.vec_id AS query_id, e.v AS qv,
        |    pc.c_lbl AS pb
        |  FROM e JOIN pc ON pc.vec_id = e.vec_id AND pc.prn <= 2),
        |r AS MATERIALIZED (SELECT query_id, vec_id, cos_sim,
        |    CAST(round(cos_sim * 10000) AS BIGINT) AS cu,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM (SELECT p.query_id, a.vec_id,
        |      round(list_cosine_similarity(a.v, p.qv), 4) AS cos_sim
        |    FROM p JOIN a ON a.bucket = p.pb AND a.vec_id <> p.query_id)),
        |t1 AS (SELECT query_id AS anchor_id, vec_id AS positive_id,
        |    cos_sim AS cos_pos, cu AS cu_pos FROM r WHERE rn = 1),
        |mu AS (SELECT x.* FROM t1 x JOIN t1 y
        |  ON y.anchor_id = x.positive_id
        |  AND y.positive_id = x.anchor_id),
        |t2 AS (SELECT query_id AS anchor_id, vec_id AS negative_id,
        |    cos_sim AS cos_neg, cu AS cu_neg FROM r WHERE rn = 2)
        |SELECT mu.anchor_id, mu.positive_id, t2.negative_id, mu.cos_pos,
        |  t2.cos_neg, CAST(mu.cu_pos - t2.cu_neg AS BIGINT) AS gap_bp
        |FROM mu JOIN t2 USING (anchor_id)
        |ORDER BY anchor_id""".stripMargin),
      "contrastive triplets mined from IVF neighbor lists (the at-scale q194)"),

    // q249 — the pair-recall scoreboard for the IVF mining path, with
    // the SAMPLED ground truth (round-9 verdict): exact mutual pairs
    // over the 1000 smallest-hash anchors (top-1 still over the full
    // corpus — m×n, linear) vs the full-corpus IVF mutual set, one
    // full-outer join + one aggregate. recall over a deterministic
    // sample is still an honest estimate (spec-pinned against the full
    // audit on the fixture corpus); n_approx stays full-corpus (the
    // approximate set here is the IVF mutual pairs). recall_bp
    // is NULL if no mutual pair lands inside the sample — reported,
    // not divided through.
    Q("q249_ann_pair_recall",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        val ex = graft.operators.Similarity.mutualTop1PairsSampled(
          e, col("vec_id"), col("embedding"), m = 1000, seed = 0)
        val iv = graft.operators.Similarity.mutualTop1PairsIvf(
          e, col("vec_id"), col("embedding"), col("label"), nprobe = 2)
        graft.operators.Similarity.pairRecallScoreboard(ex, iv)
      },
      Some("""WITH e AS MATERIALIZED (SELECT vec_id,
        |    embedding::DOUBLE[] AS v, label AS lbl FROM embeddings),
        |cw AS MATERIALIZED (
        |  SELECT lbl AS c_lbl, list(cd ORDER BY dim) AS cv FROM (
        |    SELECT lbl, t.dim, round(avg(v[t.dim]), 6) AS cd
        |    FROM e, generate_series(1, 64) AS t(dim) GROUP BY lbl, t.dim)
        |  GROUP BY lbl),
        |pc AS MATERIALIZED (
        |  SELECT e.vec_id, cw.c_lbl, row_number() OVER (
        |    PARTITION BY e.vec_id
        |    ORDER BY round(list_cosine_similarity(e.v, cw.cv), 4) DESC,
        |      cw.c_lbl) AS prn
        |  FROM e, cw),
        |a AS MATERIALIZED (SELECT e.vec_id, e.v, pc.c_lbl AS bucket
        |  FROM e JOIN pc ON pc.vec_id = e.vec_id AND pc.prn = 1),
        |p AS MATERIALIZED (SELECT e.vec_id AS query_id, e.v AS qv,
        |    pc.c_lbl AS pb
        |  FROM e JOIN pc ON pc.vec_id = e.vec_id AND pc.prn <= 2),
        |r AS (SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM (SELECT p.query_id, a.vec_id,
        |      round(list_cosine_similarity(a.v, p.qv), 4) AS cos_sim
        |    FROM p JOIN a ON a.bucket = p.pb AND a.vec_id <> p.query_id)),
        |it1 AS (SELECT query_id AS src, vec_id AS dst FROM r
        |  WHERE rn = 1),
        |imu AS MATERIALIZED (SELECT x.src, x.dst FROM it1 x
        |  JOIN it1 y ON y.src = x.dst AND y.dst = x.src
        |  WHERE x.src < x.dst),
        |anc AS MATERIALIZED (SELECT vec_id FROM e
        |  ORDER BY ('0x' || substring(md5('0#' ||
        |    CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id
        |  LIMIT 1000),
        |xr AS (SELECT query_id, vec_id,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM (SELECT a2.vec_id AS query_id, b2.vec_id AS vec_id,
        |      round(list_cosine_similarity(b2.v, a2.v), 4) AS cos_sim
        |    FROM e a2 JOIN anc a0 ON a0.vec_id = a2.vec_id
        |    JOIN e b2 ON b2.vec_id <> a2.vec_id)),
        |xt1 AS (SELECT query_id AS src, vec_id AS dst FROM xr
        |  WHERE rn = 1),
        |xmu AS MATERIALIZED (SELECT x.src, x.dst FROM xt1 x
        |  JOIN xt1 y ON y.src = x.dst AND y.dst = x.src
        |  WHERE x.src < x.dst),
        |j AS (SELECT coalesce(i.cnt, 0) AS n_approx,
        |    coalesce(x.cnt, 0) AS n_exact, coalesce(c.cnt, 0) AS n_common
        |  FROM (SELECT CAST(count(*) AS BIGINT) cnt FROM imu) i,
        |       (SELECT CAST(count(*) AS BIGINT) cnt FROM xmu) x,
        |       (SELECT CAST(count(*) AS BIGINT) cnt FROM imu
        |          JOIN xmu USING (src, dst)) c)
        |SELECT n_approx, n_exact, n_common,
        |  CASE WHEN n_exact > 0
        |       THEN CAST((n_common * 10000) // n_exact AS BIGINT)
        |  END AS recall_bp
        |FROM j""".stripMargin),
      "exact-vs-IVF mutual-pair recall scoreboard over the hash-sampled ground truth (the q247 audit, one row)"),

    // q253 — the corpus-scaled IVF index BUILD (round-9 verdict #1):
    // C = max(10, isqrt(n)) hash-seeded k-means, 2 fixed Lloyd rounds
    // (the q180 unrolled-CTE discipline), per-vector assignment with
    // the `moved` fixed-point residual observable per row. This is the
    // entry point that frees the IVF family from the fixture's C=10
    // label quantizer — per-bucket membership ~√n instead of ~n/10.
    Q("q253_kmeans_ivf_build",
      (s, d) => graft.operators.Similarity.kmeansBuckets(
          Tables(s, d, "embeddings"), col("vec_id"), col("embedding"),
          rounds = 2)
        .select(col("vec_id"), col("bucket"), col("moved"))
        .orderBy("vec_id"),
      Some(s"""$kmeansCtes
        |SELECT a2.vec_id, a2.bucket, a2.bucket <> a1.bucket AS moved
        |FROM a2 JOIN a1 USING (vec_id)
        |ORDER BY vec_id""".stripMargin),
      "corpus-scaled IVF build: C=max(10,isqrt(n)) hash-seeded k-means, fixed-round Lloyd, moved audit per vector"),

    // q254 — q247's mutual-NN margin mining ON the kmeans-built index:
    // the full at-scale composition (index build feeds the bucket-
    // keyed scored join; C≈√n makes the probe scan ~nprobe·√n per
    // query instead of ~n·nprobe/10). rankedNeighborsIvf derives its
    // quantizer from per-bucket centroids of the passed assignment —
    // one more refinement round, replayed by the oracle as c3.
    Q("q254_mutual_nn_kmeans",
      (s, d) => {
        val idx = graft.operators.Similarity.kmeansBuckets(
          Tables(s, d, "embeddings"), col("vec_id"), col("embedding"),
          rounds = 2)
        graft.operators.Similarity.mutualNnMarginIvf(
            idx, col("vec_id"), col("v"), col("bucket"),
            k = 4, nprobe = 2)
          .orderBy("vec_a", "vec_b")
      },
      Some(s"""$kmeansCtes,
        |c3 AS MATERIALIZED (
        |  SELECT bucket AS c_lbl, list(cd ORDER BY dim) AS cv FROM (
        |    SELECT a.bucket, t.dim, round(avg(a.v[t.dim]), 6) AS cd
        |    FROM a2 a, generate_series(1, 64) AS t(dim)
        |    GROUP BY a.bucket, t.dim) u
        |  GROUP BY bucket),
        |pc AS MATERIALIZED (
        |  SELECT e.vec_id, c.c_lbl, row_number() OVER (
        |    PARTITION BY e.vec_id
        |    ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC,
        |      c.c_lbl) AS prn
        |  FROM e, c3 c),
        |aa AS MATERIALIZED (SELECT e.vec_id, e.v, pc.c_lbl AS bucket
        |  FROM e JOIN pc ON pc.vec_id = e.vec_id AND pc.prn = 1),
        |p AS MATERIALIZED (SELECT e.vec_id AS query_id, e.v AS qv,
        |    pc.c_lbl AS pb
        |  FROM e JOIN pc ON pc.vec_id = e.vec_id AND pc.prn <= 2),
        |r AS MATERIALIZED (SELECT query_id, vec_id, cos_sim,
        |    CAST(round(cos_sim * 10000) AS BIGINT) AS cu,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM (SELECT p.query_id, a.vec_id,
        |      round(list_cosine_similarity(a.v, p.qv), 4) AS cos_sim
        |    FROM p JOIN aa a ON a.bucket = p.pb
        |      AND a.vec_id <> p.query_id) s),
        |tk AS MATERIALIZED (SELECT * FROM r WHERE rn <= 4),
        |sm AS (SELECT query_id, CAST(sum(cu) AS BIGINT) AS sv
        |  FROM tk GROUP BY 1),
        |t1 AS (SELECT query_id AS src, vec_id AS dst, cos_sim, cu
        |  FROM tk WHERE rn = 1),
        |mu AS (SELECT x.src, x.dst, x.cos_sim, x.cu FROM t1 x
        |  JOIN t1 y ON y.src = x.dst AND y.dst = x.src
        |  WHERE x.src < x.dst)
        |SELECT mu.src AS vec_a, mu.dst AS vec_b, mu.cos_sim,
        |  CAST((2 * 4 * mu.cu * 10000) // (sx.sv + sy.sv) AS BIGINT)
        |    AS margin_bp
        |FROM mu JOIN sm sx ON sx.query_id = mu.src
        |        JOIN sm sy ON sy.query_id = mu.dst
        |WHERE mu.cu > 0 AND sx.sv + sy.sv > 0
        |ORDER BY vec_a, vec_b""".stripMargin),
      "mutual-NN margin mining on the kmeans-built corpus-scaled IVF index (the at-scale q247)"),

    // q255 — q248's contrastive hard negatives ON the kmeans index:
    // same composition, k=2 lists (positive = IVF mutual top-1,
    // negative = rank-2), integer contrastive gap.
    Q("q255_hard_negatives_kmeans",
      (s, d) => {
        val idx = graft.operators.Similarity.kmeansBuckets(
          Tables(s, d, "embeddings"), col("vec_id"), col("embedding"),
          rounds = 2)
        graft.operators.Similarity.hardNegativesIvf(
            idx, col("vec_id"), col("v"), col("bucket"), nprobe = 2)
          .orderBy("anchor_id")
      },
      Some(s"""$kmeansCtes,
        |c3 AS MATERIALIZED (
        |  SELECT bucket AS c_lbl, list(cd ORDER BY dim) AS cv FROM (
        |    SELECT a.bucket, t.dim, round(avg(a.v[t.dim]), 6) AS cd
        |    FROM a2 a, generate_series(1, 64) AS t(dim)
        |    GROUP BY a.bucket, t.dim) u
        |  GROUP BY bucket),
        |pc AS MATERIALIZED (
        |  SELECT e.vec_id, c.c_lbl, row_number() OVER (
        |    PARTITION BY e.vec_id
        |    ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC,
        |      c.c_lbl) AS prn
        |  FROM e, c3 c),
        |aa AS MATERIALIZED (SELECT e.vec_id, e.v, pc.c_lbl AS bucket
        |  FROM e JOIN pc ON pc.vec_id = e.vec_id AND pc.prn = 1),
        |p AS MATERIALIZED (SELECT e.vec_id AS query_id, e.v AS qv,
        |    pc.c_lbl AS pb
        |  FROM e JOIN pc ON pc.vec_id = e.vec_id AND pc.prn <= 2),
        |r AS MATERIALIZED (SELECT query_id, vec_id, cos_sim,
        |    CAST(round(cos_sim * 10000) AS BIGINT) AS cu,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM (SELECT p.query_id, a.vec_id,
        |      round(list_cosine_similarity(a.v, p.qv), 4) AS cos_sim
        |    FROM p JOIN aa a ON a.bucket = p.pb
        |      AND a.vec_id <> p.query_id) s),
        |t1 AS (SELECT query_id AS anchor_id, vec_id AS positive_id,
        |    cos_sim AS cos_pos, cu AS cu_pos FROM r WHERE rn = 1),
        |mu AS (SELECT x.* FROM t1 x JOIN t1 y
        |  ON y.anchor_id = x.positive_id
        |  AND y.positive_id = x.anchor_id),
        |t2 AS (SELECT query_id AS anchor_id, vec_id AS negative_id,
        |    cos_sim AS cos_neg, cu AS cu_neg FROM r WHERE rn = 2)
        |SELECT mu.anchor_id, mu.positive_id, t2.negative_id, mu.cos_pos,
        |  t2.cos_neg, CAST(mu.cu_pos - t2.cu_neg AS BIGINT) AS gap_bp
        |FROM mu JOIN t2 USING (anchor_id)
        |ORDER BY anchor_id""".stripMargin),
      "contrastive hard negatives on the kmeans-built corpus-scaled IVF index (the at-scale q248)"),

    // q258 — SAMPLED-refinement k-means build: at 100 TB the coarse
    // quantizer is always TRAINED on a sample (the q38 discipline —
    // md5-hash-gated, never rand(), so the oracle replays the
    // identical sample) while C stays derived from the FULL corpus
    // size and the final assignment + moved audit cover the FULL
    // corpus (two broadcast argmax folds against the last two
    // refinement centroid tables). This composes q102's sampled-build
    // step INTO the q253 index build — seeding and both Lloyd rounds
    // touch only ~half the corpus here (perMille = 500).
    Q("q258_kmeans_sampled_build",
      (s, d) => graft.operators.Similarity.kmeansBuckets(
          Tables(s, d, "embeddings"), col("vec_id"), col("embedding"),
          rounds = 2, buildSamplePerMille = 500)
        .select(col("vec_id"), col("bucket"), col("moved"))
        .orderBy("vec_id"),
      Some("""WITH e AS MATERIALIZED (SELECT vec_id,
        |    embedding::DOUBLE[] AS v FROM embeddings),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
        |cc AS (SELECT greatest(10, (SELECT CAST(max(s.s) AS BIGINT)
        |  FROM generate_series(1, 4000) s(s), nc
        |  WHERE s.s * s.s <= nc.n)) AS c),
        |tr AS MATERIALIZED (SELECT vec_id, v FROM e
        |  WHERE ('0x' || substring(md5('0#' ||
        |    CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % 1000 < 500),
        |sd AS MATERIALIZED (
        |  SELECT CAST(rn - 1 AS BIGINT) AS c_lbl, v AS cv FROM (
        |    SELECT v, row_number() OVER (ORDER BY
        |      ('0x' || substring(md5('0#' ||
        |        CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
        |      vec_id) AS rn
        |    FROM tr) t
        |  WHERE rn <= (SELECT c FROM cc)),
        |a0 AS MATERIALIZED (
        |  SELECT vec_id, v, c_lbl AS bucket FROM (
        |    SELECT tr.vec_id, tr.v, s.c_lbl,
        |      row_number() OVER (PARTITION BY tr.vec_id
        |        ORDER BY round(list_cosine_similarity(tr.v, s.cv), 4) DESC,
        |          s.c_lbl) AS prn
        |    FROM tr, sd s) t WHERE prn = 1),
        |c1 AS MATERIALIZED (
        |  SELECT bucket AS c_lbl, list(cd ORDER BY dim) AS cv FROM (
        |    SELECT a.bucket, t.dim, round(avg(a.v[t.dim]), 6) AS cd
        |    FROM a0 a, generate_series(1, 64) AS t(dim)
        |    GROUP BY a.bucket, t.dim) u
        |  GROUP BY bucket),
        |a1 AS MATERIALIZED (
        |  SELECT vec_id, v, c_lbl AS bucket FROM (
        |    SELECT tr.vec_id, tr.v, c.c_lbl,
        |      row_number() OVER (PARTITION BY tr.vec_id
        |        ORDER BY round(list_cosine_similarity(tr.v, c.cv), 4) DESC,
        |          c.c_lbl) AS prn
        |    FROM tr, c1 c) t WHERE prn = 1),
        |c2 AS MATERIALIZED (
        |  SELECT bucket AS c_lbl, list(cd ORDER BY dim) AS cv FROM (
        |    SELECT a.bucket, t.dim, round(avg(a.v[t.dim]), 6) AS cd
        |    FROM a1 a, generate_series(1, 64) AS t(dim)
        |    GROUP BY a.bucket, t.dim) u
        |  GROUP BY bucket),
        |ap AS MATERIALIZED (
        |  SELECT vec_id, c_lbl AS bucket FROM (
        |    SELECT e.vec_id, c.c_lbl,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC,
        |          c.c_lbl) AS prn
        |    FROM e, c1 c) t WHERE prn = 1),
        |af AS MATERIALIZED (
        |  SELECT vec_id, c_lbl AS bucket FROM (
        |    SELECT e.vec_id, c.c_lbl,
        |      row_number() OVER (PARTITION BY e.vec_id
        |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC,
        |          c.c_lbl) AS prn
        |    FROM e, c2 c) t WHERE prn = 1)
        |SELECT af.vec_id, af.bucket, af.bucket <> ap.bucket AS moved
        |FROM af JOIN ap USING (vec_id)
        |ORDER BY vec_id""".stripMargin),
      "sampled-refinement corpus-scaled k-means build: hash-gated train set for seeding + Lloyd, full-corpus assignment and moved audit"),

    // q261 — INCREMENTAL IVF INSERT + staleness audit: the serve path
    // of an index that cannot rebuild per batch. The corpus splits by
    // md5 hash gate (80% base / 20% delta — deterministic, both
    // engines replay it); the index builds ONCE on base (the q253
    // machinery), then the delta batch assigns against the FROZEN
    // per-bucket centroids — |delta|·C broadcast-fold cosines, zero
    // base re-scan. The output IS the staleness audit: per-bucket
    // base/delta membership, integer delta share, and the rebuild
    // flag at 3000 bp — the q251/q256 index-lifecycle discipline
    // (growth observable, rebuild data-driven) applied to the vector
    // index.
    Q("q261_ivf_incremental_insert",
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val g = graft.functions.TextFunctions
          .hash60(col("vec_id").cast("string"), 0) % 10
        graft.operators.Similarity.ivfInsertAudit(
            emb.filter(g < 8), emb.filter(g >= 8),
            col("vec_id"), col("embedding"), rounds = 2, flagBp = 3000L)
          .orderBy("bucket")
      },
      Some(s"""$gatedInsertCtes,
        |nb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_base
        |  FROM a2 GROUP BY 1),
        |nd AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_delta
        |  FROM da GROUP BY 1)
        |SELECT nb.bucket, nb.n_base,
        |  CAST(COALESCE(nd.n_delta, 0) AS BIGINT) AS n_delta,
        |  CAST((10000 * COALESCE(nd.n_delta, 0)) //
        |    (nb.n_base + COALESCE(nd.n_delta, 0)) AS BIGINT)
        |    AS delta_share_bp,
        |  CAST(CASE WHEN (10000 * COALESCE(nd.n_delta, 0)) //
        |    (nb.n_base + COALESCE(nd.n_delta, 0)) >= 3000
        |    THEN 1 ELSE 0 END AS BIGINT) AS rebuild
        |FROM nb LEFT JOIN nd USING (bucket)
        |ORDER BY bucket""".stripMargin),
      "incremental IVF insert against frozen centroids + per-bucket staleness audit with rebuild flag"),

    // q263 — PARTIAL index rebuild: split ONLY the buckets the q261
    // audit flags (delta share ≥ 2500 bp), leaving every other bucket
    // untouched — the rebalance step that closes the index lifecycle
    // (q253 build → q261 serve/audit → split) at a cost proportional
    // to the FLAGGED membership, not the corpus. Each flagged bucket
    // 2-means-splits locally: seeds = its two smallest-(md5, id)
    // members, sides by rounded-cosine argmax (ties to the lower seed
    // rank), seed-0 half keeps the parent label, seed-1 half takes
    // maxb + rank(parent). The oracle replays split selection, seed
    // choice, side assignment, and the pass-through set row-for-row.
    Q("q263_ivf_bucket_split",
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val g = graft.functions.TextFunctions
          .hash60(col("vec_id").cast("string"), 0) % 10
        graft.operators.Similarity.ivfBucketSplit(
            emb.filter(g < 8), emb.filter(g >= 8),
            col("vec_id"), col("embedding"), rounds = 2, flagBp = 2500L)
          .orderBy("bucket", "parent")
      },
      Some(s"""$gatedInsertCtes,
        |mem AS MATERIALIZED (
        |  SELECT vec_id, v, bucket, 0 AS is_delta FROM a2
        |  UNION ALL
        |  SELECT da.vec_id, ed.v, da.bucket, 1
        |  FROM da JOIN ed USING (vec_id)),
        |aud AS MATERIALIZED (SELECT bucket,
        |    CAST(sum(1 - is_delta) AS BIGINT) AS n_base,
        |    CAST(sum(is_delta) AS BIGINT) AS n_delta
        |  FROM mem GROUP BY 1),
        |fl AS MATERIALIZED (SELECT bucket FROM aud
        |  WHERE (10000 * n_delta) // (n_base + n_delta) >= 2500),
        |mx AS (SELECT max(bucket) AS maxb FROM a2),
        |fr AS (SELECT bucket, CAST(row_number() OVER (ORDER BY bucket)
        |    AS BIGINT) AS rnk FROM fl),
        |fm AS MATERIALIZED (SELECT m.vec_id, m.v, m.bucket
        |  FROM mem m JOIN fl USING (bucket)),
        |sd2 AS MATERIALIZED (SELECT bucket,
        |    CAST(rn - 1 AS BIGINT) AS side, v AS sv FROM (
        |    SELECT bucket, vec_id, v, row_number() OVER (
        |      PARTITION BY bucket ORDER BY
        |        ('0x' || substring(md5('0#' ||
        |          CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
        |        vec_id) AS rn
        |    FROM fm) t WHERE rn <= 2),
        |asg AS MATERIALIZED (SELECT bucket, vec_id, side FROM (
        |  SELECT fm.bucket, fm.vec_id, s.side,
        |    row_number() OVER (PARTITION BY fm.bucket, fm.vec_id
        |      ORDER BY round(list_cosine_similarity(fm.v, s.sv), 4)
        |        DESC, s.side) AS rn
        |  FROM fm JOIN sd2 s USING (bucket)) t WHERE rn = 1),
        |sc AS (SELECT CASE WHEN a.side = 0 THEN a.bucket
        |    ELSE mx.maxb + fr.rnk END AS bucket,
        |    a.bucket AS parent, CAST(count(*) AS BIGINT) AS n_members,
        |    CAST(1 AS BIGINT) AS was_split
        |  FROM asg a JOIN fr ON fr.bucket = a.bucket, mx
        |  GROUP BY 1, 2),
        |pc AS (SELECT bucket, bucket AS parent,
        |    n_base + n_delta AS n_members, CAST(0 AS BIGINT) AS was_split
        |  FROM aud
        |  WHERE bucket NOT IN (SELECT bucket FROM fl))
        |SELECT bucket, parent, n_members, was_split FROM sc
        |UNION ALL
        |SELECT bucket, parent, n_members, was_split FROM pc
        |ORDER BY bucket, parent""".stripMargin),
      "flag-driven partial rebuild: local 2-means split of overfull buckets only, pass-through elsewhere"),

    // q265 — q254's mutual-NN mining with the probe side cut to a
    // deterministic 256-anchor hash sample (the round-10 verdict's #1:
    // full self-mining under C≈√n is Θ(n^1.5) — the only superlinear
    // rows in the three-decade scaling record; at 100 TB the
    // scale-safe query mines a fixed anchor sample, m·nprobe·√n,
    // linear in the corpus). The index side stays full-corpus, so the
    // output EQUALS q254 restricted to pairs with both endpoints
    // sampled (spec-pinned); the oracle replays the anchor LIMIT
    // exactly (ORDER BY md5-hash, id LIMIT m).
    Q("q265_mutual_nn_kmeans_sampled",
      (s, d) => {
        val idx = graft.operators.Similarity.kmeansBuckets(
          Tables(s, d, "embeddings"), col("vec_id"), col("embedding"),
          rounds = 2)
        graft.operators.Similarity.mutualNnMarginIvfSampled(
            idx, col("vec_id"), col("v"), col("bucket"),
            k = 4, nprobe = 2, m = 256, seed = 11)
          .orderBy("vec_a", "vec_b")
      },
      Some(s"""$kmeansCtes,
        |c3 AS MATERIALIZED (
        |  SELECT bucket AS c_lbl, list(cd ORDER BY dim) AS cv FROM (
        |    SELECT a.bucket, t.dim, round(avg(a.v[t.dim]), 6) AS cd
        |    FROM a2 a, generate_series(1, 64) AS t(dim)
        |    GROUP BY a.bucket, t.dim) u
        |  GROUP BY bucket),
        |pc AS MATERIALIZED (
        |  SELECT e.vec_id, c.c_lbl, row_number() OVER (
        |    PARTITION BY e.vec_id
        |    ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC,
        |      c.c_lbl) AS prn
        |  FROM e, c3 c),
        |aa AS MATERIALIZED (SELECT e.vec_id, e.v, pc.c_lbl AS bucket
        |  FROM e JOIN pc ON pc.vec_id = e.vec_id AND pc.prn = 1),
        |an AS MATERIALIZED (SELECT vec_id FROM e
        |  ORDER BY ('0x' || substring(md5('11#' ||
        |    CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id
        |  LIMIT 256),
        |p AS MATERIALIZED (SELECT e.vec_id AS query_id, e.v AS qv,
        |    pc.c_lbl AS pb
        |  FROM e JOIN an USING (vec_id)
        |    JOIN pc ON pc.vec_id = e.vec_id AND pc.prn <= 2),
        |r AS MATERIALIZED (SELECT query_id, vec_id, cos_sim,
        |    CAST(round(cos_sim * 10000) AS BIGINT) AS cu,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM (SELECT p.query_id, a.vec_id,
        |      round(list_cosine_similarity(a.v, p.qv), 4) AS cos_sim
        |    FROM p JOIN aa a ON a.bucket = p.pb
        |      AND a.vec_id <> p.query_id) s),
        |tk AS MATERIALIZED (SELECT * FROM r WHERE rn <= 4),
        |sm AS (SELECT query_id, CAST(sum(cu) AS BIGINT) AS sv
        |  FROM tk GROUP BY 1),
        |t1 AS (SELECT query_id AS src, vec_id AS dst, cos_sim, cu
        |  FROM tk WHERE rn = 1),
        |mu AS (SELECT x.src, x.dst, x.cos_sim, x.cu FROM t1 x
        |  JOIN t1 y ON y.src = x.dst AND y.dst = x.src
        |  WHERE x.src < x.dst)
        |SELECT mu.src AS vec_a, mu.dst AS vec_b, mu.cos_sim,
        |  CAST((2 * 4 * mu.cu * 10000) // (sx.sv + sy.sv) AS BIGINT)
        |    AS margin_bp
        |FROM mu JOIN sm sx ON sx.query_id = mu.src
        |        JOIN sm sy ON sy.query_id = mu.dst
        |WHERE mu.cu > 0 AND sx.sv + sy.sv > 0
        |ORDER BY vec_a, vec_b""".stripMargin),
      "sampled-anchor mutual-NN mining on the kmeans IVF index: m anchors exact-per-anchor, index full-corpus"),

    // q266 — q255's contrastive hard negatives under the same anchor
    // sample: triplets whose mutual pair has BOTH endpoints sampled
    // (mutuality needs both directions' top-1); negatives may be any
    // corpus vector — the index side never shrinks.
    Q("q266_hard_negatives_kmeans_sampled",
      (s, d) => {
        val idx = graft.operators.Similarity.kmeansBuckets(
          Tables(s, d, "embeddings"), col("vec_id"), col("embedding"),
          rounds = 2)
        graft.operators.Similarity.hardNegativesIvfSampled(
            idx, col("vec_id"), col("v"), col("bucket"),
            nprobe = 2, m = 256, seed = 11)
          .orderBy("anchor_id")
      },
      Some(s"""$kmeansCtes,
        |c3 AS MATERIALIZED (
        |  SELECT bucket AS c_lbl, list(cd ORDER BY dim) AS cv FROM (
        |    SELECT a.bucket, t.dim, round(avg(a.v[t.dim]), 6) AS cd
        |    FROM a2 a, generate_series(1, 64) AS t(dim)
        |    GROUP BY a.bucket, t.dim) u
        |  GROUP BY bucket),
        |pc AS MATERIALIZED (
        |  SELECT e.vec_id, c.c_lbl, row_number() OVER (
        |    PARTITION BY e.vec_id
        |    ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC,
        |      c.c_lbl) AS prn
        |  FROM e, c3 c),
        |aa AS MATERIALIZED (SELECT e.vec_id, e.v, pc.c_lbl AS bucket
        |  FROM e JOIN pc ON pc.vec_id = e.vec_id AND pc.prn = 1),
        |an AS MATERIALIZED (SELECT vec_id FROM e
        |  ORDER BY ('0x' || substring(md5('11#' ||
        |    CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id
        |  LIMIT 256),
        |p AS MATERIALIZED (SELECT e.vec_id AS query_id, e.v AS qv,
        |    pc.c_lbl AS pb
        |  FROM e JOIN an USING (vec_id)
        |    JOIN pc ON pc.vec_id = e.vec_id AND pc.prn <= 2),
        |r AS MATERIALIZED (SELECT query_id, vec_id, cos_sim,
        |    CAST(round(cos_sim * 10000) AS BIGINT) AS cu,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM (SELECT p.query_id, a.vec_id,
        |      round(list_cosine_similarity(a.v, p.qv), 4) AS cos_sim
        |    FROM p JOIN aa a ON a.bucket = p.pb
        |      AND a.vec_id <> p.query_id) s),
        |t1 AS (SELECT query_id AS anchor_id, vec_id AS positive_id,
        |    cos_sim AS cos_pos, cu AS cu_pos FROM r WHERE rn = 1),
        |mu AS (SELECT x.* FROM t1 x JOIN t1 y
        |  ON y.anchor_id = x.positive_id
        |  AND y.positive_id = x.anchor_id),
        |t2 AS (SELECT query_id AS anchor_id, vec_id AS negative_id,
        |    cos_sim AS cos_neg, cu AS cu_neg FROM r WHERE rn = 2)
        |SELECT mu.anchor_id, mu.positive_id, t2.negative_id, mu.cos_pos,
        |  t2.cos_neg, CAST(mu.cu_pos - t2.cu_neg AS BIGINT) AS gap_bp
        |FROM mu JOIN t2 USING (anchor_id)
        |ORDER BY anchor_id""".stripMargin),
      "sampled-anchor contrastive hard negatives on the kmeans IVF index"),

    // q267 — q265 with the probe SCAN routed through the int8 packed
    // path: both sides quantize (quantizeInt8 → PackInt8 binary) and
    // score through the fused long-arithmetic ByteCosine kernel —
    // bit-identical to double cosine over the same integer vectors
    // (the q84 bargain), so the oracle scores q8::DOUBLE[]. Cuts the
    // compute-bound scan's memory traffic 8x vs doubles; assignment
    // and probe ranking stay exact (build-time work). Scores/margins
    // are the QUANTIZED cosines — its own contract, audited against
    // the exact path by the paired spec.
    Q("q267_mutual_nn_kmeans_int8",
      (s, d) => {
        val idx = graft.operators.Similarity.kmeansBuckets(
          Tables(s, d, "embeddings"), col("vec_id"), col("embedding"),
          rounds = 2)
        graft.operators.Similarity.mutualNnMarginIvfSampled(
            idx, col("vec_id"), col("v"), col("bucket"),
            k = 4, nprobe = 2, m = 256, seed = 11, int8 = true)
          .orderBy("vec_a", "vec_b")
      },
      Some(s"""$kmeansCtes,
        |c3 AS MATERIALIZED (
        |  SELECT bucket AS c_lbl, list(cd ORDER BY dim) AS cv FROM (
        |    SELECT a.bucket, t.dim, round(avg(a.v[t.dim]), 6) AS cd
        |    FROM a2 a, generate_series(1, 64) AS t(dim)
        |    GROUP BY a.bucket, t.dim) u
        |  GROUP BY bucket),
        |pc AS MATERIALIZED (
        |  SELECT e.vec_id, c.c_lbl, row_number() OVER (
        |    PARTITION BY e.vec_id
        |    ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC,
        |      c.c_lbl) AS prn
        |  FROM e, c3 c),
        |aa AS MATERIALIZED (SELECT e.vec_id, e.v, pc.c_lbl AS bucket
        |  FROM e JOIN pc ON pc.vec_id = e.vec_id AND pc.prn = 1),
        |aa8 AS MATERIALIZED (SELECT vec_id, bucket,
        |    list_transform(v, x -> CAST(round(x *
        |      (127.0 / list_max(list_transform(v, y -> abs(y)))))
        |      AS INT))::DOUBLE[] AS q8
        |  FROM aa),
        |an AS MATERIALIZED (SELECT vec_id FROM e
        |  ORDER BY ('0x' || substring(md5('11#' ||
        |    CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id
        |  LIMIT 256),
        |p AS MATERIALIZED (SELECT a8.vec_id AS query_id, a8.q8 AS qq,
        |    pc.c_lbl AS pb
        |  FROM aa8 a8 JOIN an USING (vec_id)
        |    JOIN pc ON pc.vec_id = a8.vec_id AND pc.prn <= 2),
        |r AS MATERIALIZED (SELECT query_id, vec_id, cos_sim,
        |    CAST(round(cos_sim * 10000) AS BIGINT) AS cu,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM (SELECT p.query_id, a.vec_id,
        |      round(list_cosine_similarity(a.q8, p.qq), 4) AS cos_sim
        |    FROM p JOIN aa8 a ON a.bucket = p.pb
        |      AND a.vec_id <> p.query_id) s),
        |tk AS MATERIALIZED (SELECT * FROM r WHERE rn <= 4),
        |sm AS (SELECT query_id, CAST(sum(cu) AS BIGINT) AS sv
        |  FROM tk GROUP BY 1),
        |t1 AS (SELECT query_id AS src, vec_id AS dst, cos_sim, cu
        |  FROM tk WHERE rn = 1),
        |mu AS (SELECT x.src, x.dst, x.cos_sim, x.cu FROM t1 x
        |  JOIN t1 y ON y.src = x.dst AND y.dst = x.src
        |  WHERE x.src < x.dst)
        |SELECT mu.src AS vec_a, mu.dst AS vec_b, mu.cos_sim,
        |  CAST((2 * 4 * mu.cu * 10000) // (sx.sv + sy.sv) AS BIGINT)
        |    AS margin_bp
        |FROM mu JOIN sm sx ON sx.query_id = mu.src
        |        JOIN sm sy ON sy.query_id = mu.dst
        |WHERE mu.cu > 0 AND sx.sv + sy.sv > 0
        |ORDER BY vec_a, vec_b""".stripMargin),
      "sampled-anchor mining with the int8 packed probe scan (ByteCosine byte-domain scoring)"),

    // q268 — BUILD-TIME bucket-size cap: the q253 build with any
    // bucket above 5/4 of the balanced size n/C 2-means-split before
    // the index serves (flag test in exact integers — sz·4·C > 5·n).
    // ONE split round, fixed-round discipline: the residual is
    // OBSERVABLE as `still_over` (a split halves the worst offender;
    // at sf0.01 one child legitimately stays above the cap — reported,
    // not hidden). The oracle replays flag selection, seed choice,
    // side assignment, pass-through, and the residual audit.
    Q("q268_kmeans_capped_build",
      (s, d) => {
        val post = graft.operators.Similarity.kmeansBucketsCapped(
          Tables(s, d, "embeddings"), col("vec_id"), col("embedding"),
          rounds = 2, capNum = 5, capDen = 4)
        val n = post.count()
        val c = math.max(10L, graft.functions.IntMath.isqrt(n))
        post.groupBy("bucket", "parent", "was_split")
          .agg(count(lit(1)).cast("long").as("n_members"))
          .select(col("bucket"), col("parent"), col("n_members"),
            col("was_split"),
            when(col("n_members") * lit(4L) * lit(c) > lit(5L) * lit(n),
              lit(1L)).otherwise(lit(0L)).as("still_over"))
          .orderBy("bucket", "parent")
      },
      Some(s"""$kmeansCtes,
        |sz AS MATERIALIZED (SELECT bucket, CAST(count(*) AS BIGINT) AS n
        |  FROM a2 GROUP BY 1),
        |fl AS MATERIALIZED (SELECT bucket FROM sz, nc, cc
        |  WHERE sz.n * 4 * cc.c > 5 * nc.n),
        |mx AS (SELECT max(bucket) AS maxb FROM a2),
        |fr AS (SELECT bucket, CAST(row_number() OVER (ORDER BY bucket)
        |    AS BIGINT) AS rnk FROM fl),
        |fm AS MATERIALIZED (SELECT m.vec_id, m.v, m.bucket
        |  FROM a2 m JOIN fl USING (bucket)),
        |sd2 AS MATERIALIZED (SELECT bucket,
        |    CAST(rn - 1 AS BIGINT) AS side, v AS sv FROM (
        |    SELECT bucket, vec_id, v, row_number() OVER (
        |      PARTITION BY bucket ORDER BY
        |        ('0x' || substring(md5('0#' ||
        |          CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
        |        vec_id) AS rn
        |    FROM fm) t WHERE rn <= 2),
        |asg AS MATERIALIZED (SELECT bucket, vec_id, side FROM (
        |  SELECT fm.bucket, fm.vec_id, s.side,
        |    row_number() OVER (PARTITION BY fm.bucket, fm.vec_id
        |      ORDER BY round(list_cosine_similarity(fm.v, s.sv), 4)
        |        DESC, s.side) AS rn
        |  FROM fm JOIN sd2 s USING (bucket)) t WHERE rn = 1),
        |sc AS (SELECT CASE WHEN a.side = 0 THEN a.bucket
        |    ELSE mx.maxb + fr.rnk END AS bucket,
        |    a.bucket AS parent, CAST(count(*) AS BIGINT) AS n_members,
        |    CAST(1 AS BIGINT) AS was_split
        |  FROM asg a JOIN fr ON fr.bucket = a.bucket, mx
        |  GROUP BY 1, 2),
        |pt AS (SELECT bucket, bucket AS parent, n AS n_members,
        |    CAST(0 AS BIGINT) AS was_split
        |  FROM sz WHERE bucket NOT IN (SELECT bucket FROM fl)),
        |un AS (SELECT * FROM sc UNION ALL SELECT * FROM pt)
        |SELECT un.bucket, un.parent, un.n_members, un.was_split,
        |  CAST(CASE WHEN un.n_members * 4 * cc.c > 5 * nc.n
        |    THEN 1 ELSE 0 END AS BIGINT) AS still_over
        |FROM un, nc, cc
        |ORDER BY bucket, parent""".stripMargin),
      "build-time bucket-size cap: oversize buckets 2-means-split at build, residual observable as still_over"),

    // q269 — the IVF index LIFECYCLE round-tripped end-to-end: build
    // on the 80% base slice (q253), insert the 20% delta against the
    // frozen centroids (q261), split drift-flagged buckets (q263,
    // flagBp 2500), then SERVE top-5/nprobe-2 for 8 deterministic
    // anchors from the lifecycle index AND from a fresh full-corpus
    // build — the per-anchor overlap scoreboard bounds the lifecycle
    // serve against the fresh reference (two quantizers legitimately
    // disagree at bucket borders; the spec pins the degenerate
    // no-drift case to exact equality). A 100 TB index lives its
    // whole life in this loop; this is the first query that closes it.
    Q("q269_ivf_lifecycle_roundtrip",
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val g = graft.functions.TextFunctions
          .hash60(col("vec_id").cast("string"), 0) % 10
        graft.operators.Similarity.ivfLifecycleServe(
            emb.filter(g < 8), emb.filter(g >= 8),
            col("vec_id"), col("embedding"), rounds = 2,
            flagBp = 2500L, m = 8, seed = 13, k = 5, nprobe = 2)
          .orderBy("anchor_id")
      },
      Some(s"""$gatedInsertCtes,
        |mem AS MATERIALIZED (
        |  SELECT vec_id, v, bucket, 0 AS is_delta FROM a2
        |  UNION ALL
        |  SELECT da.vec_id, ed.v, da.bucket, 1
        |  FROM da JOIN ed USING (vec_id)),
        |aud AS MATERIALIZED (SELECT bucket,
        |    CAST(sum(1 - is_delta) AS BIGINT) AS n_base,
        |    CAST(sum(is_delta) AS BIGINT) AS n_delta
        |  FROM mem GROUP BY 1),
        |fl AS MATERIALIZED (SELECT bucket FROM aud
        |  WHERE (10000 * n_delta) // (n_base + n_delta) >= 2500),
        |mx AS (SELECT max(bucket) AS maxb FROM a2),
        |fr AS (SELECT bucket, CAST(row_number() OVER (ORDER BY bucket)
        |    AS BIGINT) AS rnk FROM fl),
        |fm AS MATERIALIZED (SELECT m.vec_id, m.v, m.bucket
        |  FROM mem m JOIN fl USING (bucket)),
        |sd2 AS MATERIALIZED (SELECT bucket,
        |    CAST(rn - 1 AS BIGINT) AS side, v AS sv FROM (
        |    SELECT bucket, vec_id, v, row_number() OVER (
        |      PARTITION BY bucket ORDER BY
        |        ('0x' || substring(md5('0#' ||
        |          CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
        |        vec_id) AS rn
        |    FROM fm) t WHERE rn <= 2),
        |asg AS MATERIALIZED (SELECT bucket, vec_id, side FROM (
        |  SELECT fm.bucket, fm.vec_id, s.side,
        |    row_number() OVER (PARTITION BY fm.bucket, fm.vec_id
        |      ORDER BY round(list_cosine_similarity(fm.v, s.sv), 4)
        |        DESC, s.side) AS rn
        |  FROM fm JOIN sd2 s USING (bucket)) t WHERE rn = 1),
        |post AS MATERIALIZED (
        |  SELECT m.vec_id, m.v, m.bucket
        |  FROM mem m WHERE m.bucket NOT IN (SELECT bucket FROM fl)
        |  UNION ALL
        |  SELECT a.vec_id, m.v,
        |    CASE WHEN a.side = 0 THEN a.bucket
        |         ELSE mx.maxb + fr.rnk END
        |  FROM asg a JOIN mem m ON m.vec_id = a.vec_id
        |      AND m.bucket = a.bucket
        |    JOIN fr ON fr.bucket = a.bucket, mx),
        |c4 AS MATERIALIZED (
        |  SELECT bucket AS c_lbl, list(cd ORDER BY dim) AS cv FROM (
        |    SELECT p.bucket, t.dim, round(avg(p.v[t.dim]), 6) AS cd
        |    FROM post p, generate_series(1, 64) AS t(dim)
        |    GROUP BY p.bucket, t.dim) u
        |  GROUP BY bucket),
        |an AS MATERIALIZED (SELECT vec_id, v FROM ea
        |  ORDER BY ('0x' || substring(md5('13#' ||
        |    CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id
        |  LIMIT 8),
        |plc AS MATERIALIZED (SELECT an.vec_id AS query_id, an.v AS qv,
        |    c.c_lbl AS pb
        |  FROM an, c4 c
        |  QUALIFY row_number() OVER (PARTITION BY an.vec_id
        |    ORDER BY round(list_cosine_similarity(an.v, c.cv), 4) DESC,
        |      c.c_lbl) <= 2),
        |rl AS MATERIALIZED (SELECT query_id, vec_id FROM (
        |  SELECT p.query_id, m.vec_id, row_number() OVER (
        |      PARTITION BY p.query_id
        |      ORDER BY round(list_cosine_similarity(m.v, p.qv), 4) DESC,
        |        m.vec_id) AS rn
        |  FROM plc p JOIN post m ON m.bucket = p.pb
        |    AND m.vec_id <> p.query_id) t WHERE rn <= 5),
        |ncf AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ea),
        |ccf AS (SELECT greatest(10, (SELECT CAST(max(s.s) AS BIGINT)
        |  FROM generate_series(1, 4000) s(s), ncf
        |  WHERE s.s * s.s <= ncf.n)) AS c),
        |sdf AS MATERIALIZED (
        |  SELECT CAST(rn - 1 AS BIGINT) AS c_lbl, v AS cv FROM (
        |    SELECT v, row_number() OVER (ORDER BY
        |      ('0x' || substring(md5('0#' ||
        |        CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
        |      vec_id) AS rn
        |    FROM ea) t
        |  WHERE rn <= (SELECT c FROM ccf)),
        |af0 AS MATERIALIZED (
        |  SELECT vec_id, v, c_lbl AS bucket FROM (
        |    SELECT ea.vec_id, ea.v, s.c_lbl,
        |      row_number() OVER (PARTITION BY ea.vec_id
        |        ORDER BY round(list_cosine_similarity(ea.v, s.cv), 4) DESC,
        |          s.c_lbl) AS prn
        |    FROM ea, sdf s) t WHERE prn = 1),
        |cf1 AS MATERIALIZED (
        |  SELECT bucket AS c_lbl, list(cd ORDER BY dim) AS cv FROM (
        |    SELECT a.bucket, t.dim, round(avg(a.v[t.dim]), 6) AS cd
        |    FROM af0 a, generate_series(1, 64) AS t(dim)
        |    GROUP BY a.bucket, t.dim) u
        |  GROUP BY bucket),
        |af1 AS MATERIALIZED (
        |  SELECT vec_id, v, c_lbl AS bucket FROM (
        |    SELECT ea.vec_id, ea.v, c.c_lbl,
        |      row_number() OVER (PARTITION BY ea.vec_id
        |        ORDER BY round(list_cosine_similarity(ea.v, c.cv), 4) DESC,
        |          c.c_lbl) AS prn
        |    FROM ea, cf1 c) t WHERE prn = 1),
        |cf2 AS MATERIALIZED (
        |  SELECT bucket AS c_lbl, list(cd ORDER BY dim) AS cv FROM (
        |    SELECT a.bucket, t.dim, round(avg(a.v[t.dim]), 6) AS cd
        |    FROM af1 a, generate_series(1, 64) AS t(dim)
        |    GROUP BY a.bucket, t.dim) u
        |  GROUP BY bucket),
        |af2 AS MATERIALIZED (
        |  SELECT vec_id, v, c_lbl AS bucket FROM (
        |    SELECT ea.vec_id, ea.v, c.c_lbl,
        |      row_number() OVER (PARTITION BY ea.vec_id
        |        ORDER BY round(list_cosine_similarity(ea.v, c.cv), 4) DESC,
        |          c.c_lbl) AS prn
        |    FROM ea, cf2 c) t WHERE prn = 1),
        |cf3 AS MATERIALIZED (
        |  SELECT bucket AS c_lbl, list(cd ORDER BY dim) AS cv FROM (
        |    SELECT a.bucket, t.dim, round(avg(a.v[t.dim]), 6) AS cd
        |    FROM af2 a, generate_series(1, 64) AS t(dim)
        |    GROUP BY a.bucket, t.dim) u
        |  GROUP BY bucket),
        |pfc AS MATERIALIZED (SELECT an.vec_id AS query_id, an.v AS qv,
        |    c.c_lbl AS pb
        |  FROM an, cf3 c
        |  QUALIFY row_number() OVER (PARTITION BY an.vec_id
        |    ORDER BY round(list_cosine_similarity(an.v, c.cv), 4) DESC,
        |      c.c_lbl) <= 2),
        |rf AS MATERIALIZED (SELECT query_id, vec_id FROM (
        |  SELECT p.query_id, m.vec_id, row_number() OVER (
        |      PARTITION BY p.query_id
        |      ORDER BY round(list_cosine_similarity(m.v, p.qv), 4) DESC,
        |        m.vec_id) AS rn
        |  FROM pfc p JOIN af2 m ON m.bucket = p.pb
        |    AND m.vec_id <> p.query_id) t WHERE rn <= 5)
        |SELECT an.vec_id AS anchor_id,
        |  (SELECT CAST(count(*) AS BIGINT) FROM rl
        |    WHERE rl.query_id = an.vec_id) AS n_lifecycle,
        |  (SELECT CAST(count(*) AS BIGINT) FROM rf
        |    WHERE rf.query_id = an.vec_id) AS n_fresh,
        |  (SELECT CAST(count(*) AS BIGINT) FROM rl
        |    JOIN rf USING (query_id, vec_id)
        |    WHERE rl.query_id = an.vec_id) AS n_common
        |FROM an ORDER BY anchor_id""".stripMargin),
      "IVF lifecycle round-trip: build -> insert -> flagged split -> serve, bounded against a fresh-build serve"),

    // q271 — the round-11 pieces COMPOSED: sampled-anchor mining runs
    // UNCHANGED over the capped build's post-split membership (q268's
    // kmeansBucketsCapped feeds q265's mutualNnMarginIvfSampled as its
    // label column) — the cap is a build-entry guard precisely because
    // every downstream IVF operator derives its quantizer from
    // whatever assignment it is handed (the fixed-point re-derivation
    // contract). Tighter 9/8 cap so several buckets actually split at
    // both SFs; the oracle replays build → flag → split → post
    // centroids → reassignment → anchored mining end to end.
    Q("q271_mining_on_capped_index",
      (s, d) => {
        val post = graft.operators.Similarity.kmeansBucketsCapped(
          Tables(s, d, "embeddings"), col("vec_id"), col("embedding"),
          rounds = 2, capNum = 9, capDen = 8)
        graft.operators.Similarity.mutualNnMarginIvfSampled(
            post.select("vec_id", "v", "bucket"),
            col("vec_id"), col("v"), col("bucket"),
            k = 3, nprobe = 2, m = 192, seed = 17)
          .orderBy("vec_a", "vec_b")
      },
      Some(s"""$kmeansCtes,
        |sz AS MATERIALIZED (SELECT bucket, CAST(count(*) AS BIGINT) AS n
        |  FROM a2 GROUP BY 1),
        |fl AS MATERIALIZED (SELECT bucket FROM sz, nc, cc
        |  WHERE sz.n * 8 * cc.c > 9 * nc.n),
        |mx AS (SELECT max(bucket) AS maxb FROM a2),
        |fr AS (SELECT bucket, CAST(row_number() OVER (ORDER BY bucket)
        |    AS BIGINT) AS rnk FROM fl),
        |fm AS MATERIALIZED (SELECT m.vec_id, m.v, m.bucket
        |  FROM a2 m JOIN fl USING (bucket)),
        |sd2 AS MATERIALIZED (SELECT bucket,
        |    CAST(rn - 1 AS BIGINT) AS side, v AS sv FROM (
        |    SELECT bucket, vec_id, v, row_number() OVER (
        |      PARTITION BY bucket ORDER BY
        |        ('0x' || substring(md5('0#' ||
        |          CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
        |        vec_id) AS rn
        |    FROM fm) t WHERE rn <= 2),
        |asg AS MATERIALIZED (SELECT bucket, vec_id, side FROM (
        |  SELECT fm.bucket, fm.vec_id, s.side,
        |    row_number() OVER (PARTITION BY fm.bucket, fm.vec_id
        |      ORDER BY round(list_cosine_similarity(fm.v, s.sv), 4)
        |        DESC, s.side) AS rn
        |  FROM fm JOIN sd2 s USING (bucket)) t WHERE rn = 1),
        |post AS MATERIALIZED (
        |  SELECT m.vec_id, m.v, m.bucket
        |  FROM a2 m WHERE m.bucket NOT IN (SELECT bucket FROM fl)
        |  UNION ALL
        |  SELECT a.vec_id, m.v,
        |    CASE WHEN a.side = 0 THEN a.bucket
        |         ELSE mx.maxb + fr.rnk END
        |  FROM asg a JOIN a2 m ON m.vec_id = a.vec_id
        |      AND m.bucket = a.bucket
        |    JOIN fr ON fr.bucket = a.bucket, mx),
        |c3 AS MATERIALIZED (
        |  SELECT bucket AS c_lbl, list(cd ORDER BY dim) AS cv FROM (
        |    SELECT p.bucket, t.dim, round(avg(p.v[t.dim]), 6) AS cd
        |    FROM post p, generate_series(1, 64) AS t(dim)
        |    GROUP BY p.bucket, t.dim) u
        |  GROUP BY bucket),
        |pc AS MATERIALIZED (
        |  SELECT e.vec_id, c.c_lbl, row_number() OVER (
        |    PARTITION BY e.vec_id
        |    ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC,
        |      c.c_lbl) AS prn
        |  FROM e, c3 c),
        |aa AS MATERIALIZED (SELECT e.vec_id, e.v, pc.c_lbl AS bucket
        |  FROM e JOIN pc ON pc.vec_id = e.vec_id AND pc.prn = 1),
        |an AS MATERIALIZED (SELECT vec_id FROM e
        |  ORDER BY ('0x' || substring(md5('17#' ||
        |    CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id
        |  LIMIT 192),
        |p AS MATERIALIZED (SELECT e.vec_id AS query_id, e.v AS qv,
        |    pc.c_lbl AS pb
        |  FROM e JOIN an USING (vec_id)
        |    JOIN pc ON pc.vec_id = e.vec_id AND pc.prn <= 2),
        |r AS MATERIALIZED (SELECT query_id, vec_id, cos_sim,
        |    CAST(round(cos_sim * 10000) AS BIGINT) AS cu,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_sim DESC, vec_id) AS rn
        |  FROM (SELECT p.query_id, a.vec_id,
        |      round(list_cosine_similarity(a.v, p.qv), 4) AS cos_sim
        |    FROM p JOIN aa a ON a.bucket = p.pb
        |      AND a.vec_id <> p.query_id) s),
        |tk AS MATERIALIZED (SELECT * FROM r WHERE rn <= 3),
        |sm AS (SELECT query_id, CAST(sum(cu) AS BIGINT) AS sv
        |  FROM tk GROUP BY 1),
        |t1 AS (SELECT query_id AS src, vec_id AS dst, cos_sim, cu
        |  FROM tk WHERE rn = 1),
        |mu AS (SELECT x.src, x.dst, x.cos_sim, x.cu FROM t1 x
        |  JOIN t1 y ON y.src = x.dst AND y.dst = x.src
        |  WHERE x.src < x.dst)
        |SELECT mu.src AS vec_a, mu.dst AS vec_b, mu.cos_sim,
        |  CAST((2 * 3 * mu.cu * 10000) // (sx.sv + sy.sv) AS BIGINT)
        |    AS margin_bp
        |FROM mu JOIN sm sx ON sx.query_id = mu.src
        |        JOIN sm sy ON sy.query_id = mu.dst
        |WHERE mu.cu > 0 AND sx.sv + sy.sv > 0
        |ORDER BY vec_a, vec_b""".stripMargin),
      "sampled-anchor mining composed over the capped build's post-split membership (q268 -> q265 end to end)"),
  )

  /** Shared oracle prefix for the q253-q255 family: the corpus-scaled
    * k-means build replayed as unrolled CTEs — C = max(10, isqrt(n))
    * (isqrt as max s with s·s <= n, no libm; series bound 4000 covers
    * n <= 16M), seeds = the C smallest (md5-hash60, id) ranked into
    * bucket labels 0..C-1, then two Lloyd rounds (assign -> 6dp
    * centroid recompute), mirroring Similarity.kmeansBuckets(rounds=2)
    * bit for bit.
    */
  /** Shared oracle prefix for q261/q263: the 80/20 md5-gated split,
    * the q253-style k-means build on the BASE slice (C from |base|,
    * 2 Lloyd rounds), the frozen serving centroids c3, and the delta
    * assignment `da` against them.
    */
  private def gatedInsertCtes: String =
    """WITH ea AS MATERIALIZED (SELECT vec_id,
      |    embedding::DOUBLE[] AS v,
      |    ('0x' || substring(md5('0#' ||
      |      CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % 10 AS g
      |  FROM embeddings),
      |e AS MATERIALIZED (SELECT vec_id, v FROM ea WHERE g < 8),
      |ed AS MATERIALIZED (SELECT vec_id, v FROM ea WHERE g >= 8),
      |nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
      |cc AS (SELECT greatest(10, (SELECT CAST(max(s.s) AS BIGINT)
      |  FROM generate_series(1, 4000) s(s), nc
      |  WHERE s.s * s.s <= nc.n)) AS c),
      |sd AS MATERIALIZED (
      |  SELECT CAST(rn - 1 AS BIGINT) AS c_lbl, v AS cv FROM (
      |    SELECT v, row_number() OVER (ORDER BY
      |      ('0x' || substring(md5('0#' ||
      |        CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
      |      vec_id) AS rn
      |    FROM e) t
      |  WHERE rn <= (SELECT c FROM cc)),
      |a0 AS MATERIALIZED (
      |  SELECT vec_id, v, c_lbl AS bucket FROM (
      |    SELECT e.vec_id, e.v, s.c_lbl,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(list_cosine_similarity(e.v, s.cv), 4) DESC,
      |          s.c_lbl) AS prn
      |    FROM e, sd s) t WHERE prn = 1),
      |c1 AS MATERIALIZED (
      |  SELECT bucket AS c_lbl, list(cd ORDER BY dim) AS cv FROM (
      |    SELECT a.bucket, t.dim, round(avg(a.v[t.dim]), 6) AS cd
      |    FROM a0 a, generate_series(1, 64) AS t(dim)
      |    GROUP BY a.bucket, t.dim) u
      |  GROUP BY bucket),
      |a1 AS MATERIALIZED (
      |  SELECT vec_id, v, c_lbl AS bucket FROM (
      |    SELECT e.vec_id, e.v, c.c_lbl,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC,
      |          c.c_lbl) AS prn
      |    FROM e, c1 c) t WHERE prn = 1),
      |c2 AS MATERIALIZED (
      |  SELECT bucket AS c_lbl, list(cd ORDER BY dim) AS cv FROM (
      |    SELECT a.bucket, t.dim, round(avg(a.v[t.dim]), 6) AS cd
      |    FROM a1 a, generate_series(1, 64) AS t(dim)
      |    GROUP BY a.bucket, t.dim) u
      |  GROUP BY bucket),
      |a2 AS MATERIALIZED (
      |  SELECT vec_id, v, c_lbl AS bucket FROM (
      |    SELECT e.vec_id, e.v, c.c_lbl,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC,
      |          c.c_lbl) AS prn
      |    FROM e, c2 c) t WHERE prn = 1),
      |c3 AS MATERIALIZED (
      |  SELECT bucket AS c_lbl, list(cd ORDER BY dim) AS cv FROM (
      |    SELECT a.bucket, t.dim, round(avg(a.v[t.dim]), 6) AS cd
      |    FROM a2 a, generate_series(1, 64) AS t(dim)
      |    GROUP BY a.bucket, t.dim) u
      |  GROUP BY bucket),
      |da AS MATERIALIZED (
      |  SELECT vec_id, c_lbl AS bucket FROM (
      |    SELECT d.vec_id, c.c_lbl,
      |      row_number() OVER (PARTITION BY d.vec_id
      |        ORDER BY round(list_cosine_similarity(d.v, c.cv), 4) DESC,
      |          c.c_lbl) AS prn
      |    FROM ed d, c3 c) t WHERE prn = 1)""".stripMargin

  // a def, not a val: qs interpolates it during object init, before a
  // later-positioned val would be assigned
  private def kmeansCtes: String =
    """WITH e AS MATERIALIZED (SELECT vec_id,
      |    embedding::DOUBLE[] AS v FROM embeddings),
      |nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
      |cc AS (SELECT greatest(10, (SELECT CAST(max(s.s) AS BIGINT)
      |  FROM generate_series(1, 4000) s(s), nc
      |  WHERE s.s * s.s <= nc.n)) AS c),
      |sd AS MATERIALIZED (
      |  SELECT CAST(rn - 1 AS BIGINT) AS c_lbl, v AS cv FROM (
      |    SELECT v, row_number() OVER (ORDER BY
      |      ('0x' || substring(md5('0#' ||
      |        CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
      |      vec_id) AS rn
      |    FROM e) t
      |  WHERE rn <= (SELECT c FROM cc)),
      |a0 AS MATERIALIZED (
      |  SELECT vec_id, v, c_lbl AS bucket FROM (
      |    SELECT e.vec_id, e.v, s.c_lbl,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(list_cosine_similarity(e.v, s.cv), 4) DESC,
      |          s.c_lbl) AS prn
      |    FROM e, sd s) t WHERE prn = 1),
      |c1 AS MATERIALIZED (
      |  SELECT bucket AS c_lbl, list(cd ORDER BY dim) AS cv FROM (
      |    SELECT a.bucket, t.dim, round(avg(a.v[t.dim]), 6) AS cd
      |    FROM a0 a, generate_series(1, 64) AS t(dim)
      |    GROUP BY a.bucket, t.dim) u
      |  GROUP BY bucket),
      |a1 AS MATERIALIZED (
      |  SELECT vec_id, v, c_lbl AS bucket FROM (
      |    SELECT e.vec_id, e.v, c.c_lbl,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC,
      |          c.c_lbl) AS prn
      |    FROM e, c1 c) t WHERE prn = 1),
      |c2 AS MATERIALIZED (
      |  SELECT bucket AS c_lbl, list(cd ORDER BY dim) AS cv FROM (
      |    SELECT a.bucket, t.dim, round(avg(a.v[t.dim]), 6) AS cd
      |    FROM a1 a, generate_series(1, 64) AS t(dim)
      |    GROUP BY a.bucket, t.dim) u
      |  GROUP BY bucket),
      |a2 AS MATERIALIZED (
      |  SELECT vec_id, v, c_lbl AS bucket FROM (
      |    SELECT e.vec_id, e.v, c.c_lbl,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY round(list_cosine_similarity(e.v, c.cv), 4) DESC,
      |          c.c_lbl) AS prn
      |    FROM e, c2 c) t WHERE prn = 1)""".stripMargin
}
