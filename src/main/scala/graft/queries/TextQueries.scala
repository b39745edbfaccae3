package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.util.Tables

/** Text-analysis pack over `documents`: token counting, quality scoring,
  * language-ID heuristic, document fingerprinting. All per-row expression
  * work (codegen'd, shuffle-free until the final sort/agg) — the shape
  * that scales linearly to 100 TB.
  */
object TextQueries {

  private val tokenPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]" // Scala: \\s == regex \s
  private val stopwords = Seq("the", "a", "and", "of", "to", "in", "is", "it")
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "y", "de", "las"))

  private def inList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString(", ")

  /** Shared BM25 oracle chain (q100 + q116's text arm): exact-integer
    * Okapi scoring over the fixed query terms, ending at `c` =
    * (doc_id, nh, score_bp). Mirrors Retrieval.bm25ScoreBp.
    */
  private[queries] val bm25Ctes: String =
    """WITH w AS (SELECT doc_id,
      |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
      |  FROM documents),
      |dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM w),
      |g AS (SELECT CAST(sum(dl) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS n FROM dl),
      |tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok
      |  WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |sc AS (SELECT tf.doc_id,
      |    (2 * (n + 1) * 10000 + (df + 1)) // (2 * (df + 1)) AS idf_bp,
      |    (2 * (44 * tf * t) * 10000 + (20 * tf * t + 6 * t + 18 * dl.dl * n))
      |      // (2 * (20 * tf * t + 6 * t + 18 * dl.dl * n)) AS tfn_bp
      |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), g),
      |c AS (SELECT doc_id, count(*) AS nh,
      |    CAST(sum((2 * idf_bp * tfn_bp + 10000) // 20000) AS BIGINT) AS score_bp
      |  FROM sc GROUP BY doc_id)""".stripMargin

  val qs: Seq[Q] = Seq(

    // Token counting: whitespace tokens + a BPE-ish regex token count
    // (letter runs | digit runs | single non-alnum symbol).
    Q("q30_text_tokens",
      (s, d) => Tables(s, d, "documents").select(
        col("doc_id"),
        size(words(col("text"))).as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")), lit(tokenPattern), lit(0))).as("re_tokens"),
        length(col("text")).as("len_chars"),
        col("n_chars")
      ).orderBy("doc_id"),
      Some(s"""SELECT doc_id,
        |  CAST(len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INTEGER) AS re_tokens,
        |  CAST(length(text) AS INTEGER) AS len_chars,
        |  n_chars
        |FROM documents ORDER BY doc_id""".stripMargin),
      "whitespace + regex token counting"),

    // Quality scoring: length/punctuation/stopword signals combined into
    // a deterministic score (same raw-expression order as the oracle).
    // Every emitted ratio is EXACT integer basis-point arithmetic:
    // halfUp(a·10^4 / b) = (2·a·10^4 + b) div (2b) over positive longs
    // is the mathematically-correct round-half-up of the true rational
    // a/b — IntMath routes it through Catalyst's IntegralDivide (the
    // same operation as DuckDB's `//`), so no double ever enters the
    // rounding path. Rounding a double-computed ratio instead diverges
    // across engines whenever the value lands within 1 ulp of a .00005
    // boundary (observed at sf0.1: 3 of 50k docs differed in the 4th
    // decimal while sf0.01 never hits a boundary — the bug class that
    // only appears at scale). The final /10000.0 maps the same integer
    // to the same double on every engine.
    Q("q31_text_quality",
      (s, d) => {
        import graft.functions.IntMath.{bp, halfUp}
        val w = words(col("text"))
        val nWords = size(w).cast("long")
        val charSum = aggregate(transform(w, x => length(x)), lit(0),
          (acc, x) => acc + x).cast("long")
        val punct = size(regexp_extract_all(lower(col("text")),
          lit("[^a-z0-9\\s]"), lit(0))).cast("long")
        val nChars = length(col("text")).cast("long")
        val stopCnt = size(filter(w, x => x.isin(stopwords: _*))).cast("long")
        // score bp: min(1, n/200)·10^4 − punct_ratio·(0.5·10^4)
        // + stop_ratio·(0.2·10^4), each term exactly half-up rounded
        val scoreBp = least(lit(10000L), nWords * 50L) -
          halfUp(punct, nChars, 5000L) +
          halfUp(stopCnt, nWords, 2000L)
        Tables(s, d, "documents").select(
          col("doc_id"),
          nWords.cast("int").as("n_words"),
          (bp(charSum, nWords) / 10000.0).as("mean_word_len"),
          (bp(punct, nChars) / 10000.0).as("punct_ratio"),
          (bp(stopCnt, nWords) / 10000.0).as("stopword_ratio"),
          (scoreBp / 10000.0).as("quality_score")
        ).orderBy("doc_id")
      },
      Some(s"""WITH r AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws,
        |    CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\\s]')) AS BIGINT) AS punct,
        |    CAST(length(text) AS BIGINT) AS n_chars
        |  FROM documents),
        |x AS (
        |  SELECT doc_id, punct, n_chars,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(ws, x -> length(x))) AS BIGINT) AS char_sum,
        |    CAST(len(list_filter(ws, x -> x IN (${inList(stopwords)}))) AS BIGINT) AS stop_cnt
        |  FROM r)
        |SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
        |  ((char_sum * 20000 + n_words) // (n_words * 2)) / 10000.0 AS mean_word_len,
        |  ((punct * 20000 + n_chars) // (n_chars * 2)) / 10000.0 AS punct_ratio,
        |  ((stop_cnt * 20000 + n_words) // (n_words * 2)) / 10000.0 AS stopword_ratio,
        |  (least(10000, n_words * 50)
        |   - (punct * 10000 + n_chars) // (n_chars * 2)
        |   + (stop_cnt * 4000 + n_words) // (n_words * 2)) / 10000.0 AS quality_score
        |FROM x ORDER BY doc_id""".stripMargin),
      "doc quality scoring (length/punct/stopword signals; exact basis-point rounding)"),

    // Language-ID heuristic: marker-word counts per language, argmax with
    // a fixed priority order (en > de > fr > es > und).
    Q("q32_text_langid",
      (s, d) => {
        val w = words(col("text"))
        val scores = langMarkers.map { case (lang, ms) =>
          lang -> size(filter(w, x => x.isin(ms: _*)))
        }
        val Seq(en, de, fr, es) = scores.map(_._2)
        val guess = when(en > 0 && en >= de && en >= fr && en >= es, "en")
          .when(de > 0 && de >= fr && de >= es, "de")
          .when(fr > 0 && fr >= es, "fr")
          .when(es > 0, "es")
          .otherwise("und")
        Tables(s, d, "documents").select(
          (Seq(col("doc_id")) ++
            scores.map { case (l, c) => c.as(s"s_$l") } ++
            Seq(guess.as("lang_guess"),
              (guess === col("lang")).as("is_match"))): _*
        ).orderBy("doc_id")
      },
      Some({
        val scoreCols = langMarkers.map { case (l, ms) =>
          s"CAST(len(list_filter(ws, x -> x IN (${inList(ms)}))) AS INTEGER) AS s_$l"
        }.mkString(",\n    ")
        s"""WITH r AS (
          |  SELECT doc_id, lang,
          |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
          |  FROM documents),
          |x AS (
          |  SELECT doc_id, lang,
          |    $scoreCols
          |  FROM r),
          |y AS (
          |  SELECT doc_id, s_en, s_de, s_fr, s_es,
          |    CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
          |         WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
          |         WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr'
          |         WHEN s_es > 0 THEN 'es'
          |         ELSE 'und' END AS lang_guess,
          |    lang
          |  FROM x)
          |SELECT doc_id, s_en, s_de, s_fr, s_es, lang_guess,
          |  lang_guess = lang AS is_match
          |FROM y ORDER BY doc_id""".stripMargin
      }),
      "marker-word language-ID heuristic"),

    // Document fingerprinting: md5 of whitespace-normalized text, grouped
    // into duplicate families.
    Q("q33_text_fingerprint",
      (s, d) => Tables(s, d, "documents")
        .select(col("doc_id"), md5(normText(col("text"))).as("fingerprint"))
        .groupBy("fingerprint")
        .agg(min("doc_id").as("first_doc_id"), count(lit(1)).as("n_docs"))
        .orderBy("fingerprint"),
      Some("""SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
        |  min(doc_id) AS first_doc_id, count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY fingerprint""".stripMargin),
      "normalized-text md5 fingerprint families"),

    // Rolling-hash winnowing fingerprints (MOSS): any shared run of
    // n+w-1 = 6 words between two docs shares >=1 fingerprint — the
    // partial-overlap detector that whole-doc md5 (q33) cannot provide.
    Q("q40_text_winnowing",
      // native one-pass kernel (functions/Winnow.scala); bit-identical
      // to the composed TextFunctions.winnowFingerprints (property-
      // tested) and to this DuckDB oracle.
      (s, d) => Tables(s, d, "documents")
        .select(col("doc_id"),
          explode(graft.functions.Winnow.fingerprintsCol(
            col("text"), n = 3, w = 4)).as("fingerprint"))
        .orderBy("doc_id", "fingerprint"),
      Some("""WITH w AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, len(ws) - 2),
        |      i -> array_to_string(ws[i:i+2], ' ')) AS grams
        |  FROM w WHERE len(ws) >= 3),
        |h AS (
        |  SELECT doc_id,
        |    list_transform(grams,
        |      g -> ('0x' || substring(md5('0#' || g), 1, 15))::BIGINT) AS hs
        |  FROM g),
        |mn AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(hs) - 3),
        |      j -> list_min(hs[j:j+3]))) AS fps
        |  FROM h WHERE len(hs) >= 4)
        |SELECT doc_id, unnest(fps) AS fingerprint
        |FROM mn ORDER BY doc_id, fingerprint""".stripMargin),
      "winnowing rolling-hash fingerprints (MOSS; partial-overlap detection)"),

    // q61 — TF-IDF top term per document: the corpus-level statistic
    // pass (document frequency) joined back to per-doc term counts.
    // Scale shape: the (doc, term) aggregation gets map-side combine;
    // the df table collapses to one row per VOCAB term — tiny, so it
    // (and the 1-row corpus count) broadcast back; the only other
    // shuffle is the per-doc top-1 window. Ranking uses a 6dp-rounded
    // score with a term tiebreak so engine float drift cannot flip the
    // winner; the reported score is rounded to 4dp like every derived
    // float. Documented residual risk: raw = tf·ln(...) is
    // transcendental — JVM and DuckDB libm may differ by 1 ulp, so a
    // raw value landing exactly on a .0000005/.00005 rounding boundary
    // could still flip the rounded score (no integer form exists for
    // ln; the term tiebreak protects the RANKING but not the emitted
    // tfidf). Never observed through sf0.1; if it ever fires, the fix
    // is an epsilon comparison before the term tiebreak.
    Q("q61_tfidf_top_term",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, d, "documents")
        val tf = docs
          .select(col("doc_id"), explode(words(col("text"))).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val raw = col("tf") *
          log((col("n_docs") + lit(1)).cast("double") / (col("df") + lit(1)))
        tf.join(broadcast(dfreq), "term")
          .crossJoin(broadcast(nDocs))
          .withColumn("rn", row_number().over(Window.partitionBy("doc_id")
            .orderBy(round(raw, 6).desc, col("term"))))
          .filter(col("rn") === 1)
          .select(col("doc_id"), col("term").as("top_term"),
            round(raw, 4).as("tfidf"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, term,
        |    tf * ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) AS raw
        |  FROM tf JOIN df USING (term), n)
        |SELECT doc_id, term AS top_term, round(raw, 4) AS tfidf
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY doc_id
        |  ORDER BY round(raw, 6) DESC, term) = 1
        |ORDER BY doc_id""".stripMargin),
      "TF-IDF top term per doc (corpus df broadcast back to per-doc counts)"),

    // q100 — BM25 top-k retrieval with NO float in the scoring path:
    // the full inverted-index ranking function (Okapi BM25, k1 = 6/5,
    // b = 3/4) evaluated as exact integer arithmetic. Clearing the
    // denominators of tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with
    // avgdl = T/N gives tf_norm = 44·tf·T / (20·tf·T + 6·T + 18·dl·N);
    // the idf is the rational (N+1)/(df+1) (q61's substitution — no
    // transcendental, so both engines agree bit-for-bit; the log
    // damping is traded for cross-engine exactness). Per-term
    // contribution = halfUp(idf_bp · tfnorm_bp / 10⁴), summed as longs.
    // Long bounds hold through ~1e9 corpus tokens per stat partition;
    // beyond that the same formulas run in DECIMAL(38) unchanged.
    //
    // Scale shape: the isin(query terms) filter runs BEFORE the (doc,
    // term) agg — the posting lists of three terms, not the corpus
    // vocabulary, reach the shuffle; df/N/T collapse to broadcast rows;
    // the per-doc score is one map-side-combined agg + TakeOrdered.
    Q("q100_bm25_topk",
      (s, d) => graft.operators.Retrieval.bm25ScoreBp(
          Tables(s, d, "documents"), col("doc_id"), col("text"),
          Seq("spark", "join", "window"))
        .select(col("doc_id"), col("nh").cast("int").as("n_hit_terms"),
          (col("score_bp") / 10000.0).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(10),
      Some(s"""$bm25Ctes
        |SELECT doc_id, CAST(nh AS INTEGER) AS n_hit_terms,
        |  score_bp / 10000.0 AS bm25
        |FROM c ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin),
      "Okapi BM25 top-k in exact integer arithmetic (rational idf, cleared denominators)"),

    // q116 — HYBRID retrieval (BM25 + vector ANN fused by reciprocal
    // rank): the modern two-tower search shape — the text arm ranks the
    // q100 BM25 scores, the vector arm ranks exact cosine against query
    // vec 0 (the q27 ranking, 6dp + id tiebreak), and RRF combines the
    // two top-50 lists as Σ 1e6 div (60 + rank) — exact integer terms,
    // so fusion cannot drift cross-engine. Each ranker prunes to 50
    // rows via TakeOrdered BEFORE its row_number window, so no global
    // window ever sees more than 50 rows; the fusion join is a 50x50
    // full-outer over broadcast-sized lists.
    Q("q116_hybrid_rrf",
      (s, d) => {
        import graft.operators.{Retrieval, Similarity}
        val bm = Retrieval.bm25ScoreBp(Tables(s, d, "documents"),
          col("doc_id"), col("text"), Seq("spark", "join", "window"))
        val tr = Retrieval.topNRanks(bm, col("score_bp"), col("doc_id"),
          50, "text_rank")
        val embT = Tables(s, d, "embeddings")
        val emb = embT.filter(col("vec_id") =!= 0L)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val qv = embT.filter(col("vec_id") === 0L)
          .select(col("embedding").cast("array<double>").as("qv"))
        val cos = emb.crossJoin(broadcast(qv))
          .select(col("vec_id"),
            round(graft.functions.ArrayCosine.cosine(
              col("v"), col("qv")), 6).as("rc"))
        val vr = Retrieval.topNRanks(cos, col("rc"), col("vec_id"),
          50, "vec_rank")
        Retrieval.rrfFuse(tr, "doc_id", "text_rank", vr, "vec_id", "vec_rank")
          .select(col("id"), col("rank_a").as("text_rank"),
            col("rank_b").as("vec_rank"), col("rrf_score"))
          .orderBy(col("rrf_score").desc, col("id"))
          .limit(20)
      },
      Some(s"""$bm25Ctes,
        |tr AS (SELECT doc_id AS id,
        |    CAST(row_number() OVER (ORDER BY score_bp DESC, doc_id) AS INTEGER)
        |      AS text_rank
        |  FROM c ORDER BY score_bp DESC, doc_id LIMIT 50),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |cosr AS (SELECT vec_id, round(list_cosine_similarity(v, qv), 6) AS rc
        |  FROM e, q WHERE vec_id <> 0),
        |vr AS (SELECT vec_id AS id,
        |    CAST(row_number() OVER (ORDER BY rc DESC, vec_id) AS INTEGER)
        |      AS vec_rank
        |  FROM cosr ORDER BY rc DESC, vec_id LIMIT 50)
        |SELECT coalesce(tr.id, vr.id) AS id, text_rank, vec_rank,
        |  CAST(coalesce(1000000 // (60 + text_rank), 0)
        |    + coalesce(1000000 // (60 + vec_rank), 0) AS BIGINT) AS rrf_score
        |FROM tr FULL OUTER JOIN vr ON tr.id = vr.id
        |ORDER BY rrf_score DESC, id LIMIT 20""".stripMargin),
      "hybrid BM25 + vector retrieval fused by integer reciprocal-rank (RRF, k=60)"),

    // q105 — vocabulary coverage / OOV rate: the tokenizer-fit signal a
    // training pipeline computes before committing to a vocab — build
    // the reference vocabulary as the corpus's top-100 terms by
    // frequency (count desc, term asc: the tie at the cutoff is
    // deterministic on both engines), then score every document's
    // out-of-vocabulary token fraction in exact basis points.
    //
    // Scale shape: term counts are one map-side-combined shuffle; the
    // vocab is a top-k of the VOCABULARY (tiny) and broadcasts back; the
    // per-doc OOV count is a broadcast left-join + one doc-keyed agg —
    // the corpus tokens never shuffle twice.
    Q("q105_vocab_coverage",
      (s, d) => {
        val w = Tables(s, d, "documents")
          .select(col("doc_id"), explode(words(col("text"))).as("term"))
        val vocab = w.groupBy("term").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("term")).limit(100)
          .select(col("term"), lit(true).as("in_vocab"))
        w.join(broadcast(vocab), Seq("term"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
          .select(col("doc_id"), col("n_tokens").cast("int").as("n_tokens"),
            col("n_oov").cast("int").as("n_oov"),
            (graft.functions.IntMath.bp(col("n_oov"), col("n_tokens")) / 10000.0)
              .as("oov_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id,
        |    unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS term
        |  FROM documents),
        |v AS (SELECT term FROM (
        |    SELECT term, count(*) AS cnt FROM tok GROUP BY term)
        |  ORDER BY cnt DESC, term LIMIT 100),
        |j AS (SELECT tok.doc_id, (v.term IS NOT NULL) AS hit
        |  FROM tok LEFT JOIN v ON tok.term = v.term),
        |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN hit THEN 0 ELSE 1 END) AS BIGINT) AS n_oov
        |  FROM j GROUP BY doc_id)
        |SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
        |  CAST(n_oov AS INTEGER) AS n_oov,
        |  ((2 * n_oov * 10000 + n_tokens) // (2 * n_tokens)) / 10000.0 AS oov_frac
        |FROM c ORDER BY doc_id""".stripMargin),
      "vocab coverage: top-100 corpus vocab broadcast back, exact per-doc OOV rate"),

    // q118 — COUNT-MIN SKETCH heavy hitters, audited against exact
    // counts (the q54/q63 sketch-audit pattern for frequency sketches):
    // d=4 hash rows (md5-derived, seeds 101..104 — deterministic and
    // replayable in SQL) x w=256 buckets; est(term) = min over rows of
    // its bucket's total. The audit emits estimate alongside exact —
    // overcount >= 0 ALWAYS (CMS never underestimates; CmsSpec pins the
    // property), and the top-10's overcounts show the d*w -> accuracy
    // trade directly.
    //
    // Scale shape: the only corpus-sized shuffle is the vocabulary agg
    // (map-side combined); bucket sums collapse the VOCAB table to
    // d*w = 1024 rows; heavy hitters via TakeOrdered; fusion joins are
    // broadcast-sized. The sketch itself is mergeable across shards —
    // the point of CMS at 100 TB (per-executor partials sum cell-wise).
    Q("q118_cms_heavy_hitters",
      (s, d) => {
        val cmsD = 4
        val cmsW = 256
        val tok = Tables(s, d, "documents")
          .select(explode(words(col("text"))).as("term"))
          .filter(length(col("term")) > 0)
        val exact = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
        val rb = exact.select(col("term"), col("cnt"),
          explode(array((0 until cmsD).map(r =>
            struct(lit(r).as("r"),
              (hash60(col("term"), 101 + r) % cmsW).cast("int").as("bkt"))): _*))
            .as("rb"))
          .select(col("term"), col("cnt"),
            col("rb.r").as("r"), col("rb.bkt").as("bkt"))
        val sums = rb.groupBy("r", "bkt").agg(sum("cnt").as("bsum"))
        val top = exact.orderBy(col("cnt").desc, col("term")).limit(10)
        top.join(rb.drop("cnt"), "term")
          .join(broadcast(sums), Seq("r", "bkt"))
          .groupBy("term", "cnt")
          .agg(min("bsum").as("cms_est"))
          .select(col("term"), col("cnt").as("exact_cnt"),
            col("cms_est"), (col("cms_est") - col("cnt")).as("overcount"))
          .orderBy(col("exact_cnt").desc, col("term"))
      },
      Some("""WITH w AS (SELECT
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
        |  FROM documents),
        |tok AS (SELECT unnest(ws) AS term FROM w),
        |exact AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok
        |  WHERE len(term) > 0 GROUP BY term),
        |rb AS (SELECT term, cnt, r.r,
        |    CAST(('0x' || substring(md5((101 + r.r)::VARCHAR || '#' || term), 1, 15))::BIGINT
        |      % 256 AS INTEGER) AS bkt
        |  FROM exact, generate_series(0, 3) AS r(r)),
        |sums AS (SELECT r, bkt, CAST(sum(cnt) AS BIGINT) AS bsum
        |  FROM rb GROUP BY r, bkt),
        |top AS (SELECT term, cnt FROM exact ORDER BY cnt DESC, term LIMIT 10)
        |SELECT t.term, t.cnt AS exact_cnt, min(s.bsum) AS cms_est,
        |  min(s.bsum) - t.cnt AS overcount
        |FROM top t JOIN rb ON rb.term = t.term
        |JOIN sums s ON s.r = rb.r AND s.bkt = rb.bkt
        |GROUP BY t.term, t.cnt
        |ORDER BY exact_cnt DESC, t.term""".stripMargin),
      "count-min sketch (d=4, w=256) heavy hitters audited against exact counts"),

    // q119 — INVERTED INDEX build: the materialized (term -> df,
    // total_tf, top-5 postings) table BM25 (q100) computes on the fly —
    // building it once is how a retrieval system amortizes the corpus
    // scan. Postings keep the 5 highest-tf docs per term (tf desc,
    // doc_id asc) serialized "doc:tf,...", selected by the native
    // TopKPerKey node — partial per-partition heaps mean a hot term
    // ships at most 5 rows per input partition to the exchange, never
    // its full posting list (the q66/q76 machinery); no window sort of
    // the (term, doc) table anywhere. Index rows cut to the top-100
    // terms by (df desc, term) — a deterministic TakeOrdered cutoff.
    Q("q119_inverted_index",
      (s, d) => {
        val tf = Tables(s, d, "documents")
          .select(col("doc_id"), explode(words(col("text"))).as("term"))
          .filter(length(col("term")) > 0)
          .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
        val stats = tf.groupBy("term")
          .agg(count(lit(1)).as("df"), sum("tf").as("total_tf"))
        val top = graft.plans.TopK.perKey(tf, keyCols = Seq("term"),
          orderCol = "tf", desc = true, tiebreak = Seq("doc_id"), k = 5)
        val postings = top.groupBy("term")
          .agg(array_join(transform(array_sort(collect_list(struct(
              (-col("tf")).as("s1"), col("doc_id").as("s2"),
              concat_ws(":", col("doc_id"), col("tf")).as("p")))),
            x => x.getField("p")), ",").as("postings"))
        stats.join(postings, "term")
          .select(col("term"), col("df"), col("total_tf"), col("postings"))
          .orderBy(col("df").desc, col("term"))
          .limit(100)
      },
      Some("""WITH w AS (SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS term FROM w),
        |tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tok
        |  WHERE len(term) > 0 GROUP BY 1, 2),
        |stats AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
        |    CAST(sum(tf) AS BIGINT) AS total_tf
        |  FROM tf GROUP BY 1),
        |top AS (SELECT term, doc_id, tf FROM tf
        |  QUALIFY row_number() OVER (PARTITION BY term
        |    ORDER BY tf DESC, doc_id) <= 5),
        |p AS (SELECT term,
        |    string_agg(doc_id::VARCHAR || ':' || tf::VARCHAR, ','
        |      ORDER BY tf DESC, doc_id) AS postings
        |  FROM top GROUP BY term)
        |SELECT s.term, s.df, s.total_tf, p.postings
        |FROM stats s JOIN p USING (term)
        |ORDER BY df DESC, s.term LIMIT 100""".stripMargin),
      "inverted index: df/total_tf + top-5 postings per term via native per-partition heaps"),

    // q144 — VOCABULARY ID assignment: dense integer ids for the corpus
    // vocabulary in frequency order (count desc, term asc) — the
    // tokenizer-table build step (id 1 = most frequent). Ids come from
    // Rank.globalRank over the NEGATED count, so the vocabulary-sized
    // table is never sorted in one task (same no-single-partition-window
    // contract as q115, replayed by the oracle's plain row_number).
    // Output cut to ids <= 30 for a bounded result; the full mapping is
    // the same frame un-limited.
    Q("q144_vocab_ids",
      (s, d) => {
        val cnt = Tables(s, d, "documents")
          .select(explode(words(col("text"))).as("term"))
          .filter(length(col("term")) > 0)
          .groupBy("term").agg(count(lit(1)).as("cnt"))
          .withColumn("neg", -col("cnt"))
        graft.operators.Rank.globalRank(cnt, "neg", "term")
          .select(col("global_rank").as("vocab_id"), col("term"), col("cnt"))
          .filter(col("vocab_id") <= 30)
          .orderBy("vocab_id")
      },
      Some("""WITH w AS (SELECT
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
        |  FROM documents),
        |tok AS (SELECT unnest(ws) AS term FROM w),
        |cnt AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok
        |  WHERE len(term) > 0 GROUP BY term)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, term) AS BIGINT)
        |    AS vocab_id, term, cnt
        |FROM cnt QUALIFY vocab_id <= 30 ORDER BY vocab_id""".stripMargin),
      "frequency-ordered vocabulary id table via distributed rank (tokenizer build step)"),

    // q145 — TOKENIZER FERTILITY per language: regex-tokens per
    // whitespace-word (q30's two counts), aggregated per language in
    // exact basis points — the "how many subwords does this tokenizer
    // spend per word in each language" fit signal that decides vocab
    // allocation across languages. One language-keyed agg over per-row
    // counts; exact integer ratio.
    Q("q145_tokenizer_fertility",
      (s, d) => {
        import graft.functions.IntMath
        val t = Tables(s, d, "documents").select(col("lang"),
          size(words(col("text"))).cast("long").as("ws"),
          size(regexp_extract_all(lower(col("text")), lit(tokenPattern),
            lit(0))).cast("long").as("re"))
        t.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"), sum("ws").as("n_words"),
            sum("re").as("n_tokens"))
          .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
            (IntMath.bp(col("n_tokens"), col("n_words")) / 10000.0)
              .as("fertility"))
          .orderBy("lang")
      },
      Some(s"""WITH t AS (SELECT lang,
        |    CAST(len(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS BIGINT) AS ws,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS re
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(ws) AS BIGINT) AS n_words,
        |  CAST(sum(re) AS BIGINT) AS n_tokens,
        |  ((2 * sum(re) * 10000 + sum(ws)) // (2 * sum(ws))) / 10000.0
        |    AS fertility
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin),
      "tokens-per-word fertility per language (exact bp ratio, one keyed agg)"),

    // q160 — AUTOCOMPLETE prefix index: for every 2..4-char prefix of
    // the corpus vocabulary, the top-3 completions by frequency — the
    // typeahead build step. Prefix explode is bounded (3 prefixes per
    // term); per-prefix top-3 rides the native TopKPerKey heaps (a hot
    // prefix ships <= 3 rows per partition, never its completion
    // list); output cut to the 30 highest-volume prefixes.
    Q("q160_prefix_index",
      (s, d) => {
        val cnt = Tables(s, d, "documents")
          .select(explode(words(col("text"))).as("term"))
          .filter(length(col("term")) >= 4)
          .groupBy("term").agg(count(lit(1)).as("cnt"))
        val pre = cnt.select(col("term"), col("cnt"),
            explode(array((2 to 4).map(n =>
              substring(col("term"), 1, n)): _*)).as("prefix"))
        val top3 = graft.plans.TopK.perKey(pre, keyCols = Seq("prefix"),
          orderCol = "cnt", desc = true, tiebreak = Seq("term"), k = 3)
        val vol = pre.groupBy("prefix").agg(sum("cnt").as("n_tokens"))
        val completions = top3.groupBy("prefix")
          .agg(array_join(transform(array_sort(collect_list(struct(
              (-col("cnt")).as("s1"), col("term").as("s2"),
              concat_ws(":", col("term"), col("cnt")).as("p")))),
            x => x.getField("p")), ",").as("completions"))
        vol.join(completions, "prefix")
          .orderBy(col("n_tokens").desc, col("prefix"))
          .limit(30)
      },
      Some("""WITH w AS (SELECT
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
        |  FROM documents),
        |cnt AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(ws) AS term FROM w)
        |  WHERE len(term) >= 4 GROUP BY term),
        |pre AS (SELECT term, cnt, substring(term, 1, n.n) AS prefix
        |  FROM cnt, generate_series(2, 4) AS n(n)),
        |top3 AS (SELECT prefix, term, cnt FROM pre
        |  QUALIFY row_number() OVER (PARTITION BY prefix
        |    ORDER BY cnt DESC, term) <= 3),
        |vol AS (SELECT prefix, CAST(sum(cnt) AS BIGINT) AS n_tokens
        |  FROM pre GROUP BY prefix),
        |c AS (SELECT prefix, string_agg(term || ':' || cnt, ','
        |    ORDER BY cnt DESC, term) AS completions
        |  FROM top3 GROUP BY prefix)
        |SELECT vol.prefix, n_tokens, completions
        |FROM vol JOIN c ON vol.prefix = c.prefix
        |ORDER BY n_tokens DESC, vol.prefix LIMIT 30""".stripMargin),
      "typeahead prefix index: top-3 completions per prefix via native heaps"),

    // q170 — VOCAB COVERAGE curve: what fraction of all token
    // OCCURRENCES the top-10 / top-100 / top-1000 vocabulary entries
    // cover, in exact basis points — the Zipf curve read as the
    // vocab-size decision input (q105 scores docs against ONE vocab;
    // this picks the vocab size). Ranks via Rank.globalRank over the
    // negated counts (no single-partition window over the vocabulary),
    // then three band sums in one agg pass.
    Q("q170_vocab_coverage_curve",
      (s, d) => {
        import graft.functions.IntMath
        val cnt = Tables(s, d, "documents")
          .select(explode(words(col("text"))).as("term"))
          .filter(length(col("term")) > 0)
          .groupBy("term").agg(count(lit(1)).as("cnt"))
          .withColumn("neg", -col("cnt"))
        val ranked = graft.operators.Rank.globalRank(cnt, "neg", "term")
        val tot = ranked.agg(sum("cnt").as("total"),
          count(lit(1)).as("vocab_size"))
        val ks = Seq(10L, 100L, 1000L)
        ranked.select(col("cnt"), col("global_rank"),
            explode(array(ks.map(lit): _*)).as("k"))
          .filter(col("global_rank") <= col("k"))
          .groupBy("k")
          .agg(count(lit(1)).as("n_terms"), sum("cnt").as("covered"))
          .crossJoin(broadcast(tot))
          .select(col("k"), col("n_terms"), col("vocab_size"),
            IntMath.bp(col("covered"), col("total")).as("covered_bp"))
          .orderBy("k")
      },
      Some("""WITH w AS (SELECT
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
        |  FROM documents),
        |cnt AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(ws) AS term FROM w)
        |  WHERE len(term) > 0 GROUP BY term),
        |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term) AS rnk
        |  FROM cnt),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
        |    CAST(count(*) AS BIGINT) AS vocab_size FROM cnt)
        |SELECT k.k, CAST(count(*) AS BIGINT) AS n_terms, tot.vocab_size,
        |  CAST((2 * sum(cnt) * 10000 + total) // (2 * total) AS BIGINT)
        |    AS covered_bp
        |FROM r, (VALUES (10), (100), (1000)) AS k(k), tot
        |WHERE rnk <= k.k
        |GROUP BY k.k, tot.vocab_size, tot.total ORDER BY k.k""".stripMargin),
      "Zipf coverage curve at vocab sizes 10/100/1000 (exact bp, distributed ranks)"),

    // q171 — HEAPS-LAW growth point: distinct 3-gram vocabulary of the
    // first corpus half vs what the second half ADDS — the
    // diminishing-returns measurement behind "will more data still add
    // content?" (the q125/q135 novelty signals aggregated to corpus
    // level). Two gram aggs sharing one partitioning; 1-row output
    // with the second half's marginal contribution in exact bp.
    Q("q171_vocab_growth",
      (s, d) => {
        import graft.functions.IntMath
        val g = Tables(s, d, "documents")
          .select(col("doc_id"), explode(graft.functions.TextFunctions
            .distinctGrams(col("text"), 3)).as("gram"))
        val firstSeen = g.groupBy("gram").agg(min("doc_id").as("fd"))
        val mid = Tables(s, d, "documents")
          .agg(expr("max(doc_id) div 2").as("mid"))
        firstSeen.crossJoin(broadcast(mid))
          .agg(count(lit(1)).as("total_grams"),
            sum(when(col("fd") <= col("mid"), 1L).otherwise(0L))
              .as("first_half_grams"),
            sum(when(col("fd") > col("mid"), 1L).otherwise(0L))
              .as("added_by_second_half"))
          .select(col("total_grams"), col("first_half_grams"),
            col("added_by_second_half"),
            IntMath.bp(col("added_by_second_half"), col("total_grams"))
              .as("growth_bp"))
      },
      Some("""WITH w AS (SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
        |  FROM documents),
        |d AS (SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ws) - 2),
        |      i -> array_to_string(ws[i:i+2], ' '))) AS grams
        |  FROM w WHERE len(ws) >= 3),
        |fs AS (SELECT gram, min(doc_id) AS fd
        |  FROM (SELECT doc_id, unnest(grams) AS gram FROM d) GROUP BY gram),
        |mid AS (SELECT CAST(max(doc_id) // 2 AS BIGINT) AS mid FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS total_grams,
        |  CAST(sum(CASE WHEN fd <= mid THEN 1 ELSE 0 END) AS BIGINT)
        |    AS first_half_grams,
        |  CAST(sum(CASE WHEN fd > mid THEN 1 ELSE 0 END) AS BIGINT)
        |    AS added_by_second_half,
        |  CAST((2 * sum(CASE WHEN fd > mid THEN 1 ELSE 0 END) * 10000
        |    + count(*)) // (2 * count(*)) AS BIGINT) AS growth_bp
        |FROM fs, mid""".stripMargin),
      "Heaps-law point: marginal gram vocabulary added by the second corpus half"),

    // q195 — CONJUNCTIVE (boolean-AND) retrieval, rarest-first: docs
    // containing ALL of {vector, stream, window}, ranked by summed
    // integer tf·idf (q100's rational idf). The posting intersection
    // chains semi-joins from the RAREST term — every probe is bounded
    // by min(df), the classic conjunctive-query optimization; only the
    // |terms|-row df table touches the driver (to fix the chain order).
    // Complements q100 (disjunctive BM25) and q119 (the index build).
    Q("q195_conjunctive_retrieval",
      (s, d) => graft.operators.Retrieval.conjunctiveTopK(
          Tables(s, d, "documents"), col("doc_id"), col("text"),
          terms = Seq("vector", "stream", "window"), k = 20),
      Some("""WITH t AS (SELECT doc_id,
        |    unnest(string_split(regexp_replace(lower(trim(text)),
        |      '\s+', ' ', 'g'), ' ')) AS term
        |  FROM documents),
        |f AS (SELECT doc_id, term, count(*) AS tf FROM t
        |  WHERE term IN ('vector', 'stream', 'window') GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM f GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |cand AS (SELECT doc_id FROM f GROUP BY 1
        |  HAVING count(DISTINCT term) = 3),
        |sc AS (SELECT f.doc_id,
        |    CAST(sum(f.tf * ((100 * (nd.n_docs + 1)) // (dfq.df + 1)))
        |      AS BIGINT) AS score
        |  FROM f JOIN cand USING (doc_id) JOIN dfq USING (term), nd
        |  GROUP BY 1)
        |SELECT doc_id, score FROM sc
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
      "rarest-first conjunctive AND retrieval with integer tf-idf ranking"),

    // q208 — COLLOCATION mining: adjacent word pairs ranked by the
    // exact-integer PMI ratio r = c(xy)·T² div (B·c(x)·c(y)) in bp
    // (the monotone core of PMI with the log stripped — the no-libm
    // bargain of q94/q100), support-capped at c(xy) ≥ 20 so rare
    // accidents don't dominate. The corpus-linguistics primitive that
    // separates phrases ("machine learning") from chance adjacency.
    // Scale: token/bigram counts are algebraic folds; T/B ride as
    // 1-row broadcasts; top-20 via TakeOrderedAndProject.
    Q("q208_collocations",
      (s, d) => {
        import graft.functions.TextFunctions.words
        val docs = Tables(s, d, "documents")
        val toks = docs.select(explode(words(col("text"))).as("w"))
        val uni = toks.groupBy("w").agg(count(lit(1)).as("c1"))
        val tTot = toks.agg(count(lit(1)).cast("decimal(38,0)").as("t"))
        val bi = docs
          .select(words(col("text")).as("ws"))
          .filter(size(col("ws")) >= 2)
          .select(explode(
            graft.functions.WordGramsNative.gramsCol(col("ws"), 2))
            .as("bigram"))
          .groupBy("bigram").agg(count(lit(1)).as("n_xy"))
        val bTot = bi.agg(sum("n_xy").cast("decimal(38,0)").as("b"))
        bi.filter(col("n_xy") >= 20)
          .withColumn("w1", split(col("bigram"), " ").getItem(0))
          .withColumn("w2", split(col("bigram"), " ").getItem(1))
          .join(uni.select(col("w").as("w1"), col("c1").as("cx")), "w1")
          .join(uni.select(col("w").as("w2"), col("c1").as("cy")), "w2")
          .crossJoin(broadcast(tTot)).crossJoin(broadcast(bTot))
          .select(col("bigram"), col("n_xy"),
            expr("CAST((10000 * n_xy * t * t) div (b * cx * cy) AS BIGINT)")
              .as("lift_bp"))
          .orderBy(desc("lift_bp"), col("bigram"))
          .limit(20)
      },
      Some("""WITH w AS (SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
        |      ' ') AS ws
        |  FROM documents),
        |tok AS (SELECT unnest(ws) AS t FROM w),
        |uni AS (SELECT t AS wd, count(*) AS c1 FROM tok GROUP BY 1),
        |tt AS (SELECT CAST(count(*) AS HUGEINT) AS t FROM tok),
        |bg AS (SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
        |      i -> array_to_string(ws[i:i+1], ' '))) AS bigram
        |  FROM w WHERE len(ws) >= 2),
        |bc AS (SELECT bigram, count(*) AS n_xy FROM bg GROUP BY 1),
        |bt AS (SELECT CAST(sum(n_xy) AS HUGEINT) AS b FROM bc),
        |k AS (SELECT bigram, n_xy,
        |    string_split(bigram, ' ')[1] AS w1,
        |    string_split(bigram, ' ')[2] AS w2
        |  FROM bc WHERE n_xy >= 20)
        |SELECT k.bigram, CAST(k.n_xy AS BIGINT) AS n_xy,
        |  CAST((10000 * k.n_xy * tt.t * tt.t) // (bt.b * ux.c1 * uy.c1)
        |    AS BIGINT) AS lift_bp
        |FROM k JOIN uni ux ON ux.wd = k.w1 JOIN uni uy ON uy.wd = k.w2,
        |  tt, bt
        |ORDER BY lift_bp DESC, bigram LIMIT 20""".stripMargin),
      "collocations: support-capped adjacent pairs by exact-integer PMI ratio"),

    // q212 — PERSISTED inverted index with partition-pruned probe:
    // q175's serving layout for the lexical side — postings written
    // once partitioned by term-hash bucket, the term lookup read back
    // through a PartitionFilter (non-probed buckets pruned at the FILE
    // level; a query touches 1/16 of the index at any corpus size),
    // the probe bucket computed driver-side with the same md5
    // derivation. Completes the serving-layout story across both
    // retrieval families.
    Q("q212_inverted_partitioned",
      (s, d) => graft.operators.Retrieval.invertedTopKPartitioned(
        Tables(s, d, "documents"), col("doc_id"), col("text"),
        queryTerm = "vector", k = 10, buckets = 16,
        indexDir = graft.util.TmpDirs.perProcess("graft_q212_inv")),
      Some("""WITH w AS (SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
        |      ' ') AS ws
        |  FROM documents),
        |t AS (SELECT doc_id, unnest(ws) AS term FROM w),
        |f AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM f GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT f.doc_id,
        |  CAST(f.tf * ((100 * (nd.n_docs + 1)) // (dfq.df + 1)) AS BIGINT)
        |    AS w
        |FROM f JOIN dfq USING (term), nd WHERE f.term = 'vector'
        |ORDER BY w DESC, doc_id LIMIT 10""".stripMargin),
      "persisted term-bucket-partitioned inverted index, file-level pruned probe"),

    // q213 — BPE MERGE LEARNING (Sennrich ACL'16), 3 rounds: the
    // tokenizer-training primitive, distributed the SentencePiece-port
    // way — corpus collapses once to a frequency-weighted vocabulary
    // (Zipf: vocab ≪ corpus), each round is a weighted pair-count over
    // the vocab + a 1-row winner broadcast + a per-row string rewrite.
    // Symbol sequences use the doubled-separator encoding so plain
    // leftmost-non-overlapping replace() (identical in Spark and
    // DuckDB) IS greedy left-to-right BPE merge application — a run of
    // four a's merges to [aa, aa], not [aa, a, a]. Winner tiebreak
    // (count DESC, pair ASC). See operators/Bpe.scala.
    Q("q213_bpe_merges",
      (s, d) => {
        import graft.functions.TextFunctions.words
        val vocab = Tables(s, d, "documents")
          .select(explode(words(col("text"))).as("wd"))
          .filter(col("wd").rlike("^[a-z]{1,24}$"))
          .groupBy("wd").agg(count(lit(1)).as("f"))
        graft.operators.Bpe.learnMerges(vocab, rounds = 3)
      },
      Some("""WITH w AS (SELECT unnest(string_split_regex(
        |      lower(trim(text)), '\s+')) AS wd FROM documents),
        |v AS (SELECT wd, count(*) AS f FROM w
        |  WHERE regexp_matches(wd, '^[a-z]{1,24}$') GROUP BY 1),
        |s0 AS (SELECT f,
        |    '  ' || regexp_replace(wd, '(.)', '\1  ', 'g') AS seq FROM v),
        |p1 AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM (
        |    SELECT f, unnest(list_transform(generate_series(1, len(sy)-1),
        |        i -> sy[i] || ' ' || sy[i+1])) AS pair
        |    FROM (SELECT f, string_split_regex(trim(seq), ' +') AS sy
        |          FROM s0)) GROUP BY 1),
        |w1 AS (SELECT pair, n FROM p1 ORDER BY n DESC, pair LIMIT 1),
        |s1 AS (SELECT f, replace(seq,
        |    ' ' || replace(pair, ' ', '  ') || ' ',
        |    ' ' || replace(pair, ' ', '') || ' ') AS seq FROM s0, w1),
        |p2 AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM (
        |    SELECT f, unnest(list_transform(generate_series(1, len(sy)-1),
        |        i -> sy[i] || ' ' || sy[i+1])) AS pair
        |    FROM (SELECT f, string_split_regex(trim(seq), ' +') AS sy
        |          FROM s1)) GROUP BY 1),
        |w2 AS (SELECT pair, n FROM p2 ORDER BY n DESC, pair LIMIT 1),
        |s2 AS (SELECT f, replace(seq,
        |    ' ' || replace(pair, ' ', '  ') || ' ',
        |    ' ' || replace(pair, ' ', '') || ' ') AS seq FROM s1, w2),
        |p3 AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM (
        |    SELECT f, unnest(list_transform(generate_series(1, len(sy)-1),
        |        i -> sy[i] || ' ' || sy[i+1])) AS pair
        |    FROM (SELECT f, string_split_regex(trim(seq), ' +') AS sy
        |          FROM s2)) GROUP BY 1),
        |w3 AS (SELECT pair, n FROM p3 ORDER BY n DESC, pair LIMIT 1)
        |SELECT 1 AS merge_round, pair, n FROM w1
        |UNION ALL SELECT 2, pair, n FROM w2
        |UNION ALL SELECT 3, pair, n FROM w3
        |ORDER BY merge_round""".stripMargin),
      "BPE merge learning, 3 rounds over the frequency-weighted vocab — tokenizer training's core loop"),

    // q216 — POSITIONAL PHRASE SEARCH: documents ranked by exact-phrase
    // frequency of "table hash" — the query a positional index answers
    // and every bag-of-words scorer (q100/q195/q212) cannot. A phrase
    // hit is an equi-join of the two terms' positional postings on
    // (doc_id, position−offset); only the phrase terms' postings ever
    // shuffle (isin filter on the exploded stream), so a query touches
    // |phrase| posting lists at any corpus size.
    Q("q216_phrase_search",
      (s, d) => graft.operators.Retrieval.phraseTopK(
        Tables(s, d, "documents"), col("doc_id"), col("text"),
        phrase = Seq("table", "hash"), k = 20),
      Some("""WITH w AS (SELECT doc_id,
        |    string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
        |      ' ') AS ws
        |  FROM documents),
        |h AS (SELECT doc_id, len(list_filter(generate_series(1, len(ws) - 1),
        |    i -> ws[i] = 'table' AND ws[i+1] = 'hash')) AS phrase_tf
        |  FROM w)
        |SELECT doc_id, CAST(phrase_tf AS BIGINT) AS phrase_tf
        |FROM h WHERE phrase_tf > 0
        |ORDER BY phrase_tf DESC, doc_id LIMIT 20""".stripMargin),
      "positional phrase search — postings intersection on (doc, position)"),

    // q222 — TOKENIZER FERTILITY after the 3 learned BPE merges: q213
    // learns the merge table; this applies it back to the
    // frequency-weighted vocab (a fold of literal replaces carrying the
    // rounds-row driver artifact — "train once, ship the merge table")
    // and reports tokens-per-word in exact bp plus the symbol
    // inventory. The oracle replays learning AND application.
    Q("q222_bpe_fertility",
      (s, d) => {
        import graft.functions.TextFunctions.words
        val vocab = Tables(s, d, "documents")
          .select(explode(words(col("text"))).as("wd"))
          .filter(col("wd").rlike("^[a-z]{1,24}$"))
          .groupBy("wd").agg(count(lit(1)).as("f"))
        graft.operators.Bpe.fertilityAfterMerges(vocab, rounds = 3)
      },
      Some("""WITH w AS (SELECT unnest(string_split_regex(
        |      lower(trim(text)), '\s+')) AS wd FROM documents),
        |v AS (SELECT wd, count(*) AS f FROM w
        |  WHERE regexp_matches(wd, '^[a-z]{1,24}$') GROUP BY 1),
        |s0 AS (SELECT f,
        |    '  ' || regexp_replace(wd, '(.)', '\1  ', 'g') AS seq FROM v),
        |p1 AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM (
        |    SELECT f, unnest(list_transform(generate_series(1, len(sy)-1),
        |        i -> sy[i] || ' ' || sy[i+1])) AS pair
        |    FROM (SELECT f, string_split_regex(trim(seq), ' +') AS sy
        |          FROM s0)) GROUP BY 1),
        |w1 AS (SELECT pair FROM p1 ORDER BY n DESC, pair LIMIT 1),
        |s1 AS (SELECT f, replace(seq,
        |    ' ' || replace(pair, ' ', '  ') || ' ',
        |    ' ' || replace(pair, ' ', '') || ' ') AS seq FROM s0, w1),
        |p2 AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM (
        |    SELECT f, unnest(list_transform(generate_series(1, len(sy)-1),
        |        i -> sy[i] || ' ' || sy[i+1])) AS pair
        |    FROM (SELECT f, string_split_regex(trim(seq), ' +') AS sy
        |          FROM s1)) GROUP BY 1),
        |w2 AS (SELECT pair FROM p2 ORDER BY n DESC, pair LIMIT 1),
        |s2 AS (SELECT f, replace(seq,
        |    ' ' || replace(pair, ' ', '  ') || ' ',
        |    ' ' || replace(pair, ' ', '') || ' ') AS seq FROM s1, w2),
        |p3 AS (SELECT pair, CAST(sum(f) AS BIGINT) AS n FROM (
        |    SELECT f, unnest(list_transform(generate_series(1, len(sy)-1),
        |        i -> sy[i] || ' ' || sy[i+1])) AS pair
        |    FROM (SELECT f, string_split_regex(trim(seq), ' +') AS sy
        |          FROM s2)) GROUP BY 1),
        |w3 AS (SELECT pair FROM p3 ORDER BY n DESC, pair LIMIT 1),
        |s3 AS (SELECT f, replace(seq,
        |    ' ' || replace(pair, ' ', '  ') || ' ',
        |    ' ' || replace(pair, ' ', '') || ' ') AS seq FROM s2, w3),
        |tok AS (SELECT f, string_split_regex(trim(seq), ' +') AS sy
        |  FROM s3),
        |tot AS (SELECT CAST(sum(f) AS BIGINT) AS total_words,
        |    CAST(sum(f * len(sy)) AS BIGINT) AS total_tokens FROM tok),
        |sym AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS n_symbols
        |  FROM (SELECT unnest(sy) AS s FROM tok))
        |SELECT total_words, total_tokens,
        |  (10000 * total_tokens) // total_words AS fertility_bp,
        |  n_symbols
        |FROM tot, sym""".stripMargin),
      "tokenizer fertility after 3 learned BPE merges — train on the vocab, ship the merge table"),

    // q225 — LANG-ID CONFUSION MATRIX: q32's n-gram-marker classifier
    // evaluated against the labeled `lang` column — per (true, guessed)
    // cell the count plus exact recall (vs the true-class margin) and
    // precision (vs the predicted-class margin) in bp. The
    // classifier-eval square of the analytics pack's calibration
    // tables; one (lang, guess) agg, margins broadcast back.
    Q("q225_langid_confusion",
      (s, d) => {
        val w = words(col("text"))
        val scores = langMarkers.map { case (lang, ms) =>
          lang -> size(filter(w, x => x.isin(ms: _*)))
        }
        val Seq(en, de, fr, es) = scores.map(_._2)
        val guess = when(en > 0 && en >= de && en >= fr && en >= es, "en")
          .when(de > 0 && de >= fr && de >= es, "de")
          .when(fr > 0 && fr >= es, "fr")
          .when(es > 0, "es")
          .otherwise("und")
        val cells = Tables(s, d, "documents")
          .select(col("lang"), guess.as("lang_guess"))
          .groupBy("lang", "lang_guess")
          .agg(count(lit(1)).cast("long").as("n"))
        val truth = cells.groupBy("lang").agg(sum("n").as("t_tot"))
        val pred = cells.groupBy("lang_guess").agg(sum("n").as("p_tot"))
        cells.join(broadcast(truth), "lang")
          .join(broadcast(pred), "lang_guess")
          .select(col("lang"), col("lang_guess"), col("n"),
            expr("(10000 * n) div t_tot").as("recall_bp"),
            expr("(10000 * n) div p_tot").as("precision_bp"))
          .orderBy("lang", "lang_guess")
      },
      Some({
        val scoreCols = langMarkers.map { case (l, ms) =>
          s"CAST(len(list_filter(ws, x -> x IN (${inList(ms)}))) AS INTEGER) AS s_$l"
        }.mkString(",\n    ")
        s"""WITH r AS (
          |  SELECT lang,
          |    string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
          |  FROM documents),
          |x AS (SELECT lang, $scoreCols FROM r),
          |y AS (SELECT lang,
          |    CASE WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
          |         WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
          |         WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr'
          |         WHEN s_es > 0 THEN 'es'
          |         ELSE 'und' END AS lang_guess
          |  FROM x),
          |cells AS (SELECT lang, lang_guess, CAST(count(*) AS BIGINT) AS n
          |  FROM y GROUP BY 1, 2),
          |t AS (SELECT lang, CAST(sum(n) AS BIGINT) AS t_tot
          |  FROM cells GROUP BY 1),
          |p AS (SELECT lang_guess, CAST(sum(n) AS BIGINT) AS p_tot
          |  FROM cells GROUP BY 1)
          |SELECT cells.lang, cells.lang_guess, cells.n,
          |  CAST((10000 * n) // t_tot AS BIGINT) AS recall_bp,
          |  CAST((10000 * n) // p_tot AS BIGINT) AS precision_bp
          |FROM cells JOIN t USING (lang) JOIN p USING (lang_guess)
          |ORDER BY lang, lang_guess""".stripMargin
      }),
      "lang-id confusion matrix vs labels — exact recall/precision per cell"),

    // q241 — PSEUDO-RELEVANCE-FEEDBACK retrieval (the RM3 shape): the
    // seed query's BM25 top-10 docs vote expansion terms (highest tf in
    // the feedback set, len ≥ 3, seed excluded, term-asc tie), the
    // corpus is rescored against the expansion vocabulary through the
    // DATA-DEPENDENT bm25ScoreBpDyn (broadcast term join — no driver
    // round-trip), and rm3 = 2·seed + 1·expansion in exact integer
    // weights. The feedback set is a TakeOrdered top-10, never a global
    // sort; both scoring passes shuffle only posting lists.
    Q("q241_prf_expansion",
      (s, d) => graft.operators.Retrieval.prfExpand(
          Tables(s, d, "documents"), col("doc_id"), col("text"),
          Seq("spark", "join", "window"), k = 10, m = 3, minTermLen = 3)
        .orderBy(col("rm3_bp").desc, col("doc_id")).limit(10),
      Some(s"""$bm25Ctes,
        |top10 AS MATERIALIZED (SELECT doc_id FROM c
        |  ORDER BY score_bp DESC, doc_id LIMIT 10),
        |exp AS MATERIALIZED (SELECT term FROM tok JOIN top10 USING (doc_id)
        |  WHERE term NOT IN ('spark', 'join', 'window')
        |    AND length(term) >= 3
        |  GROUP BY term ORDER BY count(*) DESC, term LIMIT 3),
        |tf2 AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok WHERE term IN (SELECT term FROM exp) GROUP BY 1, 2),
        |df2 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf2
        |  GROUP BY 1),
        |sc2 AS (SELECT tf2.doc_id,
        |    (2 * (n + 1) * 10000 + (df + 1)) // (2 * (df + 1)) AS idf_bp,
        |    (2 * (44 * tf * t) * 10000 + (20 * tf * t + 6 * t + 18 * dl.dl * n))
        |      // (2 * (20 * tf * t + 6 * t + 18 * dl.dl * n)) AS tfn_bp
        |  FROM tf2 JOIN df2 USING (term) JOIN dl USING (doc_id), g),
        |c2 AS (SELECT doc_id,
        |    CAST(sum((2 * idf_bp * tfn_bp + 10000) // 20000) AS BIGINT)
        |      AS exp_score
        |  FROM sc2 GROUP BY doc_id)
        |SELECT COALESCE(c.doc_id, c2.doc_id) AS doc_id,
        |  CAST(COALESCE(score_bp, 0) AS BIGINT) AS seed_bp,
        |  CAST(COALESCE(exp_score, 0) AS BIGINT) AS exp_bp,
        |  CAST(2 * COALESCE(score_bp, 0) + COALESCE(exp_score, 0) AS BIGINT)
        |    AS rm3_bp
        |FROM c FULL OUTER JOIN c2 ON c.doc_id = c2.doc_id
        |ORDER BY rm3_bp DESC, doc_id LIMIT 10""".stripMargin),
      "pseudo-relevance-feedback expansion (RM3) — feedback top-10 votes terms, 2:1 integer fusion")
  )
}
