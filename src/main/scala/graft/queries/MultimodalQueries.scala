package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.util.Tables

/** Multimodal-column pack: binary payloads with typed metadata. The
  * decode itself is a deterministic stub (see operators.Multimodal);
  * everything the oracle checks (byte counts, checksums, derived fake
  * dims, frame sampling arithmetic) is real Spark plumbing.
  */
object MultimodalQueries {

  val qs: Seq[Q] = Seq(
    Q("q34_multimodal_meta",
      (s, d) => {
        val media = Multimodal.withPayload(
          Tables(s, d, "documents").select("doc_id", "text", "n_chars"), "text")
        media.select(
          col("doc_id"),
          octet_length(col("payload")).as("n_bytes"),
          md5(col("payload")).as("checksum"),
          ((ascii(substring(col("text"), 1, 1)) % 64 + 1) * 16).as("fake_width"),
          ((ascii(substring(col("text"), 2, 1)) % 48 + 1) * 16).as("fake_height"),
          (floor(col("n_chars") / 1000) + 1).cast("long").as("n_frames"),
          Multimodal.sampledFrameCount(floor(col("n_chars") / 1000) + 1, 10)
            .cast("long").as("n_sampled_frames")
        ).orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        |  CAST(octet_length(text::BLOB) AS INTEGER) AS n_bytes,
        |  md5(text) AS checksum,
        |  CAST((ascii(substring(text, 1, 1)) % 64 + 1) * 16 AS INTEGER) AS fake_width,
        |  CAST((ascii(substring(text, 2, 1)) % 48 + 1) * 16 AS INTEGER) AS fake_height,
        |  CAST(floor(n_chars / 1000) + 1 AS BIGINT) AS n_frames,
        |  CAST(floor((floor(n_chars / 1000) + 1 - 1) / 10) + 1 AS BIGINT) AS n_sampled_frames
        |FROM documents ORDER BY doc_id""".stripMargin),
      "binary payload + typed metadata + frame-sampling arithmetic"),

    // q42 — the multimodal -> embedding -> ANN integration: deterministic
    // md5-derived feature vectors from binary payloads (the encoder
    // stub), scored against doc 0's features with the fused ArrayCosine
    // expression, top-10. The full path a media near-dup pipeline takes —
    // decode seam -> feature extract -> similarity — with every stage
    // oracle-replayable.
    Q("q42_multimodal_feature_ann",
      (s, d) => {
        val media = Multimodal.withPayload(
          Tables(s, d, "documents").select("doc_id", "text"), "text")
        val feats = media.select(col("doc_id"),
          Multimodal.featureStub(col("payload"), dim = 8).as("f"))
        val q = feats.filter(col("doc_id") === 0L).select(col("f").as("qf"))
        feats.filter(col("doc_id") =!= 0L)
          .crossJoin(broadcast(q))
          .select(col("doc_id"),
            round(graft.functions.ArrayCosine.cosine(col("f"), col("qf")), 4).as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("doc_id"))
          .limit(10)
      },
      Some("""WITH f AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(0, 7), i ->
        |      CAST((('0x' || substring(md5(CAST(i AS VARCHAR) || '#' || md5(text)), 1, 15))::BIGINT
        |            % 2001 - 1000) AS DOUBLE) / 1000.0) AS v
        |  FROM documents),
        |q AS (SELECT v AS qv FROM f WHERE doc_id = 0)
        |SELECT doc_id, round(list_cosine_similarity(v, qv), 4) AS cos_sim
        |FROM f, q WHERE doc_id <> 0
        |ORDER BY cos_sim DESC, doc_id LIMIT 10""".stripMargin),
      "payload -> md5-derived feature vector -> cosine top-k (encoder-stub ANN path)"),

    // q81 — multimodal NEAR-DUP: dHash-style perceptual fingerprints
    // over the decoded payload seam (payload bytes read back as the
    // fake "scanline"; bit i = pixel i brighter than pixel i+1), fed
    // through the SAME bounded Hamming chunk machinery as SimHash
    // (Dedup.hammingPairs: 4x15-bit pigeonhole buckets, BoundedLongList
    // cap, exact bit_count verify). The payload-level twin of q25's
    // text dedup: near-identical media whose bytes differ slightly
    // land within hamming<=3. Docs shorter than 61 chars are filtered
    // (the fingerprint needs nBits+1 pixels) on both sides.
    Q("q81_multimodal_phash_dedup",
      (s, d) => {
        val media = Multimodal.withPayload(
            Tables(s, d, "documents").select("doc_id", "text"), "text")
          .filter(length(col("text")) >= 61)
        val fp = media.select(col("doc_id"),
          Multimodal.perceptualHash(col("payload").cast("string")).as("phash"))
        graft.operators.Dedup.hammingPairs(fp, col("doc_id"), col("phash"),
            maxDist = 3, maxBucket = 100)
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH f AS (
        |  SELECT doc_id,
        |    (SELECT CAST(sum(CASE WHEN ascii(substring(text, i + 1, 1)) >
        |                            ascii(substring(text, i + 2, 1))
        |                     THEN 1::BIGINT << i ELSE 0 END) AS BIGINT)
        |     FROM generate_series(0, 59) AS t(i)) AS ph
        |  FROM documents WHERE length(text) >= 61),
        |ch AS (SELECT doc_id, ph, t.c, (ph >> (t.c * 15)) & 32767 AS chunk
        |  FROM f, generate_series(0, 3) AS t(c)),
        |guard AS (SELECT * FROM ch
        |  QUALIFY count(*) OVER (PARTITION BY c, chunk) <= 100),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.ph AS pa, b.ph AS pb
        |  FROM guard a JOIN guard b
        |    ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, CAST(bit_count(xor(pa, pb)) AS INTEGER) AS hamming
        |FROM cand WHERE bit_count(xor(pa, pb)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin),
      "perceptual-hash (dHash) payload near-dup via the bounded Hamming chunk machinery"),

    // q104 — FRAME SAMPLING: the video-ingest explode — each media
    // stream cut into fixed 40-char frames (the stub codec over the
    // same decoded seam as q81), every 2nd frame emitted as its own row
    // with a content fingerprint, the unit frame-level encoders and
    // dedup consume. Per-row sequence + explode, no shuffle; the last
    // frame carries the stream remainder.
    Q("q104_frame_sample",
      (s, d) => Multimodal.sampleFrames(
          Tables(s, d, "documents"), col("doc_id"), col("text"),
          frameChars = 40, stride = 2)
        .orderBy("doc_id", "frame_idx"),
      Some("""WITH s AS (SELECT doc_id, text AS s,
        |    CAST((length(text) + 39) // 40 AS INTEGER) AS n_frames
        |  FROM documents WHERE length(text) > 0),
        |f AS (SELECT doc_id, s, n_frames,
        |    CAST(unnest(generate_series(0, n_frames - 1, 2)) AS INTEGER) AS frame_idx
        |  FROM s)
        |SELECT doc_id, frame_idx, n_frames,
        |  md5(substring(s, frame_idx * 40 + 1, 40)) AS frame_hash
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin),
      "frame sampling: fixed-size frame explode with stride, per-frame fingerprints"),

    // q207 — ENERGY SEGMENTATION (the audio VAD / silence-trim shape):
    // 40-char frames score a deterministic energy (non-blank chars —
    // the per-frame RMS stub), frames under 30 are silence, and
    // maximal active runs become segments via gaps-and-islands — the
    // unit an ASR/encoder consumes instead of raw payloads. Both
    // windows partition per doc (payload-bounded); segment agg is
    // algebraic.
    Q("q207_energy_segments",
      (s, d) => Multimodal.energySegments(
          Tables(s, d, "documents"), col("doc_id"), col("text"),
          frameChars = 40, minEnergy = 30)
        .orderBy("doc_id", "seg_idx"),
      Some("""WITH s AS (SELECT doc_id, text AS p,
        |    CAST((length(text) + 39) // 40 AS INTEGER) AS nf
        |  FROM documents WHERE length(text) > 0),
        |f AS (SELECT doc_id,
        |    CAST(unnest(generate_series(0, nf - 1)) AS INTEGER)
        |      AS frame_idx, p
        |  FROM s),
        |e AS (SELECT doc_id, frame_idx,
        |    CAST(length(replace(substring(p, frame_idx * 40 + 1, 40),
        |      ' ', '')) AS BIGINT) AS energy
        |  FROM f),
        |a AS (SELECT doc_id, frame_idx, energy,
        |    frame_idx - row_number() OVER (PARTITION BY doc_id
        |      ORDER BY frame_idx) AS island
        |  FROM e WHERE energy >= 30),
        |g AS (SELECT doc_id, island,
        |    CAST(min(frame_idx) AS INTEGER) AS start_frame,
        |    CAST(max(frame_idx) AS INTEGER) AS end_frame,
        |    count(*) AS n_frames, CAST(sum(energy) AS BIGINT) AS energy
        |  FROM a GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_frame)
        |    AS BIGINT) AS seg_idx,
        |  start_frame, end_frame, CAST(n_frames AS BIGINT) AS n_frames,
        |  energy
        |FROM g ORDER BY doc_id, seg_idx""".stripMargin),
      "energy segmentation: silence-trimmed maximal active-frame runs (audio VAD shape)")
  )
}
