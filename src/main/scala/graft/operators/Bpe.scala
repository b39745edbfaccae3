package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Byte-pair-encoding merge LEARNING — the tokenizer-training primitive
  * of every LLM data pipeline (Sennrich et al., ACL'16), distributed the
  * way SentencePiece's Spark ports do it: the corpus collapses ONCE to a
  * frequency-weighted vocabulary (Zipf guarantees vocab ≪ corpus), and
  * every merge round runs over the vocabulary only — pair counting is a
  * frequency-weighted aggregate, the winning pair is a 1-row broadcast,
  * and applying the merge is a per-row string rewrite. No round ever
  * rescans the corpus and nothing reaches the driver.
  *
  * Determinism contract (the repo's replayable-oracle bargain): a word's
  * symbol sequence is encoded as a DOUBLE-spaced string with single
  * flanking pads — `"  " + chars.join("  ")` — so a pair (x, y) is the
  * literal substring `" x  y "` and a plain leftmost-non-overlapping
  * `replace` (identical semantics in Spark and DuckDB) consumes one
  * space of each flanking separator, leaving one behind. Adjacent
  * matches therefore stay matchable: a run of four `a`s merges to
  * `[aa, aa]` exactly as greedy left-to-right BPE does — the
  * single-space encoding would get this wrong (`[aa, a, a]`) because
  * the first replacement eats the boundary the second needs. Winner
  * tie-break is (weighted count DESC, pair ASC).
  *
  * Each round's vocabulary is persisted: round r's sequences are built
  * by r chained rewrites, and without the persist both the pair-count
  * aggregate AND every later round would replay the whole rewrite
  * lineage from the corpus scan (the q180 PageRank lesson — O(r²)
  * re-execution, plus r extra corpus scans through the winner
  * broadcasts).
  */
object Bpe {

  /** Encode a word as the doubled-separator character-symbol string:
    * "low" → "  l  o  w  ". One regex pass per word.
    */
  private def encodeSeq(word: org.apache.spark.sql.Column) =
    concat(lit("  "), regexp_replace(word, "(.)", "$1  "))

  /** Learn `rounds` BPE merges over a (word, freq) vocabulary.
    *
    * @param vocab DataFrame with columns `wd` (string, space-free) and
    *              `f` (long weight — corpus frequency of the word)
    * @return one row per merge round: (merge_round int, pair string —
    *         the two symbols space-joined, n long — the pair's weighted
    *         corpus count when it won), ordered by merge_round
    */
  def learnMerges(vocab: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "learnMerges needs at least one round")
    var seqs = vocab.select(col("f"), encodeSeq(col("wd")).as("seq"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var winners = Vector.empty[DataFrame]
    for (r <- 1 to rounds) {
      val pairs = seqs
        .select(col("f"),
          explode(graft.functions.WordGramsNative.gramsCol(
            split(trim(col("seq")), " +"), 2)).as("pair"))
        .groupBy("pair").agg(sum("f").as("n"))
      val winner = pairs.orderBy(desc("n"), col("pair")).limit(1)
      winners :+= winner.select(lit(r).as("merge_round"), col("pair"),
        col("n").cast("long").as("n"))
      if (r < rounds) {
        seqs = seqs.crossJoin(broadcast(winner.select(col("pair"))))
          .withColumn("seq", replace(col("seq"),
            concat(lit(" "), regexp_replace(col("pair"), " ", "  "),
              lit(" ")),
            concat(lit(" "), regexp_replace(col("pair"), " ", ""),
              lit(" "))))
          .select(col("f"), col("seq"))
          .persist(StorageLevel.MEMORY_AND_DISK)
      }
    }
    val out = winners.reduce(_.unionAll(_)).orderBy("merge_round")
      .localCheckpoint(eager = true)
    // per-round seq caches (plain) left to the caller's clearCache
    // (r15): the Dataset.unpersist sweep re-canonicalizes every cached
    // plan per call — seconds on the nested per-round lineages (the
    // kHopFrontiers finding); the winner rows are checkpointed above.
    out
  }

  /** TOKENIZER FERTILITY after `rounds` learned merges — the metric a
    * tokenizer-training loop actually optimizes: tokens emitted per
    * word occurrence once the merge table applies. Learns the merges
    * via [[learnMerges]] (the winner list is `rounds` rows — a
    * driver-bounded artifact, the same bargain as a broadcast join),
    * then REAPPLIES them to the vocabulary as a fold of literal
    * `replace` rewrites — encoding the "train once, ship the merge
    * table" split of a real pipeline: at 100 TB the learning runs over
    * the collapsed vocab, and application is a per-row map carrying a
    * tiny broadcast artifact.
    *
    * Output, one row: total_words (Σf), total_tokens (Σ f·|seq|),
    * fertility_bp = 10⁴·total_tokens div total_words, n_symbols (the
    * distinct symbol inventory after merging — base chars + merged
    * units).
    */
  def fertilityAfterMerges(vocab: DataFrame, rounds: Int): DataFrame = {
    val merges = learnMerges(vocab, rounds).collect().map(_.getString(1))
    val seqs = merges.foldLeft(
      vocab.select(col("f"), encodeSeq(col("wd")).as("seq"))) {
      (df, pair) =>
        df.withColumn("seq", replace(col("seq"),
          lit(" " + pair.replace(" ", "  ") + " "),
          lit(" " + pair.replace(" ", "") + " ")))
    }
    val tok = seqs
      .select(col("f"), split(trim(col("seq")), " +").as("sy"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val totals = tok.agg(
      sum("f").cast("long").as("total_words"),
      sum(col("f") * size(col("sy"))).cast("long").as("total_tokens"))
    val syms = tok.select(explode(col("sy")).as("s"))
      .agg(countDistinct("s").cast("long").as("n_symbols"))
    totals.crossJoin(syms)
      .select(col("total_words"), col("total_tokens"),
        expr("(10000 * total_tokens) div total_words").as("fertility_bp"),
        col("n_symbols"))
  }
}
