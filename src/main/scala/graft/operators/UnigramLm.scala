package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Unigram-language-model tokenizer (the SentencePiece-unigram family —
  * Kudo 2018, "Subword Regularization"), trained with hard
  * (Viterbi) EM — the second major subword-tokenizer family beside
  * [[Bpe]]: where BPE GROWS a vocabulary bottom-up by merging, the
  * unigram model starts from an over-complete substring seed and
  * PRUNES it down, segmenting each word by maximum piece-probability
  * instead of by merge order.
  *
  * Scale shape (the [[Bpe]] discipline): the only corpus-wide pass is
  * the word-frequency aggregate; seeding, every EM iteration and the
  * per-word segmentation of [[encode]] run on the DISTINCT-WORD table
  * (vocabulary-sized). Per EM iteration: one substring explode
  * (O(len · maxPieceLen) rows per word — linear, never quadratic), one
  * equi-join against the piece table (broadcast — the vocab is MBs at
  * any corpus size), one per-row Viterbi DP (a higher-order-function
  * fold — row-local, no UDF, no driver), and one partial-agg piece
  * recount. Encoding joins per-word piece arrays back onto corpus
  * positions exactly like [[Bpe.encode]].
  *
  * Determinism (the cross-engine-exactness discipline): piece counts
  * are exact integer sums; log-probs are computed per row from those
  * integers (log(cnt) − log(total)), so they do not depend on
  * partitioning; the Viterbi DP folds positions left-to-right with a
  * TOTAL tie-break order (score desc, fewer pieces, larger start —
  * `(start, end)` is unique per edge, so no comparison ever reaches an
  * equal-key ambiguity); and vocabulary pruning sorts by
  * (count desc, piece asc). UnigramLmSpec locks model equality across
  * repartitionings.
  *
  * Coverage invariant: every single character of every corpus word is
  * seeded, floor-smoothed through every M-step, and survives every
  * prune, so Viterbi always has a feasible path and encoding is
  * LOSSLESS — concatenating a word's pieces reproduces the word
  * (qt29's hash gate; the qt18 invariant-flag pattern).
  *
  * Out-of-vocabulary input (the frozen-vocab serving contract —
  * [[graft.streaming.EncodeIngest]] encodes arbitrary FUTURE batches
  * with a vocabulary trained on the reference corpus, where unseen
  * characters are expected): any single character absent from the
  * vocabulary still segments, as its own piece at [[OovLogProb]] — a
  * floor score below every real path, so known pieces always win and
  * OOV input degrades DETERMINISTICALLY to character pieces instead
  * of silently dropping words (the SentencePiece unknown-piece role,
  * realized as char-fallback so losslessness survives: the emitted
  * pieces still concatenate back to the word).
  */
object UnigramLm {

  /** Log-prob floor for the single-character OOV fallback edge: far
    * below any real piece's log(cnt/total) at any plausible vocabulary
    * size, yet finite — score comparisons and the DP's tie-break order
    * stay total.
    */
  val OovLogProb: Double = -1e6

  /** All (start, len, piece) substrings of a word with len ≤ maxLen —
    * O(len · maxLen) entries, generated row-locally.
    */
  def substrExpr(word: Column, maxLen: Int): Column =
    flatten(transform(
      sequence(lit(0), length(word) - 1),
      i => transform(
        sequence(lit(1), least(lit(maxLen), length(word) - i)),
        l => struct(i.as("start"), l.as("len"),
          word.substr(i + 1, l).as("piece")))))

  /** (word, freq) over the corpus — the one corpus-wide shuffle
    * (shared shape with [[Bpe.wordFreqs]]).
    */
  def wordFreqs(df: DataFrame, textCol: String): DataFrame =
    Bpe.wordFreqs(df, textCol)

  /** Over-complete seed vocabulary: every single character
    * (unconditionally — the coverage floor) plus the `seedSize` most
    * frequent multi-character substrings, counts weighted by word
    * frequency. The top-k is a TakeOrdered on the piece table, never
    * a global sort of data.
    */
  def seedVocab(wf: DataFrame, maxPieceLen: Int, seedSize: Int): DataFrame = {
    // piece-table-sized checkpoint: the two branches below (chars /
    // top-k multis) would otherwise each re-run the substring explode
    // and its aggregate — the plan-reuse discipline tools.UnigramDiag
    // (at commit 4dd9795) measured at 2× per extra reference
    val subs = wf
      .select(col("freq"), explode(substrExpr(col("word"), maxPieceLen)).as("s"))
      .groupBy(col("s.piece").as("piece"))
      .agg(sum(col("freq")).as("cnt"))
      .localCheckpoint()
    val chars = subs.filter(length(col("piece")) === 1)
    val multi = subs.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece")).limit(seedSize)
    chars.unionByName(multi)
  }

  /** Piece log-probabilities from exact integer counts: one 1-row
    * total joined broadcast; log() of exact integers is
    * partition-order-independent.
    */
  private def scoredPieces(vocab: DataFrame): DataFrame = {
    val tot = vocab.agg(sum(col("cnt")).as("__tot"))
    vocab.join(broadcast(tot))
      .select(col("piece"),
        (log(col("cnt").cast("double")) - log(col("__tot").cast("double")))
          .as("lp"))
  }

  /** Viterbi-best segmentation of every distinct word under the
    * current vocabulary: returns (word, freq, pieces array<string>).
    *
    * DP over positions 1..L as an `aggregate` fold (row-local, stays
    * an expression — no UDF): dp[i] = best over edges (start, len)
    * with start+len = i of dp[start] + lp(piece); ties prefer fewer
    * pieces, then the larger start (shortest final piece). The edge
    * list arrives unordered from collect_list — the DP reads it only
    * through order-insensitive filter/array_max, so collection order
    * cannot leak into the result. Path reconstruction is a second
    * bounded fold walking backpointers from L.
    */
  def segmentWords(wf: DataFrame, vocab: DataFrame, maxPieceLen: Int): DataFrame = {
    val cand = wf.select(col("word"), col("freq"),
        explode(substrExpr(col("word"), maxPieceLen)).as("s"))
      .select(col("word"), col("freq"), col("s.start").as("start"),
        col("s.len").as("len"), col("s.piece").as("piece"))
    val scored = scoredPieces(vocab)
    val matched = cand.join(broadcast(scored), Seq("piece"))
    // OOV char-fallback (see the object doc): single characters the
    // vocabulary does not know become their own edge at the OovLogProb
    // floor. Zero rows when the vocab covers the input (the training
    // path — trained vocabs seed every corpus character), so this
    // cannot perturb any full-coverage segmentation; under a FROZEN
    // vocab it keeps every position reachable, so unseen input
    // degrades to deterministic character pieces instead of null-field
    // garbage or silently dropped words.
    val fallback = cand.filter(col("len") === 1)
      .join(broadcast(scored.select(col("piece"))), Seq("piece"), "left_anti")
      .withColumn("lp", lit(OovLogProb))
      .select("piece", "word", "freq", "start", "len", "lp")
    val edges = matched.unionByName(fallback)
      .groupBy(col("word"), col("freq"))
      .agg(collect_list(struct(col("start"), col("len"), col("lp"),
        col("piece"))).as("edges"))
    // DP + path reconstruction in ONE codegen'd kernel
    // (graft.expressions.UnigramViterbi): the previous two-fold
    // formulation copied the accumulator array per position (O(L²)
    // per word) and needed a localCheckpoint of the DP table between
    // the folds because project collapsing would otherwise INLINE the
    // whole DP aggregate at every backpointer read (tools.UnigramDiag
    // at commit 4dd9795 measured the un-materialized form at ~3.5× the
    // pass cost) — both the copies and the checkpoint job disappear
    // here.
    // UnigramLmSpec pins model equality; qt29/qp12 hash the pieces.
    val viterbi = org.apache.spark.sql.GraftColumnBridge.column(
      graft.expressions.UnigramViterbi(
        org.apache.spark.sql.GraftColumnBridge.expression(col("word")),
        org.apache.spark.sql.GraftColumnBridge.expression(col("edges"))))
    edges.select(col("word"), col("freq"), viterbi.as("pieces"))
  }

  /** Counts of pieces actually USED by the Viterbi segmentation,
    * weighted by word frequency (exact integers), with the
    * single-character coverage floor re-applied: a character whose
    * every occurrence was absorbed into longer pieces keeps count 1 so
    * feasibility never breaks.
    */
  private def emCounts(seg: DataFrame, chars: DataFrame): DataFrame = {
    // single reference to `seg`: a full-outer join against the char
    // floor keeps the Viterbi DP subtree evaluated ONCE (a filter/
    // union formulation would clone it per branch)
    val used = seg.select(col("freq"), explode(col("pieces")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
    used.join(chars.select(col("piece"), lit(1L).as("__floor")),
        Seq("piece"), "full_outer")
      .select(col("piece"), coalesce(col("cnt"), col("__floor")).as("cnt"))
  }

  /** Prune to the `targetVocab` most-used multi-character pieces
    * (count desc, piece asc — total order) plus EVERY single
    * character.
    */
  private def prune(vocab: DataFrame, targetVocab: Int): DataFrame =
    vocab.filter(length(col("piece")) === 1).unionByName(
      vocab.filter(length(col("piece")) > 1)
        .orderBy(col("cnt").desc, col("piece")).limit(targetVocab))

  /** Train: seed → (`emIters` ×) Viterbi segment → recount → prune.
    * Returns the final vocabulary as a (piece, cnt) DataFrame — counts
    * are the exact integer usage of the LAST segmentation pass, so the
    * model is a plain parquet-persistable artifact (the Models
    * registry discipline: integers round-trip bit-for-bit).
    */
  def train(df: DataFrame, textCol: String, maxPieceLen: Int = 6,
            seedSize: Int = 1024, targetVocab: Int = 384,
            emIters: Int = 2): DataFrame = {
    require(maxPieceLen >= 1 && seedSize >= 0 && targetVocab >= 0 &&
      emIters >= 1, "unigram train parameters must be non-negative")
    val wf = wordFreqs(df, textCol).localCheckpoint()
    var vocab = seedVocab(wf, maxPieceLen, seedSize).localCheckpoint()
    val chars = vocab.filter(length(col("piece")) === 1).localCheckpoint()
    for (_ <- 1 to emIters) {
      val seg = segmentWords(wf, vocab, maxPieceLen)
      // checkpoint BEFORE prune: prune's two branches (chars / top-k
      // multis) re-read their input, and un-checkpointed that input is
      // the whole segmentation DP
      val counts = emCounts(seg, chars).localCheckpoint()
      val next = prune(counts, targetVocab).localCheckpoint()
      counts.unpersist()
      vocab.unpersist()
      vocab = next
    }
    wf.unpersist()
    vocab
  }

  /** Encode the corpus with a trained vocabulary: (id, pieces,
    * n_pieces) per document, pieces in document order — each distinct
    * word segmented ONCE, then joined back onto corpus positions
    * ([[Bpe.encode]]'s join-don't-recompute shape).
    */
  def encode(df: DataFrame, idCol: String, textCol: String,
             vocab: DataFrame, maxPieceLen: Int = 6): DataFrame = {
    val w = df.select(col(idCol),
      posexplode(expr(Text.wordsExpr(textCol))).as(Seq("pos", "word")))
    val seg = segmentWords(
      w.groupBy(col("word")).agg(count(lit(1)).as("freq")),
      vocab, maxPieceLen)
    w.join(seg.select(col("word"), col("pieces")), Seq("word"))
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("pieces")))),
        x => x.getField("pieces"))).as("pieces"))
      .withColumn("n_pieces", size(col("pieces")).cast("long"))
  }
}
