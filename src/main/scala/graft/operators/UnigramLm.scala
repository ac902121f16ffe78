package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.functions.expressions.UnigramViterbi

/** Unigram-LM subword tokenizer (Kudo 2018, "Subword Regularization";
  * the SentencePiece `unigram` model): score every vocabulary piece by
  * its corpus log-probability and segment each document by VITERBI —
  * the segmentation minimizing total piece cost. Complements
  * `operators.Bpe` (the merge-list family) with the other major
  * tokenizer family a training-data pipeline ships.
  *
  * Deterministic simplification vs full SentencePiece (documented, not
  * hidden): the vocabulary is the char 1..`maxPiece`-grams of the
  * normalized corpus at `minCount`+ occurrences (all 1-grams kept for
  * coverage — every text is segmentable), scored once from raw counts
  * rather than EM-iterated; piece costs are INTEGER centinats
  * (round(-1000·ln(count/total))), so the whole DP is exact int64
  * arithmetic and the minimum-cost value is engine-independent —
  * the same exactness move as the money grids. Ties minimize
  * (cost, n_tokens) lexicographically via the packed encoding below.
  *
  * Scale shape:
  *  - vocab: one gram-count aggregation (the t16 n-gram shuffle,
  *    keyed on pieces; the piece space is BOUNDED — Σ_{l<=4} |Σ|^l —
  *    so the scored vocab is collected to the driver) in one job;
  *  - Viterbi: one codegen'd [[UnigramViterbi]] projection over the
  *    documents with the vocab as a literal argument — O(n·maxPiece)
  *    int64 ops and hash probes per document, no explode, no join, no
  *    shuffle; each document's DP runs where its row lives.
  */
object UnigramLm {

  /** Packs (cost, n_tokens) into one int64: cost·2^21 + n_tokens.
    * Valid while n_tokens < 2^21 and cost < 2^41 — both hold for any
    * document under ~2M normalized chars (cost per char <= ~28k
    * centinats). Long-min over the packing IS lexicographic min over
    * (cost, n_tokens).
    */
  val Shift: Long = UnigramViterbi.Shift

  /** Hard validity bound of the packed encoding, ENFORCED at runtime:
    * n_tokens can reach n_chars (all-1-gram segmentation), so any
    * normalized text longer than 2^21−1 chars could wrap the token
    * field into the cost field and return plausible-but-wrong numbers.
    * [[encode]] skips the DP for such documents and reports them with
    * NULL n_tokens/total_cost — an explicit overflow marker, mirrored
    * by the t41 oracle. The cost field stays safe at this bound:
    * ≤ ~34.5k centinats/char (a 1-in-10^15 piece) × 2^21 chars
    * ≈ 2^36.1 « 2^41.
    */
  val MaxChars: Long = Shift - 1

  /** "Unreachable" DP cell: far above any real packed cost, far below
    * overflow even after adding a per-step cost.
    */
  val Inf: Long = UnigramViterbi.Inf

  /** Integer piece costs from corpus counts: all 1..`maxPiece`-char
    * grams of the normalized text, pruned to `minCount`+ occurrences
    * except 1-grams (coverage). Columns: piece, cost (centinats).
    */
  def pieceVocab(docsDf: DataFrame, maxPiece: Int = 4,
                 minCount: Int = 5): DataFrame =
    // One job: the total is a window sum over the piece-bounded counts
    // (Σ_{l<=maxPiece}|Σ|^l rows, so one partition holds them), taken
    // before the prune so costs are log-probabilities of the whole
    // corpus.
    normPieces(docsDf, maxPiece)
      .groupBy("piece").agg(count(lit(1)).as("cnt"))
      .select(col("piece"), col("cnt"), sum("cnt").over().as("tot"))
      .filter(col("cnt") >= minCount || length(col("piece")) === 1)
      .select(col("piece"),
        round(-lit(1000.0) * log(col("cnt").cast("double") / col("tot")))
          .cast("long").as("cost"))

  /** Viterbi segmentation summary per document against `pieceVocab`:
    * doc_id, n_chars (normalized), n_tokens, total_cost (centinats).
    * The minimal-cost segmentation is unique as a VALUE (cost and
    * token count) by the packed-min construction even when multiple
    * segmentations attain it. Every input row keeps one output row: a
    * NULL text gives NULL n_chars, n_tokens and total_cost.
    */
  def encode(docsDf: DataFrame, maxPiece: Int = 4,
             minCount: Int = 5): DataFrame = {
    val vocab = pieceVocab(docsDf, maxPiece, minCount).collect()
    val pieces = typedlit(vocab.map(_.getString(0)).toSeq)
    val costs = typedlit(vocab.map(_.getLong(1)).toSeq)
    docsDf
      .select(col("doc_id"), TextFns.normalized(col("text")).as("norm"))
      .select(col("doc_id"), length(col("norm")).cast("long").as("n_chars"),
        // Packing-bound guard (see MaxChars): overlong docs skip the DP
        // and surface as explicit NULL-overflow rows. The vocabulary
        // still counts their pieces — they are valid corpus text.
        when(length(col("norm")) <= MaxChars,
          UnigramViterbi.encode(col("norm"), pieces, costs)).as("enc"))
      .select(
        col("doc_id"),
        col("n_chars"),
        pmod(col("enc"), lit(Shift)).as("n_tokens"),
        // DIV, not floor(a/b): `/` on longs is DOUBLE division, which
        // loses exactness once enc > 2^53 (cost > 2^32 centinats, ~300k
        // chars) — inside the documented 2M-char validity range.
        expr(s"enc DIV ${Shift}L").as("total_cost"))
  }

  // Position-block width for vocab piece extraction. A per-POSITION
  // explode that carries the document text would copy the whole string
  // into every row — for a multi-MB web document that is positions × doc
  // size of heap (measured: one 2M-char doc OOM'd a 16g JVM). Blocks
  // bound the carried text to ~4 KiB per row AND spread a huge doc's
  // piece counting across rows (the parallelism a skewed crawl needs).
  private val PieceBlock = 4096

  // (piece) rows: every 1..maxPiece-gram occurrence of the normalized
  // corpus (occurrence counts, not distinct — the LM is count-based).
  // Size-hybrid: single-block docs keep the codegen'd per-position
  // explode; longer docs go through a two-level explode — (doc →
  // position blocks) carrying only the block's substring (+ maxPiece−1
  // overlap chars so grams crossing a block edge are counted exactly
  // once, by their START block), then (block → pieces) from that
  // bounded segment.
  private def normPieces(docsDf: DataFrame, maxPiece: Int): DataFrame = {
    // Routed on RAW length(text), not normalized length: normalization
    // only removes/replaces chars so n <= length(text), making the small
    // branch safe, and the cheap predicate runs the normalization regex
    // ONCE per doc, in exactly one branch. A raw-long doc that
    // normalizes small just takes the blocked path — equally correct.
    def normed(df: DataFrame): DataFrame = df
      .select(TextFns.normalized(col("text")).as("norm"))
      .select(col("norm"), length(col("norm")).as("n"))
      .filter(col("n") >= 1)
    val small = normed(docsDf.filter(length(col("text")) <= lit(PieceBlock)))
      .select(col("norm"),
        explode(sequence(lit(1), col("n"))).as("i"), col("n"))
      .select(explode(
        filter(
          transform(sequence(lit(1), lit(maxPiece)),
            j => when(col("i") + j - 1 <= col("n"),
              col("norm").substr(col("i"), j)).otherwise(lit(null))),
          p => p.isNotNull)).as("piece"))
    val large = normed(docsDf.filter(length(col("text")) > lit(PieceBlock)))
      .select(col("n"),
        explode(sequence(lit(0),
          floor((col("n") - 1) / lit(PieceBlock)).cast("int"))).as("blk"),
        col("norm"))
      .select(
        // positions local to this block: 1..min(PieceBlock, n - blk·B)
        least(lit(PieceBlock), col("n") - col("blk") * PieceBlock).as("m"),
        col("norm").substr(col("blk") * PieceBlock + 1,
          lit(PieceBlock + maxPiece - 1)).as("seg"))
      // Chars materialized ONCE per block: UTF8String substr re-scans
      // from the string start per call (variable-width encoding), so
      // per-position substr over the segment is O(B²) per block —
      // measured 250 s for one 2M-char doc; slice over the char array
      // is O(j) and finishes in seconds.
      .select(col("m"), length(col("seg")).as("seg_len"),
        split(col("seg"), "").as("seg_chars"))
      // j unrolled in SCALA (maxPiece is a constant), so each piece is
      // one concat of j O(1) element_at reads — the
      // array_join(slice(...)) form allocated a slice array per piece
      // and benched 5× slower on the normal corpus.
      .select(explode(flatten(
        transform(sequence(lit(1), col("m")), i =>
          filter(
            array((1 to maxPiece).map { j =>
              when(i + lit(j) - 1 <= col("seg_len"),
                concat((0 until j).map(d =>
                  element_at(col("seg_chars"), i + lit(d))): _*))
                .otherwise(lit(null))
            }: _*),
            p => p.isNotNull)))).as("piece"))
    small.unionAll(large)
  }
}
