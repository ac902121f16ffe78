package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.functions.expressions.BpeMerges

/** Distributed byte-pair-encoding (BPE) tokenizer training — the
  * vocabulary-learning step of an LLM data pipeline (Sennrich et al.
  * 2016, arXiv:1508.07909 — public algorithm).
  *
  * The scale insight BPE training rides on: after the first pass the
  * corpus never participates again. Pair statistics are computed over
  * the WORD VOCABULARY weighted by word frequency — bounded by distinct
  * words, not corpus tokens — so each merge round is a small job over
  * the vocab frame while 100 TB of text is touched exactly once (one
  * tokenize + count shuffle). Every step is pure column expressions:
  *
  *  - [[vocab]]: one corpus pass → (word, freq, syms = character
  *    symbols);
  *  - [[pairCounts]]: explode each word's adjacent (left, right)
  *    symbol pairs, weight by freq, aggregate (map-side partial —
  *    the pair space is bounded by the symbol inventory², not the
  *    corpus);
  *  - [[train]]: BATCHED merge rounds — each round collects the top
  *    candidate pairs once (bounded driver state) and applies the
  *    longest provably-order-independent prefix as one codegen'd
  *    [[BpeMerges]] list call, `localCheckpoint`ed per round so the
  *    iterative plan stays flat (same discipline as
  *    [[Dedup.connectedComponents]]); job count is O(merges / batch),
  *    not O(merges), while the learned list equals one-at-a-time
  *    training exactly (see [[selectBatch]]).
  *
  * Tie-break is total and deterministic (count desc, then left, then
  * right lexicographic), so the learned merge list is reproducible
  * across runs and partitionings — pinned in OperatorSpec against an
  * independent in-memory reference implementation.
  */
object Bpe {

  /** One corpus pass: (word, freq, syms) with syms the per-character
    * symbol array the merges rewrite.
    */
  def vocab(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(TextFns.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("syms",
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))))

  /** Frequency-weighted adjacent-pair counts over the current symbol
    * sequences: (left, right, n). Words reduced to a single symbol
    * contribute nothing.
    */
  def pairCounts(vocabDf: DataFrame): DataFrame =
    vocabDf
      .filter(size(col("syms")) >= 2)
      .select(col("freq"),
        explode(transform(sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("left"),
            element_at(col("syms"), i + 1).as("right")))).as("p"))
      .groupBy(col("p.left").as("left"), col("p.right").as("right"))
      .agg(sum("freq").as("n"))

  /** Greedy left-to-right merge of the adjacent pair (a, b) inside a
    * symbol array — one-merge form of the codegen'd [[BpeMerges]]
    * expression (see its scaladoc for the semantics and for why the
    * earlier `aggregate`-fold form was replaced). Non-overlap is
    * structural: a fused tail is the string a+b, which can never equal
    * `a` (b is nonempty), so "aaa" under (a,a) correctly gives
    * ["aa","a"] — the standard BPE single-pass semantics.
    */
  private[graft] def mergePair(syms: Column, a: String, b: String): Column =
    BpeMerges.merge(syms, typedlit(Seq(a)), typedlit(Seq(b)))

  /** Learn up to `nMerges` BPE merges (fewer if pairs run out).
    * Returns the merge list in learned order plus the final vocab
    * frame (word, freq, syms after all merges).
    *
    * BATCHED rounds (round-5 VERDICT item 3): the naive loop is one
    * argmax collect + one merge pass PER MERGE — ~2 sequential Spark
    * jobs each, a driver-side throughput killer at a production 32k-
    * 100k-merge vocabulary even though per-job data is vocab-bounded.
    * Each round here instead collects the top-`CandidateCap` pairs
    * once (bounded driver state) and applies the longest provably-
    * order-independent prefix as ONE [[BpeMerges]] list call, so the
    * job count shrinks by the realized batch factor while the learned
    * list stays IDENTICAL to one-merge-at-a-time training (asserted in
    * BpeSpec against the independent in-memory reference, including
    * randomized corpora). See [[selectBatch]] for the proof sketch of
    * the batch-validity conditions.
    */
  def train(docs: DataFrame, nMerges: Int,
      textCol: String = "text",
      maxBatch: Int = 64): (Seq[(String, String)], DataFrame) = {
    var v = vocab(docs, textCol).localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      val top = pairCounts(v)
        .orderBy(desc("n"), col("left"), col("right"))
        .limit(CandidateCap).collect()
        .map(r => (r.getAs[String]("left"), r.getAs[String]("right"),
          r.getAs[Long]("n")))
      if (top.isEmpty) exhausted = true
      else {
        val sel = selectBatch(top, math.min(maxBatch, nMerges - merges.size),
          truncated = top.length == CandidateCap)
        merges ++= sel.map(p => (p._1, p._2))
        v = v.withColumn("syms", BpeMerges.merge(col("syms"),
            typedlit(sel.map(_._1).toSeq), typedlit(sel.map(_._2).toSeq)))
          .localCheckpoint(true)
      }
    }
    (merges.toSeq, v)
  }

  /** Candidate pairs collected per training round — bounds BOTH the
    * driver state (rows collected) and the batch validity floor (a
    * pair outside the collected list can have count at most the last
    * collected count, which [[selectBatch]] treats as an unknown
    * competitor).
    */
  private val CandidateCap = 256

  /** The longest rank-contiguous candidate prefix that provably
    * replays identically to one-merge-at-a-time training. Conditions
    * (with `top` ranked by the total order: count desc, left, right):
    *
    *  1. CONTIGUOUS DISJOINT PREFIX — selection stops at the first
    *     candidate sharing a symbol with an earlier selection. A pair
    *     (c,d) disjoint from every merged (a,b) has an INVARIANT
    *     count (only adjacencies touching a or b change), so each
    *     selected pair still holds its count when its sequential turn
    *     comes, and every non-selected disjoint pair still ranks
    *     after it (counts only decrease; ties keep their later
    *     tie-break).
    *  2. CREATION BOUND — merging (a,b) can only create pairs
    *     (x,ab)/(ab,y), each bounded by the OLD count of an existing
    *     pair touching a or b ((x,a) / (b,y) respectively). Requiring
    *     every non-selected candidate touching any selected symbol —
    *     and every pair below the collected floor — to count STRICTLY
    *     less than the last selected pair guarantees no creation can
    *     outrank a later selected pair mid-batch.
    *
    * Under 1+2 the sequential argmax at each intra-batch step is
    * exactly the next selected pair, so batch apply == sequential
    * apply. Falls back to top-1 (always valid) when interactions bind.
    */
  private def selectBatch(top: Array[(String, String, Long)], maxBatch: Int,
      truncated: Boolean): Array[(String, String, Long)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val sel = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var i = 0
    var stop = false
    while (i < top.length && sel.size < maxBatch && !stop) {
      val p = top(i)
      if (sel.isEmpty || (!used(p._1) && !used(p._2))) {
        sel += p; used += p._1; used += p._2
      } else stop = true
      i += 1
    }
    val floorN = if (truncated) top.last._3 else Long.MinValue
    def valid(k: Int): Boolean = {
      val chosen = sel.take(k)
      val syms = chosen.iterator.flatMap(p => Seq(p._1, p._2)).toSet
      val chosenSet = chosen.iterator.map(p => (p._1, p._2)).toSet
      val minSel = chosen.last._3
      val maxOther = top.iterator
        .filter(p => !chosenSet((p._1, p._2)))
        .filter(p => syms(p._1) || syms(p._2))
        .map(_._3).maxOption.getOrElse(Long.MinValue)
      minSel > math.max(maxOther, floorN)
    }
    var k = sel.length
    while (k > 1 && !valid(k)) k -= 1
    sel.take(k).toArray
  }

  /** Apply a learned merge list to a symbol-array frame, in learned
    * order — the distributed tokenizer-INFERENCE step. The whole list
    * is ONE codegen'd [[BpeMerges]] call (merges ride as literal-array
    * arguments), so plan depth is constant in the merge count: the
    * earlier form chained one interpreted fold per merge and needed
    * periodic `localCheckpoint` blocks just to keep hundreds of nested
    * lambdas analyzable.
    */
  def applyMerges(vocabDf: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    vocabDf.withColumn("syms", BpeMerges.merge(col("syms"),
      typedlit(merges.map(_._1)), typedlit(merges.map(_._2))))
  }

  /** Encode documents with a trained merge list: per-document
    * whitespace token count, BPE symbol count, and symbols-per-word.
    * The scale shape mirrors training: merges are applied to the
    * DISTINCT-WORD vocabulary only (bounded by vocab size, not corpus
    * tokens), then joined back to the per-doc token multiset — 100 TB
    * of text never passes through the fold expressions.
    */
  def encode(docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(TextFns.tokens(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w")).agg(count(lit(1)).as("k"))
    val wordLens = applyMerges(
      tok.select("w").distinct()
        .withColumn("syms",
          transform(sequence(lit(1), length(col("w"))),
            i => col("w").substr(i, lit(1)))),
      merges)
      .select(col("w"), size(col("syms")).cast("long").as("bpe_len"))
    tok.join(wordLens, Seq("w"))
      .groupBy(col(idCol))
      .agg(sum("k").as("n_tokens"),
        sum(col("k") * col("bpe_len")).as("n_bpe_syms"))
      .withColumn("syms_per_word",
        round(col("n_bpe_syms") / col("n_tokens"), 4))
  }

  /** Tokenize a word with a learned merge list (reference semantics:
    * apply merges in learned order, greedy left-to-right). Driver-side
    * reference for tests/inspection; [[applyMerges]]/[[encode]] are the
    * distributed form.
    */
  def encodeWord(word: String, merges: Seq[(String, String)]): Seq[String] = {
    var syms: Seq[String] = word.map(_.toString)
    merges.foreach { case (a, b) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      syms.foreach { s =>
        if (out.nonEmpty && out.last == a && s == b)
          out(out.length - 1) = a + b
        else out += s
      }
      syms = out.toSeq
    }
    syms
  }
}
