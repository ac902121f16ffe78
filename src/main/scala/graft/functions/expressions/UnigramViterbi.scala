package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM Viterbi over one document: the packed (cost, n_tokens)
  * minimum of `operators.UnigramLm` as a native codegen expression.
  * Arguments: the normalized text, then the vocabulary as two FOLDABLE
  * arrays — pieces (`array<string>`) and their integer costs
  * (`array<bigint>`), index-aligned.
  *
  * Why: the relational form exploded every document into maxPiece rows
  * per character, joined them against the broadcast vocabulary,
  * shuffled them back into one cost array per document and ran the DP
  * as an interpreted `aggregate` fold that built a new maxPiece-slot
  * array per character. Here the vocabulary is decoded ONCE per task
  * into an open-addressing table over the pieces' UTF-8 bytes (the
  * generated class's init; the interpreted path's transient lazy
  * table), and each document is one pass over its bytes with maxPiece
  * longs of DP state: a piece is looked up as a byte range of the
  * document in place, so nothing is allocated per character. Both
  * paths call the same kernel, [[PieceCosts.viterbi]].
  *
  * Semantics (pinned in UnigramLmSpec against a brute-force DP under
  * CODEGEN_ONLY and NO_CODEGEN): characters step the way `substr` and
  * `length` do (`UTF8String.numBytesForFirstByte`); dp(0) = 0 and
  * dp(i) = min over j of dp(i−j) + cost(piece)·Shift + 1, where a
  * missing piece or an unreachable dp(i−j) contributes Inf and the
  * min over the packing is the lexicographic (cost, n_tokens) minimum.
  * An empty text gives 0. The result can be ≥ Inf (a character missing
  * from the vocabulary); a NULL text or vocabulary gives NULL.
  * Duplicate pieces keep their smallest cost; NULL pieces or costs
  * are skipped.
  */
case class UnigramViterbi(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = UnigramViterbi.FnName

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (_: StringType, ArrayType(_: StringType, _), ArrayType(LongType, _))
          if second.foldable && third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName takes (string, foldable array<string>, foldable array<bigint>)")
    }

  // The vocabulary can hold many thousands of pieces: keep plan strings
  // to the text argument and the piece count.
  override def toString: String =
    s"$prettyName($first, <${vocabSize(second)} pieces>)"

  override def sql: String =
    s"$prettyName(${first.sql}, <${vocabSize(second)} pieces>)"

  private def vocabSize(e: Expression): String =
    Option(e.eval()).map(_.asInstanceOf[ArrayData].numElements().toString)
      .getOrElse("null")

  @transient private lazy val table = new PieceCosts(
    second.eval().asInstanceOf[ArrayData], third.eval().asInstanceOf[ArrayData])

  override protected def nullSafeEval(s: Any, ps: Any, cs: Any): Any =
    table.viterbi(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val arrayData = classOf[ArrayData].getName
    val pieces = ctx.addReferenceObj("pieces", second.eval(), arrayData)
    val costs = ctx.addReferenceObj("costs", third.eval(), arrayData)
    val tableClass = classOf[PieceCosts].getName
    val t = ctx.addMutableState(tableClass, "pieceCosts",
      v => s"$v = new $tableClass($pieces, $costs);")
    nullSafeCodeGen(ctx, ev, (s, _, _) => s"${ev.value} = $t.viterbi($s);")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object UnigramViterbi {

  import org.apache.spark.sql.Column

  val FnName = "graft_unigram_viterbi"

  /** The packed encoding and its unreachable cell; documented on
    * `operators.UnigramLm.Shift` and `Inf`.
    */
  val Shift: Long = 1L << 21
  val Inf: Long = Long.MaxValue / 4

  /** Column-level handle. */
  def encode(text: Column, pieces: Column, costs: Column): Column =
    org.apache.spark.sql.functions.call_function(FnName, text, pieces, costs)
}

/** Piece → cost table plus the Viterbi kernel of [[UnigramViterbi]].
  * Keys are the pieces' UTF-8 bytes, concatenated in one array; the
  * open-addressing slots hold key indices (−1 = empty) at load ≤ 1/2.
  * `maxChars` is the longest piece in characters (at least 1), which
  * bounds the DP window.
  */
final class PieceCosts(pieces: ArrayData, costs: ArrayData) {
  import UnigramViterbi.{Inf, Shift}

  private val n =
    if (pieces == null || costs == null) 0
    else math.min(pieces.numElements(), costs.numElements())
  private val mask = Integer.highestOneBit(math.max(2 * n, 2) * 2 - 1) - 1
  private val slots = Array.fill(mask + 1)(-1)
  private val cost = new Array[Long](n)
  private val start = new Array[Int](n + 1)
  private var bytes = new Array[Byte](16)
  private var nKeys = 0
  private var longest = 1
  for (k <- 0 until n if !pieces.isNullAt(k) && !costs.isNullAt(k)) {
    val p = pieces.getUTF8String(k)
    longest = math.max(longest, p.numChars())
    insert(p, costs.getLong(k))
  }
  val maxChars: Int = longest

  // slot of the key equal to base[off, off + len), or of the empty
  // slot where it belongs
  private def slotOf(base: AnyRef, off: Long, len: Int): Int = {
    var s = Murmur3_x86_32.hashUnsafeBytes(base, off, len, 42) & mask
    while (slots(s) >= 0 && {
      val k = slots(s)
      start(k + 1) - start(k) != len || !ByteArrayMethods.arrayEquals(
        bytes, Platform.BYTE_ARRAY_OFFSET + start(k), base, off, len)
    }) s = (s + 1) & mask
    s
  }

  private def insert(p: UTF8String, c: Long): Unit = {
    val s = slotOf(p.getBaseObject, p.getBaseOffset, p.numBytes())
    if (slots(s) >= 0) {
      cost(slots(s)) = math.min(cost(slots(s)), c)
    } else {
      val from = start(nKeys)
      if (from + p.numBytes() > bytes.length) {
        bytes = java.util.Arrays.copyOf(bytes,
          math.max(2 * bytes.length, from + p.numBytes()))
      }
      p.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET + from)
      cost(nKeys) = c
      start(nKeys + 1) = from + p.numBytes()
      slots(s) = nKeys
      nKeys += 1
    }
  }

  /** Cost of the piece base[off, off + len), or Inf if absent. */
  def lookup(base: AnyRef, off: Long, len: Int): Long = {
    val k = slots(slotOf(base, off, len))
    if (k >= 0) cost(k) else Inf
  }

  /** Packed minimum (cost·Shift + n_tokens) over all segmentations of
    * `s` into vocabulary pieces; 0 for the empty string. Slot i mod m
    * of the two rings holds dp(i) and the byte start of char i + 1, so
    * the piece of length j ending at char i starts at `from(i−j mod m)`.
    */
  def viterbi(s: UTF8String): Long = {
    val nb = s.numBytes()
    if (nb == 0) return 0L
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val m = maxChars
    val dp = Array.fill(m)(Inf)
    val from = new Array[Int](m)
    dp(0) = 0L
    var pos = 0
    var i = 0
    while (pos < nb) {
      from(i % m) = pos
      pos += UTF8String.numBytesForFirstByte(s.getByte(pos))
      val end = math.min(pos, nb)
      i += 1
      var best = Inf
      var j = 1
      while (j <= m && j <= i) {
        val k = (i - j) % m
        val prev = dp(k)
        if (prev < Inf) {
          val c = lookup(base, off + from(k), end - from(k))
          if (c < Inf) best = math.min(best, prev + c * Shift + 1)
        }
        j += 1
      }
      dp(i % m) = best
    }
    dp(i % m)
  }
}
