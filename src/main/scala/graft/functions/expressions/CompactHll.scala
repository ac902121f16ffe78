package graft.functions.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BaseGenericInternalRow, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper
import org.apache.spark.sql.types.{DataType, LongType}

/** `approx_count_distinct` with its HLL++ registers in ONE object
  * buffer that crosses exchanges as ONE `BinaryType` column.
  *
  * Spark's `HyperLogLogPlusPlus` declares one `LongType` buffer
  * attribute per 10 registers — 52 columns (`MS[0] … MS[51]`) at the
  * default rsd 0.05, 1,639 at rsd 0.01 — and carries them through
  * every partial aggregate, exchange and final aggregate, and through
  * every group of a distinct-aggregate `Expand`. This aggregate holds
  * the same words in a `long[]` and hands them to Spark's own
  * `HyperLogLogPlusPlusHelper` through an `InternalRow` view
  * ([[CompactHll.Words]]), so `update`/`merge`/`query` run Spark's
  * code on Spark's word layout and every estimate is bit-identical to
  * the built-in's (pinned in CompactHllSpec).
  *
  * The words are allocated on the first non-null input: a buffer
  * that only ever saw nulls (the `Expand` rows of the distinct-key
  * groups feed this aggregate nulls) costs no register array,
  * serializes to 0 bytes and evaluates to 0, as HLL++ does on empty
  * input. [[graft.plans.CompactHllRewrite]] substitutes it for the
  * built-in in batch plans.
  */
case class CompactHll(
    child: Expression,
    relativeSD: Double = 0.05,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CompactHll.Words]
    with UnaryLike[Expression] {

  @transient private lazy val helper = new HyperLogLogPlusPlusHelper(relativeSD)

  override def prettyName: String = "approx_count_distinct"

  override def nullable: Boolean = false

  override def dataType: DataType = LongType

  override def defaultResult: Option[Literal] = Some(Literal(0L))

  override def createAggregationBuffer(): CompactHll.Words = new CompactHll.Words

  override def update(buf: CompactHll.Words, input: InternalRow): CompactHll.Words = {
    val v = child.eval(input)
    if (v != null) {
      if (buf.words == null) buf.words = new Array[Long](helper.numWords)
      helper.update(buf, 0, v, child.dataType)
    }
    buf
  }

  override def merge(buf: CompactHll.Words, other: CompactHll.Words): CompactHll.Words = {
    if (other.words != null) {
      if (buf.words == null) buf.words = other.words.clone()
      else helper.merge(buf, other, 0, 0)
    }
    buf
  }

  override def eval(buf: CompactHll.Words): Any =
    if (buf.words == null) 0L else helper.query(buf, 0)

  override def serialize(buf: CompactHll.Words): Array[Byte] =
    if (buf.words == null) Array.emptyByteArray
    else {
      val bb = ByteBuffer.allocate(buf.words.length * 8)
      bb.asLongBuffer().put(buf.words)
      bb.array()
    }

  override def deserialize(bytes: Array[Byte]): CompactHll.Words = {
    val buf = new CompactHll.Words
    if (bytes.nonEmpty) {
      require(bytes.length == helper.numWords * 8,
        s"HLL++ buffer of ${bytes.length} bytes, want ${helper.numWords * 8}")
      buf.words = new Array[Long](helper.numWords)
      ByteBuffer.wrap(bytes).asLongBuffer().get(buf.words)
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): CompactHll =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): CompactHll =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildInternal(newChild: Expression): CompactHll =
    copy(child = newChild)
}

object CompactHll {

  /** The register words behind the `InternalRow` interface the HLL++
    * helper reads and writes (`getLong`/`setLong` at word offsets),
    * unboxed; `words` stays null until the first non-null input.
    */
  final class Words extends BaseGenericInternalRow {
    var words: Array[Long] = _

    override protected def genericGet(i: Int): Any = words(i)
    override def getLong(i: Int): Long = words(i)
    override def setLong(i: Int, v: Long): Unit = words(i) = v
    override def numFields: Int = if (words == null) 0 else words.length
    override def setNullAt(i: Int): Unit =
      throw new UnsupportedOperationException("HLL++ register words are never null")
    override def update(i: Int, v: Any): Unit = words(i) = v.asInstanceOf[Long]
  }
}
