package graft.functions.expressions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra-Gries heavy-hitters summary as a [[TypedImperativeAggregate]]:
  * a bounded set of `capacity` counters over a string column, whose
  * survivors are GUARANTEED to include every item with true frequency
  * > n/(capacity+1) (Misra & Gries 1982; merge rule and the proof that
  * the bound survives merging from Agarwal et al., "Mergeable
  * Summaries", PODS'12 — both public algorithms).
  *
  * That guarantee is the point: the sketch is the CANDIDATE stage of
  * the sketch→exact-verify pattern (same shape as MinHash→Jaccard and
  * LSH→dot-product elsewhere in this repo). Downstream re-counts only
  * the returned candidates and filters at a threshold above the
  * guarantee line, making the final answer exactly equal to the full
  * groupBy — while the full-vocabulary shuffle is replaced by a
  * constant-size (≤ capacity entries, ~8 KiB) buffer per partition.
  * At 100 TB vocabulary cardinality (trillions of distinct n-grams)
  * that is the difference between a bounded aggregation and a shuffle
  * the size of the corpus.
  *
  * update: +1 if tracked; insert if room; else decrement ALL counters
  * (dropping zeros) — amortized O(1) per row. merge: sum counters
  * pairwise, then subtract the (capacity+1)-th largest count from all
  * and keep the positives. eval: surviving items, sorted for
  * determinism.
  */
case class MisraGries(
    child: Expression,
    capacity: Int = 256,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MisraGries.Summary]
    with ImplicitCastInputTypes {

  require(capacity > 0, s"capacity must be positive, got $capacity")

  override def children: Seq[Expression] = Seq(child)

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_heavy_hitters"

  override def createAggregationBuffer(): MisraGries.Summary =
    new MisraGries.Summary(capacity)

  override def update(buf: MisraGries.Summary, input: InternalRow): MisraGries.Summary = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(buf: MisraGries.Summary, other: MisraGries.Summary): MisraGries.Summary = {
    buf.mergeWith(other)
    buf
  }

  override def eval(buf: MisraGries.Summary): Any =
    new GenericArrayData(
      buf.items.sorted.map(UTF8String.fromString(_): AnyRef).toArray)

  override def serialize(buf: MisraGries.Summary): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): MisraGries.Summary =
    MisraGries.Summary.fromBytes(bytes, capacity)

  override def withNewMutableAggBufferOffset(offset: Int): MisraGries =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): MisraGries =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object MisraGries {

  /** The classic counter map. Counts are LOWER bounds (each item's true
    * count minus at most n/(capacity+1)); items and bounds are exposed
    * for the verify stage and tests.
    */
  final class Summary(val capacity: Int) {
    private val counts = scala.collection.mutable.HashMap.empty[String, Long]

    def items: Seq[String] = counts.keys.toSeq
    def lowerBound(item: String): Long = counts.getOrElse(item, 0L)

    def add(item: String, by: Long = 1L): Unit = {
      counts.get(item) match {
        case Some(c) => counts.update(item, c + by)
        case None if counts.size < capacity => counts.update(item, by)
        case None =>
          // decrement-all by the largest step that keeps the invariant:
          // min(by, smallest tracked count) — one pass, zeros dropped;
          // any remainder of `by` re-enters (a slot is now free or the
          // remainder is 0)
          val step = math.min(by, counts.valuesIterator.min)
          val dead = scala.collection.mutable.ArrayBuffer.empty[String]
          counts.mapValuesInPlace((_, c) => c - step)
          counts.foreach { case (k, c) => if (c <= 0L) dead += k }
          dead.foreach(counts.remove)
          if (by > step) add(item, by - step)
      }
    }

    /** Agarwal et al. merge: pairwise counter sum, then cut back to
      * `capacity` by subtracting the (capacity+1)-th largest count.
      */
    def mergeWith(other: Summary): Unit = {
      other.counts.foreach { case (k, c) =>
        counts.update(k, counts.getOrElse(k, 0L) + c)
      }
      if (counts.size > capacity) {
        val cut = counts.values.toArray.sorted(Ordering[Long].reverse)(capacity)
        val dead = scala.collection.mutable.ArrayBuffer.empty[String]
        counts.mapValuesInPlace((_, c) => c - cut)
        counts.foreach { case (k, c) => if (c <= 0L) dead += k }
        dead.foreach(counts.remove)
      }
    }

    def toBytes: Array[Byte] = {
      val entries = counts.toArray
      val payload = entries.map { case (k, _) => k.getBytes(StandardCharsets.UTF_8) }
      val bb = ByteBuffer.allocate(4 + payload.map(_.length + 12).sum)
      bb.putInt(entries.length)
      entries.indices.foreach { i =>
        bb.putInt(payload(i).length)
        bb.put(payload(i))
        bb.putLong(entries(i)._2)
      }
      bb.array()
    }
  }

  object Summary {
    def fromBytes(bytes: Array[Byte], capacity: Int): Summary = {
      val bb = ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val s = new Summary(capacity)
      var i = 0
      while (i < n) {
        val len = bb.getInt
        val kb = new Array[Byte](len)
        bb.get(kb)
        s.add(new String(kb, StandardCharsets.UTF_8), bb.getLong)
        i += 1
      }
      s
    }
  }

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.catalyst.expressions.Literal

  val FnName = "graft_heavy_hitters"

  /** SQL builder for `graft_heavy_hitters(col[, capacity])`. */
  def build(exprs: Seq[Expression]): Expression = {
    val cap = if (exprs.length > 1) exprs(1) match {
      case Literal(c: Int, _) => c
      case other => sys.error(s"$FnName: capacity must be an int literal, got $other")
    } else 256
    MisraGries(exprs.head, cap).toAggregateExpression()
  }

  /** Column-level handle. */
  def candidates(x: Column, capacity: Int = 256): Column =
    org.apache.spark.sql.functions.call_function(FnName, x,
      org.apache.spark.sql.functions.lit(capacity))
}
