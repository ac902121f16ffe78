package graft.functions.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** KMV (k-minimum-values / bottom-k theta) distinct sketch as a
  * [[TypedImperativeAggregate]] — the mergeable distinct-count sketch
  * that, unlike HLL (q35), also supports SET OPERATIONS: because the
  * sketch IS a uniform sample of the distinct-value hash space (the k
  * smallest 64-bit hashes), union/intersection/Jaccard of sketches are
  * computable by plain array column functions downstream
  * (Beyer et al., "On Synopses for Distinct-Value Estimation Under
  * Multiset Operations", SIGMOD 2007 — public algorithm).
  *
  * The sketch value is `array<bigint>`: the k smallest hashes in
  * ascending unsigned order, stored SIGN-FLIPPED (h ^ Long.MinValue)
  * so ascending signed order — what `array_sort`/`array_max` and
  * plain `<` see — equals ascending unsigned hash order. A hash h
  * normalizes to u = h/2⁶⁴ ∈ [0,1) via `u = flipped/2⁶⁴ + 0.5` (pure
  * column arithmetic, see [[Kmv.normalized]]).
  *
  * Estimators (all in [[Kmv]]):
  *  - distinct:  |S| < k → exact |S|; else (k−1)/u_k.
  *  - union:     merge arrays, keep k smallest — EXACTLY the sketch
  *               of the concatenated inputs (asserted in spec).
  *  - intersect: θ = min(θ_A, θ_B); |A∩B under θ| / θ.
  *
  * Cluster posture: bounded buffer (k × 8 bytes + TreeSet overhead,
  * k=256 default ≙ 2 KiB serialized), map-side partials, associative
  * commutative merge. Input is LongType — hash strings/composites to
  * 64 bits first (`xxhash64(...)`); the sketch re-mixes with
  * splitmix64 so sequential ids are fine too.
  *
  * Standard error ≈ 1/√(k−2) ≈ 6.3% at k=256; intersection error
  * scales with 1/(J·√k) for Jaccard J — pinned in OperatorSpec.
  */
case class KmvSketch(
    child: Expression,
    k: Int = 256,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KmvSketch.Buf]
    with ImplicitCastInputTypes {

  require(k >= 2, "KMV needs k >= 2")

  override def children: Seq[Expression] = Seq(child)

  override def inputTypes: Seq[DataType] = Seq(LongType)

  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_kmv"

  override def createAggregationBuffer(): KmvSketch.Buf = new KmvSketch.Buf(k)

  override def update(buf: KmvSketch.Buf, input: InternalRow): KmvSketch.Buf = {
    val v = child.eval(input)
    if (v != null) buf.add(KmvSketch.mix(v.asInstanceOf[Long]))
    buf
  }

  override def merge(buf: KmvSketch.Buf, other: KmvSketch.Buf): KmvSketch.Buf = {
    buf.mergeWith(other)
    buf
  }

  override def eval(buf: KmvSketch.Buf): Any =
    new GenericArrayData(buf.toSortedArray)

  override def serialize(buf: KmvSketch.Buf): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): KmvSketch.Buf =
    KmvSketch.Buf.fromBytes(bytes, k)

  override def withNewMutableAggBufferOffset(offset: Int): KmvSketch =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): KmvSketch =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object KmvSketch {

  /** splitmix64 finalizer (public domain, Steele et al.) — decorrelates
    * sequential ids into uniform 64-bit hashes.
    */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Bounded set of the k smallest hashes, kept flipped so natural
    * (signed) ordering is unsigned hash ordering.
    */
  final class Buf(val k: Int) {
    private val set = new java.util.TreeSet[java.lang.Long]()

    // the ONE place the bounded-insert invariant lives (add, merge,
    // and deserialize all go through it): keep the k smallest flipped
    // values, ignoring duplicates
    private def insertFlipped(f: Long): Unit = {
      if (set.size < k) { set.add(f); () }
      else if (f < set.last && !set.contains(f)) {
        set.add(f)
        set.remove(set.last)
      }
    }

    def add(rawHash: Long): Unit = insertFlipped(rawHash ^ Long.MinValue)

    private[KmvSketch] def addFlipped(f: Long): Unit = insertFlipped(f)

    def mergeWith(other: Buf): Unit = {
      val it = other.set.iterator()
      while (it.hasNext) insertFlipped(it.next().longValue())
    }

    def toSortedArray: Array[Long] = {
      val out = new Array[Long](set.size)
      val it = set.iterator()
      var i = 0
      while (it.hasNext) { out(i) = it.next().longValue(); i += 1 }
      out
    }

    def toBytes: Array[Byte] = {
      val arr = toSortedArray
      val bb = ByteBuffer.allocate(4 + arr.length * 8)
      bb.putInt(arr.length)
      arr.foreach(bb.putLong)
      bb.array()
    }
  }

  object Buf {
    def fromBytes(bytes: Array[Byte], k: Int): Buf = {
      val bb = ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val b = new Buf(k)
      var i = 0
      // serialized values are already in flipped form
      while (i < n) { b.addFlipped(bb.getLong); i += 1 }
      b
    }
  }
}

/** Column-level KMV surface: the aggregate plus the sketch-algebra
  * combinators (estimate / union / intersection / Jaccard), all pure
  * `functions._` compositions over the `array<bigint>` sketch value —
  * sketches can be stored per partition/day and combined at query
  * time without touching the raw data.
  */
object Kmv {

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.functions._

  val FnName = "graft_kmv"

  /** SQL builder for `graft_kmv(col[, k])`; `k` must be an int literal. */
  def build(exprs: Seq[Expression]): Expression = {
    val k = if (exprs.length > 1) exprs(1) match {
      case Literal(i: Int, _) => i
      case other => sys.error(s"$FnName: k must be an int literal, got $other")
    } else 256
    KmvSketch(exprs(0), k).toAggregateExpression()
  }

  /** Aggregate: KMV sketch of a 64-bit-hashable column. */
  def sketch(x: Column, k: Int = 256): Column =
    call_function(FnName, x, lit(k))

  /** Normalized position of a stored (flipped) hash in [0, 1). */
  private def normalized(h: Column): Column =
    h.cast("double") / lit(2.0) / lit(Long.MaxValue.toDouble) + lit(0.5)

  /** θ of a sketch: the normalized k-th smallest hash, or 1 when the
    * sketch holds fewer than k values (then it IS the exact set).
    */
  private def theta(sk: Column, k: Int): Column =
    when(size(sk) < k, lit(1.0)).otherwise(normalized(element_at(sk, k)))

  /** Distinct-count estimate: exact below k, else (k−1)/u_k. */
  def estimate(sk: Column, k: Int = 256): Column =
    when(size(sk) < k, size(sk).cast("double"))
      .otherwise(lit(k - 1.0) / normalized(element_at(sk, k)))

  /** Sketch of the union — identical to sketching the concatenated
    * inputs (KMV's closure property).
    */
  def unionSketch(a: Column, b: Column, k: Int = 256): Column =
    slice(array_sort(array_union(a, b)), 1, k)

  /** Distinct-count estimate of the intersection: common hashes below
    * the joint θ, inverse-scaled by θ (the theta-sketch estimator).
    */
  def intersectEstimate(a: Column, b: Column, k: Int = 256): Column = {
    val th = least(theta(a, k), theta(b, k))
    val common = filter(array_intersect(a, b), h => normalized(h) < th)
    size(common).cast("double") / th
  }

  /** Jaccard estimate |A∩B|/|A∪B| from the two sketches. */
  def jaccardEstimate(a: Column, b: Column, k: Int = 256): Column =
    intersectEstimate(a, b, k) / estimate(unionSketch(a, b, k), k)
}
