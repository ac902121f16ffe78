package graft.functions.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Mergeable approximate-quantile sketch: a t-digest-style centroid
  * digest as a [[TypedImperativeAggregate]] (SURVEY §2.5 sketch
  * surface; round-2 VERDICT item 6).
  *
  * The buffer is a value-sorted list of (mean, weight) centroids,
  * capped at `compression` entries. Updates append to an uncompressed
  * tail; whenever the tail exceeds the cap the digest compresses by
  * sorting and greedily merging neighbors under the t-digest size
  * bound 4·n·q(1−q)/compression — centroids near the median absorb
  * more mass than centroids at the tails, which is what preserves
  * tail-quantile accuracy (Dunning & Ertl, "Computing Extremely
  * Accurate Quantiles Using t-Digests", 2019 — public algorithm).
  *
  * Cluster posture: `update` is map-side (partial aggregation),
  * `merge` concatenates + recompresses two digests — associative and
  * commutative up to compression error, bounded buffer (≤ 2·cap
  * centroids ≙ ~16 KiB at cap=512) regardless of input size. This is
  * the same execution shape as Spark's own `percentile_approx`; the
  * point here is demonstrating the TypedImperativeAggregate surface
  * end-to-end (serialize/deserialize across exchange, partial+final).
  *
  * Rank error: ≤ ~4·q(1−q)/compression + interpolation error; the
  * OperatorSpec pins observed error ≤ 0.01 rank at compression 256 on
  * 50k rows.
  */
case class QuantileDigest(
    child: Expression,
    percentages: Seq[Double],
    compression: Int = 256,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[QuantileDigest.Digest]
    with ImplicitCastInputTypes {

  override def children: Seq[Expression] = Seq(child)

  // AbstractDataType is private[sql]; Seq[DataType] is a legal
  // covariant override of Seq[AbstractDataType]
  override def inputTypes: Seq[DataType] = Seq(DoubleType)

  override def nullable: Boolean = true

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "graft_tdigest"

  override def createAggregationBuffer(): QuantileDigest.Digest =
    new QuantileDigest.Digest(compression)

  override def update(buf: QuantileDigest.Digest, input: InternalRow): QuantileDigest.Digest = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Double], 1.0)
    buf
  }

  override def merge(buf: QuantileDigest.Digest, other: QuantileDigest.Digest): QuantileDigest.Digest = {
    buf.mergeWith(other)
    buf
  }

  override def eval(buf: QuantileDigest.Digest): Any =
    if (buf.totalWeight == 0.0) null
    else new GenericArrayData(percentages.map(buf.quantile).toArray)

  override def serialize(buf: QuantileDigest.Digest): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): QuantileDigest.Digest =
    QuantileDigest.Digest.fromBytes(bytes, compression)

  override def withNewMutableAggBufferOffset(offset: Int): QuantileDigest =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): QuantileDigest =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object QuantileDigest {

  /** Value-sorted centroid digest with a deterministic greedy
    * compressor (no randomness — repeated runs byte-match).
    */
  final class Digest(val compression: Int) {
    // parallel arrays, kept value-sorted after each compress()
    private var means = new Array[Double](0)
    private var weights = new Array[Double](0)
    // uncompressed tail of raw (value, weight) points
    private val tailV = scala.collection.mutable.ArrayBuffer.empty[Double]
    private val tailW = scala.collection.mutable.ArrayBuffer.empty[Double]

    def totalWeight: Double = {
      var s = 0.0
      var i = 0
      while (i < weights.length) { s += weights(i); i += 1 }
      var j = 0
      while (j < tailW.length) { s += tailW(j); j += 1 }
      s
    }

    def add(v: Double, w: Double): Unit = {
      tailV += v; tailW += w
      if (tailV.length >= 4 * compression) compress()
    }

    def mergeWith(other: Digest): Unit = {
      var i = 0
      while (i < other.means.length) { tailV += other.means(i); tailW += other.weights(i); i += 1 }
      var j = 0
      while (j < other.tailV.length) { tailV += other.tailV(j); tailW += other.tailW(j); j += 1 }
      compress()
    }

    /** Sort all mass by value, then greedily merge runs while the run's
      * weight stays under the t-digest bound 4·W·q(1−q)/compression at
      * the run's mid-quantile.
      */
    private def compress(): Unit = {
      val n = means.length + tailV.length
      if (n == 0) return
      val vs = new Array[Double](n)
      val ws = new Array[Double](n)
      System.arraycopy(means, 0, vs, 0, means.length)
      System.arraycopy(weights, 0, ws, 0, means.length)
      var i = 0
      while (i < tailV.length) { vs(means.length + i) = tailV(i); ws(means.length + i) = tailW(i); i += 1 }
      tailV.clear(); tailW.clear()
      val order = (0 until n).sortBy(vs(_))
      val total = ws.sum

      val outV = scala.collection.mutable.ArrayBuffer.empty[Double]
      val outW = scala.collection.mutable.ArrayBuffer.empty[Double]
      var accV = 0.0 // Σ w·v of the open run
      var accW = 0.0
      var seen = 0.0 // weight closed out so far
      order.foreach { idx =>
        val w = ws(idx)
        val q = (seen + accW + w / 2) / total // mid-quantile if absorbed
        val cap = math.max(4.0 * total * q * (1 - q) / compression, 1.0)
        if (accW > 0 && accW + w > cap) {
          outV += accV / accW; outW += accW
          seen += accW
          accV = 0.0; accW = 0.0
        }
        accV += vs(idx) * w; accW += w
      }
      if (accW > 0) { outV += accV / accW; outW += accW }
      means = outV.toArray
      weights = outW.toArray
    }

    /** Interpolated quantile at p ∈ [0,1] over the compressed centroids
      * (centroid i covers the weight interval around its cumulative
      * midpoint — standard t-digest interpolation).
      */
    def quantile(p: Double): Double = {
      compress()
      if (means.isEmpty) return Double.NaN
      if (means.length == 1) return means(0)
      val total = weights.sum
      val target = p * total
      var cum = 0.0
      var i = 0
      while (i < means.length) {
        val mid = cum + weights(i) / 2
        if (target <= mid) {
          if (i == 0) return means(0)
          val prevMid = cum - weights(i - 1) / 2
          val f = (target - prevMid) / (mid - prevMid)
          return means(i - 1) + f * (means(i) - means(i - 1))
        }
        cum += weights(i)
        i += 1
      }
      means.last
    }

    def toBytes: Array[Byte] = {
      compress()
      val bb = ByteBuffer.allocate(4 + means.length * 16)
      bb.putInt(means.length)
      var i = 0
      while (i < means.length) { bb.putDouble(means(i)); bb.putDouble(weights(i)); i += 1 }
      bb.array()
    }
  }

  object Digest {
    def fromBytes(bytes: Array[Byte], compression: Int): Digest = {
      val bb = ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val d = new Digest(compression)
      var i = 0
      while (i < n) { d.add(bb.getDouble, bb.getDouble); i += 1 }
      d
    }
  }

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.catalyst.expressions.{CreateArray, Literal}
  import org.apache.spark.sql.catalyst.util.ArrayData

  val FnName = "graft_tdigest"

  /** SQL builder for `graft_tdigest(col, array(p...)[, compression])`:
    * the percentages and compression must be literals.
    */
  def build(exprs: Seq[Expression]): Expression = {
    val ps = exprs(1) match {
      case Literal(arr: ArrayData, ArrayType(DoubleType, _)) =>
        arr.toDoubleArray().toSeq
      case ca: CreateArray => ca.children.map { // SQL `array(0.5, ...)`
        case Literal(d, _: org.apache.spark.sql.types.NumericType) =>
          d.asInstanceOf[Number].doubleValue()
        case other => sys.error(s"$FnName: non-literal percentage $other")
      }
      case other => sys.error(
        s"$FnName: percentages must be a literal array<double>, got $other")
    }
    val comp = if (exprs.length > 2) exprs(2) match {
      case Literal(c: Int, _) => c
      case other => sys.error(s"$FnName: compression must be an int literal, got $other")
    } else 256
    QuantileDigest(exprs(0), ps, comp).toAggregateExpression()
  }

  /** Column-level handle. */
  def quantiles(x: Column, ps: Seq[Double], compression: Int = 256): Column =
    org.apache.spark.sql.functions.call_function(FnName, x,
      org.apache.spark.sql.functions.typedlit(ps),
      org.apache.spark.sql.functions.lit(compression))
}
