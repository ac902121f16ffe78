package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

import graft.functions.expressions.VectorKernels.{JavaName => K, VectorType}

/** Scalar (int8) vector quantization — the FAISS `SQ8` flat-index
  * codec, as two codegen'd expressions.
  *
  * [[Sq8Encode]] maps an L2-NORMALIZED `array<double>` to a `binary`
  * of the same length: each coordinate `round(x*127)` clamped to
  * [-127, 127] (unit vectors have |x| <= 1, so clamping only guards
  * float slop). 64-dim float vector -> 64 bytes: a 4x read-bandwidth
  * cut, which at 100 TB is the difference between a scoring scan that
  * streams from page cache and one that doesn't.
  *
  * [[Sq8Dot]] is the integer dot product over two such codes (summed
  * over the common prefix, left-to-right). `dot(a,b)/127^2`
  * approximates cosine of the original unit vectors with per-coordinate
  * error <= 1/254 — more than enough to pick rerank candidates; the
  * exact float pass downstream restores true scores (see
  * `Similarity.knnSq8`).
  *
  * Both are single primitive loops over `byte[]`/`ArrayData` inside
  * WholeStageCodegen ([[VectorKernels]]) — no allocation beyond the
  * output code, no boxing (the same rationale as [[DotProduct]]).
  * Null input propagates null via the default nullSafeEval path.
  */
case class Sq8Encode(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(VectorType)

  override def dataType: DataType = BinaryType

  override def prettyName: String = Sq8.EncodeFnName

  override protected def nullSafeEval(a: Any): Any =
    VectorKernels.sq8Encode(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $K.sq8Encode($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class Sq8Dot(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)

  override def dataType: DataType = LongType

  override def prettyName: String = Sq8.DotFnName

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sq8Dot(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $K.sq8Dot($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Sq8 {

  import org.apache.spark.sql.Column

  val EncodeFnName = "graft_sq8_encode"
  val DotFnName = "graft_sq8_dot"

  /** Column-level handles. */
  def encode(v: Column): Column =
    org.apache.spark.sql.functions.call_function(EncodeFnName, v)

  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function(DotFnName, a, b)
}
