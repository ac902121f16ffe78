package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, LongType}

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
  * WholeStageCodegen — no allocation beyond the output code, no boxing
  * (the same rationale as [[DotProduct]], which this mirrors).
  * Null input propagates null via the default nullSafeEval path.
  */
case class Sq8Encode(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))

  override def dataType: DataType = BinaryType

  override def prettyName: String = "graft_sq8_encode"

  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      // null element -> 0 code, matching DotProduct's 0-contribution rule
      if (!x.isNullAt(i)) {
        val q = Math.rint(x.getDouble(i) * 127.0)
        out(i) = Math.max(-127.0, Math.min(127.0, q)).toByte
      }
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val q = ctx.freshName("q")
      s"""
         |int $n = $a.numElements();
         |byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    double $q = java.lang.Math.rint($a.getDouble($i) * 127.0);
         |    $out[$i] = (byte) java.lang.Math.max(-127.0, java.lang.Math.min(127.0, $q));
         |  }
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class Sq8Dot(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(BinaryType, BinaryType)

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_sq8_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    val n = math.min(x.length, y.length)
    var s = 0L
    var i = 0
    while (i < n) { s += x(i).toLong * y(i).toLong; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val sum = ctx.freshName("sum")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.length, $b.length);
         |long $sum = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += (long) $a[$i] * (long) $b[$i];
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

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
