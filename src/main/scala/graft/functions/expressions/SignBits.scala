package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Packed sign-signature: `graft_sign_bits(vec, planes)` with `planes`
  * a literal (plane → coords) array returns ONE `bigint` — bit p set
  * iff <vec, planes[p]> >= 0, up to 64 planes. The binary-quantization
  * codec: where [[SignBuckets]] emits per-table SHORT bucket ids for
  * hash-join candidate generation, this packs a LONG signature for
  * flat Hamming scanning (`bit_count(a ^ b)` — both built-in, so the
  * whole scan stays in WholeStageCodegen). 64 bits per vector is a
  * 32× bandwidth cut vs float64 coords — the column a 100 TB
  * first-pass filter actually reads.
  *
  * Same constant-bytecode rationale and null/NaN parity as
  * [[SignBuckets]]: dots accumulate left-to-right, null elements
  * contribute 0, a NaN projection sets no bit, a null vector returns
  * null (and falls out of the scan — the SignBuckets contract).
  */
case class SignBits(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_sign_bits"

  override protected def nullSafeEval(v: Any, ps: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val planes = ps.asInstanceOf[ArrayData]
    val nP = math.min(planes.numElements(), 64)
    var sig = 0L
    var p = 0
    while (p < nP) {
      val plane = planes.getArray(p)
      val n = math.min(vec.numElements(), plane.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        if (!vec.isNullAt(i) && !plane.isNullAt(i)) {
          s += vec.getDouble(i) * plane.getDouble(i)
        }
        i += 1
      }
      if (s >= 0) sig |= 1L << p
      p += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, ps) => {
      val nP = ctx.freshName("nP")
      val sig = ctx.freshName("sig")
      val p = ctx.freshName("p")
      val plane = ctx.freshName("plane")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
      s"""
         |int $nP = java.lang.Math.min($ps.numElements(), 64);
         |long $sig = 0L;
         |for (int $p = 0; $p < $nP; $p++) {
         |  $ad $plane = $ps.getArray($p);
         |  int $n = java.lang.Math.min($v.numElements(), $plane.numElements());
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$v.isNullAt($i) && !$plane.isNullAt($i)) {
         |      $s += $v.getDouble($i) * $plane.getDouble($i);
         |    }
         |  }
         |  if ($s >= 0) { $sig |= 1L << $p; }
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SignBits {

  import org.apache.spark.sql.Column

  val FnName = "graft_sign_bits"

  /** Column-level handle. */
  def of(vec: Column, planes: Column): Column =
    org.apache.spark.sql.functions.call_function(FnName, vec, planes)
}
