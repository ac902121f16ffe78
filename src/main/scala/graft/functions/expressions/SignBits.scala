package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

import graft.functions.expressions.VectorKernels.{JavaName => K, MatrixType, VectorType}

/** Packed sign-signature: `graft_sign_bits(vec, planes)` with `planes`
  * a literal (plane → coords) array returns ONE `bigint` — bit p set
  * iff <vec, planes[p]> >= 0, up to 64 planes (more is an error: a
  * `bigint` has no bit for plane 64). The binary-quantization
  * codec: where [[SignBuckets]] emits per-table SHORT bucket ids for
  * hash-join candidate generation, this packs a LONG signature for
  * flat Hamming scanning (`bit_count(a ^ b)` — both built-in, so the
  * whole scan stays in WholeStageCodegen). 64 bits per vector is a
  * 32× bandwidth cut vs float64 coords — the column a 100 TB
  * first-pass filter actually reads.
  *
  * Same constant-bytecode rationale and null/NaN parity as
  * [[SignBuckets]]: dots accumulate left-to-right, null elements
  * are skipped, a NaN projection sets no bit, a null vector returns
  * null (and falls out of the scan — the SignBuckets contract).
  */
case class SignBits(left: Expression, right: Expression)
    extends BinaryExpression with MatrixArgs {

  override def inputTypes: Seq[DataType] = Seq(VectorType, MatrixType)

  override protected def maxRows: Int = 64

  override def dataType: DataType = LongType

  override def prettyName: String = SignBits.FnName

  override protected def nullSafeEval(v: Any, ps: Any): Any =
    VectorKernels.signBits(v.asInstanceOf[ArrayData], mat(1, ps))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, ps) =>
      s"${ev.value} = $K.signBits($v, ${matCode(ctx, 1, ps)});")

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
