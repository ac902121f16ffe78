package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

import graft.functions.expressions.VectorKernels.{JavaName => K, VectorType}

/** Native dot product over two `array<double>` columns.
  *
  * Why a custom Catalyst expression (builder preference order (b)):
  * the `zip_with` + `aggregate` composition is semantically identical
  * but materializes an intermediate product array and a boxed fold
  * state per row — at 2M+ vector pairs that dominated the e02 bench
  * (≈150 s). This expression generates a primitive double loop over
  * the two `ArrayData`s inside WholeStageCodegen: no allocation, no
  * boxing, auto-vectorizable by the JIT.
  *
  * Semantics: element-wise product summed over the common prefix
  * length, left-to-right — the same accumulation order as the
  * `aggregate` fold and DuckDB's list functions, keeping oracle
  * comparisons bit-stable. Null arrays propagate null (NullIntolerant
  * via BinaryExpression's default nullSafeEval path); null ELEMENTS are
  * skipped. Other numeric arrays are cast to `array<double>` at
  * analysis. Both operands are read in place: no per-pair copy.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(VectorType, VectorType)

  override def dataType: DataType = DoubleType

  override def prettyName: String = DotProduct.FnName

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $K.dot($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object DotProduct {

  import org.apache.spark.sql.Column

  val FnName = "graft_dot"

  /** Column-level handle. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function(FnName, a, b)
}
