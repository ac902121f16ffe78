package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

import graft.functions.expressions.VectorKernels.{JavaName => K, TablesType, VectorType}

/** All-tables sign-LSH bucket ids in ONE data-driven loop:
  * `graft_sign_buckets(vec, planes)` where `planes` is the literal
  * nested array (table → plane → coords) returns `array<int>` — one
  * bucket per table, bit p set iff <vec, planes[t][p]> >= 0. A table
  * of more than 32 planes is an error: an `int` has no bit for plane 32.
  *
  * Why an expression (the [[CentroidOps]] argument, measured on e05's
  * sf1 replica, round 9): the unrolled per-plane form — nTables ×
  * nPlanes separate `when(dot(v, lit) >= 0, 1<<p)` trees, each with
  * its own dim-length literal — generates bytecode proportional to
  * tables × planes × dim. At 8 × 12 × 64 the projection trips janino's
  * `hugeMethodLimit`, silently falls back to interpreted eval, and the
  * bucket stage alone took 15 s of the 18.5 s query wall. This loop is
  * constant bytecode regardless of table/plane count and stays inside
  * WholeStageCodegen (~1 s for the same stage).
  *
  * Parity with the unrolled form: dots accumulate left-to-right over
  * the common prefix, null ELEMENTS are skipped (same as
  * [[DotProduct]]), a NaN projection sets no bit (`NaN >= 0` is
  * false). A null vector returns null (row dropped by the downstream
  * posexplode) where the unrolled form produced bucket 0 — no caller
  * feeds null embeddings (Tables.load schemas are non-null), and
  * dropping is the safer contract: a null vector in bucket 0 would
  * silently pair with real vectors.
  */
case class SignBuckets(left: Expression, right: Expression)
    extends BinaryExpression with MatrixArgs {

  override def inputTypes: Seq[DataType] = Seq(VectorType, TablesType)

  override protected def maxRows: Int = 32

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = SignBuckets.FnName

  override protected def nullSafeEval(v: Any, ps: Any): Any =
    VectorKernels.signBuckets(v.asInstanceOf[ArrayData], mat(1, ps))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, ps) =>
      s"${ev.value} = $K.signBuckets($v, ${matCode(ctx, 1, ps)});")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SignBuckets {

  import org.apache.spark.sql.Column

  val FnName = "graft_sign_buckets"
  val CpFnName = "graft_cp_buckets"

  /** Column-level handle. */
  def of(vec: Column, planes: Column): Column =
    org.apache.spark.sql.functions.call_function(FnName, vec, planes)

  /** Cross-polytope buckets. */
  def cp(vec: Column, rotations: Column): Column =
    org.apache.spark.sql.functions.call_function(CpFnName, vec, rotations)
}

/** All-tables cross-polytope LSH bucket ids in one loop:
  * `graft_cp_buckets(vec, rotations)` with `rotations` the literal
  * nested array (table → projected-coord → input-coords) returns
  * `array<int>` — per table, the SIGNED 1-based index of the
  * max-|value| rotated coordinate (Andoni et al. 2015's hash). Same
  * constant-bytecode rationale as [[SignBuckets]]: the composed
  * `array_position(abs, array_max(abs))` form carries nTables ×
  * dimProj unrolled dot literals and a HOF per table — bytecode ∝
  * tables × dimProj × dim and interpreted HOF eval either way.
  * Tie/NaN parity with the replaced form: the FIRST maximal |coord|
  * wins (array_position returns the first match), NaN ranks above
  * every number (Spark double ordering), and a NaN winner takes the
  * NEGATIVE index (`NaN >= 0` is false in the `when`).
  */
case class CpBuckets(left: Expression, right: Expression)
    extends BinaryExpression with MatrixArgs {

  override def inputTypes: Seq[DataType] = Seq(VectorType, TablesType)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = SignBuckets.CpFnName

  override protected def nullSafeEval(v: Any, rs: Any): Any =
    VectorKernels.cpBuckets(v.asInstanceOf[ArrayData], mat(1, rs))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, rs) =>
      s"${ev.value} = $K.cpBuckets($v, ${matCode(ctx, 1, rs)});")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
