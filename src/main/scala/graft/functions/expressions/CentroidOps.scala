package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

import graft.functions.expressions.VectorKernels.{JavaName => K, MatrixType, TablesType, VectorType}

/** Centroid-assignment primitives for the ANN/quantization operators,
  * as native codegen expressions.
  *
  * Why: cell assignment ("which centroid is nearest?") is the inner
  * step of k-means training, IVF bucketing, and PQ encoding. Expressed
  * relationally it is either (a) a broadcast join against a centroid
  * table + a full-corpus `groupBy(id).agg(max(struct))` argmax — an
  * O(corpus × centroids) row blowup and an Exchange of the whole
  * corpus per pass (the shape `Pq.assignCells` used), or (b) an
  * unrolled array-of-struct literal expression, which exceeds janino's
  * `hugeMethodLimit` once centroids × dims grows and silently drops
  * the stage out of whole-stage codegen (measured ~25× slower). Both
  * shapes are wrong at 100 TB.
  *
  * These expressions take the centroid table as a LITERAL ARRAY
  * ARGUMENT (`typedlit` of the nested Seq): the generated code is one
  * call to a [[VectorKernels]] loop over the table decoded once per
  * task — constant bytecode size regardless of centroid count, stays
  * inside WholeStageCodegen, and assignment becomes a pure projection:
  * no join, no Exchange, no generated row explosion.
  *
  * Tie-break parity (`VectorKernels.takes`): all argmaxes update on
  * `>=` while scanning cell ids ascending — ties go to the LARGER cell
  * id, exactly the order of the `max(struct(score, cid))` aggregations
  * they replace, so swapping them in moves no assignment. NaN handling: a NaN score
  * never wins against a finite one, a finite score always displaces a
  * NaN incumbent, and cell 0 is the fallback winner when EVERY score
  * is NaN — so a NaN embedding gets a valid cell id (never a -1 that
  * would crash the Lloyd update or silently drop the row from an
  * index), and a NaN-poisoned centroid is quarantined instead of
  * capturing the whole corpus (`s >= NaN` being always-false would
  * otherwise make a NaN initial winner undisplaceable).
  */
object CentroidOps {

  import org.apache.spark.sql.Column

  val NearestCellFn = "graft_nearest_cell"
  val PqEncodeFn = "graft_pq_encode"
  val ResidualFn = "graft_centroid_residual"
  val PqErrorFn = "graft_pq_error"
  val TopCellsFn = "graft_top_cells"

  def topCells(vec: Column, cents: Column, nProbe: Column): Column =
    org.apache.spark.sql.functions.call_function(
      TopCellsFn, vec, cents, nProbe)

  def nearestCell(vec: Column, cents: Column, biases: Column): Column =
    org.apache.spark.sql.functions.call_function(
      NearestCellFn, vec, cents, biases)

  def pqEncode(vec: Column, books: Column, biases: Column): Column =
    org.apache.spark.sql.functions.call_function(
      PqEncodeFn, vec, books, biases)

  def residual(vec: Column, cents: Column, cell: Column): Column =
    org.apache.spark.sql.functions.call_function(
      ResidualFn, vec, cents, cell)

  def pqError(resid: Column, codes: Column, books: Column): Column =
    org.apache.spark.sql.functions.call_function(
      PqErrorFn, resid, codes, books)
}

/** argmax_c ( <vec, cents[c]> − biases[c] ) → cell id (int).
  *
  * With zero biases this is argmax-cosine over unit vectors (spherical
  * k-means / IVF home cell); with biases[c] = |c|²/2 it is Euclidean
  * argmin (plain k-means), since argmin ||x−c||² = argmax (<x,c> −
  * |c|²/2). Dots run over the common prefix length; null elements
  * are skipped (same as [[DotProduct]]). Empty centroid array → -1.
  */
case class NearestCell(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression with MatrixArgs {

  override def inputTypes: Seq[DataType] = Seq(VectorType, MatrixType, VectorType)

  override def dataType: DataType = IntegerType

  override def prettyName: String = CentroidOps.NearestCellFn

  override protected def nullSafeEval(v: Any, cs: Any, bs: Any): Any =
    VectorKernels.nearestCell(v.asInstanceOf[ArrayData], mat(1, cs), mat(2, bs))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cs, bs) =>
      s"${ev.value} = $K.nearestCell($v, ${matCode(ctx, 1, cs)}, ${matCode(ctx, 2, bs)});")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** The `nProbe` highest-dot cells against a literal centroid set →
  * array<int> in (score desc, cid desc) order — IVF probe selection
  * ([[graft.operators.Similarity.knnIvf]]'s query side) as one
  * data-driven loop. Replaces the unrolled
  * `slice(reverse(array_sort(array(struct(dot, cid)…))))` form, whose
  * bytecode grows ∝ nCells×dim: past janino's hugeMethodLimit the
  * whole projection silently drops to interpreted eval (the
  * [[NearestCell]]/SignBuckets measurement — an IVF config with
  * thousands of cells, the realistic 100 TB shape, is exactly where
  * it would have tripped). Tie/NaN semantics byte-match the replaced
  * form: Spark's double ordering ranks NaN above every number, ties
  * break to the LARGER cid. nProbe > nCells returns all cells; the
  * O(nCells·nProbe) selection scan is fine for the nProbe « nCells
  * probe regime this exists for.
  */
case class TopCells(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression with MatrixArgs {

  override def inputTypes: Seq[DataType] = Seq(VectorType, MatrixType, IntegerType)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = CentroidOps.TopCellsFn

  override protected def nullSafeEval(v: Any, cs: Any, np: Any): Any =
    VectorKernels.topCells(v.asInstanceOf[ArrayData], mat(1, cs), np.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cs, np) =>
      s"${ev.value} = $K.topCells($v, ${matCode(ctx, 1, cs)}, $np);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Product-quantization encoder: per subspace `s`, the Euclidean-argmin
  * codebook cell of the subvector vec[s·sd … (s+1)·sd) → array<int> of
  * length m (Jégou et al. 2011). `books` is array<array<array<double>>>
  * (subspace → cell → centroid), `biases` is array<array<double>> with
  * biases[s][c] = |books[s][c]|²/2. Subspace width sd is taken from the
  * CODEBOOK's centroid length; a vector whose length ≠ m·sd returns
  * null (a corrupt-length row must be visible, not encoded against
  * silently shifted subspace boundaries).
  */
case class PqEncode(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression with MatrixArgs {

  override def inputTypes: Seq[DataType] = Seq(VectorType, TablesType, MatrixType)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  // null on a length-mismatched vector even over non-null children
  override def nullable: Boolean = true

  override def prettyName: String = CentroidOps.PqEncodeFn

  override protected def nullSafeEval(v: Any, bk: Any, bs: Any): Any =
    VectorKernels.pqEncode(v.asInstanceOf[ArrayData], mat(1, bk), mat(2, bs))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, bk, bs) =>
      s"""${ev.value} = $K.pqEncode($v, ${matCode(ctx, 1, bk)}, ${matCode(ctx, 2, bs)});
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Squared reconstruction error of a PQ code: Σ_s ||resid_s −
  * books[s][codes[s]]||² → double. The quantization-health signal
  * ([[graft.operators.Pq.quantizationError]]): when data drifts away
  * from the codebooks of a long-lived index, this grows — the
  * retrain trigger. Out-of-range/null codes treat the decoded
  * centroid as missing (subvector contributes its own squared norm),
  * so a corrupt code inflates the error instead of hiding. The
  * subspace width comes from the CODEBOOK (like [[PqEncode]]); a
  * vector whose length ≠ m·sd returns null rather than a
  * plausible-looking error over misaligned boundaries — the monitor
  * counts those nulls separately as corrupt rows.
  */
case class PqError(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression with MatrixArgs {

  override def inputTypes: Seq[DataType] =
    Seq(VectorType, ArrayType(IntegerType), TablesType)

  override def dataType: DataType = DoubleType

  // null on a length-mismatched vector even over non-null children
  override def nullable: Boolean = true

  override def prettyName: String = CentroidOps.PqErrorFn

  override protected def nullSafeEval(v: Any, cd: Any, bk: Any): Any = {
    val resid = v.asInstanceOf[ArrayData]
    val books = mat(2, bk)
    if (VectorKernels.pqFits(resid, books))
      VectorKernels.pqError(resid, cd.asInstanceOf[ArrayData], books)
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cd, bk) => {
      val books = ctx.freshName("books")
      s"""${classOf[Matrix].getName} $books = ${matCode(ctx, 2, bk)};
         |${ev.isNull} = !$K.pqFits($v, $books);
         |if (!${ev.isNull}) { ${ev.value} = $K.pqError($v, $cd, $books); }""".stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** vec − cents[cell], element-wise over len(vec) (missing/null centroid
  * elements subtract 0) → array<double>. Replaces the interpreted
  * `zip_with` lambda in the residual computation of IVF-PQ index
  * builds. Out-of-range `cell` → null (never silently wrong).
  */
case class CentroidResidual(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression with MatrixArgs {

  override def inputTypes: Seq[DataType] = Seq(VectorType, MatrixType, IntegerType)

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  // can return null on out-of-range cell even over non-null children —
  // forces a mutable isNull slot in codegen (FalseLiteral otherwise)
  override def nullable: Boolean = true

  override def prettyName: String = CentroidOps.ResidualFn

  override protected def nullSafeEval(v: Any, cs: Any, cl: Any): Any =
    VectorKernels.residual(v.asInstanceOf[ArrayData], mat(1, cs), cl.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cs, cl) =>
      s"""${ev.value} = $K.residual($v, ${matCode(ctx, 1, cs)}, $cl);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
