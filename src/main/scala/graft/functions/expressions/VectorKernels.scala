package graft.functions.expressions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** The loops behind the vector expressions ([[DotProduct]], [[Sq8]],
  * [[SignBits]], [[SignBuckets]], [[CpBuckets]] and the [[CentroidOps]]
  * family), each written once: an expression's interpreted
  * `nullSafeEval` and its generated code call the same method here.
  *
  * Shared semantics: a dot runs left-to-right over the common prefix of
  * its two operands, and a null element on either side is skipped (not
  * multiplied by 0, which differs opposite a NaN or ±Inf). Row vectors
  * are read in place through `ArrayData`; a matrix argument arrives
  * decoded into a [[Matrix]], so a literal's boxed elements are read
  * once per task instead of once per multiply-add.
  */
object VectorKernels {

  /** The argument types the vector expressions cast their inputs to. */
  val VectorType: DataType = ArrayType(DoubleType)
  val MatrixType: DataType = ArrayType(VectorType)
  val TablesType: DataType = ArrayType(MatrixType)

  /** This object's name in generated code. */
  val JavaName: String = getClass.getName.stripSuffix("$")

  /** `data` as a [[Matrix]]: depth 1 is one row, depth 2 one group of
    * rows, depth 3 a group per element. A null row or group decodes as
    * empty. A group of more than `maxRows` rows is rejected, naming `fn`.
    */
  def decode(data: ArrayData, depth: Int, maxRows: Int, fn: String): Matrix = {
    if (data == null) return null
    val vals = mutable.ArrayBuilder.make[Double]
    val nulls = mutable.ArrayBuilder.make[Boolean]
    val start = mutable.ArrayBuilder.make[Int].addOne(0)
    val group = mutable.ArrayBuilder.make[Int].addOne(0)
    var nVals, nRows = 0
    var anyNull, nullGroup = false
    def row(a: ArrayData): Unit = {
      if (a != null) for (i <- 0 until a.numElements()) {
        val isNull = a.isNullAt(i)
        anyNull |= isNull
        nulls += isNull
        vals += (if (isNull) 0.0 else a.getDouble(i))
        nVals += 1
      }
      start += nVals
      nRows += 1
    }
    def rows(g: ArrayData): Unit = {
      if (g == null) nullGroup = true
      else {
        if (g.numElements() > maxRows) throw new IllegalArgumentException(
          s"$fn takes at most $maxRows planes per signature, got ${g.numElements()}")
        for (r <- 0 until g.numElements()) row(if (g.isNullAt(r)) null else g.getArray(r))
      }
      group += nRows
    }
    depth match {
      case 1 => row(data); group += nRows
      case 2 => rows(data)
      case 3 => for (g <- 0 until data.numElements())
        rows(if (data.isNullAt(g)) null else data.getArray(g))
    }
    new Matrix(vals.result(), if (anyNull) nulls.result() else null,
      start.result(), group.result(), nullGroup)
  }

  // A row vector's element reads. These loops are shared by every
  // caller, so a call through ArrayData here sees every implementation
  // (UnsafeArrayData from rows, GenericArrayData from casts and
  // literals, ColumnarArray from scans) and the JIT stops inlining it;
  // the usual UnsafeArrayData is read through its final class instead.
  private def isNull(v: ArrayData, i: Int): Boolean =
    if (v.isInstanceOf[UnsafeArrayData]) v.asInstanceOf[UnsafeArrayData].isNullAt(i) else v.isNullAt(i)

  private def at(v: ArrayData, i: Int): Double =
    if (v.isInstanceOf[UnsafeArrayData]) v.asInstanceOf[UnsafeArrayData].getDouble(i) else v.getDouble(i)

  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!isNull(x, i) && !isNull(y, i)) s += at(x, i) * at(y, i)
      i += 1
    }
    s
  }

  /** <v[off, off + len), row r of m> over their common prefix. */
  private def rowDot(v: ArrayData, off: Int, len: Int, m: Matrix, r: Int): Double = {
    val vals = m.vals
    val nulls = m.nulls
    val base = m.start(r)
    val n = math.min(len, m.start(r + 1) - base)
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!isNull(v, off + i) && (nulls == null || !nulls(base + i))) {
        s += at(v, off + i) * vals(base + i)
      }
      i += 1
    }
    s
  }

  private def dotAll(v: ArrayData, m: Matrix, r: Int): Double =
    rowDot(v, 0, v.numElements(), m, r)

  /** take-the-candidate rule of every argmax here: first candidate
    * unconditionally; then `s >= best` (ties → larger id), with a finite
    * score always displacing a NaN incumbent and a NaN score never
    * displacing a finite one (`best != best` ⇔ NaN).
    */
  private def takes(s: Double, best: Double, bestC: Int): Boolean =
    bestC < 0 || s >= best || (best != best && s == s)

  /** argmax over the rows c of m's group g of <v[off, off + len), row>
    * minus element c of row `bRow` of `biases` when present; -1 for an
    * empty group.
    */
  private def argmax(v: ArrayData, off: Int, len: Int, m: Matrix, g: Int,
      biases: Matrix, bRow: Int): Int = {
    var best = Double.NegativeInfinity
    var bestC = -1
    val from = m.group(g)
    var c = 0
    while (from + c < m.group(g + 1)) {
      val s = rowDot(v, off, len, m, from + c) - biases.orZero(bRow, c)
      if (takes(s, best, bestC)) { best = s; bestC = c }
      c += 1
    }
    bestC
  }

  def nearestCell(v: ArrayData, cents: Matrix, biases: Matrix): Int =
    argmax(v, 0, v.numElements(), cents, 0, biases, 0)

  def topCells(v: ArrayData, cents: Matrix, nProbe: Int): ArrayData = {
    val k = cents.rows
    val scores = new Array[Double](k)
    var c = 0
    while (c < k) { scores(c) = dotAll(v, cents, c); c += 1 }
    val used = new Array[Boolean](k)
    val out = new Array[Int](math.max(math.min(nProbe, k), 0))
    var r = 0
    while (r < out.length) {
      var bestC = -1
      c = 0
      while (c < k) {
        if (!used(c) && (bestC < 0 ||
            java.lang.Double.compare(scores(c), scores(bestC)) >= 0)) bestC = c
        c += 1
      }
      used(bestC) = true
      out(r) = bestC
      r += 1
    }
    new GenericArrayData(out)
  }

  /** Bit p set iff <v, row p of m's group g> >= 0 (a NaN sets none). */
  private def signWord(v: ArrayData, m: Matrix, g: Int): Long = {
    var sig = 0L
    val from = m.group(g)
    var p = 0
    while (from + p < m.group(g + 1)) {
      if (dotAll(v, m, from + p) >= 0) sig |= 1L << p
      p += 1
    }
    sig
  }

  def signBits(v: ArrayData, planes: Matrix): Long = signWord(v, planes, 0)

  def signBuckets(v: ArrayData, tables: Matrix): ArrayData = {
    val out = new Array[Int](tables.groups)
    var t = 0
    while (t < out.length) { out(t) = signWord(v, tables, t).toInt; t += 1 }
    new GenericArrayData(out)
  }

  def cpBuckets(v: ArrayData, tables: Matrix): ArrayData = {
    val out = new Array[Int](tables.groups)
    var t = 0
    while (t < out.length) {
      var bestAbs = Double.NegativeInfinity
      var bestJ = -1
      var bestVal = 0.0
      var j = 0
      while (tables.group(t) + j < tables.group(t + 1)) {
        val s = dotAll(v, tables, tables.group(t) + j)
        if (bestJ < 0 || java.lang.Double.compare(math.abs(s), bestAbs) > 0) {
          bestAbs = math.abs(s); bestJ = j; bestVal = s
        }
        j += 1
      }
      out(t) = if (bestVal >= 0) bestJ + 1 else -(bestJ + 1)
      t += 1
    }
    new GenericArrayData(out)
  }

  /** The subvector width of a PQ codebook: its first centroid's length. */
  private def pqWidth(books: Matrix): Int =
    if (books.groups > 0 && books.group(1) > 0) books.width(0) else 0

  /** Whether `v` has the codebook's m × width geometry (always, for no
    * subspaces); PQ encode and error are null otherwise, and for a
    * codebook with a null subspace.
    */
  def pqFits(v: ArrayData, books: Matrix): Boolean =
    books.groups == 0 ||
      (!books.nullGroup && v.numElements() == books.groups * pqWidth(books))

  def pqEncode(v: ArrayData, books: Matrix, biases: Matrix): ArrayData =
    if (!pqFits(v, books)) null
    else {
      val sd = pqWidth(books)
      val codes = new Array[Int](books.groups)
      var s = 0
      while (s < codes.length) { codes(s) = argmax(v, s * sd, sd, books, s, biases, s); s += 1 }
      new GenericArrayData(codes)
    }

  /** Σ_s ||resid_s − books[s][codes[s]]||² for a residual that
    * [[pqFits]]; a missing or null element counts as 0.
    */
  def pqError(resid: ArrayData, codes: ArrayData, books: Matrix): Double = {
    val sd = pqWidth(books)
    var err = 0.0
    var s = 0
    while (s < books.groups) {
      val c = if (s < codes.numElements() && !codes.isNullAt(s)) codes.getInt(s) else -1
      val r = if (c >= 0 && c < books.group(s + 1) - books.group(s)) books.group(s) + c
        else -1
      var i = 0
      while (i < sd) {
        val d = orZero(resid, s * sd + i) - (if (r < 0) 0.0 else books.orZero(r, i))
        err += d * d
        i += 1
      }
      s += 1
    }
    err
  }

  /** v − cents[cell] over v's length; null for an out-of-range cell. */
  def residual(v: ArrayData, cents: Matrix, cell: Int): ArrayData =
    if (cell < 0 || cell >= cents.rows) null
    else {
      val out = new Array[Double](v.numElements())
      var i = 0
      while (i < out.length) { out(i) = orZero(v, i) - cents.orZero(cell, i); i += 1 }
      new GenericArrayData(out)
    }

  private def orZero(v: ArrayData, i: Int): Double =
    if (isNull(v, i)) 0.0 else at(v, i)

  def sq8Encode(v: ArrayData): Array[Byte] = {
    val out = new Array[Byte](v.numElements())
    var i = 0
    while (i < out.length) {
      // a null element gets code 0, the 0 contribution of every dot here
      if (!isNull(v, i)) {
        out(i) = math.max(-127.0, math.min(127.0, math.rint(at(v, i) * 127.0))).toByte
      }
      i += 1
    }
    out
  }

  def sq8Dot(x: Array[Byte], y: Array[Byte]): Long = {
    val n = math.min(x.length, y.length)
    var s = 0L
    var i = 0
    while (i < n) { s += x(i).toLong * y(i).toLong; i += 1 }
    s
  }
}

/** A double matrix decoded from nested `ArrayData`: row r is
  * `vals[start(r), start(r + 1))`, group g is rows `[group(g),
  * group(g + 1))`. `nulls` flags null elements (null when there are
  * none); `nullGroup` records that a group was null.
  */
final class Matrix(val vals: Array[Double], val nulls: Array[Boolean],
    val start: Array[Int], val group: Array[Int], val nullGroup: Boolean) {
  def rows: Int = start.length - 1
  def groups: Int = group.length - 1
  def width(r: Int): Int = start(r + 1) - start(r)

  /** Element c of row r, or 0 when it is missing or null. */
  def orZero(r: Int, c: Int): Double =
    if (r < rows && c < width(r) && (nulls == null || !nulls(start(r) + c))) vals(start(r) + c)
    else 0.0
}

/** A vector expression with matrix arguments: every argument after the
  * first whose input type is an array of doubles, at any depth, reaches
  * the kernel as a [[Matrix]]. A foldable one is decoded once per task
  * (a transient lazy value when interpreted, a field of the generated
  * class), a column once per row. Inputs are cast to `inputTypes` at
  * analysis.
  */
trait MatrixArgs extends Expression with ImplicitCastInputTypes {

  /** The most rows a group of a matrix argument may hold. */
  protected def maxRows: Int = Int.MaxValue

  // `Any`: an input type is an AbstractDataType, which is private to Spark
  private def depth(t: Any): Int = t match {
    case ArrayType(e, _) => val d = depth(e); if (d < 0) d else d + 1
    case DoubleType => 0
    case _ => -1
  }

  private def matrixDepth(i: Int): Int = if (i == 0) -1 else depth(inputTypes(i))

  @transient private lazy val folded: Array[Matrix] = Array.tabulate(children.length)(i =>
    if (matrixDepth(i) > 0 && children(i).foldable) decode(i, children(i).eval()) else null)

  private def decode(i: Int, value: Any): Matrix = VectorKernels.decode(
    value.asInstanceOf[ArrayData], matrixDepth(i), maxRows, prettyName)

  /** Matrix argument `i` of the row where it evaluated to `value`. */
  protected def mat(i: Int, value: Any): Matrix = {
    val m = folded(i)
    if (m != null) m else decode(i, value)
  }

  /** The generated-code counterpart of [[mat]]; `value` names the
    * argument's value in the row.
    */
  protected def matCode(ctx: CodegenContext, i: Int, value: String): String = {
    def decode(data: String) =
      s"${VectorKernels.JavaName}.decode($data, ${matrixDepth(i)}, $maxRows, \"$prettyName\")"
    if (!children(i).foldable) decode(value)
    else {
      val data = ctx.addReferenceObj("matrix", children(i).eval(), classOf[ArrayData].getName)
      ctx.addMutableState(classOf[Matrix].getName, "matrix", v => s"$v = ${decode(data)};")
    }
  }
}
