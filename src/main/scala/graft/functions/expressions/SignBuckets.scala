package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** All-tables sign-LSH bucket ids in ONE data-driven loop:
  * `graft_sign_buckets(vec, planes)` where `planes` is the literal
  * nested array (table → plane → coords) returns `array<int>` — one
  * bucket per table, bit p set iff <vec, planes[t][p]> >= 0.
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
  * the common prefix, null ELEMENTS contribute 0 (same as
  * [[DotProduct]]), a NaN projection sets no bit (`NaN >= 0` is
  * false). A null vector returns null (row dropped by the downstream
  * posexplode) where the unrolled form produced bucket 0 — no caller
  * feeds null embeddings (Tables.load schemas are non-null), and
  * dropping is the safer contract: a null vector in bucket 0 would
  * silently pair with real vectors.
  */
case class SignBuckets(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "graft_sign_buckets"

  override protected def nullSafeEval(v: Any, ps: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val tables = ps.asInstanceOf[ArrayData]
    val nT = tables.numElements()
    val out = new Array[Int](nT)
    var t = 0
    while (t < nT) {
      val planes = tables.getArray(t)
      val nP = planes.numElements()
      var bucket = 0
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
        if (s >= 0) bucket |= 1 << p
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, ps) => {
      val nT = ctx.freshName("nT")
      val out = ctx.freshName("out")
      val t = ctx.freshName("t")
      val planes = ctx.freshName("planes")
      val nP = ctx.freshName("nP")
      val bucket = ctx.freshName("bucket")
      val p = ctx.freshName("p")
      val plane = ctx.freshName("plane")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
      s"""
         |int $nT = $ps.numElements();
         |int[] $out = new int[$nT];
         |for (int $t = 0; $t < $nT; $t++) {
         |  $ad $planes = $ps.getArray($t);
         |  int $nP = $planes.numElements();
         |  int $bucket = 0;
         |  for (int $p = 0; $p < $nP; $p++) {
         |    $ad $plane = $planes.getArray($p);
         |    int $n = java.lang.Math.min($v.numElements(), $plane.numElements());
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      if (!$v.isNullAt($i) && !$plane.isNullAt($i)) {
         |        $s += $v.getDouble($i) * $plane.getDouble($i);
         |      }
         |    }
         |    if ($s >= 0) { $bucket |= 1 << $p; }
         |  }
         |  $out[$t] = $bucket;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

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
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "graft_cp_buckets"

  override protected def nullSafeEval(v: Any, rs: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val tables = rs.asInstanceOf[ArrayData]
    val nT = tables.numElements()
    val out = new Array[Int](nT)
    var t = 0
    while (t < nT) {
      val rot = tables.getArray(t)
      val nP = rot.numElements()
      var bestAbs = Double.NegativeInfinity
      var bestJ = -1
      var bestVal = 0.0
      var j = 0
      while (j < nP) {
        val row = rot.getArray(j)
        val n = math.min(vec.numElements(), row.numElements())
        var s = 0.0
        var i = 0
        while (i < n) {
          if (!vec.isNullAt(i) && !row.isNullAt(i)) {
            s += vec.getDouble(i) * row.getDouble(i)
          }
          i += 1
        }
        val a = math.abs(s)
        if (bestJ < 0 || java.lang.Double.compare(a, bestAbs) > 0) {
          bestAbs = a; bestJ = j; bestVal = s
        }
        j += 1
      }
      out(t) = if (bestVal >= 0) bestJ + 1 else -(bestJ + 1)
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, rs) => {
      val nT = ctx.freshName("nT")
      val out = ctx.freshName("out")
      val t = ctx.freshName("t")
      val rot = ctx.freshName("rot")
      val nP = ctx.freshName("nP")
      val bestAbs = ctx.freshName("bestAbs")
      val bestJ = ctx.freshName("bestJ")
      val bestVal = ctx.freshName("bestVal")
      val j = ctx.freshName("j")
      val row = ctx.freshName("row")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val a = ctx.freshName("a")
      val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
      s"""
         |int $nT = $rs.numElements();
         |int[] $out = new int[$nT];
         |for (int $t = 0; $t < $nT; $t++) {
         |  $ad $rot = $rs.getArray($t);
         |  int $nP = $rot.numElements();
         |  double $bestAbs = java.lang.Double.NEGATIVE_INFINITY;
         |  int $bestJ = -1;
         |  double $bestVal = 0.0;
         |  for (int $j = 0; $j < $nP; $j++) {
         |    $ad $row = $rot.getArray($j);
         |    int $n = java.lang.Math.min($v.numElements(), $row.numElements());
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      if (!$v.isNullAt($i) && !$row.isNullAt($i)) {
         |        $s += $v.getDouble($i) * $row.getDouble($i);
         |      }
         |    }
         |    double $a = java.lang.Math.abs($s);
         |    if ($bestJ < 0 || java.lang.Double.compare($a, $bestAbs) > 0) {
         |      $bestAbs = $a; $bestJ = $j; $bestVal = $s;
         |    }
         |  }
         |  $out[$t] = ($bestVal >= 0) ? ($bestJ + 1) : -($bestJ + 1);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
