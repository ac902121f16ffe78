package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

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
  * ARGUMENT (`typedlit` of the nested Seq): the generated code is a
  * short data-driven loop over `ArrayData` — constant bytecode size
  * regardless of centroid count, stays inside WholeStageCodegen, and
  * assignment becomes a pure projection: no join, no Exchange, no
  * generated row explosion.
  *
  * Tie-break parity: all argmaxes update on `>=` while scanning cell
  * ids ascending — ties go to the LARGER cell id, exactly the order of
  * the `max(struct(score, cid))` aggregations they replace, so
  * swapping them in moves no assignment. NaN handling: a NaN score
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

  /** take-the-candidate rule shared by every argmax in this file:
    * first candidate unconditionally; then `s >= best` (ties → larger
    * id), with a finite score always displacing a NaN incumbent and a
    * NaN score never displacing a finite one (`best != best` ⇔ NaN).
    */
  private[expressions] def takes(s: Double, best: Double,
      bestC: Int): Boolean =
    bestC < 0 || s >= best || (best != best && s == s)

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
  * contribute 0 (same as [[DotProduct]]). Empty centroid array → -1.
  */
case class NearestCell(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = IntegerType

  override def prettyName: String = "graft_nearest_cell"

  override protected def nullSafeEval(v: Any, cs: Any, bs: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val cents = cs.asInstanceOf[ArrayData]
    val biases = bs.asInstanceOf[ArrayData]
    var best = Double.NegativeInfinity
    var bestC = -1
    var c = 0
    val k = cents.numElements()
    while (c < k) {
      val cent = cents.getArray(c)
      val n = math.min(vec.numElements(), cent.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        if (!vec.isNullAt(i) && !cent.isNullAt(i)) {
          s += vec.getDouble(i) * cent.getDouble(i)
        }
        i += 1
      }
      if (c < biases.numElements() && !biases.isNullAt(c)) {
        s -= biases.getDouble(c)
      }
      if (CentroidOps.takes(s, best, bestC)) { best = s; bestC = c }
      c += 1
    }
    bestC
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cs, bs) => {
      val best = ctx.freshName("best")
      val bestC = ctx.freshName("bestC")
      val k = ctx.freshName("k")
      val c = ctx.freshName("c")
      val cent = ctx.freshName("cent")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |double $best = java.lang.Double.NEGATIVE_INFINITY;
         |int $bestC = -1;
         |int $k = $cs.numElements();
         |for (int $c = 0; $c < $k; $c++) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $cent = $cs.getArray($c);
         |  int $n = java.lang.Math.min($v.numElements(), $cent.numElements());
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$v.isNullAt($i) && !$cent.isNullAt($i)) {
         |      $s += $v.getDouble($i) * $cent.getDouble($i);
         |    }
         |  }
         |  if ($c < $bs.numElements() && !$bs.isNullAt($c)) {
         |    $s -= $bs.getDouble($c);
         |  }
         |  if ($bestC < 0 || $s >= $best ||
         |      (java.lang.Double.isNaN($best) && !java.lang.Double.isNaN($s))) {
         |    $best = $s; $bestC = $c;
         |  }
         |}
         |${ev.value} = $bestC;
       """.stripMargin
    })

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
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "graft_top_cells"

  override protected def nullSafeEval(v: Any, cs: Any, np: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val cents = cs.asInstanceOf[ArrayData]
    val k = cents.numElements()
    val nOut = math.min(np.asInstanceOf[Int], k)
    val scores = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cent = cents.getArray(c)
      val n = math.min(vec.numElements(), cent.numElements())
      var s = 0.0
      var i = 0
      while (i < n) {
        if (!vec.isNullAt(i) && !cent.isNullAt(i)) {
          s += vec.getDouble(i) * cent.getDouble(i)
        }
        i += 1
      }
      scores(c) = s
      c += 1
    }
    val used = new Array[Boolean](k)
    val out = new Array[Int](math.max(nOut, 0))
    var r = 0
    while (r < nOut) {
      var bestC = -1
      var cc = 0
      while (cc < k) {
        if (!used(cc) && (bestC < 0 || {
          val cmp = java.lang.Double.compare(scores(cc), scores(bestC))
          cmp > 0 || (cmp == 0 && cc > bestC)
        })) bestC = cc
        cc += 1
      }
      used(bestC) = true
      out(r) = bestC
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cs, np) => {
      val k = ctx.freshName("k")
      val nOut = ctx.freshName("nOut")
      val scores = ctx.freshName("scores")
      val used = ctx.freshName("used")
      val out = ctx.freshName("out")
      val c = ctx.freshName("c")
      val cent = ctx.freshName("cent")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val r = ctx.freshName("r")
      val bestC = ctx.freshName("bestC")
      val cc = ctx.freshName("cc")
      val cmp = ctx.freshName("cmp")
      val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
      s"""
         |int $k = $cs.numElements();
         |int $nOut = java.lang.Math.min($np, $k);
         |if ($nOut < 0) { $nOut = 0; }
         |double[] $scores = new double[$k];
         |for (int $c = 0; $c < $k; $c++) {
         |  $ad $cent = $cs.getArray($c);
         |  int $n = java.lang.Math.min($v.numElements(), $cent.numElements());
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$v.isNullAt($i) && !$cent.isNullAt($i)) {
         |      $s += $v.getDouble($i) * $cent.getDouble($i);
         |    }
         |  }
         |  $scores[$c] = $s;
         |}
         |boolean[] $used = new boolean[$k];
         |int[] $out = new int[$nOut];
         |for (int $r = 0; $r < $nOut; $r++) {
         |  int $bestC = -1;
         |  for (int $cc = 0; $cc < $k; $cc++) {
         |    if (!$used[$cc]) {
         |      if ($bestC < 0) { $bestC = $cc; }
         |      else {
         |        int $cmp = java.lang.Double.compare($scores[$cc], $scores[$bestC]);
         |        if ($cmp > 0 || ($cmp == 0 && $cc > $bestC)) { $bestC = $cc; }
         |      }
         |    }
         |  }
         |  $used[$bestC] = true;
         |  $out[$r] = $bestC;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

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
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  // null on a length-mismatched vector even over non-null children
  override def nullable: Boolean = true

  override def prettyName: String = "graft_pq_encode"

  override protected def nullSafeEval(v: Any, bk: Any, bs: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val books = bk.asInstanceOf[ArrayData]
    val biases = bs.asInstanceOf[ArrayData]
    val m = books.numElements()
    if (m == 0) return new GenericArrayData(Array.emptyIntArray)
    if (books.isNullAt(0)) return null
    val cents0 = books.getArray(0)
    val sd = if (cents0.numElements() == 0 || cents0.isNullAt(0)) 0
      else cents0.getArray(0).numElements()
    if (vec.numElements() != m * sd) return null
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      val cents = books.getArray(s)
      val bias = if (s < biases.numElements()) biases.getArray(s) else null
      var best = Double.NegativeInfinity
      var bestC = -1
      var c = 0
      val k = cents.numElements()
      while (c < k) {
        val cent = cents.getArray(c)
        val n = math.min(sd, cent.numElements())
        var dot = 0.0
        var i = 0
        while (i < n) {
          val vi = s * sd + i
          if (!vec.isNullAt(vi) && !cent.isNullAt(i)) {
            dot += vec.getDouble(vi) * cent.getDouble(i)
          }
          i += 1
        }
        if (bias != null && c < bias.numElements() && !bias.isNullAt(c)) {
          dot -= bias.getDouble(c)
        }
        if (CentroidOps.takes(dot, best, bestC)) { best = dot; bestC = c }
        c += 1
      }
      codes(s) = bestC
      s += 1
    }
    new GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, bk, bs) => {
      val m = ctx.freshName("m")
      val sd = ctx.freshName("sd")
      val codes = ctx.freshName("codes")
      val s = ctx.freshName("s")
      val cents = ctx.freshName("cents")
      val cents0 = ctx.freshName("cents0")
      val bias = ctx.freshName("bias")
      val best = ctx.freshName("best")
      val bestC = ctx.freshName("bestC")
      val k = ctx.freshName("k")
      val c = ctx.freshName("c")
      val cent = ctx.freshName("cent")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val i = ctx.freshName("i")
      val vi = ctx.freshName("vi")
      val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
      s"""
         |int $m = $bk.numElements();
         |int $sd = 0;
         |boolean ${sd}Bad = false;
         |if ($m > 0) {
         |  if ($bk.isNullAt(0)) { ${sd}Bad = true; }
         |  else {
         |    $ad $cents0 = $bk.getArray(0);
         |    $sd = ($cents0.numElements() == 0 || $cents0.isNullAt(0)) ? 0
         |      : $cents0.getArray(0).numElements();
         |  }
         |}
         |if (${sd}Bad || ($m > 0 && $v.numElements() != $m * $sd)) {
         |  ${ev.isNull} = true;
         |} else {
         |  int[] $codes = new int[$m];
         |  for (int $s = 0; $s < $m; $s++) {
         |    $ad $cents = $bk.getArray($s);
         |    $ad $bias =
         |      $s < $bs.numElements() ? $bs.getArray($s) : null;
         |    double $best = java.lang.Double.NEGATIVE_INFINITY;
         |    int $bestC = -1;
         |    int $k = $cents.numElements();
         |    for (int $c = 0; $c < $k; $c++) {
         |      $ad $cent = $cents.getArray($c);
         |      int $n = java.lang.Math.min($sd, $cent.numElements());
         |      double $dot = 0.0;
         |      for (int $i = 0; $i < $n; $i++) {
         |        int $vi = $s * $sd + $i;
         |        if (!$v.isNullAt($vi) && !$cent.isNullAt($i)) {
         |          $dot += $v.getDouble($vi) * $cent.getDouble($i);
         |        }
         |      }
         |      if ($bias != null && $c < $bias.numElements() && !$bias.isNullAt($c)) {
         |        $dot -= $bias.getDouble($c);
         |      }
         |      if ($bestC < 0 || $dot >= $best ||
         |          (java.lang.Double.isNaN($best) && !java.lang.Double.isNaN($dot))) {
         |        $best = $dot; $bestC = $c;
         |      }
         |    }
         |    $codes[$s] = $bestC;
         |  }
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
         |}
       """.stripMargin
    })

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
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = DoubleType

  // null on a length-mismatched vector even over non-null children
  override def nullable: Boolean = true

  override def prettyName: String = "graft_pq_error"

  override protected def nullSafeEval(v: Any, cd: Any, bk: Any): Any = {
    val resid = v.asInstanceOf[ArrayData]
    val codes = cd.asInstanceOf[ArrayData]
    val books = bk.asInstanceOf[ArrayData]
    val m = books.numElements()
    if (m == 0) return 0.0
    if (books.isNullAt(0)) return null
    val cents0 = books.getArray(0)
    val sd = if (cents0.numElements() == 0 || cents0.isNullAt(0)) 0
      else cents0.getArray(0).numElements()
    if (resid.numElements() != m * sd) return null
    var err = 0.0
    var s = 0
    while (s < m) {
      val cents = books.getArray(s)
      val c = if (s < codes.numElements() && !codes.isNullAt(s))
        codes.getInt(s) else -1
      val cent = if (c >= 0 && c < cents.numElements()) cents.getArray(c)
        else null
      var i = 0
      while (i < sd) {
        val vi = s * sd + i
        val x = if (resid.isNullAt(vi)) 0.0 else resid.getDouble(vi)
        val y = if (cent != null && i < cent.numElements() &&
          !cent.isNullAt(i)) cent.getDouble(i) else 0.0
        val d = x - y
        err += d * d
        i += 1
      }
      s += 1
    }
    err
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cd, bk) => {
      val m = ctx.freshName("m")
      val sd = ctx.freshName("sd")
      val err = ctx.freshName("err")
      val s = ctx.freshName("s")
      val cents = ctx.freshName("cents")
      val c = ctx.freshName("c")
      val cent = ctx.freshName("cent")
      val i = ctx.freshName("i")
      val vi = ctx.freshName("vi")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val d = ctx.freshName("d")
      val cents0 = ctx.freshName("cents0")
      val ad = "org.apache.spark.sql.catalyst.util.ArrayData"
      s"""
         |int $m = $bk.numElements();
         |double $err = 0.0;
         |int $sd = 0;
         |boolean ${sd}Bad = false;
         |if ($m > 0) {
         |  if ($bk.isNullAt(0)) { ${sd}Bad = true; }
         |  else {
         |    $ad $cents0 = $bk.getArray(0);
         |    $sd = ($cents0.numElements() == 0 || $cents0.isNullAt(0)) ? 0
         |      : $cents0.getArray(0).numElements();
         |  }
         |}
         |if (${sd}Bad || ($m > 0 && $v.numElements() != $m * $sd)) {
         |  ${ev.isNull} = true;
         |} else {
         |for (int $s = 0; $s < $m; $s++) {
         |  $ad $cents = $bk.getArray($s);
         |  int $c = ($s < $cd.numElements() && !$cd.isNullAt($s))
         |    ? $cd.getInt($s) : -1;
         |  $ad $cent = ($c >= 0 && $c < $cents.numElements())
         |    ? $cents.getArray($c) : null;
         |  for (int $i = 0; $i < $sd; $i++) {
         |    int $vi = $s * $sd + $i;
         |    double $x = $v.isNullAt($vi) ? 0.0 : $v.getDouble($vi);
         |    double $y = ($cent != null && $i < $cent.numElements() &&
         |      !$cent.isNullAt($i)) ? $cent.getDouble($i) : 0.0;
         |    double $d = $x - $y;
         |    $err += $d * $d;
         |  }
         |}
         |${ev.value} = $err;
         |}
       """.stripMargin
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
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  // can return null on out-of-range cell even over non-null children —
  // forces a mutable isNull slot in codegen (FalseLiteral otherwise)
  override def nullable: Boolean = true

  override def prettyName: String = "graft_centroid_residual"

  override protected def nullSafeEval(v: Any, cs: Any, cl: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val cents = cs.asInstanceOf[ArrayData]
    val cell = cl.asInstanceOf[Int]
    if (cell < 0 || cell >= cents.numElements()) return null
    val cent = cents.getArray(cell)
    val n = vec.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val x = if (vec.isNullAt(i)) 0.0 else vec.getDouble(i)
      val c = if (i < cent.numElements() && !cent.isNullAt(i)) cent.getDouble(i)
        else 0.0
      out(i) = x - c
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, cs, cl) => {
      val cent = ctx.freshName("cent")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val cv = ctx.freshName("cv")
      s"""
         |if ($cl < 0 || $cl >= $cs.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  org.apache.spark.sql.catalyst.util.ArrayData $cent = $cs.getArray($cl);
         |  int $n = $v.numElements();
         |  double[] $out = new double[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = $v.isNullAt($i) ? 0.0 : $v.getDouble($i);
         |    double $cv = ($i < $cent.numElements() && !$cent.isNullAt($i))
         |      ? $cent.getDouble($i) : 0.0;
         |    $out[$i] = $x - $cv;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
