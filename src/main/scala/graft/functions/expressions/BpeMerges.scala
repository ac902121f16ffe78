package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Apply a learned BPE merge list to a symbol array in one pass per
  * merge — `Bpe.encodeWord`'s greedy left-to-right semantics as a
  * native codegen expression.
  *
  * Why: the relational form is a fold (`aggregate` higher-order
  * function) PER MERGE, chained `nMerges` deep: every symbol of every
  * vocab word pays an interpreted lambda dispatch, and each fold step
  * rebuilds the accumulator array (`concat(acc, array(s))` — O(len²)
  * copies per word per merge), with `localCheckpoint` blocks needed
  * just to keep the nested-lambda plan analyzable. This expression is
  * two primitive loops (merges × symbols) over one reused buffer
  * inside WholeStageCodegen — no lambda dispatch, no per-step array
  * allocation, no checkpoint blocks.
  *
  * Semantics (pinned in BpeSpec word-for-word against
  * `Bpe.encodeWord`): merges apply in learned order; within one merge
  * (a, b), scan left to right appending symbols, and when the buffer
  * tail equals `a` and the next symbol equals `b`, replace the tail
  * with a+b. A fused tail (a+b) can never re-match `a` in the same
  * pass (b is nonempty), so "aaa" under (a,a) gives ["aa","a"].
  * Null symbol arrays propagate null; null ELEMENTS pass through
  * unmerged (they equal nothing), matching the `===` null semantics
  * of the fold this replaces.
  */
case class BpeMerges(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def prettyName: String = "graft_bpe_merge"

  override protected def nullSafeEval(s: Any, ls: Any, rs: Any): Any = {
    val syms = s.asInstanceOf[ArrayData]
    val lefts = ls.asInstanceOf[ArrayData]
    val rights = rs.asInstanceOf[ArrayData]
    val nM = math.min(lefts.numElements(), rights.numElements())
    var buf = new Array[UTF8String](syms.numElements())
    var len = syms.numElements()
    var i = 0
    while (i < len) {
      buf(i) = if (syms.isNullAt(i)) null else syms.getUTF8String(i)
      i += 1
    }
    var m = 0
    while (m < nM) {
      if (!lefts.isNullAt(m) && !rights.isNullAt(m)) {
        val a = lefts.getUTF8String(m)
        val b = rights.getUTF8String(m)
        var out = 0
        var in = 0
        while (in < len) {
          val s = buf(in)
          if (out > 0 && s != null && buf(out - 1) != null &&
              buf(out - 1).equals(a) && s.equals(b)) {
            buf(out - 1) = UTF8String.concat(a, b)
          } else {
            buf(out) = s
            out += 1
          }
          in += 1
        }
        len = out
      }
      m += 1
    }
    new GenericArrayData(buf.take(len).asInstanceOf[Array[Any]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, ls, rs) => {
      val nM = ctx.freshName("nM")
      val buf = ctx.freshName("buf")
      val len = ctx.freshName("len")
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val a = ctx.freshName("a")
      val b = ctx.freshName("b")
      val out = ctx.freshName("out")
      val in = ctx.freshName("in")
      val cur = ctx.freshName("cur")
      val res = ctx.freshName("res")
      val utf8 = "org.apache.spark.unsafe.types.UTF8String"
      s"""
         |int $nM = java.lang.Math.min($ls.numElements(), $rs.numElements());
         |int $len = $s.numElements();
         |$utf8[] $buf = new $utf8[$len];
         |for (int $i = 0; $i < $len; $i++) {
         |  $buf[$i] = $s.isNullAt($i) ? null : $s.getUTF8String($i);
         |}
         |for (int $m = 0; $m < $nM; $m++) {
         |  if (!$ls.isNullAt($m) && !$rs.isNullAt($m)) {
         |    $utf8 $a = $ls.getUTF8String($m);
         |    $utf8 $b = $rs.getUTF8String($m);
         |    int $out = 0;
         |    for (int $in = 0; $in < $len; $in++) {
         |      $utf8 $cur = $buf[$in];
         |      if ($out > 0 && $cur != null && $buf[$out - 1] != null &&
         |          $buf[$out - 1].equals($a) && $cur.equals($b)) {
         |        $buf[$out - 1] = $utf8.concat($a, $b);
         |      } else {
         |        $buf[$out] = $cur;
         |        $out++;
         |      }
         |    }
         |    $len = $out;
         |  }
         |}
         |Object[] $res = new Object[$len];
         |System.arraycopy($buf, 0, $res, 0, $len);
         |${ev.value} =
         |  new org.apache.spark.sql.catalyst.util.GenericArrayData($res);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object BpeMerges {

  import org.apache.spark.sql.Column

  val FnName = "graft_bpe_merge"

  /** Column-level handle. */
  def merge(syms: Column, lefts: Column, rights: Column): Column =
    org.apache.spark.sql.functions.call_function(FnName, syms, lefts, rights)
}
