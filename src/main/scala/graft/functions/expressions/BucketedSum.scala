package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Σ_i weights[buckets(i)] — the margin of a hashed-feature linear
  * model (one weight lookup per token OCCURRENCE), as a native
  * codegen expression.
  *
  * Why not `aggregate(bks, 0d, (acc, bk) -> acc + element_at(w, bk+1))`:
  * Spark's higher-order functions are `CodegenFallback` — every token of
  * every document pays an interpreted lambda dispatch plus a boxed
  * accumulator, and the classifier training loop (operators.TextClassifier)
  * re-evaluates the margin corpus-wide once per gradient iteration. This
  * expression is a primitive double loop inside WholeStageCodegen, same
  * accumulation order (left-to-right over the bucket array) so swapping
  * it in does not move the trained weights.
  *
  * Semantics: `buckets` is array<int>, `weights` array<double> (0-based
  * indexing). Null arrays propagate null; null or out-of-range bucket
  * elements contribute 0 (hash-bucketed features are always in range —
  * the guard just keeps the expression total).
  */
case class BucketedSum(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_bucket_sum"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val bks = a.asInstanceOf[ArrayData]
    val w = b.asInstanceOf[ArrayData]
    val nw = w.numElements()
    var s = 0.0
    var i = 0
    val n = bks.numElements()
    while (i < n) {
      if (!bks.isNullAt(i)) {
        val bk = bks.getInt(i)
        if (bk >= 0 && bk < nw && !w.isNullAt(bk)) s += w.getDouble(bk)
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val nw = ctx.freshName("nw")
      val sum = ctx.freshName("sum")
      val i = ctx.freshName("i")
      val bk = ctx.freshName("bk")
      s"""
         |int $n = $a.numElements();
         |int $nw = $b.numElements();
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    int $bk = $a.getInt($i);
         |    if ($bk >= 0 && $bk < $nw && !$b.isNullAt($bk)) {
         |      $sum += $b.getDouble($bk);
         |    }
         |  }
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BucketedSum {

  import org.apache.spark.sql.Column

  val FnName = "graft_bucket_sum"

  /** Column-level handle. */
  def bucketSum(bks: Column, w: Column): Column =
    org.apache.spark.sql.functions.call_function(FnName, bks, w)
}
