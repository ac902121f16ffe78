package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Table-generating function (UDTF surface, builder preference order
  * (b)): emit one `(pos, shingle)` row per word n-gram of a token
  * array — POSITIONAL shingling, every occurrence with its offset,
  * unlike the set-valued `TextFns.shinglesFromTokens` (distinct
  * shingles for Jaccard math). The positional form is what
  * rolling-fingerprint and span-attribution pipelines consume.
  *
  * A custom `Generator` instead of `posexplode(transform(...))`
  * because the composition materializes the full shingle ARRAY per
  * row before exploding; the generator streams rows straight out of
  * the token `ArrayData` — per-row memory is one shingle, not all of
  * them, which is what you want under 100 MB documents. Executes in
  * `GenerateExec` like the built-in explode family (generators are
  * eval-based there; `CodegenFallback` only affects the expression's
  * own code path).
  *
  * SQL surface (injected by `graft.plans.GraftExtensions`):
  * `SELECT ... LATERAL VIEW graft_shingles(toks, 3) g AS pos, shingle`
  * or `SELECT graft_shingles(toks, 3) FROM ...`.
  */
case class ShingleGen(tokens: Expression, n: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(tokens, n)

  override def elementSchema: StructType = new StructType()
    .add("pos", IntegerType, nullable = false)
    .add("shingle", StringType, nullable = false)

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = tokens.eval(input)
    val nv = n.eval(input)
    if (arr == null || nv == null) return Iterator.empty
    val size = nv.asInstanceOf[Number].intValue()
    val data = arr.asInstanceOf[ArrayData]
    val len = data.numElements()
    if (size <= 0 || len < size) return Iterator.empty
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) { toks(i) = data.getUTF8String(i); i += 1 }
    val sep = UTF8String.fromString(" ")
    (0 to len - size).iterator.map { p =>
      new GenericInternalRow(Array[Any](
        p, UTF8String.concatWs(sep, toks.slice(p, p + size).toIndexedSeq: _*)))
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(tokens = newChildren(0), n = newChildren(1))
}

object ShingleGen {

  val FnName = "graft_shingles"
}
