package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.PlanExec
import org.apache.spark.sql.types.{DataType, LongType}

/** SQL builders for the curation/media operators (round-9 VERDICT
  * item 5): the Tier-B arbitrary-SQL pass-through (the reference's
  * `duckdb_rest_server.py:73-78` surface) reaches the quality gate,
  * fingerprinting, chunking, and perceptual hashing the same way
  * `graft_shingles` / `graft_heavy_hitters` are already reachable —
  * `SELECT graft_gopher_pass(text) FROM ns.docs` just works through
  * `Engine.sqlQuery`.
  *
  * Three of the four are COMPOSED functions: the registry builder
  * converts its argument Expressions to Columns (PlanExec's
  * `private[sql]` bridge), calls the SAME Column-level builder the
  * Scala operators use (`QualityRules.keepColumn`,
  * `Winnowing.digestColumn`, `Cdc.cutsColumn`), and hands the
  * resulting tree back — one implementation, two surfaces, no drift.
  * Optional trailing arguments must be foldable literals (they
  * parameterize the generated tree, e.g. the CDC divisor).
  */
object CurationSql {

  val GopherPassFn = "graft_gopher_pass"
  val WinnowDigestFn = "graft_winnow_digest"
  val CdcCutsFn = "graft_cdc_cuts"
  val AHashFn = "graft_ahash64"
  val LangIdFn = "graft_lang_id"
  val QualityScoreFn = "graft_quality_score"
  val TokenCountFn = "graft_token_count"
  val FingerprintFn = "graft_fingerprint"
  val Fre100Fn = "graft_fre100"
  val Fk100Fn = "graft_fk100"
  val CleanLinesFn = "graft_clean_lines"

  // SQL builders, injected by `graft.plans.GraftExtensions` (which
  // checks the argument count first)
  private def c(e: Expression): Column = PlanExec.columnOf(e)
  private def expr(col: Column): Expression = PlanExec.expressionOf(col)
  private def litInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }

  def gopherPass(es: Seq[Expression]): Expression =
    expr(graft.operators.QualityRules.keepColumn(c(es(0))))

  def winnowDigest(es: Seq[Expression]): Expression =
    expr(graft.operators.Winnowing.digestColumn(c(es(0))))

  def cdcCuts(es: Seq[Expression]): Expression =
    expr(graft.operators.Cdc.cutsColumn(c(es(0)),
      divisor = if (es.length > 1) litInt(es(1), "graft_cdc_cuts divisor") else 64))

  // the text-analysis scalars (t03/t04/t05/t06's kernels): same
  // one-builder-two-surfaces pattern
  def langId(es: Seq[Expression]): Expression =
    expr(graft.functions.TextFns.langIdColumn(c(es(0))))

  def qualityScore(es: Seq[Expression]): Expression =
    expr(graft.functions.TextFns.qualityScore(c(es(0))))

  def tokenCount(es: Seq[Expression]): Expression =
    expr(org.apache.spark.sql.functions.size(
      graft.functions.TextFns.tokens(c(es(0)))).cast("long"))

  def fingerprint(es: Seq[Expression]): Expression =
    expr(graft.functions.TextFns.fingerprint(c(es(0))))

  // readability (t52) and line cleaning (t53): the same
  // one-builder-two-surfaces pattern
  def fre100(es: Seq[Expression]): Expression =
    expr(graft.operators.QualityRules.fre100Column(c(es(0))))

  def fk100(es: Seq[Expression]): Expression =
    expr(graft.operators.QualityRules.fk100Column(c(es(0))))

  def cleanLines(es: Seq[Expression]): Expression =
    expr(graft.operators.QualityRules.cleanedColumn(c(es(0)),
      minChars = if (es.length > 1) litInt(es(1), "graft_clean_lines minChars") else 30))
}

/** 64-bit perceptual average-hash of an encoded image (`binary` →
  * `bigint`, null when the payload does not decode): the scalar-SQL
  * face of [[graft.operators.Multimodal]]'s aHash (identical bits —
  * same 9×8 exact-area luma grid, same mean threshold).
  *
  * Deliberately an eval-only expression (CodegenFallback): the body is
  * a javax.imageio decode — JVM library work that codegen could only
  * wrap, not fuse — and preference order (b) says a native expression
  * still beats any UDF (no ScalaUDF serialization wall, null-safety
  * for free, usable from SQL text). Batch pipelines should keep using
  * `Multimodal.perceptualHashes` (mapPartitions with per-partition
  * codec init); this function exists so ad-hoc SQL can hash a frame
  * without leaving the query surface.
  */
case class AHash64(child: Expression) extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_ahash64"

  override protected def nullSafeEval(b: Any): Any = {
    val bytes = b.asInstanceOf[Array[Byte]]
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      if (img == null) null else graft.operators.Multimodal.aHashOf(img)
    } catch { case _: Exception => null }
  }

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}
