package graft.plans

import scala.util.Try

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rule: rewrite point-in-interval non-equi joins
  * (`p BETWEEN s AND e`) into the bucketed equi-join of
  * [[graft.operators.RangeJoin]] — automatically, for any SQL or
  * DataFrame query, without the author calling the operator.
  *
  * Spark plans a join whose condition has no equality conjunct as a
  * broadcast nested loop (or a cartesian product): O(|points| ×
  * |intervals|) comparisons and a single-node broadcast — the shape
  * that dies first at 100 TB. This rule detects the range pattern in
  * the ANALYZED plan and re-plans it as:
  *
  *  - interval side: `explode(sequence(floor(s/w), floor(e/w)))` adds
  *    one row per covered bucket (fan-out ≈ span/w + 1);
  *  - point side: one projected bucket id `floor(p/w)`;
  *  - join: equi on the bucket id, original condition kept as the
  *    residual — so Catalyst now plans a shuffled hash / sort-merge
  *    join partitioned on the bucket key.
  *
  * Every matching pair meets in exactly one bucket (the point's), so
  * results are identical to the nested loop, no dedup needed.
  *
  * [[GraftExtensions]] injects it into every session's operator
  * optimization batch, but it is opt-in: it fires only when
  * `spark.graft.rangeJoin.bucketWidth` is set —
  * either to a positive long (the domain bucket size, same unit as the
  * point column: a data-layout decision, the same reason other engines
  * expose range-join bin-size hints) or to `auto`, which derives the
  * width at plan time from the interval side's span distribution
  * ([[graft.operators.RangeJoin.widthFrom]]'s cost model: w* =
  * sqrt(s̄·D/P), clamped): one map-side-combined aggregate job over the
  * interval side (the small side by assumption — I/O the join pays
  * anyway) plus a point-side row-count ESTIMATE from plan statistics
  * (rowCount under CBO, else sizeInBytes / schema default row width —
  * w* only needs P to an order of magnitude, it enters under a square
  * root). If the stats job itself fails the join is left unchanged
  * (conservative: never trade a correct nested loop for a broken
  * rewrite). Joins that already
  * have an equality conjunct are left alone (they hash-join fine),
  * which also makes the rule idempotent: its own output contains an
  * equality conjunct.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  val WidthConf = "spark.graft.rangeJoin.bucketWidth"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val raw = conf.getConfString(WidthConf, "0").trim
    val auto = raw.equalsIgnoreCase("auto")
    val fixed = if (auto) 0L else Try(raw.toLong).getOrElse(0L)
    if (!auto && fixed <= 0) return plan
    plan.transform {
      case j @ Join(_, _, Inner, Some(cond), _) if j.resolved && eligible(j, cond) =>
        (for {
          pat <- findPattern(j, cond)
          width <- if (auto) derivedWidth(j, pat) else Some(fixed)
        } yield rewrite(j, cond, pat, width)).getOrElse(j)
    }
  }

  /** Auto-mode width: execute the interval-side span/bounds aggregate
    * (via the analyzed child plan — runs as an ordinary job), estimate
    * the point side's row count from plan stats, and apply
    * [[graft.operators.RangeJoin.widthFrom]]. Exposed for
    * RangeJoinRuleSpec to pin the derived width.
    */
  private[graft] def derivedWidth(j: Join, pat: RangePattern): Option[Long] =
    try {
      import org.apache.spark.sql.SparkSession
      import org.apache.spark.sql.catalyst.expressions.aggregate.{Average, Max, Min}
      val (pointPlan, ivPlan) =
        if (pat.pointOnLeft) (j.left, j.right) else (j.right, j.left)
      val spanE = Subtract(Cast(pat.end, DoubleType), Cast(pat.start, DoubleType))
      val agg = Aggregate(Nil, Seq(
        Alias(Average(spanE).toAggregateExpression(), "_rj_span")(),
        Alias(Min(Cast(pat.start, DoubleType)).toAggregateExpression(), "_rj_lo")(),
        Alias(Max(Cast(pat.end, DoubleType)).toAggregateExpression(), "_rj_hi")()),
        ivPlan)
      val row = org.apache.spark.sql.graft.PlanExec
        .ofRows(SparkSession.active, agg).head()
      if (row.isNullAt(0)) Some(1L) // empty interval side
      else {
        val meanSpan = math.max(0.0, row.getDouble(0))
        val domain = math.max(1.0, row.getDouble(2) - row.getDouble(1))
        val st = pointPlan.stats
        val p = st.rowCount.map(_.toLong).filter(_ > 0).getOrElse {
          val rowWidth =
            math.max(8, pointPlan.output.map(_.dataType.defaultSize).sum)
          (st.sizeInBytes / rowWidth).toLong
        }
        Some(graft.operators.RangeJoin.widthFrom(
          meanSpan, domain, math.max(1L, p)))
      }
    } catch { case _: Exception => None }

  /** No equality conjunct linking the two sides: those joins already
    * get a shuffled hash/sort-merge plan from Spark.
    */
  private def eligible(j: Join, cond: Expression): Boolean =
    !splitConjunctivePredicates(cond).exists {
      case EqualTo(a, b) => linksSides(a, b, j) || linksSides(b, a, j)
      case EqualNullSafe(a, b) => linksSides(a, b, j) || linksSides(b, a, j)
      case _ => false
    }

  private def linksSides(a: Expression, b: Expression, j: Join): Boolean =
    a.references.nonEmpty && b.references.nonEmpty &&
      a.references.subsetOf(j.left.outputSet) &&
      b.references.subsetOf(j.right.outputSet)

  /** The range pattern: one conjunct bounding a point expression from
    * below by one side, one from above by the other — accepted in
    * either orientation (point on left or right) and with strict or
    * inclusive comparisons (bucket bounds are inclusive, a superset;
    * the residual keeps exact semantics).
    */
  private[graft] case class RangePattern(point: Expression, start: Expression,
      end: Expression, pointOnLeft: Boolean)

  private[graft] def findPattern(j: Join, cond: Expression): Option[RangePattern] = {
    // normalize every comparison conjunct into (lo, hi) meaning lo <= hi
    val ordered = splitConjunctivePredicates(cond).collect {
      case GreaterThanOrEqual(a, b) => (b, a)
      case GreaterThan(a, b)        => (b, a)
      case LessThanOrEqual(a, b)    => (a, b)
      case LessThan(a, b)           => (a, b)
    }
    def numeric(e: Expression) =
      e.deterministic && e.dataType.isInstanceOf[NumericType]
    def onSide(e: Expression, plan: LogicalPlan) =
      e.references.nonEmpty && e.references.subsetOf(plan.outputSet) && numeric(e)

    def orient(pointPlan: LogicalPlan, ivPlan: LogicalPlan,
        pointOnLeft: Boolean): Option[RangePattern] = {
      val lowers = ordered.filter { case (s, p) => onSide(s, ivPlan) && onSide(p, pointPlan) }
      val uppers = ordered.filter { case (p, e) => onSide(p, pointPlan) && onSide(e, ivPlan) }
      (for {
        (s, p1) <- lowers
        (p2, e) <- uppers
        if p1.canonicalized == p2.canonicalized
      } yield RangePattern(p1, s, e, pointOnLeft)).headOption
    }
    orient(j.left, j.right, pointOnLeft = true)
      .orElse(orient(j.right, j.left, pointOnLeft = false))
  }

  private def rewrite(j: Join, cond: Expression, pat: RangePattern,
      width: Long): LogicalPlan = {
      def bucket(e: Expression): Expression =
        Floor(Divide(Cast(e, DoubleType), Literal(width.toDouble)))

      // point side: one extra projected column
      val pAlias = Alias(bucket(pat.point), "_rj_pb")()
      val (pointPlan, ivPlan) = if (pat.pointOnLeft) (j.left, j.right) else (j.right, j.left)
      val pProj = Project(pointPlan.output :+ pAlias, pointPlan)

      // interval side: one row per covered bucket; inverted/NULL
      // intervals produce no rows, matching the nested loop
      val sb = bucket(pat.start)
      val eb = bucket(pat.end)
      val arrType = ArrayType(LongType, containsNull = false)
      val buckets = If(
        And(IsNotNull(sb), And(IsNotNull(eb), LessThanOrEqual(sb, eb))),
        // timeZoneId set explicitly: ResolveTimeZone has already run by
        // optimization time, so a bare Sequence would stay unresolved
        Sequence(sb, eb, Some(Literal(1L)), Some(conf.sessionLocalTimeZone)),
        Literal.create(Array.empty[Long], arrType))
      val bAttr = AttributeReference("_rj_ib", LongType, nullable = false)()
      val gen = Generate(Explode(buckets), unrequiredChildIndex = Nil,
        outer = false, qualifier = None, generatorOutput = Seq(bAttr), child = ivPlan)

      val (newLeft, newRight) = if (pat.pointOnLeft) (pProj, gen) else (gen, pProj)
      val newCond = And(EqualTo(pAlias.toAttribute, bAttr), cond)
      // project back to the original output (drops the bucket columns)
      Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), j.hint))
  }
}
