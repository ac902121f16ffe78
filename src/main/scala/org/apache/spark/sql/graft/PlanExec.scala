package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal `private[sql]` shim: execute a Catalyst [[LogicalPlan]] as a
  * DataFrame. Spark exposes `spark.sql(text)` but no public "run this
  * (possibly transformed) parse tree", so graft's SQL→snapshot-catalog
  * bridge — which substitutes catalog relations in the PLAN, never in
  * the query text — needs `classic.Dataset.ofRows`. This object lives
  * under `org.apache.spark.sql` purely to satisfy that access scope;
  * the standard pattern used by Spark extension libraries. Functions,
  * optimizer rules and planner strategies need no shim: they reach the
  * session through the public `SparkSessionExtensions` hooks
  * (`graft.plans.GraftExtensions`).
  *
  * Analysis is eager (`ofRows` runs the analyzer), so callers may drop
  * any temp views the plan references as soon as this returns.
  */
object PlanExec {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column ↔ Catalyst Expression bridges (`private[sql]` in Spark 4's
    * classic module) — what lets graft inject COMPOSED functions into
    * the FunctionRegistry: a registry builder receives Expressions,
    * and the curation functions (`graft_gopher_pass` & co.) are built
    * from the public Column API rather than hand-written expression
    * trees, so the one implementation serves the Scala operators and
    * the SQL surface identically.
    */
  def expressionOf(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    // the EAGER converter, not ExpressionUtils.expression: the latter
    // wraps the ColumnNode lazily, and a FunctionRegistry builder's
    // output is spliced into the plan mid-analysis where nothing ever
    // forces that wrapper — it reaches codegen unconverted. The
    // converted tree may still contain UnresolvedFunction nodes for
    // builtins; the analyzer's fixed point resolves them after the
    // splice.
    classic.ColumnNodeToExpressionConverter(c.node)

  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)
}
