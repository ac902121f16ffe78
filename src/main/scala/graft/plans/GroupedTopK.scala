package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graft.PlanExec

/** Per-group top-k as a first-class physical operator — the full custom
  * chain (logical node → [[SparkStrategy]] → [[SparkPlan]]) from the
  * build mandate's preference (c), for semantics the built-ins only
  * reach inefficiently.
  *
  * Spark's idiomatic per-group top-k is
  * `row_number().over(Window.partitionBy(g).orderBy(o)) <= k`: one
  * shuffle of the ENTIRE input on the group key, then a full sort of
  * every group just to keep k rows — at 100 TB the sort spill, not the
  * answer, dominates. (`TakeOrderedAndProject` fixes exactly this for
  * the global LIMIT+ORDER BY case; Spark has no grouped counterpart.)
  *
  * This operator plans partial → exchange → final, like aggregation:
  *
  *  - partial [[GroupedTopKExec]] on each INPUT partition keeps a
  *    size-k bounded heap per group seen in that partition — at most
  *    k·groups-per-partition rows survive to the shuffle;
  *  - `EnsureRequirements` inserts the exchange demanded by the final
  *    exec's `ClusteredDistribution(group)`, so the shuffle moves only
  *    the per-partition survivors (≤ k·P per group), never the input;
  *  - final [[GroupedTopKExec]] merges the survivors' heaps per group
  *    and emits each group's rows best-first.
  *
  * No sort ever materializes: heap maintenance is O(n log k) per
  * partition with O(k·groups) memory — the same bound partial
  * aggregation already assumes. Results equal the window formulation
  * whenever `order` is a total order within each group (include a
  * unique tiebreaker column for determinism, exactly as you would for
  * the window query).
  *
  * Regime (measured in `graft.tools.TopKCompare`, table in
  * SCALING.md): use when k·groups ≪ rows — 8.5× over the window plan
  * at 40M rows/100 groups, 1.8× at 10k groups. When k·groups
  * approaches the row count the output IS the input and a codegen'd
  * sort wins; the partial stage detects that at runtime and degrades
  * to pass-through (see [[GroupedTopKExec]]), but prefer the window
  * formulation outright there.
  *
  * The session plans the node through [[GroupedTopKStrategy]], which
  * [[GraftExtensions]] injects.
  */
object GroupedTopK {

  /** `df` reduced to the first `k` rows per `group`, ranked by `order`
    * ((column, ascending) pairs, compared in sequence). Output columns
    * = input columns; within a group, rows come out best-first.
    */
  def apply(df: DataFrame, group: Seq[String], order: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(order.nonEmpty, "at least one order column is required")
    val spark = df.sparkSession
    val plan = df.queryExecution.analyzed
    def resolve(n: String): Attribute = plan.output
      .find(a => spark.sessionState.conf.resolver(a.name, n))
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${plan.output.map(_.name).mkString(", ")}"))
    val sortOrder = order.map { case (n, asc) =>
      SortOrder(resolve(n), if (asc) Ascending else Descending)
    }
    PlanExec.ofRows(spark,
      GroupedTopKPlan(group.map(resolve), sortOrder, k, plan))
  }
}

/** Logical per-group top-k. Pure metadata — all semantics live in the
  * exec; the node exists so the planner (not the caller) decides the
  * partial/final split.
  */
case class GroupedTopKPlan(groupExprs: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupedTopKPlan =
    copy(child = newChild)
}

/** Plans [[GroupedTopKPlan]] as final-over-partial, mirroring how
  * `HashAggregateExec` pairs split: the partial instance accepts any
  * distribution; the final instance demands clustering on the group
  * key, which `EnsureRequirements` satisfies with one exchange over
  * the partial's (already reduced) output.
  */
object GroupedTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupedTopKPlan(g, o, k, child) =>
      GroupedTopKExec(g, o, k, partial = false,
        GroupedTopKExec(g, o, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Bounded-heap per-group top-k over one partition.
  *
  * Each partition keeps a max-heap of size ≤ k per group key (heap top
  * = worst kept row): a new row replaces the top only when it sorts
  * strictly before it. Group keys and kept rows are `UnsafeRow` copies
  * (iterator rows are reused buffers). Emission drains each heap in
  * reverse, so groups stream out best-first.
  *
  * Adaptive degrade (partial stage only): when group cardinality is so
  * high that k·groups approaches the partition's row count, the heaps
  * reduce nothing and their maintenance (hash probe + row copy per
  * row) just taxes the shuffle — the same regime where partial
  * aggregation stops helping. The partial stage checks its reduction
  * ratio periodically and, once keeping ≥ half of what it has seen,
  * stops heap maintenance and streams the remaining rows through
  * untouched. This is safe, not just fast: a row evicted from a full
  * heap was dominated by k better same-group rows in the same
  * partition, so it cannot be in the global top-k — partial output
  * only ever needs to be a superset of each group's candidates. The
  * final stage never degrades (it computes the exact answer).
  */
case class GroupedTopKExec(groupExprs: Seq[Expression], order: Seq[SortOrder],
    k: Int, partial: Boolean, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def nodeName: String =
    if (partial) "GroupedTopKPartial" else "GroupedTopKFinal"

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else if (groupExprs.isEmpty) Seq(AllTuples)
    else Seq(ClusteredDistribution(groupExprs))

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val attrs = child.output
    val g = groupExprs
    val so = order
    val cap = k
    val numOutputRows = longMetric("numOutputRows")
    val isPartial = partial
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(g, attrs)
      val toUnsafe = UnsafeProjection.create(attrs.map(a => a: Expression), attrs)
      val ord = RowOrdering.create(so, attrs)
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      var seen = 0L
      var degraded = false
      while (iter.hasNext && !degraded) {
        val row = toUnsafe(iter.next())
        // probe with the projection's reused buffer; copy the key only
        // on first sight (UnsafeRow equality is content-based)
        val probe = keyProj(row)
        val heap = heaps.get(probe) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue.empty[InternalRow](ord)
            heaps.put(probe.copy(), h)
            h
        }
        if (heap.size < cap) heap.enqueue(row.copy())
        else if (ord.compare(row, heap.head) < 0) {
          heap.dequeue(); heap.enqueue(row.copy())
        }
        seen += 1
        // reduction check every 64k rows, only after the map is warm
        if (isPartial && (seen & 0xFFFF) == 0L &&
            heaps.size.toLong * cap * 2 >= seen) degraded = true
      }
      val kept = heaps.valuesIterator.flatMap { h =>
        val rows = h.dequeueAll.reverseIterator
        rows.map { r => numOutputRows += 1; r }
      }
      // degraded tail: remaining rows stream through untouched (they
      // are consumed immediately by the shuffle writer — no copy)
      if (degraded) kept ++ iter.map { r => numOutputRows += 1; r }
      else kept
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GroupedTopKExec =
    copy(child = newChild)
}
