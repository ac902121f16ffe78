package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.plans.GroupedTopK

/** The custom physical operator: per-group top-k planned as
  * partial-heap → exchange → final-heap, equal to the window-function
  * formulation but without sorting whole groups.
  */
class GroupedTopKSpec extends SparkTestBase {

  import spark.implicits._

  // 10 groups × 100 rows, values deterministically scrambled; uid is
  // the unique tiebreaker that makes top-k a total order
  private lazy val data = (0 until 1000).map { i =>
    (i % 10, (i * 2654435761L) % 997, i.toLong)
  }.toDF("grp", "score", "uid")

  private def windowTopK(df: DataFrame, k: Int): Set[(Int, Long, Long)] = {
    val w = Window.partitionBy("grp").orderBy(col("score").desc, col("uid"))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select("grp", "score", "uid").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
  }

  private def opTopK(df: DataFrame, k: Int): DataFrame =
    GroupedTopK(df, Seq("grp"), Seq(("score", false), ("uid", true)), k)

  test("matches the window-function formulation") {
    for (k <- Seq(1, 5, 150)) { // 150 > group size: whole groups survive
      val got = opTopK(data, k).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == windowTopK(data, k), s"k=$k diverged")
    }
  }

  test("plans as partial + final with an exchange between, no sort") {
    val plan = opTopK(data, 3).queryExecution.executedPlan.toString
    assert(plan.contains("GroupedTopKPartial"), plan)
    assert(plan.contains("GroupedTopKFinal"), plan)
    assert(plan.contains("Exchange"), plan)
    assert(!plan.contains("Sort "), s"a sort crept in:\n$plan")
  }

  test("partial stage bounds what reaches the shuffle") {
    // 4 input partitions × 10 groups × k=2 → at most 80 rows shuffle,
    // never the 1000 inputs
    val df = opTopK(data.repartition(4), 2)
    df.collect()
    // under AQE the partial exec hides inside a materialized query
    // stage, which is a leaf to `collect` — walk stages explicitly
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }).flatMap(flatten)
    val execs = flatten(df.queryExecution.executedPlan).collect {
      case e: graft.plans.GroupedTopKExec if e.partial => e
    }
    assert(execs.nonEmpty)
    assert(execs.head.metrics("numOutputRows").value <= 80,
      s"partial emitted ${execs.head.metrics("numOutputRows").value} rows")
  }

  test("rows within a group come out best-first") {
    val rows = opTopK(data, 4).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    rows.groupBy(_._1).values.foreach { g =>
      val scores = g.map(_._2).toSeq
      assert(scores == scores.sortBy(-_), s"group not best-first: $g")
    }
  }

  test("ascending order, multi-column groups, null scores") {
    val df = Seq(
      ("a", 1, Some(5L)), ("a", 1, Some(3L)), ("a", 1, None),
      ("a", 2, Some(9L)), ("b", 1, Some(1L)), ("b", 1, Some(2L))
    ).toDF("g1", "g2", "v")
    val got = GroupedTopK(df, Seq("g1", "g2"), Seq(("v", true)), 1)
      .collect().map(r => (r.getString(0), r.getInt(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // ascending SortOrder is nulls-first, same as ORDER BY v ASC
    assert(got == Set(("a", 1, -1L), ("a", 2, 9L), ("b", 1, 1L)))
  }

  test("empty input and k exceeding all groups") {
    val empty = data.filter(col("grp") < 0)
    assert(opTopK(empty, 3).count() == 0)
    assert(opTopK(data, 100000).count() == 1000)
  }

  test("heavy group skew: results still match the window formulation") {
    // 95% of rows in one group — the partial heaps cap what the hot
    // group's reducer receives at k rows per input partition
    val skewed = (0 until 20000).map { i =>
      (if (i % 20 == 0) i % 7 + 1 else 0, (i * 48271L) % 9973, i.toLong)
    }.toDF("grp", "score", "uid").repartition(8)
    val got = GroupedTopK(skewed, Seq("grp"),
        Seq(("score", false), ("uid", true)), 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == windowTopK(skewed, 5))
  }

  test("empty group list = global top-k (AllTuples distribution)") {
    val got = GroupedTopK(data, Seq.empty, Seq(("score", false), ("uid", true)), 7)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val exp = data.orderBy(col("score").desc, col("uid")).limit(7)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got == exp)
  }

  test("composes with downstream operators (filter + agg over the node)") {
    val agg = opTopK(data, 5)
      .filter(col("grp") % 2 === 0)
      .groupBy("grp").agg(sum("score").as("s"))
    val exp = windowTopK(data, 5).toSeq.filter(_._1 % 2 == 0)
      .groupBy(_._1).map { case (g, rs) => (g, rs.map(_._2).sum) }.toSet
    assert(agg.collect().map(r => (r.getInt(0), r.getLong(1))).toSet == exp)
  }

  test("GraftExtensions wires the strategy") {
    // nothing registers the strategy at run time: a new session of the
    // shipped one plans the node through the injected strategy
    val fresh = spark.newSession()
    val df = GroupedTopK(fresh.range(100).select((col("id") % 3).as("grp"), col("id")),
      Seq("grp"), Seq(("id", false)), 2)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GroupedTopKFinal"), plan)
    assert(df.collect().map(_.getLong(1)).sorted.toSeq == (94L to 99L))
  }
}
