package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.RangeJoinRewrite

/** The optimizer-rule form of the range join: a plain
  * `p BETWEEN s AND e` join is re-planned as the bucketed equi-join
  * with no query rewrite by the author.
  */
class RangeJoinRuleSpec extends SparkTestBase {

  import spark.implicits._

  private def points = (0L until 200L).map(i => (i, i % 7)).toDF("p", "tag")
  private def intervals = Seq(
    (1L, 10L, 19L), (2L, 15L, 40L), (3L, 150L, 150L), (4L, 60L, 55L) // inverted: matches nothing
  ).toDF("iv_id", "s", "e")

  private def rangeJoin(): DataFrame =
    points.join(intervals, col("p") >= col("s") && col("p") <= col("e"))

  private def expected: Set[(Long, Long)] =
    (for {
      p <- 0L until 200L
      (id, s, e) <- Seq((1L, 10L, 19L), (2L, 15L, 40L), (3L, 150L, 150L), (4L, 60L, 55L))
      if p >= s && p <= e
    } yield (p, id)).toSet

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The session already carries the rule (GraftExtensions); the
    * width conf alone switches it on.
    */
  private def withRule[A](width: String)(body: => A): A = {
    spark.conf.set(RangeJoinRewrite.WidthConf, width)
    try body
    finally spark.conf.unset(RangeJoinRewrite.WidthConf)
  }

  test("disabled by default: BETWEEN join stays a nested loop") {
    val plan = planOf(rangeJoin())
    assert(plan.contains("NestedLoop") || plan.contains("Cartesian"))
  }

  test("enabled: same results, equi-join plan, nested loop gone") {
    withRule("16") {
      val df = rangeJoin()
      val plan = planOf(df)
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        s"nested loop survived:\n$plan")
      val got = df.select("p", "iv_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected)
    }
  }

  test("point side may be on the right; strict bounds keep exact semantics") {
    withRule("16") {
      val df = intervals.join(points,
        col("p") > col("s") && col("p") < col("e")) // strict, mirrored sides
      assert(!planOf(df).contains("NestedLoop"))
      val got = df.select("p", "iv_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val exp = (for {
        p <- 0L until 200L
        (id, s, e) <- Seq((1L, 10L, 19L), (2L, 15L, 40L), (3L, 150L, 150L), (4L, 60L, 55L))
        if p > s && p < e
      } yield (p, id)).toSet
      assert(got == exp)
    }
  }

  test("joins with an equality conjunct are left alone") {
    withRule("16") {
      val iv2 = intervals.withColumn("itag", col("iv_id") % 7)
      val df = points.join(iv2,
        col("tag") === col("itag") && col("p").between(col("s"), col("e")))
      // already an equi-join: the rule must not touch it
      assert(!planOf(df).contains("_rj_"))
    }
  }

  test("rewrite is width-invariant: every bucket width gives the nested-loop answer") {
    // widths straddling the interval spans: 1 (max fan-out), typical,
    // larger than the whole domain (single bucket) — results must be
    // identical in all of them
    for (w <- Seq(1L, 7L, 16L, 1000L)) withRule(w.toString) {
      val got = rangeJoin().select("p", "iv_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"width $w diverged")
    }
  }

  test("auto width: derived from span stats, same results, equi-join plan") {
    // fixture stats: mean span (9+25+0-5)/4 = 7.25, domain 150-10 = 140,
    // P = 200 → w* = sqrt(7.25·140/200) ≈ 2.25 → 2 (cap 4·7.25 = 29)
    assert(graft.operators.RangeJoin.widthFrom(7.25, 140.0, 200L) == 2L)
    withRule("auto") {
      val df = rangeJoin()
      val plan = planOf(df)
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        s"nested loop survived in auto mode:\n$plan")
      val got = df.select("p", "iv_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected)
    }
  }

  test("auto width: DataFrame-level derivation matches the pinned formula") {
    val w = graft.operators.RangeJoin.autoBucketWidth(
      points, "p", intervals, "s", "e")
    assert(w == 2L, s"derived $w, want 2 (sqrt(7.25*140/200) rounded)")
  }

  test("GraftExtensions wires the rule into session extensions") {
    // behaviour of the shipped session, in a new session of it: the
    // range join is rewritten with only the conf set, and
    // approx_count_distinct plans the one-buffer CompactHll
    val fresh = spark.newSession()
    fresh.conf.set(RangeJoinRewrite.WidthConf, "16")
    val df = fresh.range(200).select(col("id").as("p"))
      .join(fresh.range(0, 200, 40).select(col("id").as("s"), (col("id") + 9).as("e")),
        col("p").between(col("s"), col("e")))
    assert(planOf(df).contains("_rj_"), planOf(df))
    assert(df.count() == 50L) // 5 intervals of 10 points each
    val hll = fresh.range(100).agg(approx_count_distinct("id"))
      .queryExecution.optimizedPlan
    assert(hll.collect { case p => p.expressions }.flatten
      .exists(_.exists(_.isInstanceOf[graft.functions.expressions.CompactHll])), hll)
  }
}
