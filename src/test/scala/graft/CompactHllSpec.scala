package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.aggregate.HyperLogLogPlusPlus
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.expressions.CompactHll
import graft.plans.CompactHllRewrite

/** `approx_count_distinct` planned as [[CompactHll]]: estimates equal
  * Spark's built-in HLL++ long for long, the buffer round-trips, and
  * the rewrite fires on batch plans only.
  */
class CompactHllSpec extends SparkTestBase {

  private def hllKinds(p: LogicalPlan): (Int, Int) = {
    val fns = p.collect { case n => n.expressions }.flatten.flatMap(_.collect {
      case h: HyperLogLogPlusPlus => h
      case c: CompactHll => c
    })
    (fns.count(_.isInstanceOf[HyperLogLogPlusPlus]), fns.count(_.isInstanceOf[CompactHll]))
  }

  /** Rows of `q` as planned by the session (CompactHll) and with the
    * rewrite excluded (Spark's HLL++), each plan checked for which
    * aggregate it ran.
    */
  private def compactAndBuiltIn(q: => DataFrame): (Seq[Row], Seq[Row]) = {
    def run(want: (Int, Int) => Boolean): Seq[Row] = {
      val df = q
      val (builtIn, compact) = hllKinds(df.queryExecution.optimizedPlan)
      assert(want(builtIn, compact), s"built-in $builtIn, compact $compact")
      df.collect().toSeq
    }
    val compact = run((b, c) => b == 0 && c > 0)
    spark.conf.set("spark.sql.optimizer.excludedRules", CompactHllRewrite.ruleName)
    val builtIn = try run((b, c) => b > 0 && c == 0)
      finally spark.conf.unset("spark.sql.optimizer.excludedRules")
    (compact, builtIn)
  }

  // four typed columns, every 7th row null, group 3 all-null, four
  // input partitions so partial buffers merge across an exchange
  private lazy val data = spark.range(0, 20000, 1, 4).select(
    (col("id") % 4).as("g"),
    ((col("id") * 7919) % 6007).as("k")).select(
    col("g"),
    when(col("g") === 3 || col("k") % 7 === 0, lit(null)).otherwise(col("k")).as("k"))
    .select(
      col("g"),
      col("k").as("l"),
      concat(lit("u"), (col("k") % 3001).cast("string")).as("s"),
      ((col("k") % 997) / 7.0).as("d"),
      date_add(lit("2020-01-01").cast("date"), (col("k") % 800).cast("int")).as("dt"))

  private val cols = Seq("l", "s", "d", "dt")
  private val rsds = Seq(0.01, 0.02, 0.05, 0.3)

  test("grouped estimates equal the built-in HLL++ for every rsd and input type") {
    for (rsd <- rsds) {
      val aggs = cols.map(c => approx_count_distinct(col(c), rsd).as(c))
      val (compact, builtIn) =
        compactAndBuiltIn(data.groupBy("g").agg(aggs.head, aggs.tail: _*).orderBy("g"))
      assert(compact == builtIn, s"rsd $rsd")
      // the all-null group estimates 0, the others are real estimates
      assert(compact.map(_.getLong(0)) == Seq(0L, 1L, 2L, 3L))
      assert(compact(3).toSeq.tail == Seq(0L, 0L, 0L, 0L))
      assert(compact.take(3).forall(r => (1 to 4).forall(r.getLong(_) > 100)))
    }
  }

  test("global, empty-input, SQL and window estimates equal the built-in") {
    data.createOrReplaceTempView("hll_data")
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "global" -> (() => data.agg(approx_count_distinct("l", 0.01), approx_count_distinct("s"))),
      "sql" -> (() => spark.sql(
        "SELECT g, approx_count_distinct(d, 0.02) AS a, approx_count_distinct(s) AS b " +
          "FROM hll_data GROUP BY g ORDER BY g")),
      "window" -> (() => data.select(col("g"),
        approx_count_distinct("l", 0.01).over(Window.partitionBy("g")).as("a"),
        approx_count_distinct("dt", 0.3).over(Window.partitionBy("g")).as("b"))
        .distinct().orderBy("g")))
    for ((name, q) <- cases) {
      val (compact, builtIn) = compactAndBuiltIn(q())
      assert(compact == builtIn, name)
    }
    val (empty, emptyBuiltIn) = compactAndBuiltIn(data.filter(lit(false))
      .agg(approx_count_distinct("l", 0.01), approx_count_distinct("dt")))
    assert(empty == emptyBuiltIn && empty == Seq(Row(0L, 0L)))
  }

  test("the binary buffer round-trips, unallocated buffers included") {
    for (rsd <- rsds) {
      val agg = CompactHll(BoundReference(0, LongType, nullable = true), rsd)
      val empty = agg.createAggregationBuffer()
      assert(agg.serialize(empty).isEmpty)
      val emptyBack = agg.deserialize(agg.serialize(empty))
      assert(emptyBack.words == null && agg.eval(emptyBack) == 0L)
      // nulls leave the buffer unallocated
      agg.update(empty, InternalRow(null))
      assert(empty.words == null)

      val buf = agg.createAggregationBuffer()
      (0L until 3000L).foreach(v => agg.update(buf, InternalRow(v * 31)))
      val bytes = agg.serialize(buf)
      assert(bytes.length == buf.words.length * 8)
      val back = agg.deserialize(bytes)
      assert(back.words.sameElements(buf.words))
      assert(agg.eval(back) == agg.eval(buf))
      // merging an empty buffer either way changes nothing
      val est = agg.eval(buf)
      assert(agg.eval(agg.merge(agg.deserialize(bytes), emptyBack)) == est)
      assert(agg.eval(agg.merge(agg.createAggregationBuffer(), back)) == est)
    }
  }

  test("q21 plans no HLL++ and no per-register MS[i] buffer columns") {
    val q21 = SparkEntry.queries("q21_approx_distinct")(spark, sf0001)
    val (builtIn, compact) = hllKinds(q21.queryExecution.optimizedPlan)
    assert(builtIn == 0 && compact == 2, s"built-in $builtIn, compact $compact")
    val physical = q21.queryExecution.executedPlan.toString
    assert(!physical.contains("MS["), physical)
    assert(q21.collect().forall(r =>
      r.getAs[Int]("orders_within_3rsd") == 1 && r.getAs[Int]("parts_within_3rsd") == 1))
  }

  test("a streaming aggregate keeps the built-in HLL++ (state schema unchanged)") {
    import spark.implicits._
    val src = tmpDir("graft-hll-src")
    (0L until 500L).map(i => (i % 3, i)).toDF("g", "v").write.mode("append").parquet(src)
    val stream = spark.readStream.schema("g BIGINT, v BIGINT").parquet(src)
      .groupBy("g").agg(approx_count_distinct("v").as("a"))
    val q = stream.writeStream.format("memory").queryName("hll_stream")
      .outputMode("complete")
      .option("checkpointLocation", tmpDir("graft-hll-ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      val exec = q.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution
      val (builtIn, compact) = hllKinds(exec.optimizedPlan)
      assert(builtIn == 1 && compact == 0, s"built-in $builtIn, compact $compact")
      val got = spark.table("hll_stream").orderBy("g").collect().toSeq
      val batch = spark.read.parquet(src).groupBy("g")
        .agg(approx_count_distinct("v").as("a")).orderBy("g").collect().toSeq
      assert(got == batch)
    } finally q.stop()
  }
}
