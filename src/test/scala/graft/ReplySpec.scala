package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, unix_millis}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.catalog.SnapshotCatalog
import graft.ingest.PurchaseEvents
import graft.query.Engine

/** The reply encoder: byte-identical to the row-object `toJSON`
  * encoding it replaced, and a limited reply is one plan with no
  * exchange. */
class ReplySpec extends SparkTestBase {

  /** The former encoder: top-level timestamps to epoch millis, then
    * `Dataset.toJSON`. Kept here as the wire-format reference. */
  private def rowObjectJson(d: DataFrame): Seq[String] = {
    val cols = d.schema.fields.map {
      case f if f.dataType == TimestampType => unix_millis(col(f.name)).as(f.name)
      case f if f.dataType == TimestampNTZType =>
        unix_millis(col(f.name).cast(TimestampType)).as(f.name)
      case f => col(f.name)
    }
    d.select(cols.toSeq: _*).toJSON.collect().toSeq
  }

  private def assertSameWire(d: DataFrame): Unit = {
    val want = rowObjectJson(d)
    assert(Engine.jsonRecords(d).toSeq == want)
  }

  /** name → SQL expression; every one is also sent as a NULL row. */
  private val matrix: Seq[(String, String)] = Seq(
    "i8" -> "CAST(-8 AS TINYINT)",
    "i16" -> "CAST(1600 AS SMALLINT)",
    "i32" -> "-2147483648",
    "i64" -> "9223372036854775807L",
    "f32" -> "CAST(1.1 AS FLOAT)",
    "f64" -> "0.1D + 0.2D",
    "dec" -> "CAST(3.125 AS DECIMAL(10,3))",
    "dec38" -> "CAST('12345678901234567890.123456' AS DECIMAL(38,6))",
    "bool" -> "true",
    "str" -> "'héllo \"q\" \\\\ \\n tab\\t'",
    "vc" -> "CAST('ab' AS VARCHAR(5))",
    "d" -> "DATE'2024-02-29'",
    "ts" -> "TIMESTAMP'2024-02-29 12:34:56.789123'",
    "ntz" -> "TIMESTAMP_NTZ'1969-12-31 23:59:59.999'",
    "bin" -> "X'00FF10'",
    "nan" -> "CAST('NaN' AS DOUBLE)",
    "pinf" -> "CAST('Infinity' AS DOUBLE)",
    "ninf" -> "CAST('-Infinity' AS FLOAT)",
    "fnan" -> "CAST('NaN' AS FLOAT)",
    "nul" -> "NULL",
    "st" -> ("named_struct('x', 1, 'ts', TIMESTAMP'2024-01-01 00:00:00', " +
      "'ntz', TIMESTAMP_NTZ'2024-01-01 00:00:00', 'd', DATE'2024-01-02', 'n', NULL)"),
    "allnull" -> "named_struct('x', CAST(NULL AS INT), 'y', CAST(NULL AS STRING))",
    "arr" -> "array(1, NULL, 3)",
    "arrd" -> "array(CAST('NaN' AS DOUBLE), 1.5D, NULL)",
    "m" -> "map('k', 1.5D, 'j', NULL)",
    "im" -> "map(2, 'b', 1, 'a')",
    "deep" -> ("array(named_struct('a', map(1, array(TIMESTAMP'2024-03-01 01:02:03')), " +
      "'b', named_struct('c', X'01', 'e', array(named_struct('f', NULL)))))"),
    "v" -> """parse_json('{"a":[1,2.5,{"b":null}],"c":"x"}')""",
    "stv" -> """named_struct('v', parse_json('[true,"s"]'))""",
    "cal" -> "make_interval(1, 2, 0, 3, 4, 5, 6.789)",
    "dtd" -> "INTERVAL '1' DAY",
    "dts" -> "INTERVAL '1 02:03:04.5' DAY TO SECOND",
    "dth" -> "INTERVAL '-3' HOUR",
    "dtm" -> "INTERVAL '10:20' HOUR TO MINUTE",
    "ymy" -> "INTERVAL '2' YEAR",
    "ym" -> "INTERVAL '1-2' YEAR TO MONTH",
    "ymm" -> "INTERVAL '5' MONTH",
    "ivarr" -> "array(INTERVAL '1' DAY, INTERVAL '2' HOUR)",
    "ivmap" -> "map(INTERVAL '1' MONTH, INTERVAL '2' MINUTE)",
    "ivst" -> "named_struct('y', INTERVAL '3' YEAR, 's', INTERVAL '4' SECOND)")

  test("wire identity: every type, NULL rows, nesting, variant and " +
      "intervals encode exactly as the row-object encoding did") {
    val exprs = "id" +: matrix.map { case (n, e) =>
      s"CASE WHEN id % 2 = 1 THEN NULL ELSE $e END AS $n" }
    val d = spark.range(0, 4, 1, 2).selectExpr(exprs: _*)
    assertSameWire(d)
    // each type alone too, so one mismatch names its type
    matrix.foreach { case (n, _) => withClue(n) { assertSameWire(d.select("id", n)) } }
    // the nulls of every type are omitted, as before
    assert(Engine.jsonRecords(d.where("id = 1")).toSeq == Seq("""{"id":1}"""))
  }

  test("wire identity: ORDER BY … LIMIT row order, an empty result, no columns") {
    val sorted = spark.range(0, 50, 1, 4)
      .selectExpr("id", "CAST(id * 7 % 10 AS STRING) AS s",
        "TIMESTAMP'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS t")
      .orderBy(col("s").desc, col("id")).limit(7)
    assertSameWire(sorted)
    assert(Engine.jsonRecords(sorted).head == """{"id":7,"s":"9","t":1704067207000}""")
    assertSameWire(sorted.where("id < 0"))
    assert(Engine.jsonRecords(sorted.where("id < 0")).isEmpty)
    val noCols = spark.range(0, 2, 1, 1).select()
    assertSameWire(noCols)
    assert(Engine.jsonRecords(noCols).toSeq == Seq("{}", "{}"))
  }

  test("a served reply equals the row-object encoding, envelope and all") {
    val engine = new Engine(spark, new SnapshotCatalog(spark, tmpDir("graft-reply-env")))
    val sql = "SELECT id, TIMESTAMP_NTZ'2024-01-01 00:00:00' AS t, " +
      "INTERVAL '1' DAY AS i, array(INTERVAL '2' MONTH) AS a FROM range(5) ORDER BY id DESC"
    val want = rowObjectJson(spark.sql(sql).limit(3))
    assert(engine.sqlQuery(sql, 3) == want.mkString("""{"records":[""", ",", "]}"))
  }

  // ------------------------------------------------------------ plan guard

  private val Ns = "default_db"
  private val Files = 16
  private val RowsPerFile = 200

  private final case class Run(reply: String, plans: Seq[String],
      shuffleBytes: Long, scanTasks: Int)

  /** `body`'s reply with what it ran: the physical plan of every SQL
    * execution, the shuffle bytes written and the number of tasks that
    * read input. A marker job after `body` flushes the listener bus. */
  private def traced(body: => String): Run = {
    val plans = new ConcurrentLinkedQueue[String]()
    val shuffle = new AtomicLong
    val scans = new AtomicInteger
    val marker = java.util.UUID.randomUUID().toString
    val flushed = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.marker") == marker))
          flushed.countDown()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          if (m.inputMetrics.bytesRead > 0) scans.incrementAndGet()
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription): Unit
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val reply = body
      spark.sparkContext.setLocalProperty("graft.marker", marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty("graft.marker", null)
      assert(flushed.await(60, TimeUnit.SECONDS))
      Run(reply, plans.asScala.toSeq, shuffle.get, scans.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def assertOnePlan(r: Run): Unit = {
    assert(r.reply.startsWith("""{"records":[{"""), r.reply.take(200))
    assert(r.plans.nonEmpty && r.plans.forall(!_.contains("Exchange")), r.plans)
    assert(r.plans.exists(_.contains("CollectLimit")), r.plans)
    assert(r.shuffleBytes == 0L)
  }

  test("a lookup, a pruned scan, a whole-table read and a top-k reply in one " +
      "plan: no exchange, no shuffle bytes") {
    val cat = new SnapshotCatalog(spark, tmpDir("graft-reply-plan"))
    val df = PurchaseEvents.batch(spark, 1700000000000L, Files * RowsPerFile, 1000L)
    cat.createTable(Ns, "ev", df.schema, Map(SnapshotCatalog.BloomColumnsProp -> "user_id"))
    cat.append(Ns, "ev", df.repartitionByRange(Files, col("timestamp")))
    assert(cat.describe(Ns, "ev").currentSnapshot.get.files.size == Files)
    val engine = new Engine(spark, cat)
    val aUser = df.head().getAs[String]("user_id")
    val lookup = traced(engine.queryTableEquals(Ns, "ev", "user_id", aUser, 100))
    assertOnePlan(lookup)
    assert(lookup.reply.contains(s""""user_id":"$aUser""""))
    val lo = 1700000000000L + 500 * 1000L
    val scan = traced(engine.queryTable(Ns, "ev", 100, None,
      Some(Engine.RangeFilter("timestamp", Some(lo.toDouble), Some((lo + 50000L).toDouble)))))
    assertOnePlan(scan)
    assert(""""user_id":""".r.findAllIn(scan.reply).size == 51)
    val whole = traced(engine.queryTable(Ns, "ev", 100))
    assertOnePlan(whole)
    assert(""""user_id":""".r.findAllIn(whole.reply).size == 100)
    // the first file holds more than 100 rows: the take stops there
    assert(whole.scanTasks > 0 && whole.scanTasks < Files, whole.scanTasks)
    // under an ORDER BY the projection rides the top-k
    val top = traced(engine.sqlQuery(
      s"SELECT user_id, timestamp FROM $Ns.ev ORDER BY timestamp DESC", 3))
    assert(top.plans.exists(_.contains("TakeOrderedAndProject")), top.plans)
    assert(top.plans.forall(!_.contains("Exchange")) && top.shuffleBytes == 0L, top.plans)
    assert(top.reply.contains(s""""timestamp":${1700000000000L + (Files * RowsPerFile - 1) * 1000L}"""))
  }
}
