package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Relational operator coverage (SURVEY.md §2.2/§2.5): projection,
  * filter+pushdown, multi-way joins (broadcast + shuffle), windows,
  * top-k, set ops, rollup, distinct aggregates, scalar/date/JSON
  * functions, semi/anti joins, arbitrary-SQL pass-through, event-time
  * windowing, sessionization, the reference's generator arithmetic
  * (kafka_publisher.py:303-330) and its S3-sink partition-path scheme
  * (s3-connector-config.json:21-25).
  *
  * Scale notes (100 TB design intent, validated via .explain):
  *  - dimension tables (region/nation/supplier/part ≤ sf·10k rows) are
  *    broadcast explicitly so fact-fact joins are the only shuffles;
  *  - aggregations are plain groupBy → Spark plans partial (map-side)
  *    + final HashAggregate automatically;
  *  - top-k uses orderBy+limit → TakeOrderedAndProject (no full sort);
  *  - filters/projections sit directly over the scan so Catalyst pushes
  *    them into the parquet reader (PushedFilters / ReadSchema).
  */
object Relational {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---------------------------------------------------------------- q00
  // Canned parquet scan + LIMIT (SURVEY R1/R2; duckdb_rest_server.py:131).
  private def q00(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select("event_id", "event_type", "user_id")
      .orderBy("event_id")
      .limit(5)

  private val q00Sql =
    """SELECT event_id, event_type, user_id FROM events ORDER BY event_id LIMIT 5"""

  // Exact-decimal-grid money aggregation. The generated money columns
  // are 2-decimal by construction (verified against the fixtures), so
  // a single column is EXACT on the 1e2 grid, a two-factor product
  // (price × discount-ish) on 1e4, a three-factor product on 1e6.
  // Summing the grid values as BIGINT is therefore bit-identical to
  // the true sum while being association-order-INDEPENDENT — a plain
  // double sum is not, and at sf0.001 the two engines' partial-sum
  // orders once landed a revenue on opposite sides of a cent boundary
  // (…57 vs …58; the q03 incident). Dividing the integer total by the
  // grid gives IEEE-identical doubles on both engines, so the final
  // round can never flake. Used by every money sum below; the DuckDB
  // oracles restate the identical arithmetic.
  private def gridSum(c: Column, grid: Long): Column =
    round(sum(round(c * grid, 0).cast("long")).cast("double") / grid, 2)
  private def gridAvg(c: Column, grid: Long, scale: Int): Column =
    round(sum(round(c * grid, 0).cast("long")).cast("double") / grid /
      count(lit(1)), scale)
  private def gridSumSql(expr: String, grid: Long, scale: Int = 2): String =
    s"round(CAST(sum(CAST(round(($expr) * $grid, 0) AS BIGINT)) AS DOUBLE)" +
      s" / $grid, $scale)"
  private def gridAvgSql(expr: String, grid: Long, scale: Int): String =
    s"round(CAST(sum(CAST(round(($expr) * $grid, 0) AS BIGINT)) AS DOUBLE)" +
      s" / $grid / count(*), $scale)"

  // ---------------------------------------------------------------- q01
  // Full-table aggregate, TPC-H Q1 shape (Tier B surface, SURVEY §2.5).
  private def q01(s: SparkSession, dir: String): DataFrame = {
    val disc  = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val charge = disc * (lit(1.0) + col("l_tax"))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        gridSum(col("l_quantity"), 100L).as("sum_qty"),
        gridSum(col("l_extendedprice"), 100L).as("sum_base_price"),
        gridSum(disc, 10000L).as("sum_disc_price"),
        gridSum(charge, 1000000L).as("sum_charge"),
        gridAvg(col("l_quantity"), 100L, 4).as("avg_qty"),
        gridAvg(col("l_extendedprice"), 100L, 4).as("avg_price"),
        gridAvg(col("l_discount"), 100L, 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val q01Sql =
    s"""SELECT l_returnflag, l_linestatus,
      |  ${gridSumSql("l_quantity", 100L)} AS sum_qty,
      |  ${gridSumSql("l_extendedprice", 100L)} AS sum_base_price,
      |  ${gridSumSql("l_extendedprice * (1.0 - l_discount)", 10000L)} AS sum_disc_price,
      |  ${gridSumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 1000000L)} AS sum_charge,
      |  ${gridAvgSql("l_quantity", 100L, 4)} AS avg_qty,
      |  ${gridAvgSql("l_extendedprice", 100L, 4)} AS avg_price,
      |  ${gridAvgSql("l_discount", 100L, 6)} AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q02
  // Selective filter + scalar aggregate, TPC-H Q6 shape. The predicate
  // sits on the scan → parquet PushedFilters prune row groups at scale.
  private def q02(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(
        col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") <  to_timestamp(lit("1997-01-01")) &&
        col("l_discount") >= 0.03 && col("l_discount") < 0.07 &&
        col("l_quantity") < 25)
      .agg(
        gridSum(col("l_extendedprice") * col("l_discount"), 10000L)
          .as("revenue"),
        count(lit(1)).as("n_rows"))

  private val q02Sql =
    s"""SELECT ${gridSumSql("l_extendedprice * l_discount", 10000L)} AS revenue,
      |       count(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01'
      |  AND l_discount >= 0.03 AND l_discount < 0.07
      |  AND l_quantity < 25""".stripMargin

  // ---------------------------------------------------------------- q03
  // Six-way join, TPC-H Q5 shape. nation/region/supplier broadcast; the
  // only shuffles are the two fact joins + final agg.
  private def q03(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val ord = t(s, dir, "orders")
      .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
              col("o_orderdate") < to_timestamp(lit("1998-01-01")))
    val li   = t(s, dir, "lineitem")
    val sup  = t(s, dir, "supplier")
    val nat  = t(s, dir, "nation")
    val reg  = t(s, dir, "region")
    cust
      .join(ord, cust("c_custkey") === ord("o_custkey"))
      .join(li, ord("o_orderkey") === li("l_orderkey"))
      .join(broadcast(sup),
        li("l_suppkey") === sup("s_suppkey") &&
        cust("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        gridSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")),
          10000L).as("revenue"),
        count(lit(1)).as("n_lineitems"))
      .orderBy("r_name", "n_name")
  }

  private val q03Sql =
    s"""SELECT r_name, n_name,
      |  ${gridSumSql("l_extendedprice * (1.0 - l_discount)", 10000L)} AS revenue,
      |  count(*) AS n_lineitems
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON s_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01'
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  // ---------------------------------------------------------------- q04
  // Ranking window: top-3 orders per customer.
  private def q04(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("rk"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"))
      .orderBy("o_custkey", "rk")
  }

  private val q04Sql =
    """SELECT o_custkey, rk, o_orderkey, price FROM (
      |  SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
      |  FROM orders)
      |WHERE rk <= 3
      |ORDER BY o_custkey, rk""".stripMargin

  // ---------------------------------------------------------------- q05
  // Global top-k → TakeOrderedAndProject (no full sort at scale).
  private def q05(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("price"))

  private val q05Sql =
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q06
  // Set operations: union / intersect / except on two customer segments.
  private def q06(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val a = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val b = c.filter(col("c_acctbal") > 5000).select("c_custkey")
    val u = a.union(b).distinct.agg(count(lit(1)).as("n"))
      .select(lit("union").as("op"), col("n"))
    val i = a.intersect(b).agg(count(lit(1)).as("n"))
      .select(lit("intersect").as("op"), col("n"))
    val e = a.except(b).agg(count(lit(1)).as("n"))
      .select(lit("except").as("op"), col("n"))
    u.union(i).union(e).orderBy("op")
  }

  private val q06Sql =
    """SELECT * FROM (
      |  SELECT 'union' AS op, count(*) AS n FROM (
      |    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |    UNION SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      |  UNION ALL
      |  SELECT 'intersect' AS op, count(*) AS n FROM (
      |    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |    INTERSECT SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      |  UNION ALL
      |  SELECT 'except' AS op, count(*) AS n FROM (
      |    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |    EXCEPT SELECT c_custkey FROM customer WHERE c_acctbal > 5000))
      |ORDER BY op""".stripMargin

  // ---------------------------------------------------------------- q07
  // ROLLUP over region → nation customer totals. Runs through spark.sql
  // (the text below is dialect-shared ANSI): the Dataset `rollup` API on
  // a multi-join input false-positives Spark 4.1's ambiguous-self-join
  // detector even with freshly aliased grouping columns, while the SQL
  // analyzer plans the identical Aggregate+Expand without complaint.
  // nation/region are auto-broadcast (far under the 10 MB threshold).
  private def q07(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir, Seq("customer", "nation", "region"))
    s.sql(q07Sql)
  }

  private val q07Sql =
    s"""SELECT coalesce(r_name, 'ALL') AS region,
      |       coalesce(n_name, 'ALL') AS nation,
      |       count(*) AS n_cust, ${gridSumSql("c_acctbal", 100L)} AS balance
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY region, nation""".stripMargin

  // ---------------------------------------------------------------- q08
  // Exact distinct aggregate (expands to a two-phase plan under AQE).
  private def q08(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        gridSum(col("o_totalprice"), 100L).as("total"))
      .orderBy("o_orderpriority")

  private val q08Sql =
    s"""SELECT o_orderpriority, count(*) AS n_orders,
      |  count(DISTINCT o_custkey) AS n_customers,
      |  ${gridSumSql("o_totalprice", 100L)} AS total
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q09
  // Scalar string/math function battery over part.
  private def q09(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 8)).as("name_up8"),
        lower(col("p_brand")).as("brand_lo"),
        length(col("p_name")).cast("long").as("name_len"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
        regexp_replace(col("p_type"), lit(" "), lit("_")).as("type_u"),
        lpad(col("p_size").cast("string"), 4, "0").as("size_pad"),
        round(col("p_retailprice") * 1.1, 2).as("price_up"),
        pmod(col("p_partkey"), lit(7)).as("key_mod"),
        reverse(col("p_brand")).as("brand_rev"))
      .orderBy("p_partkey")

  private val q09Sql =
    """SELECT p_partkey,
      |  upper(substr(p_name, 1, 8)) AS name_up8,
      |  lower(p_brand) AS brand_lo,
      |  length(p_name) AS name_len,
      |  p_brand || '#' || p_type AS brand_type,
      |  replace(p_type, ' ', '_') AS type_u,
      |  lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
      |  round(p_retailprice * 1.1, 2) AS price_up,
      |  p_partkey % 7 AS key_mod,
      |  reverse(p_brand) AS brand_rev
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q10
  // Date/time function battery over orders (strings/ints only — no raw
  // timestamps cross the oracle boundary).
  private def q10(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("d"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("ds"),
        date_format(add_months(col("o_orderdate"), 3), "yyyy-MM-dd").as("plus3m"),
        datediff(to_timestamp(lit("2002-01-01")), col("o_orderdate")).cast("long").as("days_to_2002"))
      .orderBy("o_orderkey")

  private val q10Sql =
    """SELECT o_orderkey,
      |  year(o_orderdate) AS y,
      |  month(o_orderdate) AS m,
      |  day(o_orderdate) AS d,
      |  quarter(o_orderdate) AS q,
      |  strftime(o_orderdate, '%Y-%m-%d') AS ds,
      |  strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
      |  date_diff('day', o_orderdate, TIMESTAMP '2002-01-01') AS days_to_2002
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q11
  // Semi / anti joins (EXISTS / NOT EXISTS).
  private def q11(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n")).select(lit("with_orders").as("op"), col("n"))
    val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n")).select(lit("without_orders").as("op"), col("n"))
    semi.union(anti).orderBy("op")
  }

  private val q11Sql =
    """SELECT * FROM (
      |  SELECT 'with_orders' AS op, count(*) AS n FROM customer
      |  WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  UNION ALL
      |  SELECT 'without_orders' AS op, count(*) AS n FROM customer
      |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
      |ORDER BY op""".stripMargin

  // ---------------------------------------------------------------- q12
  // Arbitrary-SQL pass-through (SURVEY R6): the same ANSI text runs
  // through spark.sql(...) here and through DuckDB as its own oracle.
  private val q12Sql =
    """WITH cust_rev AS (
      |  SELECT o_custkey,
      |    sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents
      |  FROM orders GROUP BY o_custkey)
      |SELECT seg, rk, ck, rev FROM (
      |  SELECT c.c_mktsegment AS seg, c.c_custkey AS ck,
      |    round(CAST(cr.cents AS DOUBLE) / 100, 2) AS rev,
      |    CAST(row_number() OVER (PARTITION BY c.c_mktsegment
      |                            ORDER BY cr.cents DESC, c.c_custkey) AS BIGINT) AS rk
      |  FROM customer c JOIN cust_rev cr ON c.c_custkey = cr.o_custkey)
      |WHERE rk <= 5
      |ORDER BY seg, rk""".stripMargin

  private def q12(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir, Seq("customer", "orders"))
    s.sql(q12Sql)
  }

  // ---------------------------------------------------------------- q13
  // Event-time tumbling window (hourly) over the events stream table —
  // batch shape of SURVEY §2.5 "streaming event-time windows".
  private def q13(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:00").as("hour"))
      .agg(
        count(lit(1)).as("n_events"),
        gridSum(col("value"), 100L).as("total_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("hour")

  private val q13Sql =
    s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
      |  count(*) AS n_events, ${gridSumSql("value", 100L)} AS total_value,
      |  count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1 ORDER BY hour""".stripMargin

  // ---------------------------------------------------------------- q14
  // Sessionization: 30-minute inactivity gap via lag + running sum.
  private def q14(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t(s, dir, "events")
      .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ms").isNull ||
             unix_millis(col("ts")) - col("prev_ms") > 1800000L, 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(sum("new_sess").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  private val q14Sql =
    """WITH flagged AS (
      |  SELECT user_id,
      |    CASE WHEN lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              IS NULL
      |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |              > 1800000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events)
      |SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
      |       count(*) AS n_events
      |FROM flagged GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q15
  // The reference producer's derivation arithmetic (G1-G5/G8 of
  // SURVEY §2.3; kafka_publisher.py:303-330), applied column-wise.
  private def q15(s: SparkSession, dir: String): DataFrame = {
    val ms = unix_millis(col("ts"))
    val userNum = pmod(ms, lit(1000L))
    t(s, dir, "events")
      .select(
        col("event_id"),
        concat(lit("user_"), userNum.cast("string")).as("user_id_str"),
        round((floor(ms / 10).cast("long") % 1000L) / 100.0, 2).as("amount"),
        (pmod(userNum, lit(50L)) + 18L).as("age"),
        concat(lit("user"), userNum.cast("string"), lit("@example.com")).as("email"))
      .orderBy("event_id")
  }

  private val q15Sql =
    """SELECT event_id,
      |  'user_' || CAST(epoch_ms(ts) % 1000 AS VARCHAR) AS user_id_str,
      |  round(((epoch_ms(ts) // 10) % 1000) / 100.0, 2) AS amount,
      |  (epoch_ms(ts) % 1000) % 50 + 18 AS age,
      |  'user' || CAST(epoch_ms(ts) % 1000 AS VARCHAR) || '@example.com' AS email
      |FROM events ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q16
  // The S3 sink's event-time partition path (SURVEY S7;
  // s3-connector-config.json:21-25): year=YYYY/month=MM/day=dd/hour=HH.
  private def q16(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(concat(
        lit("year="), date_format(col("ts"), "yyyy"),
        lit("/month="), date_format(col("ts"), "MM"),
        lit("/day="), date_format(col("ts"), "dd"),
        lit("/hour="), date_format(col("ts"), "HH")).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n"))
      .orderBy("path")

  private val q16Sql =
    """SELECT 'year=' || strftime(ts, '%Y') || '/month=' || strftime(ts, '%m')
      |    || '/day=' || strftime(ts, '%d') || '/hour=' || strftime(ts, '%H') AS path,
      |  count(*) AS n
      |FROM events GROUP BY path ORDER BY path""".stripMargin

  // ---------------------------------------------------------------- q17
  // JSON extraction from the events.props payload column.
  private def q17(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(avg("k"), 4).as("avg_k"),
        sum("k").as("sum_k"),
        min("k").as("min_k"),
        max("k").as("max_k"))
      .orderBy("event_type")

  private val q17Sql =
    """SELECT event_type, count(*) AS n,
      |  round(avg(k), 4) AS avg_k, CAST(sum(k) AS BIGINT) AS sum_k,
      |  min(k) AS min_k, max(k) AS max_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q18
  // CUBE grouping sets — shared ANSI text runs in both engines.
  private val q18Sql =
    s"""SELECT coalesce(o_orderpriority, 'ALL') AS priority,
      |       coalesce(o_orderstatus, 'ALL') AS status,
      |       count(*) AS n, ${gridSumSql("o_totalprice", 100L)} AS total
      |FROM orders
      |GROUP BY CUBE(o_orderpriority, o_orderstatus)
      |ORDER BY priority, status""".stripMargin

  private def q18(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir, Seq("orders"))
    s.sql(q18Sql)
  }

  // ---------------------------------------------------------------- q19
  // Subquery battery: correlated EXISTS, uncorrelated scalar, IN —
  // exercises Catalyst decorrelation; shared ANSI text.
  private val q19Sql =
    """SELECT c_mktsegment, count(*) AS n_cust,
      |       (SELECT count(*) FROM orders) AS total_orders
      |FROM customer c
      |WHERE EXISTS (
      |    SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey
      |      AND o.o_totalprice > (SELECT avg(o_totalprice) FROM orders))
      |  AND c_nationkey IN (
      |    SELECT n_nationkey FROM nation WHERE n_regionkey < 3)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  private def q19(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir, Seq("customer", "orders", "nation"))
    s.sql(q19Sql)
  }

  // ---------------------------------------------------------------- q20
  // As-of join: for each purchase event, the most recent click by the
  // same user at or before it (AsOfJoin operator: union+window, one
  // shuffle — see operator scaladoc).
  private def q20(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AsOfJoin
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("pm"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_millis(col("ts")).as("cm"))
    AsOfJoin.asOf(purchases, clicks, keys = Seq("user_id"),
        leftTs = "pm", rightTs = "cm", rightValue = "cm",
        valueAs = "prev_click_ms")
      .select("event_id", "user_id", "prev_click_ms")
      .orderBy("event_id")
  }

  private val q20Sql =
    """SELECT p.event_id, p.user_id, max(epoch_ms(c.ts)) AS prev_click_ms
      |FROM events p
      |LEFT JOIN events c
      |  ON c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.event_id, p.user_id
      |ORDER BY p.event_id""".stripMargin

  // ---------------------------------------------------------------- q21
  // Sketch aggregates: HLL++ approximate distinct counts. Estimates
  // are engine-specific, so the query emits its own error audit
  // instead of raw estimates (round-5 VERDICT item 1b): the exact
  // distinct counts (oracle-recomputable) plus within-3·rsd flags the
  // HLL++ estimates must satisfy — a broken sketch flips the flag and
  // fails the driver's hash check. Measured rel err ≤ 0.086 (rsd 0.05
  // col) / ≤ 0.007 (rsd 0.01 col) at sf0.01-0.1; bounds are 3σ.
  // Each HLL++ is planned as CompactHll (GraftSession's optimizer
  // rule): one binary buffer column per sketch, allocated on the first
  // non-null input. Spark's built-in form carried 52 + 1,639 long
  // buffer columns here, through the first-level aggregates and their
  // exchange, in every group of the countDistinct Expand.
  private def q21(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_orderkey")).as("_apx_orders"),
        approx_count_distinct(col("l_partkey"), rsd = 0.01).as("_apx_parts"),
        countDistinct(col("l_orderkey")).as("exact_orders"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        count(lit(1)).as("exact_rows"))
      .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
        col("exact_rows"),
        (abs(col("_apx_orders") - col("exact_orders")) <=
          col("exact_orders") * 0.15).cast("int").as("orders_within_3rsd"),
        (abs(col("_apx_parts") - col("exact_parts")) <=
          col("exact_parts") * 0.03).cast("int").as("parts_within_3rsd"))
      .orderBy("l_returnflag")

  private val q21Sql =
    """SELECT l_returnflag,
      |  count(DISTINCT l_orderkey) AS exact_orders,
      |  count(DISTINCT l_partkey) AS exact_parts,
      |  CAST(count(*) AS BIGINT) AS exact_rows,
      |  1 AS orders_within_3rsd, 1 AS parts_within_3rsd
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q24
  // TypedImperativeAggregate sketch surface: t-digest-style approximate
  // quantiles (graft.functions.expressions.QuantileDigest), audited
  // in-query against the exact percentiles (round-5 VERDICT item 1b):
  // output is the exact R-7 values (oracle-recomputable, q33's parity)
  // plus within-bound flags for the digest estimates. Measured rel err
  // ≤ 2e-4 at sf0.01-0.1; the 0.005 bound is ~25× that while still
  // catching any real digest regression.
  private def q24(s: SparkSession, dir: String): DataFrame = {
    val bound = 0.005
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        graft.functions.expressions.QuantileDigest
          .quantiles(col("l_extendedprice"), Seq(0.5, 0.95, 0.99))
          .as("apx"),
        expr("percentile(l_extendedprice, array(0.5D, 0.95D, 0.99D))").as("ps"),
        count(lit(1)).as("exact_rows"))
      .select(col("l_returnflag"),
        round(element_at(col("ps"), 1), 4).as("exact_q50"),
        round(element_at(col("ps"), 2), 4).as("exact_q95"),
        round(element_at(col("ps"), 3), 4).as("exact_q99"),
        col("exact_rows"),
        (abs(element_at(col("apx"), 1) - element_at(col("ps"), 1)) <=
          element_at(col("ps"), 1) * bound).cast("int").as("q50_within_bound"),
        (abs(element_at(col("apx"), 2) - element_at(col("ps"), 2)) <=
          element_at(col("ps"), 2) * bound).cast("int").as("q95_within_bound"),
        (abs(element_at(col("apx"), 3) - element_at(col("ps"), 3)) <=
          element_at(col("ps"), 3) * bound).cast("int").as("q99_within_bound"))
      .orderBy("l_returnflag")
  }

  private val q24Sql =
    """SELECT l_returnflag,
      |  round(qs[1], 4) AS exact_q50, round(qs[2], 4) AS exact_q95,
      |  round(qs[3], 4) AS exact_q99, n_rows AS exact_rows,
      |  1 AS q50_within_bound, 1 AS q95_within_bound, 1 AS q99_within_bound
      |FROM (
      |  SELECT l_returnflag,
      |    quantile_cont(l_extendedprice, [0.5, 0.95, 0.99]) AS qs,
      |    CAST(count(*) AS BIGINT) AS n_rows
      |  FROM lineitem GROUP BY l_returnflag)
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q25
  // Range (point-in-interval) join via operators.RangeJoin: lineitem
  // shipments aggregated into overlapping "promo windows" derived from
  // a sample of orders. The raw BETWEEN join Spark would plan as a
  // broadcast nested loop (O(points x intervals)); the operator's
  // bucketed rewrite keeps it an equi-join on a domain bucket — the
  // shape that survives 100 TB (see RangeJoin scaladoc). The DuckDB
  // oracle states the same semantics as the naive BETWEEN join.
  private def q25(s: SparkSession, dir: String): DataFrame = {
    val day0 = to_date(lit("1970-01-01"))
    val intervals = t(s, dir, "orders")
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey").as("interval_id"),
        datediff(to_date(col("o_orderdate")), day0).cast("long").as("start_d"))
      .withColumn("end_d", col("start_d") + col("interval_id") % 14 + 1)
    val points = t(s, dir, "lineitem")
      .select(datediff(to_date(col("l_shipdate")), day0).cast("long").as("ship_d"),
        col("l_extendedprice"))
    // AGGREGATE PUSHDOWN below the range join — the actual 100 TB
    // lever for this query: the per-interval aggregates depend on the
    // point row only through ship_d, so points pre-aggregate per DAY
    // (≤ domain-many groups — ~2400 here — INDEPENDENT of row count)
    // and the join matches day-aggregates to intervals: join
    // cardinality drops from true-pairs (P·I·s̄/D — grows ∝ P·I, the
    // measured sf1 wall: both sides 10× into a fixed date domain ⇒
    // ~100× pairs) to I·(s̄/w+1) bucket rows ≈ 150k at sf1. Exactness:
    // the count is a sum of day counts, and gridSum's partial is a
    // LONG cent-grid sum — associative, so sum-of-day-sums is
    // bit-identical to the flat sum (the round-6 exact-grid design).
    // Width auto-derived from span stats (RangeJoin.autoBucketWidth;
    // results are width-invariant so the oracle is unaffected).
    val byDay = points.groupBy("ship_d").agg(
      count(lit(1)).as("_n_day"),
      sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("_cents_day"))
    graft.operators.RangeJoin
      .pointInInterval(byDay, "ship_d", intervals, "start_d", "end_d")
      .groupBy("interval_id")
      .agg(sum(col("_n_day")).as("n_ship"),
        round(sum(col("_cents_day")).cast("double") / 100, 2).as("rev"))
      .orderBy("interval_id")
  }

  private val q25Sql =
    s"""WITH iv AS (
      |  SELECT o_orderkey AS interval_id,
      |         CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS start_d,
      |         CAST(o_orderdate AS DATE) - DATE '1970-01-01'
      |           + o_orderkey % 14 + 1 AS end_d
      |  FROM orders WHERE o_orderkey % 97 = 0)
      |SELECT interval_id, count(*) AS n_ship,
      |       ${gridSumSql("l_extendedprice", 100L)} AS rev
      |FROM iv JOIN lineitem
      |  ON (CAST(l_shipdate AS DATE) - DATE '1970-01-01')
      |     BETWEEN start_d AND end_d
      |GROUP BY interval_id ORDER BY interval_id""".stripMargin

  // ---------------------------------------------------------------- q26
  // Z-order (Morton) clustering key as a column expression
  // (functions.ZOrder — the same expression SnapshotCatalog.compact
  // sorts by for multi-dimension file pruning, ZOrderSpec). The oracle
  // re-states the bit interleave as an independently generated DuckDB
  // shift/mask formula, so the codegen'd expression is hash-checked
  // bit-for-bit.
  private def q26(s: SparkSession, dir: String): DataFrame = {
    val x = pmod(col("l_orderkey"), lit(4096L))
    val y = pmod(col("l_partkey"), lit(4096L))
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 31 === 0)
      .select(col("l_orderkey"), col("l_partkey"),
        graft.functions.ZOrder.interleave(Seq(x, y), 12).as("zval"))
      .orderBy("zval", "l_orderkey", "l_partkey")
  }

  private val q26Sql = {
    val terms = (for {
      (c, j) <- Seq("l_orderkey", "l_partkey").zipWithIndex
      b <- 0 until 12
    } yield s"((($c % 4096) >> $b) & 1) * ${1L << (b * 2 + j)}")
      .mkString(" + ")
    "SELECT l_orderkey, l_partkey, CAST(" + terms + " AS BIGINT) AS zval " +
      "FROM lineitem WHERE l_orderkey % 31 = 0 " +
      "ORDER BY zval, l_orderkey, l_partkey"
  }

  // ---------------------------------------------------------------- q22
  // Pivot: event counts per user × event type. The oracle states the
  // same contract as ANSI conditional aggregation.
  private def q22(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")

  private val q22Sql =
    """SELECT user_id,
      |  count(*) FILTER (event_type = 'click') AS click,
      |  count(*) FILTER (event_type = 'view') AS view,
      |  count(*) FILTER (event_type = 'purchase') AS purchase,
      |  count(*) FILTER (event_type = 'signup') AS signup,
      |  count(*) FILTER (event_type = 'error') AS error
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q23
  // Collection functions: grouped array building (sorted for
  // determinism), rendered to strings so the comparison format is
  // engine-neutral; plus array stats over the aggregated values.
  private def q23(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(
        array_join(array_sort(collect_set(col("event_type"))), ",").as("types"),
        size(collect_list(col("event_id"))).cast("long").as("n_ids"),
        // higher-order fold kept (the point of the query), but over
        // exact integer cents: a double fold's result depends on
        // collect_list's nondeterministic order
        round(aggregate(
            collect_list(round(col("value") * 100, 0).cast("long")),
            lit(0L), (a, v) => a + v).cast("double") / 100, 2)
          .as("value_sum"))
      .orderBy("user_id")

  private val q23Sql =
    s"""SELECT user_id,
      |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
      |  count(event_id) AS n_ids,
      |  ${gridSumSql("value", 100L)} AS value_sum
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q27
  // Statistical aggregates: correlation, sample covariance/stddev/
  // variance — all single-pass co-moment aggregates with map-side
  // partials (Spark's CentralMomentAgg family), so they scale exactly
  // like sum/count. Rounded to 4 in both engines (FP-order epsilon).
  private def q27(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_corr"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_covar"),
        round(stddev_samp(col("l_discount")), 4).as("disc_stddev"),
        round(var_samp(col("l_tax")), 4).as("tax_var"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  private val q27Sql =
    """SELECT l_returnflag,
      |  round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
      |  round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
      |  round(stddev_samp(l_discount), 4) AS disc_stddev,
      |  round(var_samp(l_tax), 4) AS tax_var,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q28
  // Unpivot (wide → long), the inverse of q22's pivot: numeric order
  // measures melt into (measure, val) rows via Dataset.unpivot —
  // per-row expansion, no shuffle at all until the final sort. The
  // oracle states the same contract as a UNION ALL of per-measure
  // projections.
  private def q28(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderkey") % 101 === 0)
      .select(col("o_orderkey"),
        col("o_totalprice").cast("double").as("totalprice"),
        col("o_custkey").cast("double").as("custkey"))
      .unpivot(
        Array(col("o_orderkey")),
        Array(col("totalprice"), col("custkey")),
        "measure", "val")
      .select(col("o_orderkey"), col("measure"),
        round(col("val"), 2).as("val"))
      .orderBy("o_orderkey", "measure")

  private val q28Sql =
    """SELECT o_orderkey, measure, round(val, 2) AS val FROM (
      |  SELECT o_orderkey, 'totalprice' AS measure,
      |         CAST(o_totalprice AS DOUBLE) AS val FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 'custkey', CAST(o_custkey AS DOUBLE) FROM orders)
      |WHERE o_orderkey % 101 = 0
      |ORDER BY o_orderkey, measure""".stripMargin

  // ---------------------------------------------------------------- q29
  // Forward as-of join with tolerance (pandas merge_asof surface): for
  // each purchase, the NEXT click by the same user within one hour.
  // Same single-shuffle union+window plan as q20, scanned descending.
  private def q29(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.AsOfJoin
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_millis(col("ts")).as("pm"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_millis(col("ts")).as("cm"))
    AsOfJoin.asOf(purchases, clicks, keys = Seq("user_id"),
        leftTs = "pm", rightTs = "cm", rightValue = "cm",
        valueAs = "next_click_ms", direction = "forward",
        tolerance = Some(3600000L))
      .select("event_id", "user_id", "next_click_ms")
      .orderBy("event_id")
  }

  private val q29Sql =
    """SELECT p.event_id, p.user_id, min(epoch_ms(c.ts)) AS next_click_ms
      |FROM events p
      |LEFT JOIN events c
      |  ON c.user_id = p.user_id AND c.event_type = 'click'
      | AND c.ts >= p.ts AND epoch_ms(c.ts) - epoch_ms(p.ts) <= 3600000
      |WHERE p.event_type = 'purchase'
      |GROUP BY p.event_id, p.user_id
      |ORDER BY p.event_id""".stripMargin

  // ---------------------------------------------------------------- q30
  // Per-group top-k through the custom physical operator
  // (plans.GroupedTopK): top-2 line items by price per supplier,
  // planned as partial-heap → exchange → final-heap — the shuffle
  // moves ≤ k rows per (group × input partition), never the fact
  // table, and no per-group sort materializes (contrast the window
  // formulation the oracle uses, which sorts every group).
  private def q30(s: SparkSession, dir: String): DataFrame =
    graft.plans.GroupedTopK(
        t(s, dir, "lineitem")
          .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice"),
        group = Seq("l_suppkey"),
        order = Seq(("l_extendedprice", false), ("l_orderkey", true),
          ("l_linenumber", true)),
        k = 2)
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")

  private val q30Sql =
    """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice FROM (
      |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
      |         row_number() OVER (PARTITION BY l_suppkey
      |           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
      |  FROM lineitem)
      |WHERE rn <= 2
      |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q31
  // Native session windows: the same 30-minute-gap sessionization as
  // q14 but through Spark's built-in `session_window` (dynamic gap
  // merging inside the aggregation — the operator that also runs
  // unchanged in Structured Streaming), emitting one row per session
  // with its bounds. Boundary note: session_window closes at
  // last_event + gap EXCLUSIVE (a gap of exactly 30:00 starts a new
  // session), so the oracle's island flag uses >=, not >.
  private def q31(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("sw.start")).as("session_start_ms"),
        unix_millis(col("sw.end")).as("session_end_ms"),
        col("n_events"))
      .orderBy("user_id", "session_start_ms")

  private val q31Sql =
    """WITH x AS (
      |  SELECT user_id, epoch_ms(ts) AS ms,
      |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
      |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w >= 1800000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, ms,
      |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms
      |                        ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM x)
      |SELECT user_id, min(ms) AS session_start_ms,
      |       max(ms) + 1800000 AS session_end_ms, count(*) AS n_events
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start_ms""".stripMargin

  // NOTE: vals referenced from `specs` must be declared ABOVE it
  // (object init order) — q32's live before the registration list.
  // ---------------------------------------------------------------- q32
  // ANALYZE-style column profiling: per-column row/null/distinct
  // counts and numeric bounds/mean over lineitem — the statistics pass
  // a warehouse runs before planning (and a pipeline runs before
  // training). Exact count(distinct) per column costs one pass each
  // here for oracle exactness; the 100 TB form swaps in
  // approx_count_distinct (q21's HLL surface) for a single-pass
  // profile. Mean FP parity: double-sum error at sf0.1 is ~1e-7 of the
  // rounded 4dp granularity — same argument as t09/t27.
  private val q32Cols =
    Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")

  private def q32(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    q32Cols.map { c =>
      li.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"),
        round(min(col(c)).cast("double"), 4).as("min_v"),
        round(max(col(c)).cast("double"), 4).as("max_v"),
        round(avg(col(c)), 4).as("mean_v"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_v"), col("max_v"), col("mean_v"))
    }.reduce(_.unionAll(_)).orderBy("col_name")
  }

  private val q32Sql = q32Cols.map { c =>
    s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
       |  round(CAST(min($c) AS DOUBLE), 4) AS min_v,
       |  round(CAST(max($c) AS DOUBLE), 4) AS max_v,
       |  round(avg($c), 4) AS mean_v
       |FROM lineitem""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // ---------------------------------------------------------------- q33
  // Exact interpolated percentiles (R-7 / linear, the definition both
  // engines implement: Spark `percentile`, DuckDB `quantile_cont`) per
  // group — the exact counterpart of q24's t-digest sketch. Exact
  // percentile is a full-sort-per-group at scale; q24 is the 100 TB
  // path, this is its correctness anchor.
  private def q33(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.95D))")
          .as("ps"),
        count(lit(1)).as("n_rows"))
      .select(col("l_returnflag"),
        round(element_at(col("ps"), 1), 4).as("p25"),
        round(element_at(col("ps"), 2), 4).as("p50"),
        round(element_at(col("ps"), 3), 4).as("p75"),
        round(element_at(col("ps"), 4), 4).as("p95"),
        col("n_rows"))
      .orderBy("l_returnflag")

  private val q33Sql =
    """SELECT l_returnflag,
      |  round(qs[1], 4) AS p25, round(qs[2], 4) AS p50,
      |  round(qs[3], 4) AS p75, round(qs[4], 4) AS p95,
      |  n_rows
      |FROM (
      |  SELECT l_returnflag,
      |    quantile_cont(l_extendedprice, [0.25, 0.5, 0.75, 0.95]) AS qs,
      |    CAST(count(*) AS BIGINT) AS n_rows
      |  FROM lineitem GROUP BY l_returnflag)
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q34
  // Window FRAME clauses (the taxonomy row q04/q12/q14 don't touch):
  // running total (UNBOUNDED PRECEDING..CURRENT ROW), centered 3-row
  // moving average, and lead — one (customer, date) window, one
  // shuffle. Frame sums run over integer CENTS: double frame sums are
  // association-order-dependent (DuckDB evaluates window frames with a
  // segment tree; Spark per-frame) and a first cut with round(sum,2)
  // hash-mismatched on cent boundaries — integer money arithmetic is
  // exact in both engines, so the oracle matches bit-for-bit.
  private def q34(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    t(s, dir, "orders")
      .withColumn("_cents", cents)
      .select(
        col("o_custkey"), col("o_orderkey"),
        sum("_cents")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("running_cents"),
        round(avg("_cents").over(w.rowsBetween(-1, 1)) / 100.0, 4)
          .as("moving_avg3"),
        coalesce(lead(col("_cents"), 1).over(w), lit(-1L)).as("next_cents"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private val q34Sql =
    """WITH c AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      |  FROM orders)
      |SELECT o_custkey, o_orderkey,
      |  CAST(sum(cents) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
      |                          AND CURRENT ROW) AS BIGINT) AS running_cents,
      |  round(avg(cents) OVER (w ROWS BETWEEN 1 PRECEDING
      |                           AND 1 FOLLOWING) / 100.0, 4) AS moving_avg3,
      |  coalesce(lead(cents) OVER w, -1) AS next_cents
      |FROM c
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q35
  // MERGEABLE distinct-count sketches (Apache DataSketches HLL via
  // hll_sketch_agg/hll_union_agg): per-month customer sketches rolled
  // up to a TOTAL row by unioning the 12-ish tiny sketches — NOT by
  // rescanning orders. This is the 100 TB pre-aggregation pattern
  // q21's approx_count_distinct can't express: its HLL++ buffer is
  // query-internal, while a DataSketches sketch is a first-class value
  // that can be stored per partition/day and merged at query time
  // (union-of-parts == sketch-of-whole, asserted in OperatorSpec).
  // The exact countDistinct columns ride along as the self-audit; the
  // one full-table exact distinct is the cost the sketch path avoids.
  // Estimates are engine-specific, so the output is the error audit
  // (exact value + within-bound flag per row — round-5 VERDICT item
  // 1b); the TOTAL row's flag checks the union-of-parts estimate.
  // Measured rel err ≤ 0.036 at sf0.01-0.1 (lgK 12, rsd ≈ 1.6%);
  // bound 0.10.
  private def q35(s: SparkSession, dir: String): DataFrame = {
    val bound = 0.10
    val o = t(s, dir, "orders")
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("period"),
        col("o_custkey"))
    val monthly = o.groupBy("period")
      .agg(hll_sketch_agg(col("o_custkey"), 12).as("sk"),
        countDistinct(col("o_custkey")).as("exact_customers"))
      .persist()
    val total = monthly
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), allowDifferentLgConfigK = false))
        .as("_apx"))
      .crossJoin(o.agg(countDistinct(col("o_custkey")).as("exact_customers")))
      .select(lit("TOTAL").as("period"), col("exact_customers"),
        (abs(col("_apx") - col("exact_customers")) <=
          col("exact_customers") * bound).cast("int").as("within_bound"))
    monthly
      .select(col("period"), col("exact_customers"),
        (abs(hll_sketch_estimate(col("sk")) - col("exact_customers")) <=
          col("exact_customers") * bound).cast("int").as("within_bound"))
      .unionByName(total)
      .orderBy("period")
  }

  private val q35Sql =
    """SELECT period, exact_customers, 1 AS within_bound FROM (
      |  SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS period,
      |         count(DISTINCT o_custkey) AS exact_customers
      |  FROM orders GROUP BY 1
      |  UNION ALL
      |  SELECT 'TOTAL', count(DISTINCT o_custkey) FROM orders)
      |ORDER BY period""".stripMargin

  // ---------------------------------------------------------------- q36
  // KMV/theta sketch month-over-month customer retention: per-month
  // bottom-k sketches of o_custkey, then INTERSECTION and Jaccard
  // estimates between consecutive months — the set operation HLL
  // sketches (q35) cannot do. Sketches are k×8-byte arrays combined
  // with pure array functions (no rescan of orders for any pairwise
  // overlap); the exact per-pair intersection rides along as the
  // self-audit, computed once from the distinct (month, custkey)
  // pairs. Estimates are hash-specific, so the output is the error
  // audit (round-5 VERDICT item 1b): exact values + within-bound flags
  // the KMV estimates must satisfy. Bounds (k=256, 1/√k ≈ 6.3%):
  // cust rel 0.25 (measured max 0.152); intersection/Jaccard errors
  // scale with the UNION size over √k, so their bounds are
  // 0.15·union / 0.15 absolute (measured max 0.037·union / 0.037).
  // The estimator contracts themselves are pinned in OperatorSpec.
  private def q36(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.expressions.Kmv
    val nextOf = date_format(
      add_months(to_date(concat(col("month"), lit("-01"))), 1), "yyyy-MM")
    val o = t(s, dir, "orders")
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_custkey"))
    val sk = o.groupBy("month")
      .agg(Kmv.sketch(col("o_custkey")).as("sk"),
        countDistinct(col("o_custkey")).as("exact_cust"))
      .persist()
    val nxt = sk.select(col("month").as("nm"), col("sk").as("sk2"),
      col("exact_cust").as("_cust2"))
    val d = o.distinct()
    val exactCommon = d.withColumn("nm", nextOf)
      .join(d.select(col("month").as("nm"), col("o_custkey")),
        Seq("nm", "o_custkey"))
      .groupBy("month").agg(count(lit(1)).as("exact_common"))
    sk
      .withColumn("nm", nextOf)
      .join(nxt, Seq("nm"))
      .join(exactCommon, Seq("month"), "left")
      .withColumn("exact_common", coalesce(col("exact_common"), lit(0L)))
      .withColumn("_union", col("exact_cust") + col("_cust2") - col("exact_common"))
      .select(col("month"), col("nm").as("next_month"),
        col("exact_cust"), col("exact_common"),
        (abs(Kmv.estimate(col("sk")) - col("exact_cust")) <=
          col("exact_cust") * 0.25).cast("int").as("cust_within_bound"),
        (abs(Kmv.intersectEstimate(col("sk"), col("sk2")) - col("exact_common")) <=
          col("_union") * 0.15).cast("int").as("common_within_bound"),
        (abs(Kmv.jaccardEstimate(col("sk"), col("sk2")) -
          col("exact_common") / col("_union")) <= 0.15)
          .cast("int").as("jaccard_within_bound"))
      .orderBy("month")
  }

  private val q36Sql =
    """WITH o AS (
      |  SELECT DISTINCT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS month,
      |         o_custkey
      |  FROM orders),
      |c AS (SELECT month, count(*) AS exact_cust FROM o GROUP BY 1),
      |com AS (
      |  SELECT a.month, count(*) AS exact_common
      |  FROM o a JOIN o b
      |    ON b.month = strftime((a.month || '-01')::DATE + INTERVAL 1 MONTH,
      |                          '%Y-%m')
      |   AND a.o_custkey = b.o_custkey
      |  GROUP BY 1)
      |SELECT c1.month,
      |  strftime((c1.month || '-01')::DATE + INTERVAL 1 MONTH, '%Y-%m')
      |    AS next_month,
      |  c1.exact_cust, coalesce(com.exact_common, 0) AS exact_common,
      |  1 AS cust_within_bound, 1 AS common_within_bound,
      |  1 AS jaccard_within_bound
      |FROM c c1
      |JOIN c c2 ON c2.month = strftime((c1.month || '-01')::DATE
      |                                 + INTERVAL 1 MONTH, '%Y-%m')
      |LEFT JOIN com ON com.month = c1.month
      |ORDER BY c1.month""".stripMargin

  // ---------------------------------------------------------------- q37
  // Ordered-sequence funnel (view → click → purchase) per user: each
  // stage counts only events at-or-after the user's first qualifying
  // previous-stage event AND within 24 h of it (150 → 60 → 25 users
  // at sf0.01 — the bound is what makes the funnel discriminate).
  // All stages are CUMULATIVE-MIN window expressions over ONE
  // (user_id, ts, event_id) window — a single shuffle + single sort
  // no matter how many stages, vs the naive 3-way self-join (three
  // shuffles and a fan-out on hot users). The per-user frame then
  // collapses to per-stage reach counts.
  private def q37(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // three chained projections over the SAME window spec: Catalyst
    // stacks the Window operators on one Exchange + one Sort (windows
    // can't nest, but they can pipeline)
    val base = t(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), unix_millis(col("ts")).as("ms"))
    val s1 = base.withColumn("v",
      min(when(col("event_type") === "view", col("ms"))).over(w))
    val dayMs = 86400000L
    val s2 = s1.withColumn("c",
      min(when(col("event_type") === "click" && col("v") <= col("ms") &&
        col("ms") - col("v") <= dayMs, col("ms"))).over(w))
    val s3 = s2.withColumn("p",
      when(col("event_type") === "purchase" && col("c") <= col("ms") &&
        col("ms") - col("c") <= dayMs, col("ms")))
    val perUser = s3
      .groupBy("user_id")
      .agg(max(when(col("v").isNotNull, 1).otherwise(0)).as("r1"),
        max(when(col("c").isNotNull, 1).otherwise(0)).as("r2"),
        max(when(col("p").isNotNull, 1).otherwise(0)).as("r3"))
    perUser.agg(
        sum(col("r1")).cast("long").as("view_users"),
        sum(col("r2")).cast("long").as("click_users"),
        sum(col("r3")).cast("long").as("purchase_users"))
      .select(explode(array(
        struct(lit(1).as("stage_ord"), lit("view").as("stage"),
          col("view_users").as("users"),
          round(lit(100.0), 2).as("pct_of_top")),
        struct(lit(2).as("stage_ord"), lit("click").as("stage"),
          col("click_users").as("users"),
          round(col("click_users") * 100.0 / col("view_users"), 2)
            .as("pct_of_top")),
        struct(lit(3).as("stage_ord"), lit("purchase").as("stage"),
          col("purchase_users").as("users"),
          round(col("purchase_users") * 100.0 / col("view_users"), 2)
            .as("pct_of_top")))).as("f"))
      .select(col("f.stage_ord").as("stage_ord"), col("f.stage").as("stage"),
        col("f.users").as("users"), col("f.pct_of_top").as("pct_of_top"))
      .orderBy("stage_ord")
  }

  private val q37Sql =
    """WITH s1 AS (
      |  SELECT user_id, event_id, ts, event_type, epoch_ms(ts) AS ms,
      |    min(CASE WHEN event_type = 'view' THEN epoch_ms(ts) END)
      |      OVER w AS v
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |s2 AS (
      |  SELECT user_id, event_id, ts, event_type, ms, v,
      |    min(CASE WHEN event_type = 'click' AND v <= ms
      |              AND ms - v <= 86400000 THEN ms END)
      |      OVER w AS c
      |  FROM s1
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |s3 AS (
      |  SELECT user_id, v, c,
      |    CASE WHEN event_type = 'purchase' AND c <= ms
      |          AND ms - c <= 86400000 THEN ms END AS p
      |  FROM s2),
      |per_user AS (
      |  SELECT user_id,
      |    max(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS r1,
      |    max(CASE WHEN c IS NOT NULL THEN 1 ELSE 0 END) AS r2,
      |    max(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS r3
      |  FROM s3 GROUP BY user_id),
      |tot AS (
      |  SELECT CAST(sum(r1) AS BIGINT) AS view_users,
      |         CAST(sum(r2) AS BIGINT) AS click_users,
      |         CAST(sum(r3) AS BIGINT) AS purchase_users
      |  FROM per_user)
      |SELECT 1 AS stage_ord, 'view' AS stage, view_users AS users,
      |       round(100.0, 2) AS pct_of_top FROM tot
      |UNION ALL
      |SELECT 2, 'click', click_users,
      |       round(click_users * 100.0 / view_users, 2) FROM tot
      |UNION ALL
      |SELECT 3, 'purchase', purchase_users,
      |       round(purchase_users * 100.0 / view_users, 2) FROM tot
      |ORDER BY stage_ord""".stripMargin

  // ---------------------------------------------------------------- q38
  // TIME-RANGE window frames (the interval sibling of q34's ROWS
  // frames): per user, trailing-1-hour event count and trailing-24-hour
  // value sum at every event, via rangeBetween over the epoch-ms
  // ordering. RANGE frames are tie-inclusive, so the result is
  // ordering-independent under same-ms events (ROWS would not be);
  // sums run in integer cents (q34's lesson: double frame sums are
  // association-order-dependent across engines). One shuffle on
  // user_id for both frames.
  private def q38(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byMs = Window.partitionBy("user_id").orderBy("ms")
    val hour = byMs.rangeBetween(-3600000L, 0L)
    val day = byMs.rangeBetween(-86400000L, 0L)
    t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"),
        round(col("value") * 100, 0).cast("long").as("_cents"))
      .select(col("user_id"), col("event_id"),
        count(lit(1)).over(hour).as("events_1h"),
        sum("_cents").over(day).as("cents_24h"))
      .orderBy("user_id", "event_id")
  }

  private val q38Sql =
    """WITH c AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ms,
      |    CAST(round(value * 100, 0) AS BIGINT) AS cents
      |  FROM events)
      |SELECT user_id, event_id,
      |  count(*) OVER (PARTITION BY user_id ORDER BY ms
      |                 RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
      |    AS events_1h,
      |  CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ms
      |                        RANGE BETWEEN 86400000 PRECEDING
      |                        AND CURRENT ROW) AS BIGINT) AS cents_24h
      |FROM c
      |ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q39
  // Spark 4 VARIANT path for semi-structured data: parse_json ONCE
  // into the binary-encoded variant, then typed variant_get
  // extractions + schema_of_variant introspection. vs q17's
  // get_json_object (which re-parses the JSON string per extraction),
  // the variant form parses each props value once no matter how many
  // fields are pulled — the 100 TB difference for wide telemetry.
  // The extraction itself is oracle-checked against DuckDB's JSON
  // operators; the discovered schema string is pinned.
  private def q39(s: SparkSession, dir: String): DataFrame = {
    val v = parse_json(col("props"))
    t(s, dir, "events")
      .select(col("event_type"),
        variant_get(v, "$.k", "bigint").as("k"),
        schema_of_variant(v).as("props_schema"))
      .groupBy("event_type", "props_schema")
      .agg(count(lit(1)).as("n"), round(avg("k"), 4).as("avg_k"),
        sum("k").as("sum_k"), max("k").as("max_k"))
      .orderBy("event_type")
  }

  private val q39Sql =
    """SELECT event_type, 'OBJECT<k: BIGINT>' AS props_schema,
      |  count(*) AS n,
      |  round(avg(CAST(props ->> 'k' AS BIGINT)), 4) AS avg_k,
      |  CAST(sum(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(max(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS max_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q40
  // Time-series gap fill / resampling: per-user daily purchase totals
  // on a DENSE calendar grid (sequence-explode over each user's
  // active span), missing days filled by last-observation-carried-
  // forward (`last(_, ignoreNulls)` over the per-user cumulative
  // frame). The grid explode is ∝ span-days per user (bounded fan-out
  // like t21), the fill is one shuffle on user_id; no driver-side
  // calendars. Integer cents (q34's lesson).
  private def q40(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"))
    val grid = daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day")))
          .as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        last(col("cents"), ignoreNulls = true).over(w).as("cents"),
        col("cents").isNotNull.cast("int").as("observed"))
      .orderBy("user_id", "day")
  }

  private val q40Sql =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day,
      |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
      |      AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |grid AS (
      |  SELECT user_id,
      |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
      |      AS day
      |  FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
      |        FROM daily GROUP BY 1)),
      |j AS (
      |  SELECT g.user_id, g.day, d.cents
      |  FROM grid g LEFT JOIN daily d
      |    ON g.user_id = d.user_id AND g.day = d.day)
      |SELECT user_id, day,
      |  CAST(last_value(cents IGNORE NULLS)
      |       OVER (PARTITION BY user_id ORDER BY day
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |       AS BIGINT) AS cents,
      |  CAST(cents IS NOT NULL AS INT) AS observed
      |FROM j ORDER BY user_id, day""".stripMargin

  // ---------------------------------------------------------------- q41
  // Map scalar/higher-order functions (the map third of §2.5's
  // "array/map/json" row, untouched by q17/q23): per-user
  // event_type→count maps built with map_from_entries, probed with
  // element_at, filtered with map_filter, normalized with
  // transform_values. The DuckDB oracle states the same RESULTS as
  // conditional aggregation — the map surface is Spark-side, the
  // values are engine-neutral.
  private def q41(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    c.groupBy("user_id")
      .agg(
        map_from_entries(array_sort(collect_list(struct(col("event_type"),
          col("c"))))).as("m"),
        sum(col("c")).as("total"))
      .select(col("user_id"),
        size(col("m")).cast("long").as("n_types"),
        coalesce(element_at(col("m"), "click"), lit(0L)).as("clicks"),
        size(map_filter(col("m"), (_, v) => v >= 15)).cast("long")
          .as("hot_types"),
        round(coalesce(
          element_at(transform_values(col("m"),
            (_, v) => v * 1.0 / col("total")), "click"), lit(0.0)), 4)
          .as("click_share"))
      .orderBy("user_id")
  }

  private val q41Sql =
    """WITH c AS (
      |  SELECT user_id, event_type, count(*) AS c
      |  FROM events GROUP BY 1, 2)
      |SELECT user_id,
      |  CAST(count(*) AS BIGINT) AS n_types,
      |  CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN c END), 0)
      |       AS BIGINT) AS clicks,
      |  CAST(sum(CASE WHEN c >= 15 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS hot_types,
      |  round(coalesce(sum(CASE WHEN event_type = 'click' THEN c END), 0)
      |        * 1.0 / sum(c), 4) AS click_share
      |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q42
  // Explicit GROUPING SETS with grouping_id (q07/q18 cover rollup and
  // cube, which are fixed set-shapes; this is the arbitrary-set form
  // with the bitmask disambiguating which NULLs are grouping NULLs).
  // Integer-cents money sums, as everywhere.
  private def q42(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_q42_orders")
    s.sql("""
      SELECT o_orderpriority, o_orderstatus,
        CAST(grouping_id(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
        count(*) AS n,
        CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
          AS cents
      FROM graft_q42_orders
      GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
        (o_orderpriority), (o_orderstatus), ())
      ORDER BY gid, o_orderpriority, o_orderstatus""")
  }

  private val q42Sql =
    """SELECT o_orderpriority, o_orderstatus,
      |  CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
      |  count(*) AS n,
      |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS cents
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
      |  (o_orderpriority), (o_orderstatus), ())
      |ORDER BY gid, o_orderpriority, o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q49
  // Incremental materialized-view maintenance over the snapshot
  // catalog: the MV (per-custkey-bucket order counts + cent totals) is
  // built ONCE from snapshot 1's full scan, then REFRESHED from
  // `readIncremental(s1 → s2)` — only the second append's files — and
  // merged additively (counts and integer cent sums are the additive
  // aggregates Skew.saltedAgg documents). At 100 TB this is the
  // difference between re-aggregating the table per refresh and
  // touching only the delta; the in-body require pins that the
  // incremental frame really is the delta (row count == batch 2, not
  // the full table). The oracle recomputes the MV directly over both
  // subsets — equal by additivity.
  private def q49(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft_mv_wh").toString
    val cat = new graft.catalog.SnapshotCatalog(s, wh)
    val o = t(s, dir, "orders").select(
      (col("o_custkey") % 100).as("bucket"),
      col("o_orderkey"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val v1 = o.filter(col("o_orderkey") % 10 === 0).coalesce(1)
    val v2 = o.filter(col("o_orderkey") % 10 === 5).coalesce(1)
    cat.createTable("mv", "orders_src", v1.schema)
    val s1 = cat.append("mv", "orders_src", v1).currentSnapshotId.get
    cat.append("mv", "orders_src", v2)

    def agg(df: DataFrame): DataFrame = df.groupBy("bucket")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("total_cents"))

    val mv1 = agg(cat.read("mv", "orders_src", snapshotId = Some(s1)))
    val delta = cat.readIncremental("mv", "orders_src", fromSnapshotId = s1)
    val deltaRows = delta.count()
    val v2Rows = v2.count()
    require(deltaRows == v2Rows,
      s"incremental refresh read $deltaRows rows, want only batch 2's $v2Rows")
    // merge = additive union of partials; one |buckets|-bounded shuffle
    mv1.unionByName(agg(delta))
      .groupBy("bucket")
      .agg(sum("n_orders").as("n_orders"),
        sum("total_cents").as("total_cents"))
      .orderBy("bucket")
  }

  private val q49Sql =
    """SELECT o_custkey % 100 AS bucket, count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS total_cents
      |FROM orders WHERE o_orderkey % 10 IN (0, 5)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------ q43/q44
  // Time travel + metadata tables under the driver's oracle (round-5
  // VERDICT item 2). Both build a REAL two-snapshot catalog table from
  // deterministic `orders` subsets in a fresh temp warehouse, then
  // query it through the Engine's SQL surface — `VERSION AS OF`
  // resolution, manifest-backed scans, and the `.snapshots` metadata
  // relation are exactly the serving path HttpApi exposes. Every
  // output column is restatable by DuckDB over the base parquet
  // (snapshot ids are deterministic: the catalog numbers them 1, 2).
  private def ttCatalog(s: SparkSession,
      dir: String): (graft.query.Engine, Long, Long) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_tt_wh").toString
    val cat = new graft.catalog.SnapshotCatalog(s, wh)
    val o = t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    val v1 = o.filter(col("o_orderkey") % 10 === 0).coalesce(1)
    val v2 = o.filter(col("o_orderkey") % 10 === 5).coalesce(1)
    cat.createTable("tt", "orders_tt", v1.schema)
    val s1 = cat.append("tt", "orders_tt", v1).currentSnapshotId.get
    val s2 = cat.append("tt", "orders_tt", v2).currentSnapshotId.get
    (new graft.query.Engine(s, cat), s1, s2)
  }

  private def q43(s: SparkSession, dir: String): DataFrame = {
    val (eng, s1, s2) = ttCatalog(s, dir)
    def at(label: String, snap: Long): DataFrame = eng.sqlDataFrame(
      s"""SELECT '$label' AS version, count(*) AS n_rows,
         |  count(DISTINCT o_custkey) AS n_cust,
         |  sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS total_cents
         |FROM tt.orders_tt VERSION AS OF $snap""".stripMargin)._1
    at("v1", s1).unionByName(at("v2", s2)).orderBy("version")
  }

  private val q43Sql =
    """SELECT * FROM (
      |  SELECT 'v1' AS version, CAST(count(*) AS BIGINT) AS n_rows,
      |    count(DISTINCT o_custkey) AS n_cust,
      |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |      AS total_cents
      |  FROM orders WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT 'v2', CAST(count(*) AS BIGINT), count(DISTINCT o_custkey),
      |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |  FROM orders WHERE o_orderkey % 10 IN (0, 5))
      |ORDER BY version""".stripMargin

  private def q44(s: SparkSession, dir: String): DataFrame = {
    val (eng, _, _) = ttCatalog(s, dir)
    eng.sqlDataFrame(
      """SELECT snapshot_id, coalesce(parent_id, -1) AS parent_id,
        |  n_files, added_rows
        |FROM tt.orders_tt.snapshots ORDER BY snapshot_id""".stripMargin)._1
  }

  private val q44Sql =
    """SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS snapshot_id, CAST(-1 AS BIGINT) AS parent_id,
      |    CAST(1 AS BIGINT) AS n_files,
      |    (SELECT CAST(count(*) AS BIGINT) FROM orders
      |     WHERE o_orderkey % 10 = 0) AS added_rows
      |  UNION ALL
      |  SELECT 2, 1, 2,
      |    (SELECT CAST(count(*) AS BIGINT) FROM orders
      |     WHERE o_orderkey % 10 = 5))
      |ORDER BY snapshot_id""".stripMargin

  // ---------------------------------------------------------------- q45
  // RangeJoinRewrite exercised through the SQL surface: a RAW
  // `BETWEEN` join (no operator call, no manual bucketing) submitted
  // as text to the Engine's SQL bridge. The rule is already in every
  // session's optimizer (graft.plans.GraftExtensions); setting
  // `bucketWidth=auto` switches it on, with the width derived from
  // span stats at plan time. The query body plan-asserts the
  // rewrite actually fired: no BroadcastNestedLoop/Cartesian — the
  // plans Spark gives this join without the rule — and the bucket
  // key present. The conf is graft-namespaced and set once to a
  // constant (an opt-in read ONLY by the rule, and only on non-equi
  // range joins — every such join gets the semantics-identical
  // bucketed plan, so leaving it enabled is the intended session
  // state, unlike the per-call legacy-flag flips removed this round).
  private lazy val q45Wh =
    java.nio.file.Files.createTempDirectory("graft_q45_wh").toString

  private def q45(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir, Seq("orders", "lineitem"))
    s.conf.set(graft.plans.RangeJoinRewrite.WidthConf, "auto")
    val eng = new graft.query.Engine(s,
      new graft.catalog.SnapshotCatalog(s, q45Wh))
    val df = eng.sqlDataFrame(
      """WITH iv AS (
        |  SELECT o_orderkey AS iv_id,
        |    CAST(datediff(to_date(o_orderdate), DATE '1970-01-01') AS BIGINT)
        |      AS s_d,
        |    CAST(datediff(to_date(o_orderdate), DATE '1970-01-01')
        |      + o_orderkey % 7 + 2 AS BIGINT) AS e_d
        |  FROM orders WHERE o_orderkey % 193 = 0)
        |SELECT iv_id, count(*) AS n_ship,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp
        |FROM iv JOIN lineitem
        |  ON CAST(datediff(to_date(l_shipdate), DATE '1970-01-01') AS BIGINT)
        |     BETWEEN s_d AND e_d
        |GROUP BY iv_id ORDER BY iv_id""".stripMargin)._1
    val plan = df.queryExecution.executedPlan.toString
    require(!plan.contains("BroadcastNestedLoop") && !plan.contains("Cartesian"),
      s"range-join rewrite did not fire through the SQL bridge:\n$plan")
    require(plan.contains("_rj_"),
      s"bucketed join key missing from the SQL-bridge plan:\n$plan")
    df
  }

  private val q45Sql =
    """WITH iv AS (
      |  SELECT o_orderkey AS iv_id,
      |    CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS s_d,
      |    CAST(o_orderdate AS DATE) - DATE '1970-01-01'
      |      + o_orderkey % 7 + 2 AS e_d
      |  FROM orders WHERE o_orderkey % 193 = 0)
      |SELECT iv_id, count(*) AS n_ship,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp
      |FROM iv JOIN lineitem
      |  ON (CAST(l_shipdate AS DATE) - DATE '1970-01-01') BETWEEN s_d AND e_d
      |GROUP BY iv_id ORDER BY iv_id""".stripMargin

  // ---------------------------------------------------------------- q47
  // Interval-overlap (interval × interval) join through
  // operators.RangeJoin.intervalOverlap with the auto-derived width —
  // the symmetric sibling of q25/q45's point-in-interval. Raw overlap
  // predicates (s1 <= e2 AND s2 <= e1) get the same BNLJ plan Spark
  // gives any non-equi join; the operator's canonical-meeting-bucket
  // trick (keep the pair only in bucket(max(starts))) restores a
  // shuffled equi-join with NO distinct. Both order subsets become
  // epoch-day intervals whose spans differ (14- vs 21-day max), so
  // the symmetric width derivation is exercised on unequal stats.
  // Plan-asserted: no BroadcastNestedLoop/Cartesian in the executed
  // plan.
  private def q47(s: SparkSession, dir: String): DataFrame = {
    val days: Column => Column =
      c => datediff(to_date(c), lit("1970-01-01")).cast("long")
    val o = t(s, dir, "orders")
    val left = o.filter(col("o_orderkey") % 67 === 0).select(
      col("o_orderkey").as("l_key"),
      days(col("o_orderdate")).as("ls"),
      (days(col("o_orderdate")) + col("o_custkey") % 14 + 1L).as("le"))
    val right = o.filter(col("o_orderkey") % 67 === 1).select(
      col("o_orderkey").as("r_key"),
      days(col("o_orderdate")).as("rs"),
      (days(col("o_orderdate")) + col("o_custkey") % 21 + 1L).as("re"))
    val joined = graft.operators.RangeJoin
      .intervalOverlap(left, "ls", "le", right, "rs", "re")
    val plan = joined.queryExecution.executedPlan.toString
    require(!plan.contains("BroadcastNestedLoop") && !plan.contains("Cartesian"),
      s"interval-overlap rewrite produced a nested-loop plan:\n$plan")
    joined
      .groupBy("l_key")
      .agg(count(lit(1)).as("n_overlap"),
        min("r_key").as("r_min"), max("r_key").as("r_max"))
      .orderBy("l_key")
  }

  private val q47Sql =
    """WITH l AS (
      |  SELECT o_orderkey AS l_key,
      |    CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS ls,
      |    CAST(o_orderdate AS DATE) - DATE '1970-01-01'
      |      + o_custkey % 14 + 1 AS le
      |  FROM orders WHERE o_orderkey % 67 = 0),
      |r AS (
      |  SELECT o_orderkey AS r_key,
      |    CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS rs,
      |    CAST(o_orderdate AS DATE) - DATE '1970-01-01'
      |      + o_custkey % 21 + 1 AS re
      |  FROM orders WHERE o_orderkey % 67 = 1)
      |SELECT l_key, count(*) AS n_overlap,
      |  min(r_key) AS r_min, max(r_key) AS r_max
      |FROM l JOIN r ON ls <= re AND rs <= le
      |GROUP BY l_key ORDER BY l_key""".stripMargin

  // ---------------------------------------------------------------- q48
  // Salted two-phase aggregation (operators.Skew.saltedAgg) made
  // driver-visible: events has exactly 5 event types, so a plain
  // groupBy builds each key's state on ONE reducer — the hot-key
  // shape salting exists for. Phase 1 aggregates on (key, salt·16),
  // phase 2 merges the 5×16 partials; results are identical to the
  // unsalted groupBy by additivity (the oracle IS the unsalted
  // form). The value sum rides an exact integer cent grid
  // (floor(value·100) — floor, not round: round-half semantics on
  // arbitrary doubles are the one cross-engine hazard) so the sum is
  // association-order-free. Plan-asserted: the salt key is present
  // in the executed plan's phase-1 aggregate.
  private def q48(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .select("event_type", "cents")
    val out = graft.operators.Skew
      .saltedAgg(ev, keys = Seq("event_type"), salts = 16,
        sums = Seq("cents"))
      .orderBy("event_type")
    val plan = out.queryExecution.executedPlan.toString
    require(plan.contains("_salt"),
      s"salted aggregation did not reach the physical plan:\n$plan")
    out
  }

  private val q48Sql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_cents
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q46
  // q32's 100 TB form (SCALING.md): the ONE-PASS column profile. q32
  // pays one aggregation pass per column because exact
  // count(DISTINCT) forces it; here ALL columns profile in a single
  // .agg over a single scan — nulls/min/max/mean exactly,
  // distinct counts via approx_count_distinct (HLL++: one binary
  // buffer of 52 register words per column, planned as CompactHll; the
  // built-in form carried the 52 words as long columns through the
  // Expand) — and the one aggregated row is exploded into the
  // per-column layout (no per-column rescan: the union-of-projections
  // alternative re-executes the aggregate per column). Following the
  // q21/q24 audit pattern, the HLL estimates are emitted as
  // within-3·rsd flags against exact countDistinct anchors computed
  // in the same statement (q32 remains the standalone exact anchor);
  // the exact anchors are what a 100 TB deployment drops — with them
  // gone the plan is one scan with NO Expand, pure single-pass.
  // Measured rel err here matches q21 (≤ 0.086 at rsd 0.05).
  /** q46's aggregation, reusable with the exact anchors on (the
    * driver-gated audit form) or off (the pure single-pass 100 TB
    * form — ScaleSpec asserts that plan contains NO Expand, i.e. no
    * exact-distinct rewrite, just one scan + one aggregate).
    */
  private[graft] def profileOnePass(li: DataFrame,
      withExactAnchors: Boolean): DataFrame = {
    def nn(c: String) = s"_${c}_nulls"
    def ad(c: String) = s"_${c}_apx"
    def ed(c: String) = s"_${c}_exact"
    def mn(c: String) = s"_${c}_min"
    def mx(c: String) = s"_${c}_max"
    def av(c: String) = s"_${c}_mean"
    val aggs = count(lit(1)).as("_n_rows") +: q32Cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(nn(c)),
        approx_count_distinct(col(c)).as(ad(c)),
        round(min(col(c)).cast("double"), 4).as(mn(c)),
        round(max(col(c)).cast("double"), 4).as(mx(c)),
        round(avg(col(c)), 4).as(av(c))) ++
        (if (withExactAnchors) Seq(countDistinct(col(c)).as(ed(c))) else Nil)
    }
    val one = li.agg(aggs.head, aggs.tail: _*)
    val perCol = q32Cols.map { c =>
      val base = Seq(
        lit(c).as("col_name"), col("_n_rows").as("n_rows"),
        col(nn(c)).as("n_nulls"))
      val distinctCols =
        if (withExactAnchors) Seq(col(ed(c)).as("n_distinct"))
        else Seq(col(ad(c)).as("n_distinct_apx"))
      val tail = Seq(
        col(mn(c)).as("min_v"), col(mx(c)).as("max_v"),
        col(av(c)).as("mean_v")) ++
        (if (withExactAnchors)
          Seq((abs(col(ad(c)) - col(ed(c))) <= col(ed(c)) * 0.15)
            .cast("int").as("distinct_within_3rsd"))
        else Nil)
      struct(base ++ distinctCols ++ tail: _*)
    }
    one.select(explode(array(perCol: _*)).as("p"))
      .select("p.*").orderBy("col_name")
  }

  private def q46(s: SparkSession, dir: String): DataFrame =
    profileOnePass(t(s, dir, "lineitem"), withExactAnchors = true)

  private val q46Sql = q32Cols.map { c =>
    s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
       |  round(CAST(min($c) AS DOUBLE), 4) AS min_v,
       |  round(CAST(max($c) AS DOUBLE), 4) AS max_v,
       |  round(avg($c), 4) AS mean_v,
       |  1 AS distinct_within_3rsd
       |FROM lineitem""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  // ---------------------------------------------------------------- q50
  // The curation SQL surface end-to-end (round-9 VERDICT item 5): the
  // Gopher quality gate invoked as a REGISTERED SQL FUNCTION through
  // the arbitrary-SQL pass-through — raw SQL text in, the same verdict
  // the t37 frame operator computes out (one implementation behind
  // both surfaces: QualityRules.keepColumn). The oracle restates the
  // whole rule battery in DuckDB, so a drift in either the function
  // registration, the Column→Expression bridge, or any rule flips the
  // hash.
  private lazy val q50Wh =
    java.nio.file.Files.createTempDirectory("graft_q50_wh").toString

  private def q50(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir, Seq("documents"))
    val eng = new graft.query.Engine(s,
      new graft.catalog.SnapshotCatalog(s, q50Wh))
    eng.sqlDataFrame(
      """SELECT doc_id, lang, graft_gopher_pass(text) AS keep
        |FROM documents ORDER BY doc_id""".stripMargin)._1
  }

  private val q50Sql = {
    val stops = graft.operators.QualityRules.StopWords
      .map("'" + _ + "'").mkString(", ")
    val toks = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+')," +
      " t -> t <> '')"
    s"""WITH f AS (
      |  SELECT doc_id, lang,
      |    len($toks) AS n_words,
      |    length(coalesce(list_aggregate($toks, 'string_agg', ''), ''))
      |      AS sum_len,
      |    (length(text) - length(translate(text, '#', '')))
      |      + (length(text) - length(translate(text, '…', '')))
      |      + (length(text) - length(replace(text, '...', ''))) // 3
      |      AS n_symbols,
      |    greatest(len(list_filter(string_split(text, chr(10)),
      |                             l -> l <> '')), 1) AS n_lines,
      |    len(list_filter(list_filter(string_split(text, chr(10)),
      |          l -> l <> ''),
      |          l -> starts_with(l, '-') OR starts_with(l, '*')
      |               OR starts_with(l, '•'))) AS bullet_lines,
      |    len(list_filter(list_filter(string_split(text, chr(10)),
      |          l -> l <> ''),
      |          l -> ends_with(l, '...') OR ends_with(l, '…')))
      |      AS ellipsis_lines,
      |    len(list_filter($toks, t -> regexp_matches(t, '[a-z]')))
      |      AS alpha_words,
      |    len(list_filter([$stops], s -> list_contains($toks, s)))
      |      AS stop_distinct
      |  FROM documents)
      |SELECT doc_id, lang,
      |  n_words >= 50 AND n_words <= 100000
      |  AND sum_len >= 3 * greatest(n_words, 1)
      |    AND sum_len <= 10 * greatest(n_words, 1)
      |  AND n_symbols * 10 <= greatest(n_words, 1)
      |  AND bullet_lines * 10 <= n_lines * 9
      |  AND ellipsis_lines * 10 <= n_lines * 3
      |  AND alpha_words * 5 >= n_words * 4
      |  AND stop_distinct >= 2 AS keep
      |FROM f ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q51
  // JSONL export → ingest round-trip: the text-format source/sink a
  // training-data engine needs beside parquet/iceberg (corpus drops
  // ship as *.jsonl). The query writes `documents` as JSON Lines,
  // reads it back with a PINNED schema (the production posture —
  // inference on a 100 TB drop is a full extra pass; a one-file
  // sample-infer is the discovery path), and aggregates per language
  // with a distinct-content count, so a single character corrupted in
  // the escape/parse cycle changes n_distinct and flips the hash
  // against the oracle (which reads the PARQUET originals — the
  // round-trip must be invisible to match). The write partitions like
  // any sink (4 files here, maxRecordsPerFile-bounded in production)
  // and the read parallelizes per file, splittable by line.
  private def q51(s: SparkSession, dir: String): DataFrame = {
    val out = System.getProperty("java.io.tmpdir") +
      s"/graft_jsonl_${new java.io.File(dir).getName}"
    val d = t(s, dir, "documents")
    d.coalesce(4).write.mode("overwrite").json(out)
    s.read.schema(d.schema).json(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        sum("n_chars").as("total_chars"))
      .orderBy("lang")
  }

  private val q51Sql =
    """SELECT lang, count(*) AS n_docs,
      |  count(DISTINCT md5(text)) AS n_distinct,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- q53
  // Avro Object Container File round trip (ingest.AvroFiles): the
  // reference's wire format (Kafka Avro values, schema/AvroSerde's
  // StructType↔Schema mapping) exercised at FILE level — documents →
  // 4 deterministic .avro container files (fixed sync marker,
  // key-partitioned, key-sorted) → read back with a PINNED schema →
  // per-source distinct-content aggregate. One corrupted varint,
  // union branch, or block boundary in the serde shifts a record and
  // flips n_distinct against the oracle, which reads the parquet
  // originals — the container trip must be invisible (q51's JSONL
  // discipline on the reference's own format).
  private def q53(s: SparkSession, dir: String): DataFrame = {
    val out = System.getProperty("java.io.tmpdir") +
      s"/graft_avro_${new java.io.File(dir).getName}"
    val d = t(s, dir, "documents")
    graft.ingest.AvroFiles.write(d, out, nFiles = 4, keyCol = "doc_id")
    graft.ingest.AvroFiles.read(s, out, d.schema)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        sum("n_chars").as("total_chars"))
      .orderBy("source")
  }

  private val q53Sql =
    """SELECT source, count(*) AS n_docs,
      |  count(DISTINCT md5(text)) AS n_distinct,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q52
  // Exact-integer PageRank over the customer–supplier trade graph:
  // distinct (cust, supp) pairs from orders⋈lineitem, symmetrized
  // (cust nodes even, supp nodes odd), 3 power iterations on the int64
  // 1e-12 mass grid — see operators/PageRank.scala for the arithmetic
  // and scale posture. Top-20 authorities, bit-exact vs the oracle's
  // unrolled recurrence (integer sums are order-independent, so no
  // float drift can compound across iterations). The reference's
  // engine has no iterative-graph surface at all; here it rides the
  // same co-partitioned adjacency discipline as connectedComponents.
  private def q52(s: SparkSession, dir: String): DataFrame = {
    val b = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    // b is distinct even→odd pairs: canonical form for the operator's
    // internal (persist-first) symmetrization; dedup would be a
    // redundant |E| shuffle
    graft.operators.PageRank.ranks(b, iters = 3, dedupEdges = false,
      symmetrize = true)
      .orderBy(col("rank").desc, col("node"))
      .limit(20)
  }

  private val q52Sql = {
    def step(i: Int): String = {
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""s$i AS (SELECT e.dst AS node,
        |  CAST(sum($prev.rank // deg.deg) AS BIGINT) AS m
        |  FROM e JOIN deg USING (src) JOIN $prev ON $prev.node = e.src
        |  GROUP BY 1),
        |r$i AS (SELECT n.node, c.tp + (85 * coalesce(m, 0)) // 100 AS rank
        |  FROM nodes n LEFT JOIN s$i USING (node), c)""".stripMargin
    }
    s"""WITH b AS (SELECT DISTINCT o_custkey * 2 AS src,
      |  l_suppkey * 2 + 1 AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |e AS (SELECT src, dst FROM b UNION ALL SELECT dst, src FROM b),
      |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
      |nodes AS (SELECT src AS node FROM deg),
      |c AS (SELECT 1000000000000 // count(*) AS u,
      |  (15 * (1000000000000 // count(*))) // 100 AS tp FROM nodes),
      |r0 AS (SELECT node, c.u AS rank FROM nodes, c),
      |${step(1)},
      |${step(2)},
      |${step(3)}
      |SELECT node, rank FROM r3 ORDER BY rank DESC, node LIMIT 20""".stripMargin
  }

  // ---------------------------------------------------------------- q54
  // ORC round trip with a pushed filter: documents → ORC (Spark's
  // built-in vectorized writer, the other big-data columnar format a
  // 100 TB archive interop layer must read) → read back with a PINNED
  // schema and a predicate that reaches the ORC reader as a pushed
  // filter (min/max stripe pruning at scale — the reason this query
  // filters on n_chars instead of post-filtering a full scan). The
  // aggregate's distinct-content count flips the hash if one row is
  // lost or duplicated across the stripe boundary; the oracle reads
  // the parquet originals with the same predicate, so the format trip
  // must be invisible (q51/q53's discipline on the third format).
  private def q54(s: SparkSession, dir: String): DataFrame = {
    val out = System.getProperty("java.io.tmpdir") +
      s"/graft_orc_${new java.io.File(dir).getName}"
    val d = t(s, dir, "documents")
    d.coalesce(4).write.mode("overwrite").orc(out)
    s.read.schema(d.schema).orc(out)
      .filter(col("n_chars") >= 500)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        sum("n_chars").as("total_chars"))
      .orderBy("lang", "source")
  }

  private val q54Sql =
    """SELECT lang, source, count(*) AS n_docs,
      |  count(DISTINCT md5(text)) AS n_distinct,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents WHERE n_chars >= 500
      |GROUP BY lang, source ORDER BY lang, source""".stripMargin

  // ---------------------------------------------------------------- q55
  // HITS hubs/authorities over the directed customer→supplier trade
  // graph (Kleinberg 1999): customers who buy from authoritative
  // suppliers are good hubs and vice versa — the mutually-reinforcing
  // two-sided score q52's single PageRank conflates. Exact integer
  // arithmetic throughout (DECIMAL(38,0) widening inside the
  // normalization — see operators/PageRank.hits), so 2 full rounds are
  // bit-identical to the oracle's unrolled recurrence. Top-10 per side.
  private def q55(s: SparkSession, dir: String): DataFrame = {
    val b = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("side").orderBy(col("score").desc, col("node"))
    graft.operators.PageRank.hits(b, iters = 2, dedupEdges = false)
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= 10)
      .select("side", "r", "node", "score")
      .orderBy("side", "r")
  }

  private val q55Sql = {
    def round(i: Int, prevH: String): String =
      s"""a${i}r AS (SELECT b.dst AS node, sum($prevH.score) AS raw
        |  FROM b JOIN $prevH ON $prevH.node = b.src GROUP BY 1),
        |a$i AS (SELECT node, CAST(raw * 1000000000
        |    // (SELECT sum(raw) FROM a${i}r) AS BIGINT) AS score FROM a${i}r),
        |h${i}r AS (SELECT b.src AS node, sum(a$i.score) AS raw
        |  FROM b JOIN a$i ON a$i.node = b.dst GROUP BY 1),
        |h$i AS (SELECT node, CAST(raw * 1000000000
        |    // (SELECT sum(raw) FROM h${i}r) AS BIGINT) AS score FROM h${i}r)""".stripMargin
    s"""WITH b AS (SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |hubs AS (SELECT DISTINCT src FROM b),
      |h0 AS (SELECT src AS node,
      |  (SELECT 1000000000 // count(*) FROM hubs) AS score FROM hubs),
      |${round(1, "h0")},
      |${round(2, "h1")},
      |sides AS (
      |  SELECT node, 'hub' AS side, score FROM h2
      |  UNION ALL SELECT node, 'auth' AS side, score FROM a2),
      |ranked AS (SELECT side, node, score,
      |  row_number() OVER (PARTITION BY side
      |                     ORDER BY score DESC, node) AS r FROM sides)
      |SELECT side, r, node, score FROM ranked
      |WHERE r <= 10 ORDER BY side, r""".stripMargin
  }

  // ---------------------------------------------------------------- q56
  // SQL DML through the bridge (query/Engine.dmlExec): a catalog table
  // is mutated by DELETE / UPDATE / MERGE statements submitted as raw
  // SQL — each one atomic copy-on-write snapshot, DELETE/UPDATE
  // candidates picked by the read path's manifest pruning, MERGE the
  // whole-row upsert. Money rides the exact integer cent grid so the
  // final per-status rollup is association-order-independent and the
  // oracle (which replays the three mutations as pure SELECT algebra
  // over the same parquet) hash-matches. The staged table lives in a
  // per-call temp warehouse; the ≤|statuses| summary rows are
  // materialized before it is reclaimed.
  private def q56(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft_q56_wh").toString
    val cat = new graft.catalog.SnapshotCatalog(s, wh)
    val eng = new graft.query.Engine(s, cat)
    val base = t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("price_c"),
        col("o_orderstatus").as("status"))
    cat.createTable("db", "o", base.schema)
    cat.append("db", "o", base.filter(col("o_orderkey") < 2000))
    def run(sql: String): Unit = {
      val out = eng.sqlQuery(sql)
      require(!out.startsWith("""{"error""""), s"DML failed: $out — $sql")
    }
    run("DELETE FROM db.o WHERE price_c >= 15000000")
    run("UPDATE db.o SET price_c = price_c + 100 WHERE status = 'F'")
    run(s"""MERGE INTO db.o t
      |USING (SELECT o_orderkey, o_custkey,
      |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
      |         o_orderstatus AS status
      |       FROM parquet.`$dir/orders.parquet`
      |       WHERE o_orderkey >= 1000 AND o_orderkey < 2100) s
      |ON t.o_orderkey = s.o_orderkey
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    run(s"""INSERT INTO db.o
      |SELECT o_orderkey + 10000000, o_custkey,
      |  CAST(round(o_totalprice * 100, 0) AS BIGINT), 'X'
      |FROM parquet.`$dir/orders.parquet` WHERE o_orderkey < 100""".stripMargin)
    // round-12 shapes: INSERT with an explicit column list (o_custkey
    // null-pads) and a CONDITIONAL MERGE (first-TRUE-clause cascade:
    // open orders get a bump, expensive others die)
    run(s"""INSERT INTO db.o (o_orderkey, price_c, status)
      |SELECT o_orderkey + 20000000, 77, 'Y'
      |FROM parquet.`$dir/orders.parquet` WHERE o_orderkey < 50""".stripMargin)
    run(s"""MERGE INTO db.o t
      |USING (SELECT o_orderkey,
      |         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS amt
      |       FROM parquet.`$dir/orders.parquet`
      |       WHERE o_orderkey >= 500 AND o_orderkey < 1500) s
      |ON t.o_orderkey = s.o_orderkey
      |WHEN MATCHED AND t.status = 'O' THEN UPDATE SET price_c = t.price_c + 1
      |WHEN MATCHED AND s.amt > 20000000 THEN DELETE""".stripMargin)
    // field-id schema evolution over the multi-era files the DML left
    // behind: rename + drop are metadata-only, every era still
    // resolves by id in the final aggregate
    run("ALTER TABLE db.o RENAME COLUMN price_c TO cents")
    run("ALTER TABLE db.o DROP COLUMN o_custkey")
    val out = cat.read("db", "o")
      .groupBy("status")
      .agg(count(lit(1)).as("n_orders"),
        sum("cents").as("sum_price_c"),
        min("o_orderkey").as("min_key"),
        max("o_orderkey").as("max_key"))
      .orderBy("status")
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    out.collect().foreach(rows.add)
    val schema = out.schema
    // reclaim the per-call warehouse (rows are materialized above)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
    } finally walk.close()
    s.createDataFrame(rows, schema)
  }

  private val q56Sql =
    """WITH base AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
      |    o_orderstatus AS status
      |  FROM orders WHERE o_orderkey < 2000),
      |kept AS (SELECT * FROM base WHERE price_c < 15000000),
      |upd AS (SELECT o_orderkey, o_custkey,
      |    CASE WHEN status = 'F' THEN price_c + 100 ELSE price_c END AS price_c,
      |    status
      |  FROM kept),
      |src AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
      |    o_orderstatus AS status
      |  FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 2100),
      |ins AS (
      |  SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
      |    'X' AS status
      |  FROM orders WHERE o_orderkey < 100),
      |fin AS (
      |  SELECT * FROM src
      |  UNION ALL
      |  SELECT * FROM upd
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
      |  UNION ALL
      |  SELECT * FROM ins),
      |ins2 AS (
      |  SELECT o_orderkey + 20000000 AS o_orderkey,
      |    CAST(NULL AS BIGINT) AS o_custkey,
      |    CAST(77 AS BIGINT) AS price_c, 'Y' AS status
      |  FROM orders WHERE o_orderkey < 50),
      |state1 AS (SELECT * FROM fin UNION ALL SELECT * FROM ins2),
      |msrc AS (SELECT o_orderkey,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS amt
      |  FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1500),
      |state2 AS (
      |  SELECT t.o_orderkey, t.o_custkey,
      |    CASE WHEN s.o_orderkey IS NOT NULL AND t.status = 'O'
      |      THEN t.price_c + 1 ELSE t.price_c END AS price_c,
      |    t.status
      |  FROM state1 t LEFT JOIN msrc s ON t.o_orderkey = s.o_orderkey
      |  WHERE s.o_orderkey IS NULL OR t.status = 'O' OR NOT (s.amt > 20000000))
      |SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
      |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |FROM state2 GROUP BY 1 ORDER BY status""".stripMargin

  // ---------------------------------------------------------------- q57
  // Merge-on-read positional deletes (the defining Iceberg
  // format-version-2 write path, reference connector-config.json:24-26):
  // the SAME DELETE runs against two identical tables, one with
  // `write.delete.mode=merge-on-read` (a positional delete file is
  // committed, every data file stays byte-identical) and one with
  // `copy-on-write` (candidate files rewritten). The query returns both
  // tables' per-status aggregates plus the time-traveled pre-delete
  // state — the oracle restates all three from pure SELECT algebra, so
  // a hash match proves MoR ≡ CoW ≡ history-intact. In-query require()s
  // additionally pin the physical MoR contract (unchanged file list,
  // non-empty delete side): a silent CoW fallback fails the query.
  private def q57(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft_q57_wh").toString
    val cat = new graft.catalog.SnapshotCatalog(s, wh)
    val eng = new graft.query.Engine(s, cat)
    val base = t(s, dir, "orders")
      .filter(col("o_orderkey") < 3000)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("price_c"),
        col("o_orderstatus").as("status"))
    for (tb <- Seq("mor", "cow")) {
      cat.createTable("db", tb, base.schema)
      cat.updateProperties("db", tb, Map(
        graft.catalog.SnapshotCatalog.DeleteModeProp ->
          (if (tb == "mor") "merge-on-read" else "copy-on-write")))
      cat.append("db", tb, base)
    }
    val preSnap = cat.describe("db", "mor").currentSnapshotId.get
    val preFiles = cat.describe("db", "mor").currentSnapshot.get.files
    for (tb <- Seq("mor", "cow")) {
      val out = eng.sqlQuery(s"DELETE FROM db.$tb WHERE price_c % 7 = 0")
      require(!out.startsWith("""{"error""""), s"DELETE failed: $out")
    }
    val morAfter = cat.describe("db", "mor").currentSnapshot.get
    require(morAfter.files == preFiles,
      "merge-on-read DELETE must leave the data-file list untouched")
    require(morAfter.deleteFiles.nonEmpty,
      "merge-on-read DELETE must commit a positional delete file")
    def agg(df: DataFrame, path: String): DataFrame =
      df.groupBy("status")
        .agg(count(lit(1)).as("n_orders"), sum("price_c").as("sum_price_c"))
        .select(lit(path).as("path"), col("status"),
          col("n_orders"), col("sum_price_c"))
    val out = agg(cat.read("db", "mor"), "mor")
      .unionByName(agg(cat.read("db", "cow"), "cow"))
      .unionByName(agg(cat.read("db", "mor", Some(preSnap)), "time_travel"))
      .orderBy("path", "status")
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    out.collect().foreach(rows.add)
    val schema = out.schema
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
    } finally walk.close()
    s.createDataFrame(rows, schema)
  }

  private val q57Sql =
    """WITH base AS (
      |  SELECT o_orderkey,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
      |    o_orderstatus AS status
      |  FROM orders WHERE o_orderkey < 3000),
      |kept AS (SELECT * FROM base WHERE NOT (price_c % 7 = 0)),
      |paths AS (
      |  SELECT 'mor' AS path, status, CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(sum(price_c) AS BIGINT) AS sum_price_c
      |  FROM kept GROUP BY 2
      |  UNION ALL
      |  SELECT 'cow', status, CAST(count(*) AS BIGINT),
      |    CAST(sum(price_c) AS BIGINT)
      |  FROM kept GROUP BY 2
      |  UNION ALL
      |  SELECT 'time_travel', status, CAST(count(*) AS BIGINT),
      |    CAST(sum(price_c) AS BIGINT)
      |  FROM base GROUP BY 2)
      |SELECT path, status, n_orders, sum_price_c FROM paths
      |ORDER BY path, status""".stripMargin

  // ---------------------------------------------------------------- q58
  // CDC changelog consumption via MERGE-ON-READ equality deletes (the
  // Flink/Kafka → Iceberg v2 sink pattern, streaming.Sinks.cdcMorSink's
  // commit): each batch is ONE atomic snapshot committing an equality
  // delete file over every touched key plus the new row versions —
  // zero existing data read or rewritten. Batch 2 RE-INSERTS keys
  // batch 1 deleted, pinning the v2 sequencing rule (an equality
  // delete applies only to files with a strictly smaller commit
  // sequence, so re-inserted rows survive). In-query requires pin the
  // physical contract (no data file ever rewritten, two delete files);
  // the oracle replays both batches as pure SELECT algebra.
  private def q58(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft_q58_wh").toString
    val cat = new graft.catalog.SnapshotCatalog(s, wh)
    val src = t(s, dir, "orders")
    def slice(lo: Long, hi: Long) =
      src.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
    val base = src.filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("price_c"),
        col("o_orderstatus").as("status"))
    cat.createTable("db", "o", base.schema)
    cat.append("db", "o", base)
    val pre = cat.describe("db", "o").currentSnapshot.get.files
    // batch 1: update keys [500,1000), delete keys [1500,1600)
    cat.cdcUpsert("db", "o",
      rows = slice(500, 1000).select(col("o_orderkey"),
        (round(col("o_totalprice") * 100, 0).cast("long") + 7).as("price_c"),
        lit("U").as("status")),
      deletes = slice(1500, 1600).select(col("o_orderkey")),
      keyCols = Seq("o_orderkey"))
    // batch 2: RE-INSERT keys [1550,1575) (deleted above — sequencing
    // rule), delete keys [700,750)
    cat.cdcUpsert("db", "o",
      rows = slice(1550, 1575).select(col("o_orderkey"),
        (round(col("o_totalprice") * 100, 0).cast("long") * 2).as("price_c"),
        lit("R").as("status")),
      deletes = slice(700, 750).select(col("o_orderkey")),
      keyCols = Seq("o_orderkey"))
    val post = cat.describe("db", "o").currentSnapshot.get
    require(pre.forall(post.files.contains),
      "CDC merge-on-read commits must never rewrite existing data files")
    require(post.eqDeletes.size == 2,
      s"expected 2 equality delete files, got ${post.eqDeletes.size}")
    val out = cat.read("db", "o")
      .groupBy("status")
      .agg(count(lit(1)).as("n"), sum("price_c").as("sum_price_c"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
      .orderBy("status")
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    out.collect().foreach(rows.add)
    val schema = out.schema
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
    } finally walk.close()
    s.createDataFrame(rows, schema)
  }

  private val q58Sql =
    """WITH base AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
      |    o_orderstatus AS status
      |  FROM orders WHERE o_orderkey < 2000),
      |b1 AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) + 7 AS price_c,
      |    'U' AS status
      |  FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1000),
      |s1 AS (
      |  SELECT * FROM b1
      |  UNION ALL
      |  SELECT * FROM base
      |  WHERE k NOT IN (SELECT k FROM b1)
      |    AND NOT (k >= 1500 AND k < 1600)),
      |b2 AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) * 2 AS price_c,
      |    'R' AS status
      |  FROM orders WHERE o_orderkey >= 1550 AND o_orderkey < 1575),
      |s2 AS (
      |  SELECT * FROM b2
      |  UNION ALL
      |  SELECT * FROM s1
      |  WHERE k NOT IN (SELECT k FROM b2)
      |    AND NOT (k >= 700 AND k < 750))
      |SELECT status, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
      |  min(k) AS min_key, max(k) AS max_key
      |FROM s2 GROUP BY 1 ORDER BY status""".stripMargin

  // ---------------------------------------------------------------- q59
  // MERGE merge-on-read (`write.merge.mode`, completing the Iceberg v2
  // DML triad after q57's DELETE and the UPDATE path): the SAME general
  // MERGE — conditional WHEN MATCHED UPDATE / WHEN MATCHED DELETE /
  // WHEN NOT MATCHED INSERT — runs against two identical tables, one
  // merge-on-read (ONE atomic snapshot: positional deletes over the
  // fired rows + the updated/inserted versions as new files; every
  // pre-existing data file byte-untouched) and one copy-on-write
  // (touched files rewritten). The query returns both tables' final
  // aggregates plus the time-traveled pre-merge state; the oracle
  // restates all three as pure SELECT algebra, so a hash match proves
  // MoR ≡ CoW ≡ history-intact. In-query require()s pin the physical
  // MoR contract.
  private def q59(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft_q59_wh").toString
    val cat = new graft.catalog.SnapshotCatalog(s, wh)
    val eng = new graft.query.Engine(s, cat)
    val base = t(s, dir, "orders")
      .filter(col("o_orderkey") < 3000)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("price_c"),
        col("o_orderstatus").as("status"))
    for (tb <- Seq("mor", "cow")) {
      cat.createTable("db", tb, base.schema)
      cat.updateProperties("db", tb, Map("write.merge.mode" ->
        (if (tb == "mor") "merge-on-read" else "copy-on-write")))
      cat.append("db", tb, base)
    }
    val preSnap = cat.describe("db", "mor").currentSnapshotId.get
    val preFiles = cat.describe("db", "mor").currentSnapshot.get.files
    val srcSql = "(SELECT o_orderkey, CAST(round(o_totalprice * 100, 0) " +
      s"AS BIGINT) AS amt FROM parquet.`$dir/orders.parquet` " +
      "WHERE o_orderkey >= 1000 AND o_orderkey < 3500)"
    for (tb <- Seq("mor", "cow")) {
      val out = eng.sqlQuery(
        s"""MERGE INTO db.$tb t USING $srcSql s
           |ON t.o_orderkey = s.o_orderkey
           |WHEN MATCHED AND t.status = 'O'
           |  THEN UPDATE SET price_c = t.price_c + s.amt
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED
           |  THEN INSERT (o_orderkey, price_c, status)
           |  VALUES (s.o_orderkey, s.amt, 'N')""".stripMargin)
      require(!out.startsWith("""{"error""""), s"MERGE failed: $out")
    }
    val morAfter = cat.describe("db", "mor").currentSnapshot.get
    require(preFiles.forall(morAfter.files.contains),
      "merge-on-read MERGE must leave pre-existing data files in place")
    require(morAfter.deleteFiles.nonEmpty,
      "merge-on-read MERGE must commit a positional delete file")
    def agg(df: DataFrame, path: String): DataFrame =
      df.groupBy("status")
        .agg(count(lit(1)).as("n_orders"), sum("price_c").as("sum_price_c"),
          min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
        .select(lit(path).as("path"), col("status"),
          col("n_orders"), col("sum_price_c"), col("min_key"), col("max_key"))
    val out = agg(cat.read("db", "mor"), "mor")
      .unionByName(agg(cat.read("db", "cow"), "cow"))
      .unionByName(agg(cat.read("db", "mor", Some(preSnap)), "time_travel"))
      .orderBy("path", "status")
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    out.collect().foreach(rows.add)
    val schema = out.schema
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
    } finally walk.close()
    s.createDataFrame(rows, schema)
  }

  private val q59Sql =
    """WITH base AS (
      |  SELECT o_orderkey,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
      |    o_orderstatus AS status
      |  FROM orders WHERE o_orderkey < 3000),
      |src AS (
      |  SELECT o_orderkey,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS amt
      |  FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 3500),
      |merged AS (
      |  SELECT t.o_orderkey,
      |    CASE WHEN s.o_orderkey IS NOT NULL AND t.status = 'O'
      |      THEN t.price_c + s.amt ELSE t.price_c END AS price_c,
      |    t.status
      |  FROM base t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
      |  WHERE s.o_orderkey IS NULL OR t.status = 'O'
      |  UNION ALL
      |  SELECT s.o_orderkey, s.amt, 'N'
      |  FROM src s WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM base)),
      |paths AS (
      |  SELECT 'mor' AS path, status, CAST(count(*) AS BIGINT) AS n_orders,
      |    CAST(sum(price_c) AS BIGINT) AS sum_price_c,
      |    min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
      |  FROM merged GROUP BY 2
      |  UNION ALL
      |  SELECT 'cow', status, CAST(count(*) AS BIGINT),
      |    CAST(sum(price_c) AS BIGINT), min(o_orderkey), max(o_orderkey)
      |  FROM merged GROUP BY 2
      |  UNION ALL
      |  SELECT 'time_travel', status, CAST(count(*) AS BIGINT),
      |    CAST(sum(price_c) AS BIGINT), min(o_orderkey), max(o_orderkey)
      |  FROM base GROUP BY 2)
      |SELECT path, status, n_orders, sum_price_c, min_key, max_key
      |FROM paths ORDER BY path, status""".stripMargin

  // ---------------------------------------------------------------- q60
  // The changelog through SQL: `changes('ns.tbl', from[, to])` is the
  // bridge's table function over the catalog's net-change changelog
  // read (the reference's whole query contract is SQL pass-through,
  // duckdb_rest_server.py:73-78 — everything the engine can do must be
  // SQL-reachable). Two CDC merge-on-read batches land (the q58
  // topology: updates, deletes, a re-insert of previously-deleted
  // keys), then ONE SQL query aggregates the window's net row-level
  // changes. The oracle replays the window as pure SELECT algebra over
  // the same parquet — insert/delete pairs, sequence rule included.
  private def q60(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft_q60_wh").toString
    val cat = new graft.catalog.SnapshotCatalog(s, wh)
    val eng = new graft.query.Engine(s, cat)
    val src = t(s, dir, "orders")
    def slice(lo: Long, hi: Long) =
      src.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
    val base = src.filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100, 0).cast("long").as("price_c"),
        col("o_orderstatus").as("status"))
    cat.createTable("db", "o", base.schema)
    cat.append("db", "o", base)
    val s1 = cat.describe("db", "o").currentSnapshotId.get
    val s1Ms = cat.describe("db", "o").snapshots
      .find(_.snapshotId == s1).get.createdAtMs
    // the CDC commits below must be strictly later than s1's wall
    // clock so the at-or-before timestamp endpoint resolves to s1
    Thread.sleep(5)
    cat.cdcUpsert("db", "o",
      rows = slice(500, 1000).select(col("o_orderkey").as("k"),
        (round(col("o_totalprice") * 100, 0).cast("long") + 7).as("price_c"),
        lit("U").as("status")),
      deletes = slice(1500, 1600).select(col("o_orderkey").as("k")),
      keyCols = Seq("k"))
    cat.cdcUpsert("db", "o",
      rows = slice(1550, 1575).select(col("o_orderkey").as("k"),
        (round(col("o_totalprice") * 100, 0).cast("long") * 2).as("price_c"),
        lit("R").as("status")),
      deletes = slice(700, 750).select(col("o_orderkey").as("k")),
      keyCols = Seq("k"))
    val out = eng.sqlDataFrame(
      s"""SELECT _change_type, status, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
         |  min(k) AS min_key, max(k) AS max_key
         |FROM changes('db.o', $s1)
         |GROUP BY _change_type, status
         |ORDER BY _change_type, status""".stripMargin)._1
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    out.collect().foreach(rows.add)
    val schema = out.schema
    // the TIMESTAMP endpoint (round 14): the same window addressed by
    // wall clock — s1's commit instant resolves at-or-before to s1
    // itself (the `TIMESTAMP AS OF` rule), so the result is IDENTICAL;
    // this is the "changes since last night 02:00" consumer surface
    val ts1 = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneId.of(s.sessionState.conf.sessionLocalTimeZone))
      .format(java.time.Instant.ofEpochMilli(s1Ms))
    val outTs = eng.sqlDataFrame(
      s"""SELECT _change_type, status, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
         |  min(k) AS min_key, max(k) AS max_key
         |FROM changes('db.o', '$ts1')
         |GROUP BY _change_type, status
         |ORDER BY _change_type, status""".stripMargin)._1
    require(outTs.collect().toSeq ==
      scala.jdk.CollectionConverters.ListHasAsScala(rows).asScala.toSeq,
      "timestamp-endpoint changes() must equal the snapshot-id window")
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
    } finally walk.close()
    s.createDataFrame(rows, schema)
  }

  private val q60Sql =
    """WITH orig AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
      |    o_orderstatus AS status
      |  FROM orders WHERE o_orderkey < 2000),
      |ch AS (
      |  SELECT 'delete' AS _change_type, k, price_c, status FROM orig
      |  WHERE (k >= 500 AND k < 1000) OR (k >= 1500 AND k < 1600)
      |  UNION ALL
      |  SELECT 'insert', o_orderkey,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) + 7, 'U'
      |  FROM orders
      |  WHERE o_orderkey >= 500 AND o_orderkey < 1000
      |    AND NOT (o_orderkey >= 700 AND o_orderkey < 750)
      |  UNION ALL
      |  SELECT 'insert', o_orderkey,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) * 2, 'R'
      |  FROM orders WHERE o_orderkey >= 1550 AND o_orderkey < 1575)
      |SELECT _change_type, status, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
      |  min(k) AS min_key, max(k) AS max_key
      |FROM ch GROUP BY 1, 2 ORDER BY _change_type, status""".stripMargin

  // ---------------------------------------------------------------- q61
  // Maintenance through SQL procedures (`CALL system.*`, the
  // Spark-Iceberg convention — everything the engine can do must be
  // reachable from the reference's pass-through contract,
  // duckdb_rest_server.py:73-78): a CDC batch and a merge-on-read
  // DELETE land on the table, then `CALL system.rewrite_data_files`
  // folds the whole delete side (per-file-group, in-query requires pin
  // an empty delete side after) and `CALL system.expire_snapshots`
  // trims history — and the FINAL AGGREGATES ARE BYTE-IDENTICAL to the
  // pure SELECT algebra of the mutations alone: maintenance is
  // result-invariant, which is the whole point of the oracle here.
  private def q61(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft_q61_wh").toString
    val cat = new graft.catalog.SnapshotCatalog(s, wh)
    val eng = new graft.query.Engine(s, cat)
    val src = t(s, dir, "orders")
    val base = src.filter(col("o_orderkey") < 2500)
      .select(col("o_orderkey").as("k"),
        round(col("o_totalprice") * 100, 0).cast("long").as("price_c"),
        col("o_orderstatus").as("status"))
    cat.createTable("db", "o", base.schema)
    cat.updateProperties("db", "o", Map(
      graft.catalog.SnapshotCatalog.DeleteModeProp -> "merge-on-read"))
    cat.append("db", "o", base)
    // CDC batch: update keys [500,800) (+7, 'U'), delete [2000,2100)
    cat.cdcUpsert("db", "o",
      rows = src.filter(col("o_orderkey") >= 500 && col("o_orderkey") < 800)
        .select(col("o_orderkey").as("k"),
          (round(col("o_totalprice") * 100, 0).cast("long") + 7).as("price_c"),
          lit("U").as("status")),
      deletes = src.filter(col("o_orderkey") >= 2000 &&
        col("o_orderkey") < 2100).select(col("o_orderkey").as("k")),
      keyCols = Seq("k"))
    // merge-on-read SQL DELETE on the post-batch state
    val del = eng.sqlQuery("DELETE FROM db.o WHERE price_c % 11 = 0")
    require(!del.startsWith("""{"error""""), s"DELETE failed: $del")
    val dirty = cat.describe("db", "o").currentSnapshot.get
    require(dirty.deleteFiles.nonEmpty && dirty.eqDeletes.nonEmpty,
      "expected both delete flavors before maintenance")
    // maintenance through the SQL procedure surface
    val rw = eng.sqlQuery("CALL system.rewrite_data_files('db.o')")
    require(!rw.startsWith("""{"error""""), s"rewrite_data_files: $rw")
    val folded = cat.describe("db", "o").currentSnapshot.get
    require(folded.deleteFiles.isEmpty && folded.eqDeletes.isEmpty,
      "maintenance must fold the whole delete side")
    // AGE-based expiry (round 14): older_than=0 age-protects every
    // snapshot — a provable no-op even with keep_last=1 …
    val nBefore = cat.describe("db", "o").snapshots.size
    require(nBefore > 1, "expected history before the age cut")
    val exNoop = eng.sqlQuery("CALL system.expire_snapshots('db.o', 1, 0)")
    require(!exNoop.startsWith("""{"error""""), s"expire_snapshots: $exNoop")
    require(cat.describe("db", "o").snapshots.size == nBefore,
      "older_than=0 must age-protect the whole history")
    // … then a real age cut at 'now' expires everything but the
    // keep_last floor, result-invariant by construction
    val ex = eng.sqlQuery(
      s"CALL system.expire_snapshots('db.o', 1, ${System.currentTimeMillis() + 1000})")
    require(!ex.startsWith("""{"error""""), s"expire_snapshots: $ex")
    require(cat.describe("db", "o").snapshots.size == 1,
      "age cut at now must trim to the keep_last floor")
    val out = cat.read("db", "o")
      .groupBy("status")
      .agg(count(lit(1)).as("n"), sum("price_c").as("sum_price_c"),
        min("k").as("min_key"), max("k").as("max_key"))
      .orderBy("status")
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    out.collect().foreach(rows.add)
    val schema = out.schema
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
    } finally walk.close()
    s.createDataFrame(rows, schema)
  }

  private val q61Sql =
    """WITH base AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
      |    o_orderstatus AS status
      |  FROM orders WHERE o_orderkey < 2500),
      |upd AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) + 7 AS price_c,
      |    'U' AS status
      |  FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 800),
      |s1 AS (
      |  SELECT * FROM upd
      |  UNION ALL
      |  SELECT * FROM base
      |  WHERE k NOT IN (SELECT k FROM upd)
      |    AND NOT (k >= 2000 AND k < 2100)),
      |s2 AS (SELECT * FROM s1 WHERE NOT (price_c % 11 = 0))
      |SELECT status, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
      |  min(k) AS min_key, max(k) AS max_key
      |FROM s2 GROUP BY 1 ORDER BY status""".stripMargin

  // ---------------------------------------------------------------- q62
  // DML onto a BRANCH — write-audit-publish for mutations (round 15,
  // the Iceberg `spark.wap.branch` discipline): with
  // `SET graft.wap.branch = audit` in effect, a MERGE and a DELETE
  // stage on the branch while the published table stays BYTE-UNCHANGED
  // (required in-query); the staged state is auditable via
  // `VERSION AS OF 'audit'`, and `CALL system.fast_forward` publishes
  // it in one pointer move. The oracle replays the mutations as pure
  // SELECT algebra — the published state must equal it exactly.
  private def q62(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft_q62_wh").toString
    val cat = new graft.catalog.SnapshotCatalog(s, wh)
    val eng = new graft.query.Engine(s, cat)
    try {
      val src = t(s, dir, "orders")
      val base = src.filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100, 0).cast("long").as("price_c"),
          col("o_orderstatus").as("status"))
      cat.createTable("db", "o", base.schema)
      cat.append("db", "o", base)
      val published = cat.describe("db", "o").currentSnapshotId.get
      val ordersPq = s"$dir/orders.parquet"
      // stage everything below on the audit branch
      val set = eng.sqlQuery("SET graft.wap.branch = audit")
      require(!set.startsWith("""{"error""""), s"SET failed: $set")
      val mrg = eng.sqlQuery(
        s"""MERGE INTO db.o t USING (
           |  SELECT o_orderkey AS k,
           |    CAST(round(o_totalprice * 100, 0) AS BIGINT) + 5 AS price_c,
           |    'U' AS status
           |  FROM parquet.`$ordersPq`
           |  WHERE o_orderkey >= 300 AND o_orderkey < 600
           |  UNION ALL
           |  SELECT o_orderkey + 3000,
           |    CAST(round(o_totalprice * 100, 0) AS BIGINT) * 2, 'N'
           |  FROM parquet.`$ordersPq`
           |  WHERE o_orderkey >= 2000 AND o_orderkey < 2050) s
           |ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      require(!mrg.startsWith("""{"error""""), s"branch MERGE failed: $mrg")
      val del = eng.sqlQuery(
        "DELETE FROM db.o WHERE k >= 1500 AND k < 1600")
      require(!del.startsWith("""{"error""""), s"branch DELETE failed: $del")
      // the PUBLISHED pointer never moved and main reads the original
      // state — the whole point of staging
      val metaStaged = cat.describe("db", "o")
      require(metaStaged.currentSnapshotId.contains(published),
        "branch DML must not move the published pointer")
      require(metaStaged.refs.get("audit").exists(_ != published),
        "the audit branch must have advanced")
      require(cat.read("db", "o").count() == base.count(),
        "published read changed under staged DML")
      // audit the staged state through the read surface
      val staged = eng.sqlDataFrame(
        "SELECT count(*) AS n FROM db.o VERSION AS OF 'audit'")._1
        .head().getLong(0)
      // TPC-H orderkeys are sparse — compute expectations from data
      val nIns = src.filter(col("o_orderkey") >= 2000 &&
        col("o_orderkey") < 2050).count()
      val nDel = base.filter(col("k") >= 1500 && col("k") < 1600).count()
      require(staged == base.count() + nIns - nDel,
        s"staged row count $staged != ${base.count()} + $nIns - $nDel")
      // opt-in read redirection (round 16, Iceberg read parity): the
      // SAME plain SELECT sees the staged branch while redirected and
      // the published state once the flag drops
      val ron = eng.sqlQuery("SET graft.wap.read = true")
      require(!ron.startsWith("""{"error""""), s"SET read failed: $ron")
      val redirected = eng.sqlDataFrame(
        "SELECT count(*) AS n FROM db.o")._1.head().getLong(0)
      require(redirected == staged,
        s"redirected read $redirected != staged $staged")
      val roff = eng.sqlQuery("SET graft.wap.read = false")
      require(!roff.startsWith("""{"error""""), s"SET read off failed: $roff")
      require(eng.sqlDataFrame("SELECT count(*) AS n FROM db.o")._1
        .head().getLong(0) == base.count(),
        "published read changed after dropping the redirect")
      // publish: one pointer move; clear the branch mode first so the
      // final read below is the published state
      val clr = eng.sqlQuery("SET graft.wap.branch = ''")
      require(!clr.startsWith("""{"error""""), s"SET clear failed: $clr")
      val ff = eng.sqlQuery("CALL system.fast_forward('db.o', 'audit')")
      require(!ff.startsWith("""{"error""""), s"fast_forward failed: $ff")
      val out = cat.read("db", "o")
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("price_c").as("sum_price_c"),
          min("k").as("min_key"), max("k").as("max_key"))
        .orderBy("status")
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      out.collect().foreach(rows.add)
      val schema = out.schema
      s.createDataFrame(rows, schema)
    } finally {
      s.conf.set(graft.query.Engine.WapBranchConf, "")
      s.conf.set(graft.query.Engine.WapReadConf, "false")
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
      } finally walk.close()
    }
  }

  private val q62Sql =
    """WITH base AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
      |    o_orderstatus AS status
      |  FROM orders WHERE o_orderkey < 2000),
      |upd AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) + 5 AS price_c,
      |    'U' AS status
      |  FROM orders WHERE o_orderkey >= 300 AND o_orderkey < 600),
      |ins AS (
      |  SELECT o_orderkey + 3000 AS k,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) * 2 AS price_c,
      |    'N' AS status
      |  FROM orders WHERE o_orderkey >= 2000 AND o_orderkey < 2050),
      |s1 AS (
      |  SELECT * FROM upd
      |  UNION ALL
      |  SELECT * FROM base WHERE k NOT IN (SELECT k FROM upd)
      |  UNION ALL
      |  SELECT * FROM ins),
      |s2 AS (SELECT * FROM s1 WHERE NOT (k >= 1500 AND k < 1600))
      |SELECT status, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
      |  min(k) AS min_key, max(k) AS max_key
      |FROM s2 GROUP BY 1 ORDER BY status""".stripMargin

  // ---------------------------------------------------------------- q63
  // Changelog ACROSS a compaction (round 15): two CDC windows land
  // with a `CALL system.rewrite_data_files` REPLACE between them, then
  // ONE `changes()` call over the whole span. The replace snapshot is
  // content-preserving, so instead of refusing ("identity rewritten"),
  // the read decomposes into ordinal-ordered runs around it —
  // `_change_ordinal` 0 = the pre-compaction window's net changes,
  // 1 = the post-compaction window's, and a consumer applying runs in
  // ordinal order reconstructs the final state. The oracle replays
  // both runs as pure SELECT algebra (run 1's delete side reads the
  // POST-run-0 state — the ordering the ordinal exists to carry).
  private def q63(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft_q63_wh").toString
    val cat = new graft.catalog.SnapshotCatalog(s, wh)
    val eng = new graft.query.Engine(s, cat)
    try {
      val src = t(s, dir, "orders")
      def slice(lo: Long, hi: Long) =
        src.filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
      val base = src.filter(col("o_orderkey") < 2500)
        .select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100, 0).cast("long").as("price_c"),
          col("o_orderstatus").as("status"))
      cat.createTable("db", "o", base.schema)
      cat.append("db", "o", base)
      val s1 = cat.describe("db", "o").currentSnapshotId.get
      // run 0: update [100,200) (+3, 'A'), delete [900,950)
      cat.cdcUpsert("db", "o",
        rows = slice(100, 200).select(col("o_orderkey").as("k"),
          (round(col("o_totalprice") * 100, 0).cast("long") + 3).as("price_c"),
          lit("A").as("status")),
        deletes = slice(900, 950).select(col("o_orderkey").as("k")),
        keyCols = Seq("k"))
      // the replace between the runs — folds the delete side whole
      val rw = eng.sqlQuery("CALL system.rewrite_data_files('db.o')")
      require(!rw.startsWith("""{"error""""), s"rewrite_data_files: $rw")
      // the snapshots metadata table labels it (Iceberg's operation)
      val op = eng.sqlDataFrame(
        """SELECT operation FROM db.o.snapshots
          |ORDER BY snapshot_id DESC LIMIT 1""".stripMargin)._1
        .head().getString(0)
      require(op == "replace", s"expected a replace snapshot, got $op")
      // run 1: update [150,250) (*2, 'B'), delete [300,320)
      cat.cdcUpsert("db", "o",
        rows = slice(150, 250).select(col("o_orderkey").as("k"),
          (round(col("o_totalprice") * 100, 0).cast("long") * 2).as("price_c"),
          lit("B").as("status")),
        deletes = slice(300, 320).select(col("o_orderkey").as("k")),
        keyCols = Seq("k"))
      val out = eng.sqlDataFrame(
        s"""SELECT _change_ordinal AS run, _change_type,
           |  CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
           |  min(k) AS min_key, max(k) AS max_key
           |FROM changes('db.o', $s1)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)._1
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      out.collect().foreach(rows.add)
      s.createDataFrame(rows, out.schema)
    } finally {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
      } finally walk.close()
    }
  }

  private val q63Sql =
    """WITH base AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
      |    o_orderstatus AS status
      |  FROM orders WHERE o_orderkey < 2500),
      |updA AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) + 3 AS price_c,
      |    'A' AS status
      |  FROM orders WHERE o_orderkey >= 100 AND o_orderkey < 200),
      |run0 AS (
      |  SELECT 0 AS run, 'delete' AS _change_type, k, price_c FROM base
      |  WHERE k IN (SELECT k FROM updA)
      |     OR (k >= 900 AND k < 950)
      |  UNION ALL
      |  SELECT 0, 'insert', k, price_c FROM updA),
      |stateA AS (
      |  SELECT * FROM updA
      |  UNION ALL
      |  SELECT * FROM base
      |  WHERE k NOT IN (SELECT k FROM updA)
      |    AND NOT (k >= 900 AND k < 950)),
      |updB AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) * 2 AS price_c,
      |    'B' AS status
      |  FROM orders WHERE o_orderkey >= 150 AND o_orderkey < 250),
      |run1 AS (
      |  SELECT 1 AS run, 'delete' AS _change_type, k, price_c FROM stateA
      |  WHERE k IN (SELECT k FROM updB)
      |     OR (k >= 300 AND k < 320)
      |  UNION ALL
      |  SELECT 1, 'insert', k, price_c FROM updB)
      |SELECT run, _change_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
      |  min(k) AS min_key, max(k) AS max_key
      |FROM (SELECT * FROM run0 UNION ALL SELECT * FROM run1)
      |GROUP BY 1, 2 ORDER BY run, _change_type""".stripMargin

  // ---------------------------------------------------------------- q64
  // SAFE TYPE PROMOTION through the SQL surface (round 16 — Iceberg's
  // `ALTER TABLE … ALTER COLUMN … TYPE …` for the safe set): a table
  // is populated under NARROW types (int / decimal(9,2) / float),
  // promoted metadata-only to bigint / decimal(18,2) / double, then
  // written with rows that NEED the wide types, mutated by DML that
  // spans both file eras, and aggregated — old files cast at read
  // (the parquet reader widens natively under the promoted declared
  // schema), so the oracle is pure SELECT algebra applying the same
  // casts. Decimal sums are exact; the double column only ever
  // surfaces through order-independent min/max rounded to 2 digits,
  // so float→double widening (IEEE-exact in both engines)
  // hash-matches.
  private def q64(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft_q64_wh").toString
    val cat = new graft.catalog.SnapshotCatalog(s, wh)
    val eng = new graft.query.Engine(s, cat)
    try {
      import org.apache.spark.sql.types._
      val narrow = StructType(Seq(
        StructField("k", IntegerType), StructField("d", DecimalType(9, 2)),
        StructField("f", FloatType)))
      cat.createTable("db", "p", narrow)
      def run(sql: String): Unit = {
        val out = eng.sqlQuery(sql)
        require(!out.startsWith("""{"error""""), s"DML failed: $out — $sql")
      }
      val ordersPq = s"$dir/orders.parquet"
      // narrow era
      run(s"""INSERT INTO db.p
        |SELECT CAST(o_orderkey AS INT),
        |  CAST(round(o_totalprice, 2) AS DECIMAL(9,2)),
        |  CAST(o_totalprice AS FLOAT)
        |FROM parquet.`$ordersPq` WHERE o_orderkey < 1500""".stripMargin)
      val narrowFiles = cat.describe("db", "p").currentSnapshot.get.files
      // promotion: three metadata-only commits
      run("ALTER TABLE db.p ALTER COLUMN k TYPE BIGINT")
      run("ALTER TABLE db.p ALTER COLUMN d TYPE DECIMAL(18,2)")
      run("ALTER TABLE db.p ALTER COLUMN f TYPE DOUBLE")
      require(cat.describe("db", "p").currentSnapshot.get.files == narrowFiles,
        "promotion must not touch data files")
      require(cat.schemaOf("db", "p")("k").dataType == LongType)
      // wide era: values that NEED bigint range / decimal(18,2)
      run(s"""INSERT INTO db.p
        |SELECT o_orderkey + 5000000000,
        |  CAST(round(o_totalprice + 10000000000, 2) AS DECIMAL(18,2)),
        |  CAST(o_totalprice AS DOUBLE)
        |FROM parquet.`$ordersPq`
        |WHERE o_orderkey >= 1500 AND o_orderkey < 1600""".stripMargin)
      // DML spanning both eras under the promoted schema
      run("UPDATE db.p SET d = d + 0.25 WHERE k < 100")
      run("DELETE FROM db.p WHERE k >= 500 AND k < 700")
      val out = cat.read("db", "p")
        .groupBy(when(col("k") >= 5000000000L, "wide")
          .otherwise("narrow").as("era"))
        .agg(count(lit(1)).as("n"),
          sum("k").as("sum_k"),
          round(sum("d").cast("double"), 2).as("sum_d"),
          round(min("f"), 2).as("min_f"),
          round(max("f"), 2).as("max_f"))
        .orderBy("era")
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      out.collect().foreach(rows.add)
      val schema = out.schema
      s.createDataFrame(rows, schema)
    } finally {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
      } finally walk.close()
    }
  }

  private val q64Sql =
    """WITH narrow AS (
      |  SELECT CAST(CAST(o_orderkey AS INTEGER) AS BIGINT) AS k,
      |    CAST(CAST(round(o_totalprice, 2) AS DECIMAL(9,2))
      |      AS DECIMAL(18,2)) AS d,
      |    CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS f
      |  FROM orders WHERE o_orderkey < 1500),
      |wide AS (
      |  SELECT o_orderkey + 5000000000 AS k,
      |    CAST(round(o_totalprice + 10000000000, 2) AS DECIMAL(18,2)) AS d,
      |    CAST(o_totalprice AS DOUBLE) AS f
      |  FROM orders WHERE o_orderkey >= 1500 AND o_orderkey < 1600),
      |st AS (SELECT * FROM narrow UNION ALL SELECT * FROM wide),
      |upd AS (
      |  SELECT k, CASE WHEN k < 100 THEN d + 0.25 ELSE d END AS d, f
      |  FROM st),
      |fin AS (SELECT * FROM upd WHERE NOT (k >= 500 AND k < 700))
      |SELECT CASE WHEN k >= 5000000000 THEN 'wide' ELSE 'narrow' END AS era,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(k) AS BIGINT) AS sum_k,
      |  round(CAST(sum(d) AS DOUBLE), 2) AS sum_d,
      |  round(min(f), 2) AS min_f, round(max(f), 2) AS max_f
      |FROM fin GROUP BY 1 ORDER BY era""".stripMargin

  // ---------------------------------------------------------------- q65
  // WAP by wap.id (round 16 — Iceberg's `spark.wap.id` flavor of
  // write-audit-publish): an INSERT staged under `SET graft.wap.id`
  // lands on the internal `wap.id.<id>` ref while the published table
  // stays byte-unchanged; the table then MOVES (a DELETE commits on
  // main) — exactly the case `fast_forward` refuses — and
  // `CALL system.publish_changes` still publishes the staged batch by
  // CHERRY-PICKING it onto the new head: a metadata-only re-attach of
  // the appended files under a fresh sequence number (no data bytes
  // move), after which the staging ref is dropped so expiry can
  // reclaim the chain. The oracle replays the lifecycle as pure
  // SELECT algebra.
  private def q65(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft_q65_wh").toString
    val cat = new graft.catalog.SnapshotCatalog(s, wh)
    val eng = new graft.query.Engine(s, cat)
    try {
      val src = t(s, dir, "orders")
      val base = src.filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey").as("k"),
          round(col("o_totalprice") * 100, 0).cast("long").as("price_c"),
          col("o_orderstatus").as("status"))
      cat.createTable("db", "o", base.schema)
      cat.append("db", "o", base)
      val published = cat.describe("db", "o").currentSnapshotId.get
      val ordersPq = s"$dir/orders.parquet"
      def run(sql: String): Unit = {
        val out = eng.sqlQuery(sql)
        require(!out.startsWith("""{"error""""), s"failed: $out — $sql")
      }
      run("SET graft.wap.id = batch7")
      run(s"""INSERT INTO db.o
        |SELECT o_orderkey + 3000,
        |  CAST(round(o_totalprice * 100, 0) AS BIGINT) * 2, 'N'
        |FROM parquet.`$ordersPq`
        |WHERE o_orderkey >= 2000 AND o_orderkey < 2100""".stripMargin)
      val metaStaged = cat.describe("db", "o")
      require(metaStaged.currentSnapshotId.contains(published),
        "wap.id DML must not move the published pointer")
      require(metaStaged.refs.contains("wap.id.batch7"),
        "the staged ref must exist after wap.id DML")
      // audit the staged state through the read surface
      val nIns = src.filter(col("o_orderkey") >= 2000 &&
        col("o_orderkey") < 2100).count()
      val staged = eng.sqlDataFrame(
        "SELECT count(*) AS n FROM db.o VERSION AS OF 'wap.id.batch7'")._1
        .head().getLong(0)
      require(staged == base.count() + nIns,
        s"staged row count $staged != ${base.count()} + $nIns")
      run("SET graft.wap.id = ''")
      // the table MOVES under the staged batch: a published DELETE
      run("DELETE FROM db.o WHERE k >= 100 AND k < 300")
      require(!cat.describe("db", "o").currentSnapshotId.contains(published),
        "the published DELETE must have advanced main")
      // fast_forward is now impossible (main is not an ancestor of the
      // staged head); publish_changes cherry-picks instead
      run("CALL system.publish_changes('db.o', 'batch7')")
      require(!cat.describe("db", "o").refs.contains("wap.id.batch7"),
        "publish_changes must drop the staging ref")
      val out = cat.read("db", "o")
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("price_c").as("sum_price_c"),
          min("k").as("min_key"), max("k").as("max_key"))
        .orderBy("status")
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      out.collect().foreach(rows.add)
      val schema = out.schema
      s.createDataFrame(rows, schema)
    } finally {
      s.conf.set(graft.query.Engine.WapIdConf, "")
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
      } finally walk.close()
    }
  }

  private val q65Sql =
    """WITH base AS (
      |  SELECT o_orderkey AS k,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
      |    o_orderstatus AS status
      |  FROM orders WHERE o_orderkey < 2000),
      |ins AS (
      |  SELECT o_orderkey + 3000 AS k,
      |    CAST(round(o_totalprice * 100, 0) AS BIGINT) * 2 AS price_c,
      |    'N' AS status
      |  FROM orders WHERE o_orderkey >= 2000 AND o_orderkey < 2100),
      |s1 AS (
      |  SELECT * FROM base WHERE NOT (k >= 100 AND k < 300)
      |  UNION ALL
      |  SELECT * FROM ins)
      |SELECT status, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
      |  min(k) AS min_key, max(k) AS max_key
      |FROM s1 GROUP BY 1 ORDER BY status""".stripMargin

  // ---------------------------------------------------------------- q66
  // DECLARED CLUSTERING + SORTED REWRITE (round 16 — Iceberg's write
  // sort-order plus the rewrite_data_files SORT strategy): a table
  // scattered across shuffled appends declares its clustering
  // (`write.order`) and runs ONE deliberate Z-order rewrite
  // (`CALL system.rewrite_data_files('db.e', …, 'x,y')`). Row CONTENT
  // is provably unchanged (the oracle is plain SELECT algebra over
  // the inputs; the rewrite snapshot is labeled `replace` so
  // subscribers skip it), while the per-file min/max envelopes
  // tighten so a box predicate prunes most files from metadata alone
  // — required IN-QUERY: the box-intersecting file fraction must
  // strictly drop and at most half the clustered files may survive.
  // This is the layout lever that keeps multi-predicate scans
  // sublinear at 100 TB.
  private def q66(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft_q66_wh").toString
    val cat = new graft.catalog.SnapshotCatalog(s, wh)
    val eng = new graft.query.Engine(s, cat)
    try {
      val src = t(s, dir, "lineitem").select(
        col("l_orderkey").as("k"),
        col("l_partkey").as("x"),
        col("l_suppkey").as("y"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("price_c"))
      cat.createTable("db", "e", src.schema)
      // three shuffled appends: x/y values scatter across EVERY file,
      // so min/max envelopes are table-wide and prune nothing
      (0 until 3).foreach(i =>
        cat.append("db", "e", src.filter(col("k") % 3 === i)
          .repartition(4)))
      def run(sql: String): Unit = {
        val out = eng.sqlQuery(sql)
        require(!out.startsWith("""{"error""""), s"failed: $out — $sql")
      }
      // the table's declared clustering: routine maintenance keeps it
      run("ALTER TABLE db.e SET TBLPROPERTIES ('write.order' = 'x,y')")
      val bounds = src.agg(max("x"), max("y")).head()
      val xq = bounds.getAs[Number](0).longValue / 8
      val yq = bounds.getAs[Number](1).longValue / 8
      // files whose envelope intersects the box x<=xq && y<=yq — the
      // metadata-only pruning decision a reader makes
      def boxStats(): (Int, Int) = {
        val cur = cat.describe("db", "e").currentSnapshot.get
        val live = cur.files.toSet
        val sts = cur.fileStats.filter(st => live(st.path))
        val hit = sts.count { st =>
          val xmin = st.min.get("x").map(_.toDouble)
            .getOrElse(Double.NegativeInfinity)
          val ymin = st.min.get("y").map(_.toDouble)
            .getOrElse(Double.NegativeInfinity)
          xmin <= xq && ymin <= yq
        }
        (hit, sts.size)
      }
      val (hitBefore, nBefore) = boxStats()
      // one deliberate full Z-order rewrite; the target size adapts to
      // the scale factor so the clustered layout is always multi-file
      val tblBytes = cat.describe("db", "e").currentSnapshot.get.files
        .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum
      val target = math.max(16384L, tblBytes / 8)
      run(s"CALL system.rewrite_data_files('db.e', 1, $target, 'x,y')")
      require(cat.describe("db", "e").currentSnapshot.get.operation
          .contains("replace"),
        "the sorted rewrite must be a content-preserving replace")
      val (hitAfter, nAfter) = boxStats()
      require(nAfter > 1,
        s"need a multi-file clustered layout to prove pruning, got $nAfter")
      require(hitAfter.toDouble / nAfter < hitBefore.toDouble / nBefore,
        s"clustering must tighten pruning: $hitAfter/$nAfter hit after " +
          s"vs $hitBefore/$nBefore before")
      require(hitAfter * 2 <= nAfter,
        s"at most half the clustered files may intersect the box, " +
          s"got $hitAfter/$nAfter")
      val out = cat.read("db", "e")
        .filter(col("x") <= xq && col("y") <= yq)
        .groupBy((col("k") % 4).as("bucket"))
        .agg(count(lit(1)).as("n"), sum("price_c").as("sum_price_c"),
          min("x").as("min_x"), max("y").as("max_y"))
        .orderBy("bucket")
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      out.collect().foreach(rows.add)
      val schema = out.schema
      s.createDataFrame(rows, schema)
    } finally {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
      } finally walk.close()
    }
  }

  private val q66Sql =
    """WITH src AS (
      |  SELECT l_orderkey AS k, l_partkey AS x, l_suppkey AS y,
      |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_c
      |  FROM lineitem),
      |b AS (
      |  SELECT CAST(floor(max(x) / 8.0) AS BIGINT) AS xq,
      |    CAST(floor(max(y) / 8.0) AS BIGINT) AS yq
      |  FROM src)
      |SELECT k % 4 AS bucket, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(price_c) AS BIGINT) AS sum_price_c,
      |  min(x) AS min_x, max(y) AS max_y
      |FROM src, b WHERE x <= xq AND y <= yq
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------- q67
  // DELETE-SIDE-ONLY MAINTENANCE (round 16 — Iceberg's
  // `rewrite_position_delete_files`, plus the eq→pos conversion its
  // compaction performs): a merge-on-read table accumulates THREE
  // positional delete files (three needle DELETEs) and an equality
  // delete with a same-commit re-insert (the CDC upsert shape, which
  // exercises the sequence gate: the eq entry hides only the OLD row).
  // One `CALL system.rewrite_position_delete_files` then consolidates
  // the whole delete side to a single range-sorted file and converts
  // the equality entry to exact positions — REQUIRED in-query: zero
  // data files touched, one delete file after, eq side empty, and the
  // manifest row count metadata-only again. The final aggregate is
  // oracled against pure SELECT algebra, so the rewrite is proven
  // content-preserving. At 100 TB this is the cheap intermediate
  // between real compactions: O(delete side), never O(table).
  private def q67(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft_q67_wh").toString
    val cat = new graft.catalog.SnapshotCatalog(s, wh)
    val eng = new graft.query.Engine(s, cat)
    try {
      import s.implicits._
      def run(sql: String): String = {
        val out = eng.sqlQuery(sql)
        require(!out.startsWith("""{"error""""), s"failed: $out — $sql")
        out
      }
      val ordersPq = s"$dir/orders.parquet"
      // TBLPROPERTIES at CREATE drives the MoR write path end to end
      run("CREATE TABLE db.m (k BIGINT, price DOUBLE, status STRING) " +
        "TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
      run(s"""INSERT INTO db.m
        |SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM parquet.`$ordersPq` WHERE o_orderkey < 2000""".stripMargin)
      val dataFiles = cat.describe("db", "m").currentSnapshot.get.files
      // three separate MoR deletes → three positional delete files
      run("DELETE FROM db.m WHERE k BETWEEN 100 AND 300")
      run("DELETE FROM db.m WHERE k % 7 = 0")
      run("DELETE FROM db.m WHERE k BETWEEN 1500 AND 1600")
      // an equality delete + same-commit re-insert (the CDC shape)
      cat.cdcUpsert("db", "m",
        rows = Seq((1L, -1.0, "X")).toDF("k", "price", "status"),
        deletes = s.read.parquet(ordersPq)
          .filter(col("o_orderkey") < 2000 && col("o_orderkey") % 13 === 1)
          .select(col("o_orderkey").as("k")),
        keyCols = Seq("k"))
      val before = cat.describe("db", "m").currentSnapshot.get
      require(before.deleteFiles.size >= 3 && before.eqDeletes.nonEmpty,
        s"need an accumulated delete side, got ${before.deleteFiles.size} " +
          s"pos files / ${before.eqDeletes.size} eq entries")
      require(before.statsRowCount.isEmpty,
        "eq entries must force the scan-count path before the rewrite")
      val rep = run("CALL system.rewrite_position_delete_files('db.m')")
      require(rep.contains("\"delete_files_after\":1"), rep)
      val after = cat.describe("db", "m").currentSnapshot.get
      require(after.files == before.files &&
          dataFiles.forall(after.files.contains),
        "the delete rewrite must not touch data files")
      require(after.eqDeletes.isEmpty && after.deleteFiles.size == 1,
        s"expected one consolidated delete file, got " +
          s"${after.deleteFiles.size} / ${after.eqDeletes.size} eq")
      require(after.statsRowCount.isDefined,
        "eq→pos conversion must restore the metadata-only row count")
      require(after.operation.contains("replace"),
        "the delete rewrite must be a content-preserving replace")
      val out = cat.read("db", "m")
        .groupBy("status")
        // per-row integer cents, then an exact BIGINT sum — immune to
        // float summation order (the q66 discipline)
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          sum(round(col("price") * 100, 0).cast("long")).as("sum_price_c"))
        .orderBy("status")
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      out.collect().foreach(rows.add)
      val schema = out.schema
      s.createDataFrame(rows, schema)
    } finally {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
      } finally walk.close()
    }
  }

  private val q67Sql =
    """WITH base AS (
      |  SELECT o_orderkey AS k, o_totalprice AS price,
      |    o_orderstatus AS status
      |  FROM orders WHERE o_orderkey < 2000),
      |d1 AS (SELECT * FROM base WHERE NOT (k BETWEEN 100 AND 300)),
      |d2 AS (SELECT * FROM d1 WHERE NOT (k % 7 = 0)),
      |d3 AS (SELECT * FROM d2 WHERE NOT (k BETWEEN 1500 AND 1600)),
      |cdc AS (
      |  SELECT * FROM d3 WHERE NOT (k % 13 = 1)
      |  UNION ALL
      |  SELECT CAST(1 AS BIGINT), CAST(-1.0 AS DOUBLE), 'X')
      |SELECT status, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(k) AS BIGINT) AS sum_k,
      |  CAST(sum(CAST(round(price * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_price_c
      |FROM cdc GROUP BY status ORDER BY status""".stripMargin

  // ---------------------------------------------------------------- q68
  // ZERO-COPY ADOPTION (round 16 — Iceberg's `add_files` procedure):
  // an EXTERNAL parquet dataset (4 range-partitioned files staged
  // outside any warehouse) is registered into a fresh merge-on-read
  // table by `CALL system.add_files` — REQUIRED in-query: every
  // registered path IS the external path (no byte copied or moved),
  // the report's added_rows equals the staged count, and a subsequent
  // MoR DELETE lands positional deletes NAMING the imported files
  // while leaving them untouched on disk. A plain INSERT then mixes
  // catalog-written files with imported ones in the same snapshot.
  // The final aggregate is oracled against pure SELECT algebra over
  // the same source rows, so the import + DML-on-imports read path is
  // proven exact. At 100 TB this is the migration story: adopting a
  // parquet lake costs one stats pass and one commit, not a copy.
  private def q68(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft_q68_wh").toString
    val staging =
      java.nio.file.Files.createTempDirectory("graft_q68_src").toString
    val cat = new graft.catalog.SnapshotCatalog(s, wh)
    val eng = new graft.query.Engine(s, cat)
    try {
      def run(sql: String): String = {
        val out = eng.sqlQuery(sql)
        require(!out.startsWith("""{"error""""), s"failed: $out — $sql")
        out
      }
      val ext = s"$staging/orders_ext"
      val src = s.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderkey") < 4000)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").as("price"),
          col("o_orderstatus").as("status"))
      src.repartitionByRange(4, col("k")).write.parquet(ext)
      val stagedRows = s.read.parquet(ext).count()
      run("CREATE TABLE db.imp (k BIGINT, price DOUBLE, status STRING) " +
        "TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
      val rep = run(s"CALL system.add_files('db.imp', '$ext')")
      require(rep.contains(s""""added_rows":$stagedRows"""), rep)
      val snap0 = cat.describe("db", "imp").currentSnapshot.get
      require(snap0.files.nonEmpty &&
          snap0.files.forall(_.startsWith(staging)),
        s"import must register the EXTERNAL paths, got ${snap0.files}")
      // MoR DELETE on top: positional deletes name the imported files;
      // the external bytes stay untouched and fully registered
      run("DELETE FROM db.imp WHERE k % 5 = 0")
      val afterDel = cat.describe("db", "imp").currentSnapshot.get
      require(snap0.files.forall(afterDel.files.contains) &&
          afterDel.deleteFiles.nonEmpty,
        "MoR delete over imports must keep the imported files live " +
          "under a positional delete side")
      run("INSERT INTO db.imp SELECT CAST(9000001 AS BIGINT), " +
        "CAST(10.5 AS DOUBLE), 'Z'")
      run("INSERT INTO db.imp SELECT CAST(9000002 AS BIGINT), " +
        "CAST(20.5 AS DOUBLE), 'Z'")
      val out = cat.read("db", "imp")
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          sum(round(col("price") * 100, 0).cast("long")).as("sum_price_c"))
        .orderBy("status")
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      out.collect().foreach(rows.add)
      s.createDataFrame(rows, out.schema)
    } finally {
      Seq(wh, staging).foreach { d =>
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
            .foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
        } finally walk.close()
      }
    }
  }

  private val q68Sql =
    """WITH base AS (
      |  SELECT o_orderkey AS k, o_totalprice AS price,
      |    o_orderstatus AS status
      |  FROM orders WHERE o_orderkey < 4000),
      |kept AS (
      |  SELECT * FROM base WHERE NOT (k % 5 = 0)
      |  UNION ALL
      |  SELECT CAST(9000001 AS BIGINT), CAST(10.5 AS DOUBLE), 'Z'
      |  UNION ALL
      |  SELECT CAST(9000002 AS BIGINT), CAST(20.5 AS DOUBLE), 'Z')
      |SELECT status, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(k) AS BIGINT) AS sum_k,
      |  CAST(sum(CAST(round(price * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_price_c
      |FROM kept GROUP BY status ORDER BY status""".stripMargin

  // ---------------------------------------------------------------- q69
  // PARTITION-SPEC EVOLUTION DDL (round 16 — Iceberg's
  // `ALTER TABLE … ADD/REPLACE/DROP PARTITION FIELD`, extension
  // syntax pre-parse-intercepted): a table lives through FOUR spec
  // eras — unpartitioned → bucket(4, k) → identity(cat) → dropped —
  // with an INSERT batch landing under each. REQUIRED in-query: every
  // ALTER is metadata-only (the data file list is IDENTICAL across
  // each spec commit), the manifest records three distinct pspec
  // eras + the specless ones, and a point predicate on the identity
  // era's column file-prunes THROUGH the mixed-era manifest (each
  // file judged under the spec it was written with — bucket-era and
  // specless files conservatively kept). The final aggregate is
  // oracled against pure SELECT algebra, so four-era reads are exact.
  // At 100 TB re-partitioning is a pointer-sized commit, never a
  // rewrite — this query is that contract at the SQL surface.
  private def q69(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft_q69_wh").toString
    val cat = new graft.catalog.SnapshotCatalog(s, wh)
    val eng = new graft.query.Engine(s, cat)
    try {
      def run(sql: String): String = {
        val out = eng.sqlQuery(sql)
        require(!out.startsWith("""{"error""""), s"failed: $out — $sql")
        out
      }
      def dataFiles() =
        cat.describe("db", "pe").currentSnapshot.get.files.toSet
      val pq = s"$dir/orders.parquet"
      def ins(lo: Int, hi: Int) = run(
        s"""INSERT INTO db.pe
           |SELECT o_orderkey, o_orderstatus, o_totalprice
           |FROM parquet.`$pq`
           |WHERE o_orderkey >= $lo AND o_orderkey < $hi""".stripMargin)
      run("CREATE TABLE db.pe (k BIGINT, cat STRING, price DOUBLE)")
      ins(0, 1500) // era 1: unpartitioned
      val before1 = dataFiles()
      run("ALTER TABLE db.pe ADD PARTITION FIELD bucket(4, k)")
      require(dataFiles() == before1, "spec evolution must be metadata-only")
      ins(1500, 3000) // era 2: bucket(4, k)
      val before2 = dataFiles()
      run("ALTER TABLE db.pe REPLACE PARTITION FIELD bucket(4, k) " +
        "WITH identity(cat)")
      require(dataFiles() == before2, "spec evolution must be metadata-only")
      ins(3000, 4500) // era 3: identity(cat)
      val before3 = dataFiles()
      run("ALTER TABLE db.pe DROP PARTITION FIELD cat")
      require(dataFiles() == before3, "spec evolution must be metadata-only")
      ins(4500, 6000) // era 4: unpartitioned again
      val snap = cat.describe("db", "pe").currentSnapshot.get
      val eras = snap.fileStats.flatMap(_.pspec).distinct.sorted
      require(eras == Seq("bucket(4, k)", "identity(cat)"),
        s"expected two recorded pspec eras, got $eras")
      require(snap.fileStats.exists(_.pspec.isEmpty),
        "specless-era files must record no pval era")
      // mixed-era point predicate prunes: identity-era files with the
      // wrong cat value drop, every other era conservatively kept
      val kept = cat.prunedFilesPvalEras(snap, "cat", "F",
        org.apache.spark.sql.types.StringType)
      require(kept.size < snap.files.size,
        s"identity-era pruning must bite: ${kept.size}/${snap.files.size}")
      val idEra = snap.fileStats
        .filter(_.pspec.contains("identity(cat)")).map(_.path).toSet
      require(snap.files.filterNot(idEra).forall(kept.contains),
        "files from other eras must be conservatively kept")
      val out = cat.read("db", "pe")
        .groupBy("cat")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          sum(round(col("price") * 100, 0).cast("long")).as("sum_price_c"))
        .orderBy("cat")
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      out.collect().foreach(rows.add)
      s.createDataFrame(rows, out.schema)
    } finally {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
      } finally walk.close()
    }
  }

  private val q69Sql =
    """SELECT o_orderstatus AS cat, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_k,
      |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_price_c
      |FROM orders WHERE o_orderkey < 6000
      |GROUP BY cat ORDER BY cat""".stripMargin

  // ---------------------------------------------------------------- q70
  // ZERO-COPY TABLE FORK (round 16 — Iceberg's `snapshot` procedure):
  // a merge-on-read production table (insert + MoR DELETE, so a live
  // delete side exists) is forked by `CALL system.snapshot` —
  // REQUIRED in-query: the fork's first snapshot references the
  // SOURCE's data AND delete files verbatim (zero bytes copied).
  // Divergent DML then runs on both sides (more deletes + an insert
  // on the fork; nothing on prod), and the output is BOTH tables'
  // aggregates labeled by side — oracled against pure SELECT algebra,
  // so the fork semantics are proven: identical at fork time, fully
  // isolated after. At 100 TB this is test-in-prod: trialing a risky
  // MERGE against production data costs one metadata commit.
  private def q70(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft_q70_wh").toString
    val cat = new graft.catalog.SnapshotCatalog(s, wh)
    val eng = new graft.query.Engine(s, cat)
    try {
      def run(sql: String): String = {
        val out = eng.sqlQuery(sql)
        require(!out.startsWith("""{"error""""), s"failed: $out — $sql")
        out
      }
      val pq = s"$dir/orders.parquet"
      run("CREATE TABLE db.prod (k BIGINT, cat STRING, price DOUBLE) " +
        "TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
      run(s"""INSERT INTO db.prod
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM parquet.`$pq` WHERE o_orderkey < 3000""".stripMargin)
      run("DELETE FROM db.prod WHERE k % 3 = 0")
      val prodSnap = cat.describe("db", "prod").currentSnapshot.get
      require(prodSnap.deleteFiles.nonEmpty,
        "need a live MoR delete side at fork time")
      run("CALL system.snapshot('db.prod', 'db.fork')")
      val forkSnap = cat.describe("db", "fork").currentSnapshot.get
      require(forkSnap.files == prodSnap.files &&
          forkSnap.deleteFiles == prodSnap.deleteFiles,
        "the fork must reference the source's data AND delete files " +
          "verbatim — zero copy")
      // divergent DML: the fork moves, prod must not
      run("DELETE FROM db.fork WHERE k % 7 = 1")
      run("INSERT INTO db.fork SELECT CAST(9000001 AS BIGINT), 'Z', " +
        "CAST(5.5 AS DOUBLE)")
      require(cat.describe("db", "prod").currentSnapshot.get == prodSnap,
        "fork DML must never move the source")
      def side(t: String, label: String) = cat.read("db", t)
        .groupBy("cat")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          sum(round(col("price") * 100, 0).cast("long")).as("sum_price_c"))
        .withColumn("side", lit(label))
        .select("side", "cat", "n", "sum_k", "sum_price_c")
      val out = side("prod", "prod").unionAll(side("fork", "fork"))
        .orderBy("side", "cat")
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      out.collect().foreach(rows.add)
      s.createDataFrame(rows, out.schema)
    } finally {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
      } finally walk.close()
    }
  }

  private val q70Sql =
    """WITH base AS (
      |  SELECT o_orderkey AS k, o_orderstatus AS cat,
      |    o_totalprice AS price
      |  FROM orders WHERE o_orderkey < 3000),
      |prod AS (SELECT * FROM base WHERE NOT (k % 3 = 0)),
      |fork AS (
      |  SELECT * FROM prod WHERE NOT (k % 7 = 1)
      |  UNION ALL
      |  SELECT CAST(9000001 AS BIGINT), 'Z', CAST(5.5 AS DOUBLE)),
      |lab AS (
      |  SELECT 'prod' AS side, * FROM prod
      |  UNION ALL
      |  SELECT 'fork' AS side, * FROM fork)
      |SELECT side, cat, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(k) AS BIGINT) AS sum_k,
      |  CAST(sum(CAST(round(price * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_price_c
      |FROM lab GROUP BY side, cat ORDER BY side, cat""".stripMargin

  // ---------------------------------------------------------------- q71
  // RTAS (round 16 — `CREATE OR REPLACE TABLE … AS SELECT`): a
  // merge-on-read table with a live delete side is REPLACED in one
  // commit — new content AND a new declared schema (one column
  // preserved by name+type, the rest dropped/new). REQUIRED in-query:
  // history is retained (the pre-replace snapshot stays readable),
  // time travel under the NEW schema reads the PRESERVED column's old
  // values exactly (stable field id) while new columns null-pad, and
  // the delete side died with the replace. The post-replace aggregate
  // is oracled against pure SELECT algebra. At 100 TB RTAS is the
  // rebuild-a-derived-table primitive: atomic cutover, old version
  // still auditable until expiry.
  private def q71(s: SparkSession, dir: String): DataFrame = {
    val wh = java.nio.file.Files.createTempDirectory("graft_q71_wh").toString
    val cat = new graft.catalog.SnapshotCatalog(s, wh)
    val eng = new graft.query.Engine(s, cat)
    try {
      def run(sql: String): String = {
        val out = eng.sqlQuery(sql)
        require(!out.startsWith("""{"error""""), s"failed: $out — $sql")
        out
      }
      val pq = s"$dir/orders.parquet"
      run("CREATE TABLE db.r (k BIGINT, cat STRING, price DOUBLE) " +
        "TBLPROPERTIES ('write.delete.mode' = 'merge-on-read')")
      run(s"""INSERT INTO db.r
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM parquet.`$pq` WHERE o_orderkey < 2000""".stripMargin)
      run("DELETE FROM db.r WHERE k % 4 = 0")
      val before = cat.describe("db", "r").currentSnapshot.get
      require(before.deleteFiles.nonEmpty, "need a live MoR delete side")
      val v1 = before.snapshotId
      val preCount = cat.read("db", "r").count()
      val preSumK = cat.read("db", "r")
        .agg(sum("k")).head.getLong(0)
      // the replace: k survives (name+type), price becomes price_c
      // BIGINT (new column), cat is dropped, status is new
      run(s"""CREATE OR REPLACE TABLE db.r AS
        |SELECT o_orderkey AS k,
        |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS price_c,
        |  o_orderstatus AS status
        |FROM parquet.`$pq`
        |WHERE o_orderkey >= 2000 AND o_orderkey < 5000""".stripMargin)
      val after = cat.describe("db", "r")
      require(after.snapshots.exists(_.snapshotId == v1),
        "RTAS must retain history")
      require(after.currentSnapshot.get.deleteFiles.isEmpty &&
          after.currentSnapshot.get.eqDeletes.isEmpty,
        "the delete side must die with the replace")
      // pre-replace snapshot under the NEW schema: preserved k reads
      // its old values (incl. the MoR deletes), new columns null-pad
      val tt = cat.read("db", "r", snapshotId = Some(v1))
      require(tt.count() == preCount &&
          tt.agg(sum("k")).head.getLong(0) == preSumK,
        "preserved-column time travel must read the old values exactly")
      require(tt.filter(col("price_c").isNotNull ||
          col("status").isNotNull).count() == 0,
        "new columns must null-pad in pre-replace snapshots")
      val out = cat.read("db", "r")
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          sum("price_c").as("sum_price_c"))
        .orderBy("status")
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
      out.collect().foreach(rows.add)
      s.createDataFrame(rows, out.schema)
    } finally {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(wh))
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
          .foreach(p => java.nio.file.Files.deleteIfExists(p): Unit)
      } finally walk.close()
    }
  }

  private val q71Sql =
    """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_k,
      |  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
      |    AS sum_price_c
      |FROM orders WHERE o_orderkey >= 2000 AND o_orderkey < 5000
      |GROUP BY status ORDER BY status""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q00_scan_limit", q00, Some(q00Sql)),
    QuerySpec("q01_agg_fullscan", q01, Some(q01Sql)),
    QuerySpec("q02_filter_pushdown", q02, Some(q02Sql)),
    QuerySpec("q03_join_multiway", q03, Some(q03Sql)),
    QuerySpec("q04_window_rank", q04, Some(q04Sql)),
    QuerySpec("q05_topk", q05, Some(q05Sql)),
    QuerySpec("q06_setops", q06, Some(q06Sql)),
    QuerySpec("q07_rollup", q07, Some(q07Sql)),
    QuerySpec("q08_distinct_agg", q08, Some(q08Sql)),
    QuerySpec("q09_string_fns", q09, Some(q09Sql)),
    QuerySpec("q10_date_fns", q10, Some(q10Sql)),
    QuerySpec("q11_semi_anti", q11, Some(q11Sql)),
    QuerySpec("q12_sql_passthrough", q12, Some(q12Sql)),
    QuerySpec("q13_event_window", q13, Some(q13Sql)),
    QuerySpec("q14_sessionize", q14, Some(q14Sql)),
    QuerySpec("q15_generator", q15, Some(q15Sql)),
    QuerySpec("q16_partition_paths", q16, Some(q16Sql)),
    QuerySpec("q17_json_extract", q17, Some(q17Sql)),
    QuerySpec("q18_cube", q18, Some(q18Sql)),
    QuerySpec("q19_subqueries", q19, Some(q19Sql)),
    QuerySpec("q20_asof_join", q20, Some(q20Sql)),
    QuerySpec("q21_approx_distinct", q21, Some(q21Sql)),
    QuerySpec("q22_pivot", q22, Some(q22Sql)),
    QuerySpec("q23_collection_fns", q23, Some(q23Sql)),
    QuerySpec("q24_approx_quantiles", q24, Some(q24Sql)),
    QuerySpec("q25_range_join", q25, Some(q25Sql)),
    QuerySpec("q26_zorder_key", q26, Some(q26Sql)),
    QuerySpec("q27_stat_aggs", q27, Some(q27Sql)),
    QuerySpec("q28_unpivot", q28, Some(q28Sql)),
    QuerySpec("q29_asof_forward", q29, Some(q29Sql)),
    QuerySpec("q30_grouped_topk", q30, Some(q30Sql)),
    QuerySpec("q31_session_window", q31, Some(q31Sql)),
    QuerySpec("q32_column_profile", q32, Some(q32Sql)),
    QuerySpec("q33_percentiles_exact", q33, Some(q33Sql)),
    QuerySpec("q34_window_frames", q34, Some(q34Sql)),
    QuerySpec("q35_hll_rollup", q35, Some(q35Sql)),
    QuerySpec("q36_kmv_retention", q36, Some(q36Sql)),
    QuerySpec("q37_funnel", q37, Some(q37Sql)),
    QuerySpec("q38_range_frames", q38, Some(q38Sql)),
    QuerySpec("q39_variant_json", q39, Some(q39Sql)),
    QuerySpec("q40_gap_fill", q40, Some(q40Sql)),
    QuerySpec("q41_map_fns", q41, Some(q41Sql)),
    QuerySpec("q42_grouping_sets", q42, Some(q42Sql)),
    QuerySpec("q43_time_travel", q43, Some(q43Sql)),
    QuerySpec("q44_snapshots_meta", q44, Some(q44Sql)),
    QuerySpec("q45_range_join_sql", q45, Some(q45Sql)),
    QuerySpec("q46_profile_onepass", q46, Some(q46Sql)),
    QuerySpec("q47_interval_overlap", q47, Some(q47Sql)),
    QuerySpec("q48_skew_salted_agg", q48, Some(q48Sql)),
    QuerySpec("q49_mv_incremental", q49, Some(q49Sql)),
    QuerySpec("q50_curation_sql_fn", q50, Some(q50Sql)),
    QuerySpec("q51_jsonl_roundtrip", q51, Some(q51Sql)),
    QuerySpec("q52_pagerank", q52, Some(q52Sql)),
    QuerySpec("q53_avro_roundtrip", q53, Some(q53Sql)),
    QuerySpec("q54_orc_roundtrip", q54, Some(q54Sql)),
    QuerySpec("q55_hits", q55, Some(q55Sql)),
    QuerySpec("q56_sql_dml", q56, Some(q56Sql)),
    QuerySpec("q57_sql_delete_mor", q57, Some(q57Sql)),
    QuerySpec("q58_cdc_mor", q58, Some(q58Sql)),
    QuerySpec("q59_merge_mor", q59, Some(q59Sql)),
    QuerySpec("q60_changelog_sql", q60, Some(q60Sql)),
    QuerySpec("q61_maintenance_sql", q61, Some(q61Sql)),
    QuerySpec("q62_wap_branch_dml", q62, Some(q62Sql)),
    QuerySpec("q63_changelog_across_compaction", q63, Some(q63Sql)),
    QuerySpec("q64_type_promotion", q64, Some(q64Sql)),
    QuerySpec("q65_wap_id_publish", q65, Some(q65Sql)),
    QuerySpec("q66_clustered_rewrite", q66, Some(q66Sql)),
    QuerySpec("q67_delete_file_rewrite", q67, Some(q67Sql)),
    QuerySpec("q68_add_files", q68, Some(q68Sql)),
    QuerySpec("q69_partition_evolution_ddl", q69, Some(q69Sql)),
    QuerySpec("q70_table_snapshot", q70, Some(q70Sql)),
    QuerySpec("q71_rtas", q71, Some(q71Sql)))
}
