package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.catalog.SnapshotCatalog
import graft.ingest.PurchaseEvents
import graft.query.{Engine, HttpApi}

/** Drives the real HTTP surface end-to-end: both reference servers'
  * routes, request bodies, and status codes (duckdb_rest_server.py /
  * pyiceberg_rest_server.py / rest-api.http).
  */
class HttpApiSpec extends SparkTestBase {

  private lazy val engine: Engine = {
    val cat = new SnapshotCatalog(spark, tmpDir("graft-http"))
    cat.createTable("default_db", "purchase_events", PurchaseEvents.schema)
    cat.append("default_db", "purchase_events",
      PurchaseEvents.batch(spark, 1700000000000L, 12))
    new Engine(spark, cat)
  }

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, pathQ: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathQ")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("duckdb-style server: /query, /query_parquet, /list_parquet, /health") {
    val api = new HttpApi(engine, HttpApi.Kind.Sql)
    api.start()
    try {
      val p = api.boundPort
      assert(get(p, "/health") == (200, """{"status":"healthy"}"""))

      // arbitrary SQL in the reference's own dialect (README.md:288 shape)
      val (c1, b1) = post(p, "/query",
        s"""{"query": "SELECT * FROM read_parquet('$sf0001/region.parquet') LIMIT 3", "limit": 1000}""")
      assert(c1 == 200 && "\"r_name\"".r.findAllIn(b1).size == 3)

      // missing query -> 400, duckdb_rest_server.py:70-71
      assert(post(p, "/query", "{}") ==
        (400, """{"error":"No query provided"}"""))

      // bad SQL -> 500 + error envelope
      val (c2, b2) = post(p, "/query", """{"query": "SELECT FROM"}""")
      assert(c2 == 500 && b2.startsWith("""{"error":"""))

      val (c3, b3) = get(p, s"/query_parquet?path=$sf0001/nation.parquet&limit=4")
      assert(c3 == 200 && "\"n_name\"".r.findAllIn(b3).size == 4)

      val (c4, b4) = get(p, s"/list_parquet?path=$sf0001/*.parquet")
      assert(c4 == 200 && b4.endsWith(""","count":10}"""))

      // a dotted or repeated column name is a reply, not an error
      assert(post(p, "/query", """{"query": "SELECT 1 AS `a.b`, 2 AS c, 3 AS c"}""") ==
        (200, """{"records":[{"a.b":1,"c":2,"c":3}]}"""))
    } finally api.stop()
  }

  test("pyiceberg-style server: catalog routes + table query + 404s") {
    val api = new HttpApi(engine, HttpApi.Kind.Catalog)
    api.start()
    try {
      val p = api.boundPort
      assert(get(p, "/health")._1 == 200)
      assert(get(p, "/namespaces") == (200, """{"namespaces":["default_db"]}"""))
      assert(get(p, "/tables?namespace=default_db")._2.contains("purchase_events"))

      val (ci, bi) = get(p, "/table?namespace=default_db&table=purchase_events")
      assert(ci == 200 && bi.contains(""""format_version":2"""))

      // rest-api.http:29-36 — POST /query with limit 10
      val (cq, bq) = post(p, "/query",
        """{"namespace": "default_db", "table": "purchase_events", "limit": 10}""")
      assert(cq == 200 && "\"action\"".r.findAllIn(bq).size == 10)

      // rest-api.http:53-60 — missing table -> 404 + error envelope
      val (cm, bm) = post(p, "/query",
        """{"namespace": "default_db", "table": "another_table", "limit": 10}""")
      assert(cm == 404 &&
        bm == """{"error":"Table default_db.another_table does not exist"}""")
      assert(get(p, "/table?namespace=nope&table=missing")._1 == 404)

      // rest-api.http:65-71 — no limit -> default 100 (12 rows exist)
      val (cd, bd) = post(p, "/query",
        """{"namespace": "default_db", "table": "purchase_events"}""")
      assert(cd == 200 && "\"action\"".r.findAllIn(bd).size == 12)
    } finally api.stop()
  }

  test("POST /query filter routes through manifest pruning (kept < total)") {
    import spark.implicits._
    val cat = new SnapshotCatalog(spark, tmpDir("graft-http-prune"))
    cat.createTable("default_db", "ranged",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType))))
    // three disjoint id ranges -> three prunable file groups
    cat.append("default_db", "ranged", (1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v"))
    cat.append("default_db", "ranged", (1000L to 1100L).map(i => (i, i * 1.0)).toDF("id", "v"))
    cat.append("default_db", "ranged", (5000L to 5100L).map(i => (i, i * 1.0)).toDF("id", "v"))
    val api = new HttpApi(new Engine(spark, cat), HttpApi.Kind.Catalog)
    api.start()
    try {
      val p = api.boundPort
      val (c, b) = post(p, "/query",
        """{"namespace": "default_db", "table": "ranged",
          | "filter_column": "id", "min": 1000, "max": 1100, "limit": 200}""".stripMargin)
      assert(c == 200, b)
      assert("\"id\"".r.findAllIn(b).size == 101, "all 101 in-range rows")
      val prune = """"pruned":\{"kept":(\d+),"total":(\d+)\}""".r
        .findFirstMatchIn(b).getOrElse(fail(s"no prune audit in $b"))
      assert(prune.group(1).toInt < prune.group(2).toInt,
        s"expected kept < total in $b")
      // residual applies within kept files: one-sided min pins the tail
      val (c2, b2) = post(p, "/query",
        """{"namespace": "default_db", "table": "ranged",
          | "filter_column": "id", "min": 5050, "limit": 200}""".stripMargin)
      assert(c2 == 200 && "\"id\"".r.findAllIn(b2).size == 51, b2)
    } finally api.stop()
  }

  test("metadata tables and time travel reach the HTTP SQL endpoint") {
    import spark.implicits._
    val cat = new SnapshotCatalog(spark, tmpDir("graft-http-meta"))
    cat.createTable("db", "ht",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType))))
    cat.append("db", "ht", Seq(1L, 2L).toDF("id"))
    cat.append("db", "ht", Seq(3L).toDF("id"))
    val api = new HttpApi(new Engine(spark, cat), HttpApi.Kind.Sql)
    api.start()
    try {
      val p = api.boundPort
      val (c1, b1) = post(p, "/query",
        """{"query": "SELECT count(*) AS n_snaps FROM db.ht.snapshots"}""")
      assert(c1 == 200 && b1.contains("\"n_snaps\":2"), b1)
      val (c2, b2) = post(p, "/query",
        """{"query": "SELECT count(*) AS c FROM db.ht VERSION AS OF 1"}""")
      assert(c2 == 200 && b2.contains("\"c\":2"), b2)
    } finally api.stop()
  }

  test("POST /query lookup routes through bloom point-lookup pruning") {
    import spark.implicits._
    val cat = new SnapshotCatalog(spark, tmpDir("graft-http-bloom"))
    cat.createTable("default_db", "keyed",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("uid", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType))),
      Map(SnapshotCatalog.BloomColumnsProp -> "uid"))
    // interleaved key sets: range stats keep a file from every append,
    // the bloom keeps only the append that holds the key
    cat.append("default_db", "keyed", (0 until 300 by 3).map(i => (f"u$i%04d", i.toLong)).toDF("uid", "n"))
    cat.append("default_db", "keyed", (1 until 300 by 3).map(i => (f"u$i%04d", i.toLong)).toDF("uid", "n"))
    cat.append("default_db", "keyed", (2 until 300 by 3).map(i => (f"u$i%04d", i.toLong)).toDF("uid", "n"))
    // no bloom column, bucket(4, uid) partitioning: the partition
    // values alone prune three quarters of the files
    cat.createTable("default_db", "bucketed", cat.schemaOf("default_db", "keyed"),
      Map(graft.catalog.PartitionSpec.PropertyKey -> "bucket(4, uid)"))
    for (r <- 0 until 3)
      cat.append("default_db", "bucketed", (r until 300 by 3).map(i => (f"u$i%04d", i.toLong)).toDF("uid", "n"))
    val api = new HttpApi(new Engine(spark, cat), HttpApi.Kind.Catalog)
    api.start()
    try {
      val p = api.boundPort
      val (c, b) = post(p, "/query",
        """{"namespace": "default_db", "table": "keyed",
          | "lookup_column": "uid", "lookup_value": "u0042"}""".stripMargin)
      assert(c == 200, b)
      assert(""""n":42""".r.findAllIn(b).size == 1, b)
      val prune = """"pruned":\{"kept":(\d+),"total":(\d+)\}""".r
        .findFirstMatchIn(b).getOrElse(fail(s"no prune audit in $b"))
      assert(prune.group(1).toInt < prune.group(2).toInt, b)
      // the audit counts exactly the files the lookup reads
      val (cb, bb) = post(p, "/query",
        """{"namespace": "default_db", "table": "bucketed",
          | "lookup_column": "uid", "lookup_value": "u0042"}""".stripMargin)
      assert(cb == 200, bb)
      assert(""""n":42""".r.findAllIn(bb).size == 1, bb)
      val bp = """"pruned":\{"kept":(\d+),"total":(\d+)\}""".r
        .findFirstMatchIn(bb).getOrElse(fail(s"no prune audit in $bb"))
      val read = cat.readEquals("default_db", "bucketed", "uid", "u0042").inputFiles
      assert(bp.group(1).toInt < bp.group(2).toInt, bb)
      assert(bp.group(1).toInt == read.length, s"$bb vs ${read.length} files read")
      // absent key: empty records, (near-)zero kept files
      val (c2, b2) = post(p, "/query",
        """{"namespace": "default_db", "table": "keyed",
          | "lookup_column": "uid", "lookup_value": "u9999"}""".stripMargin)
      assert(c2 == 200 && b2.contains(""""records":[]"""), b2)
      // missing table still 404s through the lookup path
      val (c3, _) = post(p, "/query",
        """{"namespace": "default_db", "table": "nope",
          | "lookup_column": "uid", "lookup_value": "x"}""".stripMargin)
      assert(c3 == 404)
    } finally api.stop()
  }

  test("execution error on an EXISTING table is 500, not 404") {
    // Build a table whose metadata points at deleted data files: the
    // table exists (pointer present) but the scan fails mid-execution.
    val cat = new SnapshotCatalog(spark, tmpDir("graft-http-500"))
    cat.createTable("default_db", "broken", PurchaseEvents.schema)
    cat.append("default_db", "broken",
      PurchaseEvents.batch(spark, 1700000000000L, 3))
    cat.describe("default_db", "broken").currentSnapshot.get.files
      .foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f)))
    val api = new HttpApi(new Engine(spark, cat), HttpApi.Kind.Catalog)
    api.start()
    try {
      val p = api.boundPort
      val (c, b) = post(p, "/query", """{"namespace": "default_db", "table": "broken"}""")
      assert(c == 500 && b.startsWith("""{"error""""), s"$c $b")
      // missing table still 404
      assert(post(p, "/query", """{"table": "nope"}""")._1 == 404)
    } finally api.stop()
  }

  test("jsonField decodes all JSON string escapes") {
    import graft.query.HttpApi.{jsonField, unescapeJson}
    assert(jsonField("""{"query": "line1\nline2\tend"}""", "query")
      .contains("line1\nline2\tend"))
    assert(jsonField("""{"query": "quote \" back \\ slash"}""", "query")
      .contains("""quote " back \ slash"""))
    assert(jsonField("{\"query\": \"unicode \\u00e9\\u0041\"}", "query")
      .contains("unicode éA"))
    // the old sequential-replace bug: \\" must decode to backslash+quote-end,
    // i.e. the escaped backslash must not swallow the quote escape
    assert(unescapeJson("""a\\\"b""") == "a\\\"b")
    assert(unescapeJson("""path\/x""") == "path/x")
  }

  test("SQL DML rides the reference's POST /query route: mutate, then " +
      "read back, each statement one snapshot") {
    val cat = new SnapshotCatalog(spark, tmpDir("graft-http-dml"))
    import spark.implicits._
    cat.createTable("db", "kv",
      Seq.empty[(Long, String)].toDF("id", "val").schema)
    cat.append("db", "kv", Seq((1L, "a"), (2L, "b")).toDF("id", "val"))
    val api = new HttpApi(new Engine(spark, cat), HttpApi.Kind.Sql)
    api.start()
    try {
      val p = api.boundPort
      val (c1, b1) = post(p, "/query",
        """{"query": "INSERT INTO db.kv SELECT 3, 'c'"}""")
      assert(c1 == 200 && b1.contains(""""rows_affected":1"""), s"$c1 $b1")
      val (c2, b2) = post(p, "/query",
        """{"query": "DELETE FROM db.kv WHERE id = 1"}""")
      assert(c2 == 200 && b2.contains(""""rows_affected":1"""), s"$c2 $b2")
      val (c3, b3) = post(p, "/query",
        """{"query": "SELECT id, val FROM db.kv ORDER BY id"}""")
      assert(c3 == 200 &&
        b3.contains(""""id":2""") && b3.contains(""""id":3""") &&
        !b3.contains(""""id":1"""), s"$c3 $b3")
    } finally api.stop()
  }

  test("50 sequential queries through the server leave no persistent-RDD " +
      "state behind (the stateless request loop of duckdb_rest_server.py)") {
    val api = new HttpApi(engine, HttpApi.Kind.Sql)
    api.start()
    try {
      val p = api.boundPort
      graft.core.CacheHygiene.releaseAll(spark)
      val before = spark.sparkContext.getPersistentRDDs.size
      for (i <- 1 to 50) {
        val (c, b) = post(p, "/query",
          s"""{"query": "SELECT count(*) AS n FROM parquet.`$sf0001/region.parquet` WHERE r_regionkey >= ${i % 5}", "limit": 10}""")
        assert(c == 200 && b.contains(""""n":"""), s"query $i: $c $b")
      }
      assert(spark.sparkContext.getPersistentRDDs.size == before,
        "the request loop must return the block manager to its pre-loop state")
    } finally api.stop()
  }

  test("concurrent serving: cheap reads overlap a long scan, every " +
      "response is correct, and the scan's result survives the overlap") {
    val api = new HttpApi(engine, HttpApi.Kind.Sql)
    api.start()
    try {
      val p = api.boundPort
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      // ~2e10 codegen'd products: several seconds even on a warm JVM
      val aN = 20000L; val bN = 1000000L
      // (a%97)*(b%89): keeps the 2e10-row sum inside int64 (ANSI mode
      // errors on overflow) and still factorizes for an exact oracle
      val slow = Future(post(p, "/query",
        s"""{"query": "SELECT sum((a.id % 97) * (b.id % 89)) AS s FROM range($aN) a CROSS JOIN range($bN) b"}"""))
      Thread.sleep(300) // let the scan start
      // cheap requests must complete while the scan is still running:
      // under the old single-dispatcher server they would queue behind
      // it, so completing first IS the overlap proof
      // the overlap proof needs ONE cheap response while the scan is
      // mid-flight (under the old single-dispatcher server, NO cheap
      // request returns until the scan ends) — checking right after
      // the first response keeps the proof and stops external box
      // load bursts from flaking the 8-requests-before-scan version
      val firstFast = get(p, "/health")
      val overlapped = !slow.isCompleted
      val fasts = (1 to 4).map(_ => get(p, "/health")) ++
        (1 to 3).map(_ => get(p, s"/query_parquet?path=$sf0001/region.parquet&limit=2"))
      assert(firstFast._1 == 200 && fasts.forall(_._1 == 200),
        (firstFast +: fasts).map(_._1))
      assert(overlapped,
        "the long scan should still be mid-flight when the first cheap " +
          "response lands (if this flakes, grow bN)")
      val (cs, bs) = Await.result(slow, 180.seconds)
      // exact: the sum over the cross product factorizes
      val expect = (0L until aN).map(_ % 97).sum * (0L until bN).map(_ % 89).sum
      assert(cs == 200 && bs.contains(s""""s":$expect"""), s"$cs $bs")
    } finally api.stop()
  }
}
