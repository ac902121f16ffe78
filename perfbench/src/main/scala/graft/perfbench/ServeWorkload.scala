package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.functions.col

import graft.catalog.SnapshotCatalog
import graft.query.{Engine, HttpApi}

/** `serve`: four client threads (closed loop, one connection each) send
  * a fixed request mix to the two `HttpApi` servers over a seeded
  * `default_db.purchase_events` table and wait for each reply.
  *
  * The table is built in set-up from seeded events: files laid out by
  * event time (range-partitioned on `timestamp`) and a bloom filter on
  * `user_id`. The mix:
  *  - `sql_between` / `sql_cmp`: the same time-range aggregate through
  *    `POST /query` (Kind.Sql), written with `BETWEEN` and with `>= … AND <=`;
  *  - `sql_parquet`: the aggregate over `read_parquet` of the raw event files;
  *  - `lookup`: a bloom point lookup on `user_id` (Kind.Catalog `POST /query`);
  *  - `scan`: a manifest-pruned range scan (Kind.Catalog `POST /query`);
  *  - `describe`: `GET /table`.
  * Every reply is checked, after the timed window, against answers
  * computed in set-up from the generated timestamps.
  */
object ServeWorkload {

  val NumEvents = 10000
  val NumFiles = 16
  val Clients = 4
  val Ns = "default_db"
  val Table = "purchase_events"
  val Kinds: Seq[String] = Seq("sql_between", "sql_cmp", "sql_parquet", "lookup", "scan", "describe")
  val Params = 32

  def route(kind: String): String = if (kind.startsWith("sql_") && kind != "sql_parquet") "sql_range" else kind

  final case class Reply(kind: String, param: Int, status: Int, body: String, latencyS: Double)

  /** What a traced request's in-process decomposition measured. */
  final case class Split(kind: String, httpS: Double, inprocS: Double,
      bridgeS: Double = 0, execS: Double = 0, kept: Int = -1, total: Int = 0)

  def run(ctx: Ctx): RunResult = {
    val spark = ctx.spark
    val events = new Events(ctx.seed)
    val root = ctx.work.resolve("serve")
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]

    // ---- set-up: build the table (three times, median), raw files, servers
    def buildTable(wh: String): (SnapshotCatalog, Double) = {
      val t0 = System.nanoTime()
      val cat = new SnapshotCatalog(spark, wh)
      val df = events.frame(spark, 0, NumEvents)
      cat.createTable(Ns, Table, df.schema, Map(SnapshotCatalog.BloomColumnsProp -> "user_id"))
      cat.append(Ns, Table, df.repartitionByRange(NumFiles, col("timestamp")))
      (cat, (System.nanoTime() - t0) / 1e9)
    }
    val builds = (0 until 3).map(i => buildTable(root.resolve(s"wh$i").toString))
    Host.log("tables built")
    val catalog = builds.last._1
    val buildS = Stats.median(builds.map(_._2))
    val rawDir = root.resolve("raw").toString
    val rawS = {
      val t0 = System.nanoTime()
      events.frame(spark, 0, NumEvents).repartition(8).write.parquet(rawDir)
      (System.nanoTime() - t0) / 1e9
    }
    val engine = new Engine(spark, catalog)
    val sqlApi = new HttpApi(engine, HttpApi.Kind.Sql)
    val catApi = new HttpApi(engine, HttpApi.Kind.Catalog)
    sqlApi.start()
    catApi.start()
    val snapshotId = catalog.describe(Ns, Table).currentSnapshotId.get
    val schema = catalog.schemaOf(Ns, Table)

    // expected answers, from the generated timestamps alone
    val ts = events.timestamps(0, NumEvents)
    val prefixCents = ts.scanLeft(0L)((acc, t) => acc + Events.amountCents(t))
    val rng = new scala.util.Random(ctx.seed * 7919L + 1)
    val spanMs = ts.last - ts.head
    val ranges: IndexedSeq[(Long, Long)] = (0 until Params).map { _ =>
      val lo = ts.head + (rng.nextDouble() * spanMs * 0.97).toLong
      (lo, lo + (spanMs * 0.02).toLong)
    }
    def inRange(r: (Long, Long)): (Int, Int) = {
      val a = java.util.Arrays.binarySearch(ts, r._1) match { case i if i >= 0 => i; case i => -i - 1 }
      val b = java.util.Arrays.binarySearch(ts, r._2) match { case i if i >= 0 => i + 1; case i => -i - 1 }
      (a, b)
    }
    val expRange = ranges.map { r => val (a, b) = inRange(r); (b - a.toLong, prefixCents(b) - prefixCents(a)) }
    val users = (0 until Params).map(_ => s"user_${rng.nextInt(1000)}")
    val userCounts = ts.groupBy(Events.userOf).map { case (u, xs) => u -> xs.length }

    def sqlText(kind: String, p: Int): String = {
      val (lo, hi) = ranges(p)
      val from = if (kind == "sql_parquet") s"read_parquet('$rawDir')" else s"$Ns.$Table"
      val where = if (kind == "sql_between") s"timestamp BETWEEN $lo AND $hi"
        else s"timestamp >= $lo AND timestamp <= $hi"
      s"SELECT count(*) AS n, sum(CAST(round(amount * 100) AS BIGINT)) AS c FROM $from WHERE $where"
    }

    def request(kind: String, p: Int): HttpRequest = {
      val sqlBase = s"http://127.0.0.1:${sqlApi.boundPort}"
      val catBase = s"http://127.0.0.1:${catApi.boundPort}"
      def post(url: String, body: String) = HttpRequest.newBuilder(URI.create(url))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      kind match {
        case "sql_between" | "sql_cmp" | "sql_parquet" =>
          post(s"$sqlBase/query", s"""{"query":${Json.str(sqlText(kind, p))},"limit":10}""")
        case "lookup" =>
          post(s"$catBase/query", s"""{"namespace":"$Ns","table":"$Table",""" +
            s""""lookup_column":"user_id","lookup_value":"${users(p)}","limit":100}""")
        case "scan" =>
          post(s"$catBase/query", s"""{"namespace":"$Ns","table":"$Table",""" +
            s""""filter_column":"timestamp","min":${ranges(p)._1},"max":${ranges(p)._2},"limit":100}""")
        case "describe" =>
          HttpRequest.newBuilder(URI.create(s"$catBase/table?namespace=$Ns&table=$Table")).GET().build()
      }
    }

    /** The same request made in-process, split into the layers it crosses. */
    def decompose(kind: String, p: Int, id: Long, httpS: Double): Split = {
      val tr = ctx.tracer
      def timed[T](name: String)(body: => T): (T, Double) = {
        val t0 = System.nanoTime()
        val r = tr(name, id)(body)
        (r, (System.nanoTime() - t0) / 1e9)
      }
      kind match {
        case "sql_between" | "sql_cmp" | "sql_parquet" =>
          val sql = sqlText(kind, p)
          val (_, inS) = timed("query.sql")(engine.sqlQuery(sql, 10))
          val ((df, prune), brS) = timed("query.bridge")(engine.sqlDataFrame(sql))
          val (_, exS) = timed("query.exec")(df.limit(10).collect())
          val pi = prune.headOption
          Split(kind, httpS, inS, brS, exS, pi.map(_.kept).getOrElse(-1), pi.map(_.total).getOrElse(0))
        case "lookup" | "scan" =>
          val (_, inS) = timed("query.inproc")(
            if (kind == "lookup") engine.queryTableEquals(Ns, Table, "user_id", users(p), 100)
            else engine.queryTable(Ns, Table, 100, None,
              Some(Engine.RangeFilter("timestamp", Some(ranges(p)._1.toDouble), Some(ranges(p)._2.toDouble)))))
          val (meta, _) = timed("catalog.describe")(catalog.describe(Ns, Table))
          val snap = meta.currentSnapshot.get
          val (keep, _) = timed("catalog.prune")(
            if (kind == "lookup") catalog.prunedFilesBloom(snap, "user_id", users(p))
            else catalog.prunedFilesRange(snap, "timestamp",
              Some(ranges(p)._1.toDouble), Some(ranges(p)._2.toDouble)))
          timed("catalog.read_files")(catalog.readFilesOf(snap, schema, keep, meta.fieldIds))
          Split(kind, httpS, inS, kept = keep.size, total = snap.files.size)
        case "describe" =>
          val (_, inS) = timed("query.inproc")(engine.describeTable(Ns, Table))
          timed("catalog.describe")(catalog.describe(Ns, Table))
          Split(kind, httpS, inS)
      }
    }

    val reqIds = new java.util.concurrent.atomic.AtomicLong(0L)

    /** Four closed-loop clients for `seconds` (or `rounds` passes over the mix). */
    def drive(seconds: Double, rounds: Int, traced: Boolean)
        : (Seq[Reply], Seq[Split], Double) = {
      val replies = new java.util.concurrent.ConcurrentLinkedQueue[Reply]()
      val splits = new java.util.concurrent.ConcurrentLinkedQueue[Split]()
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      val threads = (0 until Clients).map { c =>
        new Thread(() => {
          val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
          val r = new scala.util.Random(ctx.seed * 1000003L + c * 17L + (if (traced) 5 else 0))
          val plan: Iterator[(String, Int)] =
            if (rounds > 0) Iterator.fill(rounds)(Kinds).flatten.map(k => (k, r.nextInt(Params)))
            else Iterator.from(c).map(i => (Kinds(i % Kinds.size), r.nextInt(Params)))
                .takeWhile(_ => System.nanoTime() < deadline)
          plan.foreach { case (kind, p) =>
            val id = reqIds.incrementAndGet()
            ctx.tracer("serve.request", id) {
              val s = System.nanoTime()
              val (status, body) =
                try {
                  val resp = ctx.tracer("serve.http", id)(
                    client.send(request(kind, p), HttpResponse.BodyHandlers.ofString()))
                  (resp.statusCode(), resp.body())
                } catch { case e: Exception => (-1, e.toString) }
              val lat = (System.nanoTime() - s) / 1e9
              replies.add(Reply(kind, p, status, body, lat))
              if (traced) splits.add(decompose(kind, p, id, lat))
            }
          }
        }, s"perfbench-client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      (replies.asScala.toSeq, splits.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
    }

    Host.log("servers up")
    val (warm, _, warmS) = drive(0, rounds = 1, traced = false)
    Host.log("warmed up")

    // ---- timed window: one untraced window, or untraced + traced halves
    val probe = if (ctx.trace) Some(new SparkProbe(spark)) else None
    val (replies, _, windowS) =
      drive(if (ctx.trace) ctx.seconds / 2.0 else ctx.seconds, 0, traced = false)
    val sparkPerOp = probe.map(_.perOp(replies.size.toLong)).getOrElse(Map.empty)
    probe.foreach(_.close())
    val (tracedReplies, splits) =
      if (!ctx.trace) (Seq.empty[Reply], Seq.empty[Split])
      else {
        ctx.tracer.active = true
        val (r, s, _) = drive(ctx.seconds / 2.0, 0, traced = true)
        ctx.tracer.active = false
        (r, s)
      }
    sqlApi.stop()
    catApi.stop()
    Host.log("window done")

    // ---- output checks, outside the timed window
    val mapper = new ObjectMapper()
    def check(r: Reply): Option[String] = {
      if (r.status != 200) return Some(s"${r.kind}: HTTP ${r.status} ${r.body.take(200)}")
      val j: JsonNode = try mapper.readTree(r.body) catch {
        case e: Exception => return Some(s"${r.kind}: unreadable reply ${e.toString.take(200)}")
      }
      val recs = Option(j.get("records")).map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
      r.kind match {
        case "sql_between" | "sql_cmp" | "sql_parquet" =>
          val (n, c) = expRange(r.param)
          val ok = recs.size == 1 && recs.head.get("n").asLong() == n && recs.head.get("c").asLong() == c
          if (ok) None else Some(s"${r.kind}: got ${r.body.take(120)}, want n=$n c=$c")
        case "lookup" =>
          val u = users(r.param)
          val want = userCounts.getOrElse(u, 0)
          val ok = recs.size == want && recs.forall(_.get("user_id").asText() == u) && j.has("pruned")
          if (ok) None else Some(s"lookup $u: ${recs.size} rows, want $want")
        case "scan" =>
          val (lo, hi) = ranges(r.param)
          val want = math.min(100L, expRange(r.param)._1).toInt
          val ok = recs.size == want && j.has("pruned") &&
            recs.forall { x => val t = x.get("timestamp").asLong(); t >= lo && t <= hi }
          if (ok) None else Some(s"scan [$lo,$hi]: ${recs.size} rows, want $want")
        case "describe" =>
          val ok = j.path("metadata").path("current_snapshot_id").asLong() == snapshotId &&
            j.path("schema").elements().asScala.map(_.path("name").asText()).toSet
              .subsetOf(schema.fieldNames.toSet) && j.path("schema").size() == schema.size
          if (ok) None else Some(s"describe: ${r.body.take(200)}")
      }
    }
    val everything = warm ++ replies ++ tracedReplies
    val problems = everything.flatMap(check)
    notes ++= problems.distinct.take(10)

    // ---- metrics
    val lat = replies.map(_.latencyS)
    val n = lat.size.toLong
    val byKind = replies.groupBy(_.kind).map { case (k, rs) => k -> Stats.median(rs.map(_.latencyS)) }
    val rows = replies.map(r => scala.util.Try(mapper.readTree(r.body).path("records").size()).getOrElse(0)).sum
    val p50 = Stats.median(lat)
    val p95 = Stats.quantile(lat, 0.95)
    val tail = Stats.tail(lat)
    val e2e = Map(
      "op_p50_s" -> Metric(p50, "s", n),
      "op_tail_s" -> Metric(tail, "s", n),
      "ops_per_s" -> Metric(n / windowS, "1/s", n),
      "op_total_s" -> Metric(byKind.values.sum, "s", byKind.size.toLong),
      "op_geomean_s" -> Metric(Stats.geomean(byKind.values), "s", byKind.size.toLong),
      "rows_per_s" -> Metric(rows / windowS, "1/s", n),
      "wait_p50_s" -> Metric(p50, "s", n),
      "wait_tail_s" -> Metric(tail, "s", n))
    val detail = Map(
      "serve.rps" -> Metric(n / windowS, "1/s", n),
      "serve.p50_s" -> Metric(p50, "s", n),
      "serve.p95_s" -> Metric(p95, "s", n),
      "serve.p95_beyond" -> Metric(Stats.beyond(lat, 0.95).toDouble, "count", n),
      "serve.tail_level" -> Metric(Stats.tailLevel(lat.size), "frac", n),
      "serve.warmup_s" -> Metric(warmS, "s", warm.size.toLong)) ++
      byKind.map { case (k, v) => s"serve.kind.${k}_p50_s" -> Metric(v, "s", replies.count(_.kind == k).toLong) }

    val perLayer: Map[String, Metric] = if (!ctx.trace) Map.empty else {
      def m(xs: Seq[Double], unit: String = "s") = Metric(Stats.mean(xs), unit, xs.size.toLong)
      def keptFrac(kind: String) = m(splits.filter(s => s.kind == kind && s.total > 0)
        .map(s => s.kept.toDouble / s.total), "frac")
      val sqlSplits = splits.filter(_.kind.startsWith("sql_"))
      val routeP50 = replies.groupBy(r => route(r.kind)).map { case (rt, rs) =>
        s"serve.route.${rt}_p50_s" -> Metric(Stats.median(rs.map(_.latencyS)), "s", rs.size.toLong)
      }
      sparkPerOp ++ routeP50 ++ Map(
        "query.bridge_s" -> m(ctx.tracer.durations("query.bridge")),
        "query.exec_s" -> m(ctx.tracer.durations("query.exec")),
        "query.encode_s" -> m(sqlSplits.map(s => s.inprocS - s.bridgeS - s.execS)),
        "query.http_overhead_s" -> m(splits.map(s => s.httpS - s.inprocS)),
        "query.response_bytes" -> m(everything.map(_.body.length.toDouble), "B"),
        "catalog.describe_s" -> m(ctx.tracer.durations("catalog.describe")),
        "catalog.prune_s" -> m(ctx.tracer.durations("catalog.prune")),
        "catalog.read_files_s" -> m(ctx.tracer.durations("catalog.read_files")),
        "catalog.kept_frac.between" -> keptFrac("sql_between"),
        "catalog.kept_frac.cmp" -> keptFrac("sql_cmp"),
        "catalog.kept_frac.bloom" -> keptFrac("lookup"),
        "trace.overhead_frac" -> Metric(
          Stats.median(tracedReplies.map(_.latencyS)) / math.max(p50, 1e-9) - 1.0, "frac",
          tracedReplies.size.toLong))
    }

    RunResult(
      setupS = ctx.sessionS + buildS + rawS + warmS,
      setupParts = Map("session_s" -> ctx.sessionS, "build_table_s" -> buildS,
        "raw_files_s" -> rawS, "warmup_s" -> warmS),
      endToEnd = e2e, detail = detail, perLayer = perLayer,
      attempted = everything.size.toLong, failed = problems.size.toLong, notes = notes.toSeq)
  }
}
