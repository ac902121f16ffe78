package graft.query

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The reference's two Flask REST servers as real HTTP endpoints over
  * the engine facade (JDK built-in HttpServer — no extra deps):
  *
  *  - `Kind.Sql`     → the DuckDB REST surface (`:8888`,
  *    duckdb_rest_server.py): `POST /query` {"query","limit"},
  *    `GET /list_parquet?path=`, `GET /query_parquet?path=&limit=`,
  *    `GET /health`;
  *  - `Kind.Catalog` → the PyIceberg REST surface (`:8889`,
  *    pyiceberg_rest_server.py): `GET /health`, `GET /namespaces`,
  *    `GET /tables?namespace=`, `GET /table?namespace=&table=`,
  *    `POST /query` {"namespace","table","limit"}.
  *
  * Status codes mirror the reference: 400 on missing body fields
  * (duckdb_rest_server.py:70-71), 404 on missing table
  * (pyiceberg_rest_server.py:167-168,230-231), 500 on execution errors
  * wrapped in the `{"error": …}` envelope.
  *
  * Requests are served by a small fixed thread pool (the reference's
  * Flask default is threaded per-request), so cheap catalog/health
  * reads overlap a long scan instead of queueing behind it. Safe
  * because every Engine query entry point is individually scoped: job
  * groups are thread-local (one request's budget cancellation can't
  * touch another's jobs) and block-manager release is deferred to
  * quiescence (an overlapping request never loses checkpoint blocks —
  * Engine.scopedRelease scaladoc).
  */
class HttpApi(engine: Engine, kind: HttpApi.Kind, port: Int = 0,
    poolSize: Int = 8) {

  import HttpApi._

  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    poolSize, new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger(0)
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-http-${n.getAndIncrement()}")
        t.setDaemon(true)
        t
      }
    })

  def boundPort: Int = server.getAddress.getPort

  def start(): Unit = {
    kind match {
      case Kind.Sql =>
        route("/health")(_ => (200, engine.health()))
        route("/query") { ex =>
          val body = readBody(ex)
          jsonField(body, "query") match {
            case None => (400, """{"error":"No query provided"}""")
            case Some(q) =>
              val limit = jsonIntField(body, "limit").getOrElse(1000)
              val out = engine.sqlQuery(q, limit)
              (if (out.startsWith("""{"error"""")) 500 else 200, out)
          }
        }
        route("/list_parquet") { ex =>
          val path = queryParam(ex, "path").getOrElse("")
          val out = engine.listParquet(path)
          (if (out.startsWith("""{"error"""")) 500 else 200, out)
        }
        route("/query_parquet") { ex =>
          val path = queryParam(ex, "path").getOrElse("")
          val limit = queryParam(ex, "limit").flatMap(_.toIntOption).getOrElse(5)
          val out = engine.queryParquet(path, limit)
          (if (out.startsWith("""{"error"""")) 500 else 200, out)
        }
      case Kind.Catalog =>
        route("/health")(_ => (200, engine.health()))
        route("/namespaces")(_ => (200, engine.listNamespaces()))
        route("/tables") { ex =>
          (200, engine.listTables(
            queryParam(ex, "namespace").getOrElse("default_db")))
        }
        route("/table") { ex =>
          val (ns, tbl) = (queryParam(ex, "namespace").getOrElse("default_db"),
            queryParam(ex, "table").getOrElse("purchase_events"))
          val out = engine.describeTable(ns, tbl)
          (errorStatus(out, engine, ns, tbl), out)
        }
        route("/query") { ex =>
          val body = readBody(ex)
          val (ns, tbl) = (jsonField(body, "namespace").getOrElse("default_db"),
            jsonField(body, "table").getOrElse("purchase_events"))
          // extensions: {"filter_column","min","max"} routes the scan
          // through manifest range pruning; {"lookup_column",
          // "lookup_value"} through per-file bloom point-lookup
          // pruning (Engine.queryTable/queryTableEquals scaladoc)
          val lookup = for {
            c <- jsonField(body, "lookup_column")
            v <- jsonField(body, "lookup_value")
          } yield (c, v)
          val out = lookup match {
            case Some((c, v)) =>
              engine.queryTableEquals(ns, tbl, c, v,
                jsonIntField(body, "limit").getOrElse(100))
            case None =>
              val filter = jsonField(body, "filter_column").map(c =>
                Engine.RangeFilter(c,
                  jsonNumField(body, "min"), jsonNumField(body, "max")))
              engine.queryTable(ns, tbl,
                jsonIntField(body, "limit").getOrElse(100),
                snapshotId = None, filter = filter)
          }
          (errorStatus(out, engine, ns, tbl), out)
        }
    }
    server.setExecutor(pool)
    server.start()
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
  }

  private def route(path: String)(handler: HttpExchange => (Int, String)): Unit =
    server.createContext(path, (ex: HttpExchange) => {
      val (code, body) =
        try handler(ex)
        catch { case NonFatal(e) => (500, Engine.errorJson(e)) }
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
}

object HttpApi {

  sealed trait Kind
  object Kind {
    case object Sql extends Kind      // duckdb_rest_server.py surface
    case object Catalog extends Kind  // pyiceberg_rest_server.py surface
  }

  /** 404 is reserved for missing tables (pyiceberg_rest_server.py:
    * 167-168,230-231); an execution failure on an EXISTING table is 500.
    */
  private def errorStatus(out: String, engine: Engine,
      ns: String, tbl: String): Int =
    if (!out.startsWith("""{"error"""")) 200
    else if (!engine.catalog.tableExists(ns, tbl)) 404
    else 500

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)

  private def queryParam(ex: HttpExchange, name: String): Option[String] =
    Option(ex.getRequestURI.getRawQuery).flatMap(_.split('&').collectFirst {
      case kv if kv.takeWhile(_ != '=') == name =>
        java.net.URLDecoder.decode(kv.dropWhile(_ != '=').drop(1), "UTF-8")
    })

  // Minimal JSON field extraction for the two flat request shapes the
  // reference accepts ({"query": "...", "limit": n} and
  // {"namespace": "...", "table": "...", "limit": n}).
  private[graft] def jsonField(body: String, name: String): Option[String] =
    (s""""$name"\\s*:\\s*"((?:[^"\\\\]|\\\\.)*)"""").r
      .findFirstMatchIn(body)
      .map(m => unescapeJson(m.group(1)))

  /** Full JSON string unescape, left-to-right in one pass (a sequential
    * `.replace` chain mis-decodes overlaps like `\\"` and drops
    * \n/\t/\uXXXX entirely).
    */
  private[graft] def unescapeJson(s: String): String = {
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"'  => out.append('"');  i += 2
          case '\\' => out.append('\\'); i += 2
          case '/'  => out.append('/');  i += 2
          case 'b'  => out.append('\b'); i += 2
          case 'f'  => out.append('\f'); i += 2
          case 'n'  => out.append('\n'); i += 2
          case 'r'  => out.append('\r'); i += 2
          case 't'  => out.append('\t'); i += 2
          case 'u' if i + 6 <= s.length =>
            try {
              out.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
              i += 6
            } catch { case _: NumberFormatException => out.append(c); i += 1 }
          case _ => out.append(c); i += 1
        }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  private[graft] def jsonIntField(body: String, name: String): Option[Int] =
    (s""""$name"\\s*:\\s*(-?\\d+)""").r
      .findFirstMatchIn(body).map(_.group(1).toInt)

  private[graft] def jsonNumField(body: String, name: String): Option[Double] =
    (s""""$name"\\s*:\\s*(-?\\d+(?:\\.\\d+)?(?:[eE][+-]?\\d+)?)""").r
      .findFirstMatchIn(body).map(_.group(1).toDouble)
}
