package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.catalog.SnapshotCatalog
import graft.streaming.Sinks

/** `ingest`: one writer thread hands seeded `PurchaseEvents` micro-batches
  * to the Iceberg-like sink's per-batch commit back to back (closed loop,
  * like a sink draining a Kafka backlog) and runs
  * `SnapshotCatalog.maintain` inline every [[MaintainEvery]] commits.
  * One reader thread polls the current snapshot and reads back the
  * newest committed batch's rows with a pruned range read.
  *
  * A batch's hand-off time is when it is ready, right after the previous
  * commit; maintenance therefore shows up in the next batch's commit and
  * visibility latency. Checked after the window: the table holds every
  * event sent exactly once, and the reader never saw a partial batch.
  */
object IngestWorkload {

  val BatchEvents = 500
  val MaintainEvery = 10
  val WarmupBatches = 12
  val Ns = "default_db"
  val Table = "purchase_events"

  def run(ctx: Ctx): RunResult = {
    val spark = ctx.spark
    val events = new Events(ctx.seed)
    val root = ctx.work.resolve("ingest")
    val tracer = ctx.tracer
    val notes = scala.collection.mutable.ArrayBuffer.empty[String]
    val ckpt = root.resolve("checkpoint").toString
    val key = Sinks.lastBatchKey(ckpt)
    val props = Map(SnapshotCatalog.BloomColumnsProp -> "user_id")

    def batchRange(b: Long): (Long, Long) = (b * BatchEvents, (b + 1) * BatchEvents)
    def batchTs(b: Long): (Long, Long) = {
      val (from, until) = batchRange(b)
      (events.ts(from), events.ts(until - 1))
    }
    def commit(cat: SnapshotCatalog, b: Long): Unit = {
      val (from, until) = batchRange(b)
      Sinks.appendBatch(cat, Ns, Table, ckpt)(events.frame(spark, from, until), b)
    }
    def readBatch(cat: SnapshotCatalog, b: Long, id: Long): Long = tracer("ingest.read", id) {
      val (lo, hi) = batchTs(b)
      val meta = tracer("catalog.describe", id)(cat.describe(Ns, Table))
      val snap = meta.currentSnapshot.get
      val keep = tracer("catalog.prune", id)(
        cat.prunedFilesRange(snap, "timestamp", Some(lo.toDouble), Some(hi.toDouble)))
      val df = tracer("catalog.read_files", id)(
        cat.readFilesOf(snap, cat.schemaOf(Ns, Table), keep, meta.fieldIds))
      tracer("ingest.read_rows", id)(df.filter(
        org.apache.spark.sql.functions.col("timestamp").between(lo, hi)).count())
    }

    // ---- set-up: the table and its first commits, which warm the commit,
    // maintenance and read paths (commit times keep falling for about ten
    // commits), then a repeated set-up step (fresh table, one commit, one
    // read-back; median)
    val t0 = System.nanoTime()
    val catalog = new SnapshotCatalog(spark, root.resolve("wh").toString)
    catalog.createTable(Ns, Table, events.frame(spark, 0, 1).schema, props)
    (0 until WarmupBatches).foreach { b =>
      commit(catalog, b.toLong)
      readBatch(catalog, b.toLong, 0L)
    }
    catalog.maintain(Ns, Table, keepLast = 20, targetFiles = 8)
    val warmS = (System.nanoTime() - t0) / 1e9
    val repS = Stats.median((0 until 3).map { i =>
      val s = System.nanoTime()
      val cat = new SnapshotCatalog(spark, root.resolve(s"rep$i").toString)
      cat.createTable(Ns, Table, events.frame(spark, 0, 1).schema, props)
      commit(cat, 0L)
      readBatch(cat, 0L, 0L)
      (System.nanoTime() - s) / 1e9
    })

    Host.log("set up")

    // ---- timed window
    final case class Window(commits: Seq[Double], visible: Seq[Double], batches: Long,
        maints: Seq[Double], partial: Seq[String], wallS: Double)
    val handoff = new ConcurrentHashMap[Long, java.lang.Long]()
    var nextBatch = WarmupBatches.toLong
    val rewriteFracs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var replaysTried = 0L
    var replaysSkipped = 0L

    def tableBytes(sub: String): Long = {
      val dir = Path.of(catalog.describe(Ns, Table).location).resolve(sub)
      if (!Files.exists(dir)) 0L
      else Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }

    def window(seconds: Double, traced: Boolean): Window = {
      val commits = scala.collection.mutable.ArrayBuffer.empty[Double]
      val maints = scala.collection.mutable.ArrayBuffer.empty[Double]
      val visible = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
      val partial = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      @volatile var writing = true
      val first = nextBatch
      val start = System.nanoTime()
      val deadline = start + (seconds * 1e9).toLong
      val reader = new Thread(() => {
        var last = first - 1
        var id = 1L << 40
        while (writing) {
          val seen = catalog.describe(Ns, Table).properties.get(key).map(_.toLong).getOrElse(-1L)
          if (seen > last && seen >= first) {
            id += 1
            try {
              val n = readBatch(catalog, seen, id)
              val now = System.nanoTime()
              if (n != BatchEvents) partial.add(s"batch $seen: reader saw $n of $BatchEvents rows")
              else visible.add((now - handoff.get(seen)) / 1e9)
            } catch {
              case e: Exception => partial.add(s"batch $seen: read failed: ${e.toString.take(200)}")
            }
            last = seen
          } else Thread.sleep(2)
        }
      }, "perfbench-reader")
      reader.start()
      var ready = System.nanoTime()
      var done = 0
      while (System.nanoTime() < deadline) {
        val b = nextBatch
        tracer("ingest.batch", b) {
          handoff.put(b, ready)
          val (from, until) = batchRange(b)
          val df = events.frame(spark, from, until)
          // every other traced batch goes straight to the catalog commit
          if (traced && b % 2 == 1)
            tracer("catalog.commit", b)(catalog.append(Ns, Table, df, Map(key -> b.toString)))
          else
            tracer("streaming.batch", b)(Sinks.appendBatch(catalog, Ns, Table, ckpt)(df, b))
          val end = System.nanoTime()
          commits += (end - ready) / 1e9
          nextBatch += 1
          done += 1
          ready = end
          if (traced && b % 5 == 0) {
            // an at-least-once replay of the batch just committed must be skipped
            replaysTried += 1
            val before = catalog.describe(Ns, Table).currentSnapshotId
            tracer("streaming.replay", b)(Sinks.appendBatch(catalog, Ns, Table, ckpt)(df, b))
            if (catalog.describe(Ns, Table).currentSnapshotId == before) replaysSkipped += 1
            ready = System.nanoTime()
          }
          if (done % MaintainEvery == 0) {
            val before = catalog.describe(Ns, Table).currentSnapshot.get.files
              .map(f => f -> Files.size(Path.of(f))).toMap
            val s = System.nanoTime()
            tracer("catalog.maint", b)(catalog.maintain(Ns, Table, keepLast = 20, targetFiles = 8))
            maints += (System.nanoTime() - s) / 1e9
            val after = catalog.describe(Ns, Table).currentSnapshot.get.files.toSet
            val rewritten = before.filter(kv => !after(kv._1)).values.sum
            if (traced) rewriteFracs += rewritten.toDouble / math.max(before.values.sum, 1L)
          }
        }
      }
      writing = false
      reader.join()
      Window(commits.toSeq, visible.asScala.map(_.doubleValue).toSeq, done.toLong, maints.toSeq,
        partial.asScala.toSeq, (System.nanoTime() - start) / 1e9)
    }

    val probe = if (ctx.trace) Some(new SparkProbe(spark)) else None
    val main = window(if (ctx.trace) ctx.seconds / 2.0 else ctx.seconds, traced = false)
    val sparkPerOp = probe.map(_.perOp(main.batches)).getOrElse(Map.empty)
    probe.foreach(_.close())
    val traced = if (!ctx.trace) None else {
      tracer.active = true
      val w = window(ctx.seconds / 2.0, traced = true)
      tracer.active = false
      Some(w)
    }

    Host.log("window done")

    // ---- output checks, outside the timed window
    val sent = nextBatch * BatchEvents
    val all = catalog.read(Ns, Table)
    val total = all.count()
    val distinct = all.select("timestamp").distinct().count()
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    if (total != sent) problems += s"table holds $total rows, $sent events were sent"
    if (distinct != total) problems += s"${total - distinct} events appear more than once"
    problems ++= main.partial ++ traced.toSeq.flatMap(_.partial)
    if (replaysSkipped != replaysTried) problems += s"${replaysTried - replaysSkipped} replays were applied twice"
    notes ++= problems.take(10)

    // ---- metrics
    val c = main.commits
    val v = main.visible
    val n = c.size.toLong
    val commitP50 = Stats.median(c)
    val visP50 = Stats.median(v)
    val e2e = Map(
      "op_p50_s" -> Metric(commitP50, "s", n),
      "op_tail_s" -> Metric(Stats.tail(c), "s", n),
      "ops_per_s" -> Metric(n / main.wallS, "1/s", n),
      "op_total_s" -> Metric(commitP50 + visP50, "s", 2L),
      "op_geomean_s" -> Metric(Stats.geomean(Seq(commitP50, visP50)), "s", 2L),
      "rows_per_s" -> Metric(n * BatchEvents / main.wallS, "1/s", n),
      "wait_p50_s" -> Metric(visP50, "s", v.size.toLong),
      "wait_tail_s" -> Metric(Stats.tail(v), "s", v.size.toLong))
    val detail = Map(
      "ingest.events_per_s" -> Metric(n * BatchEvents / main.wallS, "1/s", n),
      "ingest.commit_p50_s" -> Metric(commitP50, "s", n),
      "ingest.commit_p95_s" -> Metric(Stats.quantile(c, 0.95), "s", n),
      "ingest.commit_p95_beyond" -> Metric(Stats.beyond(c, 0.95).toDouble, "count", n),
      "ingest.commit_tail_level" -> Metric(Stats.tailLevel(c.size), "frac", n),
      "ingest.visible_p50_s" -> Metric(visP50, "s", v.size.toLong),
      "ingest.visible_p95_s" -> Metric(Stats.quantile(v, 0.95), "s", v.size.toLong),
      "ingest.visible_p95_beyond" -> Metric(Stats.beyond(v, 0.95).toDouble, "count", v.size.toLong),
      "ingest.visible_tail_level" -> Metric(Stats.tailLevel(v.size), "frac", v.size.toLong),
      "ingest.maint_s" -> Metric(Stats.mean(main.maints), "s", main.maints.size.toLong))

    val perLayer: Map[String, Metric] = traced match {
      case None => Map.empty
      case Some(w) =>
        def m(xs: Seq[Double], unit: String = "s") = Metric(Stats.mean(xs), unit, xs.size.toLong)
        val meta = catalog.describe(Ns, Table)
        // committed event bytes: the events as JSON lines, the form the
        // reference's producer puts on the topic
        val eventBytes = {
          import org.apache.spark.sql.functions.{length, struct, sum, to_json}
          val df = events.frame(spark, 0, nextBatch * BatchEvents)
          df.select(sum(length(to_json(struct(df.columns.map(df.col): _*))) + 1)).head().getLong(0)
        }
        sparkPerOp ++ Map(
          "catalog.describe_s" -> m(tracer.durations("catalog.describe")),
          "catalog.prune_s" -> m(tracer.durations("catalog.prune")),
          "catalog.read_files_s" -> m(tracer.durations("catalog.read_files")),
          "catalog.commit_s" -> m(tracer.durations("catalog.commit")),
          "catalog.maint_s" -> m(w.maints),
          "catalog.maint_rewrite_frac" -> m(rewriteFracs.toSeq, "frac"),
          "catalog.write_amp" -> Metric(tableBytes("data").toDouble / math.max(eventBytes, 1L), "x", nextBatch),
          "catalog.meta_bytes_per_snapshot" -> Metric(
            tableBytes("metadata").toDouble / math.max(meta.snapshots.size, 1), "B", meta.snapshots.size.toLong),
          "streaming.batch_s" -> m(tracer.durations("streaming.batch")),
          "streaming.replays_skipped" -> Metric(replaysSkipped.toDouble, "count", replaysTried),
          "trace.overhead_frac" -> Metric(Stats.median(w.commits) / math.max(commitP50, 1e-9) - 1.0,
            "frac", w.commits.size.toLong))
    }

    RunResult(
      setupS = ctx.sessionS + warmS + repS,
      setupParts = Map("session_s" -> ctx.sessionS, "warmup_commits_s" -> warmS, "setup_rep_s" -> repS),
      endToEnd = e2e, detail = detail, perLayer = perLayer,
      attempted = WarmupBatches + main.batches + traced.map(_.batches).getOrElse(0L),
      failed = problems.size.toLong, notes = notes.toSeq)
  }
}
