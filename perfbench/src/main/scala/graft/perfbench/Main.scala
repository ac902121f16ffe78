package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]. */
final case class RunResult(
    /** one-off set-up phases plus the median of the repeated set-up step */
    setupS: Double,
    setupParts: Map[String, Double],
    /** the end-to-end metrics, by their generic names (see [[Main.EndToEnd]]) */
    endToEnd: Map[String, Metric],
    /** the same quantities under their workload-specific names */
    detail: Map[String, Metric],
    /** per-layer metrics (traced runs only) */
    perLayer: Map[String, Metric],
    attempted: Long,
    failed: Long,
    notes: Seq[String])

final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean,
    work: Path, data: Path, sessionS: Double) {
  val tracer = new Tracer
}

/** Benchmark harness entry point.
  *
  * {{{
  * java ... graft.perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> [data dir]
  * }}}
  *
  * Runs one workload (`suite`, `serve` or `ingest`) against the engine
  * in-process and writes `<work dir>/result.json`: the end-to-end
  * metrics, their workload-specific detail (with sample counts), the
  * per-layer metrics of a traced run, the load stamp and the output
  * checks. `perfbench/run.py` drives it and prints the final result.
  */
object Main {

  val Cores = 4

  /** End-to-end metric names and units; every workload reports all. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "op_tail_s" -> "s", "ops_per_s" -> "1/s",
    "op_total_s" -> "s", "op_geomean_s" -> "s", "rows_per_s" -> "1/s",
    "wait_p50_s" -> "s", "wait_tail_s" -> "s")

  /** Hot spots of the suite that get their own per-layer timing. */
  val HotQueries: Seq[String] = Seq(
    "q21_approx_distinct", "t41_unigram_tokenize", "q46_profile_onepass",
    "q24_approx_quantiles")

  /** Per-layer metric names and units; every traced run reports all,
    * with 0 where the workload leaves a layer idle.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "query.bridge_s" -> "s", "query.exec_s" -> "s", "query.encode_s" -> "s",
    "query.http_overhead_s" -> "s", "query.response_bytes" -> "B",
    "serve.route.sql_range_p50_s" -> "s", "serve.route.sql_parquet_p50_s" -> "s",
    "serve.route.lookup_p50_s" -> "s", "serve.route.scan_p50_s" -> "s",
    "serve.route.describe_p50_s" -> "s",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s",
    "catalog.describe_s" -> "s", "catalog.prune_s" -> "s", "catalog.read_files_s" -> "s",
    "catalog.kept_frac.between" -> "frac", "catalog.kept_frac.cmp" -> "frac",
    "catalog.kept_frac.bloom" -> "frac",
    "catalog.commit_s" -> "s", "catalog.maint_s" -> "s", "catalog.maint_rewrite_frac" -> "frac",
    "catalog.write_amp" -> "x", "catalog.meta_bytes_per_snapshot" -> "B",
    "streaming.batch_s" -> "s", "streaming.replays_skipped" -> "count",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_s" -> "s",
    "spark.job_wall_s" -> "s", "spark.driver_gap_s" -> "s", "spark.parallelism" -> "x",
    "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.gc_s" -> "s",
    "suite.tier.q_s" -> "s", "suite.tier.t_s" -> "s", "suite.tier.e_s" -> "s",
    "suite.tier.m_s" -> "s",
    "suite.build_s" -> "s", "suite.collect_s" -> "s") ++
    HotQueries.map(q => s"suite.query.${q}_s" -> "s") ++ Seq(
    "jvm.heap_peak_mb" -> "MB", "trace.overhead_frac" -> "frac", "trace.spans" -> "count")

  def session(work: Path): SparkSession = {
    val spark = graft.core.GraftSession.builder(s"local[$Cores]", Cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    graft.core.GraftSession.registerFunctions(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Per span name: count, mean duration and mean self time. */
  def spanSummary(tracer: Tracer): String = {
    val self = tracer.selfTimes
    tracer.spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      s"""${Json.str(name)}:{"n":${ss.size},"mean_s":${Json.num(Stats.mean(ss.map(_.seconds)))},""" +
        s""""self_s":${Json.num(self(name))}}"""
    }.mkString("{", ",", "}")
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS) = args.take(5)
    val work = Paths.get(workS).toAbsolutePath
    val data = if (args.length > 5) Paths.get(args(5)).toAbsolutePath else work
    Files.createDirectories(work)
    val spark = session(work)
    val ctx = Ctx(spark, seedS.toLong, secondsS.toInt, traceS == "1", work, data,
      Host.sinceJvmStart())
    Host.log("session ready")
    val loadStart = Host.loadavg()
    val calibStart = Host.calibrate()
    Host.log(s"calibrated; running $workload")
    val res = workload match {
      case "suite" => SuiteWorkload.run(ctx)
      case "serve" => ServeWorkload.run(ctx)
      case "ingest" => IngestWorkload.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Host.log(s"$workload done")
    val calibEnd = Host.calibrate()
    val loadEnd = Host.loadavg()
    if (ctx.trace) ctx.tracer.writeJsonLines(work.resolve("spans.jsonl"))
    val perLayer =
      if (!ctx.trace) Map.empty[String, Metric]
      else PerLayer.map { case (n, u) => n -> res.perLayer.getOrElse(n, Metric(0.0, u, 0L)) }.toMap ++
        Map("jvm.heap_peak_mb" -> Metric(Host.heapPeakMb(), "MB"),
          "trace.spans" -> Metric(ctx.tracer.spans.size.toDouble, "count"))
    val e2e = res.endToEnd + ("setup_s" -> Metric(res.setupS, "s", 1L))
    val json =
      s"""{"workload":${Json.str(workload)},"seed":${ctx.seed},"seconds":${ctx.seconds},""" +
        s""""trace":${ctx.trace},"attempted":${res.attempted},"failed":${res.failed},""" +
        s""""end_to_end":${Json.metrics(EndToEnd.map { case (n, u) => n -> e2e.getOrElse(n, Metric(0.0, u, 0L)) })},""" +
        s""""detail":${Json.metrics(res.detail.toSeq.sortBy(_._1))},""" +
        s""""per_layer":${Json.metrics(perLayer.toSeq.sortBy(_._1))},""" +
        s""""setup_parts":${Json.nums(res.setupParts.toSeq.sortBy(_._1))},""" +
        s""""load":{"loadavg_start":${loadStart.mkString("[", ",", "]")},""" +
        s""""loadavg_end":${loadEnd.mkString("[", ",", "]")},""" +
        s""""calibration_start_s":${Json.num(calibStart)},"calibration_end_s":${Json.num(calibEnd)}},""" +
        s""""spans":${spanSummary(ctx.tracer)},""" +
        s""""notes":${res.notes.map(Json.str).mkString("[", ",", "]")}}"""
    Files.write(work.resolve("result.json"), json.getBytes(StandardCharsets.UTF_8))
    Host.log("result written")
    spark.stop()
    Host.log("session stopped")
  }
}

/** The few JSON renderings the harness needs. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def nums(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")

  def metrics(kv: Seq[(String, Metric)]): String =
    kv.map { case (k, m) =>
      s"""${str(k)}:{"value":${num(m.value)},"unit":${str(m.unit)},"n":${m.n}}"""
    }.mkString("{", ",", "}")
}
