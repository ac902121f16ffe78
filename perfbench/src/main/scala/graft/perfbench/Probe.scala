package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Order statistics over timing samples (seconds). */
object Stats {
  private def sorted(xs: Iterable[Double]): IndexedSeq[Double] = xs.toIndexedSeq.sorted

  /** Linear-interpolated quantile, q in [0, 1]; 0.0 for no samples. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = sorted(xs)
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def geomean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)

  /** The tail a sample set resolves: the highest order statistic with ten
    * samples beyond it, or the maximum when there are fewer than eleven.
    */
  def tail(xs: Iterable[Double]): Double = {
    val s = sorted(xs)
    if (s.isEmpty) 0.0 else if (s.length < 11) s.last else s(s.length - 11)
  }

  /** The percentile level [[tail]] sits at, for `n` samples. */
  def tailLevel(n: Int): Double = if (n < 11) 1.0 else (n - 11).toDouble / (n - 1)

  /** Samples strictly beyond the q-quantile — how well a tail is resolved. */
  def beyond(xs: Iterable[Double], q: Double): Int = {
    val t = quantile(xs, q)
    xs.count(_ > t)
  }
}

/** One named measurement with its unit and sample count. */
final case class Metric(value: Double, unit: String, n: Long = 1L)

/** In-memory span recorder for traced runs.
  *
  * A span is (name, start, end, parent, request id) around one call the
  * benchmark makes into an engine layer. Spans nest per thread; the
  * self time of a span is its duration minus the part its child spans
  * cover. While recording is off, a span is just the call.
  */
final class Tracer {
  /** Workloads switch recording on for the traced part of a traced run. */
  @volatile var active: Boolean = false

  final case class Span(id: Long, parent: Long, req: Long, name: String,
      startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  def apply[T](name: String, req: Long)(body: => T): T =
    if (!active) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get().headOption.getOrElse(0L)
      open.set(id :: open.get())
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, req, name, t0, System.nanoTime()))
        open.set(open.get().tail)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq

  def durations(name: String): Seq[Double] = spans.filter(_.name == name).map(_.seconds)

  /** Mean self time per span name. */
  def selfTimes: Map[String, Double] = {
    val all = spans
    val childSum = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> Stats.mean(ss.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)))
    }
  }

  /** Spans as JSON lines, one per span, in start order. */
  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark-side counters read from public listener events: job intervals,
  * task time, shuffle, spill, and the Catalyst phase split of every
  * executed query (`QueryExecution.tracker`). Installed only in traced
  * runs, for the untraced half of the window.
  */
final class SparkProbe(spark: SparkSession) {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val intervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobs = new LongAdder
  private val tasks = new LongAdder
  private val taskNs = new LongAdder
  private val shuffleRead = new LongAdder
  private val shuffleWrite = new LongAdder
  private val spill = new LongAdder
  private val phaseMs = Map(
    "analysis" -> new DoubleAdder, "optimization" -> new DoubleAdder,
    "planning" -> new DoubleAdder)
  private val windowStartMs = System.currentTimeMillis()
  private val gcAtStart = gcMs()

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time)
      jobs.increment()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s => intervals.add((s.longValue, e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        tasks.increment()
        taskNs.add(m.executorRunTime * 1000000L)
        shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
  }

  private val qeListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (phase, summary) =>
        phaseMs.get(phase).foreach(_.add(summary.durationMs.toDouble))
      }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Per-operation averages over the window since construction; `ops` is
    * the number of user operations the window served.
    */
  def perOp(ops: Long): Map[String, Metric] = {
    Thread.sleep(300) // listener bus delivery is asynchronous
    val n = math.max(ops, 1L).toDouble
    val wallMs = (System.currentTimeMillis() - windowStartMs).toDouble
    val merged = intervals.asScala.toSeq.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s0, e0) :: rest, (s, e)) if s <= e0 => (s0, math.max(e0, e)) :: rest
      case (acc, iv) => iv :: acc
    }
    val jobWallS = merged.map { case (s, e) => e - s }.sum / 1000.0
    val taskS = taskNs.sum / 1e9
    Map(
      "spark.jobs" -> Metric(jobs.sum / n, "count", ops),
      "spark.tasks" -> Metric(tasks.sum / n, "count", ops),
      "spark.task_s" -> Metric(taskS / n, "s", ops),
      "spark.job_wall_s" -> Metric(jobWallS / n, "s", ops),
      "spark.driver_gap_s" -> Metric(math.max(0.0, wallMs / 1000.0 - jobWallS) / n, "s", ops),
      "spark.parallelism" -> Metric(if (jobWallS > 0) taskS / jobWallS else 0.0, "x", ops),
      "spark.shuffle_read_bytes" -> Metric(shuffleRead.sum / n, "B", ops),
      "spark.shuffle_write_bytes" -> Metric(shuffleWrite.sum / n, "B", ops),
      "spark.spill_bytes" -> Metric(spill.sum / n, "B", ops),
      "spark.gc_s" -> Metric((gcMs() - gcAtStart) / 1000.0 / n, "s", ops),
      "catalyst.analysis_s" -> Metric(phaseMs("analysis").sum / 1000.0 / n, "s", ops),
      "catalyst.optimization_s" -> Metric(phaseMs("optimization").sum / 1000.0 / n, "s", ops),
      "catalyst.planning_s" -> Metric(phaseMs("planning").sum / 1000.0 / n, "s", ops))
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

/** Host-side context stamped into every run. */
object Host {
  def loadavg(): Seq[Double] =
    try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")))
      .trim.split("\\s+").take(3).map(_.toDouble).toSeq
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** Seconds for a fixed single-threaded CPU loop, best of three: it moves
    * with load from other tenants of the host, not with the code under
    * test, so a run taken on a loaded host marks itself.
    */
  def calibrate(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var h = 0L
      var i = 0
      while (i < 50000000) { h = h * 31 + (i ^ (h >>> 7)); i += 1 }
      if (h == 42L) System.err.print("")
      (System.nanoTime() - t0) / 1e9
    }
    Seq.fill(3)(once()).min
  }

  /** Peak heap use across the JVM's heap pools, in MiB. */
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"perfbench: ${sinceJvmStart()}%7.2f s  $msg")

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}
