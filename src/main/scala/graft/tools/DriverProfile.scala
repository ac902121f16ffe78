package graft.tools

import scala.collection.mutable

/** Poor-man's sampling profiler for the DRIVER-side gap JobProfile
  * exposes (wall ≫ Σ job time on the DML tier): runs a SparkEntry
  * query on the main thread while a sampler thread grabs stack traces
  * every ~10 ms, then aggregates the hottest driver frames. The jobs'
  * executor work shows up as task-runner frames and is ignored; what
  * remains is Catalyst/commit/engine driver time — the §7.3 thread-dump
  * loop, automated. Run:
  *
  *   sbt "runMain graft.tools.DriverProfile /root/testdata/sf0.1 q67_delete_file_rewrite"
  */
object DriverProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    require(names.nonEmpty, "usage: DriverProfile <sfDir> <queryName>...")
    val cpus = graft.EnvKnobs.cpus(32)
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    names.foreach { n =>
      // warm run (JIT/codegen), as in JobProfile
      graft.SparkEntry.queries(n)(spark, dir).count(): Unit
      graft.core.CacheHygiene.releaseAll(spark, blocking = true)

      // AQE/broadcast planning and codegen run on pool threads, not the
      // main thread — sample EVERY thread, skip the obviously idle ones
      // (pool parked in take/poll, the sampler itself).
      val samples = mutable.ArrayBuffer.empty[Array[StackTraceElement]]
      val threadNames = mutable.ArrayBuffer.empty[String]
      @volatile var run = true
      @volatile var ticks = 0
      val sampler = new Thread(() => {
        while (run) {
          val all = Thread.getAllStackTraces
          all.forEach { (t, st) =>
            if (t.getName != "graft-driver-profiler" && st.nonEmpty) {
              val s0 = st.take(4).map(_.toString)
              val idlePool = s0.exists(f => f.contains("LockSupport.park")) &&
                st.exists(f => { val x = f.toString
                  x.contains("getTask") || x.contains("WorkQueue") ||
                  x.contains("take") || x.contains("poll") ||
                  x.contains("awaitWork") || x.contains("Object.wait") })
              if (!idlePool) { samples += st; threadNames += t.getName }
            }
          }
          ticks += 1
          Thread.sleep(10)
        }
      }, "graft-driver-profiler")
      sampler.setDaemon(true)
      sampler.start()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, dir).count(): Unit
      val total = (System.nanoTime() - t0) / 1e9
      run = false
      sampler.join()
      graft.core.CacheHygiene.releaseAll(spark, blocking = true)

      println(f"========== $n: $total%.3f s, ${samples.size} busy thread-samples over $ticks ticks ==========")
      // 1) coarse buckets by recognizable subsystem
      def bucket(st: Array[StackTraceElement]): String = {
        val s = st.map(_.toString)
        def has(p: String) = s.exists(_.contains(p))
        if (st.isEmpty) "idle/unsampled"
        else if (has("Executor$TaskRunner")) {
          if (has("codegen")) "task: codegen-compile" else "task-run"
        }
        else if (has("LockSupport.park")) "parked (waiting)"
        else if (has("catalyst.optimizer")) "catalyst-optimize"
        else if (has("catalyst.analysis")) "catalyst-analyze"
        else if (has("QueryPlanner") || has("SparkStrategies") ||
          has("adaptive.")) "physical-plan/AQE"
        else if (has("codegen")) "codegen"
        else if (has("catalyst.parser")) "sql-parse"
        else if (has("parquet.hadoop") || has("ParquetFileReader"))
          "parquet-footer-io"
        else if (has("java.io") || has("java.nio.file")) "file-io"
        else if (has("graft.catalog")) "graft-catalog-driver"
        else if (has("graft.query")) "graft-engine-driver"
        else if (has("catalyst.")) "catalyst-other"
        else if (has("spark.sql")) "spark-sql-other"
        else "other"
      }
      val byBucket = samples.groupBy(bucket).view
        .mapValues(_.size).toSeq.sortBy(-_._2)
      byBucket.foreach { case (b, c) =>
        println(f"  ${c * 100.0 / samples.size}%5.1f%% ($c%4d)  $b")
      }
      // thread-name histogram of the unclassified bucket
      val otherNames = mutable.Map.empty[String, Int].withDefaultValue(0)
      samples.indices.foreach { i =>
        if (bucket(samples(i)) == "other")
          otherNames(threadNames(i).replaceAll("[0-9]+", "N")) += 1
      }
      println("  --- 'other' thread names ---")
      otherNames.toSeq.sortBy(-_._2).take(12).foreach { case (nm, c) =>
        println(f"  $c%5d  $nm")
      }
      // 2) hottest single frames (excluding pure waits) for drill-down
      val frameCounts = mutable.Map.empty[String, Int].withDefaultValue(0)
      samples.foreach { st =>
        val s = st.map(_.toString)
        if (!s.exists(f => f.contains("LockSupport.park")) &&
            !s.exists(_.contains("Executor$TaskRunner"))) {
          // count the deepest graft/catalyst frame
          s.find(f => f.contains("graft.") || f.contains("catalyst.") ||
              f.contains("spark.sql")).foreach(f => frameCounts(f) += 1)
        }
      }
      println("  --- hottest non-waiting frames ---")
      frameCounts.toSeq.sortBy(-_._2).take(20).foreach { case (f, c) =>
        println(f"  $c%5d  ${f.take(130)}")
      }
    }
    spark.stop()
  }
}
