package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-Spark-job timing breakdown for one SparkEntry query — the
  * guide-§1 "where does the time actually go" loop for queries whose
  * cost is many small jobs (the catalog DML lifecycles) rather than one
  * big stage. Prints every job's wall duration, first-stage callsite
  * and description, then the top callsites by total time. Run:
  *
  *   sbt "runMain graft.tools.JobProfile /root/testdata/sf0.1 q56_sql_dml"
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    require(names.nonEmpty, "usage: JobProfile <sfDir> <queryName>...")
    val cpus = graft.EnvKnobs.cpus(32)
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    case class Job(id: Int, var site: String = "", var desc: String = "",
      var startMs: Long = 0L, var endMs: Long = 0L, var stages: Int = 0,
      var tasks: Int = 0)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    // stageId → jobId from JobStart.stageIds, so overlapping jobs and
    // stages finishing after a newer job starts credit the OWNING job
    // (round-16 ADVICE)
    val stageOwner = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val j = Job(e.jobId)
        j.startMs = e.time
        j.site = e.stageInfos.lastOption.map(_.details.linesIterator
          .filterNot(_.contains("org.apache.spark"))
          .filterNot(_.contains("java.")).take(1).mkString).getOrElse("")
        j.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        j.stages = e.stageIds.size
        e.stageIds.foreach(sid => stageOwner(sid) = e.jobId)
        jobs(e.jobId) = j
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.endMs = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          stageOwner.get(e.stageInfo.stageId).flatMap(jobs.get)
            .orElse(jobs.values.lastOption)
            .foreach(_.tasks += e.stageInfo.numTasks)
        }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { n =>
      jobs.synchronized { jobs.clear(); stageOwner.clear() }
      // warm run first: JIT/codegen, matching the bench's min-of-3 view
      graft.SparkEntry.queries(n)(spark, dir).count(): Unit
      graft.core.CacheHygiene.releaseAll(spark, blocking = true)
      jobs.synchronized { jobs.clear(); stageOwner.clear() }
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, dir).count(): Unit
      val total = (System.nanoTime() - t0) / 1e9
      graft.core.CacheHygiene.releaseAll(spark, blocking = true)
      Thread.sleep(300) // let listener events drain
      val snap = jobs.synchronized(jobs.values.toSeq)
      println(f"========== $n: $total%.3f s, ${snap.size} jobs ==========")
      snap.foreach { j =>
        val d = (j.endMs - j.startMs) / 1e3
        println(f"  job ${j.id}%4d ${d}%7.3f s stages=${j.stages}%2d " +
          f"tasks=${j.tasks}%4d  ${j.site.take(90)}")
      }
      val bySite = snap.groupBy(_.site).map { case (s, js) =>
        (s, js.map(j => (j.endMs - j.startMs) / 1e3).sum, js.size)
      }.toSeq.sortBy(-_._2)
      println("  --- by callsite ---")
      bySite.take(15).foreach { case (s, t, n2) =>
        println(f"  ${t}%7.3f s  x$n2%-3d  ${s.take(100)}")
      }
      val jobSum = snap.map(j => (j.endMs - j.startMs) / 1e3).sum
      println(f"  job time sum ${jobSum}%.3f s vs wall $total%.3f s " +
        f"(driver-side gap ${total - jobSum}%.3f s)")
    }
    spark.stop()
  }
}
