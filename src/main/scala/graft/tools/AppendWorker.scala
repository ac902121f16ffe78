package graft.tools

import graft.catalog.SnapshotCatalog

/** Second-JVM append worker for the multi-process commit-contention
  * smoke (MultiProcessSpec): appends `n` small batches to an existing
  * table in a SHARED warehouse. Run concurrently with another process
  * appending to the same table, it proves the CREATE_NEW + retry
  * commit protocol (SnapshotCatalog scaladoc) holds across JVMs —
  * the in-process `synchronized` is a convenience for threads, not a
  * hidden crutch the protocol depends on.
  *
  *   java -cp <test classpath> graft.tools.AppendWorker \
  *     <warehouse> <ns> <table> <nBatches> <tag>
  */
object AppendWorker {
  def main(args: Array[String]): Unit = {
    val Array(warehouse, ns, table, nStr, tag) = args
    val spark = graft.core.GraftSession.builder("local[2]", 2)
      .appName(s"graft-append-worker-$tag")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val catalog = new SnapshotCatalog(spark, warehouse)
    import spark.implicits._
    (0 until nStr.toInt).foreach { i =>
      val batch = Seq.tabulate(10)(j => (s"$tag-$i-$j", tag, i.toLong))
        .toDF("payload", "writer", "batch")
      catalog.append(ns, table, batch)
    }
    spark.stop()
    println(s"[worker] $tag done")
  }
}
