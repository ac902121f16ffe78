package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.{PartitionSpec, SnapshotCatalog}

/** The catalog's one data-file writer builds each file's manifest bloom
  * inside the write tasks. These tests pin those blooms bit for bit to
  * the read-back aggregation (`collectFileBlooms`) over the committed
  * files, per file path, across the write shapes the catalog produces,
  * and pin the commit itself to one Spark job that never re-reads the
  * files it wrote.
  */
class CommitWriterSpec extends SparkTestBase {

  private val Ns = "w"

  /** Rows: id long, user string, i int, s short, b byte; every column
    * but `id` is null on rows where id % 3 == 0 (partial nulls). */
  private def frame(from: Long, until: Long): DataFrame = {
    val nullable = (c: org.apache.spark.sql.Column) =>
      when(col("id") % 3 =!= 0, c)
    spark.range(from, until).select(
      col("id"),
      nullable(concat(lit("u"), (col("id") % 97).cast("string"))).as("user"),
      nullable((col("id") * 7).cast("int")).as("i"),
      nullable((col("id") % 1000).cast("short")).as("s"),
      nullable((col("id") % 100).cast("byte")).as("b"))
  }

  private val BloomCols = Seq("id", "user", "i", "s", "b")

  /** A table blooming every column of [[frame]] and `tag`, which only
    * later batches carry. */
  private def newTable(cat: SnapshotCatalog, t: String,
      extra: Map[String, String] = Map.empty): Unit =
    cat.createTable(Ns, t, frame(0, 1).schema, Map(SnapshotCatalog.BloomColumnsProp ->
      (BloomCols :+ "tag").mkString(",")) ++ extra)

  /** Every current file's manifest blooms equal the read-back's; returns
    * the manifest entries for further checks. */
  private def assertBloomsMatchReadBack(cat: SnapshotCatalog,
      t: String): Seq[SnapshotCatalog.FileStats] = {
    val meta = cat.describe(Ns, t)
    val schema = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
    val stats = meta.currentSnapshot.map(_.fileStats).getOrElse(Seq.empty)
    val readBack = cat.collectFileBlooms(schema, stats.map(_.path),
      (BloomCols :+ "tag").filter(schema.fieldNames.contains))
    for (s <- stats)
      assert(s.blooms == readBack.get(s.path), s"bloom mismatch on ${s.path}")
    stats
  }

  test("writer blooms equal the read-back for string and integral columns, " +
      "partial nulls, an all-null file and a multi-task write") {
    val cat = new SnapshotCatalog(spark, tmpDir("graft-wb-types"))
    newTable(cat, "t")
    cat.append(Ns, "t", frame(0, 400).repartition(4))
    // one file whose bloom columns are all null: no bloom at all
    cat.append(Ns, "t", frame(0, 400).where(col("id") % 3 === 0)
      .select(col("id"), lit(null).cast("string").as("user"),
        lit(null).cast("int").as("i"), lit(null).cast("short").as("s"),
        lit(null).cast("byte").as("b")).coalesce(1))
    val stats = assertBloomsMatchReadBack(cat, "t")
    assert(stats.size == 5)
    assert(stats.take(4).forall(_.blooms.exists(_.keySet == BloomCols.toSet)))
    assert(stats.exists(_.blooms.exists(_.keySet == Set("id"))))
    // every written value probes positive in its file's bloom
    val f = stats.head
    val ids = spark.read.parquet(f.path).select("id").collect().map(_.getLong(0))
    assert(ids.nonEmpty && ids.forall(v =>
      SnapshotCatalog.mightContain(f, "id", v.toString)))
  }

  test("hidden partitioning: one task writes the same part name into two " +
      "partition dirs, each with its own bloom") {
    val cat = new SnapshotCatalog(spark, tmpDir("graft-wb-part"))
    newTable(cat, "t", Map(PartitionSpec.PropertyKey -> "bucket(2, id)"))
    cat.append(Ns, "t", frame(0, 300).coalesce(1))
    val stats = assertBloomsMatchReadBack(cat, "t")
    assert(stats.size == 2 && stats.flatMap(_.pval).distinct.size == 2)
    val names = stats.map(s => java.nio.file.Paths.get(s.path).getFileName.toString)
    assert(names.distinct.size == 1, names)
    assert(stats.map(_.blooms).distinct.size == 2)
  }

  test("writer blooms on a write.order table, an empty batch, evolved " +
      "batches with and without a bloom column, a CDC batch, and after " +
      "maintain's compaction") {
    val cat = new SnapshotCatalog(spark, tmpDir("graft-wb-shapes"))
    newTable(cat, "t", Map(SnapshotCatalog.WriteOrderProp -> "id,i"))
    cat.append(Ns, "t", frame(0, 200).repartition(2))
    cat.append(Ns, "t", frame(0, 0))
    // evolves the schema with `extra` but lacks the bloom column `tag`
    cat.append(Ns, "t", frame(200, 300).withColumn("extra", lit(1)).coalesce(1))
    // evolves it with `tag`
    def tagged(from: Long, until: Long) = frame(from, until)
      .withColumn("extra", lit(2))
      .withColumn("tag", concat(lit("t"), col("id").cast("string"))).coalesce(1)
    cat.append(Ns, "t", tagged(300, 350))
    // a CDC batch narrower than the table: no `user`, no `tag`
    cat.cdcUpsert(Ns, "t", frame(350, 400).drop("user").coalesce(1),
      frame(0, 10).select("id"), Seq("id"))
    val before = assertBloomsMatchReadBack(cat, "t")
    assert(before.size == 5)
    assert(before.count(_.blooms.exists(_.contains("tag"))) == 1)
    assert(before.exists(_.blooms.exists(b => !b.contains("user"))))
    assert(cat.read(Ns, "t").count() == 390)
    for (k <- 0 until 3) cat.append(Ns, "t", tagged(400 + 50 * k, 450 + 50 * k))
    val files = cat.describe(Ns, "t").currentSnapshot.get.files.toSet
    assert(cat.maintain(Ns, "t", keepLast = 2, targetFiles = 2).compacted)
    val after = assertBloomsMatchReadBack(cat, "t")
    assert(after.nonEmpty && after.forall(s => !files(s.path)))
    assert(cat.read(Ns, "t").count() == 540)
  }

  /** The Spark jobs `body` starts, and the physical plan of every SQL
    * execution it runs. A marker job after `body` flushes the listener
    * bus: events reach a listener in the order they were posted. */
  private def jobsOf(body: => Unit): (Int, Seq[String]) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val plans = new ConcurrentLinkedQueue[String]()
    val marker = java.util.UUID.randomUUID().toString
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.marker") == marker))
          flushed.countDown()
        else jobs.incrementAndGet(): Unit
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription): Unit
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      spark.sparkContext.setLocalProperty("graft.marker", marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setLocalProperty("graft.marker", null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(l)
    (jobs.get, plans.asScala.toSeq)
  }

  /** The scan locations of `plans` that name a path containing `dir`. */
  private def scansOf(plans: Seq[String], dir: String): Seq[String] =
    plans.flatMap(_.split("\n")).filter(l => l.contains("Location:") && l.contains(dir))

  test("a bloomed 500-row append is one Spark job that reads no file it wrote; " +
      "a compaction pass runs no bloom read-back job") {
    val cat = new SnapshotCatalog(spark, tmpDir("graft-wb-jobs"))
    newTable(cat, "t")
    val batch = spark.createDataFrame(frame(0, 500).collect().toSeq.asJava,
      frame(0, 1).schema)
    cat.append(Ns, "t", batch) // warm the write path once
    val (appendJobs, appendPlans) = jobsOf(cat.append(Ns, "t", batch))
    assert(appendJobs == 1, appendPlans)
    assert(scansOf(appendPlans, "/write-").isEmpty, appendPlans)
    for (_ <- 0 until 3) cat.append(Ns, "t", batch)
    val (compactJobs, compactPlans) = jobsOf(cat.compactFileGroups(Ns, "t"))
    // the rewrite reads the old files; nothing reads the binpack output
    assert(compactJobs >= 1 && scansOf(compactPlans, "/write-").nonEmpty, compactPlans)
    assert(scansOf(compactPlans, "/binpack-").isEmpty, compactPlans)
    assertBloomsMatchReadBack(cat, "t")
  }
}
