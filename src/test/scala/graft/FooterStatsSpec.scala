package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.SnapshotCatalog

/** Pins the round-16 footer-stats fast path to VALUE EQUALITY with the
  * Spark read-back aggregation it replaced: for every supported type,
  * the footer-derived (rows, min, max) must parse/compare equal to
  * what `spark.read...groupBy(input_file_name).agg(min/max)` computed,
  * so pruning decisions and metadata-table outputs cannot move.
  */
class FooterStatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private var wh: String = _
  private var cat: SnapshotCatalog = _

  override def beforeAll(): Unit = {
    spark = graft.core.GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    wh = Files.createTempDirectory("graft_footer_spec").toString
    cat = new SnapshotCatalog(spark, wh)
  }

  override def afterAll(): Unit = {
    def rm(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.iterator().forEachRemaining(rm(_)) finally s.close()
      }
      Files.deleteIfExists(p): Unit
    }
    rm(java.nio.file.Paths.get(wh))
    spark.stop()
  }

  /** The OLD Spark read-back aggregation, restated verbatim. */
  private def sparkStats(schema: StructType, files: Seq[String])
      : Map[String, (Long, Map[String, String], Map[String, String])] = {
    val statCols = schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] =>
        f.name -> col(f.name).cast("double")
      case f if f.dataType == TimestampType =>
        f.name -> col(f.name).cast("double")
      case f if f.dataType == StringType => f.name -> col(f.name)
    }.toSeq
    val aggs = count(lit(1)).as("_rows") +: statCols.flatMap { case (n, c) =>
      Seq(min(c).cast("string").as(s"_min_$n"),
        max(c).cast("string").as(s"_max_$n"))
    }
    spark.read.schema(schema).parquet(files: _*)
      .groupBy(input_file_name().as("_file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val path = new java.net.URI(r.getString(0)).getPath
        val mins = statCols.flatMap { case (n, _) =>
          Option(r.getAs[String](s"_min_$n")).map(n -> _) }.toMap
        val maxs = statCols.flatMap { case (n, _) =>
          Option(r.getAs[String](s"_max_$n")).map(n -> _) }.toMap
        path -> ((r.getAs[Long]("_rows"), mins, maxs))
      }.toMap
  }

  private def writeAndCompare(df: DataFrame,
      expectFooter: Boolean = true): Unit = {
    val dir = Files.createTempDirectory(
      java.nio.file.Paths.get(wh), "case").toString
    df.write.mode("overwrite").parquet(dir)
    val files = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted.toSeq
    assert(files.nonEmpty)
    val footer = cat.footerFileStats(df.schema, files)
    if (!expectFooter) { assert(footer.isEmpty); return }
    assert(footer.isDefined, "footer path must cover this shape")
    val oracle = sparkStats(df.schema, files)
    val byPath = footer.get.map(s => s.path -> s).toMap
    assert(byPath.keySet == oracle.keySet)
    for ((path, (rows, mins, maxs)) <- oracle) {
      val f = byPath(path)
      assert(f.rows == rows, s"rows for $path")
      assert(f.min.keySet == mins.keySet, s"min keys for $path: ${f.min.keySet} vs ${mins.keySet}")
      assert(f.max.keySet == maxs.keySet, s"max keys for $path")
      for ((k, v) <- mins) {
        val dt = df.schema(k).dataType
        if (dt == StringType)
          assert(f.min(k) == v, s"min[$k] for $path")
        else {
          assert(f.min(k).toDouble == v.toDouble,
            s"min[$k] for $path: ${f.min(k)} vs $v")
          assert(f.max(k).toDouble == maxs(k).toDouble,
            s"max[$k] for $path: ${f.max(k)} vs ${maxs(k)}")
        }
      }
      for ((k, v) <- maxs if df.schema(k).dataType == StringType)
        assert(f.max(k) == v, s"max[$k] for $path")
    }
  }

  test("numeric grid: int/long/short/byte/float/double, multi-file") {
    val df = spark.range(0, 1000, 1, 3).select(
      col("id").cast("int").as("i"),
      (col("id") * 1000000L - 500000000L).as("l"),
      (col("id") % 100).cast("short").as("s"),
      (col("id") % 20).cast("byte").as("b"),
      (col("id").cast("float") / 7.0f).as("f"),
      (col("id").cast("double") / 3.0 - 11.1).as("d"))
    writeAndCompare(df)
  }

  test("longs beyond 2^53 keep min/max exact through the double grid") {
    val df = spark.range(0, 10, 1, 1).select(
      (col("id") + 9007199254740993L).as("l"))
    writeAndCompare(df)
  }

  test("decimals: int32-, int64- and binary-backed precisions") {
    val df = spark.range(0, 100, 1, 2).select(
      (col("id").cast("decimal(9,2)") / 7).cast("decimal(9,2)").as("d9"),
      (col("id").cast("decimal(18,4)") * 1234567).cast("decimal(18,4)").as("d18"),
      (col("id").cast("decimal(38,0)") * 123456789012345678L)
        .cast("decimal(38,0)").as("d38"))
    writeAndCompare(df)
  }

  test("strings: unicode, >64-char truncation, empty string") {
    val rows = Seq("", "a", "z" * 80, "été", "😀emoji",
      "￿-high", "plain") ++ (0 until 50).map(i => s"doc-$i")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map(org.apache.spark.sql.Row(_)), 2),
      StructType(Seq(StructField("t", StringType))))
    writeAndCompare(df)
  }

  test("timestamps (micros) match the cast-to-double grid") {
    val df = spark.range(0, 100, 1, 2).select(
      timestamp_seconds(col("id") * 86400 + lit(0.123456)).as("ts"))
    writeAndCompare(df)
  }

  test("all-null and partially-null columns") {
    val df = spark.range(0, 100, 1, 2).select(
      lit(null).cast("int").as("all_null"),
      when(col("id") % 3 === 0, col("id")).as("some_null"),
      when(col("id") % 2 === 0, concat(lit("s"), col("id"))).as("str_null"))
    writeAndCompare(df)
  }

  test("NaN doubles fall back (unprovable)") {
    val df = spark.range(0, 10, 1, 1).select(
      when(col("id") === 5, lit(Double.NaN))
        .otherwise(col("id").cast("double")).as("d"))
    writeAndCompare(df, expectFooter = false)
  }

  test("multi-file batch with ONE unprovable file bails whole (pool path)") {
    // round 17: footer reads run on a driver pool for files.size > 1 —
    // an Unprovable thrown on a worker thread must still collapse the
    // WHOLE batch to the Spark fallback, exactly as the serial loop did
    val df = spark.range(0, 90, 1, 3).select(
      when(col("id") === 70, lit(Double.NaN)) // NaN lands in one file only
        .otherwise(col("id").cast("double")).as("d"))
    writeAndCompare(df, expectFooter = false)
  }

  test("INT96 timestamps fall back to the Spark read-back, end to end") {
    // the engine writes int64 micros; INT96 carries no usable footer
    // stats, so a file written that way must take the read-back path
    // and still commit exact manifest stats
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try {
      val df = spark.range(0, 60, 1, 2).select(col("id").as("k"),
        timestamp_seconds(col("id") * 3600).as("ts"))
      writeAndCompare(df, expectFooter = false)
      cat.createTable("fs", "int96", df.schema)
      cat.append("fs", "int96", df)
      val snap = cat.describe("fs", "int96").currentSnapshot.get
      val oracle = sparkStats(df.schema, snap.files)
      assert(snap.fileStats.nonEmpty)
      for (fs <- snap.fileStats) {
        val (rows, mins, maxs) = oracle(fs.path)
        assert(fs.rows == rows)
        assert(fs.min("ts").toDouble == mins("ts").toDouble)
        assert(fs.max("ts").toDouble == maxs("ts").toDouble)
      }
    } finally spark.conf.set(key, prev)
  }

  test("schema wider than the file (evolution null-pad)") {
    val base = spark.range(0, 50, 1, 1).select(col("id").as("k"))
    val dir = Files.createTempDirectory(
      java.nio.file.Paths.get(wh), "wide").toString
    base.write.mode("overwrite").parquet(dir)
    val files = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).toSeq
    val wide = StructType(Seq(StructField("k", LongType),
      StructField("added", StringType)))
    val footer = cat.footerFileStats(wide, files)
    assert(footer.isDefined)
    val s = footer.get.head
    assert(s.rows == 50L)
    assert(s.min.contains("k") && !s.min.contains("added"))
  }

  test("commit path produces footer-equal manifests end to end") {
    // an append through the catalog must yield the same manifest stats
    // the Spark path would have written (rows surface in metadata
    // tables; min/max drive pruning)
    val df = spark.range(0, 500, 1, 2).select(
      col("id").as("k"),
      (col("id") % 7).cast("double").as("v"),
      concat(lit("row-"), col("id")).as("name"))
    cat.createTable("fs", "t", df.schema)
    cat.append("fs", "t", df)
    val snap = cat.describe("fs", "t").currentSnapshot.get
    assert(snap.fileStats.nonEmpty)
    val oracle = sparkStats(df.schema, snap.files)
    for (fs <- snap.fileStats) {
      val (rows, mins, maxs) = oracle(fs.path)
      assert(fs.rows == rows)
      assert(fs.min("k").toDouble == mins("k").toDouble)
      assert(fs.max("v").toDouble == maxs("v").toDouble)
      assert(fs.min("name") == mins("name"))
      assert(fs.max("name") == maxs("name"))
    }
  }
}
