package graft

import org.apache.spark.sql.types._

import graft.core.Tables

/** Schema contract for the driver-provided testdata (TESTDATA.md).
  *
  * The driver regenerates /root/testdata between rounds and has
  * changed physical types before (round 6: events.ts went from INT64
  * nanos to parquet timestamp[us], silently breaking 17 queries at
  * load). This spec pins the LOGICAL schema each table must present
  * AFTER Tables.load's adaptation, so the next drift produces one red
  * test naming the drifted column instead of opaque downstream
  * failures.
  */
class TablesSpec extends SparkTestBase {

  // Logical (post-load) contract. events.ts must be session-TZ
  // TimestampType regardless of the physical generation on disk.
  private val contract: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType)
  )

  private def checkDir(dir: String): Unit =
    for (name <- Tables.names) {
      val got = Tables.load(spark, dir, name).schema
        .map(f => f.name -> f.dataType)
      val want = contract(name)
      // Diff by NAME first (a column inserted mid-schema must report as
      // one extra column, not cascade "every later column drifted"),
      // then check order separately.
      val gotM = got.toMap
      val wantM = want.toMap
      val missing = want.collect { case (n, t) if !gotM.contains(n) =>
        s"missing column ($n,$t)" }
      val extra = got.collect { case (n, t) if !wantM.contains(n) =>
        s"extra column ($n,$t)" }
      val retyped = want.collect {
        case (n, t) if gotM.contains(n) && gotM(n) != t =>
          s"column $n: want $t got ${gotM(n)}" }
      val reordered =
        if (missing.isEmpty && extra.isEmpty &&
          want.map(_._1) != got.map(_._1))
          Seq(s"column order changed: want ${want.map(_._1).mkString(",")} " +
            s"got ${got.map(_._1).mkString(",")}")
        else Nil
      val drift = missing ++ extra ++ retyped ++ reordered
      assert(drift.isEmpty,
        s"\nTESTDATA DRIFT in $dir/$name.parquet — the driver likely " +
          s"regenerated /root/testdata with new physical types. Drifted " +
          s"columns: ${drift.mkString("; ")}. Adapt core/Tables.load " +
          s"(and re-check DuckDB oracle parity for consumers of the " +
          s"drifted columns) before trusting any other failure.")
    }

  test("sf0.001 tables match the post-load schema contract") {
    checkDir("/root/testdata/sf0.001")
  }

  test("sf0.01 tables match the post-load schema contract") {
    checkDir("/root/testdata/sf0.01")
  }

  test("sf0.1 tables match the post-load schema contract") {
    checkDir("/root/testdata/sf0.1") // the bench dir — footer reads only
  }

  test("events.ts is non-null and in a plausible epoch range") {
    import org.apache.spark.sql.functions._
    val row = Tables.load(spark, sf0001, "events")
      .agg(count(lit(1)).as("n"),
        sum(col("ts").isNull.cast("long")).as("nulls"),
        min(year(col("ts"))).as("ymin"), max(year(col("ts"))).as("ymax"))
      .head()
    assert(row.getAs[Long]("n") > 0)
    assert(row.getAs[Long]("nulls") == 0L)
    val (ymin, ymax) = (row.getAs[Int]("ymin"), row.getAs[Int]("ymax"))
    assert(ymin >= 1990 && ymax <= 2100,
      s"events.ts outside plausible epoch range: years [$ymin, $ymax] — " +
        "a unit mix-up (ns vs us vs ms) in the loader shim would land here")
  }

  test("the test session carries the conf GraftSession pins") {
    val pinned = Seq(
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.hadoop.parquet.statistics.truncate.length" -> Int.MaxValue.toString,
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.sql.session.timeZone" -> "UTC")
    for ((k, v) <- pinned)
      assert(spark.conf.getOption(k).contains(v), s"$k = ${spark.conf.getOption(k)}")
    // the Hadoop-side key is what the parquet writer actually reads
    assert(spark.sparkContext.hadoopConfiguration
      .get("parquet.statistics.truncate.length") == Int.MaxValue.toString)
  }

  /** File name → text of every Scala source under `roots`. */
  private def sources(roots: String*): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    roots.flatMap { root =>
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.map(f => f.getFileName.toString -> java.nio.file.Files.readString(f))
  }

  test("GraftSession.scala is the only source that builds a SparkSession") {
    val call = raw"SparkSession\s*\.\s*builder\s*\(\s*\)".r
    val builders = sources("src/main", "src/test")
      .collect { case (name, text) if call.findFirstIn(text).isDefined => name }
    assert(builders == Seq("GraftSession.scala"))
  }

  test("GraftExtensions.scala is the only source that extends a session") {
    // functions, rules and strategies enter a session at build time
    // through GraftExtensions' inject* calls, never at run time
    val runtime = raw"createOrReplaceTempFunction|extraStrategies|extraOptimizations".r
    val inject = raw"\.\s*inject[A-Z]\w*".r
    val main = sources("src/main")
    assert(main.collect { case (n, t) if runtime.findFirstIn(t).isDefined => n }.isEmpty)
    assert(main.collect { case (n, t) if inject.findFirstIn(t).isDefined => n } ==
      Seq("GraftExtensions.scala"))
  }

  test("replies are built as one projection: no source calls toJSON") {
    // Dataset.toJSON is a typed mapPartitions: a reply's limit would
    // plan as a shuffle plus a row-object round trip per row
    assert(sources("src/main").collect { case (n, t) if t.contains("toJSON") => n }.isEmpty)
  }

  test("the vector expressions share one kernel: no generated loop, and " +
      "getDouble only in VectorKernels") {
    val files = Seq("CentroidOps.scala", "SignBits.scala", "SignBuckets.scala",
      "Sq8.scala", "DotProduct.scala")
    val vector = sources("src/main/scala/graft/functions/expressions")
      .filter { case (n, _) => files.contains(n) || n == "VectorKernels.scala" }
    assert(vector.map(_._1).sorted == (files :+ "VectorKernels.scala").sorted)
    assert(vector.collect { case (n, t) if t.contains("getDouble") => n } ==
      Seq("VectorKernels.scala"))
    // every nullSafeEval and doGenCode is one call into VectorKernels
    for ((n, t) <- vector if files.contains(n)) assert(!t.contains("for ("), n)
  }

  /** `text` from the line declaring `sig` to the end of that member
    * (the next line closing a brace at the member's indent). */
  private def member(text: String, sig: String): (Int, Int) = {
    val from = text.indexOf(sig)
    assert(from >= 0, s"no $sig")
    val indent = from - text.lastIndexOf('\n', from) - 1
    val end = text.indexOf("\n" + " " * indent + "}\n", from)
    assert(end > from, s"no end of $sig")
    (from, end)
  }

  test("the catalog writes files only through writeFiles, and only addFiles " +
      "reads blooms back") {
    val text = sources("src/main/scala/graft/catalog").map(_._2).mkString("\n")
    // every data and delete file goes through the one writer, which
    // builds manifest blooms in its write tasks
    val (w0, w1) = member(text, "private def writeFiles(")
    val write = raw"\.\s*write\s*\.\s*(parquet|partitionBy)\s*\(".r
    assert(write.findFirstIn(text.take(w0) + text.drop(w1)).isEmpty)
    // the read-back bloom job serves imported files only
    val calls = raw"(?<!def )collectFileBlooms\(".r.findAllMatchIn(text).map(_.start).toSeq
    val (a0, a1) = member(text, "def addFiles(")
    assert(calls.size == 1 && calls.forall(i => i > a0 && i < a1), calls)
  }

  test("every catalog commit goes through the one commit loop, and every " +
      "streaming writer states its precondition") {
    val text = sources("src/main/scala/graft/catalog")
      .collect { case ("SnapshotCatalog.scala", t) => t }.head
    val loop = member(text, "private def transact(")
    val create = member(text, "def createTable(")
    def where(pattern: String): Seq[String] =
      pattern.r.findAllMatchIn(text).map(_.start).toSeq.map { i =>
        if (i > loop._1 && i < loop._2) "transact"
        else if (i > create._1 && i < create._2) "createTable"
        else s"offset $i"
      }
    // the loop commits; createTable writes the first version directly
    assert(where(raw"(?<!def )\bcommit\(").sorted == Seq("createTable", "transact"))
    // a lost race is caught in the loop; createTable tolerates a
    // concurrent creator's uuid file
    assert(where(raw"case\s+\w+\s*:\s*(java\.nio\.file\.)?FileAlreadyExistsException")
      .sorted == Seq("createTable", "transact"))
    val main = sources("src/main")
    for (gone <- Seq("appendOnce", "cdcUpsertOnce", "retryMetaCommit",
        "commitPlanned", "recorded:"))
      assert(main.forall(!_._2.contains(gone)), gone)
    // a streaming writer decides on the marker or position it read
    // inside the commit attempt: every commit it makes passes `expect`
    val call = raw"catalog\.(append|overwrite|cdcUpsert|updateProperties|appendToBranch|publish)\(".r
    val calls = sources("src/main/scala/graft/streaming").flatMap { case (file, t) =>
      call.findAllMatchIn(t).map { m =>
        var depth = 1
        var i = m.end
        while (depth > 0) {
          if (t(i) == '(') depth += 1 else if (t(i) == ')') depth -= 1
          i += 1
        }
        s"$file: ${t.substring(m.start, i)}"
      }
    }
    assert(calls.size >= 12, calls)
    assert(calls.forall(_.contains("expect = ")), calls.filterNot(_.contains("expect = ")))
  }
}
