package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.core.Config
import graft.ingest.PurchaseEvents
import graft.schema.SchemaStore
import graft.streaming.{QueryLifecycle, Sinks}

class ControlPlaneSpec extends SparkTestBase {

  // ------------------------------------------------------------ C6

  test("env interpolation: nested structures, unknown vars left intact") {
    val env = Map("HOST" -> "minio", "PORT" -> "9000")
    val cfg = Map(
      "url" -> "http://${HOST}:${PORT}/bucket",
      "nested" -> Map("keep" -> "${UNKNOWN}", "list" -> Seq("${HOST}", "x")))
    val out = Config.interpolateAny(cfg, env).asInstanceOf[Map[String, Any]]
    assert(out("url") == "http://minio:9000/bucket")
    val nested = out("nested").asInstanceOf[Map[String, Any]]
    assert(nested("keep") == "${UNKNOWN}")
    assert(nested("list") == Seq("minio", "x"))
  }

  test("env interpolation properties: no-vars strings unchanged; full substitution") {
    // mirrors the reference's regex semantics (kafka_publisher.py:225-245)
    val prop = Prop.forAll(Gen.alphaNumStr, Gen.alphaNumStr) { (a: String, b: String) =>
      Config.interpolate(a, Map("X" -> b)) == a &&                 // no ${}
        Config.interpolate(s"$a$${X}", Map("X" -> b)) == a + b
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(result.passed, result.status.toString)
  }

  test("env knobs: unset takes the default, a malformed or non-positive value names the variable") {
    assert(EnvKnobs.positiveInt("SPARK_GRAFT_CPUS", None, 4) == Right(4))
    assert(EnvKnobs.positiveInt("SPARK_GRAFT_CPUS", Some(" 8 "), 4) == Right(8))
    for (bad <- Seq("", "eight", "0", "-2", "1.5"))
      assert(EnvKnobs.positiveInt("SPARK_GRAFT_CPUS", Some(bad), 4)
        .left.exists(_.contains("SPARK_GRAFT_CPUS must be a positive integer")), bad)
    assert(EnvKnobs.positiveDouble("SPARK_GRAFT_CALIB_FLOOR", Some("0.2"), 0.15) == Right(0.2))
    for (bad <- Seq("0.15s", "0", "-1", "NaN", "Infinity"))
      assert(EnvKnobs.positiveDouble("SPARK_GRAFT_CALIB_FLOOR", Some(bad), 0.15)
        .left.exists(_.contains("SPARK_GRAFT_CALIB_FLOOR must be a positive number")), bad)
  }

  // ------------------------------------------------------------ C2/C3

  test("schema store: register, reuse identical, evolve, reject incompatible") {
    val store = new SchemaStore(tmpDir("graft-registry"))
    val v1 = StructType(Seq(StructField("id", LongType)))
    val v2 = StructType(Seq(StructField("id", LongType), StructField("x", StringType)))

    val r1 = store.register("iceberg-topic-value", v1)
    assert(r1.version == 1)
    // identical schema -> same version reused (kafka_publisher.py:108-118)
    assert(store.register("iceberg-topic-value", v1).version == 1)
    // compatible addition -> next version
    assert(store.register("iceberg-topic-value", v2).version == 2)
    assert(store.latest("iceberg-topic-value").map(_._1).contains(2))
    // incompatible (type change) -> raise, like test_compatibility
    val bad = StructType(Seq(StructField("id", StringType), StructField("x", StringType)))
    intercept[IllegalArgumentException](store.register("iceberg-topic-value", bad))
    assert(store.subjects() == Seq("iceberg-topic-value"))
    assert(store.versions("iceberg-topic-value") == Seq(1, 2))
  }

  test("serialization self-test fixture round-trips (C4)") {
    // the canonical startup payload, kafka_publisher.py:152-160
    import PurchaseEvents._
    import spark.implicits._
    val fixture = PurchaseEvent(1743171234567L, "test_user", "test", 0.0,
      UserDetails("Test User", 30, "test@example.com"),
      Map("test" -> "value"), Seq(0.0))
    val ds = Seq(fixture).toDS()
    assert(ds.collect().head == fixture)
    val store = new SchemaStore(tmpDir("graft-reg2"))
    assert(store.register("iceberg-topic-value", ds.schema).version == 1)
  }

  // ------------------------------------------------------------ C7

  test("query lifecycle: deploy, status, restart, stop") {
    val lc = new QueryLifecycle(spark)
    val src = tmpDir("graft-lc-src")
    val out = tmpDir("graft-lc-out")
    val ckpt = tmpDir("graft-lc-ckpt")
    PurchaseEvents.batch(spark, 1700000000000L, 6).write.mode("append").parquet(src)

    def start() = Sinks.partitionedParquet(
      spark.readStream.schema(PurchaseEvents.schema).parquet(src),
      "timestamp", out, ckpt, trigger = Trigger.AvailableNow()).start()

    assert(lc.status("s3-sink").contains("UNREGISTERED"))
    val q = lc.deploy("s3-sink")(start)
    assert(lc.exists("s3-sink"))
    q.awaitTermination()
    assert(lc.status("s3-sink").contains("STOPPED"))
    assert(spark.read.parquet(out).count() == 6)

    // restart resumes from checkpoint: no new data -> no duplicate rows
    val q2 = lc.restart("s3-sink")
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() == 6)
    lc.stop("s3-sink")
    assert(lc.list() == Seq("s3-sink"))
  }

  // ------------------------------------------------------------ R3

  test("engine schema probe validates without launching a job") {
    val engine = new graft.query.Engine(spark,
      new graft.catalog.SnapshotCatalog(spark, tmpDir("graft-probe")))
    val ok = engine.schemaProbe(s"$sf0001/region.parquet")
    assert(ok.contains(""""name":"r_name","type":"string""""))
    assert(ok.endsWith(""""valid":true}"""))
    assert(engine.schemaProbe("/nonexistent/x.parquet").startsWith("""{"error":"""))
  }
}
