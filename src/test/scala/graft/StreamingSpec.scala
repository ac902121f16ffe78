package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.catalog.SnapshotCatalog
import graft.ingest.PurchaseEvents
import graft.streaming.Sinks

/** Holds a write job's task until the test releases it. */
object ReplayGate {
  @volatile var entered = new java.util.concurrent.CountDownLatch(1)
  @volatile var release = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = {
    entered = new java.util.concurrent.CountDownLatch(1)
    release = new java.util.concurrent.CountDownLatch(1)
  }
  def pass(): Boolean = { entered.countDown(); release.await(); true }

  /** A filter that holds the task evaluating it until the gate opens. */
  def gate(): org.apache.spark.sql.Column =
    udf(() => pass()).asNondeterministic()()

  /** Runs `first` on a thread until a task of it enters the [[gate]],
    * runs `second` to completion, then opens the gate and waits for
    * `first`. Returns what `first` threw, if anything. */
  def hold(first: => Unit)(second: => Unit): Option[Throwable] = {
    reset()
    @volatile var failure: Option[Throwable] = None
    val t = new Thread(() =>
      try first catch { case e: Throwable => failure = Some(e) })
    t.start()
    assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS))
    try second finally release.countDown()
    t.join(120000L)
    assert(!t.isAlive)
    failure
  }

  /** Two writers replay batch `id` of `rows` through `commit`: both pass
    * the sink's marker check before writing, and the first is held
    * inside its write job until the second has committed. */
  def race(commit: (DataFrame, Long) => Unit, rows: DataFrame, id: Long): Unit = {
    val failure = hold(commit(rows.where(gate()), id))(commit(rows, id))
    assert(failure.isEmpty, failure)
  }

  /** The number of directories under `root` whose name starts with `prefix`. */
  def dirsNamed(root: String, prefix: String): Int = {
    val all = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try all.iterator().asScala.count(p =>
      java.nio.file.Files.isDirectory(p) && p.getFileName.toString.startsWith(prefix))
    finally all.close()
  }
}

class StreamingSpec extends SparkTestBase {

  /** File-source micro-batch stream over generated purchase events —
    * the offline stand-in for the Kafka topic (SURVEY §2.1 S4).
    */
  private def startIngest(srcDir: String, cat: SnapshotCatalog, ckpt: String) = {
    val stream = spark.readStream
      .schema(PurchaseEvents.schema)
      .parquet(srcDir)
    Sinks.icebergLike(stream, cat, "default_db", "purchase_events",
      checkpointDir = ckpt, trigger = Trigger.AvailableNow()).start()
  }

  test("iceberg-like sink: micro-batches become atomic snapshot commits") {
    val src = tmpDir("graft-src")
    val ckpt = tmpDir("graft-ckpt")
    val cat = new SnapshotCatalog(spark, tmpDir("graft-wh"))

    PurchaseEvents.batch(spark, 1700000000000L, 10).write
      .mode("append").parquet(src)
    val q1 = startIngest(src, cat, ckpt)
    q1.awaitTermination()
    assert(cat.read("default_db", "purchase_events").count() == 10)

    // second wave of events; checkpoint resume must only ingest the delta
    PurchaseEvents.batch(spark, 1700000050000L, 5).write
      .mode("append").parquet(src)
    val q2 = startIngest(src, cat, ckpt)
    q2.awaitTermination()

    val meta = cat.describe("default_db", "purchase_events")
    assert(cat.read("default_db", "purchase_events").count() == 15)
    assert(meta.snapshots.nonEmpty && meta.snapshots.size >= 2)
    // lineage intact: every non-first snapshot points at its parent
    val ids = meta.snapshots.map(_.snapshotId)
    assert(meta.snapshots.tail.forall(s => ids.contains(s.parentId.get)))
  }

  test("sink replay: a redelivered micro-batch id appends exactly once") {
    import spark.implicits._
    // foreachBatch is at-least-once — a batch retried after a
    // mid-commit failure re-runs with the SAME id; the marker rides
    // the append's own atomic commit, so the replay must skip
    val cat = new SnapshotCatalog(spark, tmpDir("graft-replay-wh"))
    val commit = Sinks.appendBatch(cat, "s", "ev", "ckpt-replay-test") _
    val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    commit(b0, 0L)
    commit(b0, 0L) // redelivery
    assert(cat.read("s", "ev").count() == 2)
    assert(cat.describe("s", "ev").snapshots.size == 1)
    commit(Seq((3L, "c")).toDF("id", "v"), 1L) // later batches land
    assert(cat.read("s", "ev").count() == 3)
    // the marker is keyed per checkpoint lineage: a different stream
    // feeding the same table is not blocked by this stream's marker
    val commit2 = Sinks.appendBatch(cat, "s", "ev", "ckpt-other") _
    commit2(Seq((4L, "d")).toDF("id", "v"), 0L)
    assert(cat.read("s", "ev").count() == 4)
  }

  test("sink replay race: two writers replaying one batch id commit it once") {
    // both writers pass the marker check before writing; the first is
    // held inside its write job until the second has committed
    val wh = tmpDir("graft-replay-race-wh")
    val cat = new SnapshotCatalog(spark, wh)
    val rows = spark.range(0, 500, 1, 1).toDF("id")
    cat.createTable("s", "ev", rows.schema)
    ReplayGate.race(Sinks.appendBatch(cat, "s", "ev", "ckpt-race") _, rows, 0L)
    assert(cat.read("s", "ev").count() == 500)
    assert(cat.describe("s", "ev").snapshots.size == 1)
    // the loser deleted its unreferenced write dir
    assert(ReplayGate.dirsNamed(wh, "write-") == 1)
  }

  /** A CDC batch of (id, val, seq, op) rows in one partition. */
  private def cdcBatch(rows: Seq[(Long, String, Long, String)]) = {
    import spark.implicits._
    rows.toDF("id", "val", "seq", "op").coalesce(1)
  }

  test("CDC sink replay race: two writers replaying the first batch append it once") {
    val wh = tmpDir("graft-cdc-race0-wh")
    val cat = new SnapshotCatalog(spark, wh)
    val b0 = cdcBatch((0L until 200L).map(i => (i, s"v$i", 1L, "I")))
    cat.createTable("db", "kv", b0.drop("op").schema)
    ReplayGate.race(
      Sinks.cdcMorBatch(cat, "db", "kv", Seq("id"), "seq", "op", "ckpt-cdc-race0") _, b0, 0L)
    assert(cat.describe("db", "kv").snapshots.size == 1)
    assert(cat.read("db", "kv").count() == 200)
    assert(ReplayGate.dirsNamed(wh, "write-") == 1)
  }

  test("CDC sink replay race: two writers replaying one upsert batch commit it once") {
    val wh = tmpDir("graft-cdc-race1-wh")
    val cat = new SnapshotCatalog(spark, wh)
    val commit = Sinks.cdcMorBatch(cat, "db", "kv", Seq("id"), "seq", "op", "ckpt-cdc-race1") _
    commit(cdcBatch((0L until 200L).map(i => (i, s"v$i", 1L, "I"))), 0L)
    // upsert half the keys, delete ten
    val b1 = cdcBatch((0L until 100L).map(i => (i, s"w$i", 2L, "U")) ++
      (190L until 200L).map(i => (i, "", 2L, "D")))
    ReplayGate.race(commit, b1, 1L)
    assert(cat.describe("db", "kv").snapshots.size == 2)
    val state = cat.read("db", "kv").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state.size == 190 && state(0L) == "w0" && state(150L) == "v150")
    // the loser deleted both of its write dirs: one delete and one data
    // dir remain, the winner's
    assert(ReplayGate.dirsNamed(wh, "cdc-") == 2)
  }

  test("WAP replay race: two writers replaying one batch id publish it " +
      "once, by fast-forward") {
    val cat = new SnapshotCatalog(spark, tmpDir("graft-wap-race-wh"))
    val commit = Sinks.wapBatch(cat, "db", "t", "staging", _ => true,
      "ckpt-wap-race", auditBatchOnly = true) _
    commit(spark.range(0, 100, 1, 1).toDF("id"), 0L) // a non-empty table
    val before = cat.describe("db", "t").currentSnapshotId.get
    ReplayGate.race(commit, spark.range(100, 300, 1, 1).toDF("id"), 1L)
    assert(cat.read("db", "t").count() == 300)
    // the published head is the one staged append, chained directly on
    // the head the batch found: the pointer moved by fast-forward
    val meta = cat.describe("db", "t")
    val head = meta.currentSnapshot.get
    assert(head.parentId.contains(before))
    assert(head.operation.contains("append") && head.cherrypickedFrom.isEmpty)
    assert(meta.refs.get("staging").contains(head.snapshotId))
  }

  /** An upstream table `up.t` of `n` rows in one file, for the follower
    * races: one file keeps a held follower to one blocked task. */
  private def followed(wh: String, n: Long): SnapshotCatalog = {
    import spark.implicits._
    val cat = new SnapshotCatalog(spark, wh)
    val rows = (0L until n).map(i => (i, i.toDouble)).toDF("id", "v").coalesce(1)
    cat.createTable("up", "t", rows.schema)
    cat.append("up", "t", rows)
    cat
  }

  test("two writers auto-create one missing table: the loser of the v1 race " +
      "loads the winner's table") {
    import spark.implicits._
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    // the first existence check, the held writer's, answers "missing"
    // and waits until the other writer has created the table
    val cat = new SnapshotCatalog(spark, tmpDir("graft-create-race-wh")) {
      override def tableExists(ns: String, name: String): Boolean = {
        val exists = super.tableExists(ns, name)
        if (armed.getAndSet(false)) ReplayGate.pass()
        exists
      }
    }
    val schema = Seq((1L, 1.0)).toDF("id", "v").schema
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SnapshotCatalog.Expect]()
    def start(): Unit = seen.add(Sinks.marker(cat, "s", "t", "ckpt-create-race", schema)): Unit
    val failure = ReplayGate.hold(start())(start())
    assert(failure.isEmpty, failure)
    assert(seen.size == 2 && seen.asScala.forall(_.value.isEmpty))
    val meta = cat.describe("s", "t")
    assert(meta.schemaJson == schema.json && meta.snapshots.isEmpty)
    val metaFiles = new java.io.File(s"${cat.warehouse}/s/t/metadata").list()
      .filter(_.endsWith(".metadata.json")).toSeq
    assert(metaFiles == Seq("v00001.metadata.json"))
  }

  test("changelog follower race: two overlapping polls bootstrap the " +
      "downstream once") {
    val wh = tmpDir("graft-follow-race0-wh")
    val cat = followed(wh, 300L)
    // the first follower is held inside its bootstrap write
    val held = Sinks.changelogFollower(cat, "up", "t", "down", "t",
      Seq("id"), transform = _.where(ReplayGate.gate()))
    val other = Sinks.changelogFollower(cat, "up", "t", "down", "t", Seq("id"))
    val failure = ReplayGate.hold(held.poll(): Unit)(other.poll(): Unit)
    assert(failure.isEmpty, failure)
    assert(cat.read("down", "t").count() == cat.read("up", "t").count())
    assert(cat.describe("down", "t").snapshots.size == 1)
    // the loser deleted its unreferenced write dir
    assert(ReplayGate.dirsNamed(s"$wh/down", "write-") == 1)
  }

  test("changelog follower race: two overlapping polls apply a window once") {
    import spark.implicits._
    val wh = tmpDir("graft-follow-race1-wh")
    val cat = followed(wh, 300L)
    Sinks.changelogFollower(cat, "up", "t", "down", "t", Seq("id")).poll()
    // an upstream window that updates, deletes and inserts keys
    cat.cdcUpsert("up", "t",
      rows = ((0L until 50L).map(i => (i, -1.0)) ++
        (1000L until 1020L).map(i => (i, 1.0))).toDF("id", "v").coalesce(1),
      deletes = (290L until 300L).toDF("id"), keyCols = Seq("id"))
    val held = Sinks.changelogFollower(cat, "up", "t", "down", "t",
      Seq("id"), transform = _.where(ReplayGate.gate()))
    val other = Sinks.changelogFollower(cat, "up", "t", "down", "t", Seq("id"))
    val failure = ReplayGate.hold(held.poll(): Unit)(other.poll(): Unit)
    assert(failure.isEmpty, failure)
    // one window snapshot on top of the bootstrap, and the state one
    // poll gives: the (identity-transformed) upstream's
    assert(cat.describe("down", "t").snapshots.size == 2)
    def state(ns: String) = cat.read(ns, "t").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(state("down") == state("up"))
    // one delete and one data dir remain, the winner's
    assert(ReplayGate.dirsNamed(s"$wh/down", "cdc-") == 2)
  }

  test("WAP sink: failing audit discards the batch unseen; passing publishes") {
    import spark.implicits._
    val src = tmpDir("graft-wap-src")
    val ckpt = tmpDir("graft-wap-ckpt")
    val cat = new SnapshotCatalog(spark, tmpDir("graft-wap-wh"))
    // audit: the staged table must contain no negative values
    val audit = (staged: org.apache.spark.sql.DataFrame) =>
      staged.filter(col("v") < 0).isEmpty
    def run(): Unit = {
      val stream = spark.readStream
        .schema(Seq.empty[(Long, Double)].toDF("id", "v").schema).parquet(src)
      val q = Sinks.wapSink(stream, cat, "db", "t", "staging", audit, ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").write.mode("append").parquet(src)
    run()
    assert(cat.read("db", "t").count() == 2)
    // poisoned batch: audit fails on the staged view; readers unchanged
    Seq((3L, -3.0)).toDF("id", "v").write.mode("append").parquet(src)
    run()
    assert(cat.read("db", "t").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L))
    // next good batch publishes; the poisoned row never lands
    Seq((4L, 4.0)).toDF("id", "v").write.mode("append").parquet(src)
    run()
    assert(cat.read("db", "t").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 4L))
    // the discarded batch's snapshot is abandoned history: expiry
    // reclaims exactly its files (the published chain is cumulative,
    // so the retained head still covers batches 1 and 3)
    def dataFiles() = {
      val it = java.nio.file.Files.walk(
        java.nio.file.Paths.get(cat.warehouse, "db", "t", "data"))
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.count(_.toString.endsWith(".parquet"))
      } finally it.close()
    }
    val before = dataFiles()
    cat.expireSnapshots("db", "t", keepLast = 1)
    assert(dataFiles() < before)
    assert(cat.read("db", "t").count() == 3)
  }

  test("WAP + t56 contamination gate: a poisoned micro-batch is rejected " +
      "on the branch and the published pointer never moves") {
    import spark.implicits._
    val src = tmpDir("graft-wapt56-src")
    val ckpt = tmpDir("graft-wapt56-ckpt")
    val cat = new SnapshotCatalog(spark, tmpDir("graft-wapt56-wh"))
    // one benchmark item; any doc sharing >= 2 of its 3-gram shingles
    // is an eval leak and must block its whole batch at the pointer
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val audit = Sinks.contaminationGate(bench)
    def run(): Unit = {
      val stream = spark.readStream
        .schema(Seq.empty[(Long, String)].toDF("doc_id", "text").schema)
        .parquet(src)
      val q = Sinks.wapSink(stream, cat, "db", "docs", "staging", audit,
        ckpt, trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        auditBatchOnly = true).start()
      q.awaitTermination()
    }
    // clean batch publishes
    Seq((1L, "shipping manifests log freight routes and customs paperwork"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    run()
    assert(cat.read("db", "docs").count() == 1)
    val publishedSnap = cat.describe("db", "docs").currentSnapshotId
    // poisoned batch: quotes the benchmark item verbatim — staged on
    // the branch, audit fails, pointer untouched
    Seq((2L, "as the saying goes the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    run()
    assert(cat.describe("db", "docs").currentSnapshotId == publishedSnap,
      "the published pointer moved past a contaminated batch")
    assert(cat.read("db", "docs").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // the next clean batch publishes; the leak never lands
    Seq((3L, "weather satellites relay pressure readings every six hours"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    run()
    assert(cat.read("db", "docs").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L))
  }

  test("streaming curation: watermark dedup -> quality gate -> WAP publish") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.streaming.StreamingDedup
    import graft.functions.TextFns
    val src = tmpDir("graft-cur-src")
    val ckpt = tmpDir("graft-cur-ckpt")
    val cat = new SnapshotCatalog(spark, tmpDir("graft-cur-wh"))
    def t(s: Long) = new java.sql.Timestamp(s * 1000)

    def run(): Unit = {
      val stream = spark.readStream.schema(StructType(Seq(
          StructField("ts", TimestampType), StructField("doc_id", LongType),
          StructField("text", StringType))))
        .parquet(src)
      // the streaming twin of t20's batch curation pipeline:
      // content dedup (watermark-bounded state) -> quality gate
      // (pure expressions) -> audited atomic publish
      val curated = StreamingDedup.dedup(stream, "ts", "text",
          watermark = "10 seconds")
        .filter(size(TextFns.tokens(col("text"))) >= 3)
      val audit = (staged: org.apache.spark.sql.DataFrame) =>
        staged.filter(col("text").isNull || length(col("text")) === 0)
          .count() == 0
      val q = Sinks.wapSink(curated, cat, "db", "curated", "staging",
        audit, ckpt, trigger = Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // batch 1: doc 1 keeps; doc 2 = exact dup of 1 (state-dropped);
    // doc 3 fails the quality gate
    Seq((t(100), 1L, "alpha beta gamma delta"),
      (t(101), 2L, "alpha beta gamma delta"),
      (t(102), 3L, "hi"))
      .toDF("ts", "doc_id", "text").write.mode("append").parquet(src)
    run()
    assert(cat.read("db", "curated").collect().map(_.getAs[Long]("doc_id"))
      .sorted.toSeq == Seq(1L))

    // batch 2: doc 4 is new content (keeps); doc 5 repeats doc 1's
    // content a batch later but inside the watermark horizon — the
    // CHECKPOINTED dedup state still drops it
    Seq((t(104), 4L, "epsilon zeta eta theta"),
      (t(105), 5L, "alpha beta gamma delta"))
      .toDF("ts", "doc_id", "text").write.mode("append").parquet(src)
    run()
    assert(cat.read("db", "curated").collect().map(_.getAs[Long]("doc_id"))
      .sorted.toSeq == Seq(1L, 4L))
  }

  test("streaming gopher gate: keepColumn filters per micro-batch, gopher audits the WAP publish") {
    // round-9 VERDICT item 8: the curation rule families are map-only
    // projections, so they must run per-micro-batch unchanged — the
    // stream filters on the SCALAR QualityRules.keepColumn, and
    // wapSink's audit re-runs the FRAME QualityRules.gopher over the
    // staged batch (publish only when every staged doc passes), which
    // also cross-checks the two forms on every batch.
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.operators.QualityRules
    val src = tmpDir("graft-gop-src")
    val ckpt = tmpDir("graft-gop-ckpt")
    val cat = new SnapshotCatalog(spark, tmpDir("graft-gop-wh"))
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val prose = (
      "the cat and the dog have to be friends with all of " +
        "the other animals that live in the old house by the river " +
        "and they all agree that winter mornings are best spent " +
        "sleeping by the fire while the wind blows over the hills " +
        "and the snow settles on the quiet garden paths outside")

    def run(): Unit = {
      val stream = spark.readStream.schema(StructType(Seq(
          StructField("ts", TimestampType), StructField("doc_id", LongType),
          StructField("text", StringType))))
        .parquet(src)
      val gated = stream.withWatermark("ts", "10 seconds")
        .filter(QualityRules.keepColumn(col("text")))
      val audit = (staged: org.apache.spark.sql.DataFrame) =>
        QualityRules.gopher(staged).filter(!col("keep")).count() == 0
      val q = Sinks.wapSink(gated, cat, "db", "gated", "staging",
        audit, ckpt, trigger = Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // doc 1: running prose — passes every Gopher rule; docs 2 and 3
    // fail (word count; single repeated stop word ⇒ r_stop distinct)
    Seq((t(100), 1L, prose),
      (t(101), 2L, "too short to pass"),
      (t(102), 3L, (1 to 60).map(_ => "the").mkString(" ")))
      .toDF("ts", "doc_id", "text").write.mode("append").parquet(src)
    run()
    assert(cat.read("db", "gated").collect().map(_.getAs[Long]("doc_id"))
      .toSeq == Seq(1L))

    // a second micro-batch flows through the SAME checkpointed gate
    Seq((t(110), 4L, prose + " and the story goes on"))
      .toDF("ts", "doc_id", "text").write.mode("append").parquet(src)
    run()
    assert(cat.read("db", "gated").collect().map(_.getAs[Long]("doc_id"))
      .sorted.toSeq == Seq(1L, 4L))
  }

  test("streaming patchify: tiles stream per micro-batch and equal the batch operator") {
    // the multimodal geometry op is stateless map-only column
    // expressions, so it composes into readStream → transform →
    // writeStream UNCHANGED — the streamed tile table must equal
    // running Multimodal.patchGrid over the same rows in batch
    import org.apache.spark.sql.types._
    import graft.operators.Multimodal
    val src = tmpDir("graft-patch-src")
    val ckpt = tmpDir("graft-patch-ckpt")
    val cat = new SnapshotCatalog(spark, tmpDir("graft-patch-wh"))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("payload", BinaryType)))
    def payload(seed: Int, n: Int): Array[Byte] =
      Array.tabulate[Byte](n)(i => ((i * 31 + seed) % 251).toByte)

    def run(): Unit = {
      val stream = spark.readStream.schema(schema).parquet(src)
      val tiles = Multimodal.patchGrid(stream, rowBytes = 32, patch = 8)
      val q = Sinks.icebergLike(tiles, cat, "db", "tiles", ckpt,
        trigger = Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    import spark.implicits._
    val b1 = Seq((1L, payload(1, 600)), (2L, payload(2, 100))) // doc 2: no tiles
    val b2 = Seq((3L, payload(3, 300)))
    b1.toDF("doc_id", "payload").write.mode("append").parquet(src)
    run()
    b2.toDF("doc_id", "payload").write.mode("append").parquet(src)
    run()

    val streamed = cat.read("db", "tiles")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).sorted.toSeq
    val batch = Multimodal.patchGrid(
        (b1 ++ b2).toDF("doc_id", "payload"), rowBytes = 32, patch = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).sorted.toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed tiles (${streamed.size}) != batch tiles (${batch.size})")
    assert(!streamed.exists(_._1 == 2L), "sub-tile payload must crop to nothing")
  }

  test("partitioned parquet sink derives the connector's path format") {
    // 2024-01-05 07:09:11 UTC → year=2024/month=01/day=05/hour=07
    val ts = java.time.Instant.parse("2024-01-05T07:09:11Z").toEpochMilli
    import spark.implicits._
    val df = Seq((ts, "a"), (ts + 3600000L, "b")).toDF("ts_ms", "payload")
    val out = tmpDir("graft-part")
    Sinks.withEventTimePartitions(df, "ts_ms").write
      .partitionBy("year", "month", "day", "hour")
      .option("maxRecordsPerFile", 1000)
      .mode("append").parquet(out)
    val p1 = new java.io.File(s"$out/year=2024/month=01/day=05/hour=07")
    val p2 = new java.io.File(s"$out/year=2024/month=01/day=05/hour=08")
    assert(p1.isDirectory && p2.isDirectory, "zero-padded event-time paths")
    // read back through partition discovery
    val back = spark.read.parquet(out)
    assert(back.count() == 2)
    assert(back.filter(col("hour") === "07").select("payload").head().getString(0) == "a")
  }

  test("upsert sink applies a changelog: last-per-key wins, updates in place") {
    import spark.implicits._
    val src = tmpDir("graft-cdc-src")
    val ckpt = tmpDir("graft-cdc-ckpt")
    val cat = new SnapshotCatalog(spark, tmpDir("graft-cdc-wh"))

    def run(): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "id LONG, v STRING, seq LONG"))
        .parquet(src)
      val q = graft.streaming.Sinks.upsertSink(stream, cat, "db", "state",
        keyCol = "id", seqCol = "seq", checkpointDir = ckpt,
        trigger = Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // batch 1: keys 1-3, including an in-batch duplicate for key 2 —
    // the higher seq must win
    Seq((1L, "a", 10L), (2L, "stale", 11L), (2L, "b", 12L), (3L, "c", 13L))
      .toDF("id", "v", "seq").write.mode("append").parquet(src)
    run()
    val after1 = cat.read("db", "state").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(after1 == Seq((1L, "a"), (2L, "b"), (3L, "c")))

    // batch 2 via checkpoint resume: update key 2, insert key 4
    Seq((2L, "b2", 20L), (4L, "d", 21L))
      .toDF("id", "v", "seq").write.mode("append").parquet(src)
    run()
    val after2 = cat.read("db", "state").orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(after2 == Seq((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")))
    // update rewrote in place — no duplicate key rows, and time travel
    // still serves the pre-update state
    val snaps = cat.describe("db", "state").snapshots.map(_.snapshotId)
    assert(cat.read("db", "state", snapshotId = Some(snaps.min))
      .filter(col("id") === 2L).head().getString(1) == "b")
  }

  test("streaming materialized view: update-mode aggregation upserted per batch") {
    import spark.implicits._
    val src = tmpDir("graft-mv-src")
    val ckpt = tmpDir("graft-mv-ckpt")
    val cat = new SnapshotCatalog(spark, tmpDir("graft-mv-wh"))

    def run(): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "user STRING, amount LONG"))
        .parquet(src)
      val stats = stream.groupBy("user")
        .agg(count(lit(1)).as("n"), sum("amount").as("total"))
      val q = graft.streaming.Sinks.upsertSink(stats, cat, "db", "user_stats",
        keyCol = "user", seqCol = "n", checkpointDir = ckpt,
        trigger = Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // string upsert key: exercises the lexicographic stats pruning path
    Seq(("a", 10L), ("a", 5L), ("b", 7L)).toDF("user", "amount")
      .write.mode("append").parquet(src)
    run()
    val after1 = cat.read("db", "user_stats").orderBy("user")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(after1 == Seq(("a", 2L, 15L), ("b", 1L, 7L)))

    // second batch: the agg STATE carries across restarts through the
    // checkpoint, and the changed rows update in place
    Seq(("a", 1L), ("c", 2L)).toDF("user", "amount")
      .write.mode("append").parquet(src)
    run()
    val after2 = cat.read("db", "user_stats").orderBy("user")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(after2 == Seq(("a", 3L, 16L), ("b", 1L, 7L), ("c", 1L, 2L)))
  }

  test("streamed partitioned sink writes through the same derivation") {
    val src = tmpDir("graft-src2")
    val out = tmpDir("graft-out2")
    val ckpt = tmpDir("graft-ckpt2")
    PurchaseEvents.batch(spark, 1704438551000L, 8).write.mode("append").parquet(src)
    val stream = spark.readStream.schema(PurchaseEvents.schema).parquet(src)
    val q = Sinks.partitionedParquet(stream, "timestamp", out, ckpt,
      trigger = Trigger.AvailableNow()).start()
    q.awaitTermination()
    val back = spark.read.parquet(out)
    assert(back.count() == 8)
    assert(back.schema.fieldNames.contains("hour"))
  }

  test("streamed LM model: bigram counts maintained per micro-batch " +
      "equal the batch-trained model") {
    // the t27/t54/t55 model table (distinct-bigram counts) maintained
    // as a streaming materialized view: occurrences explode per
    // micro-batch, the update-mode aggregation carries counts across
    // batches through the checkpoint, and upsertSink applies the
    // changed rows in place (counts are monotone, so n12 is its own
    // upsert sequence). Done = the standing table equals
    // NgramLm.docBigrams' batch aggregation over everything ingested —
    // the corpus LM is maintainable without re-scanning the corpus.
    import spark.implicits._
    import graft.functions.TextFns
    val src = tmpDir("graft-lm-src")
    val ckpt = tmpDir("graft-lm-ckpt")
    val cat = new SnapshotCatalog(spark, tmpDir("graft-lm-wh"))

    def run(): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id LONG, text STRING"))
        .parquet(src)
      val model = stream.select(TextFns.tokens(col("text")).as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("ts")) - 1),
          i => struct(element_at(col("ts"), i).as("w1"),
            element_at(col("ts"), i + 1).as("w2")))).as("b"))
        .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
        .agg(count(lit(1)).as("n12"))
        // tokens are [a-z0-9]+, so a space separator cannot collide
        .select(concat_ws(" ", col("w1"), col("w2")).as("k"),
          col("w1"), col("w2"), col("n12"))
      val q = graft.streaming.Sinks.upsertSink(model, cat, "db", "lm",
        keyCol = "k", seqCol = "n12", checkpointDir = ckpt,
        trigger = Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    Seq((1L, "the cat sat"), (2L, "the cat ran")).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    run()
    Seq((3L, "the cat sat again"), (4L, "a dog")).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    run()

    val streamed = cat.read("db", "lm")
      .select("w1", "w2", "n12").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = graft.operators.NgramLm
      .docBigrams(spark.read.parquet(src))
      .groupBy("w1", "w2").agg(sum("k").as("n12")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
    assert(streamed(("the", "cat")) == 3L) // count grew ACROSS batches
  }

  test("streamed shingle index: df maintained per micro-batch equals the " +
      "batch-built index; novelty serving sees new batches without rebuild") {
    // t45's standing (shingle, df) index in its streaming form
    import spark.implicits._
    import graft.operators.Dedup
    import graft.streaming.StreamingDedup
    val src = tmpDir("graft-shidx-src")
    val ckpt = tmpDir("graft-shidx-ckpt")
    val cat = new SnapshotCatalog(spark, tmpDir("graft-shidx-wh"))
    def run(): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id LONG, text STRING"))
        .parquet(src)
      val q = StreamingDedup.shingleIndexSink(stream, n = 3, cat, "db",
        "shidx", ckpt, trigger = Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val novel = Seq((100L, "glaciers calve icebergs into northern fjords"))
      .toDF("doc_id", "text")
    Seq((1L, "the cat sat on the mat today"),
        (2L, "a dog ran across the field"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    run()
    // the candidate is fully novel against wave 1
    def novelty() = Dedup.ngramNoveltyAgainst(novel,
        cat.read("db", "shidx"), n = 3)
      .select("novelty").head().getDouble(0)
    assert(novelty() == 1.0)
    // wave 2 ingests a NEAR-COPY of the candidate: the standing index
    // must see it without any rebuild, and df must accumulate across
    // batches for repeated shingles
    Seq((3L, "glaciers calve icebergs into northern fjords every spring"),
        (4L, "the cat sat on the mat today"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    run()
    assert(novelty() < 0.5,
      "the streamed wave-2 append did not reach novelty serving")
    // streamed == batch-built over everything ingested
    val streamed = cat.read("db", "shidx").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Dedup.corpusShingleIndex(spark.read.parquet(src), n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
    assert(batch.values.max == 2L, "doc 4 repeats doc 1's shingles: df = 2")
  }

  test("streamed posting index: append-only per micro-batch; a fresh " +
      "batch dedups against everything committed, streamed == batch") {
    // t19's standing inverted index maintained BY the stream
    import spark.implicits._
    import graft.operators.Dedup
    import graft.streaming.StreamingDedup
    val src = tmpDir("graft-post-src")
    val ckpt = tmpDir("graft-post-ckpt")
    val cat = new SnapshotCatalog(spark, tmpDir("graft-post-wh"))
    def run(): Unit = {
      val stream = spark.readStream
        .schema(org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id LONG, text STRING"))
        .parquet(src)
      val q = StreamingDedup.postingIndexSink(stream, n = 3, cat, "db",
        "postings", ckpt, trigger = Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val batch = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    def pairs() = Dedup.ngramJaccardAgainstIndex(batch,
        cat.read("db", "postings"), n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    Seq((1L, "completely unrelated text about glacier physics and ice"),
        (2L, "another document on tidal forces and lunar orbits"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    run()
    assert(pairs().isEmpty, "no near-dup exists in wave 1")
    // wave 2 commits a near-copy: the appended postings must serve it
    Seq((3L, "the quick brown fox jumps over the lazy dog every day"))
      .toDF("doc_id", "text").write.mode("append").parquet(src)
    run()
    assert(pairs() == Set((100L, 3L)),
      "the wave-2 near-copy must be found against the standing index")
    // streamed index == batch shingling of everything ingested, and
    // the index serve equals the from-scratch one-sided dedup
    val all = spark.read.parquet(src)
    val direct = Dedup.ngramJaccardAgainst(batch, all, n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs() == direct)
    val streamed = cat.read("db", "postings").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rebuilt = Dedup.postingRows(all, n = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == rebuilt)
    assert(cat.describe("db", "postings").snapshots.size == 2)
  }

  test("streaming extraction gate: clean_lines scalar per micro-batch, " +
      "boilerplateLines frame audits the publish") {
    // the t53 extraction gate in its streaming form: the stream maps
    // text → cleaned via the SCALAR QualityRules.cleanedColumn
    // (map-only, so it runs per-micro-batch unchanged), drops
    // all-chrome docs, and wapSink's audit re-runs the FRAME
    // boilerplateLines over the staged batch, publishing only when
    // the frame's content_hash equals the scalar's md5 on every row —
    // the two surfaces cross-check each other on every batch.
    import spark.implicits._
    import org.apache.spark.sql.types._
    import graft.operators.QualityRules
    val src = tmpDir("graft-bp-src")
    val ckpt = tmpDir("graft-bp-ckpt")
    val cat = new SnapshotCatalog(spark, tmpDir("graft-bp-wh"))
    def t(s: Long) = new java.sql.Timestamp(s * 1000)
    val content =
      "This is a long enough content line with lowercase letters here."
    val content2 =
      "Another sufficiently long prose line that survives the gate too."

    def run(): Unit = {
      val stream = spark.readStream.schema(StructType(Seq(
          StructField("ts", TimestampType), StructField("doc_id", LongType),
          StructField("text", StringType))))
        .parquet(src)
      val cleaned = stream.withWatermark("ts", "10 seconds")
        .withColumn("cleaned", QualityRules.cleanedColumn(col("text")))
        .filter(length(col("cleaned")) > 0)
      val audit = (staged: org.apache.spark.sql.DataFrame) =>
        QualityRules.boilerplateLines(staged)
          .join(staged.select(col("doc_id"), md5(col("cleaned")).as("h")),
            Seq("doc_id"))
          .filter(col("content_hash") =!= col("h")).count() == 0
      val q = Sinks.wapSink(cleaned, cat, "db", "cleaned", "staging",
        audit, ckpt, trigger = Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    Seq((t(100), 1L, s"TITLE IN CAPS\n- nav item\n$content\nshort"),
      (t(101), 2L, "NAV\n- a\n- b")) // all chrome → dropped pre-stage
      .toDF("ts", "doc_id", "text").write.mode("append").parquet(src)
    run()
    val got1 = cat.read("db", "cleaned").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("cleaned")).toMap
    assert(got1 == Map(1L -> content))

    // second micro-batch through the same checkpointed gate
    Seq((t(110), 3L, s"HEADER\n$content2"))
      .toDF("ts", "doc_id", "text").write.mode("append").parquet(src)
    run()
    val got2 = cat.read("db", "cleaned").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("cleaned")).toMap
    assert(got2 == Map(1L -> content, 3L -> content2))
  }

  test("webdataset shard sink: micro-batches become tar shard sets, replay is idempotent") {
    import spark.implicits._
    val src = tmpDir("graft-wds-src")
    val out = tmpDir("graft-wds-out")
    val ckpt = tmpDir("graft-wds-ckpt")
    def toSamples(df: org.apache.spark.sql.DataFrame) = {
      val k = format_string("%013d", col("timestamp"))
      df.select(k.as("key"), array(struct(
        concat(k, lit(".txt")).as("name"),
        encode(col("action"), "UTF-8").as("data"))).as("files"))
    }
    PurchaseEvents.batch(spark, 1704438551000L, 6)
      .write.mode("append").parquet(src)
    val stream = spark.readStream
      .schema(PurchaseEvents.schema).parquet(src)
    val q = Sinks.webdatasetShards(toSamples(stream), out, ckpt,
      nShardsPerBatch = 2, trigger = Trigger.AvailableNow()).start()
    q.awaitTermination()
    val back = graft.ingest.WebDataset.readShards(spark, s"$out/batch=*")
    assert(back.count() == 6)
    assert(back.select("ext").distinct().as[String].collect().toSeq == Seq("txt"))
    // replayed batch id rewrites ITS OWN directory deterministically
    val batchDf = toSamples(spark.read.parquet(src))
    Sinks.writeShardBatch(out, 2)(batchDf, 0L)
    val again = graft.ingest.WebDataset.readShards(spark, s"$out/batch=*")
    assert(again.count() == 6)
  }

  test("CDC merge-on-read sink: changelog batches commit atomically with " +
      "zero data-file rewrites; replayed batches skip whole") {
    import spark.implicits._
    val src = tmpDir("graft-cdc-src")
    val ckpt = tmpDir("graft-cdc-ckpt")
    val cat = new SnapshotCatalog(spark, tmpDir("graft-cdc-wh"))
    def wave(rows: Seq[(Long, String, Long, String)]): Unit = {
      rows.toDF("id", "val", "seq", "op").coalesce(1)
        .write.mode("append").parquet(src)
      val stream = spark.readStream
        .schema(Seq.empty[(Long, String, Long, String)]
          .toDF("id", "val", "seq", "op").schema)
        .parquet(src)
      val q = Sinks.cdcMorSink(stream, cat, "db", "kv", Seq("id"),
        "seq", "op", ckpt, trigger = Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // wave 1: three inserts (first batch = plain marked append)
    wave(Seq((1L, "a", 1L, "I"), (2L, "b", 2L, "I"), (3L, "c", 3L, "I")))
    assert(cat.read("db", "kv").count() == 3)
    val files1 = cat.describe("db", "kv").currentSnapshot.get.files

    // wave 2: update key 2 (twice — last per key wins), delete key 3,
    // insert key 4. One atomic commit, old data files untouched.
    wave(Seq((2L, "b1", 10L, "U"), (2L, "b2", 11L, "U"),
      (3L, "c", 12L, "D"), (4L, "d", 13L, "I")))
    val s2 = cat.describe("db", "kv").currentSnapshot.get
    assert(files1.forall(s2.files.contains),
      "CDC merge-on-read must never rewrite existing data files")
    assert(s2.eqDeletes.size == 1)
    val state = cat.read("db", "kv").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state == Map(1L -> "a", 2L -> "b2", 4L -> "d"), s"got $state")

    // replay: re-delivering an already-committed batch id is a no-op
    val snapCount = cat.describe("db", "kv").snapshots.size
    Sinks.cdcMorBatch(cat, "db", "kv", Seq("id"), "seq", "op", ckpt)(
      Seq((9L, "x", 99L, "I")).toDF("id", "val", "seq", "op"), 1L)
    assert(cat.describe("db", "kv").snapshots.size == snapCount,
      "replayed batch id must not commit")
    assert(cat.read("db", "kv").count() == 3)

    // maintenance folds the delete side; the state is unchanged
    cat.maintain("db", "kv", keepLast = 2, targetFiles = 1)
    assert(cat.describe("db", "kv").currentSnapshot.get.eqDeletes.isEmpty)
    assert(cat.read("db", "kv").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == state)
  }

  test("changelog follower: a downstream table subscribes to an upstream " +
      "one and converges across CDC windows, deletes included") {
    import spark.implicits._
    val cat = new SnapshotCatalog(spark, tmpDir("graft-chf-wh"))
    cat.createTable("db", "up",
      Seq.empty[(Long, Double)].toDF("id", "v").schema)
    cat.append("db", "up",
      (0L until 10L).map(i => (i, i.toDouble)).toDF("id", "v"))
    val f = Sinks.changelogFollower(cat, "db", "up", "db", "down", Seq("id"))
    def converged(): Unit = {
      val u = cat.read("db", "up").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      val d = cat.read("db", "down").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(u == d, s"up=$u down=$d")
    }
    // window 1: bootstrap copy
    assert(f.poll()); converged()
    // window 2: updates + a fresh insert
    cat.cdcUpsert("db", "up",
      rows = Seq((3L, 33.0), (100L, 1.0)).toDF("id", "v"),
      deletes = Seq.empty[Long].toDF("id"), Seq("id"))
    assert(f.poll()); converged()
    // window 3: DELETE-bearing — an equality delete AND a positional
    // delete land upstream before the poll
    cat.cdcUpsert("db", "up",
      rows = Seq((4L, 44.0)).toDF("id", "v"),
      deletes = Seq(7L).toDF("id"), Seq("id"))
    val cur = cat.describe("db", "up").currentSnapshot.get
    val pos = cat.readFilesWithRowId(cur, cat.schemaOf("db", "up"), cur.files)
      .filter(org.apache.spark.sql.functions.col("id") === 5L)
      .select(SnapshotCatalog.RowIdFileCol, SnapshotCatalog.RowIdPosCol)
    cat.addDeleteFile("db", "up", pos, None)
    assert(f.poll()); converged()
    // caught up: an idle poll applies nothing (and the foreachBatch
    // adapter is the same no-op)
    assert(!f.poll())
    f.batch(Seq.empty[Long].toDF("x"), 0L)
    converged()
    // the downstream mirror followed O(delta): its commits are the
    // bootstrap append plus one CDC commit per non-empty window
    assert(cat.describe("db", "down").snapshots.size == 3)
    // window 4: an upstream COMPACTION lands inside an unconsumed
    // window (a CDC batch then maintenance) — row identity is gone, so
    // the follower resyncs with one atomic overwrite and converges
    cat.cdcUpsert("db", "up", rows = Seq((6L, 66.0)).toDF("id", "v"),
      deletes = Seq(1L).toDF("id"), Seq("id"))
    cat.compactFileGroups("db", "up")
    assert(f.poll()); converged()
    // and the follower is incremental again afterwards
    cat.cdcUpsert("db", "up", rows = Seq((8L, 88.0)).toDF("id", "v"),
      deletes = Seq.empty[Long].toDF("id"), Seq("id"))
    assert(f.poll()); converged()
    assert(!f.poll())
    // window 5: driven by a REAL stream trigger — the foreachBatch
    // composition the subscription is meant for
    cat.cdcUpsert("db", "up", rows = Seq((9L, 99.0)).toDF("id", "v"),
      deletes = Seq(0L).toDF("id"), Seq("id"))
    val tick = tmpDir("graft-chf-tick") + "/src"
    Seq(1L).toDF("x").coalesce(1).write.parquet(tick)
    val q = spark.readStream.schema(Seq.empty[Long].toDF("x").schema)
      .parquet(tick)
      .writeStream.foreachBatch(f.batch _)
      .option("checkpointLocation", tmpDir("graft-chf-ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    converged()
  }

  test("changelogStream facade: a restarted stream resumes from the " +
      "table-recorded position — no window skipped or duplicated") {
    import spark.implicits._
    val cat = new SnapshotCatalog(spark, tmpDir("graft-chs-wh"))
    cat.createTable("db", "up",
      Seq.empty[(Long, Double)].toDF("id", "v").schema)
    cat.append("db", "up",
      (0L until 10L).map(i => (i, i.toDouble)).toDF("id", "v"))
    def upSet() = cat.read("db", "up").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    def downSet() = cat.read("db", "down").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    def awaitConverged(): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (!(cat.tableExists("db", "down") && upSet() == downSet()) &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(upSet() == downSet(), "stream did not converge in time")
    }
    val ckpt = tmpDir("graft-chs-ckpt")
    val q1 = Sinks.changelogStream(spark, cat, "db", "up", "db", "down",
      Seq("id"), ckpt, Trigger.ProcessingTime("100 milliseconds")).start()
    try awaitConverged() finally q1.stop()
    val windowsAfterBootstrap = cat.describe("db", "down").snapshots.size
    assert(windowsAfterBootstrap == 1) // the bootstrap copy

    // upstream moves while the stream is DOWN (a delete-bearing window)
    cat.cdcUpsert("db", "up",
      rows = Seq((3L, 33.0), (100L, 1.0)).toDF("id", "v"),
      deletes = Seq(7L).toDF("id"), Seq("id"))
    // restart from the same checkpoint: exactly ONE window applies
    val q2 = Sinks.changelogStream(spark, cat, "db", "up", "db", "down",
      Seq("id"), ckpt, Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      awaitConverged()
      // let several more ticks fire: caught-up polls must commit NOTHING
      Thread.sleep(500)
    } finally q2.stop()
    assert(upSet() == downSet())
    assert(cat.describe("db", "down").snapshots.size ==
      windowsAfterBootstrap + 1,
      "exactly one window must apply across the restart — " +
        s"got ${cat.describe("db", "down").snapshots.size} commits")
  }

  test("follower churn (property): randomized upstream CDC + " +
      "maintenance + rollback — the follower converges after every poll") {
    import spark.implicits._
    val cat = new SnapshotCatalog(spark, tmpDir("graft-churn-wh"))
    cat.createTable("db", "up",
      Seq.empty[(Long, Double)].toDF("id", "v").schema)
    cat.append("db", "up",
      (0L until 20L).map(i => (i, i.toDouble)).toDF("id", "v"))
    val f = Sinks.changelogFollower(cat, "db", "up", "db", "down", Seq("id"))
    assert(f.poll()) // bootstrap
    def upSet() = cat.read("db", "up").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    def downSet() = cat.read("db", "down").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val rnd = new scala.util.Random(41)
    var polls = 0
    for (step <- 0 until 30) {
      rnd.nextInt(6) match {
        case 0 | 1 => // CDC window: upserts + deletes over random keys
          val ups = Seq.fill(rnd.nextInt(3) + 1)(
            (rnd.between(0L, 40L), rnd.nextInt(1000).toDouble))
          val dels = Seq.fill(rnd.nextInt(2))(rnd.between(0L, 40L))
          cat.cdcUpsert("db", "up", ups.toDF("id", "v"),
            dels.toDF("id"), Seq("id")): Unit
        case 2 => // maintenance: compaction + aggressive expiry
          cat.compactFileGroups("db", "up", minFileBytes = 1L << 20): Unit
          cat.expireSnapshots("db", "up",
            keepLast = 1 + rnd.nextInt(2)): Unit
        case 3 => // incident recovery: roll back to a retained snapshot
          val snaps = cat.describe("db", "up").snapshots
          cat.rollback("db", "up",
            snaps(rnd.nextInt(snaps.size)).snapshotId): Unit
        case _ => // consume: one poll must land the downstream exactly
          f.poll(): Unit
          assert(upSet() == downSet(), s"diverged at step $step")
          polls += 1
      }
    }
    // drain and converge at the end regardless of where churn stopped
    while (f.poll()) ()
    assert(upSet() == downSet(), "final convergence")
    assert(polls > 0)
  }

  test("changelog follower durability: the position pin survives " +
      "aggressive expiry (no resync); an expired position resyncs " +
      "instead of crashing") {
    import spark.implicits._
    val cat = new SnapshotCatalog(spark, tmpDir("graft-chfd-wh"))
    cat.createTable("db", "up",
      Seq.empty[(Long, Double)].toDF("id", "v").schema)
    cat.append("db", "up",
      (0L until 10L).map(i => (i, i.toDouble)).toDF("id", "v"))
    val f = Sinks.changelogFollower(cat, "db", "up", "db", "down", Seq("id"))
    def converged(): Unit = {
      val u = cat.read("db", "up").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      val d = cat.read("db", "down").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(u == d, s"up=$u down=$d")
    }
    assert(f.poll()); converged() // bootstrap; position pinned
    val pinned = cat.describe("db", "up").refs(f.posRef)
    assert(pinned == cat.describe("db", "down")
      .properties(s"graft.follow.db.up.snapshot").toLong)

    // the follower LAGS: three upstream CDC windows land, then an
    // AGGRESSIVE expiry — the pin keeps the position snapshot alive
    for (i <- 1 to 3)
      cat.cdcUpsert("db", "up",
        rows = Seq((100L + i, i.toDouble)).toDF("id", "v"),
        deletes = Seq(i.toLong).toDF("id"), Seq("id"))
    cat.expireSnapshots("db", "up", keepLast = 1)
    assert(cat.describe("db", "up").snapshots
      .exists(_.snapshotId == pinned), "pin must survive expiry")
    val beforeFiles = cat.describe("db", "down")
      .currentSnapshot.get.files.toSet
    assert(f.poll()); converged()
    // INCREMENTAL consumption, not a resync: a cdcUpsert appends to
    // the downstream manifest (old files carried), an overwrite
    // replaces it
    val afterFiles = cat.describe("db", "down")
      .currentSnapshot.get.files.toSet
    assert(beforeFiles.subsetOf(afterFiles),
      "the pinned position must be consumed incrementally, not resynced")
    // and the pin advanced with the consumption
    assert(cat.describe("db", "up").refs(f.posRef) ==
      cat.describe("db", "up").currentSnapshotId.get)

    // now the pin is LOST (operator dropped the ref) and the position
    // snapshot expires — poll must RESYNC, not crash permanently
    cat.cdcUpsert("db", "up",
      rows = Seq((200L, 2.0)).toDF("id", "v"),
      deletes = Seq(5L).toDF("id"), Seq("id"))
    cat.dropRef("db", "up", f.posRef)
    cat.cdcUpsert("db", "up",
      rows = Seq((201L, 2.1)).toDF("id", "v"),
      deletes = Seq.empty[Long].toDF("id"), Seq("id"))
    cat.expireSnapshots("db", "up", keepLast = 1)
    val preResync = cat.describe("db", "down")
      .currentSnapshot.get.files.toSet
    assert(f.poll()); converged()
    val postResync = cat.describe("db", "down")
      .currentSnapshot.get.files.toSet
    assert(!preResync.subsetOf(postResync),
      "an expired position must take the full-refresh escape hatch")
    // incremental again afterwards, pin restored
    cat.cdcUpsert("db", "up",
      rows = Seq((202L, 2.2)).toDF("id", "v"),
      deletes = Seq.empty[Long].toDF("id"), Seq("id"))
    assert(f.poll()); converged()
    assert(!f.poll())
    assert(cat.describe("db", "up").refs(f.posRef) ==
      cat.describe("db", "up").currentSnapshotId.get)
  }

  test("follower skips REPLACE snapshots: upstream compaction inside " +
      "an unconsumed window no longer forces the O(table) resync — " +
      "maintenance and subscription compose") {
    import spark.implicits._
    val cat = new SnapshotCatalog(spark, tmpDir("graft-chfr-wh"))
    cat.createTable("db", "up",
      Seq.empty[(Long, Double)].toDF("id", "v").schema)
    // several small files so the bin-pack has something to fold
    for (b <- 0 until 4)
      cat.append("db", "up", (b * 10L until b * 10L + 10L)
        .map(i => (i, i.toDouble)).toDF("id", "v").coalesce(1))
    val f = Sinks.changelogFollower(cat, "db", "up", "db", "down", Seq("id"))
    def converged(): Unit = {
      val u = cat.read("db", "up").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      val d = cat.read("db", "down").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(u == d, s"up=$u down=$d")
    }
    assert(f.poll()); converged()

    // the unconsumed window: CDC → COMPACTION → more CDC; the replace
    // snapshot preserves content, so the follower must consume the two
    // CDC runs around it and skip the rewrite
    cat.cdcUpsert("db", "up",
      rows = Seq((100L, 1.0), (5L, 55.0)).toDF("id", "v"),
      deletes = Seq(7L).toDF("id"), Seq("id"))
    val rep = cat.compactFileGroups("db", "up", minFileBytes = 1L << 20)
    assert(rep.compacted, "compaction must actually rewrite")
    assert(cat.describe("db", "up").currentSnapshot.get
      .operation.contains("replace"))
    cat.cdcUpsert("db", "up",
      rows = Seq((101L, 2.0)).toDF("id", "v"),
      deletes = Seq(9L).toDF("id"), Seq("id"))

    val beforeFiles = cat.describe("db", "down")
      .currentSnapshot.get.files.toSet
    assert(f.poll()); converged()
    assert(f.resyncCount == 0,
      "a content-preserving compaction must not force a resync")
    // incremental application: pre-existing downstream files carried
    assert(beforeFiles.subsetOf(cat.describe("db", "down")
      .currentSnapshot.get.files.toSet))

    // TRAILING replace: compaction with nothing after it — the poll
    // advances the bookmark with a metadata-only commit, no data moves
    cat.compact("db", "up", numFiles = 1)
    assert(f.poll())
    assert(f.resyncCount == 0)
    assert(!f.poll()) // caught up at the compacted head
    converged()
    // a genuinely row-CHANGING rewrite still takes the escape hatch
    cat.overwrite("db", "up",
      (0L until 5L).map(i => (i, -i.toDouble)).toDF("id", "v"))
    assert(f.poll()); converged()
    assert(f.resyncCount == 1,
      "an INSERT OVERWRITE must resync — content changed")
  }

  test("composed catch-up: a multi-window backlog with interleaved " +
      "compactions lands in ONE downstream commit, per-key final " +
      "state exact (update / delete-reinsert / insert-then-delete)") {
    import spark.implicits._
    val cat = new SnapshotCatalog(spark, tmpDir("graft-chcu-wh"))
    cat.createTable("db", "up",
      Seq.empty[(Long, Double)].toDF("id", "v").schema)
    for (b <- 0 until 3)
      cat.append("db", "up", (b * 10L until b * 10L + 10L)
        .map(i => (i, i.toDouble)).toDF("id", "v").coalesce(1))
    val f = Sinks.changelogFollower(cat, "db", "up", "db", "down", Seq("id"))
    assert(f.poll()) // bootstrap
    // the backlog: 6 CDC windows with 2 compactions interleaved, and
    // keys exercising every cross-run composition corner:
    //  id 3  — updated twice (last version must win)
    //  id 5  — deleted, then RE-INSERTED in a later run (must exist)
    //  id 300 — inserted, then DELETED in a later run (must be absent)
    cat.cdcUpsert("db", "up", Seq((3L, 33.0)).toDF("id", "v"),
      Seq(5L).toDF("id"), Seq("id"))
    cat.cdcUpsert("db", "up", Seq((300L, 1.0)).toDF("id", "v"),
      Seq.empty[Long].toDF("id"), Seq("id"))
    assert(cat.compactFileGroups("db", "up",
      minFileBytes = 1L << 20).compacted)
    cat.cdcUpsert("db", "up", Seq((5L, 555.0)).toDF("id", "v"),
      Seq.empty[Long].toDF("id"), Seq("id"))
    cat.cdcUpsert("db", "up", Seq.empty[(Long, Double)].toDF("id", "v"),
      Seq(300L).toDF("id"), Seq("id"))
    assert(cat.compactFileGroups("db", "up",
      minFileBytes = 1L << 20).compacted)
    cat.cdcUpsert("db", "up", Seq((3L, 333.0), (400L, 4.0)).toDF("id", "v"),
      Seq(9L).toDF("id"), Seq("id"))

    val commitsBefore = cat.describe("db", "down").snapshots.size
    assert(f.poll())
    assert(f.resyncCount == 0, "composed catch-up must not resync")
    val commitsAfter = cat.describe("db", "down").snapshots.size
    assert(commitsAfter == commitsBefore + 1,
      s"a lagging catch-up must be ONE commit, got " +
        s"${commitsAfter - commitsBefore}")
    // exactness: downstream == upstream, every corner case included
    val u = cat.read("db", "up").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val d = cat.read("db", "down").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(u == d, s"composed state diverged: missing=${u -- d} " +
      s"extra=${d -- u}")
    assert(d.contains((3L, 333.0)) && d.contains((5L, 555.0)))
    assert(!d.exists(_._1 == 300L) && !d.exists(_._1 == 9L))
    assert(!f.poll()) // caught up; steady state unchanged
    cat.cdcUpsert("db", "up", Seq((500L, 5.0)).toDF("id", "v"),
      Seq.empty[Long].toDF("id"), Seq("id"))
    assert(f.poll() && !f.poll())
    assert(cat.read("db", "down").filter(col("id") === 500L).count() == 1)
  }

  test("composed catch-up preserves duplicate-key rows and append-only " +
      "runs: keys are CDC matching columns, not a uniqueness " +
      "constraint — catch-up must converge to the per-window state") {
    import spark.implicits._
    val cat = new SnapshotCatalog(spark, tmpDir("graft-chdup-wh"))
    cat.createTable("db", "up",
      Seq.empty[(Long, Double)].toDF("id", "v").schema)
    cat.append("db", "up", Seq((1L, 1.0)).toDF("id", "v").coalesce(1))
    val f = Sinks.changelogFollower(cat, "db", "up", "db", "down", Seq("id"))
    assert(f.poll()) // bootstrap
    // backlog around a compaction (forces the COMPOSED path):
    //  run A: plain append carrying TWO rows with key 7 + one key 8
    //  run B: plain append of a THIRD key-7 row, then an upsert of
    //         key 8 (the only delete in the whole span)
    cat.append("db", "up",
      Seq((7L, 70.0), (7L, 71.0), (8L, 80.0)).toDF("id", "v").coalesce(1))
    assert(cat.compactFileGroups("db", "up",
      minFileBytes = 1L << 20).compacted)
    cat.append("db", "up", Seq((7L, 72.0)).toDF("id", "v").coalesce(1))
    cat.cdcUpsert("db", "up", Seq((8L, 88.0)).toDF("id", "v"),
      Seq.empty[Long].toDF("id"), Seq("id"))
    val commitsBefore = cat.describe("db", "down").snapshots.size
    assert(f.poll())
    assert(f.resyncCount == 0)
    assert(cat.describe("db", "down").snapshots.size == commitsBefore + 1)
    val u = cat.read("db", "up").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val d = cat.read("db", "down").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(u == Set((1L, 1.0), (7L, 70.0), (7L, 71.0), (7L, 72.0),
      (8L, 88.0)))
    assert(u == d, s"composed state diverged: missing=${u -- d} " +
      s"extra=${d -- u}")
  }
}
