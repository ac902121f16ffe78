package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.catalog.SnapshotCatalog
import graft.operators.{Pq, Similarity}
import graft.streaming.VectorIndex

class VectorIndexSpec extends SparkTestBase {

  test("index sink replay race: two writers replaying one batch id commit it once") {
    val wh = tmpDir("graft-vec-race-wh")
    val cat = new SnapshotCatalog(spark, wh)
    val rows = spark.range(0, 400, 1, 1).selectExpr("id AS vec_id", "CAST(id % 4 AS INT) AS cell")
    cat.createTable("ann", "idx", rows.schema,
      properties = Map(graft.catalog.PartitionSpec.PropertyKey -> "identity(cell)"))
    ReplayGate.race(VectorIndex.commitBatch(cat, "ann", "idx", "vec-race-ckpt") _, rows, 0L)
    assert(cat.describe("ann", "idx").snapshots.size == 1)
    assert(cat.read("ann", "idx").count() == 400)
    // the loser deleted its unreferenced write dir
    assert(ReplayGate.dirsNamed(wh, "write-") == 1)
  }

  test("streamed index equals the batch projection and serves knnIvfPq's answers") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    // index trained ONCE (the deployment shape); small params for speed
    val coarse = Similarity.kmeansCentroids(e, 8, iters = 2)
    val books = Pq.trainResidualCodebooks(e, coarse,
      m = 4, ksub = 8, dim = 64, iters = 2)

    val src = tmpDir("graft-vec-src")
    val ckpt = tmpDir("graft-vec-ckpt")
    val cat = new SnapshotCatalog(spark, tmpDir("graft-vec-wh"))
    def runWave(): Unit = {
      val stream = spark.readStream.schema(e.schema).parquet(src)
      val q = VectorIndex.indexSink(stream, coarse, books, cat, "ann", "ivfpq",
        ckpt, trigger = Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // two waves through one checkpoint: the second must ingest only
    // the delta, each wave one atomic snapshot
    e.filter(col("vec_id") < 100).write.mode("append").parquet(src)
    runWave()
    e.filter(col("vec_id") >= 100).write.mode("append").parquet(src)
    runWave()

    val streamed = cat.read("ann", "ivfpq")
    val batch = Pq.indexRows(e, coarse, books)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Int](2).toList)).toSet
    assert(streamed.count() == e.count())
    assert(rows(streamed) == rows(batch))
    assert(cat.describe("ann", "ivfpq").snapshots.size == 2)
    // the table is hidden-partitioned by cell: files are cell-pure, so
    // there are at least as many files as OCCUPIED cells (k-means may
    // legitimately leave a cell empty — don't assume all of them)
    val nCellsUsed = batch.select("cell").distinct().count()
    val files = cat.describe("ann", "ivfpq").currentSnapshot.get.files
    assert(files.size >= nCellsUsed,
      s"expected >= $nCellsUsed cell-pure files, got ${files.size}")

    // serving from the MATERIALIZED index == recomputing the index
    // in-query with the same fixed centroids/codebooks
    val served = Pq.searchIndex(streamed, e, k = 5, nProbe = 4,
      coarse, books, dim = 64, col("id") < 30, rerank = 20)
    val direct = Pq.knnIvfPq(e, k = 5, nCells = 8, nProbe = 4,
      m = 4, ksub = 8, dim = 64, col("id") < 30, rerank = 20,
      coarseCentroids = Some(coarse), codebooks = Some(books))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3))).toSet
    assert(pairs(served) == pairs(direct))

    // maintenance: compacting the many small streamed files must not
    // change a single served answer (the index is just a table)
    cat.compact("ann", "ivfpq", numFiles = 2)
    val afterCompact = Pq.searchIndex(cat.read("ann", "ivfpq"), e,
      k = 5, nProbe = 4, coarse, books, dim = 64, col("id") < 30,
      rerank = 20)
    assert(pairs(afterCompact) == pairs(direct))

    // recall floor vs exact kNN — catches a regression to codebooks
    // trained on the wrong distribution (raw vectors vs residuals);
    // deterministic: fixed data, seeds, and training
    val exact = Similarity.knnExact(e.filter(col("vec_id") < 30), e, 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val servedPairs = served.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (servedPairs & exact).size / exact.size.toDouble
    // measured 0.273 at this test's deliberately small index
    // (m=4/ksub=8, 4-of-8 probes, rerank=20) on the low-cosine
    // synthetic set — the algorithm-strength floor lives in
    // OperatorSpec's IVF-PQ test at e09's real parameters; this floor
    // guards the serving path against gross regressions (e.g.
    // codebooks trained on the wrong distribution)
    assert(recall >= 0.2, s"served recall $recall")
  }

  test("replayed index batch commits once; pruned serving equals full scan") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val coarse = Similarity.kmeansCentroids(e, 8, iters = 2)
    val books = Pq.trainResidualCodebooks(e, coarse,
      m = 4, ksub = 8, dim = 64, iters = 2)
    val cat = new SnapshotCatalog(spark, tmpDir("graft-vec-wh2"))
    val commit = VectorIndex.commitBatch(cat, "ann", "idx", "vec-ckpt") _
    val b0 = Pq.indexRows(e.filter(col("vec_id") < 100), coarse, books)
    val b1 = Pq.indexRows(e.filter(col("vec_id") >= 100), coarse, books)
    commit(b0, 0L)
    commit(b0, 0L) // at-least-once redelivery must not duplicate rows
    assert(cat.describe("ann", "idx").snapshots.size == 1)
    commit(b1, 1L)
    assert(cat.read("ann", "idx").count() == e.count())

    // cell-pruned serving (manifest pval reads of only the probed
    // cells) answers exactly like a full index scan
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3))).toSet
    val full = Pq.searchIndex(cat.read("ann", "idx"), e, k = 5, nProbe = 4,
      coarse, books, dim = 64, col("id") < 30, rerank = 20)
    val pruned = Pq.searchIndexPruned(cat, "ann", "idx", e, k = 5,
      nProbe = 4, coarse, books, dim = 64, col("id") < 30, rerank = 20)
    assert(pairs(pruned) == pairs(full))
    assert(pairs(pruned).nonEmpty)

    // and the pruning is REAL file skipping, not a post-scan filter:
    // one cell's manifest-pval read lists strictly fewer files than
    // the table holds, and every file it does read is cell-pure
    val allFiles = cat.describe("ann", "idx").currentSnapshot.get.files.size
    val c = cat.read("ann", "idx").select("cell").distinct().head().getInt(0)
    val one = cat.readEquals("ann", "idx", "cell", c.toString)
    assert(one.select("cell").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(c))
    val oneFiles = one.select(input_file_name()).distinct().count()
    assert(oneFiles < allFiles,
      s"readEquals($c) scanned $oneFiles of $allFiles files — no pruning")
  }

  test("pruned Hamming serving reads the cells the search probes: " +
      "all-zero query, duplicate centroids") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
    // vec 1 := vec 0, so the seeded centroids 0 and 1 are equal: a
    // vector near them ties, and the probe breaks the tie
    val corpus = e.filter(col("vec_id") =!= 1L)
      .union(e.filter(col("vec_id") === 0L).withColumn("vec_id", lit(1L)))
    val cents = Similarity.seedCentroids(corpus, 16)
    assert(cents(0).sameElements(cents(1)))
    val cat = new SnapshotCatalog(spark, tmpDir("graft-ham-ties"))
    VectorIndex.commitBatch(cat, "ann", "ties", tmpDir("graft-ham-ties-ckpt"))(
      Similarity.hammingIndexRows(corpus, cents), 0L)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3))).toSet
    // an all-zero query scores 0 against every centroid (unitVectors
    // keeps its zeros): every cell ties
    val zero = Seq((-1L, Seq.fill(64)(0.0f))).toDF("vec_id", "embedding")
    // vec 0 scores equal on centroids 0 and 1: one probe must pick the
    // same one of the two for the read and for the search
    val dup = corpus.filter(col("vec_id") === 0L)
    for ((queries, nProbe) <- Seq((zero, 4), (dup, 1))) {
      val full = pairs(Similarity.searchHammingIndex(cat.read("ann", "ties"),
        queries, k = 5, nProbe = nProbe, cents))
      val pruned = pairs(VectorIndex.searchHammingPruned(cat, "ann", "ties",
        queries, k = 5, nProbe = nProbe, cents))
      assert(full.nonEmpty, s"nProbe $nProbe")
      assert(pruned == full, s"nProbe $nProbe")
    }
  }

  test("streamed Hamming index: rows equal the batch projection; a new " +
      "micro-batch updates served ANN answers with no retrain") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    // quantizer trained ONCE and frozen — never touched again below
    val cents = Similarity.kmeansCentroids(e, 8, iters = 2)
    val src = tmpDir("graft-ham-src")
    val ckpt = tmpDir("graft-ham-ckpt")
    val cat = new SnapshotCatalog(spark, tmpDir("graft-ham-wh"))
    def runWave(): Unit = {
      val stream = spark.readStream.schema(e.schema).parquet(src)
      val q = VectorIndex.hammingIndexSink(stream, cents, cat, "ann",
        "ivfham", ckpt,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3))).toSet
    def serve() = VectorIndex.searchHammingPruned(cat, "ann", "ivfham",
      e, k = 5, nProbe = 4, cents, queryFilter = col("id") < 20)

    // wave 1: just under half the corpus
    e.filter(col("vec_id") < 230).write.mode("append").parquet(src)
    runWave()
    val served1 = pairs(serve())
    assert(served1.nonEmpty)
    assert(served1.forall(_._3 < 230), "wave-1 serving saw unindexed ids")

    // wave 2: the delta streams in — SAME centroids, no retrain
    e.filter(col("vec_id") >= 230).write.mode("append").parquet(src)
    runWave()
    val streamed = cat.read("ann", "ivfham")
    assert(streamed.count() == e.count())
    assert(cat.describe("ann", "ivfham").snapshots.size == 2)
    // streamed rows == batch projection over the full corpus
    def rowKeys(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell", "sig0").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rowKeys(streamed) ==
      rowKeys(Similarity.hammingIndexRows(e, cents)))

    // served answers now include wave-2 vectors: the index updated
    // without a retrain (the quantizer literally never changed)
    val served2 = pairs(serve())
    assert(served2.exists(_._3 >= 230),
      "no wave-2 vector entered any served top-k — the streamed " +
        "append did not update serving")
    // and serving from the table equals recomputing in-query with the
    // same frozen quantizer (the searchHammingIndex identity contract)
    val direct = pairs(Similarity.knnIvfHamming(e, k = 5, nCells = 8,
      nProbe = 4, col("id") < 20, centroids = Some(cents)))
    assert(served2 == direct)
  }

  test("recall drift audit: the trained corpus serves above threshold; " +
      "a drifted wave trips the alarm") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(e, 8, iters = 2)
    val cat = new SnapshotCatalog(spark, tmpDir("graft-audit-wh"))
    val ckpt = tmpDir("graft-audit-ckpt")
    val commit = VectorIndex.commitBatch(cat, "ann", "audx", ckpt) _

    // wave 1: the distribution the quantizer was trained on
    commit(Similarity.hammingIndexRows(e, cents), 0L)
    val healthy = VectorIndex.hammingRecallAudit(cat, "ann", "audx", e,
      k = 5, nProbe = 4, cents, sampleFraction = 0.1, threshold = 0.5)
    assert(healthy.queries > 10, s"sample too small: ${healthy.queries}")
    assert(!healthy.alarm,
      s"healthy corpus tripped the alarm (recall ${healthy.recall})")

    // wave 2: DRIFT — a new modality the quantizer never saw:
    // deterministic pseudo-random vectors (decorrelated across ids),
    // so true neighbors spread across cells the frozen centroids
    // cannot separate and nProbe-bounded serving misses them
    val drifted = e.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), (_, i) =>
        pmod(xxhash64(col("vec_id"), i), lit(2001L)).cast("double")
          / lit(1000.0) - lit(1.0))
        .as("embedding"))
    commit(Similarity.hammingIndexRows(drifted, cents), 1L)
    // audit over the DRIFTED slice of the live corpus (the corpus a
    // periodic audit batch would sample is the one being served)
    val post = VectorIndex.hammingRecallAudit(cat, "ann", "audx",
      drifted, k = 5, nProbe = 1, cents, rerank = 10,
      sampleFraction = 0.1, threshold = 0.5)
    assert(post.alarm,
      s"drifted wave did not trip the alarm (recall ${post.recall} over " +
        s"${post.queries} sampled neighbors)")
    assert(post.recall < healthy.recall,
      s"drift did not reduce recall: ${post.recall} vs ${healthy.recall}")
    // the healthy slice still serves: the alarm isolates the drift
    val stillOk = VectorIndex.hammingRecallAudit(cat, "ann", "audx",
      e, k = 5, nProbe = 4, cents, sampleFraction = 0.1, threshold = 0.3)
    assert(stillOk.recall > post.recall)
  }

  test("CDC-fed corpus: the index FOLLOWER applies net changes per " +
      "window — converges to the batch rebuild, untouched index files " +
      "byte-identical, pure deletes drop served rows") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(e, 4, iters = 2)
    val cat = new SnapshotCatalog(spark, tmpDir("graft-vec-cdc"))
    cat.createTable("ann", "corpus", e.schema)
    cat.append("ann", "corpus", e.filter(col("vec_id") < 150))
    val f = VectorIndex.hammingIndexFollower(cat, "ann", "corpus",
      "ann", "idx", cents, nBits = 64, dim = 64)
    def rebuilt() = Similarity.hammingIndexRows(
      cat.read("ann", "corpus"), cents, nBits = 64, dim = 64)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.select(rebuilt().columns.map(col): _*)
        .collect().map(_.toString).toSet
    // bootstrap: index == batch encode of the corpus's current state
    assert(f.poll())
    assert(rowsOf(cat.read("ann", "idx")) == rowsOf(rebuilt()))
    // the auto-created index table is cell-partitioned for pruned serving
    assert(cat.describe("ann", "idx").properties.get(
      graft.catalog.PartitionSpec.PropertyKey).contains("identity(cell)"))

    // window 1: re-embed ids 0..9 (vectors MOVE cells), insert
    // 150..169, delete 20..24 — one upstream CDC commit
    val reembedded = e.filter(col("vec_id") < 10).select(col("vec_id"),
      transform(col("embedding"), x => -x).as("embedding"))
    val inserts = e.filter(col("vec_id") >= 150 && col("vec_id") < 170)
    val filesBefore =
      cat.describe("ann", "idx").currentSnapshot.get.files.toSet
    cat.cdcUpsert("ann", "corpus",
      rows = reembedded.unionByName(inserts),
      deletes = (20L until 25L).toDF("vec_id"), Seq("vec_id"))
    assert(f.poll())
    val snapAfter = cat.describe("ann", "idx").currentSnapshot.get
    // incremental: the window APPENDS; every pre-existing index file is
    // carried byte-untouched (cells the window doesn't insert into get
    // no new files at all) — old rows of re-embedded/deleted vectors
    // are hidden by the same commit's equality delete
    assert(filesBefore.subsetOf(snapAfter.files.toSet),
      "a window must not rewrite existing index files")
    assert(rowsOf(cat.read("ann", "idx")) == rowsOf(rebuilt()),
      "followed index diverged from the batch rebuild after CDC window")

    // window 2: pure deletes — no inserts at all
    cat.cdcUpsert("ann", "corpus",
      rows = e.filter(lit(false)),
      deletes = (0L until 5L).toDF("vec_id"), Seq("vec_id"))
    assert(f.poll())
    assert(rowsOf(cat.read("ann", "idx")) == rowsOf(rebuilt()))
    assert(cat.read("ann", "idx").count() ==
      cat.read("ann", "corpus").count())
    // caught up: nothing new, nothing committed
    assert(!f.poll())
  }
}
