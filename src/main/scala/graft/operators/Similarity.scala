package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.catalog.SnapshotCatalog
import graft.functions.VectorFns.asDouble
import graft.functions.expressions.{CentroidOps, DotProduct, SignBits, SignBuckets, Sq8}
import graft.plans.GroupedTopK

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`array<float>`).
  *
  * Scale design:
  *  - vectors are L2-normalized ONCE per side, so each candidate pair
  *    costs exactly one dot product (no per-pair norm recomputation);
  *  - the dot product is the custom codegen'd [[DotProduct]] expression
  *    (primitive loop, no allocation) — see its scaladoc for the
  *    measured difference vs the zip_with/aggregate composition;
  *  - the query set is broadcast (top-k query sets are small); the
  *    corpus stays partitioned, so scoring is a map-side nested loop
  *    followed by a per-query top-k whose heaps run map-side — no
  *    global collect, no per-query sort of the scored pairs;
  *  - the LSH variant buckets the corpus once (one shuffle) and scores
  *    within buckets only.
  *
  * Every kNN entry point is one pipeline built from four pieces (the
  * REPOSE shape: one pruning stage per index, one shared verify stage):
  *  1. a candidate generator per index — all pairs ([[allPairs]]),
  *     bucket collisions ([[annFromBuckets]]) or the IVF probe join
  *     ([[probe]]);
  *  2. an optional [[shortlist]] on a cheap score (int8 dot, Hamming
  *     distance, PQ ADC);
  *  3. one [[exactRerank]]: the two unit vectors, one [[DotProduct]];
  *  4. one [[topK]] through [[GroupedTopK]], ranked over ≤ k rows per
  *     query.
  */
object Similarity {

  /** id + L2-normalized double vector (norm by the custom dot).
    * An all-zero vector keeps its zeros (divisor clamped to 1) instead
    * of going NaN — NaN scores would poison every downstream argmax /
    * top-k it participates in.
    */
  private[graft] def unitVectors(vecs: DataFrame, idCol: String, idAs: String,
      vecAs: String): DataFrame = {
    normalized(vecs.select(col(idCol).as(idAs),
      asDouble(col("embedding")).as("_v")), col("_v"), vecAs)
      .select(idAs, vecAs)
  }

  /** `df` plus column `as` = vector `v` scaled to unit length, the
    * norm computed once per row (not per element inside the lambda);
    * an all-zero vector keeps its zeros (see [[unitVectors]]).
    */
  private def normalized(df: DataFrame, v: Column, as: String): DataFrame = {
    df.withColumn("_nrm", sqrt(DotProduct.dot(v, v)))
      .withColumn("_nrm", when(col("_nrm") === 0d, lit(1.0)).otherwise(col("_nrm")))
      .withColumn(as, transform(v, x => x / col("_nrm")))
      .drop("_nrm")
  }

  /** Johnson–Lindenstrauss random projection: `embedding` (dimIn) →
    * `embedding` (dimOut « dimIn), via a seeded Gaussian matrix scaled
    * by 1/√dimOut so expected pairwise distances are preserved
    * (distortion ε ≈ √(8·ln n / dimOut)). Output keeps the input
    * column names, so the projected frame drops straight into the LSH/
    * IVF/PQ operators — sign-LSH over projected vectors hashes
    * dimOut-length dots instead of dimIn (the per-row bucket cost at
    * 100 TB), and the JL guarantee bounds the angular error the
    * projection adds. The matrix is dimOut×dimIn literals riding the
    * closure — nothing is collected, the projection itself is a
    * codegen'd [[DotProduct]] per output coordinate.
    */
  def randomProject(vecs: DataFrame, dimIn: Int, dimOut: Int,
      idCol: String = "vec_id", seed: Long = 7L): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val mat = Array.fill(dimOut, dimIn)(rnd.nextGaussian() / math.sqrt(dimOut))
    val v = asDouble(col("embedding"))
    vecs.select(col(idCol),
      array((0 until dimOut).map(j =>
        DotProduct.dot(v, typedlit(mat(j).toSeq))): _*).as("embedding"))
  }

  /** Quadratic-footgun guard for the exact baselines: scoring more
    * pairs than this must be an explicit decision (raise the cap), not
    * an accident of pointing `knnExact`/`nearDupPairs` at a production
    * corpus. 100M pairs ≈ a minute of codegen'd dots on one executor —
    * past that the LSH/IVF paths are the answer.
    */
  val DefaultMaxExactPairs: Long = 100000000L

  private def guardExactPairs(nPairs: BigInt, cap: Long, what: String): Unit =
    require(nPairs <= cap,
      s"$what would exact-score $nPairs pairs (cap $cap). Use knnLsh/knnIvf, " +
        "or feed lshCandidatePairs into nearDupPairs(candidates=...), " +
        "or raise maxExactPairs explicitly.")

  /** Exact brute-force cosine top-k. `queries` and `corpus` both need
    * (idCol, embedding). Self-matches are excluded.
    * Output: (query_id, rank, neighbor_id, sim).
    */
  def knnExact(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id",
      maxExactPairs: Long = DefaultMaxExactPairs): DataFrame = {
    guardExactPairs(BigInt(queries.count()) * BigInt(corpus.count()),
      maxExactPairs, "knnExact")
    topK(exactRerank(allPairs(unitVectors(queries, idCol, "query_id", "qv"),
      unitVectors(corpus, idCol, "neighbor_id", "cv"))), k)
  }

  /** Bitext-style margin mining (Artetxe & Schwenk, ACL 2019): align
    * two embedding collections (languages, modalities, snapshots) by
    * scoring each A-vector's best B-neighbor with the MARGIN criterion
    * — cos(x,y) divided by the mean of both sides' top-k neighborhood
    * similarities — which cancels hubness: a y that is everyone's
    * near-neighbor has a high backward mean and its margins deflate,
    * where raw cosine would pair half of A to it. The standard mined-
    * parallel-corpus filter for multilingual training data.
    *
    * Output: (a_id, b_id, sim, margin) — each A's forward top-1 B,
    * margin-ranked, top `topN` overall. Ranking runs on the rounded
    * margin with an a_id tie-break (deterministic across engines);
    * sims are the [[knnExact]] 4-decimal outputs, so the neighborhood
    * means average the same grid values in both engines.
    *
    * Scale posture: this entry point scores exactly (two [[knnExact]]
    * passes — the small-side-broadcast correctness baseline, guarded
    * by `maxExactPairs`); at corpus scale swap the two passes for
    * [[knnLsh]]/[[knnIvf]] candidates — the margin arithmetic
    * downstream is unchanged (k rows per vector, two bounded
    * aggregations, one TakeOrdered; no global sort).
    */
  def bitextMarginPairs(vecsA: DataFrame, vecsB: DataFrame, k: Int,
      topN: Int, idCol: String = "vec_id"): DataFrame = {
    val fwd = knnExact(vecsA, vecsB, k, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bwd = knnExact(vecsB, vecsA, k, idCol)
    marginFromKnn(fwd, bwd, topN)
  }

  /** IVF-backed margin mining — [[bitextMarginPairs]] with both kNN
    * passes swapped for [[knnIvfAgainst]] (the documented scale swap,
    * now a first-class entry point): corpus-side cost per query drops
    * from |B| to ~nProbe/nCells of |B|, turning the quadratic exact
    * mine into the shape that survives full-corpus-×-full-corpus at
    * 100 TB. The margin arithmetic downstream is IDENTICAL (same
    * k-bounded aggregations over whatever neighbor lists arrive), so
    * output quality is exactly the IVF passes' recall — measured on
    * this corpus in OperatorSpec/SCALING.md rather than assumed.
    * Centroids are trained once on the union of both sides (the two
    * collections share a geometry by construction in bitext mining).
    */
  def bitextMarginPairsIvf(vecsA: DataFrame, vecsB: DataFrame, k: Int,
      topN: Int, nCells: Int, nProbe: Int,
      idCol: String = "vec_id", iters: Int = 4): DataFrame = {
    val cents = kmeansCentroids(vecsA.unionByName(vecsB), nCells, iters, idCol)
    val fwd = knnIvfAgainst(vecsA, vecsB, k, nProbe, cents, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bwd = knnIvfAgainst(vecsB, vecsA, k, nProbe, cents, idCol)
    marginFromKnn(fwd, bwd, topN)
  }

  /** Cross-collection IVF kNN: each `queries` vector's top-k among
    * `corpus` vectors, restricted to the `nProbe` nearest of the given
    * centroid cells. The cross-collection form of [[knnIvf]] (there
    * the corpus queries itself): corpus vectors index into their home
    * cell once, each query explodes into its probe cells, and the
    * scoring join is keyed on the cell id — the corpus never meets a
    * query outside a shared cell. No self-exclusion: the collections
    * are distinct by contract.
    */
  def knnIvfAgainst(queries: DataFrame, corpus: DataFrame, k: Int,
      nProbe: Int, centroids: Array[Array[Double]],
      idCol: String = "vec_id"): DataFrame =
    ivfTopK(unitVectors(queries, idCol, "id", "uv"),
      unitVectors(corpus, idCol, "id", "uv"), k, nProbe, centroids,
      dropSelf = false)

  /** [[knnIvfAgainst]] over (id, uv) unit frames; [[knnIvf]] is the
    * same search with self-pairs dropped.
    */
  private def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nProbe: Int, centroids: Array[Array[Double]],
      dropSelf: Boolean): DataFrame = {
    val pairs = probe(queries, centroids, nProbe)(col("id").as("query_id"),
        col("uv").as("qv"))
      .join(corpus.select(col("id").as("neighbor_id"), homeCell(centroids)
        .as("cell"), col("uv").as("cv")), Seq("cell"))
    topK(exactRerank(if (dropSelf) withoutSelf(pairs) else pairs), k)
  }

  // The margin criterion over any pair of (query_id, rank,
  // neighbor_id, sim) neighbor lists: top-1 forward pairs scored by
  // sim over the mean of both endpoints' neighborhood sims.
  private def marginFromKnn(fwd: DataFrame, bwd: DataFrame,
      topN: Int): DataFrame = {
    val fm = fwd.groupBy("query_id").agg(avg("sim").as("fm"))
    val bm = bwd.groupBy("query_id").agg(avg("sim").as("bm"))
    fwd.filter(col("rank") === 1)
      .select(col("query_id").as("a_id"), col("neighbor_id").as("b_id"),
        col("sim"))
      .join(fm.withColumnRenamed("query_id", "a_id"), "a_id")
      .join(bm.withColumnRenamed("query_id", "b_id"), "b_id")
      .select(col("a_id"), col("b_id"), col("sim"),
        round(col("sim") / ((col("fm") + col("bm")) / 2), 4).as("margin"))
      .orderBy(col("margin").desc, col("a_id"))
      .limit(topN)
  }

  /** Near-duplicate pairs: all (a < b) with cosine ≥ threshold.
    *
    * With `candidates = None` this is the EXACT all-pairs baseline —
    * O(n²) scoring, the correctness oracle, never the 100 TB path.
    * With `candidates = Some(pairs)` (columns `a`, `b`; e.g. from
    * [[lshCandidatePairs]]) the exact dot product runs only as a
    * VERIFY stage over the supplied pairs: two hash joins to attach
    * the unit vectors, one codegen'd dot per candidate — the shape
    * that survives 100 TB. Recall is then the candidate generator's.
    */
  def nearDupPairs(vecs: DataFrame, threshold: Double,
      idCol: String = "vec_id",
      candidates: Option[DataFrame] = None,
      maxExactPairs: Long = DefaultMaxExactPairs): DataFrame = {
    val pairs = candidates match {
      case Some(cand) =>
        val unit = unitVectors(vecs, idCol, "id", "uv")
        cand.select("a", "b")
          .join(unit.select(col("id").as("a"), col("uv").as("va")), Seq("a"))
          .join(unit.select(col("id").as("b"), col("uv").as("vb")), Seq("b"))
      case None =>
        val n = BigInt(vecs.count())
        guardExactPairs(n * (n - 1) / 2, maxExactPairs, "nearDupPairs(all-pairs)")
        val x = unitVectors(vecs, idCol, "a", "va")
        val y = unitVectors(vecs, idCol, "b", "vb")
        x.join(y, col("a") < col("b"))
    }
    pairs
      .withColumn("sim", DotProduct.dot(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"), round(col("sim"), 4).as("sim"))
  }

  /** Embedding-level benchmark decontamination — the semantic sibling
    * of `Dedup.decontaminate`'s n-gram containment: flag every corpus
    * vector whose max cosine against ANY benchmark vector reaches the
    * threshold (catches paraphrased/re-encoded eval leakage that
    * token-overlap misses). The benchmark side (eval sets: 10³-10⁵
    * rows) BROADCASTS; the corpus never shuffles raw vectors — the
    * |C|×|B| scored pairs collapse map-side to one (vec, running max)
    * row per partition before the per-vector max aggregation. For
    * benchmark sets too large to broadcast, pre-bucket both sides with
    * [[lshCandidatePairs]]-style tables and verify only collisions —
    * same verify-stage pattern as e05.
    */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      threshold: Double, idCol: String = "vec_id"): DataFrame = {
    val c = unitVectors(corpus, idCol, "vec_id", "cv")
    val b = broadcast(unitVectors(benchmark, idCol, "bench_id", "bv"))
    c.join(b)
      .withColumn("sim", DotProduct.dot(col("cv"), col("bv")))
      .groupBy("vec_id")
      .agg(max(col("sim")).as("s"))
      .select(col("vec_id"), round(col("s"), 4).as("max_sim"),
        (col("s") >= threshold).cast("int").as("contaminated"))
  }

  /** Candidate (a < b) pairs that collide in ≥1 of `nTables` sign-LSH
    * tables — the sub-quadratic candidate generator feeding the
    * [[nearDupPairs]] verify stage. Distinct, so each candidate is
    * scored once no matter how many tables it collides in.
    *
    * Parameter regime note (honest math, not tuning folklore): sign-LSH
    * separates pairs by angle — collision prob per plane is 1 − θ/π.
    * At the realistic dedup thresholds (cosine ≥ 0.9, θ ≤ 26°) a
    * (nPlanes=8, nTables=6) config reaches per-pair recall ≥ 0.999
    * while passing ~2% of background pairs. At LOW thresholds
    * (e.g. 0.45, θ = 63°) NO sign-LSH config is simultaneously
    * complete and sub-quadratic — that regime belongs to the exact
    * baseline, which is why `nearDupPairs(candidates = None)` exists.
    */
  /** Plane count that holds EXPECTED BUCKET OCCUPANCY constant as the
    * corpus grows: ⌈log2(n / targetPerBucket)⌉, clamped. The full-suite
    * 10× smoke (SCALING.md) measured why this matters: with planes
    * FIXED, bucket count is fixed, so occupancy grows ∝ n and candidate
    * pairs ∝ n² — e05's 8-plane config went 28× slower for 10× the
    * vectors. Occupancy-scaled planes restore candidates ∝ n ·
    * targetPerBucket · nTables.
    *
    * Recall cost of each added plane is one more r(s) factor per table
    * (r = 1 − θ/π): at the ≥0.999 dedup regime r ≈ 0.986, so going
    * 8 → 15 planes drops per-table collision ~10% — hold recall by
    * adding ~1-2 tables (L ∝ r^{-Δp}), still linear in n. At LOWER
    * output thresholds (0.9 ⇒ r ≈ 0.856) added planes cost real
    * recall (×0.856 per table each) — there, keep planes and accept
    * occupancy, or re-shard the corpus and pair within shards.
    */
  def autoPlanes(n: Long, targetPerBucket: Int = 16,
      minPlanes: Int = 8, maxPlanes: Int = 24): Int = {
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetPerBucket)) / math.log(2.0)).toInt
    math.min(maxPlanes, math.max(minPlanes, needed))
  }

  /** [[semanticDedup]]'s analogue of [[autoPlanes]]: a k-means cell
    * count that holds EXPECTED CELL OCCUPANCY constant as the corpus
    * grows — `⌈n / targetPerCell⌉`, clamped. The within-cell pair scan
    * costs Σcell² ≈ n²/K for balanced cells, so FIXED K degrades
    * quadratically (the 10× smoke measured e06 at 4.1× wall for 10×
    * vectors under its fixed base-SF cell count); occupancy-held K
    * restores cost ∝ n ·
    * targetPerCell. Recall cost of growing K is one more centroid
    * boundary per added cell — at dedup-grade similarity (≥ 0.9,
    * twins nearly collinear) the boundary measure stays negligible,
    * which the e06 collapse-rate audit measures rather than assumes.
    * The default target resolves to `minCells` = 8 at every
    * driver-checked SF (≤ 4 000 augmented vectors — oracle outputs
    * bit-identical) and only the 10× replica crosses it (40 000 →
    * K = 80).
    */
  def autoCells(n: Long, targetPerCell: Int = 500, minCells: Int = 8,
      maxCells: Int = 4096): Int =
    math.min(maxCells, math.max(minCells,
      math.ceil(n.toDouble / math.max(1, targetPerCell)).toInt))

  /** Internal-materialization note (round-9 lifecycle decision,
    * applies to [[lshNearDupPairs]], [[annFromBuckets]] and
    * [[semanticDedup]] too): self-joined intermediates stay LAZY
    * `persist`s, and their release point is the session level —
    * [[graft.core.CacheHygiene.releaseAll]] after each query's action
    * (Bench and Verify do, as did the retired RepBench probe — see
    * SCALING.md's "Retired probes" table; embedding applications
    * should).
    * The alternative — eager `localCheckpoint` inside the operator,
    * blocks owned by the returned plan and GC-reclaimed — was built
    * and measured in round 9: release semantics were right, but each
    * checkpoint is an extra job + store/reload, a fixed ~0.5-1 s per
    * query that put every ANN query ~2× over its round-8 bench time.
    * A persist additionally keeps lineage, so a lost executor
    * recomputes instead of failing the job — the property that
    * matters on a 1000-executor cluster.
    */
  def lshCandidatePairs(vecs: DataFrame, nPlanes: Int, dim: Int,
      idCol: String = "vec_id", nTables: Int = 6,
      seedBase: Long = 42L): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 30, s"nPlanes=$nPlanes out of range")
    val b = lshBucketsAllTables(vecs, nPlanes, dim, idCol, nTables, seedBase)
      .select("id", "table", "bucket")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    b.select(col("id").as("a"), col("table"), col("bucket"))
      .join(b.select(col("id").as("b"), col("table"), col("bucket")),
        Seq("table", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** LSH near-dup pairs with IN-BUCKET verification — the fused
    * `lshCandidatePairs` → `nearDupPairs(candidates = …)` pipeline,
    * same output, a fraction of the shuffle. The two-stage form
    * re-attaches unit vectors to every candidate pair with two hash
    * joins, so the wide (pair, vector, vector) rows shuffle TWICE —
    * at the sf1 replica that is ~1 GB of shuffle read and ~23 KB of
    * vector traffic per corpus vector (measured via BenchMetrics,
    * round 9); here the unit vectors ride the single (table, bucket)
    * shuffle (L·~0.5 KB per vector), the codegen'd dot + threshold
    * filter run inside the bucket join, and only VERIFIED pairs reach
    * the distinct — at 100 TB the difference between shuffling the
    * candidate pair list with vectors attached and shuffling the
    * corpus L times. A pair colliding in several tables is scored in
    * each (a few redundant 64-FLOP dots) and deduped after the filter,
    * where the row count is already the tiny verified set.
    *
    * Output identical to `nearDupPairs(candidates =
    * lshCandidatePairs(...))`: (a < b, round(sim, 4)) for pairs
    * colliding in ≥ 1 table with cosine ≥ threshold — pinned against
    * the two-stage form in OperatorSpec.
    */
  def lshNearDupPairs(vecs: DataFrame, threshold: Double, nPlanes: Int,
      dim: Int, idCol: String = "vec_id", nTables: Int = 6,
      seedBase: Long = 42L): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 30, s"nPlanes=$nPlanes out of range")
    // Materialization barrier on the unit vectors: CollapseProject
    // would otherwise inline the normalization `transform` into every
    // one of the nTables·nPlanes bucket dots (HOFs are CodegenFallback,
    // so no codegen and no common-subexpression elimination rescues
    // it) — the TextFns.shinglesFromTokens trap; measured 15.9 s of
    // the sf1 e05 wall in the bucket stage alone, vs ~1 s with the
    // barrier. 20 MB at the sf1 replica — id + dim doubles per vector.
    val unit = unitVectors(vecs, idCol, idCol, "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // buckets from the unit vectors (sign-LSH is scale-invariant, so
    // bucket ids equal the raw-vector buckets), carrying `v` through.
    // EXPLICIT key-repartition before the persist: the self-join fans
    // out ~occupancy× (wide rows — two vectors each), and AQE
    // coalesces the modest bucket-row shuffle by its INPUT bytes,
    // blind to that fan-out — measured at the sf1 replica: ~5M joined
    // rows squeezed through 3 coalesced partitions, 20 s wall; at full
    // width the same join is ~2 s. The cached frame keeps the
    // repartition's hash partitioning, so the self-join needs no
    // further exchange at all.
    val parts = vecs.sparkSession.sparkContext.defaultParallelism
    val b = lshBucketsAllTables(unit, nPlanes, dim, idCol, nTables, seedBase)
      .repartition(parts, col("table"), col("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    b.select(col("id").as("a"), col("v").as("va"), col("table"), col("bucket"))
      .join(b.select(col("id").as("b"), col("v").as("vb"), col("table"),
        col("bucket")), Seq("table", "bucket"))
      .filter(col("a") < col("b"))
      .withColumn("sim", DotProduct.dot(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select(col("a"), col("b"), round(col("sim"), 4).as("sim"))
      .distinct()
  }

  /** Deterministic random hyperplanes for sign-LSH; `seed` selects the
    * hash table in multi-table (OR-amplified) search.
    */
  private[operators] def hyperplanes(nPlanes: Int, dim: Int,
      seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  /** The (table → plane → coords) literal for [[SignBuckets]]. */
  private def planesLit(nPlanes: Int, dim: Int, nTables: Int,
      seedBase: Long): Column =
    typedlit[Seq[Seq[Seq[Double]]]]((0 until nTables).map(t =>
      hyperplanes(nPlanes, dim, seedBase + t).map(_.toSeq).toSeq))

  /** Sign-LSH bucket id (0 until 2^nPlanes) for each vector. Bucket
    * values are computed by the [[SignBuckets]] loop expression — the
    * unrolled per-plane `when(dot ≥ 0, 1<<p)` form trips janino's
    * hugeMethodLimit as tables × planes × dim grows and silently drops
    * the stage to interpreted eval (measured 15 s of e05's sf1 wall).
    *
    * Null boundary (here and in `lshBucketsAllTables`): a NULL
    * embedding yields a NULL bucket, so the row leaves the candidate
    * universe entirely — it can never pair with anything. Callers that
    * must surface null embeddings should filter/flag them BEFORE
    * bucketing; the in-repo tables are non-null by schema
    * (TablesSpec), so nothing is dropped on the tested corpora.
    */
  def lshBuckets(vecs: DataFrame, nPlanes: Int, dim: Int,
      idCol: String = "vec_id", seed: Long = 42L): DataFrame =
    signBuckets(vecs, nPlanes, dim, idCol, 1, seed)
      .select(col("id"), col("v"), element_at(col("buckets"), 1).as("bucket"))

  /** All `nTables` tables' bucket ids in ONE projection + ONE explode:
    * (id, v, table, bucket) rows from a single corpus scan. The multi-
    * table operators join on (table, bucket), so candidate generation
    * is one shuffle total instead of one scan + shuffle per table —
    * at 100 TB the difference between reading the corpus once and
    * reading it L times. Bucket values are identical to
    * [[lshBuckets]] at `seed = seedBase + table`. The vector `v` rides
    * along for the in-bucket verify of [[lshNearDupPairs]]; callers
    * that only join on buckets select (id, table, bucket) before they
    * cache.
    */
  private[operators] def lshBucketsAllTables(vecs: DataFrame, nPlanes: Int,
      dim: Int, idCol: String, nTables: Int,
      seedBase: Long = 42L): DataFrame =
    signBuckets(vecs, nPlanes, dim, idCol, nTables, seedBase)
      .select(col("id"), col("v"),
        posexplode(col("buckets")).as(Seq("table", "bucket")))

  /** (id, v, buckets): the double vector and its per-table sign-LSH
    * bucket array — the one bucket projection behind [[lshBuckets]]
    * and [[lshBucketsAllTables]].
    */
  private def signBuckets(vecs: DataFrame, nPlanes: Int, dim: Int,
      idCol: String, nTables: Int, seedBase: Long): DataFrame = {
    vecs.select(col(idCol).as("id"), asDouble(col("embedding")).as("v"))
      .withColumn("buckets",
        SignBuckets.of(col("v"), planesLit(nPlanes, dim, nTables, seedBase)))
  }

  /** ANN top-k via multi-table sign-LSH: `nTables` independent
    * hyperplane sets (OR-amplification — a pair is a candidate when it
    * collides in ANY table, recall 1-(1-r)^L), candidates unioned and
    * scored once. The scale path that replaces the O(n²) scan; output
    * shape matches `knnExact`.
    *
    * Default (4 planes × 12 tables) comes from the measured sweep in
    * SCALING.md (the retired `RecallSweep` probe; SCALING.md's
    * "Retired probes" table says where its numbers live): top-5
    * recall 0.82 on the real embeddings at 2.35× the candidate cost of
    * the old 4×4 config (which only reached 0.41). On corpora whose true
    * neighbors sit at LOW cosine (like this synthetic set, 0.2-0.5),
    * sign-LSH needs many tables — when the candidate fraction
    * approaches ~L/2^planes of all pairs, prefer [[knnIvf]], whose
    * probed-cell fraction is nProbe/nCells regardless of similarity.
    */
  def knnLsh(vecs: DataFrame, k: Int, nPlanes: Int, dim: Int,
      queryFilter: Column,
      idCol: String = "vec_id", nTables: Int = 12,
      bucketFrame: Option[DataFrame] = None): DataFrame = {
    // bucketFrame (same idCol, possibly REDUCED embedding — see
    // randomProject) only steers candidate generation; scoring always
    // runs on `vecs`' full-dimension unit vectors, so a lossy bucket
    // projection costs recall only through missed candidates, never
    // through corrupted similarity ranking.
    val b = lshBucketsAllTables(bucketFrame.getOrElse(vecs), nPlanes, dim,
      idCol, nTables)
    annFromBuckets(vecs, b, k, queryFilter, idCol)
  }

  /** The bucket-collision candidate generator for any (id, table,
    * bucket) hashing family: candidate join on (table, bucket),
    * OR-amplified distinct, then the shared exact rerank and top-k.
    */
  private def annFromBuckets(vecs: DataFrame, buckets: DataFrame, k: Int,
      queryFilter: Column, idCol: String): DataFrame = {
    // lazy persist, released by CacheHygiene — see lshCandidatePairs note
    val unit = unitVectors(vecs, idCol, "id", "uv")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b = buckets.select("id", "table", "bucket")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = withoutSelf(b.filter(queryFilter)
      .select(col("id").as("query_id"), col("table"), col("bucket"))
      .join(b.select(col("id").as("neighbor_id"), col("table"), col("bucket")),
        Seq("table", "bucket")))
      .select("query_id", "neighbor_id").distinct()
    topK(exactRerank(candidates, Some(unit)), k)
  }

  /** Cross-polytope LSH buckets (Andoni et al. 2015, "Practical and
    * Optimal LSH for Angular Distance" — public algorithm): project
    * through a seeded Gaussian pseudo-rotation to `dimProj` coords,
    * bucket = signed index of the max-magnitude coordinate (2·dimProj
    * buckets per table). Asymptotically better collision separation
    * than hyperplane sign-LSH at the same table count — each hash
    * reads the DOMINANT direction of the rotated vector instead of
    * one bit per plane.
    */
  private[operators] def cpBucketsAllTables(vecs: DataFrame, dimIn: Int,
      dimProj: Int, idCol: String, nTables: Int,
      seedBase: Long = 101L): DataFrame = {
    // bucket values from the CpBuckets loop expression — the composed
    // array_position/array_max form carried tables × dimProj unrolled
    // dot literals (the SignBuckets janino argument) plus interpreted
    // HOF eval per table; same outputs, tie/NaN parity documented on
    // the expression
    val v = asDouble(col("embedding"))
    val rotations = typedlit[Seq[Seq[Seq[Double]]]]((0 until nTables).map { t =>
      val rnd = new scala.util.Random(seedBase + t)
      Array.fill(dimProj, dimIn)(rnd.nextGaussian()).map(_.toSeq).toSeq
    })
    vecs.select(col(idCol).as("id"), v.as("v"))
      .select(col("id"),
        posexplode(SignBuckets.cp(col("v"), rotations))
          .as(Seq("table", "bucket")))
  }

  /** ANN top-k via multi-table cross-polytope LSH; output shape
    * matches [[knnExact]]. Scoring is always exact full-dim.
    */
  def knnCp(vecs: DataFrame, k: Int, dimProj: Int, queryFilter: Column,
      idCol: String = "vec_id", nTables: Int = 12,
      dimIn: Int = 64): DataFrame =
    annFromBuckets(vecs,
      cpBucketsAllTables(vecs, dimIn, dimProj, idCol, nTables), k,
      queryFilter, idCol)

  /** Deterministic training-free centroid seeding: the unit vectors of
    * the first `nCells` ids (tiny driver collect — nCells × dim
    * doubles).
    */
  def seedCentroids(vecs: DataFrame, nCells: Int,
      idCol: String = "vec_id"): Array[Array[Double]] =
    unitVectors(vecs, idCol, "id", "uv")
      .orderBy("id").limit(nCells)
      .collect()
      .map(_.getAs[scala.collection.Seq[Double]]("uv").toArray)

  /** Spherical (cosine) k-means over the corpus: Lloyd iterations with
    * deterministic seed centroids. Each iteration is one assignment
    * pass (pure column expressions, no join) + one element-wise mean
    * aggregation (posexplode → groupBy(cell, dim)); only K×dim doubles
    * ever reach the driver. Empty cells keep their previous centroid.
    */
  def kmeansCentroids(vecs: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id"): Array[Array[Double]] = {
    val unit = unitVectors(vecs, idCol, "id", "uv")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = kmeansCentroidsUnit(unit, k, iters)
    unit.unpersist()
    out
  }

  /** Lloyd loop over an ALREADY-persisted (id, uv) unit-vector frame —
    * callers that hold such a frame (e.g. Pq.knnIvfPq) avoid a second
    * normalization pass + duplicate cache of the corpus.
    */
  private[operators] def kmeansCentroidsUnit(unit: DataFrame, k: Int,
      iters: Int): Array[Array[Double]] = {
    var centroids = unit.orderBy("id").limit(k).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("uv").toArray)
    for (_ <- 1 to iters) {
      val assigned = unit.withColumn("cell", homeCell(centroids))
      val sums = assigned
        .select(col("cell"), posexplode(col("uv")).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg(avg("x").as("m"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r =>
        next(r.getAs[Int]("cell"))(r.getAs[Int]("dim")) = r.getAs[Double]("m")
      }
      centroids = next.map { c => // re-normalize to the unit sphere
        val n = math.sqrt(c.map(x => x * x).sum)
        if (n == 0.0) c else c.map(_ / n)
      }
    }
    centroids
  }

  /** Per-group centroid-distance outliers: the k vectors FARTHEST (by
    * cosine) from their own group's centroid — the prototypicality
    * audit a curation pipeline runs per language/source/cluster to
    * surface mislabeled, off-topic, or garbage embeddings before they
    * train (the ranking half of SemDeDup-style semantic curation:
    * [[semanticDedup]] removes the too-CLOSE, this removes the
    * too-FAR).
    *
    * Output: (grp, id, sim) — sim is cosine(unit vector, group
    * centroid of unit vectors), rounded to 4 decimals BEFORE ranking
    * so the order is reproducible across engines; ties break on id.
    *
    * Scale posture: the centroid pass is one posexplode →
    * groupBy(group, dim) mean — the [[kmeansCentroids]] shape, except
    * the result STAYS distributed (#groups × dim rows, broadcast to
    * the scoring join; no driver collect). Centroid coordinates are
    * rounded to 6 decimals so the scores are insensitive to
    * aggregation order at any partition count. Scoring is one
    * broadcast join + one codegen [[DotProduct]] per row, and the
    * bottom-k runs through [[graft.plans.GroupedTopK]] (partial heaps,
    * ≤ k rows per group per partition shuffle) — no global sort, no
    * per-group window materialization, even with very few groups.
    */
  def centroidOutliers(vecs: DataFrame, groupCol: String, k: Int,
      idCol: String = "vec_id"): DataFrame = {
    val unit = normalized(vecs.select(col(idCol).as("id"),
        col(groupCol).as("grp"), asDouble(col("embedding")).as("_v")),
        col("_v"), "uv")
      .select("id", "grp", "uv")
      // consumed twice (centroid pass + scoring pass); released
      // session-side by CacheHygiene — the round-9 lifecycle contract
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cent = unit
      .select(col("grp"), posexplode(col("uv")).as(Seq("dim", "x")))
      .groupBy("grp", "dim").agg(round(avg("x"), 6).as("m"))
      .groupBy("grp")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
        s => s("m")).as("cvec"))
      .withColumn("cnrm", sqrt(DotProduct.dot(col("cvec"), col("cvec"))))
      .withColumn("cnrm",
        when(col("cnrm") === 0d, lit(1.0)).otherwise(col("cnrm")))
    val scored = unit.join(broadcast(cent), "grp")
      .select(col("grp"), col("id"),
        round(DotProduct.dot(col("uv"), col("cvec")) / col("cnrm"), 4)
          .as("sim"))
    GroupedTopK(scored, group = Seq("grp"),
      order = Seq(("sim", true), ("id", true)), k = k)
  }

  /** argmax-cosine cell id against literal centroids — an expression,
    * not a join, and the centroid table is a literal ARGUMENT of the
    * codegen'd [[CentroidOps.nearestCell]] loop (constant bytecode size
    * in nCells, vs the unrolled struct-array form that trips janino's
    * hugeMethodLimit as nCells × dim grows). Ties break to the larger
    * cid, deterministically — same as the array_max(struct) form it
    * replaced.
    */
  private def homeCell(centroids: Array[Array[Double]]): Column =
    CentroidOps.nearestCell(col("uv"), centroidsLit(centroids),
      typedlit[Seq[Double]](Seq.fill(centroids.length)(0.0)))

  /** Probe-cell selection via the [[CentroidOps.TopCells]] loop
    * expression — the unrolled `slice(reverse(array_sort(struct…)))`
    * form it replaces grows bytecode ∝ nCells×dim (hugeMethodLimit →
    * interpreted at the thousands-of-cells configs a real index runs);
    * identical outputs incl. tie/NaN order, pinned in OperatorSpec.
    */
  private def probeCells(centroids: Array[Array[Double]], nProbe: Int): Column =
    CentroidOps.topCells(col("uv"), centroidsLit(centroids), lit(nProbe))

  private[operators] def centroidsLit(centroids: Array[Array[Double]]): Column =
    typedlit[Seq[Seq[Double]]](centroids.map(_.toSeq).toSeq)

  /** The IVF candidate generator's query side: each `queries` row (with
    * its unit vector `uv`) explodes into its `nProbe` nearest cells —
    * the ONE probe every IVF operator uses, ties to the larger cell id
    * — projected to `cell` plus `cols` (which may read `cell`); the
    * caller joins the corpus rows of those cells on `cell`.
    */
  private[operators] def probe(queries: DataFrame,
      centroids: Array[Array[Double]], nProbe: Int)(cols: Column*): DataFrame =
    queries.withColumn("cell", explode(probeCells(centroids, nProbe)))
      .select(col("cell") +: cols: _*)

  /** The rows of a catalog-resident `identity(cell)`-partitioned index
    * that a query batch can touch: the batch's distinct probe cells
    * (≤ nCells ints on the driver, chosen by [[probe]]'s rule) in ONE
    * read of one snapshot, whose manifest partition values prune every
    * other cell's files before Spark lists a footer.
    */
  private[graft] def probedIndex(catalog: SnapshotCatalog, ns: String,
      table: String, unitQueries: DataFrame,
      centroids: Array[Array[Double]], nProbe: Int): DataFrame = {
    val cells = probe(unitQueries, centroids, nProbe)().distinct()
      .collect().map(_.getInt(0).toString).toSeq
    catalog.readIn(ns, table, "cell", cells).df
  }

  /** IVF-style ANN: the corpus is bucketed into cells by argmax-cosine
    * against a literal centroid set (default: deterministic seeded;
    * pass `kmeansCentroids` output for trained cells); each query
    * probes its `nProbe` nearest cells and runs exact top-k inside
    * them. Cell assignment is a pure expression — the only shuffle is
    * the probe-cell join. The standard scale path when sign-LSH bucket
    * boundaries lose too much recall.
    */
  def knnIvf(vecs: DataFrame, k: Int, nCells: Int, nProbe: Int,
      queryFilter: Column, idCol: String = "vec_id",
      centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = centroids.getOrElse(seedCentroids(vecs, nCells, idCol))
    val unit = unitVectors(vecs, idCol, "id", "uv")
    ivfTopK(unit.filter(queryFilter), unit, k, nProbe, cents, dropSelf = true)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings, find near-duplicate
    * pairs ONLY within each cluster, group them into connected
    * components, and keep one representative (min id) per component.
    * Returns one row per input vector: (vec_id, component, keep).
    *
    * Scale shape: the all-pairs scan that makes embedding dedup
    * quadratic is confined to single cells — cost ∝ Σ(cell²) with
    * K cells cutting the constant ~K× for balanced clusters — and cell
    * assignment is a pure argmax-cosine expression against broadcast
    * centroids (no join). The within-cell pair join shuffles on the
    * cell id, so hot cells are visible skew (AQE-splittable; raise K
    * or sub-bucket a cell if one dominates). Recall: a cross-cell dup
    * pair is missed by construction — at dedup-grade similarity
    * (≥0.9) near-identical vectors share an argmax cell except exactly
    * on a centroid boundary, the same tradeoff the paper accepts.
    * Pinned in OperatorSpec on planted duplicate groups.
    */
  /** `trainFraction` < 1 trains the k-means on a deterministic hash
    * sample of the corpus (centroids only need the cluster STRUCTURE,
    * which a sample preserves) — at 100 TB training Lloyd iterations
    * on the full corpus is the anti-pattern; assignment still covers
    * every vector.
    */
  def semanticDedup(vecs: DataFrame, threshold: Double, nCells: Int,
      idCol: String = "vec_id", iters: Int = 4,
      centroids: Option[Array[Array[Double]]] = None,
      trainFraction: Double = 1.0): DataFrame = {
    val trainSet =
      if (trainFraction >= 1.0) vecs
      else Sampling.hashSample(vecs, idCol, trainFraction)
    val cents = centroids.getOrElse(kmeansCentroids(trainSet, nCells, iters, idCol))
    // lazy persist, released by CacheHygiene — see lshCandidatePairs
    // note. Key-repartitioned on the cell id first, for the same
    // reason as lshNearDupPairs' bucket frame: the within-cell
    // self-join fans out ~occupancy× in wide (vector, vector) rows,
    // and AQE sizes partitions by the modest INPUT bytes.
    val unit = unitVectors(vecs, idCol, "id", "uv")
      .withColumn("cell", homeCell(cents))
      .repartition(vecs.sparkSession.sparkContext.defaultParallelism,
        col("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = unit.select(col("cell"), col("id").as("a"), col("uv").as("va"))
      .join(unit.select(col("cell"), col("id").as("b"), col("uv").as("vb")),
        Seq("cell"))
      .filter(col("a") < col("b"))
      .withColumn("sim", DotProduct.dot(col("va"), col("vb")))
      .filter(col("sim") >= threshold)
      .select("a", "b")
    val cc = Dedup.connectedComponents(pairs)
    // singletons (no near-dup) keep themselves
    unit.select(col("id"))
      .join(cc, col("id") === cc("doc_id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("component"), col("id")).as("component"),
        coalesce(col("keep_doc"), lit(1L)).as("keep"))
  }

  /** SQ8 flat-scan ANN (the FAISS `SQ8` flat index, public
    * architecture): L2-normalize once, quantize each coordinate to a
    * signed byte ([[graft.functions.expressions.Sq8Encode]] — 64-dim
    * vector → 64-byte `binary` code, a 4× cut in scan bandwidth vs
    * float32), score every corpus code against each broadcast query
    * code with the integer dot ([[graft.functions.expressions.Sq8Dot]],
    * a primitive `byte[]` loop in WholeStageCodegen), then exact-rerank
    * the top-`rerank` candidates per query on the full-precision unit
    * vectors — the same rerank-depth rule as [[Pq.knnPq]].
    *
    * Where it sits in the ANN lineup: unlike LSH/IVF/PQ it prunes
    * nothing — every vector is scored — so recall loss comes ONLY from
    * int8 rounding inside the candidate cut (per-coordinate error
    * ≤ 1/254 on unit vectors), making it the highest-recall/simplest
    * index here and the standard first stop when the corpus fits the
    * scan budget. At 100 TB the byte codes are the column you actually
    * scan (the float vectors stay parquet-pruned until the tiny rerank
    * join touches Q×rerank of them); compose with [[randomProject]] or
    * an IVF cell restriction when even the byte scan is too wide.
    *
    * Output shape matches [[knnExact]]: (query_id, rank, neighbor_id,
    * sim), sims from the exact rerank pass.
    */
  def knnSq8(vecs: DataFrame, k: Int, queryFilter: Column,
      rerank: Int = 50, idCol: String = "vec_id"): DataFrame = {
    // lazy persist (consumed by the code scan AND the rerank joins),
    // released by CacheHygiene — the annFromBuckets contract
    val unit = unitVectors(vecs, idCol, "id", "uv")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = allPairs(unit.filter(queryFilter).select(col("id").as("query_id"),
        Sq8.encode(col("uv")).as("qcode")),
      unit.select(col("id").as("neighbor_id"), Sq8.encode(col("uv")).as("code")))
    topK(exactRerank(shortlist(cands, Sq8.dot(col("qcode"), col("code")),
      ascending = false, rerank, k), Some(unit)), k)
  }

  /** Binary-quantized flat-scan ANN: each unit vector packs to a
    * `nBits`-bit sign signature ([[graft.functions.expressions.SignBits]]
    * — the same deterministic hyperplane family as sign-LSH, packed
    * into one long column per 64 planes instead of per-table bucket
    * ids), every corpus signature is scored against each broadcast
    * query signature with built-in per-word `bit_count(sig ^ qsig)`
    * Hamming distance, and the top-`rerank` candidates per query get
    * the exact full-precision rerank — [[knnSq8]]'s flat-scan posture
    * at the 1-bit-per-projection extreme.
    *
    * Where it sits in the ANN lineup: like SQ8 it prunes nothing —
    * every vector is TOUCHED — but the touch is `nBits/8` bytes (32 at
    * the default 256 bits, an 8× bandwidth cut vs these 256-byte
    * float32 vectors), so this is the cheapest full-coverage first
    * pass (the modern binary-quantization recipe: Hamming filter →
    * exact rerank). Recall loss comes only from sign-quantization
    * reordering inside the candidate cut, and bits×rerank is the
    * measured knob (the retired HammingSweep probe; SCALING.md's
    * "Retired probes" table says where its numbers live): on this
    * low-cosine corpus 64 bits @ rerank 50 recalls 0.39-0.58 while
    * 256 @ 100 holds 0.92-0.97 across SFs. The whole filter stage
    * (XOR + popcount per word) runs inside WholeStageCodegen with zero
    * allocation per row. Compose with an IVF cell restriction when
    * even the 32-byte scan is too wide.
    *
    * Output shape matches [[knnExact]]: (query_id, rank, neighbor_id,
    * sim), sims from the exact rerank pass.
    */
  def knnHamming(vecs: DataFrame, k: Int, queryFilter: Column,
      nBits: Int = 256, dim: Int = 64, rerank: Int = 100,
      idCol: String = "vec_id", seed: Long = 42L): DataFrame = {
    val codec = new SignCodec(nBits, dim, seed)
    // lazy persist (consumed by the signature scan AND the rerank
    // joins), released by CacheHygiene — the annFromBuckets contract
    val unit = unitVectors(vecs, idCol, "id", "uv")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = allPairs(unit.filter(queryFilter)
        .select(col("id").as("query_id") +: codec.sigs("qsig"): _*),
      unit.select(col("id").as("neighbor_id") +: codec.sigs("sig"): _*))
    topK(exactRerank(shortlist(cands, codec.distance, ascending = true, rerank, k),
      Some(unit)), k)
  }

  /** The `nBits`-bit sign-signature codec shared by the Hamming
    * operators: the bit-width guard and the hyperplanes. nBits > dim is
    * the standard binary-quantization regime (bits are cheap; 128 bits
    * of a 64-dim vector still scan at 1/4 the float32 bandwidth) — each
    * 64-plane word packs into its own long column, and the scan
    * distance is the sum of per-word popcounts, all built-in codegen.
    */
  private final class SignCodec(nBits: Int, dim: Int, seed: Long) {
    require(nBits >= 1 && (nBits % 64 == 0 || nBits < 64),
      s"nBits must be >= 1 and either < 64 or a multiple of 64, got $nBits")
    private val planes = hyperplanes(nBits, dim, seed).map(_.toSeq).toSeq
    private val words = math.max(1, (nBits + 63) / 64)

    /** `{prefix}0..` signature words of the unit vector `uv`. */
    def sigs(prefix: String): Seq[Column] = (0 until words).map(w =>
      SignBits.of(col("uv"), typedlit[Seq[Seq[Double]]](
        planes.slice(w * 64, (w + 1) * 64))).as(s"$prefix$w"))

    /** The stored `sig0..` words, as columns. */
    def stored: Seq[Column] = (0 until words).map(w => col(s"sig$w"))

    /** Hamming distance between the `sig*` and `qsig*` words. */
    def distance: Column = (0 until words)
      .map(w => bit_count(col(s"sig$w").bitwiseXOR(col(s"qsig$w"))))
      .reduce(_ + _)
  }

  /** IVF × binary-quantization composed ANN — the scale path
    * [[knnHamming]]'s scaladoc promises: the coarse quantizer confines
    * the scan to `nProbe` of `nCells` cells (cost fraction
    * ~nProbe/nCells, similarity-independent), and WITHIN the probed
    * cells candidates are filtered by the 8-byte-per-64-planes Hamming
    * signature instead of full dots — [[Pq.knnIvfPq]]'s architecture
    * with the simpler 1-bit codec. Exact rerank of the per-query
    * top-`rerank` survivors, as everywhere.
    *
    * Identity pins (OperatorSpec): probe-all + rerank-all reproduces
    * exact kNN row-for-row — neither stage can change WHICH answers
    * exist, only how many candidates pay full-precision dots.
    *
    * Scale shape: the corpus is signed and cell-assigned in one
    * projection (both are broadcast-literal expressions — no join),
    * the candidate join keys on the cell id like [[knnIvf]], and the
    * Hamming filter runs inside the probed-cell join before anything
    * wide moves; only Q×rerank rows touch the float vectors.
    */
  def knnIvfHamming(vecs: DataFrame, k: Int, nCells: Int, nProbe: Int,
      queryFilter: Column, nBits: Int = 256, dim: Int = 64,
      rerank: Int = 100, idCol: String = "vec_id", seed: Long = 42L,
      centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val codec = new SignCodec(nBits, dim, seed)
    val cents = centroids.getOrElse(seedCentroids(vecs, nCells, idCol))
    // lazy persist (signature/cell scan + the rerank joins), released
    // by CacheHygiene — the annFromBuckets contract
    val unit = unitVectors(vecs, idCol, "id", "uv")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a corpus vector has ONE home cell, so (query, neighbor) pairs
    // are join-unique — no distinct needed before the shortlist
    val cands = withoutSelf(probe(unit.filter(queryFilter), cents, nProbe)(
        col("id").as("query_id") +: codec.sigs("qsig"): _*)
      .join(unit.select(col("id").as("neighbor_id") +: homeCell(cents).as("cell") +:
        codec.sigs("sig"): _*), Seq("cell")))
    topK(exactRerank(shortlist(cands, codec.distance, ascending = true, rerank, k),
      Some(unit)), k)
  }

  /** Materialized-index rows for the IVF × binary-quantization index
    * ([[knnIvfHamming]]'s corpus side as a TABLE): one row per vector —
    * (idCol, cell, sig0..sigW-1, uv) — computed by a PURE PROJECTION
    * against fixed centroids and hyperplanes (both literal arguments of
    * codegen'd expressions: no join, no shuffle, no state). The same
    * rows serve batch backfill and streaming maintenance
    * ([[graft.streaming.VectorIndex.hammingIndexSink]]): a micro-batch
    * of new vectors costs one map pass regardless of index size, and
    * appending its rows makes them immediately servable — no retrain,
    * because the quantizer (centroids + planes) is frozen by contract
    * (retraining is a new table + backfill, the
    * [[graft.streaming.VectorIndex]] posture).
    *
    * The unit vector rides along (`uv`) so the exact rerank pass can
    * serve from the index alone — the full-precision half of the
    * standard two-level layout (code for the scan, vector for the
    * rerank), laid out cell-partitioned so probes read only their
    * cells' files.
    */
  def hammingIndexRows(vecs: DataFrame, centroids: Array[Array[Double]],
      nBits: Int = 256, dim: Int = 64, seed: Long = 42L,
      idCol: String = "vec_id"): DataFrame = {
    val codec = new SignCodec(nBits, dim, seed)
    unitVectors(vecs, idCol, "id", "uv")
      .select(col("id").as(idCol) +: homeCell(centroids).as("cell") +:
        codec.sigs("sig") :+ col("uv"): _*)
  }

  /** Serve ANN queries from a MATERIALIZED [[hammingIndexRows]] index:
    * query vectors probe their `nProbe` nearest cells, candidates
    * inside the probed cells are filtered by Hamming distance on the
    * stored signatures, and the per-query top-`rerank` survivors get
    * exact dots against the stored unit vectors. Identity contract
    * (pinned in VectorIndexSpec): with the same frozen
    * centroids/planes, serving from the table equals [[knnIvfHamming]]
    * recomputing the index in-query, row for row — so streamed index
    * maintenance changes WHEN rows exist, never what a query answers.
    *
    * Output shape matches [[knnExact]]: (query_id, rank, neighbor_id,
    * sim). Self-pairs (query id present in the index) are excluded.
    */
  def searchHammingIndex(index: DataFrame, queries: DataFrame, k: Int,
      nProbe: Int, centroids: Array[Array[Double]], nBits: Int = 256,
      dim: Int = 64, rerank: Int = 100, seed: Long = 42L,
      queryFilter: Column = lit(true), idCol: String = "vec_id"): DataFrame = {
    val codec = new SignCodec(nBits, dim, seed)
    // the unit vectors ride the join (the index stores them), so the
    // rerank needs no lookup
    val cands = withoutSelf(probe(unitVectors(queries, idCol, "id", "uv")
        .filter(queryFilter), centroids, nProbe)(col("id").as("query_id") +:
        col("uv").as("qv") +: codec.sigs("qsig"): _*)
      .join(index.select(col(idCol).as("neighbor_id") +: col("cell") +:
        col("uv").as("cv") +: codec.stored: _*), Seq("cell")))
    topK(exactRerank(shortlist(cands, codec.distance, ascending = true, rerank, k,
      "qv", "cv")), k)
  }

  /** Maximal Marginal Relevance selection (Carbonell & Goldstein,
    * SIGIR 1998): greedily pick `k` items that are relevant to the
    * query but diverse among themselves —
    * `argmax λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)` — the standard
    * diversity-aware data-selection / prompt-example-selection pass
    * over an embedding corpus.
    *
    * Determinism across engines: similarities are snapped to a
    * basis-point grid (`round(sim·10⁴)` as int64) BEFORE the score
    * arithmetic, and λ enters as the integer pair `lamNum/lamDen`, so
    * every score is an exact integer in 1e-5 units (`score_e5 =
    * lamNum·sq − (lamDen−lamNum)·max-sim`, empty-set diversity term
    * = 0) and ties break on the candidate id — no float noise can
    * reorder a pick between this and the SQL restatement.
    *
    * Scale shape: the greedy loop is inherently sequential in k, and
    * that is the WHOLE driver footprint — each of the k rounds is one
    * distributed scan of the candidates computing ≤|S| codegen'd dots
    * against BROADCAST selected vectors (k×dim doubles riding the
    * closure) followed by a TakeOrdered(1); one row returns per round.
    * The query-side similarity `sq` is computed once and persisted
    * (lazy, released by CacheHygiene — the annFromBuckets contract).
    * At 100 TB: k scans of a byte-prunable cached column set, zero
    * shuffles after the persist materializes.
    */
  def mmrSelect(vecs: DataFrame, queryId: Long, k: Int,
      lamNum: Int = 7, lamDen: Int = 10,
      idCol: String = "vec_id"): DataFrame = {
    require(lamNum > 0 && lamNum <= lamDen, s"need 0 < λ ≤ 1, got $lamNum/$lamDen")
    val spark = vecs.sparkSession
    val unit = unitVectors(vecs, idCol, "id", "uv")
    val qv = unit.filter(col("id") === queryId).select("uv")
      .collect().headOption
      .getOrElse(throw new IllegalArgumentException(
        s"mmrSelect: query id $queryId not present in the corpus"))
      .getSeq[Double](0)
    def bp(c: Column): Column = round(c * 10000d, 0).cast("long")
    val cand = unit.filter(col("id") =!= queryId)
      .select(col("id"), col("uv"),
        bp(DotProduct.dot(col("uv"), typedlit(qv))).as("sq"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Seq[Double])]
    var exhausted = false
    // stop early (shorter result) when k exceeds the candidate count —
    // the greedy argmax over an empty remaining set has no answer
    while (picked.size < k && !exhausted) {
      val remaining =
        if (picked.isEmpty) cand
        else cand.filter(!col("id").isInCollection(picked.map(_._1)))
      val score =
        if (picked.isEmpty) col("sq") * lamNum
        else {
          val dots = picked.map(s => bp(DotProduct.dot(col("uv"), typedlit(s._3))))
          val mx = if (dots.size == 1) dots.head else greatest(dots.toSeq: _*)
          col("sq") * lamNum - mx * (lamDen - lamNum)
        }
      remaining.withColumn("score", score)
        .orderBy(col("score").desc, col("id"))
        .select("id", "score", "uv").limit(1).collect().headOption match {
        case Some(row) =>
          picked += ((row.getLong(0), row.getLong(1), row.getSeq[Double](2)))
        case None => exhausted = true
      }
    }
    import spark.implicits._
    picked.toSeq.zipWithIndex
      .map { case ((id, s, _), i) => (i + 1L, id, s) }
      .toDF("step", idCol, "score_e5")
  }

  /** Leave-one-out kNN label-consistency audit (the label-noise /
    * mislabel-detection pass of Confident-Learning-style data quality,
    * Northcutt et al. 2021, on the public kNN-agreement formulation):
    * each query vector's k nearest neighbors (self excluded) vote with
    * their labels; the majority label (count desc, label asc — a
    * deterministic tie-break) is compared against the vector's own.
    *
    * Output per query vector: (idCol, own label, predicted label, the
    * winner's votes, the own label's votes among the k, and the
    * `mislabeled` verdict). All counts are exact integers.
    *
    * Exactness posture: rides [[knnExact]] (broadcast query side,
    * `maxExactPairs`-guarded) — the correctness baseline. At corpus
    * scale swap the neighbor source for [[knnIvf]]/[[knnSq8]]
    * candidates; the vote/verdict arithmetic downstream is unchanged
    * (k rows per query, one bounded aggregation, one ≤k-row window).
    */
  def labelAudit(vecs: DataFrame, k: Int, queryFilter: Column,
      idCol: String = "vec_id", labelCol: String = "label",
      maxExactPairs: Long = DefaultMaxExactPairs): DataFrame = {
    val labels = vecs.select(col(idCol), col(labelCol).cast("long").as(labelCol))
    val nn = knnExact(vecs.filter(queryFilter), vecs, k, idCol, maxExactPairs)
      .join(labels.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("n_lbl")), "neighbor_id")
    val votes = nn.groupBy(col("query_id"), col("n_lbl"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("votes").desc, col("n_lbl"))
    val pred = votes.withColumn("_r", row_number().over(w))
      .filter(col("_r") === 1)
      .select(col("query_id"), col("n_lbl").as("pred_label"),
        col("votes").as("votes_pred"))
    val own = labels.select(col(idCol).as("query_id"),
      col(labelCol).as("own_label"))
    val ownVotes = votes.join(own, Seq("query_id"))
      .filter(col("n_lbl") === col("own_label"))
      .select(col("query_id"), col("votes").as("votes_own"))
    pred.join(own, Seq("query_id"))
      .join(ownVotes, Seq("query_id"), "left")
      .select(col("query_id").as(idCol), col("own_label"),
        col("pred_label"), col("votes_pred"),
        coalesce(col("votes_own"), lit(0L)).as("votes_own"),
        (col("pred_label") =!= col("own_label")).as("mislabeled"))
  }

  /** ColBERT-style late-interaction retrieval (Khattab & Zaharia,
    * "ColBERT: Efficient and Effective Passage Search via Contextualized
    * Late Interaction", SIGIR 2020): each embedding is viewed as `nSub`
    * sub-vectors ("token embeddings") of dim/nSub, and
    *
    *   score(q, d) = Σ_i max_j cos(q_i, d_j)
    *
    * — the MaxSim operator, which rewards a document for matching EACH
    * facet of the query somewhere rather than on one pooled vector.
    *
    * Determinism: every sub-cosine is snapped to a 1e-4 grid
    * (`round(·×10000)` → int64, the e16 discipline) BEFORE max/sum, so
    * the score arithmetic is exact integer and the ranking bit-stable
    * against the oracle's replay.
    *
    * Scale shape: queries broadcast; the WHOLE nSub×nSub interaction
    * matrix for a (query, doc) pair folds inside one codegen'd
    * projection (nSub² [[DotProduct]]s → `greatest` per row → integer
    * sum) — a map-only flat scan with NO explode and NO shuffle except
    * GroupedTopK's partial-final pair (k rows per query per partition).
    * This is the exact-scoring baseline; the 100 TB path prunes
    * candidates first (PLAID's centroid pruning ≙ compose with the IVF
    * cell index: score only docs sharing a probed cell), which reuses
    * this scorer unchanged on the surviving candidates.
    */
  def maxSim(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      nSub: Int = 4, idCol: String = "vec_id",
      maxExactPairs: Long = DefaultMaxExactPairs): DataFrame = {
    guardExactPairs(BigInt(queries.count()) * BigInt(corpus.count()),
      maxExactPairs, "maxSim")
    val q = broadcast(subVectors(queries, idCol, "query_id", dim, nSub, "_qs"))
    val d = subVectors(corpus, idCol, "doc_id", dim, nSub, "_s")
    val scored = q.join(d, col("query_id") =!= col("doc_id"))
      .select(col("query_id"), col("doc_id"),
        maxSimScore(nSub).as("maxsim"))
    topK(scored, k, id = "doc_id", score = "maxsim")
  }

  /** PLAID-style pruned MaxSim (Santhanam et al., "PLAID: An Efficient
    * Engine for Late Interaction Retrieval", CIKM 2022): cluster the
    * corpus TOKEN sub-vectors into `nCells` centroids, index each doc
    * by its sub-vectors' home cells, and score a (query, doc) pair
    * only when SOME query sub-vector probes a cell holding SOME doc
    * sub-vector — then run the exact [[maxSim]] scorer on the
    * surviving candidates. With `nProbe = nCells` every pair survives
    * and the output is row-for-row the exact operator (spec-pinned);
    * partial probe trades recall for a candidate set ∝ cell overlap,
    * the 100 TB posture (the flat scan never touches docs whose every
    * token lives outside the probed cells).
    */
  def maxSimPruned(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      nSub: Int = 4, nCells: Int = 16, nProbe: Int = 4,
      idCol: String = "vec_id"): DataFrame = {
    val sub = dim / nSub
    val q = broadcast(subVectors(queries, idCol, "query_id", dim, nSub, "_qs"))
    val d = subVectors(corpus, idCol, "doc_id", dim, nSub, "_s")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // token-grain centroid training set: each corpus sub-vector is a
    // row (id disambiguated by slot), clustered in sub-vector space
    val tokens = corpus
      .select(col(idCol).cast("long").as("_id"),
        asDouble(col("embedding")).as("_v"))
      .select(explode(array((0 until nSub).map(j =>
        struct(lit(j.toLong).as("j"),
          slice(col("_v"), j * sub + 1, sub).as("s"))): _*)).as("t"),
        col("_id"))
      .select((col("_id") * nSub + col("t.j")).as("vec_id"),
        col("t.s").as("embedding"))
    val centroids = kmeansCentroids(tokens, nCells, iters = 2)
    val dCells = d.select(col("doc_id"), explode(array((0 until nSub).map(j =>
        col(s"_s$j")): _*)).as("uv"))
      .withColumn("cell", homeCell(centroids))
      .select("doc_id", "cell").distinct()
    val qCells = q.select(col("query_id"), explode(array((0 until nSub).map(i =>
        col(s"_qs$i")): _*)).as("uv"))
      .select(col("query_id"),
        explode(probeCells(centroids, math.min(nProbe, nCells))).as("cell"))
      .distinct()
    val cand = qCells.join(dCells, Seq("cell"))
      .select("query_id", "doc_id").distinct()
      .filter(col("query_id") =!= col("doc_id"))
    val scored = cand.join(q, Seq("query_id")).join(d, Seq("doc_id"))
      .select(col("query_id"), col("doc_id"),
        maxSimScore(nSub).as("maxsim"))
    // eager checkpoint so the sub-vector cache can be dropped without
    // the caller's later action recomputing the whole candidate pass
    val out = topK(scored, k, id = "doc_id", score = "maxsim").localCheckpoint(true)
    d.unpersist()
    out
  }

  /** Normalized sub-vector columns `{prefix}0..{prefix}{nSub-1}` —
    * the late-interaction "token embeddings" view of a flat vector.
    */
  private def subVectors(vecs: DataFrame, idCol: String, idAs: String,
      dim: Int, nSub: Int, prefix: String): DataFrame = {
    require(nSub >= 1 && dim % nSub == 0,
      s"dim $dim must divide into nSub=$nSub sub-vectors")
    val sub = dim / nSub
    val base = vecs.select(col(idCol).as(idAs),
      asDouble(col("embedding")).as("_v"))
    (0 until nSub).foldLeft(base) { (acc, j) =>
      normalized(acc, slice(col("_v"), j * sub + 1, sub), s"$prefix$j")
    }.drop("_v")
  }

  /** Σ_i max_j of grid-snapped sub-cosines over `_qs*`/`_s*` columns —
    * the whole nSub×nSub interaction folds in one codegen projection.
    */
  private def maxSimScore(nSub: Int): Column =
    (0 until nSub).map { i =>
      greatest((0 until nSub).map { j =>
        round(DotProduct.dot(col(s"_qs$i"), col(s"_s$j")) * 10000, 0)
          .cast("long")
      }: _*)
    }.reduce(_ + _)

  // ------------------------------------------------ the ANN pipeline

  /** Stage 1, flat scan: every (query, corpus) pair except self-pairs,
    * the query side broadcast (top-k query sets are small) and the
    * corpus scanned once as the streamed side.
    */
  private[operators] def allPairs(queries: DataFrame,
      corpus: DataFrame): DataFrame =
    broadcast(queries).join(corpus, col("query_id") =!= col("neighbor_id"))

  private[operators] def withoutSelf(pairs: DataFrame): DataFrame =
    pairs.filter(col("query_id") =!= col("neighbor_id"))

  /** Stage 2: each query's `max(rerank, k)` best candidates by a cheap
    * `score` (neighbor_id breaks ties), through [[GroupedTopK]] — map-
    * side heaps, so only the survivors shuffle. Output: (query_id,
    * neighbor_id, carry…).
    */
  private[operators] def shortlist(cands: DataFrame, score: Column,
      ascending: Boolean, rerank: Int, k: Int, carry: String*): DataFrame =
    GroupedTopK(cands.select(Seq(col("query_id"), col("neighbor_id")) ++
        carry.map(col) :+ score.as("_cheap"): _*),
      Seq("query_id"), Seq(("_cheap", ascending), ("neighbor_id", true)),
      math.max(rerank, k)).drop("_cheap")

  /** Stage 3, the one exact rerank: `sim` = one [[DotProduct]] of the
    * two unit vectors `qv`, `cv` — attached first from `unit` (id, uv)
    * when the pairs do not carry them.
    */
  private[operators] def exactRerank(pairs: DataFrame,
      unit: Option[DataFrame] = None): DataFrame =
    unit.fold(pairs)(u => pairs
        .join(u.select(col("id").as("query_id"), col("uv").as("qv")),
          Seq("query_id"))
        .join(u.select(col("id").as("neighbor_id"), col("uv").as("cv")),
          Seq("neighbor_id")))
      .withColumn("sim", DotProduct.dot(col("qv"), col("cv")))

  /** Stage 4: each query's top `k` by `score` desc, `id` asc, through
    * [[GroupedTopK]]; `rank` is numbered over those ≤ k rows on the raw
    * score, which is then rounded to 4 decimals (a no-op on MaxSim's
    * integer score). Output: (query_id, rank, id, score).
    */
  private[operators] def topK(scored: DataFrame, k: Int,
      id: String = "neighbor_id", score: String = "sim"): DataFrame =
    GroupedTopK(scored.select("query_id", id, score), Seq("query_id"),
        Seq((score, false), (id, true)), k)
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col(score).desc, col(id))).cast("long"))
      .select(col("query_id"), col("rank"), col(id), round(col(score), 4).as(score))
}
