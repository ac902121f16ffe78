package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.expressions.{CentroidOps, DotProduct}

/** Product quantization for ANN search (Jégou et al. 2011, "Product
  * Quantization for Nearest Neighbor Search", IEEE TPAMI — public
  * algorithm). The third leg of the ANN family beside sign-LSH
  * ([[Similarity.knnLsh]]) and IVF ([[Similarity.knnIvf]]), attacking a
  * different axis: MEMORY. A 64-dim float vector is 256 bytes; its PQ
  * code is `m` small ints (8 bytes at m=8) — a 32× compression that
  * decides whether a 100 TB corpus' index fits in cluster RAM at all.
  *
  * How it works:
  *  - the (unit-normalized) vector space is split into `m` orthogonal
  *    subspaces of dim/m dims each;
  *  - per subspace, a `ksub`-centroid plain (Euclidean) k-means
  *    codebook is trained — all `m` subspaces train in the SAME Lloyd
  *    pass;
  *  - each corpus vector is encoded as its per-subspace nearest
  *    centroid ids;
  *  - a query builds its lookup table LUT[s][c] = <q_s, codebook_s,c>
  *    once (an expression over the tiny filtered query side), and each
  *    candidate's approximate cosine is Σ_s LUT[s][code_s] — `m` array
  *    lookups + adds per pair instead of `dim` multiplies (asymmetric
  *    distance computation, ADC).
  *
  * Codebook-as-a-literal-ARGUMENT, not code: encoding is one
  * [[graft.functions.expressions.PqEncode]] call per vector — a
  * codegen'd data-driven loop whose bytecode size is constant in
  * m × ksub. Two earlier shapes both failed: inlining all m × ksub
  * centroids as an unrolled literal expression tripped janino's
  * hugeMethodLimit and fell back to interpreted eval (~25× slower,
  * 26.9 s for e08 at sf0.1); the broadcast-join + per-(id, subspace)
  * `max(struct)` argmax fixed that (~1 s) but exploded the corpus m×
  * and shuffled every row through the argmax aggregation — per encode
  * AND per Lloyd iteration, the dominant data motion at 100 TB. The
  * expression form keeps assignment a pure projection: no explosion,
  * no join, no Exchange.
  *
  * Scale shape: scoring still touches every corpus CODE per query
  * (that is PQ's contract — compressed exhaustive scan); the 100 TB
  * deployment composes it with IVF cells (IVF-PQ: probe nProbe cells,
  * ADC-score only those codes) exactly as [[Similarity.knnIvf]]
  * buckets the full-precision scan. The optional `rerank` stage
  * shortlists the top ADC candidates and re-scores them with the exact
  * rerank every ANN operator shares ([[Similarity]]'s pipeline), so
  * the final ranking error is recall-only — pinned in OperatorSpec
  * against exact kNN.
  */
object Pq {

  /** codebooks(s)(c) = centroid `c` of subspace `s` (length dim/m). */
  type Codebooks = Array[Array[Array[Double]]]

  private def subdim(dim: Int, m: Int): Int = {
    require(dim % m == 0, s"dim $dim not divisible by m $m subspaces")
    dim / m
  }

  /** The m codebooks as ONE literal array<array<array<double>>> column
    * — the argument of [[CentroidOps.pqEncode]], whose generated loop
    * is constant bytecode size regardless of m × ksub (vs the unrolled
    * literal expression that blew hugeMethodLimit, and vs the broadcast
    * join + argmax shuffle this file used before — see the
    * [[CentroidOps]] scaladoc for the shape comparison).
    */
  private def booksLit(books: Codebooks): Column =
    typedlit[Seq[Seq[Seq[Double]]]](books.map(_.map(_.toSeq).toSeq).toSeq)

  /** biases[s][c] = |books(s)(c)|²/2: argmin ||x_s − c||² = argmax
    * (<x_s,c> − bias).
    */
  private def biasesLit(books: Codebooks): Column =
    typedlit[Seq[Seq[Double]]](
      books.map(_.map(c => c.map(x => x * x).sum / 2).toSeq).toSeq)

  /** Deterministic seeds: the first `ksub` ids' subvectors. */
  private def seedCodebooks(unit: DataFrame, m: Int, ksub: Int,
      dim: Int): Codebooks = {
    val sd = subdim(dim, m)
    val rows = unit.orderBy("id").limit(ksub).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("uv").toArray)
    Array.tabulate(m, rows.length)((s, c) => rows(c).slice(s * sd, (s + 1) * sd))
  }

  /** Train all `m` codebooks in one shared Lloyd loop: per iteration,
    * ONE job assigns every (vector, subspace) and aggregates
    * per-(subspace, cell, dim) means — m × ksub × dim/m (= dim × ksub)
    * doubles reach the driver, never vectors. Empty cells keep their
    * previous centroid. Train on a hash sample at scale (codebooks need
    * the geometry, not the corpus — same argument as
    * [[Similarity.semanticDedup]]'s `trainFraction`).
    */
  def trainCodebooks(vecs: DataFrame, m: Int, ksub: Int, dim: Int,
      iters: Int, idCol: String = "vec_id"): Codebooks = {
    val unit = Similarity.unitVectors(vecs, idCol, "id", "uv")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val books = trainCodebooksUnit(unit, m, ksub, dim, iters)
    unit.unpersist()
    books
  }

  /** Lloyd loop over an arbitrary (id, uv) frame — NOT necessarily
    * unit-normalized (IVF-PQ trains on residuals). Caller persists.
    */
  private def trainCodebooksUnit(unit: DataFrame, m: Int, ksub: Int,
      dim: Int, iters: Int): Codebooks = {
    val sd = subdim(dim, m)
    var books = seedCodebooks(unit, m, ksub, dim)
    for (_ <- 1 to iters) {
      // winner cells are a pure projection (one PqEncode per vector);
      // the only shuffle is the tiny (s, cell, d) mean aggregation —
      // map-side partials reduce it to m × ksub × sd doubles per task
      val sums = unit
        .select(col("uv"), posexplode(CentroidOps.pqEncode(col("uv"),
          booksLit(books), biasesLit(books))).as(Seq("s", "cell")))
        .select(col("s"), col("cell"),
          posexplode(slice(col("uv"), col("s") * lit(sd) + lit(1),
            lit(sd))).as(Seq("d", "x")))
        .groupBy("s", "cell", "d")
        .agg(avg("x").as("mean"))
        .collect()
      val next = books.map(_.map(_.clone()))
      sums.foreach { r =>
        next(r.getAs[Int]("s"))(r.getAs[Int]("cell"))(r.getAs[Int]("d")) =
          r.getAs[Double]("mean")
      }
      books = next
    }
    books
  }

  /** Encode every vector to its PQ code: (id, codes array<int>), codes
    * ordered by subspace. At rest the codes table is the compressed
    * index (m small ints per vector).
    */
  def encode(vecs: DataFrame, codebooks: Codebooks, dim: Int,
      idCol: String = "vec_id"): DataFrame =
    encodeUnit(Similarity.unitVectors(vecs, idCol, "id", "uv"), codebooks, dim)

  private def encodeUnit(unit: DataFrame, codebooks: Codebooks,
      dim: Int): DataFrame = {
    // a pure projection: one codegen'd PqEncode per vector, codes in
    // subspace order by construction — no explode, no join, no shuffle
    unit.select(col("id"), CentroidOps.pqEncode(col("uv"),
      booksLit(codebooks), biasesLit(codebooks)).as("codes"))
  }

  /** ANN top-k by ADC over PQ codes, with exact re-ranking of the top
    * `rerank` ADC candidates per query (rerank >= k; rerank == 0 skips
    * re-ranking and reports the ADC score). Output shape matches
    * [[Similarity.knnExact]]: (query_id, rank, neighbor_id, sim).
    */
  def knnPq(vecs: DataFrame, k: Int, codebooks: Codebooks, dim: Int,
      queryFilter: Column, idCol: String = "vec_id",
      rerank: Int = 0): DataFrame = {
    val unit = Similarity.unitVectors(vecs, idCol, "id", "uv")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scored = Similarity.allPairs(unit.filter(queryFilter)
        .select(col("id").as("query_id"), lut(codebooks, dim).as("lut")),
      encodeUnit(unit, codebooks, dim).withColumnRenamed("id", "neighbor_id"))
      .withColumn("adc", adc(codebooks.length))
    finishTopK(scored, unit, k, rerank)
  }

  /** LUT[s][c] = <q_s, codebook_s,c> of the unit vector `uv` — an
    * inline-literal expression is fine HERE: it runs over the filtered
    * query side only (small by contract), never the corpus.
    */
  private def lut(books: Codebooks, dim: Int): Column = {
    val sd = subdim(dim, books.length)
    array(books.indices.map { s =>
      val sub = slice(col("uv"), s * sd + 1, sd)
      array(books(s).map(c => DotProduct.dot(sub, typedlit(c.toSeq))): _*)
    }: _*)
  }

  /** ADC score Σ_s LUT[s][code_s] of a (lut, codes) row. */
  private def adc(m: Int): Column = (0 until m)
    .map(s => element_at(element_at(col("lut"), s + 1),
      element_at(col("codes"), s + 1) + 1))
    .reduce(_ + _)

  /** Shared tail: the ADC score shortlists the candidates for the
    * exact rerank of [[Similarity]]'s ANN pipeline — or, with `rerank`
    * <= 0, is itself the reported sim — then the shared top-k in
    * [[Similarity.knnExact]]'s output shape.
    */
  private def finishTopK(scored: DataFrame, unit: DataFrame, k: Int,
      rerank: Int): DataFrame =
    Similarity.topK(
      if (rerank <= 0) scored.withColumn("sim", col("adc"))
      else Similarity.exactRerank(Similarity.shortlist(scored, col("adc"),
        ascending = false, rerank, k), Some(unit)),
      k)

  /** IVF-PQ (Jégou et al. 2011 §V): the coarse IVF quantizer restricts
    * which vectors are scored (probe `nProbe` of `nCells` cells) and PQ
    * compresses HOW they are scored — together the standard
    * billion-vector index shape (FAISS `IVFx,PQy` — public
    * architecture). Codebooks are trained on RESIDUALS (x − coarse
    * centroid), which concentrates the quantizer's dynamic range on
    * within-cell variation; for dot-product scoring the decomposition
    * is exact: <q, c + r> = <q, c> (computed once per probed cell) +
    * <q, r> (ADC over the residual codebooks).
    *
    * Scale shape: the corpus index at rest is (cell, m-int code) per
    * vector; a query touches nProbe/nCells of the codes (vs ALL of
    * them in [[knnPq]]) and the probe join shuffles only the broadcast
    * query×probe rows. Output shape matches [[Similarity.knnExact]].
    */
  def knnIvfPq(vecs: DataFrame, k: Int, nCells: Int, nProbe: Int,
      m: Int, ksub: Int, dim: Int, queryFilter: Column,
      idCol: String = "vec_id", iters: Int = 3,
      rerank: Int = 0,
      coarseCentroids: Option[Array[Array[Double]]] = None,
      codebooks: Option[Codebooks] = None): DataFrame = {
    val unit = Similarity.unitVectors(vecs, idCol, "id", "uv")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // coarse quantizer: spherical k-means cells (cosine geometry),
    // trained on the SAME persisted unit frame (no second
    // normalization/cache pass); a deployment trains once and passes
    // `coarseCentroids`/`codebooks` in.
    val coarse = coarseCentroids.getOrElse(
      Similarity.kmeansCentroidsUnit(unit, nCells, iters))
    val assigned = assignedRows(unit, coarse)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val books = codebooks.getOrElse(trainCodebooksUnit(
      assigned.select(col("id"), col("resid").as("uv")), m, ksub, dim, iters))
    // index rows stay a pure projection over `assigned` — the earlier
    // form re-joined the encode output back on id for no reason
    val codes = assigned.select(col("id").as("neighbor_id"), col("cell"),
      CentroidOps.pqEncode(col("resid"),
        booksLit(books), biasesLit(books)).as("codes"))
    probeScoreIvf(codes, unit.filter(queryFilter), unit, coarse, books,
      dim, k, nProbe, rerank)
  }

  /** (id, cell, codes) IVF-PQ index rows for FIXED coarse centroids
    * and codebooks — the at-rest index of [[knnIvfPq]], as ONE pure
    * projection (normalize → nearest cell → residual → PQ code, all
    * codegen expressions: no join, no shuffle, no state). Stateless
    * means it runs unchanged on a STREAMING frame —
    * `streaming.VectorIndex` maintains the index table from a vector
    * stream with exactly this projection, one atomic snapshot per
    * micro-batch.
    */
  def indexRows(vecs: DataFrame, coarse: Array[Array[Double]],
      books: Codebooks, idCol: String = "vec_id"): DataFrame = {
    assignedRows(Similarity.unitVectors(vecs, idCol, "id", "uv"), coarse)
      .select(col("id"), col("cell"),
        CentroidOps.pqEncode(col("resid"),
          booksLit(books), biasesLit(books)).as("codes"))
  }

  /** Residual codebooks for FIXED coarse centroids — the offline
    * training step whose output feeds [[indexRows]]/[[searchIndex]]/
    * [[knnIvfPq]]. IVF-PQ codebooks MUST be trained on the residuals
    * x − coarse[cell] (the distribution they quantize — small,
    * non-unit, centered near 0), not on the raw vectors; training on
    * the corpus itself mis-covers residual space and silently costs
    * recall. Same Lloyd loop as [[trainCodebooks]], over the residual
    * frame.
    */
  def trainResidualCodebooks(vecs: DataFrame,
      coarse: Array[Array[Double]], m: Int, ksub: Int, dim: Int,
      iters: Int = 3, idCol: String = "vec_id"): Codebooks = {
    val assigned =
      assignedRows(Similarity.unitVectors(vecs, idCol, "id", "uv"), coarse)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val books = trainCodebooksUnit(
      assigned.select(col("id"), col("resid").as("uv")), m, ksub, dim, iters)
    assigned.unpersist()
    books
  }

  /** Index-health monitor: per-cell vector count and mean squared PQ
    * reconstruction error Σ_s ||resid_s − books[s][code_s]||² — the
    * "retrain the codebooks" signal for a long-lived index
    * (`streaming.VectorIndex` keeps appending with FIXED books; as the
    * data distribution drifts, reconstruction error grows and recall
    * decays silently — this makes it a monitored number). Everything
    * up to the per-cell aggregation is one codegen projection; the
    * only shuffle carries nCells rows.
    */
  def quantizationError(vecs: DataFrame, coarse: Array[Array[Double]],
      books: Codebooks, idCol: String = "vec_id"): DataFrame = {
    assignedRows(Similarity.unitVectors(vecs, idCol, "id", "uv"), coarse)
      .select(col("cell"),
        CentroidOps.pqError(col("resid"),
          CentroidOps.pqEncode(col("resid"), booksLit(books), biasesLit(books)),
          booksLit(books)).as("_e"))
      .groupBy("cell")
      // bad_rows: vectors whose geometry mismatched the codebooks
      // (null error) — surfaced as their own count so a corrupt cell
      // cannot read healthy off the mean of its few clean rows
      .agg(count(lit(1)).as("n"),
        (count(lit(1)) - count(col("_e"))).as("bad_rows"),
        avg("_e").as("mse"))
  }

  /** (id, cell, resid) per unit vector — home cell + residual as pure
    * projections (argmax-dot and subtraction inside one codegen stage;
    * ties to the larger cell id, matching the max(struct) aggregation
    * this replaced). The ONE definition of IVF assignment geometry:
    * [[knnIvfPq]], [[indexRows]], and [[trainResidualCodebooks]] all
    * go through it, so index build, in-query encode, and training can
    * never diverge.
    */
  private def assignedRows(unit: DataFrame,
      coarse: Array[Array[Double]]): DataFrame = {
    val coarseLit = Similarity.centroidsLit(coarse)
    val zeroBias = typedlit[Seq[Double]](Seq.fill(coarse.length)(0.0))
    unit
      .withColumn("cell",
        CentroidOps.nearestCell(col("uv"), coarseLit, zeroBias))
      .select(col("id"), col("cell"),
        CentroidOps.residual(col("uv"), coarseLit, col("cell")).as("resid"))
  }

  /** Serve top-k from a MATERIALIZED IVF-PQ index — the (id, cell,
    * codes) table [[indexRows]] produces and `streaming.VectorIndex`
    * maintains — instead of re-encoding the corpus per query batch.
    * `vecs` is the full-precision vector store: it supplies the query
    * vectors (via `queryFilter`) and the exact-rerank dots; the index
    * side is only ever codes. Output and semantics match [[knnIvfPq]]
    * run with the same fixed centroids/codebooks.
    */
  def searchIndex(index: DataFrame, vecs: DataFrame, k: Int, nProbe: Int,
      coarse: Array[Array[Double]], books: Codebooks, dim: Int,
      queryFilter: Column, idCol: String = "vec_id",
      rerank: Int = 0): DataFrame = {
    val unit = Similarity.unitVectors(vecs, idCol, "id", "uv")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val codes = index.select(col("id").as("neighbor_id"), col("cell"),
      col("codes"))
    probeScoreIvf(codes, unit.filter(queryFilter), unit, coarse, books,
      dim, k, nProbe, rerank)
  }

  /** Serve top-k from the CATALOG-resident index table, reading ONLY
    * the files of the cells this query batch probes: the batch's
    * distinct probed cells (≤ nCells ints on the driver) resolve in one
    * [[graft.catalog.SnapshotCatalog.readIn]] of one snapshot, whose
    * manifest partition-values prune the `identity(cell)`-partitioned
    * index files before Spark lists a single footer. This is the
    * missing-pruning gap the round-5 ADVICE flagged on
    * `streaming.VectorIndex`: [[searchIndex]] scans whatever index
    * frame it is handed (row-group skipping at best); this overload
    * makes a query batch's I/O proportional to nProbe/nCells of the
    * index, which is what "serve from a 100 TB index" requires.
    * Results equal [[searchIndex]] over the full table read
    * (VectorIndexSpec pins the equivalence).
    */
  def searchIndexPruned(catalog: graft.catalog.SnapshotCatalog, ns: String,
      table: String, vecs: DataFrame, k: Int, nProbe: Int,
      coarse: Array[Array[Double]], books: Codebooks, dim: Int,
      queryFilter: Column, idCol: String = "vec_id",
      rerank: Int = 0): DataFrame = {
    val index = Similarity.probedIndex(catalog, ns, table,
      Similarity.unitVectors(vecs, idCol, "id", "uv").filter(queryFilter),
      coarse, nProbe)
    searchIndex(index, vecs, k, nProbe, coarse, books, dim,
      queryFilter, idCol, rerank)
  }

  /** Query-side probe + ADC scoring + rerank shared by [[knnIvfPq]]
    * (fresh index) and [[searchIndex]] (materialized index): each
    * query broadcasts its top-`nProbe` cells (the IVF probe every
    * operator shares, [[Similarity.probe]]) and LUT, the probe join
    * touches only those cells' codes, and `<q, c + r>` decomposes as
    * cscore (the dot with the probed centroid) + residual ADC.
    */
  private def probeScoreIvf(codes: DataFrame, unitQueries: DataFrame,
      unitRerank: DataFrame, coarse: Array[Array[Double]],
      books: Codebooks, dim: Int, k: Int, nProbe: Int,
      rerank: Int): DataFrame = {
    val qprobe = broadcast(Similarity.probe(unitQueries, coarse, nProbe)(
      col("id").as("query_id"), DotProduct.dot(col("uv"), element_at(
        Similarity.centroidsLit(coarse), col("cell") + 1)).as("cscore"),
      lut(books, dim).as("lut")))
    val scored = Similarity.withoutSelf(qprobe.join(codes, Seq("cell")))
      .withColumn("adc", col("cscore") + adc(books.length))
    finishTopK(scored, unitRerank, k, rerank)
  }
}
