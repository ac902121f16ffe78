package graft

import org.apache.spark.sql.functions._

import graft.functions.{TextFns, VectorFns}
import graft.operators.{Dedup, Multimodal, Similarity}

/** One row of the vector-expression reference test: a vector, a second
  * vector, the matrix arguments and the int arguments, any of them null.
  */
final case class VectorCase(i: Long, v: Seq[java.lang.Double], b: Seq[java.lang.Double],
    cents: Seq[Seq[java.lang.Double]], biases: Seq[java.lang.Double],
    books: Seq[Seq[Seq[java.lang.Double]]], bbias: Seq[Seq[java.lang.Double]],
    planes: Seq[Seq[java.lang.Double]], tables: Seq[Seq[Seq[java.lang.Double]]],
    rots: Seq[Seq[Seq[java.lang.Double]]], codes: Seq[Integer], cell: Integer,
    np: Integer)

class OperatorSpec extends SparkTestBase {

  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely different text with other words entirely"),
    (4L, "the quick brown fox jumps over the lazy dog") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup groups identical content") {
    val out = Dedup.exact(docs).collect()
    assert(out.length == 3)
    val dupGroup = out.find(_.getAs[Long]("n_copies") == 2L).get
    assert(dupGroup.getAs[Long]("keep_id") == 1L)
  }

  test("ngram Jaccard finds near and exact dup pairs, not unrelated") {
    val pairs = Dedup.ngramJaccard(docs, n = 3, threshold = 0.5)
      .orderBy("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L), (1L, 4L), (2L, 4L)))
    val exact = pairs.find(p => p._1 == 1L && p._2 == 4L).get
    assert(exact._3 == 1.0)
  }

  test("TextClassifier distills the stop-ratio gate and learns the stopword buckets") {
    import graft.operators.TextClassifier
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val stopRatio = TextFns.vocabHits(col("text"),
      TextFns.langProfiles.head._2).cast("double") /
      greatest(size(TextFns.tokens(col("text"))), lit(1)).cast("double")
    val label = (stopRatio >= 0.06).cast("double")
    val (w, b) = TextClassifier.trainLogReg(d, label, nBuckets = 1024,
      iters = 24, step = 2.0)
    val acc = TextClassifier.score(d, w, b, 1024)
      .select(avg(((col("prob") >= 0.5).cast("double") === label)
        .cast("double")))
      .head.getDouble(0)
    // measured 0.936 on sf0.01 / 0.872 on sf0.001 at (24, 2.0) — see
    // tools.LrTune sweep
    assert(acc >= 0.85, s"distilled accuracy $acc")
    // learned structure: the profile stopwords that actually occur in
    // the corpus (the synthetic vocab only contains 'the' and 'a')
    // must be positively weighted AND among the top-weighted buckets
    val corpusVocab = d
      .select(explode(TextFns.tokens(col("text"))).as("t"))
      .distinct().collect().map(_.getString(0)).toSet
    val present = TextFns.langProfiles.head._2.filter(corpusVocab)
    assert(present.nonEmpty)
    val stopBuckets = present.map { t =>
      spark.range(1).select(pmod(xxhash64(lit(t)), lit(1024))).head.getLong(0).toInt
    }.toSet
    val top = w.zipWithIndex.sortBy(-_._1).take(7)
    assert(stopBuckets.forall(bk => w(bk) > 0), s"stop weights not positive")
    assert(stopBuckets.subsetOf(top.map(_._2).toSet),
      s"top buckets ${top.map(_._2).toSet} missing stopwords $stopBuckets")
  }

  test("KMV sketch: partition-independent, union-closed, set-op error bounds") {
    import graft.functions.expressions.Kmv
    val k = 256
    // partition independence: same sketch from 1 and 13 partitions
    val a = spark.range(0, 20000).select(col("id"))
    val sk1 = a.coalesce(1).agg(Kmv.sketch(col("id"), k)).head.getSeq[Long](0)
    val sk13 = a.repartition(13).agg(Kmv.sketch(col("id"), k)).head.getSeq[Long](0)
    assert(sk1 == sk13)
    // distinct estimate within ~3 sigma (sigma = 1/sqrt(k-2) ~ 6.3%)
    val est = a.agg(Kmv.estimate(Kmv.sketch(col("id"), k), k)).head.getDouble(0)
    assert(math.abs(est - 20000) / 20000.0 < 0.20, s"estimate $est")
    // union closure: union of part sketches == sketch of concatenation
    val b = spark.range(10000, 30000).select(col("id"))
    val skA = a.agg(Kmv.sketch(col("id"), k).as("s"))
    val skB = b.agg(Kmv.sketch(col("id"), k).as("s"))
    val viaUnion = skA.crossJoin(skB.withColumnRenamed("s", "s2"))
      .select(Kmv.unionSketch(col("s"), col("s2"), k)).head.getSeq[Long](0)
    val whole = a.union(b).agg(Kmv.sketch(col("id"), k)).head.getSeq[Long](0)
    assert(viaUnion == whole)
    // intersection |[0,20000) ∩ [10000,30000)| = 10000 within ~3 sigma
    // of the theta estimator (J=1/3: sigma ≈ 1/sqrt(k·J) ~ 11%)
    val inter = skA.crossJoin(skB.withColumnRenamed("s", "s2"))
      .select(Kmv.intersectEstimate(col("s"), col("s2"), k),
        Kmv.jaccardEstimate(col("s"), col("s2"), k))
      .head
    assert(math.abs(inter.getDouble(0) - 10000) / 10000.0 < 0.33,
      s"intersect ${inter.getDouble(0)}")
    assert(math.abs(inter.getDouble(1) - 1.0 / 3) < 0.12,
      s"jaccard ${inter.getDouble(1)}")
  }

  test("KMV buffer: merge is associative/commutative and equals the one-pass sketch") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.functions.expressions.KmvSketch
    def sk(k: Int, items: Seq[Long]): Seq[Long] = {
      val b = new KmvSketch.Buf(k)
      items.foreach(v => b.add(KmvSketch.mix(v)))
      b.toSortedArray.toSeq
    }
    def merged(k: Int, parts: Seq[Seq[Long]]): Seq[Long] =
      parts.map { p =>
        val b = new KmvSketch.Buf(k)
        p.foreach(v => b.add(KmvSketch.mix(v)))
        b
      }.reduce { (a, b) => a.mergeWith(b); a }.toSortedArray.toSeq
    val gen = for {
      k <- Gen.choose(2, 64)
      items <- Gen.listOfN(400, Gen.choose(0L, 300L))
      cut <- Gen.choose(0, 400)
    } yield (k, items, cut)
    val prop = Prop.forAll(gen) { case (k, items, cut) =>
      val (a, b) = items.splitAt(cut)
      val whole = sk(k, items)
      merged(k, Seq(a, b)) == whole &&        // split-invariance
        merged(k, Seq(b, a)) == whole &&      // commutativity
        merged(k, Seq(a, b, b)) == whole &&   // idempotent re-merge
        whole.size <= k
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(r.passed, r.status.toString)
  }

  test("HLL sketches: union of part sketches equals the whole-data sketch") {
    val ids = spark.range(0, 20000)
      .select((col("id") % 5000).as("v"), (col("id") % 4).as("part"))
    val whole = ids
      .agg(hll_sketch_estimate(hll_sketch_agg(col("v"), 12)).as("est"))
      .head.getLong(0)
    val merged = ids.groupBy("part")
      .agg(hll_sketch_agg(col("v"), 12).as("sk"))
      .agg(hll_sketch_estimate(
        hll_union_agg(col("sk"), allowDifferentLgConfigK = false)).as("est"))
      .head.getLong(0)
    // The mergeability contract q35 is built on: rolling up part
    // sketches is EXACTLY the whole-data sketch, not an approximation
    // of it — and both land within HLL error of the true 5000.
    assert(merged == whole)
    assert(math.abs(whole - 5000.0) / 5000.0 < 0.05)
  }

  test("duplicated-span dedup merges windows and removes non-canonical spans") {
    val out = Dedup.duplicatedSpans(docs, k = 5).orderBy("doc_id").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("dup_windows"), r.getAs[Long]("dup_spans"),
          r.getAs[Long]("dup_tokens"), r.getAs[Long]("kept_tokens"),
          r.getAs[String]("clean_fp")))).toMap
    def md5Of(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // docs 1/2/4 share the 8-token prefix; 4 is an exact copy of 1.
    // doc 1 is canonical everywhere -> nothing removed.
    assert(out(1L) == ((5L, 1L, 9L, 9L,
      md5Of("the quick brown fox jumps over the lazy dog"))))
    // doc 2: windows 1-4 duplicated, merged to [1,8]; only "cat" survives.
    assert(out(2L) == ((4L, 1L, 8L, 1L, md5Of("cat"))))
    // doc 3: untouched.
    assert(out(3L)._4 == 7L && out(3L)._1 == 0L)
    // doc 4: exact dup, fully emptied.
    assert(out(4L) == ((5L, 1L, 9L, 0L, md5Of(""))))
  }

  test("decontaminate flags corpus docs overlapping the benchmark set") {
    // benchmark = doc 4 (identical to doc 1); corpus = docs 1-3
    val out = Dedup.decontaminate(
        corpus = docs.filter(col("doc_id") < 4),
        benchmark = docs.filter(col("doc_id") === 4),
        n = 3, minContainment = 0.5)
      .orderBy("doc_id").collect()
    // doc 3 shares no shingles -> absent entirely
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val d1 = out(0); val d2 = out(1)
    assert(d1.getAs[Double]("containment") == 1.0)       // exact dup
    assert(d1.getAs[Long]("contaminated") == 1L)
    assert(d2.getAs[Double]("containment") > 0.5 &&
      d2.getAs[Double]("containment") < 1.0)             // near dup
    assert(d2.getAs[Long]("contaminated") == 1L)
  }

  test("multimodal resize: step-1 is identity; large steps keep first byte") {
    import graft.operators.Multimodal
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "image/fake", "abcdefgh".getBytes),
      Multimodal.MediaRow(2L, "image/fake", "xy".getBytes)
    ).toDS()
    val id = Multimodal.resize(media, step = 1).collect()
      .map(r => r.doc_id -> r).toMap
    assert(id(1L).resized_bytes == 8L && id(1L).orig_bytes == 8L)
    val fullMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest("abcdefgh".getBytes).map("%02x".format(_)).mkString
    assert(id(1L).resized_md5 == fullMd5)
    val big = Multimodal.resize(media, step = 100).collect()
      .map(r => r.doc_id -> r.resized_bytes).toMap
    assert(big == Map(1L -> 1L, 2L -> 1L)) // first byte survives any step
  }

  test("bloom decontamination equals the exact operator (no false negatives)") {
    val corpus = docs.filter(col("doc_id") < 4)
    val bench = docs.filter(col("doc_id") === 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(rows(Dedup.decontaminateBloom(corpus, bench, 3, 0.5)) ==
      rows(Dedup.decontaminate(corpus, bench, 3, 0.5)))
    // a tiny bloom (high FP rate) must STILL be exact — FPs only cost
    // extra rows into the verify join, never wrong output
    assert(rows(Dedup.decontaminateBloom(corpus, bench, 3, 0.5,
      numBits = 64, numHashes = 2)) ==
      rows(Dedup.decontaminate(corpus, bench, 3, 0.5)))
  }

  test("minhash LSH with exact verification equals the exact operator") {
    val exact = Dedup.ngramJaccard(docs, 3, 0.5).orderBy("a", "b").collect().toSeq
    val lsh = Dedup.minHashLsh(docs, 3, 0.5).orderBy("a", "b").collect().toSeq
    assert(lsh == exact)
  }

  test("incremental Jaccard dedups a batch against the corpus only") {
    // doc 4 is the "new batch": near/exact dup of corpus docs 1 and 2,
    // but the corpus-internal pair (1,2) must NOT appear
    val out = Dedup.ngramJaccardAgainst(
        newDocs = docs.filter(col("doc_id") === 4),
        corpus = docs.filter(col("doc_id") =!= 4),
        n = 3, threshold = 0.5)
      .orderBy("corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out.map(p => (p._1, p._2)) == Seq((4L, 1L), (4L, 2L)))
    assert(out.head._3 == 1.0) // exact dup of doc 1
  }

  test("semantic dedup groups planted duplicates and keeps singletons") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.01f, 0.0f, 0.0f)),
      (1L, Seq(0.99f, 0.0f, 0.01f, 0.0f)),
      (2L, Seq(1.0f, 0.0f, 0.0f, 0.01f)),
      (3L, Seq(0.0f, 1.0f, 0.01f, 0.0f)),
      (4L, Seq(0.01f, 0.99f, 0.0f, 0.0f)),
      (5L, Seq(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(vecs, threshold = 0.95, nCells = 2,
        centroids = Some(Array(Array(1.0, 0, 0, 0), Array(0, 1.0, 0, 0))))
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // {0,1,2} -> component 0, {3,4} -> component 3, 5 a kept singleton
    assert(out == Seq((0L, 0L, 1L), (1L, 0L, 0L), (2L, 0L, 0L),
      (3L, 3L, 1L), (4L, 3L, 0L), (5L, 5L, 1L)))
  }

  test("autoCells holds occupancy: pinned at base SFs, scales at the replica") {
    // every driver-checked SF (augmented corpus <= 4000 vectors) must
    // resolve to the oracle-pinned 8 cells — bit-identical e06 output —
    // and only the 10x replica may cross it
    assert(Similarity.autoCells(1000) == 8)  // sf0.001 / sf0.01 aug
    assert(Similarity.autoCells(4000) == 8)  // sf0.1 aug (exact boundary)
    assert(Similarity.autoCells(40000) == 80) // sf1 replica aug
    assert(Similarity.autoCells(10000000, maxCells = 4096) == 4096) // clamp
  }

  test("connected components: chains merge, keep flag on min id") {
    // 1-2, 2-3 chain (1-3 never paired) plus an isolated pair 7-9:
    // components must be {1,2,3}->1 and {7,9}->7.
    val pairs = Seq((2L, 3L), (1L, 2L), (7L, 9L)).toDF("a", "b")
    val out = Dedup.connectedComponents(pairs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 1L, 1L), (2L, 1L, 0L), (3L, 1L, 0L),
      (7L, 7L, 1L), (9L, 7L, 0L)))
  }

  test("connected components converge on a long chain within maxIter") {
    // a 12-vertex path is the worst case for min propagation (diameter
    // 11); labels must still reach the global min within the cap
    val pairs = (0L until 11L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Dedup.connectedComponents(pairs)
    assert(out.filter(col("component") === 0L).count() == 12L)
    assert(out.filter(col("keep_doc") === 1L).count() == 1L)
  }

  test("TopCells / CpBuckets loop expressions match the composed forms they replaced") {
    import graft.functions.expressions.{CentroidOps, DotProduct, SignBuckets}
    val rnd = new scala.util.Random(31L)
    val vecs = (1L to 300L).map(i => (i, Array.fill(16)(rnd.nextGaussian())))
      .toDF("id", "embedding")
      .select(col("id"), col("embedding").cast("array<double>").as("uv"))
    // TopCells vs slice(reverse(array_sort(struct(dot, cid))))
    val cents = Array.fill(12, 16)(rnd.nextGaussian())
    val centsLit = typedlit[Seq[Seq[Double]]](cents.map(_.toSeq).toSeq)
    val oldProbe = transform(
      slice(reverse(array_sort(array(cents.zipWithIndex.map { case (c, i) =>
        struct(DotProduct.dot(col("uv"), typedlit(c.toSeq)).as("s"),
          lit(i).as("cid"))
      }: _*))), 1, 5),
      x => x.getField("cid"))
    val probeDiff = vecs
      .select(col("id"), oldProbe.as("a"),
        CentroidOps.topCells(col("uv"), centsLit, lit(5)).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(probeDiff == 0L, s"TopCells diverged on $probeDiff vectors")
    // CpBuckets vs array_position(abs, array_max(abs)) per table
    val rots = (0 until 4).map { t =>
      val r = new scala.util.Random(101L + t)
      Array.fill(6, 16)(r.nextGaussian())
    }
    val oldCp = array(rots.map { proj =>
      val cs = array((0 until 6).map(j =>
        DotProduct.dot(col("uv"), typedlit(proj(j).toSeq))): _*)
      val absArr = transform(cs, x => abs(x))
      val idx = array_position(absArr, array_max(absArr)).cast("int")
      when(element_at(cs, idx) >= 0, idx).otherwise(-idx)
    }: _*)
    val rotsLit = typedlit[Seq[Seq[Seq[Double]]]](
      rots.map(_.map(_.toSeq).toSeq).toSeq)
    val cpDiff = vecs
      .select(col("id"), oldCp.as("a"),
        SignBuckets.cp(col("uv"), rotsLit).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(cpDiff == 0L, s"CpBuckets diverged on $cpDiff vectors")
  }

  test("star components: identical labels to delta propagation on a random graph") {
    val rnd = new scala.util.Random(11L)
    // random sparse graph: ~300 edges over 400 vertices — a mix of
    // small components, chains, and a few dense blobs
    val pairs = (1 to 300).map { _ =>
      val a = rnd.nextInt(400).toLong; val b = rnd.nextInt(400).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct.toDF("a", "b")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val delta = m(Dedup.connectedComponents(pairs))
    val star = m(Dedup.connectedComponentsStar(pairs))
    assert(star == delta, s"star/delta diverged on ${star.size}/${delta.size} nodes")
  }

  test("star components: self-pair-only vertices keep their singleton row") {
    // round-9 ADVICE: a vertex appearing ONLY as (x, x) must still own
    // an output row (x, x, keep=1) on BOTH paths — the star path used
    // to lose it to the self-pair filter
    val pairs = Seq((1L, 2L), (7L, 7L), (9L, 9L), (2L, 3L)).toDF("a", "b")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val star = m(Dedup.connectedComponentsStar(pairs))
    val delta = m(Dedup.connectedComponents(pairs))
    assert(star == delta, s"star/delta diverged: $star vs $delta")
    assert(star(7L) == ((7L, 1L)) && star(9L) == ((9L, 1L)),
      s"self-pair-only vertices mislabeled: $star")
  }

  test("star components: 10^4-length chain converges within 2*log2(n) rounds") {
    // the adversarial shape delta propagation cannot handle (it needs
    // DIAMETER rounds — 10^4 here); the SOCC'14 alternation's bound is
    // O(log^2 n) with ~log2(n) observed in practice. Acceptance bar:
    // rounds (large+small alternations) <= 2*log2(n) = 26.6; measured
    // 15 on this chain (~1.13*log2 n), i.e. 30 star operations.
    val n = 10000L
    val chain = spark.range(0, n - 1)
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    val (out, rounds) = Dedup.starComponents(chain, "a", "b", maxIter = 50)
    assert(rounds <= 2 * (math.log(n.toDouble) / math.log(2.0)),
      s"$rounds alternation rounds exceed 2*log2(n)=${2 * math.log(n.toDouble) / math.log(2.0)}")
    assert(out.filter(col("component") === 0L).count() == n)
    assert(out.filter(col("keep_doc") === 1L).count() == 1L)
  }

  test("connected components dispatch to star when the diameter exceeds maxIter") {
    // a 40-vertex path with maxIter=3: delta propagation cannot finish;
    // the dispatch must return complete, correct labels anyway
    val chain = (0L until 39L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Dedup.connectedComponents(chain, maxIter = 3)
    assert(out.filter(col("component") === 0L).count() == 40L)
    assert(out.filter(col("keep_doc") === 1L).count() == 1L)
  }

  test("simhash: identical docs at hamming 0; near-dups within 3") {
    val pairs = Dedup.simHashPairs(docs, maxHamming = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs((1L, 4L)) == 0L)
  }

  test("ShingleGen generator: positional n-grams via select and LATERAL VIEW") {
    import graft.functions.expressions.ShingleGen
    val df = Seq((1L, Seq("a", "b", "c", "d")), (2L, Seq("x")))
      .toDF("id", "toks")
    // generator in the SELECT list → Generate node, like explode
    val sel = df.selectExpr("id", s"${ShingleGen.FnName}(toks, 2)")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(sel == Seq((1L, 0, "a b"), (1L, 1, "b c"), (1L, 2, "c d")))
    // id=2 too short: zero rows, not an error

    df.createOrReplaceTempView("sg_t")
    val lv = spark.sql(
      s"""SELECT id, pos, shingle FROM sg_t
         |LATERAL VIEW ${ShingleGen.FnName}(toks, 3) g AS pos, shingle
         |""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(lv == Seq((1L, 0, "a b c"), (1L, 1, "b c d")))
    // positional generator emits every occurrence; the set-based
    // TextFns.shinglesFromTokens stays the Jaccard-side primitive
  }

  test("cosine math matches hand-computed values") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)), (3L, Seq(3.0f, 4.0f))
    ).toDF("vec_id", "embedding")
    val v = VectorFns.asDouble(col("embedding"))
    val out = df.select(VectorFns.dot(v, v).as("d"), VectorFns.norm(v).as("n"))
      .orderBy(col("d")).collect()
    assert(out.map(_.getDouble(1)).toSeq == Seq(1.0, 1.0, 5.0))
  }

  test("two DotProducts in one codegen stage compile (freshName locals)") {
    // CODEGEN_ONLY makes a janino compile failure throw instead of
    // silently falling back to interpreted eval — the r01 bench showed
    // 'Redefinition of local variable' when two dots shared a stage.
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      import graft.functions.expressions.DotProduct
      val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
      val row = df.select(
        DotProduct.dot(col("a"), col("b")).as("ab"),
        DotProduct.dot(col("a"), col("a")).as("aa"),
        DotProduct.dot(col("b"), col("b")).as("bb")).head()
      assert(row.getDouble(0) == 11.0 && row.getDouble(1) == 5.0 &&
        row.getDouble(2) == 25.0)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("BucketedSum compiles under CODEGEN_ONLY and matches the HOF fold") {
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      import graft.functions.expressions.BucketedSum
      val w = Seq(0.5, -1.0, 2.0, 0.25)
      val df = Seq(
        (1L, Seq(0, 2, 2)),          // 0.5 + 2 + 2
        (2L, Seq(3)),                // 0.25
        (3L, Seq[Int]()),            // empty → 0
        (4L, Seq(1, 7, -2))          // out-of-range contributes 0
      ).toDF("id", "bks")
      val got = df.select(col("id"),
          BucketedSum.bucketSum(col("bks"), typedlit(w)).as("m"),
          // the HOF restatement the expression replaced — same numbers
          aggregate(col("bks"), lit(0.0), (acc, bk) =>
            acc + when(bk >= 0 && bk < w.size,
              element_at(typedlit(w), bk + 1)).otherwise(0.0)).as("hof"))
        .orderBy("id").collect()
      assert(got.map(_.getDouble(1)).toSeq == Seq(4.5, 0.25, 0.0, -1.0))
      assert(got.forall(r => r.getDouble(1) == r.getDouble(2)))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("keepBestPerCluster elects the highest-quality member, ties to smaller id") {
    import graft.operators.Dedup
    // components: {1,2,3} (label 1) and {10,11,12} (label 10); doc 12
    // is MISSING from the quality frame
    val clusters = Seq((1L, 1L, 1L), (2L, 1L, 0L), (3L, 1L, 0L),
        (10L, 10L, 1L), (11L, 10L, 0L), (12L, 10L, 0L))
      .toDF("doc_id", "component", "keep_doc")
    val quality = Seq((1L, 0.2), (2L, 0.9), (3L, 0.9), (10L, 0.5), (11L, 0.5))
      .toDF("doc_id", "quality")
    val out = Dedup.keepBestPerCluster(clusters, quality)
      .orderBy("doc_id").collect()
    val got = out.map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    // cluster 1: quality tie 2 vs 3 at 0.9 -> smaller id 2 kept (not
    // min-id member 1, whose quality is lower); cluster 10: doc 12 has
    // no quality row but is STILL LISTED (keep_doc=0, ranked last) —
    // dropping it would let a duplicate survive downstream removal
    assert(got == Seq((1L, 1L, 0L), (2L, 1L, 1L), (3L, 1L, 0L),
      (10L, 10L, 1L), (11L, 10L, 0L), (12L, 10L, 0L)))
    assert(out.find(_.getLong(0) == 12L).get.isNullAt(2))
  }

  test("CentroidOps expressions compile under CODEGEN_ONLY with pinned semantics") {
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      import graft.functions.expressions.CentroidOps
      val cents2 = typedlit(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)))
      val zeros2 = typedlit(Seq(0.0, 0.0))
      val df = Seq(
        (1L, Seq(2.0, 1.0)),   // dot: (2, 1)   -> cell 0
        (2L, Seq(1.0, 3.0)),   // dot: (1, 3)   -> cell 1
        (3L, Seq(1.0, 1.0))    // dot tie (1,1) -> larger id wins: 1
      ).toDF("id", "v")
      val cells = df.select(col("id"),
          CentroidOps.nearestCell(col("v"), cents2, zeros2).as("c"))
        .orderBy("id").collect().map(_.getInt(1)).toSeq
      assert(cells == Seq(0, 1, 1))
      // Euclidean argmin via bias = |c|²/2: centroids (3,0) and (0,1);
      // vec (1.5, 1.2) is closer to (0,1) despite a larger dot with (3,0)
      val centsE = typedlit(Seq(Seq(3.0, 0.0), Seq(0.0, 1.0)))
      val biasE = typedlit(Seq(4.5, 0.5))
      val eu = Seq((1L, Seq(1.5, 1.2))).toDF("id", "v")
        .select(CentroidOps.nearestCell(col("v"), centsE, biasE))
        .head().getInt(0)
      assert(eu == 1)
      // pqEncode: dim 4 = 2 subspaces × 2; books chosen so doc picks
      // cell 1 in subspace 0 and cell 0 in subspace 1
      val books = Seq(
        Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),
        Seq(Seq(1.0, 1.0), Seq(-1.0, -1.0)))
      val biases = books.map(_.map(c => c.map(x => x * x).sum / 2))
      val codes = Seq((1L, Seq(0.2, 0.9, 0.5, 0.5))).toDF("id", "v")
        .select(CentroidOps.pqEncode(col("v"),
          typedlit(books), typedlit(biases)).as("codes"))
        .head().getAs[scala.collection.Seq[Int]]("codes")
      assert(codes == Seq(1, 0))
      // residual subtracts the assigned centroid; out-of-range -> null
      val res = Seq((1L, Seq(2.0, 1.0), 0), (2L, Seq(2.0, 1.0), 7))
        .toDF("id", "v", "cell")
        .select(col("id"),
          CentroidOps.residual(col("v"), cents2, col("cell")).as("r"))
        .orderBy("id").collect()
      assert(res(0).getAs[scala.collection.Seq[Double]]("r") == Seq(1.0, 1.0))
      assert(res(1).isNullAt(1))
      // an all-NaN score row still gets a VALID cell (0), never -1 —
      // the always-valid behavior of the argmax aggregations replaced
      val nan = Seq((1L, Seq(Double.NaN, Double.NaN))).toDF("id", "v")
        .select(CentroidOps.nearestCell(col("v"), cents2, zeros2))
        .head().getInt(0)
      assert(nan == 0)
      // a NaN-scoring centroid in slot 0 must NOT capture finite rows:
      // the finite score displaces the NaN incumbent
      val centsNaN = typedlit(Seq(Seq(Double.NaN, Double.NaN), Seq(1.0, 0.0)))
      val fin = Seq((1L, Seq(2.0, 1.0))).toDF("id", "v")
        .select(CentroidOps.nearestCell(col("v"), centsNaN, zeros2))
        .head().getInt(0)
      assert(fin == 1)
      // corrupt-length vector (3 elems vs the codebook's 2×2 geometry)
      // -> null codes, never silently shifted subspace boundaries
      val bad = Seq((1L, Seq(0.2, 0.9, 0.5))).toDF("id", "v")
        .select(CentroidOps.pqEncode(col("v"),
          typedlit(books), typedlit(biases)).as("codes"))
        .head()
      assert(bad.isNullAt(0))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("CentroidOps equal driver-side references on 300 randomized cases") {
    // All 11 vector expressions against plain-Scala references, on both
    // evaluation paths, with the matrices as columns (decoded per row)
    // and as literals (decoded once per task).
    import graft.functions.expressions.{CentroidOps, DotProduct, SignBits, SignBuckets, Sq8}
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    type V = Seq[java.lang.Double]
    val rnd = new scala.util.Random(7)
    // small value grid so exact score TIES actually occur and exercise
    // the larger-id tie-break; now and then a null, NaN or ±Inf element
    def value(): java.lang.Double = rnd.nextInt(40) match {
      case 0 => null
      case 1 => Double.NaN
      case 2 => Double.PositiveInfinity
      case 3 => Double.NegativeInfinity
      case r => r % 3 - 1.0
    }
    def vec(n: Int): V = Seq.fill(n)(value())
    // ragged: one row in five is a coordinate short or long
    def rows(k: Int, dim: Int): Seq[V] = Seq.fill(k)(
      vec(dim + (if (rnd.nextInt(5) == 0) rnd.nextInt(3) - 1 else 0)))
    def halfNorm(c: V): java.lang.Double =
      c.foldLeft(0.0)((s, x) => if (x == null) s else s + x * x) / 2
    val m = 2
    val random = (0 until 300).map { i =>
      val dim = 2 * (1 + rnd.nextInt(3)) // 2/4/6, divisible by m
      val k = rnd.nextInt(6) // 0: an empty matrix
      val books = Seq.fill(m)(rows(1 + rnd.nextInt(5), dim / m))
      VectorCase(i, vec(if (rnd.nextInt(10) == 0) dim + 1 else dim), vec(dim),
        rows(k, dim), vec(k), books, books.map(_.map(halfNorm)),
        rows(rnd.nextInt(9), dim),
        Seq.fill(1 + rnd.nextInt(3))(rows(rnd.nextInt(6), dim)),
        Seq.fill(1 + rnd.nextInt(3))(rows(rnd.nextInt(6), dim)),
        Seq.fill(m)(if (rnd.nextInt(10) == 0) null else Int.box(rnd.nextInt(7) - 1)),
        rnd.nextInt(k + 2) - 1, rnd.nextInt(k + 2))
    }
    val (nan, inf, one) = (Double.box(Double.NaN), Double.box(Double.PositiveInfinity), Double.box(1.0))
    val n0: java.lang.Double = null
    // a null element opposite a NaN and opposite an Inf is skipped
    val skips = Seq[(V, V)]((Seq(nan, one), Seq(n0, one)), (Seq(n0, one), Seq(inf, one)))
      .zipWithIndex.map { case ((v, w), j) =>
        VectorCase(302 + j, v, w, Seq(w), Seq(n0), Seq(Seq(Seq(w.head)), Seq(Seq(w.last))),
          Seq(Seq(n0)), Seq(w), Seq(Seq(w)), Seq(Seq(w, v)), Seq[Integer](0, 0), 0, 1)
      }
    val cases = random ++ Seq(
      random(0).copy(i = 300, v = null, b = null),
      VectorCase(301, random(1).v, null, null, null, null, null, null, null, null,
        null, null, null)) ++ skips
    // the literal matrices: a random case's; nulls, NaN, ±Inf, ragged
    // rows and the 64- and 32-plane limits; all empty
    val edge: Seq[V] = Seq(Seq(n0, one, 0.0), Seq(one, inf, -1.0), Seq(nan), Seq(), Seq(0.0, -1.0))
    val literals = Seq(random(5),
      VectorCase(-1, null, Seq(one, n0, inf), edge, Seq(n0, 0.5, nan),
        Seq(edge.take(2), edge.drop(2)), Seq(Seq(n0, 1.0), Seq(2.0)),
        Seq.tabulate(64)(p => edge(p % 5)),
        Seq(Seq.tabulate(32)(p => edge((p + 1) % 5)), edge.reverse),
        Seq(edge, edge.take(1)), null, null, null),
      VectorCase(-2, null, Seq(), Seq(), Seq(), Seq(), Seq(), Seq(), Seq(), Seq(),
        null, null, null))

    def dotAt(v: V, off: Int, len: Int, row: V): Double = {
      var s = 0.0
      for (i <- 0 until math.min(len, row.size) if v(off + i) != null && row(i) != null)
        s += v(off + i).doubleValue * row(i).doubleValue
      s
    }
    def dot(v: V, row: V): Double = dotAt(v, 0, v.size, row)
    def orZero(v: V, i: Int): Double =
      if (v != null && i < v.size && v(i) != null) v(i).doubleValue else 0.0
    def minusBias(s: Double, bs: V, c: Int): Double =
      if (bs != null && c < bs.size && bs(c) != null) s - bs(c) else s
    def argmax(scores: Seq[Double]): Int = scores.indices.foldLeft(-1) { (bc, c) =>
      if (bc < 0 || scores(c) >= scores(bc) || (scores(bc).isNaN && !scores(c).isNaN)) c
      else bc
    }
    def width(books: Seq[Seq[V]]): Int = books.head.headOption.map(_.size).getOrElse(0)
    def sq8(v: V): Array[Byte] = v.map(x =>
      if (x == null) 0.toByte
      else math.max(-127.0, math.min(127.0, math.rint(x * 127.0))).toByte).toArray
    /** null when an argument is null, as every expression here */
    def nn(args: Any*)(f: => Any): Any = if (args.contains(null)) null else f
    def expected(c: VectorCase, s: VectorCase): Seq[Any] = Seq(
      nn(c.v, s.b)(dot(c.v, s.b)),
      nn(c.v)(sq8(c.v)),
      nn(c.v, s.b)(sq8(c.v).zip(sq8(s.b)).map { case (x, y) => x.toLong * y }.sum),
      nn(c.v, s.cents, s.biases)(argmax(s.cents.indices.map(j =>
        minusBias(dot(c.v, s.cents(j)), s.biases, j)))),
      nn(c.v, s.cents, c.np) {
        val sc = s.cents.map(dot(c.v, _))
        s.cents.indices.sortWith { (a, b) =>
          val o = java.lang.Double.compare(sc(a), sc(b)); o > 0 || (o == 0 && a > b)
        }.take(c.np)
      },
      nn(c.v, s.books, s.bbias) {
        val sd = if (s.books.isEmpty) 0 else width(s.books)
        if (s.books.nonEmpty && c.v.size != s.books.size * sd) null
        else s.books.indices.map(j => argmax(s.books(j).indices.map(cc => minusBias(
          dotAt(c.v, j * sd, sd, s.books(j)(cc)), if (j < s.bbias.size) s.bbias(j) else null, cc))))
      },
      nn(c.v, c.codes, s.books) {
        val sd = if (s.books.isEmpty) 0 else width(s.books)
        if (s.books.nonEmpty && c.v.size != s.books.size * sd) null
        else {
          var err = 0.0
          for (j <- s.books.indices; i <- 0 until sd) {
            val code = if (j < c.codes.size && c.codes(j) != null) c.codes(j).intValue else -1
            val cent = if (code >= 0 && code < s.books(j).size) s.books(j)(code) else null
            val d = orZero(c.v, j * sd + i) - orZero(cent, i)
            err += d * d
          }
          err
        }
      },
      nn(c.v, s.cents, c.cell) {
        if (c.cell < 0 || c.cell >= s.cents.size) null
        else c.v.indices.map(i => orZero(c.v, i) - orZero(s.cents(c.cell), i))
      },
      nn(c.v, s.planes)(s.planes.indices.foldLeft(0L)((sig, p) =>
        if (dot(c.v, s.planes(p)) >= 0) sig | (1L << p) else sig)),
      nn(c.v, s.tables)(s.tables.map(t => t.indices.foldLeft(0)((b, p) =>
        if (dot(c.v, t(p)) >= 0) b | (1 << p) else b))),
      nn(c.v, s.rots)(s.rots.map { rot =>
        val sc = rot.map(dot(c.v, _))
        if (sc.isEmpty) 0
        else {
          val j = sc.indices.reduceLeft((best, j) =>
            if (java.lang.Double.compare(math.abs(sc(j)), math.abs(sc(best))) > 0) j else best)
          if (sc(j) >= 0) j + 1 else -(j + 1)
        }
      }))
    val names = Seq("dot", "sq8_encode", "sq8_dot", "nearest_cell", "top_cells",
      "pq_encode", "pq_error", "residual", "sign_bits", "sign_buckets", "cp_buckets")
    def outputs(a: String => Column): Seq[Column] = {
      val v = col("v")
      Seq(DotProduct.dot(v, a("b")), Sq8.encode(v), Sq8.dot(Sq8.encode(v), Sq8.encode(a("b"))),
        CentroidOps.nearestCell(v, a("cents"), a("biases")),
        CentroidOps.topCells(v, a("cents"), col("np")),
        CentroidOps.pqEncode(v, a("books"), a("bbias")),
        CentroidOps.pqError(v, col("codes"), a("books")),
        CentroidOps.residual(v, a("cents"), col("cell")),
        SignBits.of(v, a("planes")), SignBuckets.of(v, a("tables")),
        SignBuckets.cp(v, a("rots")))
    }
    // doubles compare by raw bits (so 0.0 is not -0.0); NaN payloads are
    // left to the JVM, so any NaN matches any NaN
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) => (x.isNaN && y.isNaN) ||
        java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
      case (x: Array[Byte], y: Array[Byte]) => x.sameElements(y)
      case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
        x.size == y.size && x.zip(y).forall { case (p, q) => same(p, q) }
      case _ => a == b
    }
    val plans = new AdaptiveSparkPlanHelper {}
    val df = cases.toDF().repartition(2)
    for (codegen <- Seq(true, false)) {
      val confs = Seq(
        "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
        "spark.sql.codegen.wholeStage" -> codegen.toString)
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        for ((source, lit) <- (None +: literals.map(Some(_))).zipWithIndex.map(_.swap)) {
          val arg: String => Column = lit match {
            case None => col
            case Some(s) => Map[String, Column]("b" -> typedlit(s.b),
              "cents" -> typedlit(s.cents), "biases" -> typedlit(s.biases),
              "books" -> typedlit(s.books), "bbias" -> typedlit(s.bbias),
              "planes" -> typedlit(s.planes), "tables" -> typedlit(s.tables),
              "rots" -> typedlit(s.rots))
          }
          val q = df.select(col("i") +: outputs(arg): _*)
          val got = q.collect().map(r => r.getLong(0) -> r).toMap
          val plan = q.queryExecution.executedPlan
          assert(plans.collect(plan) { case w: WholeStageCodegenExec => w }.nonEmpty == codegen,
            plan.toString)
          assert(got.size == cases.size)
          for (c <- cases; (want, j) <- expected(c, lit.getOrElse(c)).zipWithIndex) {
            val have = got(c.i).get(j + 1)
            assert(same(have, want), s"${names(j)} case ${c.i}, matrices $source, " +
              s"codegen $codegen: $have vs $want")
          }
          // the named edge cases hit what they name
          if (lit.isEmpty) {
            assert(skips.forall(c => got(c.i).getDouble(1) == 1.0))
            assert(got(300L).isNullAt(1) && got(301L).isNullAt(4))
          }
        }
      } finally {
        prev.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
      }
    }
  }

  test("knnExact ranks by cosine with deterministic tie-break") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(1.0f, 0.1f)),
      (3L, Seq(0.0f, 1.0f)),
      (4L, Seq(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.knnExact(df.filter(col("vec_id") === 1L), df, k = 3)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neighbor_id")))
    // identical vec 4 first (sim 1.0), then 2, then orthogonal 3
    assert(out.toSeq == Seq((1L, 4L), (2L, 2L), (3L, 3L)))
  }

  test("nearDupPairs finds only the identical pair at high threshold") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)), (3L, Seq(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.nearDupPairs(df, 0.99).collect()
    assert(out.length == 1 &&
      out.head.getLong(0) == 1L && out.head.getLong(1) == 3L)
  }

  test("lsh buckets are deterministic and co-locate identical vectors") {
    val df = Seq(
      (1L, Seq.fill(64)(1.0f)), (2L, Seq.fill(64)(1.0f)),
      (3L, Seq.tabulate(64)(i => if (i % 2 == 0) 1.0f else -1.0f))
    ).toDF("vec_id", "embedding")
    val b1 = Similarity.lshBuckets(df, 4, 64).orderBy("id").collect().map(_.getAs[Int]("bucket"))
    val b2 = Similarity.lshBuckets(df, 4, 64).orderBy("id").collect().map(_.getAs[Int]("bucket"))
    assert(b1.toSeq == b2.toSeq, "deterministic across runs")
    assert(b1(0) == b1(1), "identical vectors share a bucket")
  }

  test("asOf join picks the latest right row at-or-before each left row") {
    import graft.operators.AsOfJoin
    val trades = Seq((1L, "A", 100L), (2L, "A", 205L), (3L, "B", 150L))
      .toDF("trade_id", "sym", "t")
    val quotes = Seq(("A", 90L, 10.0), ("A", 100L, 11.0), ("A", 200L, 12.0),
      ("B", 160L, 20.0)).toDF("sym", "t", "px")
    val out = AsOfJoin.asOf(trades, quotes, Seq("sym"), "t", "t", "px", "asof_px")
      .orderBy("trade_id").collect()
    // trade 1 at t=100: quote at exactly 100 (inclusive) -> 11.0
    assert(out(0).getAs[Double]("asof_px") == 11.0)
    // trade 2 at t=205: latest quote 200 -> 12.0
    assert(out(1).getAs[Double]("asof_px") == 12.0)
    // trade 3 (B) at t=150: only quote is at 160 (after) -> null
    assert(out(2).isNullAt(out(2).fieldIndex("asof_px")))
  }

  test("asOf forward picks the earliest right row at-or-after; tolerance nulls far matches") {
    import graft.operators.AsOfJoin
    val trades = Seq((1L, "A", 100L), (2L, "A", 205L), (3L, "B", 150L))
      .toDF("trade_id", "sym", "t")
    val quotes = Seq(("A", 90L, 10.0), ("A", 100L, 11.0), ("A", 200L, 12.0),
      ("B", 160L, 20.0)).toDF("sym", "t", "px")
    val fwd = AsOfJoin.asOf(trades, quotes, Seq("sym"), "t", "t", "px",
      "asof_px", direction = "forward").orderBy("trade_id").collect()
    assert(fwd(0).getAs[Double]("asof_px") == 11.0) // t=100 inclusive
    assert(fwd(1).isNullAt(fwd(1).fieldIndex("asof_px"))) // nothing after 205
    assert(fwd(2).getAs[Double]("asof_px") == 20.0) // next B quote at 160

    val tol = AsOfJoin.asOf(trades, quotes, Seq("sym"), "t", "t", "px",
      "asof_px", direction = "forward", tolerance = Some(5L))
      .orderBy("trade_id").collect()
    // B's next quote is 10 ticks away > tolerance 5 -> null
    assert(tol(2).isNullAt(tol(2).fieldIndex("asof_px")))
    assert(tol(0).getAs[Double]("asof_px") == 11.0) // gap 0 still matches
  }

  test("knnIvf probes cover the home cell: self-cluster neighbors found") {
    val df = (0L until 40L).map { i =>
      // two well-separated clusters in 4-d
      val base = if (i % 2 == 0) Seq(1.0f, 0.0f, 0.0f, 0.0f)
                 else Seq(0.0f, 1.0f, 0.0f, 0.0f)
      (i, base.updated(2, (i % 5).toFloat / 100f))
    }.toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.knnIvf(df, k = 3, nCells = 4,
      nProbe = 2, queryFilter = col("id") < 4)
    // trained variant: spherical k-means centroids must land one per
    // cluster on well-separated data, giving perfect within-cluster ANN
    val cents = graft.operators.Similarity.kmeansCentroids(df, k = 2, iters = 3)
    val trained = graft.operators.Similarity.knnIvf(df, k = 3, nCells = 2,
      nProbe = 1, queryFilter = col("id") < 4, centroids = Some(cents))
    trained.collect().foreach { r =>
      assert(r.getAs[Long]("neighbor_id") % 2 == r.getAs[Long]("query_id") % 2)
    }
    val rows = out.collect()
    assert(rows.nonEmpty)
    // every returned neighbor of an even query is even (same cluster)
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    byQuery.foreach { case (q, ns) =>
      assert(ns.forall(r => r.getAs[Long]("neighbor_id") % 2 == q % 2))
    }
  }

  test("ANN recall floors vs exact kNN on real embeddings (deterministic)") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.knnExact(e.filter(col("vec_id") < 50), e, 5))
    val lsh = pairs(Similarity.knnLsh(e, 5, 4, 64, col("id") < 50))
    val ivf = pairs(Similarity.knnIvf(e, 5, 16, 4, col("id") < 50))
    val proj = pairs(Similarity.knnLsh(e, 5, 4, 16, col("id") < 50,
      bucketFrame = Some(Similarity.randomProject(e, dimIn = 64, dimOut = 16))))
    def recall(s: Set[(Long, Long)]) = (s & exact).size / exact.size.toDouble
    // measured 0.820 (4 planes × 12 tables, RecallSweep) / 0.620 on
    // seed-42 testdata; floors guard regressions
    assert(recall(lsh) >= 0.75, s"lsh recall ${recall(lsh)}")
    assert(recall(ivf) >= 0.55, s"ivf recall ${recall(ivf)}")
    // JL 64->16 projection steering buckets, full-dim scoring: measured
    // 0.824 (tools.ProjRecall) — statistically equal to the full-dim
    // 0.820 at 4x cheaper bucket hashing; floor guards regressions
    assert(recall(proj) >= 0.70, s"projected-lsh recall ${recall(proj)}")
    // cross-polytope at e03's bucket granularity (16/table, 12 tables):
    // measured 0.888 vs sign-LSH 0.820 — the better angular family
    val cp = pairs(Similarity.knnCp(e, 5, 8, col("id") < 50))
    assert(recall(cp) >= 0.80, s"cross-polytope recall ${recall(cp)}")
  }

  test("Sq8: encode rounds/clamps to signed bytes; int dot matches by hand") {
    import graft.functions.expressions.Sq8
    val df = Seq((Seq(1.0, -1.0, 0.5, 0.0), Seq(1.0, 1.0, -0.5, 0.25)))
      .toDF("a", "b")
    val row = df.select(
      Sq8.encode(col("a")).as("ca"), Sq8.encode(col("b")).as("cb"),
      Sq8.dot(Sq8.encode(col("a")), Sq8.encode(col("b"))).as("d")).head()
    assert(row.getAs[Array[Byte]]("ca").toSeq === Seq[Byte](127, -127, 64, 0))
    // 0.5*127 = 63.5 → rint rounds half-to-even → 64; 0.25*127 = 31.75 → 32
    assert(row.getAs[Array[Byte]]("cb").toSeq === Seq[Byte](127, 127, -64, 32))
    assert(row.getAs[Long]("d") === 127L * 127 - 127L * 127 - 64L * 64)
  }

  test("Sq8 flat-scan ANN: recall ~1 vs exact kNN (int8 rounding only)") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.knnExact(e.filter(col("vec_id") < 50), e, 5))
    val sq = pairs(Similarity.knnSq8(e, 5, col("id") < 50, rerank = 50))
    val rec = (sq & exact).size / exact.size.toDouble
    // measured 1.000 at sf0.001/0.01/0.1 (tools.AnnRecall); the driver
    // floor is 0.90 — this spec pins the tighter property that a
    // no-pruning index with a 10×k rerank misses essentially nothing
    assert(rec >= 0.95, s"sq8 recall $rec")
  }

  test("every ANN index reproduces knnExact at its exhaustive setting") {
    import graft.operators.Pq
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val n = e.count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id", "sim").collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2),
          r.getDouble(3)))
        .toSet
    val q = col("id") < 50
    val exact = rows(Similarity.knnExact(e.filter(col("vec_id") < 50), e, 5))
    val cents = Similarity.seedCentroids(e, 16)
    val books = Pq.trainCodebooks(e, m = 8, ksub = 16, dim = 64, iters = 1)
    val resid = Pq.trainResidualCodebooks(e, cents, m = 8, ksub = 16,
      dim = 64, iters = 1)
    // probe-all + rerank ≥ corpus: neither the candidate generator nor
    // the cheap-score shortlist prunes anything, so every index's exact
    // rerank pass IS exact kNN, row for row — neither stage can change
    // WHICH answers exist, only how many candidates pay full dots
    val exhaustive: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "knnIvf, nProbe = nCells" -> (() => Similarity.knnIvf(e, 5, 16, 16, q)),
      "knnSq8, rerank = n" -> (() => Similarity.knnSq8(e, 5, q, rerank = n)),
      "knnPq, rerank = n" -> (() => Pq.knnPq(e, 5, books, 64, q, rerank = n)),
      "knnIvfPq, probe all, rerank = n" -> (() => Pq.knnIvfPq(e, 5,
        nCells = 16, nProbe = 16, m = 8, ksub = 16, dim = 64, q,
        rerank = n, coarseCentroids = Some(cents), codebooks = Some(resid))),
      "searchHammingIndex over hammingIndexRows, probe all, rerank = n" ->
        (() => Similarity.searchHammingIndex(Similarity.hammingIndexRows(e,
          cents), e, 5, nProbe = 16, cents, rerank = n, queryFilter = q)))
    for ((name, run) <- exhaustive) assert(rows(run()) == exact, name)
  }

  test("Hamming flat-scan ANN: rerank-all reproduces exact kNN; " +
      "production rerank clears its floor") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val n = e.count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id", "sim").collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2),
          r.getDouble(3)))
        .toSet
    val exact = rows(Similarity.knnExact(e.filter(col("vec_id") < 50), e, 5))
    // rerank ≥ corpus ⇒ the Hamming shortlist prunes nothing and the
    // exact-rerank pass IS exact kNN, row for row
    val all = rows(Similarity.knnHamming(e, 5, col("id") < 50, rerank = n))
    assert(all == exact)
    // production config (256-bit signatures, rerank 100 — the pick of the
    // retired HammingSweep probe, SCALING.md "Retired probes"): recall
    // above the e20 driver floor of 0.85
    val ham = rows(Similarity.knnHamming(e, 5, col("id") < 50))
    val rec = (ham.map(t => (t._1, t._3)) & exact.map(t => (t._1, t._3))).size /
      exact.size.toDouble
    assert(rec >= 0.85, s"hamming recall $rec")
  }

  test("IVF x Hamming composed ANN: probe-all + rerank-all is exact; " +
      "production config holds recall") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val n = e.count().toInt
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "rank", "neighbor_id", "sim").collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).longValue(), r.getLong(2),
          r.getDouble(3)))
        .toSet
    val exact = rows(Similarity.knnExact(e.filter(col("vec_id") < 50), e, 5))
    // probe-all + rerank-all: neither the coarse quantizer nor the
    // binary shortlist prunes anything ⇒ exact kNN row for row
    val allOn = rows(Similarity.knnIvfHamming(e, 5, nCells = 16,
      nProbe = 16, col("id") < 50, rerank = n))
    assert(allOn == exact)
    // production shape: 4/16 probes + 256-bit filter + rerank 100 —
    // recall bounded by the IVF cell restriction (e04's regime)
    val prod = rows(Similarity.knnIvfHamming(e, 5, nCells = 16,
      nProbe = 4, col("id") < 50))
    val rec = (prod.map(t => (t._1, t._3)) & exact.map(t => (t._1, t._3))).size /
      exact.size.toDouble
    assert(rec >= 0.55, s"ivf-hamming recall $rec")
  }

  test("NgramLm: Kneser-Ney discounting matches the hand model and " +
      "normalizes per context") {
    import graft.operators.NgramLm
    import spark.implicits._
    // corpus: (the,cat)x2, (cat,sat)x1, (cat,ran)x1
    //   contexts: the c1=2 t1=1; cat c1=2 t1=2
    //   continuations: cat t2=1, sat t2=1, ran t2=1; B=3
    val docs = Seq((1L, "the cat sat"), (2L, "the cat ran"))
      .toDF("doc_id", "text")
    def p(c12: Double, c1: Double, t1: Double, t2: Double, b: Double) =
      math.max(c12 - 0.75, 0.0) / c1 + 0.75 * t1 / c1 * (t2 / b)
    val pCatGivenThe = p(2, 2, 1, 1, 3) // 0.625 + 0.125  = 0.75
    val pSatGivenCat = p(1, 2, 2, 1, 3) // 0.125 + 0.25   = 0.375
    val got = NgramLm.kneserNeyScores(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_nll"))).toMap
    val want = (-math.log(pCatGivenThe) - math.log(pSatGivenCat)) / 2
    assert(got(1L)._1 == 2L)
    assert(math.abs(got(1L)._2 - want) < 1e-12)
    assert(math.abs(got(2L)._2 - want) < 1e-12) // ran symmetric to sat
    // discount identity: p over the continuation vocab sums to exactly
    // 1 per context (the KN mass-conservation property)
    val contextSum = p(2, 2, 1, 1, 3) + // cat|the
      p(0, 2, 1, 1, 3) + p(0, 2, 1, 1, 3) // unseen sat|the, ran|the
    assert(math.abs(contextSum - 1.0) < 1e-12)
  }

  test("NgramLm: add-alpha bigram probabilities match the hand model") {
    import graft.operators.NgramLm
    import spark.implicits._
    // corpus: c(the,cat)=2, c(cat,sat)=1, c(cat,ran)=1, c(zq,xv)=1,
    // c(xv,qqq)=1; contexts c(the)=2, c(cat)=2, c(zq)=c(xv)=1; V=7
    val docs = Seq((1L, "the cat sat"), (2L, "the cat ran"),
      (3L, "zq xv qqq")).toDF("doc_id", "text")
    val scores = NgramLm.perplexityScores(docs, alpha = 0.5)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_nll"))).toMap
    val d1 = (-math.log(2.5 / 5.5) - math.log(1.5 / 5.5)) / 2
    val d3 = (-math.log(1.5 / 4.5) - math.log(1.5 / 4.5)) / 2
    assert(scores(1L)._1 == 2L)
    assert(math.abs(scores(1L)._2 - d1) < 1e-9, s"doc1 ${scores(1L)._2} vs $d1")
    assert(math.abs(scores(3L)._2 - d3) < 1e-9, s"doc3 ${scores(3L)._2} vs $d3")
    // minCount prunes rare bigrams from the model: every doc-1 bigram
    // keeps only (the,cat); (cat,sat) drops to the unseen floor
    val pruned = NgramLm.perplexityScores(docs, alpha = 0.5, minCount = 2L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("avg_nll")).toMap
    val d1p = (-math.log(2.5 / 5.5) - math.log(0.5 / 5.5)) / 2
    assert(math.abs(pruned(1L) - d1p) < 1e-9, s"pruned doc1 ${pruned(1L)} vs $d1p")
  }

  test("NgramLm scores and PQ codes are partitioning-independent") {
    import graft.operators.{NgramLm, Pq}
    import spark.implicits._
    val d = Seq((1L, "the cat sat"), (2L, "the cat ran"), (3L, "zq xv qqq"))
      .toDF("doc_id", "text")
    def lmRows(df: org.apache.spark.sql.DataFrame) =
      NgramLm.perplexityScores(df)
        .select(col("doc_id"), col("n_bigrams"), round(col("avg_nll"), 4))
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(lmRows(d) == lmRows(d.repartition(7)))
    // PQ: with FIXED codebooks, encode is a pure per-row function —
    // codes must be bit-identical under any partitioning
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val books = Pq.trainCodebooks(e, m = 4, ksub = 8, dim = 64, iters = 2)
    def codes(df: org.apache.spark.sql.DataFrame) =
      Pq.encode(df, books, dim = 64).orderBy("id")
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toSeq
    assert(codes(e) == codes(e.repartition(13)))
  }

  test("PQ ANN: ADC + rerank recall floor vs exact kNN; codes are m small ints") {
    import graft.operators.Pq
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val books = Pq.trainCodebooks(e, m = 8, ksub = 16, dim = 64, iters = 3)
    assert(books.length == 8 && books.forall(_.length == 16) &&
      books.forall(_.forall(_.length == 8)))
    val codes = Pq.encode(e, books, dim = 64)
    val codeRow = codes.head()
    assert(codeRow.getAs[scala.collection.Seq[Int]]("codes").length == 8)
    assert(codes.filter(!forall(col("codes"),
      c => c >= 0 && c < 16)).count() == 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.knnExact(e.filter(col("vec_id") < 50), e, 5))
    val pq = pairs(Pq.knnPq(e, 5, books, 64, col("id") < 50, rerank = 50))
    val rec = (pq & exact).size / exact.size.toDouble
    // measured 0.744 on seed-42 testdata at (m=8, ksub=16, rerank=50) —
    // this synthetic set's true neighbors sit at LOW cosine (0.2-0.5),
    // the hard regime for quantizers; floor guards regressions
    assert(rec >= 0.7, s"pq recall $rec")
    // rerank-selected sims are EXACT dots: every overlapping pair must
    // carry the same rounded sim as the exact baseline
    val exactSims = Similarity.knnExact(e.filter(col("vec_id") < 50), e, 5)
      .select("query_id", "neighbor_id", "sim").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    Pq.knnPq(e, 5, books, 64, col("id") < 50, rerank = 50)
      .select("query_id", "neighbor_id", "sim").collect()
      .foreach { r =>
        exactSims.get((r.getLong(0), r.getLong(1))).foreach { s =>
          assert(math.abs(s - r.getDouble(2)) < 1e-9,
            s"sim mismatch for ${(r.getLong(0), r.getLong(1))}")
        }
      }
  }

  test("quantizationError: Lloyd-trained codebooks beat seeds; error is per-cell") {
    import graft.operators.Pq
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val coarse = Similarity.kmeansCentroids(e, 8, iters = 2)
    val seed = Pq.trainResidualCodebooks(e, coarse, m = 4, ksub = 8,
      dim = 64, iters = 0) // iters=0 -> raw seed codebooks
    val trained = Pq.trainResidualCodebooks(e, coarse, m = 4, ksub = 8,
      dim = 64, iters = 3)
    def totalMse(books: Pq.Codebooks): Double = {
      val rows = Pq.quantizationError(e, coarse, books).collect()
      assert(rows.forall(_.getDouble(3) >= 0.0))
      assert(rows.forall(_.getLong(2) == 0L)) // no corrupt-geometry rows
      val n = rows.map(_.getLong(1)).sum
      rows.map(r => r.getDouble(3) * r.getLong(1)).sum / n
    }
    val (ms, mt) = (totalMse(seed), totalMse(trained))
    // k-means monotonically decreases the quantization objective —
    // the monitor must see it
    assert(mt < ms, s"trained mse $mt !< seed mse $ms")
  }

  test("IVF-PQ: cell-pruned residual ADC recall floor vs exact kNN") {
    import graft.operators.Pq
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.knnExact(e.filter(col("vec_id") < 50), e, 5))
    val ivfpq = pairs(Pq.knnIvfPq(e, 5, nCells = 16, nProbe = 8,
      m = 8, ksub = 16, dim = 64, col("id") < 50, rerank = 50))
    val rec = (ivfpq & exact).size / exact.size.toDouble
    // probing half the cells caps recall at the IVF level; measured
    // 0.668 on seed-42 testdata (low-cosine neighbors straddle cell
    // boundaries — the hard regime) — floor guards regressions
    assert(rec >= 0.6, s"ivfpq recall $rec")
  }

  test("QuantileDigest: partial+merge across partitions, pinned error bound") {
    import graft.functions.expressions.QuantileDigest
    // 50k uniform values over 16 partitions -> forces serialize +
    // partial/final merge through the exchange
    val df = spark.range(50000).repartition(16)
      .select((col("id") * 7919 % 50000).cast("double").as("x"))
    val ps = Seq(0.1, 0.5, 0.9, 0.99)
    val approx = df.agg(QuantileDigest.quantiles(col("x"), ps).as("q"))
      .head().getAs[scala.collection.Seq[Double]]("q")
    // values are a permutation of 0..49999 (7919 coprime to 50000), so
    // the exact quantile at p is ~p*50000; pin rank error <= 0.01
    ps.zip(approx).foreach { case (p, v) =>
      assert(math.abs(v / 50000.0 - p) <= 0.01, s"p=$p got $v")
    }
    // SQL surface with array(...) percentages parses and runs
    df.createOrReplaceTempView("qd_t")
    val viaSql = spark.sql(
      "SELECT graft_tdigest(x, array(0.5D)) AS q FROM qd_t")
      .head().getAs[scala.collection.Seq[Double]]("q")
    assert(math.abs(viaSql.head / 50000.0 - 0.5) <= 0.01)
  }

  test("QuantileDigest buffer: serialize round-trip and merge = union") {
    import graft.functions.expressions.QuantileDigest.Digest
    val a = new Digest(64); val b = new Digest(64); val all = new Digest(64)
    (1 to 3000).foreach { i =>
      val v = (i * 131) % 3000 / 3.0
      if (i % 2 == 0) a.add(v, 1.0) else b.add(v, 1.0)
      all.add(v, 1.0)
    }
    val restored = Digest.fromBytes(a.toBytes, 64)
    restored.mergeWith(b)
    assert(math.abs(restored.totalWeight - 3000.0) < 1e-9)
    Seq(0.25, 0.5, 0.75).foreach { p =>
      // merged-of-parts tracks the single digest within digest error
      assert(math.abs(restored.quantile(p) - all.quantile(p)) <= 1000 * 0.03,
        s"p=$p ${restored.quantile(p)} vs ${all.quantile(p)}")
    }
  }

  test("lshCandidatePairs -> exact verify equals all-pairs baseline, sub-quadratically") {
    // the e05 shape: jittered copies at cosine ~0.999, LSH candidates,
    // exact dot only on candidates
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val base = e.select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val jit = base
      .withColumn("_j", transform(col("embedding"),
        x => x * (lit(1.0) + lit(0.05) * sin(x * 1000 + col("vec_id")))))
      .select((col("vec_id") + 100000L).as("vec_id"), col("_j").as("embedding"))
    val aug = base.unionAll(jit).persist()
    val n = aug.count()
    val cand = Similarity.lshCandidatePairs(aug, nPlanes = 8, dim = 64).persist()
    val nCand = cand.count()
    assert(nCand < n * (n - 1) / 2 / 4, // >4x fewer pairs than brute force
      s"candidates $nCand not sub-quadratic vs ${n * (n - 1) / 2}")
    def setOf(df: org.apache.spark.sql.DataFrame) =
      df.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = setOf(Similarity.nearDupPairs(aug, 0.9))
    val verified = setOf(Similarity.nearDupPairs(aug, 0.9, candidates = Some(cand)))
    assert(exact.nonEmpty && verified == exact,
      s"verify path lost ${(exact -- verified).size} of ${exact.size} pairs")
    // the fused in-bucket-verify operator (e05's round-9 path) must
    // return the two-stage form's EXACT rows — sims included
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val twoStage = rowsOf(Similarity.nearDupPairs(aug, 0.9, candidates = Some(cand)))
    val fused = rowsOf(Similarity.lshNearDupPairs(aug, 0.9, nPlanes = 8, dim = 64))
    assert(fused == twoStage,
      s"fused form diverged: ${(fused -- twoStage).size} extra, " +
        s"${(twoStage -- fused).size} missing of ${twoStage.size}")
    cand.unpersist(); aug.unpersist()
  }

  test("exact-baseline guards refuse accidental quadratic scoring") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    intercept[IllegalArgumentException](
      Similarity.nearDupPairs(e, 0.9, maxExactPairs = 10L))
    intercept[IllegalArgumentException](
      Similarity.knnExact(e, e, 5, maxExactPairs = 10L))
    // candidate-fed verify is NOT subject to the all-pairs guard
    val cand = Seq((0L, 1L)).toDF("a", "b")
    assert(Similarity.nearDupPairs(e, -1.0, candidates = Some(cand),
      maxExactPairs = 10L).count() == 1)
  }

  test("shards: exhaustive, contiguous positions, partitioning-independent") {
    import graft.operators.Sampling
    val df = spark.range(0, 2000).select(col("id").as("doc_id"))
    val out = Sampling.shards(df, "doc_id", nShards = 8)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 2000 && out.map(_._1).distinct.length == 2000)
    // positions are exactly 1..size within every shard
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length).map(_.toLong))
    }
    // multinomial balance: every shard within 3x sigma-ish of n/S
    val sizes = out.groupBy(_._2).values.map(_.length)
    assert(sizes.size == 8 && sizes.forall(s => s > 175 && s < 325), sizes)
    // same assignment regardless of input partitioning
    val re = Sampling.shards(df.repartition(13), "doc_id", 8)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(re.toSet == out.toSet)
  }

  test("hashSample: deterministic, partition-independent, near-rate") {
    import graft.operators.Sampling
    val df = spark.range(20000).select(col("id"))
    val a = Sampling.hashSample(df, "id", 0.25).collect().map(_.getLong(0)).toSet
    val b = Sampling.hashSample(df.repartition(13), "id", 0.25)
      .collect().map(_.getLong(0)).toSet
    assert(a == b, "sample must not depend on partitioning")
    assert(math.abs(a.size / 20000.0 - 0.25) < 0.02, s"rate ${a.size / 20000.0}")
    // nested rates: a 0.125 sample is a subset of the 0.25 sample
    val c = Sampling.hashSample(df, "id", 0.125).collect().map(_.getLong(0)).toSet
    assert(c.subsetOf(a))
    assert(Sampling.rateThreshold(1.0) == "g" && Sampling.rateThreshold(0.5) == "8000")
  }

  test("split: exhaustive, disjoint, stable, near the declared fractions") {
    import graft.operators.Sampling
    val df = spark.range(20000).select(col("id"))
    val splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    val got = Sampling.split(df, "id", splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 20000, "every row assigned exactly once")
    splits.foreach { case (name, f) =>
      val share = got.valuesIterator.count(_ == name) / 20000.0
      assert(math.abs(share - f) < 0.02, s"$name at $share, wanted $f")
    }
    // partitioning-independent assignment
    val re = Sampling.split(df.repartition(13), "id", splits)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(re == got)
    // growing the train fraction only MOVES the boundary: nobody already
    // in train leaves it
    val wider = Sampling.split(df, "id", Seq(("train", 0.9), ("rest", 0.1)))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.collect { case (id, "train") => id }
      .forall(id => wider(id) == "train"))
    intercept[IllegalArgumentException](
      Sampling.split(df, "id", Seq(("a", 0.5), ("b", 0.3))))
  }

  test("packWindows two-phase prefix sum equals the single-window contract") {
    import graft.operators.Packing
    val df = spark.range(1, 2001)
      .select(col("id"), (col("id") % 97 + 5).as("tok"))
    val packed = Packing.packWindows(df, "id", "tok", ctxLen = 512, bucketSize = 150L)
    // naive global-window reference
    val w = org.apache.spark.sql.expressions.Window.orderBy("id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val ref = df.withColumn("before", coalesce(sum("tok").over(w), lit(0L)))
      .withColumn("pack_id", floor(col("before") / 512))
      .select(col("id"), col("pack_id"))
    val diff = packed.select("id", "pack_id")
      .except(ref).union(ref.except(packed.select("id", "pack_id")))
    assert(diff.isEmpty, "two-phase packing must equal the global-window result")
    // packs are contiguous in id order and token-bounded at the start
    val sums = Packing.packSummary(packed, "id", "tok").collect()
    assert(sums.map(_.getAs[Long]("n_docs")).sum == 2000)
  }

  test("text functions: tokens, shingles, fingerprint, rolling hash") {
    val df = Seq(("The  Quick,  brown FOX!!", "the quick brown fox")).toDF("a", "b")
    val r = df.select(
      TextFns.tokens(col("a")).as("ta"),
      TextFns.fingerprint(col("a")).as("fa"),
      TextFns.fingerprint(col("b")).as("fb"),
      TextFns.rollingHash(col("a")).as("ha"),
      TextFns.rollingHash(col("b")).as("hb"),
      TextFns.wordShingles(col("b"), 3).as("sh")).head()
    assert(r.getAs[scala.collection.Seq[String]]("ta").toSeq == Seq("the", "quick", "brown", "fox"))
    // normalization makes differently-punctuated content hash equal
    assert(r.getAs[String]("fa") == r.getAs[String]("fb"))
    assert(r.getAs[Long]("ha") == r.getAs[Long]("hb"))
    assert(r.getAs[scala.collection.Seq[String]]("sh").toSeq.sorted ==
      Seq("quick brown fox", "the quick brown"))
  }

  test("wordShingles on short docs returns empty, not an error") {
    val r = Seq(Tuple1("two words")).toDF("text")
      .select(TextFns.wordShingles(col("text"), 3).as("sh")).head()
    assert(r.getAs[scala.collection.Seq[String]]("sh").isEmpty)
  }

  test("WeightedMean aggregator: typed, mergeable, matches hand computation") {
    import org.apache.spark.sql.functions.udaf
    val wm = udaf(graft.functions.WeightedMean)
    val df = Seq((1.0, 1.0), (3.0, 3.0), (10.0, 0.0)).toDF("x", "w")
    val got = df.repartition(3) // force partial + merge across partitions
      .agg(wm(col("x"), col("w")).as("wmean")).head().getDouble(0)
    assert(math.abs(got - 2.5) < 1e-12) // (1*1 + 3*3 + 10*0) / (1+3+0)
    // empty weights -> NaN, not divide-by-zero
    val empty = Seq((1.0, 0.0)).toDF("x", "w")
      .agg(wm(col("x"), col("w"))).head().getDouble(0)
    assert(empty.isNaN)
  }

  test("multimodal mapPartitions plumbing produces deterministic features") {
    import Multimodal._
    val ds = Seq(
      MediaRow(1L, "image/png", "fakebytes-one".getBytes("UTF-8")),
      MediaRow(2L, "audio/wav", "fakebytes-two-longer".getBytes("UTF-8"))
    ).toDS()
    val out = extractFeatures(ds).collect().sortBy(_.doc_id)
    assert(out.map(_.byte_len).toSeq == Seq(13L, 20L))
    assert(out.forall(_.content_sha.length == 64))
    assert(out.map(_.n_frames).toSeq == Seq(2, 3))
    // re-run is identical (stub decode is content-deterministic)
    val again = extractFeatures(ds).collect().sortBy(_.doc_id)
    assert(again.toSeq == out.toSeq)
  }

  test("ImageIoDecoder + resizeImages operate on real encoded pixels") {
    import Multimodal._
    // deterministic real images, encoded with the JDK codec itself
    def png(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h)
        img.setRGB(x, y, (x * 31 + y * 17) & 0xffffff)
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, buf)
      buf.toByteArray
    }
    val ds = Seq(
      MediaRow(1L, "image/png", png(64, 48, "png")),
      MediaRow(2L, "image/bmp", png(320, 200, "bmp")),
      MediaRow(3L, "image/gif", png(10, 10, "gif")),
      MediaRow(4L, "application/octet-stream", "not an image".getBytes)
    ).toDS()

    // feature extraction reads REAL bitstream geometry
    val feats = extractFeatures(ds, ImageIoDecoder).collect()
      .map(f => f.doc_id -> f).toMap
    assert((feats(1L).width, feats(1L).height, feats(1L).n_frames) == (64, 48, 1))
    assert((feats(2L).width, feats(2L).height) == (320, 200))
    assert((feats(3L).width, feats(3L).height) == (10, 10))
    // corrupt media marks itself instead of killing the stage
    assert((feats(4L).width, feats(4L).height, feats(4L).n_frames) == (-1, -1, 0))
    assert(feats(4L).content_sha.length == 64) // digest still computed

    // real resize: longer side capped, aspect preserved, no upscaling
    val rs = resizeImages(ds, maxDim = 32).collect()
      .map(r => r.doc_id -> r).toMap
    assert((rs(1L).orig_width, rs(1L).orig_height) == (64, 48))
    assert((rs(1L).width, rs(1L).height) == (32, 24))
    assert((rs(2L).width, rs(2L).height) == (32, 20))
    assert((rs(3L).width, rs(3L).height) == (10, 10)) // already small
    assert(rs(4L).width == -1 && rs(4L).resized_md5.isEmpty)
    // the thumbnail is a real PNG: decodable, with the declared size
    assert(rs(1L).resized_bytes > 0)
    val thumb = Multimodal.resizeImages(ds.filter(_.doc_id == 1L), 32)
      .collect().head
    assert(thumb.resized_md5 == rs(1L).resized_md5) // deterministic
  }

  test("perceptual hashes pair re-encoded/rescaled copies, not distinct images") {
    import Multimodal._
    // a deterministic "photo" with smooth structure (gradients + a
    // bright blob) — perceptual hashing needs structure, not noise
    def photo(w: Int, h: Int, seed: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) {
        val dx = x - w / 3.0 - seed * 7; val dy = y - h / 2.0 + seed * 5
        val blob = (200 * math.exp(-(dx * dx + dy * dy) / (w * 2.0))).toInt
        val base = (80.0 * x / w + 60.0 * y / h).toInt
        val v = math.min(255, base + blob)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    def enc(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, buf)
      buf.toByteArray
    }
    def scaled(img: java.awt.image.BufferedImage,
        w: Int, h: Int): java.awt.image.BufferedImage = {
      val out = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try g.drawImage(img, 0, 0, w, h, null) finally g.dispose()
      out
    }
    val p1 = photo(128, 96, seed = 0)
    val ds = Seq(
      MediaRow(1L, "image/png", enc(p1, "png")),
      MediaRow(2L, "image/bmp", enc(p1, "bmp")),              // re-encoded copy
      MediaRow(3L, "image/png", enc(scaled(p1, 96, 72), "png")), // rescaled copy
      MediaRow(4L, "image/png", enc(photo(128, 96, seed = 9), "png")), // distinct
      MediaRow(5L, "application/octet-stream", "junk".getBytes)
    ).toDS()
    val hs = perceptualHashes(ds).collect().map(h => h.doc_id -> h).toMap
    assert(hs(5L).decoded == false)
    assert((1L to 4L).forall(hs(_).decoded))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    // re-encode is pixel-identical -> identical hashes
    assert(ham(hs(1L).ahash, hs(2L).ahash) == 0)
    // rescale preserves structure -> within the banded radius
    assert(ham(hs(1L).ahash, hs(3L).ahash) <= 3,
      s"rescaled aHash hamming ${ham(hs(1L).ahash, hs(3L).ahash)}")
    // distinct structure -> far in both hashes
    assert(ham(hs(1L).ahash, hs(4L).ahash) > 8)
    assert(ham(hs(1L).dhash, hs(4L).dhash) > 8)

    // the safe pairing entry point (t08's banding over decoded rows
    // only) finds exactly the copy pairs — and the corrupt payload
    // (doc 5, whose (0,0) hashes would otherwise pair with any other
    // corrupt row at hamming 0) is excluded by construction
    val pairs = perceptualDupPairs(ds)
      .orderBy("a", "b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("stubPerceptualHashes plants the documented variant geometry") {
    import spark.implicits._
    // one doc → variants at hamming 1 (bit 0), 2 (bits 20+40), and the
    // (v1, v2) pair at 3 differing in bands 0-2 — only band 3 can
    // surface it (the pigeonhole edge the m05 oracle re-checks)
    val d = Seq((7L, "some document text")).toDF("doc_id", "text")
    val hs = Multimodal.stubPerceptualHashes(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs.keySet == Set(28L, 29L, 30L))
    assert(java.lang.Long.bitCount(hs(28L) ^ hs(29L)) == 1)
    assert(java.lang.Long.bitCount(hs(28L) ^ hs(30L)) == 2)
    assert(java.lang.Long.bitCount(hs(29L) ^ hs(30L)) == 3)
    assert(hs(28L) >>> 60 == 0L) // 60-bit: fits the 4x16 banding
    val pairs = graft.operators.Dedup.hash64Pairs(
        Multimodal.stubPerceptualHashes(d), "media_id", "phash", 3)
      .orderBy("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((28L, 29L, 1L), (28L, 30L, 2L), (29L, 30L, 3L)))
  }

  test("hash64Pairs is pigeonhole-complete at hamming <= 3 (vs brute force)") {
    import spark.implicits._
    // deterministic pseudo-random 64-bit signatures plus planted
    // near-misses at hamming exactly 1, 2, 3 (band-straddling bit
    // positions: 0, 17, 33, 49 touch all four 16-bit bands)
    val rnd = new scala.util.Random(7)
    val base = (0 until 60).map(i => (i.toLong, rnd.nextLong()))
    val planted = Seq(
      (100L, base(0)._2 ^ 1L),                        // ham 1 vs id 0
      (101L, base(1)._2 ^ (1L << 17) ^ (1L << 33)),   // ham 2 vs id 1
      (102L, base(2)._2 ^ 1L ^ (1L << 17) ^ (1L << 49))) // ham 3 vs id 2
    val sigs = (base ++ planted).toDF("doc_id", "h")
    val got = graft.operators.Dedup.hash64Pairs(sigs, "doc_id", "h")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over all pairs
    val all = base ++ planted
    val want = (for {
      (a, ha) <- all; (b, hb) <- all if a < b
      ham = java.lang.Long.bitCount(ha ^ hb) if ham <= 3
    } yield (a, b, ham.toLong)).toSet
    assert(got == want, s"banded ${got.size} vs brute ${want.size}")
    assert(want.size >= 3) // the planted near-misses are in there
  }

  test("rescaled copies of a DETAILED image stay within the banded radius") {
    import Multimodal._
    // high-frequency content (checker + stripes) at photo resolution —
    // the case where interpolating downscales (single-pass bilinear,
    // and even a halving pyramid with a bilinear tail — measured
    // hamming 8 here) diverge, and the exact area average must hold
    // the hash stable
    def busy(w: Int, h: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) {
        val checker = if (((x / 3) + (y / 3)) % 2 == 0) 70 else 180
        val stripe = if ((x / 7) % 2 == 0) 40 else 0
        val grad = (50.0 * x / w).toInt
        val v = math.min(255, checker + stripe + grad)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    def enc(img: java.awt.image.BufferedImage): Array[Byte] = {
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      buf.toByteArray
    }
    def scale(img: java.awt.image.BufferedImage,
        w: Int, h: Int): java.awt.image.BufferedImage = {
      val out = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
      } finally g.dispose()
      out
    }
    val orig = busy(1600, 1200)
    val ds = Seq(
      MediaRow(1L, "image/png", enc(orig)),
      MediaRow(2L, "image/png", enc(scale(orig, 1200, 900))), // 0.75x
      MediaRow(3L, "image/png", enc(scale(orig, 800, 600)))   // 0.5x
    ).toDS()
    val hs = perceptualHashes(ds).collect().map(h => h.doc_id -> h).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(1L).ahash, hs(2L).ahash) <= 3,
      s"0.75x rescale aHash hamming ${ham(hs(1L).ahash, hs(2L).ahash)}")
    assert(ham(hs(1L).ahash, hs(3L).ahash) <= 3,
      s"0.5x rescale aHash hamming ${ham(hs(1L).ahash, hs(3L).ahash)}")
  }

  test("patch grid: tiles gather the right bytes; short payloads emit none") {
    // 2048-byte payload = 2 full 16-row bands of 64-byte rows → 2×4 tiles
    val bytes = Array.tabulate[Byte](2048)(i => (i % 251).toByte)
    val short = Array.tabulate[Byte](1000)(i => i.toByte) // < 1024: no tiles
    val df = Seq((1L, bytes), (2L, short)).toDF("doc_id", "payload")
    val out = Multimodal.patchGrid(df, rowBytes = 64, patch = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getString(3))
      .toMap
    assert(out.size == 8 && out.keys.forall(_._1 == 1L),
      s"expected 8 tiles for doc 1 only, got ${out.keys}")
    // reference gather for tile (pi=1, pj=2): rows 16..31, cols 32..47
    val ref = (0 until 16).flatMap { r =>
      val off = 1 * 1024 + r * 64 + 2 * 16
      bytes.slice(off, off + 16)
    }.toArray
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = md.digest(ref).map("%02x".format(_)).mkString
    assert(out((1L, 1L, 2L)) == want, "tile (1,2) md5 mismatch")
  }

  test("ngram novelty: duplicated text scores 0, unique text 1, short docs 1") {
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo"),   // clone of doc 2
      (2L, "alpha bravo charlie delta echo"),
      (3L, "zulu yankee xray whiskey victor"),  // fully unique
      (4L, "hi there")                          // < 3 tokens: no shingles
    ).toDF("doc_id", "text")
    val out = Dedup.ngramNovelty(docs, n = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out(1L) == ((3L, 0L, 0.0)) && out(2L) == ((3L, 0L, 0.0)),
      s"clones should have zero novelty: $out")
    assert(out(3L) == ((3L, 3L, 1.0)), s"unique doc should score 1: $out")
    assert(out(4L) == ((0L, 0L, 1.0)), s"shingle-less doc contract: $out")
  }

  test("incremental novelty: batch scores against the standing corpus index only") {
    val corpus = Seq(
      (1L, "alpha bravo charlie delta echo"),
      (2L, "foxtrot golf hotel india juliet")).toDF("doc_id", "text")
    val index = Dedup.corpusShingleIndex(corpus, n = 3)
    val batch = Seq(
      (10L, "alpha bravo charlie delta echo"),   // fully known
      (11L, "kilo lima mike november oscar"),    // fully new
      (12L, "kilo lima mike november oscar")     // intra-batch copy: still new
    ).toDF("doc_id", "text")
    val out = Dedup.ngramNoveltyAgainst(batch, index, n = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(10L) == 0.0, s"known doc must score 0: $out")
    assert(out(11L) == 1.0 && out(12L) == 1.0,
      s"new docs score 1 against the CORPUS (batch does not self-count): $out")
  }

  test("temperature weights: alpha=1 recovers shares, alpha=0 is uniform") {
    import graft.operators.Sampling
    val rows = (1 to 90).map(i => (i.toLong, "big", 10L)) ++
      (1 to 10).map(i => (100L + i, "small", 10L))
    val df = rows.toDF("id", "grp", "n")
    def w(alpha: Double): Map[String, (Double, Double, Double)] =
      Sampling.temperatureWeights(df, "grp", col("n"), alpha).collect()
        .map(r => r.getString(0) ->
          ((r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    val prop = w(1.0)
    assert(prop("big") == ((0.9, 0.9, 1.0)) &&
      prop("small") == ((0.1, 0.1, 1.0)), s"alpha=1 must be proportional: $prop")
    val unif = w(0.0)
    assert(unif("big")._2 == 0.5 && unif("small")._2 == 0.5,
      s"alpha=0 must be uniform: $unif")
    assert(unif("small")._3 == 5.0, // 0.5 / 0.1
      s"boost must be weight/share: $unif")
    // the balancing regime: 0 < alpha < 1 upsamples the small group
    val mid = w(0.3)
    assert(mid("small")._2 > 0.1 && mid("small")._2 < 0.5, s"mid-alpha: $mid")
  }

  test("bitext margin: the exclusive pair outranks pairs to a hub neighbor") {
    // y0 is a HUB: moderately similar to every x2..x6 — raw cosine
    // would rank those pairs near the top; the margin criterion
    // divides by the hub's inflated backward neighborhood mean, so the
    // exclusive x1↔y1 match must win
    val rnd = new scala.util.Random(13L)
    val y1 = Array(1.0, 0.0, 0.0)
    val hub = Array(0.5, 0.5, 0.5)
    val x1 = Array(0.995, 0.1, 0.0)
    val xs = (2L to 6L).map(i =>
      (i, hub.map(_ + rnd.nextGaussian() * 0.08)))
    val a = ((1L, x1) +: xs).toDF("vec_id", "embedding")
    val b = Seq((100L, hub), (101L, y1),
      (102L, Array(0.45, 0.55, 0.5)), (103L, Array(0.55, 0.45, 0.5)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bitextMarginPairs(a, b, k = 3, topN = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(out.head._1 == 1L && out.head._2 == 101L,
      s"exclusive pair should rank first: ${out.mkString(",")}")
    assert(out.tail.forall(_._3 < out.head._3),
      s"hub pairs must not outrank the exclusive match: ${out.mkString(",")}")
    graft.core.CacheHygiene.releaseAll(spark)
  }

  test("centroid outliers: the planted far vector ranks first in its group") {
    // group A: 30 vectors near +x, one planted at -x (the outlier);
    // group B: vectors near +y — must not absorb A's outlier
    val rnd = new scala.util.Random(7L)
    def near(base: Array[Double]): Array[Double] =
      base.map(_ + rnd.nextGaussian() * 0.05)
    val a = (1L to 30L).map(i => (i, "A", near(Array(1.0, 0.0, 0.0))))
    val b = (31L to 60L).map(i => (i, "B", near(Array(0.0, 1.0, 0.0))))
    val planted = Seq((99L, "A", Array(-1.0, 0.05, 0.0)))
    val vecs = (a ++ b ++ planted).toDF("vec_id", "grp", "embedding")
    val out = Similarity.centroidOutliers(vecs, "grp", k = 3, idCol = "vec_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.count(_._1 == "A") == 3 && out.count(_._1 == "B") == 3,
      s"k per group: ${out.mkString(",")}")
    val worstA = out.filter(_._1 == "A").minBy(_._3)
    assert(worstA._2 == 99L && worstA._3 < 0,
      s"planted outlier should be farthest in A: ${out.mkString(",")}")
    graft.core.CacheHygiene.releaseAll(spark)
  }

  test("bitext IVF margin: probe-all equals exact; pruned probes keep the top pairs") {
    // probe-all (nProbe = nCells) scores every cross pair — the IVF
    // plumbing must reproduce the exact operator's output exactly
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val a = e.filter(col("label") < 5 && col("vec_id") < 200)
    val b = e.filter(col("label") >= 5 && col("vec_id") < 200)
    val exact = Similarity.bitextMarginPairs(a, b, k = 4, topN = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val probeAll = Similarity.bitextMarginPairsIvf(a, b, k = 4, topN = 20,
      nCells = 6, nProbe = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(probeAll.toSeq == exact.toSeq,
      s"probe-all IVF must equal exact:\n$probeAll\nvs\n$exact")
    // pruned probes (half the cells): the mined pair set stays
    // dominated by the exact top pairs — measured 0.80 on this corpus
    // (16/20), floor 0.7
    val pruned = Similarity.bitextMarginPairsIvf(a, b, k = 4, topN = 20,
      nCells = 6, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = exact.count(p => pruned((p._1, p._2))) / 20.0
    assert(overlap >= 0.7, s"pruned-probe overlap $overlap")
    graft.core.CacheHygiene.releaseAll(spark)
  }

  test("maxSim pruned: probe-all equals exact; half-probe keeps most of top-k") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 8)
    val c = e.filter(col("vec_id") >= 8 && col("vec_id") < 300)
    val exact = Similarity.maxSim(q, c, k = 5, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val probeAll = Similarity.maxSimPruned(q, c, k = 5, dim = 64,
      nCells = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(probeAll.toSeq == exact.toSeq,
      "probe-all pruned MaxSim must equal the exact operator row-for-row")
    val pruned = Similarity.maxSimPruned(q, c, k = 5, dim = 64,
      nCells = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val overlap = exact.count(p => pruned((p._1, p._3))).toDouble / exact.length
    assert(overlap >= 0.5, s"half-probe top-k overlap $overlap below floor")
    graft.core.CacheHygiene.releaseAll(spark)
  }

  test("mmr: an exact duplicate of the first pick loses to a diverse candidate") {
    // query 0 at +x; candidate 1 most relevant; 2 an EXACT duplicate
    // of 1 (only the id differs); 3 slightly less relevant but
    // diverse. Pure relevance would pick (1, 2); at λ = 1/2 the
    // duplicate's max-sim penalty (1.0) must hand step 2 to 3.
    val vecs = Seq(
      (0L, Array(1.0, 0.0, 0.0)),
      (1L, Array(0.995, 0.0999, 0.0)),
      (2L, Array(0.995, 0.0999, 0.0)),
      (3L, Array(0.97, 0.0, 0.2431))
    ).toDF("vec_id", "embedding")
    val out = Similarity.mmrSelect(vecs, queryId = 0L, k = 2,
      lamNum = 1, lamDen = 2)
      .orderBy("step").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._2).toSeq == Seq(1L, 3L),
      s"expected picks (1, 3): ${out.mkString(",")}")
    // step 1 is pure relevance on the basis-point grid: 1·round(sim·1e4)
    assert(out.head._3 > 9900L && out.head._3 <= 10000L)
    graft.core.CacheHygiene.releaseAll(spark)
  }

  test("label audit: the planted mislabel is flagged with a 0-vote own label") {
    // cluster at +x labeled 0 (except vec 3, planted label 1) and
    // cluster at +y labeled 1; with k = 2, vec 3's neighbors are 1, 2
    // (both label 0) so its majority vote contradicts its own label
    val vecs = Seq(
      (1L, Array(1.0, 0.01, 0.0), 0),
      (2L, Array(1.0, 0.02, 0.0), 0),
      (3L, Array(1.0, 0.03, 0.0), 1),
      (4L, Array(0.0, 1.0, 0.01), 1),
      (5L, Array(0.0, 1.0, 0.02), 1),
      (6L, Array(0.0, 1.0, 0.03), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelAudit(vecs, k = 2, queryFilter = lit(true))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))).toMap
    assert(out(3L) == ((1L, 0L, 2L, 0L, true)),
      s"planted mislabel: ${out(3L)}")
    assert(!out(4L)._5 && !out(5L)._5 && !out(6L)._5)
    // vec 1's neighbors are 2 (label 0) and 3 (label 1): a 1-1 tie
    // breaks to the smaller label, agreeing with its own
    assert(out(1L) == ((0L, 0L, 1L, 1L, false)), s"tie-break: ${out(1L)}")
    graft.core.CacheHygiene.releaseAll(spark)
  }

  test("trigram LM: hand-computed JM interpolation on a two-word loop") {
    // "a b a b a b" → 4 trigram events: (a,b,a)×2, (b,a,b)×2.
    // Every ML term is 1 except the unigram (2/4), so each event has
    // p = 0.6 + 0.3 + 0.1·0.5 = 0.95 and avg_nll = −ln(0.95).
    val d = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    val out = graft.operators.NgramLm.trigramScores(d).collect()
    assert(out.length == 1)
    assert(out.head.getLong(1) == 4L)
    assert(math.abs(out.head.getDouble(2) - (-math.log(0.95))) < 1e-12,
      s"avg_nll ${out.head.getDouble(2)}")
    graft.core.CacheHygiene.releaseAll(spark)
  }

  test("zipf profile: 1/r corpus slopes near -1, uniform corpus near 0") {
    // zipfy: token w_r appears floor(120/r) times (r = 1..20);
    // uniform: 10 tokens, 12 occurrences each
    val zipfy = (1 to 20).flatMap(r => Seq.fill(120 / r)(s"w$r")).mkString(" ")
    val uniform = (1 to 10).flatMap(r => Seq.fill(12)(s"u$r")).mkString(" ")
    val d = Seq((1L, zipfy, "zipfy"), (2L, uniform, "flat"))
      .toDF("doc_id", "text", "source")
    val out = graft.operators.CorpusStats.zipfProfile(d, "source", zipfK = 50)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(4), r.getLong(5),
          r.getDouble(6)))).toMap
    val (nTok, nVoc, topTok, topF, slope) = {
      val t = out("zipfy"); (t._1, t._2, t._3, t._4, t._5)
    }
    assert(nTok == (1 to 20).map(120 / _).sum.toLong && nVoc == 20L)
    assert(topTok == "w1" && topF == 120L)
    assert(slope < -0.85 && slope > -1.1, s"zipf slope $slope")
    assert(math.abs(out("flat")._5) < 1e-9, s"uniform slope ${out("flat")._5}")
    graft.core.CacheHygiene.releaseAll(spark)
  }

  test("group overlap: shared shingles count once per source pair") {
    val d = Seq(
      (1L, "a b c d e", "s1"),
      (2L, "a b c x y", "s2"),
      (3L, "p q r s t", "s3")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.groupOverlap(d, groupCol = "source", n = 3).collect()
    assert(out.length == 1, s"only s1-s2 overlap: ${out.mkString(",")}")
    val r = out.head
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getDouble(5)) == (("s1", "s2", 1L, 3L, 3L, 0.2)))
    graft.core.CacheHygiene.releaseAll(spark)
  }

  test("hamming nBits guard: zero and negative bit widths fail fast") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    // nBits <= 0 would silently sign every vector to 0 (a degenerate
    // scan) without the parenthesized guard — must throw instead
    for (bad <- Seq(0, -64)) {
      intercept[IllegalArgumentException] {
        Similarity.knnHamming(e, 5, col("id") < 5, nBits = bad)
      }
      intercept[IllegalArgumentException] {
        Similarity.knnIvfHamming(e, 5, nCells = 4, nProbe = 2,
          col("id") < 5, nBits = bad)
      }
    }
    // non-multiple above 64 still rejected; small widths still allowed
    intercept[IllegalArgumentException] {
      Similarity.knnHamming(e, 5, col("id") < 5, nBits = 100)
    }
  }

  test("mmr: k beyond the candidate pool stops early; a missing query id " +
      "fails with a descriptive error") {
    val vecs = Seq(
      (0L, Array(1.0, 0.0)),
      (1L, Array(0.9, 0.1)),
      (2L, Array(0.1, 0.9))
    ).toDF("vec_id", "embedding")
    // only 2 candidates exist (query excluded): k = 5 returns 2 rows
    val out = Similarity.mmrSelect(vecs, queryId = 0L, k = 5,
      lamNum = 1, lamDen = 2).orderBy("step").collect()
    assert(out.length == 2, s"expected 2 picks, got ${out.length}")
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val ex = intercept[IllegalArgumentException] {
      Similarity.mmrSelect(vecs, queryId = 99L, k = 1)
    }
    assert(ex.getMessage.contains("99"), ex.getMessage)
    graft.core.CacheHygiene.releaseAll(spark)
  }
}
