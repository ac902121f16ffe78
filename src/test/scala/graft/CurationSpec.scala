package graft

import org.apache.spark.sql.functions._

import graft.operators.{Cdc, Dsir, QualityRules, Winnowing}

/** Round-8 curation operators: Gopher-rule quality gates, DSIR
  * importance resampling, winnowing fingerprints, content-defined
  * chunking. Each test pins the operator's defining property (the
  * paper guarantee), not just an example output.
  */
class CurationSpec extends SparkTestBase {

  import spark.implicits._

  // ----------------------------------------------------------- gopher

  private lazy val prose = (
    "the cat and the dog have to be friends with all of " +
      "the other animals that live in the old house by the river " +
      "and they all agree that winter mornings are best spent " +
      "sleeping by the fire while the wind blows over the hills " +
      "and the snow settles on the quiet garden paths outside")

  test("gopher rules: running prose passes every rule") {
    val out = QualityRules.gopher(Seq((1L, prose)).toDF("doc_id", "text"))
      .collect().head
    for (r <- Seq("r_word_count", "r_word_len", "r_symbol", "r_bullet",
        "r_ellipsis", "r_alpha", "r_stop"))
      assert(out.getAs[Boolean](r), s"$r failed on clean prose")
    assert(out.getAs[Boolean]("keep"))
  }

  test("gopher rules: each degenerate shape fails its own rule") {
    val docs = Seq(
      (1L, "too short to pass"), // < 50 words
      (2L, prose + " ##### ## # # # # # # # # # # # # # # # # # # # # # " +
        "# # # # # #"), // symbol-heavy
      (3L, (1 to 60).map(_ => "7").mkString(" ")), // numeric words: alpha fails
      (4L, (1 to 60).map(_ => "antidisestablishmentarianism").mkString(" ")),
      (5L, Seq.fill(10)("- bullet line of the list with the words").mkString("\n"))
    ).toDF("doc_id", "text")
    val rows = QualityRules.gopher(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!rows(1L).getAs[Boolean]("r_word_count"))
    assert(!rows(2L).getAs[Boolean]("r_symbol"))
    assert(!rows(3L).getAs[Boolean]("r_alpha"))
    assert(!rows(3L).getAs[Boolean]("r_stop"))
    assert(!rows(4L).getAs[Boolean]("r_word_len"), "28-char words exceed mean 10")
    assert(!rows(5L).getAs[Boolean]("r_bullet"))
    assert(rows.values.forall(r => !r.getAs[Boolean]("keep")))
  }

  test("gopher rules: r_stop needs DISTINCT stop words, not repeats of one") {
    // Rae et al. 2021 A1.1: "at least 2 of the stop words" means two
    // DIFFERENT stop words — 60 repeats of "the" alone are not prose.
    val docs = Seq(
      (1L, (1 to 60).map(_ => "the").mkString(" ")),       // 60× one stop word
      (2L, ("the and " + (1 to 58).map(_ => "fox").mkString(" ")))
    ).toDF("doc_id", "text")
    val rows = QualityRules.gopher(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Long]("stop_hits") == 60L)
    assert(rows(1L).getAs[Long]("stop_distinct") == 1L)
    assert(!rows(1L).getAs[Boolean]("r_stop"))
    assert(rows(2L).getAs[Long]("stop_distinct") == 2L)
    assert(rows(2L).getAs[Boolean]("r_stop"))
  }

  test("gopher rules: verdicts are integer-exact at the boundary") {
    // Exactly 50 words of exactly 3 chars each: both rules sit ON the
    // boundary and must pass (>=, <= are inclusive) — the integer
    // cross-multiplication means no FP epsilon can flip them.
    val text = (Seq("the", "and") ++ Seq.fill(48)("fox")).mkString(" ")
    val out = QualityRules.gopher(Seq((1L, text)).toDF("doc_id", "text"))
      .collect().head
    assert(out.getAs[Long]("n_words") == 50L)
    assert(out.getAs[Boolean]("r_word_count"))
    assert(out.getAs[Boolean]("r_word_len"))
  }

  // -------------------------------------------------------- winnowing

  // ------------------------------------------------------- repetition

  test("repetition: hand-computed n-gram coverage and verdicts") {
    // tokens: "a b a b c" → 2-grams: "a b"(2), "b a"(1), "b c"(1);
    // top coverage = 2 × len("a b") = 2×3 = 6; stream = "a b a b c" (9)
    // 3-grams: "a b a", "b a b", "a b c" — all unique → dup = 0
    val out = QualityRules.repetition(
      Seq((1L, "a b a b c")).toDF("doc_id", "text"),
      dupN = 3, maxDupBp = 1000).collect().head
    assert(out.getAs[Long]("n_words") === 5L)
    assert(out.getAs[Long]("stream_chars") === 9L)
    assert(out.getAs[Long]("top_chars") === 6L)
    assert(out.getAs[Long]("dup_chars") === 0L)
    assert(out.getAs[Double]("top2gram_frac") === 0.6667)
    // 0.6667 > the 0.20 band → r_top fails, keep false
    assert(!out.getAs[Boolean]("r_top") && out.getAs[Boolean]("r_dup"))
    assert(!out.getAs[Boolean]("keep"))
  }

  test("repetition: duplicated dupN-gram coverage counts every occurrence") {
    // "x y z w v" twice → the five 3-grams spanning the repeat junction
    // appear once, the three inside each copy twice. dup coverage =
    // Σ c·len over grams with c=2 = 2·(5+5+5) = 30; stream = 19 chars.
    val out = QualityRules.repetition(
      Seq((1L, "x y z w v x y z w v")).toDF("doc_id", "text"),
      dupN = 3, maxDupBp = 1000).collect().head
    assert(out.getAs[Long]("dup_chars") === 30L)
    assert(!out.getAs[Boolean]("r_dup"))
  }

  test("repetition: docs shorter than n words emit 0 coverage, keep=true") {
    val out = QualityRules.repetition(
      Seq((1L, "one")).toDF("doc_id", "text")).collect().head
    assert(out.getAs[Long]("top_chars") === 0L)
    assert(out.getAs[Long]("dup_chars") === 0L)
    assert(out.getAs[Boolean]("keep"))
  }

  test("lineRepetition: duplicate line and paragraph fractions") {
    val text = "alpha beta\nalpha beta\ngamma\n\npara one\n\npara one"
    // lines: [alpha beta, alpha beta, gamma, para one, para one] → 5,
    // distinct 3 → dup_line_frac (5-3)/5 = 0.4; line chars 41, distinct
    // 23 → char frac 18/41 = 0.439. paragraphs: [alpha beta\nalpha
    // beta\ngamma, para one, para one] → 3, distinct 2 → frac 1/3.
    val out = QualityRules.lineRepetition(
      Seq((1L, text)).toDF("doc_id", "text")).collect().head
    assert(out.getAs[Long]("n_lines") === 5L)
    assert(out.getAs[Double]("dup_line_frac") === 0.4)
    assert(out.getAs[Double]("dup_line_char_frac") === 0.439)
    assert(out.getAs[Long]("n_paras") === 3L)
    assert(out.getAs[Double]("dup_para_frac") === 0.3333)
  }

  test("winnowing: shared substring of length k+w-1 guarantees a shared fp") {
    // Paper guarantee: any common substring of length >= k + w - 1
    // (= 11 at k=8, w=4) produces at least one common selected hash.
    val common = "zqxjkvwpbyfgm" // 13 distinct-ish chars, > 11
    val docs = Seq(
      (1L, s"aaaa bbbb $common cccc dddd eeee ffff gggg hhhh iiii"),
      (2L, s"tttt uuuu vvvv wwww xxxx $common yyyy zzzz qqqq rrrr"),
      (3L, "totally unrelated content with no overlap at all here"))
      .toDF("doc_id", "text")
    val pairs = Winnowing.sharedPairs(docs, minShared = 1)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs.contains((1L, 2L)), s"guaranteed pair missing: $pairs")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("winnowing: density near 2/(w+1) and digest is content-determined") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val out = Winnowing.fingerprints(d).collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val g = r.getAs[Long]("n_grams")
      val f = r.getAs[Long]("n_fps")
      assert(f >= 1 && f <= g)
      // windows = g - w + 1; distinct minima within [windows/w, windows]
      val windows = math.max(g - 3, 1L)
      assert(f <= windows)
      assert(f >= windows / 8, s"implausibly sparse: $f of $windows windows")
    }
    // identical text -> identical fingerprint digest
    val dup = Seq((1L, prose), (2L, prose)).toDF("doc_id", "text")
    val digs = Winnowing.fingerprints(dup).select("fp_digest")
      .collect().map(_.getString(0))
    assert(digs(0) == digs(1))
  }

  test("winnowing: shorter-than-k text yields the empty fingerprint") {
    val out = Winnowing.fingerprints(
      Seq((1L, "ab")).toDF("doc_id", "text")).collect().head
    assert(out.getAs[Long]("n_grams") == 0L)
    assert(out.getAs[Long]("n_fps") == 0L)
  }

  // -------------------------------------------------------------- cdc

  test("cdc: chunks tile the document exactly") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val byDoc = Cdc.chunks(d)
      .groupBy("doc_id")
      .agg(sum("chunk_len").as("total"), count(lit(1)).as("n_chunks"),
        max(col("start_pos") + col("chunk_len") - 1).as("last_end"))
      .join(d.select(col("doc_id"), length(col("text")).cast("long").as("n")),
        "doc_id")
    assert(byDoc.filter(col("total") =!= col("n")).count() == 0)
    assert(byDoc.filter(col("last_end") =!= col("n")).count() == 0)
  }

  test("cdc: boundaries survive a prefix edit (the content-defined property)") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(length(col("text")) > 200).limit(5)
    val shifted = d.select((col("doc_id") + 100000L).as("doc_id"),
      concat(lit("EDIT "), col("text")).as("text"))
    val both = d.select(col("doc_id"), col("text")).union(shifted)
    val ch = Cdc.chunks(both)
    // every original doc must share at least one chunk fp with its
    // prefix-edited copy — fixed-size blocking would share none
    val shares = ch.as("a").join(ch.as("b"),
        col("a.doc_id") + 100000L === col("b.doc_id") &&
          col("a.chunk_fp") === col("b.chunk_fp"))
      .select(col("a.doc_id")).distinct().count()
    assert(shares == 5, s"only $shares/5 docs re-aligned after prefix edit")
  }

  test("cdc: duplicate accounting marks one canonical copy per fp") {
    val d = Seq((1L, prose), (2L, prose), (3L, "tiny")).toDF("doc_id", "text")
    val ch = Cdc.chunks(d).collect()
    val byFp = ch.groupBy(_.getAs[String]("chunk_fp"))
    for ((_, rows) <- byFp)
      assert(rows.count(_.getAs[Boolean]("is_first")) == 1)
    // doc 3 shorter than the window: one whole-doc chunk
    val tiny = ch.filter(_.getAs[Long]("doc_id") == 3L)
    assert(tiny.length == 1 && tiny.head.getAs[Long]("chunk_len") == 4L)
    // docs 1 and 2 are identical: every chunk fp has 2 copies
    assert(ch.filter(_.getAs[Long]("doc_id") == 1L)
      .forall(_.getAs[Long]("n_copies") == 2L))
  }

  // ------------------------------------------------------------- dsir

  test("dsir: docs resembling the target outrank docs resembling the raw pool") {
    val target = (1 to 10).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta eta theta", true))
    val rawLikeTarget = (11 to 13).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta", false))
    val rawOther = (14 to 20).map(i =>
      (i.toLong, "omega psi chi phi upsilon tau sigma rho", false))
    val docs = (target ++ rawLikeTarget ++ rawOther)
      .toDF("doc_id", "text", "is_t")
    val out = Dsir.importanceWeights(docs, col("is_t"), selectK = 13)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("log_w"), r.getAs[Boolean]("selected"))).toMap
    val likeT = (11 to 13).map(i => out(i.toLong)._1)
    val other = (14 to 20).map(i => out(i.toLong)._1)
    assert(likeT.min > other.max,
      s"target-like raw docs should outscore: $likeT vs $other")
    assert((11 to 13).forall(i => out(i.toLong)._2))
    assert((14 to 20).forall(i => !out(i.toLong)._2))
  }

  // ------------------------------------------------------ unigram lm

  test("unigram lm: every document is segmentable and Viterbi beats singles") {
    import graft.operators.UnigramLm
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val out = UnigramLm.encode(d).collect()
    assert(out.length == d.count())
    for (r <- out) {
      val n = r.getAs[Long]("n_chars")
      val t = r.getAs[Long]("n_tokens")
      val c = r.getAs[Long]("total_cost")
      assert(t >= 1 && t <= n, s"tokens $t out of [1, $n]")
      assert(c > 0 && c < UnigramLm.Inf / UnigramLm.Shift)
      // a corpus with any repeated multi-char piece must compress
      assert(t < n, s"doc ${r.getAs[Long]("doc_id")} never used a multi-char piece")
    }
  }

  test("unigram lm: Viterbi total cost is minimal on a hand-checkable corpus") {
    import graft.operators.UnigramLm
    // "ababab" ×many: pieces 'ab'/'abab' dominate; verify against a
    // brute-force DP in Scala over the same integer costs.
    val docs = (1 to 12).map(i => (i.toLong, "ab" * (i % 4 + 2)))
      .toDF("doc_id", "text")
    val vocab = UnigramLm.pieceVocab(docs, minCount = 5).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("cost")).toMap
    // all 1-grams present regardless of count
    assert(vocab.contains("a") && vocab.contains("b"))
    val out = UnigramLm.encode(docs, minCount = 5).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("total_cost"), r.getAs[Long]("n_tokens"))).toMap
    for ((id, text) <- (1 to 12).map(i => (i.toLong, "ab" * (i % 4 + 2)))) {
      val n = text.length
      // brute force: dp over positions, same packed lexicographic min
      val dp = Array.fill(n + 1)(Long.MaxValue / 4)
      dp(0) = 0L
      for (i <- 1 to n; j <- 1 to math.min(4, i)) {
        val piece = text.substring(i - j, i)
        vocab.get(piece).foreach { c =>
          if (dp(i - j) < Long.MaxValue / 4) {
            val cand = dp(i - j) + c * UnigramLm.Shift + 1
            if (cand < dp(i)) dp(i) = cand
          }
        }
      }
      assert(out(id) == ((dp(n) / UnigramLm.Shift, dp(n) % UnigramLm.Shift)),
        s"doc $id: engine ${out(id)} vs brute ${(dp(n) / UnigramLm.Shift, dp(n) % UnigramLm.Shift)}")
    }
  }

  test("unigram lm: documents beyond the packing bound return NULL overflow markers") {
    import graft.operators.UnigramLm
    // A doc one char past MaxChars would wrap n_tokens into the cost
    // field under the all-1-gram segmentation; the guard must surface
    // NULLs (explicit overflow) instead of plausible wrong numbers —
    // and must not take the short doc with it. A NULL text keeps its
    // row too, with NULL in every measure.
    val long = "a" * (UnigramLm.MaxChars.toInt + 2)
    val out = UnigramLm.encode(
        Seq((1L, "the cat sat"), (2L, long), (3L, null)).toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    Seq("n_chars", "n_tokens", "total_cost").foreach(c =>
      assert(out(3L).isNullAt(out(3L).fieldIndex(c)), c))
    assert(out(2L).getAs[Long]("n_chars") > UnigramLm.MaxChars)
    assert(out(2L).isNullAt(out(2L).fieldIndex("n_tokens")))
    assert(out(2L).isNullAt(out(2L).fieldIndex("total_cost")))
    assert(!out(1L).isNullAt(out(1L).fieldIndex("n_tokens")))
    assert(out(1L).getAs[Long]("n_tokens") >= 1L)
  }

  test("dsir and unigram lm: token-less documents keep a row instead of vanishing") {
    import graft.operators.{Dsir, UnigramLm}
    // "???" normalizes/tokenizes to nothing — the contract is a row
    // with zero counts and selected=false, NOT a missing doc (a
    // downstream join must see "not selected", never "absent").
    val docs = Seq((1L, prose, true), (2L, "??? !!!", false))
      .toDF("doc_id", "text", "is_t")
    val d = Dsir.importanceWeights(docs, col("is_t"), selectK = 1)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(d.size == 2)
    assert(d(2L).getAs[Long]("n_grams") == 0L)
    assert(!d(2L).getAs[Boolean]("selected"))
    val u = UnigramLm.encode(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(u.size == 2)
    assert(u(2L).getAs[Long]("n_chars") == 0L)
    assert(u(2L).getAs[Long]("n_tokens") == 0L)
    assert(u(2L).getAs[Long]("total_cost") == 0L)
  }

  test("dsir: selection keeps exactly selectK docs") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val out = Dsir.importanceWeights(d, col("lang") === "en", selectK = 20)
    assert(out.filter(col("selected")).count() == 20)
    assert(out.count() == d.count())
  }

  // ----------------------------------------------------------- doremi

  test("doremi: weights form a smoothed distribution that boosts " +
      "excess-loss domains") {
    import graft.operators.Doremi
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
    val rows = Doremi.mixtureWeights(d).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Double]("share"), r.getAs[Double]("excess"),
          r.getAs[Double]("weight"))).toMap
    val nD = rows.size
    assert(nD > 1)
    // proper distribution: Σw = 1; uniform smoothing floors every
    // domain at c/|D|
    assert(math.abs(rows.values.map(_._3).sum - 1.0) < 1e-9)
    assert(rows.values.forall(_._3 >= 0.1 / nD - 1e-12))
    // multiplicative update: the UNSMOOTHED factor ŵ/share =
    // exp(η·excess)/Z is strictly increasing in excess (the smoothing
    // term redistributes absolutely, so weight/share is not)
    val boosted = rows.values.map(v =>
      (v._2, (v._3 - 0.1 / nD) / 0.9 / math.max(v._1, 1e-12)))
    val hi = boosted.maxBy(_._1)
    val lo = boosted.minBy(_._1)
    assert(hi._1 - lo._1 < 1e-12 || hi._2 > lo._2,
      s"excess ${lo._1}→${hi._1} but factor ${lo._2}→${hi._2}")
    // identical domains ⇒ exactly equal weights
    import spark.implicits._
    val twin = Seq((1L, "a", "the cat sat on the mat with the dog"),
      (2L, "b", "the cat sat on the mat with the dog"))
      .toDF("doc_id", "source", "text")
    val w = Doremi.mixtureWeights(twin).collect()
      .map(_.getAs[Double]("weight"))
    assert(w.length == 2 && math.abs(w(0) - w(1)) < 1e-12)
    assert(math.abs(w.sum - 1.0) < 1e-9)
  }

  // ------------------------------------------------------ readability

  test("readability: hand-computed FK/FRE on the integer grid") {
    // 5 words, 2 sentence runs, 6 vowel groups (he-llo, wo-rld, it,
    // is, good) — grid arithmetic checked by hand:
    //   fk100  = (39·5)//2 + (1180·6)//5 − 1559 = 97 + 1416 − 1559 = −46
    //   fre100 = 20684 − (1015·5)//2 − (8460·6)//5
    //          = 20684 − 2537 − 10152 = 7995  → band 'easy'
    val out = QualityRules.readability(
      Seq((1L, "Hello world. It is good.")).toDF("doc_id", "text"))
      .collect().head
    assert(out.getAs[Long]("n_words") == 5L)
    assert(out.getAs[Long]("n_sents") == 2L)
    assert(out.getAs[Long]("n_syll") == 6L)
    assert(out.getAs[Long]("fk100") == -46L)
    assert(out.getAs[Long]("fre100") == 7995L)
    assert(out.getAs[String]("band") == "easy")
  }

  test("readability: polysyllabic run-on prose scores harder") {
    val easy = "The cat sat. The dog ran. It was fun."
    val hard = "Antidisestablishmentarianism incontrovertibly " +
      "characterizes institutionalization notwithstanding " +
      "electroencephalographically unintelligible considerations"
    val rows = QualityRules.readability(
      Seq((1L, easy), (2L, hard)).toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(rows(1L).getAs[Long]("fre100") > rows(2L).getAs[Long]("fre100"))
    assert(rows(1L).getAs[Long]("fk100") < rows(2L).getAs[Long]("fk100"))
    assert(rows(2L).getAs[String]("band") == "hard")
    // empty doc: clamped denominators, no divide-by-zero
    val empty = QualityRules.readability(Seq((3L, "")).toDF("doc_id", "text"))
      .collect().head
    assert(empty.getAs[Long]("n_words") == 0L)
    assert(empty.getAs[Long]("n_sents") == 1L)
  }

  // ------------------------------------------------- boilerplate lines

  test("boilerplate lines: chrome drops, prose survives, hash pins it") {
    val content =
      "This is a long enough content line with lowercase letters here."
    val text = Seq("TITLE IN CAPS", "- bullet item of navigation",
      "   ", content, "short").mkString("\n")
    val out = QualityRules.boilerplateLines(
      Seq((1L, text)).toDF("doc_id", "text")).collect().head
    assert(out.getAs[Long]("n_lines") == 4L) // blank line filtered
    assert(out.getAs[Long]("kept_lines") == 1L)
    assert(out.getAs[Long]("kept_chars") == content.length.toLong)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(content.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(out.getAs[String]("content_hash") == md)
    // all-chrome doc keeps its row with an empty-content hash
    val chrome = QualityRules.boilerplateLines(
      Seq((2L, "NAV\n- a\n- b")).toDF("doc_id", "text")).collect().head
    assert(chrome.getAs[Long]("kept_lines") == 0L)
    assert(chrome.getAs[Double]("kept_char_frac") == 0.0)
  }
}
