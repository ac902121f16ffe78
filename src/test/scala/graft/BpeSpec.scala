package graft

import org.apache.spark.sql.functions._

import graft.operators.Bpe

/** BPE trainer: fold-merge semantics, determinism, and equality with
  * an independent in-memory reference implementation.
  */
class BpeSpec extends SparkTestBase {

  import spark.implicits._

  /** Straight-line reference BPE (Sennrich et al.): in-memory vocab,
    * argmax by (count desc, left, right), greedy left-to-right merge.
    * Written against the paper, not against the operator under test.
    */
  private def referenceTrain(words: Seq[String], nMerges: Int): Seq[(String, String)] = {
    val freq = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
    var vocab: Map[Seq[String], Long] =
      freq.map { case (w, f) => w.map(_.toString).toSeq -> f }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var i = 0
    var done = false
    while (i < nMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + f
        }
      }
      if (counts.isEmpty) done = true
      else {
        val (a, b) = counts.toSeq
          .sortBy { case ((l, r), n) => (-n, l, r) }.head._1
        merges += ((a, b))
        vocab = vocab.map { case (syms, f) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          syms.foreach { s =>
            if (out.nonEmpty && out.last == a && s == b) out(out.length - 1) = a + b
            else out += s
          }
          out.toSeq -> f
        }
      }
      i += 1
    }
    merges.toSeq
  }

  private val corpus = Seq(
    "low low low low low", "lower lower", "newest newest newest",
    "newest newest newest", "widest widest", "low lower newest")

  test("mergePair fold: overlap and repetition semantics") {
    val df = Seq(Seq("a", "a", "a"), Seq("a", "b", "a", "b"), Seq("x"))
      .toDF("syms")
    val got = df.select(Bpe.mergePair(col("syms"), "a", "a").as("m"))
      .collect().map(_.getSeq[String](0)).toSeq
    assert(got.head == Seq("aa", "a")) // non-overlapping
    assert(got(1) == Seq("a", "b", "a", "b"))
    val got2 = df.select(Bpe.mergePair(col("syms"), "a", "b").as("m"))
      .collect().map(_.getSeq[String](0)).toSeq
    assert(got2(1) == Seq("ab", "ab")) // both occurrences merge in one pass
  }

  test("BpeMerges compiles under CODEGEN_ONLY and equals encodeWord") {
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      import graft.functions.expressions.BpeMerges
      val merges = Seq(("l", "o"), ("lo", "w"), ("e", "s"), ("es", "t"))
      val words = Seq("low", "lowest", "slow", "x", "")
      val got = words.map(w => (w, w.map(_.toString)))
        .toDF("w", "syms")
        .select(col("w"), BpeMerges.merge(col("syms"),
          typedlit(merges.map(_._1)), typedlit(merges.map(_._2))).as("m"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      words.foreach { w =>
        assert(got(w) == Bpe.encodeWord(w, merges), s"word '$w'")
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
        case None => spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("BpeMerges equals the driver-side reference on 400 randomized cases") {
    import graft.functions.expressions.BpeMerges
    val rnd = new scala.util.Random(2026)
    val alphabet = Vector("a", "b", "c")
    // reference: encodeWord's loop over arbitrary start symbols
    def ref(syms: Seq[String], merges: Seq[(String, String)]): Seq[String] = {
      var cur = syms
      merges.foreach { case (a, b) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        cur.foreach { s =>
          if (out.nonEmpty && out.last == a && s == b)
            out(out.length - 1) = a + b
          else out += s
        }
        cur = out.toSeq
      }
      cur
    }
    def tok(): String =
      (0 until 1 + rnd.nextInt(2)).map(_ => alphabet(rnd.nextInt(3))).mkString
    val cases = (0 until 400).map { i =>
      val syms = Seq.fill(rnd.nextInt(13))(alphabet(rnd.nextInt(3)))
      val merges = Seq.fill(rnd.nextInt(7))((tok(), tok()))
      (i.toLong, syms, merges.map(_._1), merges.map(_._2))
    }
    val got = cases.toDF("i", "syms", "ls", "rs")
      .select(col("i"),
        BpeMerges.merge(col("syms"), col("ls"), col("rs")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    cases.foreach { case (i, syms, ls, rs) =>
      assert(got(i) == ref(syms, ls.zip(rs)),
        s"case $i: syms=$syms merges=${ls.zip(rs)}")
    }
  }

  test("train matches the independent reference on every merge") {
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val words = corpus.flatMap(_.split(" "))
    val (merges, finalVocab) = Bpe.train(docs, nMerges = 12)
    assert(merges == referenceTrain(words, 12), s"got $merges")
    // the final distributed symbol sequences equal encodeWord's replay
    val syms = finalVocab.select("w", "syms").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    syms.foreach { case (w, s) =>
      assert(s == Bpe.encodeWord(w, merges), s"word $w")
    }
  }

  test("batched merge learning equals the reference on randomized corpora") {
    // train() batches provably-independent merges per round; the
    // learned list must still equal the strictly sequential reference
    // on corpora engineered to mix ties, shared-symbol conflicts, and
    // merge-created pairs (small alphabet => dense interactions).
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 5) {
      val words = Seq.fill(30 + rnd.nextInt(40))(
        (0 until 1 + rnd.nextInt(6))
          .map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
        .filter(_.nonEmpty)
      val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val (batched, _) = Bpe.train(docs, 15)
      assert(batched == referenceTrain(words, 15),
        s"trial $trial words=$words")
    }
  }

  test("batched and maxBatch=1 training learn the identical list") {
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val (batched, _) = Bpe.train(docs, 12)
    val (sequential, _) = Bpe.train(docs, 12, maxBatch = 1)
    assert(batched == sequential)
  }

  test("training is partitioning-independent") {
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val (m1, _) = Bpe.train(docs, 6)
    val (m2, _) = Bpe.train(docs.repartition(7), 6)
    assert(m1 == m2)
  }

  test("encode: distributed inference equals encodeWord per word") {
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val (merges, _) = Bpe.train(docs, nMerges = 12)
    val encoded = Bpe.applyMerges(
      docs.select(explode(split(col("text"), " ")).as("w")).distinct()
        .withColumn("syms",
          transform(sequence(lit(1), length(col("w"))),
            i => col("w").substr(i, lit(1)))),
      merges)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    encoded.foreach { case (w, s) =>
      assert(s == Bpe.encodeWord(w, merges), s"word $w")
    }
    // per-doc counts: "low low low low low" -> 5 words; after training,
    // "low" is a single symbol (top merges collapse it), so n_bpe_syms
    // equals 5 * |encodeWord("low")|
    val row = Bpe.encode(docs, merges).filter(col("doc_id") === 0L).head()
    val lowLen = Bpe.encodeWord("low", merges).length.toLong
    assert(row.getAs[Long]("n_tokens") == 5L)
    assert(row.getAs[Long]("n_bpe_syms") == 5L * lowLen)
  }

  test("pair exhaustion stops early instead of looping") {
    val docs = Seq((1L, "ab ab")).toDF("doc_id", "text")
    // "ab" collapses to one symbol after 1 merge; no pairs remain
    val (merges, _) = Bpe.train(docs, 10)
    assert(merges == Seq(("a", "b")))
  }
}
