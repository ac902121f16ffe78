package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.TextFns
import graft.operators.{Audio, Dedup, Multimodal, Packing, Sampling, Similarity, Video}

/** Training-data pipeline operators over the `documents` and
  * `embeddings` tables (builder mandate): deduplication (exact /
  * n-gram Jaccard / MinHash-LSH / SimHash), text analysis (language
  * ID, quality scoring, token counting, fingerprinting), similarity
  * search (exact kNN, cosine near-dup, LSH ANN), and multimodal
  * binary-column plumbing.
  *
  * Probabilistic-candidate operators are still hash-checked: the ANN
  * queries emit a deterministic recall-vs-exact audit (see annAudit)
  * rather than their raw probabilistic top-k, so the DuckDB oracle can
  * recompute every output column.
  * MinHash-LSH carries the exact-Jaccard oracle directly: its candidates are
  * exact-verified and the banding recall at the dataset's J≥0.9
  * dup separation is 1−(1−J²)^8 ≈ 1−2e-6 (see Dedup.scaladoc), so its
  * output equals the exact operator's on any realistically separated
  * corpus — validated against sf0.01 and sf0.1.
  */
object TrainingData {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Marks a query's multi-consumer persisted intermediates and scopes
    * the code that reads them (round-9 persist-lifecycle decision).
    *
    * Why NOT eager-materialize-and-unpersist here: that variant was
    * built and measured — `body.localCheckpoint(eager = true)` + a
    * `finally` unpersist releases the inputs perfectly, but the
    * checkpoint is its own job (it cannot reuse the action the caller
    * is about to run), a fixed ~0.5-1 s per query at bench scale —
    * +17 s on the 112-query sf0.1 suite, every e-tier query ~2× its
    * round-8 time. A lazy persist has no such release point: anything
    * released before the caller's action just un-caches the reuse the
    * persist exists for.
    *
    * The lifecycle contract instead lives one level up, where the
    * action runs: every in-repo driver (Bench, Verify, RepBench)
    * calls [[graft.core.CacheHygiene.releaseAll]] after each query's
    * action, which drops these persists AND operator-internal
    * checkpoint blocks deterministically — proven by RepBench's e05
    * sf1 spread collapsing from 5.5× (min 3.38 s / med 18.5 s, round
    * 8) to 1.16× after the fix. Long-lived embedding sessions should
    * do the same; see CacheHygiene's scaladoc.
    */
  private def releasing(cached: DataFrame*)(body: => DataFrame): DataFrame = {
    cached.length // the marker exists for the reader; frames release via CacheHygiene
    body
  }

  // DuckDB-side tokenization matching TextFns.tokens.
  private val duckToks =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"

  private def duckVocabHits(vocab: Seq[String]): String =
    s"len(list_filter($duckToks, t -> t IN (${vocab.map("'" + _ + "'").mkString(", ")})))"

  // ---------------------------------------------------------------- t01
  private def t01(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(s, dir)).orderBy("fp")

  private val t01Sql =
    """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY fp""".stripMargin

  // ---------------------------------------------------------------- t02
  // Exact word-3-gram Jaccard near-dup pairs at J >= 0.5 (the planted
  // near-dups sit at J >= 0.9; background noise tops out ~0.07).
  private def t02(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(docs(s, dir), n = 3, threshold = 0.5).orderBy("a", "b")

  private val jaccardOracle =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                             t -> t <> '') AS ts
      |  FROM documents
      |), idx AS (
      |  SELECT doc_id, ts,
      |         unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i
      |  FROM toks
      |), sh AS (
      |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      |  FROM idx
      |), cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |pairs AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
      |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT a, b, round(common * 1.0 / (ca.n + cb.n - common), 4) AS jaccard
      |FROM pairs JOIN cnt ca ON pairs.a = ca.doc_id
      |           JOIN cnt cb ON pairs.b = cb.doc_id
      |WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5
      |ORDER BY a, b""".stripMargin

  // ---------------------------------------------------------------- t03
  // Heuristic language ID: stopword-profile hit counts, argmax with
  // deterministic profile-order tie-break.
  private def t03(s: SparkSession, dir: String): DataFrame = {
    val profs = TextFns.langProfiles
    val scored = profs.foldLeft(docs(s, dir)) { case (df, (l, vocab)) =>
      df.withColumn(s"s_$l", TextFns.vocabHits(col("text"), vocab).cast("long"))
    }
    val pred = profs.map(_._1).foldRight(lit("??"): org.apache.spark.sql.Column) {
      case (l, rest) =>
        val isMax = profs.map(_._1).map(o => col(s"s_$l") >= col(s"s_$o"))
          .reduce(_ && _)
        when(isMax, lit(l)).otherwise(rest)
    }
    scored
      .select(col("doc_id") +: col("lang").as("labeled") +:
        profs.map { case (l, _) => col(s"s_$l") } :+ pred.as("pred"): _*)
      .orderBy("doc_id")
  }

  private val t03Sql = {
    val profs = TextFns.langProfiles
    val scoreCols = profs
      .map { case (l, v) => s"  ${duckVocabHits(v)} AS s_$l" }
      .mkString(",\n")
    val predCase = profs.map(_._1).map { l =>
      val conds = profs.map(_._1).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString(" ")
    s"""WITH scored AS (
       |  SELECT doc_id, lang AS labeled,
       |$scoreCols
       |  FROM documents)
       |SELECT doc_id, labeled, ${profs.map("s_" + _._1).mkString(", ")},
       |  CASE $predCase ELSE '??' END AS pred
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t04
  // Quality scoring: token count, average word length, punctuation
  // ratio, stopword ratio, composite score.
  /** t04's composite quality score over `text` — factored out so the
    * quality-aware dedup representative (t36) elects on EXACTLY the
    * score t04 verifies.
    */
  private def qualityCol: Column = TextFns.qualityScore(col("text"))

  private def t04(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val nToks = size(toks).cast("long")
    val punct = (length(col("text")) -
      length(translate(col("text"), ".,!?;:", ""))).cast("long")
    val nStop = TextFns.vocabHits(col("text"),
      TextFns.langProfiles.head._2).cast("long")
    val safeToks = greatest(nToks, lit(1L))
    docs(s, dir).select(
      col("doc_id"),
      nToks.as("n_tokens"),
      round(length(concat_ws("", toks)).cast("long") / safeToks, 4).as("avg_word_len"),
      punct.as("n_punct"),
      round(nStop / safeToks, 4).as("stop_ratio"),
      qualityCol.as("quality"))
      .orderBy("doc_id")
  }

  private val t04Sql = {
    val en = TextFns.langProfiles.head._2
    s"""WITH f AS (
       |  SELECT doc_id,
       |    len($duckToks) AS n_tokens,
       |    length(coalesce(list_aggregate($duckToks, 'string_agg', ''), '')) AS n_tok_chars,
       |    length(text) - length(translate(text, '.,!?;:', '')) AS n_punct,
       |    length(text) AS n_chars,
       |    ${duckVocabHits(en)} AS n_stop
       |  FROM documents)
       |SELECT doc_id, n_tokens,
       |  round(n_tok_chars * 1.0 / greatest(n_tokens, 1), 4) AS avg_word_len,
       |  n_punct,
       |  round(n_stop * 1.0 / greatest(n_tokens, 1), 4) AS stop_ratio,
       |  round(least(n_tokens, 100) / 100.0
       |        * (1.0 - n_punct * 1.0 / greatest(n_chars, 1))
       |        * (0.5 + 0.5 * n_stop / greatest(n_tokens, 1)), 4) AS quality
       |FROM f ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t05
  // Token counting: whitespace tokens + a BPE-ish regex segmentation
  // (word / number / single non-space symbol).
  private val tokenRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  private def t05(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      size(filter(split(col("text"), "\\s+"), t => t =!= "")).cast("long")
        .as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit(tokenRegex), lit(0))).cast("long")
        .as("re_tokens"))
      .orderBy("doc_id")

  private val t05Sql =
    s"""SELECT doc_id,
       |  len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS ws_tokens,
       |  len(regexp_extract_all(text, '$tokenRegex')) AS re_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t06
  // Document fingerprint: md5 of normalized text.
  private def t06(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextFns.fingerprint(col("text")).as("fp")).orderBy("doc_id")

  private val t06Sql =
    """SELECT doc_id,
      |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t07
  private def t07(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashLsh(docs(s, dir), n = 3, threshold = 0.5).orderBy("a", "b")

  // ---------------------------------------------------------------- t08
  // SimHash near-dup pairs. The banded (4×16-bit) candidate join is
  // pigeonhole-COMPLETE for hamming ≤ 3, so the output is exactly the
  // all-pairs hamming set — and since the per-token hash is md5-derived
  // (Dedup.simHash scaladoc), the oracle restates the entire signature
  // + brute-force hamming pipeline in DuckDB and hash-checks it.
  private def t08(s: SparkSession, dir: String): DataFrame =
    Dedup.simHashPairs(docs(s, dir), maxHamming = 3).orderBy("a", "b")

  private val t08Sql =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest($duckToks) AS tok FROM documents
      |), h AS (
      |  SELECT doc_id, substr(md5(tok), 1, 16) AS hx FROM tok
      |), ks AS (SELECT unnest(generate_series(0, 63)) AS k),
      |contrib AS (
      |  SELECT doc_id, k,
      |    ((strpos('0123456789abcdef', substr(hx, CAST(16 - k // 4 AS INT), 1)) - 1)
      |      >> CAST(k % 4 AS INT)) & 1 AS bit
      |  FROM h CROSS JOIN ks
      |), sig AS (
      |  SELECT doc_id, k, CASE WHEN sum(bit * 2 - 1) > 0 THEN 1 ELSE 0 END AS b
      |  FROM contrib GROUP BY doc_id, k
      |), pairs AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b,
      |    CAST(sum(CASE WHEN x.b <> y.b THEN 1 ELSE 0 END) AS BIGINT) AS hamming
      |  FROM sig x JOIN sig y ON x.k = y.k AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT a, b, hamming FROM pairs WHERE hamming <= 3 ORDER BY a, b""".stripMargin

  // ---------------------------------------------------------------- t09
  // TF-IDF: top-3 terms per document. tf × ln(N/df), deterministic
  // (tfidf desc, term asc) ranking. The scalar corpus size N rides a
  // broadcast cross join — no driver-side count.
  private def t09(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir)
    val tok = d.select(col("doc_id"),
      explode(TextFns.tokens(col("text"))).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("_n"))
    val scored = tf.join(dfq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", col("tf") * log(col("_n") / col("df")))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term"))
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("term"),
        round(col("tfidf"), 4).as("tfidf"))
      .orderBy("doc_id", "rk")
  }

  private val t09Sql =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($duckToks) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
       |), dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n FROM documents),
       |scored AS (
       |  SELECT doc_id, tf.term AS term, tf * ln(n.n * 1.0 / df) AS tfidf
       |  FROM tf JOIN dfq ON tf.term = dfq.term CROSS JOIN n),
       |ranked AS (
       |  SELECT doc_id, term, tfidf,
       |    CAST(row_number() OVER (PARTITION BY doc_id
       |                            ORDER BY tfidf DESC, term) AS BIGINT) AS rk
       |  FROM scored)
       |SELECT doc_id, rk, term, round(tfidf, 4) AS tfidf
       |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // ---------------------------------------------------------------- t10
  // Deterministic stratified sampling: strata by length bucket, keep
  // rates 0.5/0.25/0.125, selection by stable md5 key hash (see
  // Sampling scaladoc for why never rand()). Fully SQL-expressible →
  // hash-checked oracle.
  private def t10(s: SparkSession, dir: String): DataFrame = {
    val stratum = when(length(col("text")) < 1000, "short")
      .when(length(col("text")) < 3000, "mid")
      .otherwise("long")
    Sampling.stratifiedSample(
      docs(s, dir).withColumn("stratum", stratum), col("stratum"), "doc_id",
      Map("short" -> 0.5, "mid" -> 0.25, "long" -> 0.125))
      .select(col("doc_id"), col("stratum"))
      .orderBy("doc_id")
  }

  private val t10Sql =
    """WITH strata AS (
      |  SELECT doc_id,
      |    CASE WHEN length(text) < 1000 THEN 'short'
      |         WHEN length(text) < 3000 THEN 'mid'
      |         ELSE 'long' END AS stratum
      |  FROM documents)
      |SELECT doc_id, stratum FROM strata
      |WHERE substring(md5(doc_id::VARCHAR), 1, 4) <
      |  CASE stratum WHEN 'short' THEN '8000'
      |               WHEN 'mid' THEN '4000' ELSE '2000' END
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t11
  // Weighted dataset mixture: documents at 0.6 + events at 0.05,
  // hash-sampled per source and unioned with a source tag — the LLM
  // data-mixing primitive, reproducible run-over-run.
  private def t11(s: SparkSession, dir: String): DataFrame =
    Sampling.mixture(Seq(
      ("docs", docs(s, dir).select(col("doc_id").as("id"),
        col("text").as("payload")), 0.6),
      ("events", Tables.load(s, dir, "events").select(col("event_id").as("id"),
        col("event_type").as("payload")), 0.05)))
      .orderBy("source", "id")

  private val t11Sql =
    """SELECT * FROM (
      |  SELECT 'docs' AS source, doc_id AS id, text AS payload
      |  FROM documents
      |  WHERE substring(md5(doc_id::VARCHAR), 1, 4) < '999a'
      |  UNION ALL
      |  SELECT 'events' AS source, event_id AS id, event_type AS payload
      |  FROM events
      |  WHERE substring(md5(event_id::VARCHAR), 1, 4) < '0ccd'
      |) ORDER BY source, id""".stripMargin

  // ---------------------------------------------------------------- t12
  // Sequence packing (concat-and-chunk into 2048-token windows). The
  // Spark plan is the two-phase parallel prefix sum (Packing scaladoc);
  // the oracle states the same contract with a plain global window.
  private def t12(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(col("doc_id"),
      size(TextFns.tokens(col("text"))).as("n_tok"))
    Packing.packSummary(
      Packing.packWindows(toks, "doc_id", "n_tok", ctxLen = 2048, bucketSize = 100L),
      "doc_id", "n_tok")
  }

  private val t12Sql =
    s"""WITH tok AS (
       |  SELECT doc_id, len($duckToks) AS n FROM documents
       |), cum AS (
       |  SELECT doc_id, n,
       |    COALESCE(sum(n) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
       |  FROM tok)
       |SELECT CAST(floor(before / 2048) AS BIGINT) AS pack_id,
       |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens,
       |  min(doc_id) AS first_id
       |FROM cum GROUP BY 1 ORDER BY pack_id""".stripMargin

  // ---------------------------------------------------------------- t13
  // PII redaction (email/phone/number-run scrubbing before anything
  // reaches a tokenizer). The corpus has no planted PII, so a
  // deterministic contact footer is appended first — both engines
  // build the identical string, then redact with the identical
  // regexes (TextFns.PiiPatterns; DuckDB needs the 'g' flag to match
  // Spark's replace-all). Output pinned by md5 of the redacted text.
  private def t13(s: SparkSession, dir: String): DataFrame = {
    val withPii = docs(s, dir).select(col("doc_id"),
      concat(col("text"), lit(" contact user"), col("doc_id"),
        lit("@example.com or +1 555 010 "), col("doc_id") % 10000).as("text"))
    withPii.select(
      col("doc_id"),
      TextFns.piiMatchCount(col("text")).as("n_pii"),
      md5(TextFns.redactPii(col("text"))).as("redacted_md5"))
      .orderBy("doc_id")
  }

  private val t13Sql =
    """WITH withpii AS (
      |  SELECT doc_id,
      |    text || ' contact user' || doc_id ||
      |    '@example.com or +1 555 010 ' || (doc_id % 10000) AS text
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(text,
      |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
      |     + len(regexp_extract_all(text,
      |         '\+?[0-9][0-9()\-\. ]{7,14}[0-9]'))
      |     + len(regexp_extract_all(text, '[0-9]{13,16}')) AS BIGINT) AS n_pii,
      |  md5(regexp_replace(regexp_replace(regexp_replace(text,
      |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |        '\+?[0-9][0-9()\-\. ]{7,14}[0-9]', '<PHONE>', 'g'),
      |        '[0-9]{13,16}', '<NUMBER>', 'g')) AS redacted_md5
      |FROM withpii ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t14
  // Per-group quota: cap every `source` at 50 docs chosen in stable
  // hash order — the anti-domination curation op (one shuffle on the
  // group key, per-group top-k, no global sort).
  private def t14(s: SparkSession, dir: String): DataFrame =
    Sampling.groupQuota(docs(s, dir).select(col("doc_id"), col("source")),
      "source", "doc_id", k = 50)
      .orderBy("doc_id")

  private val t14Sql =
    """SELECT doc_id, source FROM (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 50 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t15
  // Benchmark decontamination (Dedup.decontaminate): every 37th doc
  // plays the held-out eval set; corpus docs sharing >= half their
  // 3-gram shingles with it are flagged. The synthetic dup pairs make
  // this non-trivial — dups of "benchmark" docs must be caught.
  private def t15(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.decontaminate(
        corpus = d.filter(col("doc_id") % 37 =!= 0),
        benchmark = d.filter(col("doc_id") % 37 === 0),
        n = 3, minContainment = 0.5)
      .orderBy("doc_id")
  }

  private val t15Sql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                             t -> t <> '') AS ts
      |  FROM documents
      |), idx AS (
      |  SELECT doc_id, ts,
      |         unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i
      |  FROM toks
      |), sh AS (
      |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      |  FROM idx
      |), bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 37 = 0),
      |corp AS (SELECT * FROM sh WHERE doc_id % 37 <> 0),
      |cnt AS (SELECT doc_id, count(*) AS n_sh FROM corp GROUP BY 1),
      |hits AS (
      |  SELECT doc_id, count(*) AS hits FROM corp
      |  WHERE shingle IN (SELECT shingle FROM bench) GROUP BY 1)
      |SELECT h.doc_id, h.hits, c.n_sh,
      |       round(h.hits * 1.0 / c.n_sh, 4) AS containment,
      |       CAST(h.hits * 1.0 / c.n_sh >= 0.5 AS BIGINT) AS contaminated
      |FROM hits h JOIN cnt c USING (doc_id) ORDER BY h.doc_id""".stripMargin

  // ---------------------------------------------------------------- t16
  // Corpus n-gram statistics: top-10 bigrams per language by document
  // frequency (shingles are per-doc distinct, so counts are DF, the
  // robust corpus statistic). One shuffle to count + one window for
  // the per-group top-k — partial aggregation does the heavy lifting
  // at 100 TB; the window only ever sees (langs x distinct bigrams).
  private def t16(s: SparkSession, dir: String): DataFrame = {
    val sh = docs(s, dir)
      .select(col("lang"), TextFns.tokens(col("text")).as("_toks"))
      .select(col("lang"),
        explode(TextFns.shinglesFromTokens(col("_toks"), 2)).as("bigram"))
    val counts = sh.groupBy("lang", "bigram").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("lang")
      .orderBy(col("df").desc, col("bigram").asc)
    counts
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .select("lang", "rk", "bigram", "df")
      .orderBy("lang", "rk")
  }

  private val t16Sql =
    """WITH toks AS (
      |  SELECT doc_id, lang,
      |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                     t -> t <> '') AS ts
      |  FROM documents
      |), idx AS (
      |  SELECT doc_id, lang, ts,
      |         unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS i
      |  FROM toks
      |), sh AS (
      |  SELECT DISTINCT doc_id, lang, ts[i] || ' ' || ts[i+1] AS bigram
      |  FROM idx
      |), counts AS (
      |  SELECT lang, bigram, count(*) AS df FROM sh GROUP BY 1, 2)
      |SELECT lang, rk, bigram, df FROM (
      |  SELECT lang, bigram, df,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY df DESC, bigram) AS rk
      |  FROM counts)
      |WHERE rk <= 10 ORDER BY lang, rk""".stripMargin

  // ---------------------------------------------------------------- t17
  // Repetition-based quality filter (the Gopher-rule family): per-doc
  // top-token fraction and duplicate-token fraction, with a keep flag.
  // Distributed shape: explode → two doc_id-keyed aggregations, both
  // with map-side partials; per-doc state is the distinct-token count,
  // never the text.
  private def t17(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
    val cnt = tok.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    cnt.groupBy("doc_id")
      .agg(sum("c").as("n_tok"), count(lit(1)).as("n_distinct"),
        max("c").as("top_c"))
      .select(col("doc_id"), col("n_tok"), col("n_distinct"),
        round(col("top_c") / col("n_tok"), 4).as("top_token_frac"),
        round(lit(1.0) - col("n_distinct") / col("n_tok"), 4)
          .as("dup_token_frac"),
        (col("top_c") / col("n_tok") <= 0.1 &&
          lit(1.0) - col("n_distinct") / col("n_tok") <= 0.85)
          .cast("long").as("keep_doc"))
      .orderBy("doc_id")
  }

  private val t17Sql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                             t -> t <> '') AS ts
      |  FROM documents
      |), tok AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
      |cnt AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
      |st AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
      |         count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_c
      |  FROM cnt GROUP BY 1)
      |SELECT doc_id, n_tok, n_distinct,
      |       round(top_c * 1.0 / n_tok, 4) AS top_token_frac,
      |       round(1 - n_distinct * 1.0 / n_tok, 4) AS dup_token_frac,
      |       CAST(top_c * 1.0 / n_tok <= 0.1
      |            AND 1 - n_distinct * 1.0 / n_tok <= 0.85 AS BIGINT)
      |         AS keep_doc
      |FROM st ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t18
  // Dedup cluster assignment: connected components over the exact
  // n-gram Jaccard pair list (t02's), one row per doc that appears in
  // any near-dup pair, labeled with the min reachable doc id and a
  // keep flag on the representative. The oracle states the same
  // fixpoint as a DuckDB recursive CTE (transitive closure + min) —
  // Spark computes it as O(diameter) join+min rounds, no closure
  // materialization (Dedup.connectedComponents scaladoc).
  private def t18(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
        Dedup.ngramJaccard(docs(s, dir), n = 3, threshold = 0.5))
      .orderBy("doc_id")

  private val t18Sql =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                             t -> t <> '') AS ts
      |  FROM documents
      |), idx AS (
      |  SELECT doc_id, ts,
      |         unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i
      |  FROM toks
      |), sh AS (
      |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      |  FROM idx
      |), cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |common AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
      |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT a, b FROM common
      |  JOIN cnt ca ON common.a = ca.doc_id
      |  JOIN cnt cb ON common.b = cb.doc_id
      |  WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5),
      |edges AS (SELECT a AS u, b AS v FROM p UNION SELECT b, a FROM p),
      |reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
      |SELECT u AS doc_id,
      |  CAST(least(u, min(v)) AS BIGINT) AS component,
      |  CAST(least(u, min(v)) = u AS BIGINT) AS keep_doc
      |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t19
  // Incremental dedup: every 11th doc plays the freshly ingested batch,
  // deduped AGAINST the standing corpus (never corpus-vs-corpus) — the
  // daily-ingest shape where the corpus inverted index is the standing
  // asset and only the batch's shingles shuffle. Same verified-exact
  // Jaccard semantics as t02, restricted to cross-side pairs.
  private def t19(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.ngramJaccardAgainst(
        newDocs = d.filter(col("doc_id") % 11 === 0),
        corpus = d.filter(col("doc_id") % 11 =!= 0),
        n = 3, threshold = 0.5)
      .orderBy("new_id", "corpus_id")
  }

  private val t19Sql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                             t -> t <> '') AS ts
      |  FROM documents
      |), idx AS (
      |  SELECT doc_id, ts,
      |         unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i
      |  FROM toks
      |), sh AS (
      |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      |  FROM idx
      |), nw AS (SELECT * FROM sh WHERE doc_id % 11 = 0),
      |cp AS (SELECT * FROM sh WHERE doc_id % 11 <> 0),
      |cn AS (SELECT doc_id, count(*) AS n FROM nw GROUP BY 1),
      |cm AS (SELECT doc_id, count(*) AS n FROM cp GROUP BY 1),
      |pairs AS (
      |  SELECT x.doc_id AS new_id, y.doc_id AS corpus_id, count(*) AS common
      |  FROM nw x JOIN cp y ON x.shingle = y.shingle GROUP BY 1, 2)
      |SELECT new_id, corpus_id,
      |       round(common * 1.0 / (a.n + b.n - common), 4) AS jaccard
      |FROM pairs JOIN cn a ON pairs.new_id = a.doc_id
      |           JOIN cm b ON pairs.corpus_id = b.doc_id
      |WHERE common * 1.0 / (a.n + b.n - common) >= 0.5
      |ORDER BY new_id, corpus_id""".stripMargin

  // ---------------------------------------------------------------- t20
  // The end-to-end curation pipeline, composed from the library's own
  // stages — the "what a user actually runs" query: length filter →
  // exact dedup (keep min id per fingerprint) → near-dup clustering on
  // the survivors (pairs → connected components → keep one per
  // cluster) → per-language corpus summary. Every stage is the
  // operator the standalone queries verify; the oracle restates the
  // whole chain in one DuckDB CTE pipeline, so the COMPOSITION is
  // hash-checked too, not just the parts.
  private def t20(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .withColumn("n_tokens", size(TextFns.tokens(col("text"))).cast("long"))
      .filter(col("n_tokens").between(20L, 4000L))
    val keepExact = d
      .withColumn("_rk", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy("doc_id")))
      .filter(col("_rk") === 1).drop("_rk")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    releasing(keepExact) {
      val clusters = Dedup.connectedComponents(
        Dedup.ngramJaccard(keepExact, n = 3, threshold = 0.5))
      val reps = keepExact.join(
        clusters.filter(col("keep_doc") === 0).select("doc_id"),
        Seq("doc_id"), "left_anti")
      reps.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
        .orderBy("lang")
    }
  }

  private val t20Sql =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, lang, text,
      |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                     t -> t <> '') AS ts
      |  FROM documents
      |), q AS (
      |  SELECT * FROM toks WHERE len(ts) BETWEEN 20 AND 4000
      |), ke AS (
      |  SELECT * FROM (
      |    SELECT doc_id, lang, text, ts, len(ts) AS n_tokens,
      |           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
      |    FROM q) WHERE rk = 1
      |), idx AS (
      |  SELECT doc_id, ts,
      |         unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i
      |  FROM ke
      |), sh AS (
      |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      |  FROM idx
      |), cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |common AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
      |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT a, b FROM common
      |  JOIN cnt ca ON common.a = ca.doc_id
      |  JOIN cnt cb ON common.b = cb.doc_id
      |  WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5),
      |edges AS (SELECT a AS u, b AS v FROM p UNION SELECT b, a FROM p),
      |reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |drops AS (
      |  SELECT u AS doc_id FROM reach GROUP BY u
      |  HAVING least(u, min(v)) <> u)
      |SELECT lang, count(*) AS n_docs,
      |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      |FROM ke WHERE doc_id NOT IN (SELECT doc_id FROM drops)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- e01
  // Exact cosine kNN: top-5 neighbors for each query vector (id < 50).
  private def e01(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.knnExact(e.filter(col("vec_id") < 50), e, k = 5)
      .withColumnRenamed("rank", "rk")
      .orderBy("query_id", "rk")
  }

  private val e01Sql =
    """WITH sims AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                           CAST(c.embedding AS DOUBLE[])) AS s
      |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 50
      |), r AS (
      |  SELECT query_id, neighbor_id, s,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |                            ORDER BY s DESC, neighbor_id) AS BIGINT) AS rk
      |  FROM sims)
      |SELECT query_id, rk, neighbor_id, round(s, 4) AS sim
      |FROM r WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  // ---------------------------------------------------------------- e02
  // Exact cosine near-dup pairs (threshold tuned to the corpus: max
  // observed similarity ~0.51).
  private def e02(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(embs(s, dir), threshold = 0.45).orderBy("a", "b")

  private val e02Sql =
    """SELECT x.vec_id AS a, y.vec_id AS b,
      |  round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
      |                               CAST(y.embedding AS DOUBLE[])), 4) AS sim
      |FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
      |WHERE list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
      |                             CAST(y.embedding AS DOUBLE[])) >= 0.45
      |ORDER BY a, b""".stripMargin

  // ------------------------------------------------- ANN recall audit
  // Round-5 VERDICT item 1: the ANN queries used to emit their raw
  // (probabilistic) top-k and were stuck at a rows-only check. Each now
  // emits the DETERMINISTIC audit of its own run instead: per query,
  // the exact-kNN top-1 neighbor (ground truth the DuckDB oracle
  // recomputes independently) plus a mean-recall@k floor flag measured
  // in-query against the exact answer. If an ANN implementation
  // regresses below its pinned floor, meets_floor flips to 0 on every
  // row and the driver's hash check fails — the probabilistic tier now
  // sits under the hard oracle signal. The raw top-k builders stay as
  // `private[graft]` entry points (tools.AnnRecall re-measures floors;
  // OperatorSpec pins per-algorithm recall separately).
  //
  // Floors are set ~0.05-0.08 under the minimum measured across
  // sf0.001/sf0.01/sf0.1 (tools.AnnRecall table in SCALING.md) — tight
  // enough that a real regression (a broken hash family, a lost table,
  // a mis-assigned cell) trips them, loose enough that corpus-size
  // recall drift cannot.
  /** Pinned mean-recall@5 floors per ANN query (measured by
    * tools.AnnRecall across sf0.001/0.01/0.1 — table in SCALING.md).
    */
  private[graft] val annFloors: Map[String, Double] = Map(
    "e03" -> 0.70, "e04" -> 0.55, "e08" -> 0.65, "e09" -> 0.60,
    "e10" -> 0.65, "e11" -> 0.75, "e12" -> 0.60,
    // e15 scans everything (no bucket pruning) — int8 rounding is its
    // only recall loss, so the floor sits near 1 (AnnRecall table).
    "e15" -> 0.90,
    // e20 also scans everything, but 1-bit projections reorder the
    // candidate cut more than SQ8's bytes — tri-SF minimum 0.924 at
    // 256 bits / rerank 100 (tools.HammingSweep), floor at the usual
    // ~0.07 margin under it.
    "e20" -> 0.85,
    // e21 composes e04's cell restriction (floor 0.55) with e20's
    // binary filter — recall is bounded by the IVF term (measured
    // 0.620-0.664 tri-SF, ≈ e04's 0.62-0.67: the Hamming filter at
    // rerank 100 costs almost nothing extra); floor at the usual
    // margin under the 0.620 minimum.
    "e21" -> 0.55,
    // e22 serves e21's exact answers from the materialized index
    // (identity pinned in VectorIndexSpec) — same recall, same floor.
    "e22" -> 0.55)

  private def annAudit(s: SparkSession, dir: String, ann: DataFrame,
      k: Int, floor: Double): DataFrame = {
    val e = embs(s, dir)
    val exact = Similarity.knnExact(e.filter(col("vec_id") < 50), e, k = k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    releasing(exact) {
      val hits = ann.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"),
          Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      // denominator = Σ per-query exact-result sizes (== k·|queries|
      // when the corpus has ≥ k neighbors) — queries the ANN missed
      // entirely are absent from `hits` and must still count in the mean
      val rec = exact.groupBy("query_id").agg(count(lit(1)).as("nk"))
        .join(hits, Seq("query_id"), "left")
        .agg((sum(coalesce(col("hits"), lit(0L))).cast("double") /
          sum("nk")).as("mean_recall"))
      exact.filter(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id").as("exact_top1"))
        .crossJoin(broadcast(rec))
        .select(col("query_id"), col("exact_top1"), lit(k).as("k"),
          lit(floor).as("recall_floor"),
          (col("mean_recall") >= floor).cast("int").as("meets_floor"))
        .orderBy("query_id")
    }
  }

  private def annAuditSql(k: Int, floor: Double): String =
    s"""WITH sims AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                           CAST(c.embedding AS DOUBLE[])) AS s
      |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 50
      |), r AS (
      |  SELECT query_id, neighbor_id,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY s DESC, neighbor_id) AS rk
      |  FROM sims)
      |SELECT query_id, neighbor_id AS exact_top1, $k AS k,
      |       CAST($floor AS DOUBLE) AS recall_floor, 1 AS meets_floor
      |FROM r WHERE rk = 1 ORDER BY query_id""".stripMargin

  // ---------------------------------------------------------------- e03
  // Sign-LSH ANN (scale path); audited vs exact kNN per annAudit.
  private[graft] def e03Raw(s: SparkSession, dir: String): DataFrame =
    Similarity.knnLsh(embs(s, dir), k = 5, nPlanes = 4, dim = 64,
      queryFilter = col("id") < 50)

  private def e03(s: SparkSession, dir: String): DataFrame =
    annAudit(s, dir, e03Raw(s, dir), k = 5, floor = annFloors("e03"))

  // ---------------------------------------------------------------- e04
  // IVF ANN (16 cells, 4 probes) — the clustering-based scale path.
  private[graft] def e04Raw(s: SparkSession, dir: String): DataFrame =
    Similarity.knnIvf(embs(s, dir), k = 5, nCells = 16, nProbe = 4,
      queryFilter = col("id") < 50)

  private def e04(s: SparkSession, dir: String): DataFrame =
    annAudit(s, dir, e04Raw(s, dir), k = 5, floor = annFloors("e04"))

  // ---------------------------------------------------------------- e08
  // Product-quantization ANN (8 subspaces × 16 centroids = 8-byte
  // codes, 32× compression vs the 256-byte float vectors) with exact
  // re-ranking of the top-150 ADC candidates (50 was enough at
  // sf≤0.01 but ADC ranking dilutes as the corpus grows — recall
  // dropped to 0.49 at sf0.1; 150 holds ≥0.74 across all SFs at
  // negligible extra exact-dot cost). Audited vs exact kNN (annAudit).
  private[graft] def e08Raw(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pq
    val e = embs(s, dir)
    val books = Pq.trainCodebooks(e, m = 8, ksub = 16, dim = 64, iters = 3)
    Pq.knnPq(e, k = 5, books, dim = 64,
      queryFilter = col("id") < 50, rerank = 150)
  }

  private def e08(s: SparkSession, dir: String): DataFrame =
    annAudit(s, dir, e08Raw(s, dir), k = 5, floor = annFloors("e08"))

  // ---------------------------------------------------------------- e09
  // IVF-PQ: coarse cells bound WHICH vectors are scored (probe 8 of
  // 16), residual PQ codes bound HOW — the standard billion-vector
  // index (compressed codes + cell pruning), with exact top-150
  // re-ranking (see e08 on the depth). Audited vs exact kNN.
  private[graft] def e09Raw(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pq
    Pq.knnIvfPq(embs(s, dir), k = 5, nCells = 16, nProbe = 8,
      m = 8, ksub = 16, dim = 64,
      queryFilter = col("id") < 50, rerank = 150)
  }

  private def e09(s: SparkSession, dir: String): DataFrame =
    annAudit(s, dir, e09Raw(s, dir), k = 5, floor = annFloors("e09"))

  // ---------------------------------------------------------------- e10
  // Johnson–Lindenstrauss random projection (64 → 16) steering sign-LSH
  // candidate generation, with scoring on the FULL-dimension vectors:
  // bucket hashing costs 4× less per row (the per-corpus-row ANN cost
  // at 100 TB), and because the lossy projection only picks candidates
  // — never ranks them — recall degrades only through missed bucket
  // collisions (floor vs full-dim exact kNN pinned in OperatorSpec).
  // The standard shape for high-dim production embeddings (768-4096
  // dims). Audited vs exact kNN (annAudit).
  private[graft] def e10Raw(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.knnLsh(e, k = 5, nPlanes = 4, dim = 16,
      queryFilter = col("id") < 50,
      bucketFrame = Some(Similarity.randomProject(e, dimIn = 64, dimOut = 16)))
  }

  private def e10(s: SparkSession, dir: String): DataFrame =
    annAudit(s, dir, e10Raw(s, dir), k = 5, floor = annFloors("e10"))

  // ---------------------------------------------------------------- e11
  // Cross-polytope LSH ANN (Andoni et al. 2015): bucket = signed
  // argmax coordinate after a seeded Gaussian pseudo-rotation —
  // asymptotically tighter collision separation than hyperplane bits.
  // At the SAME bucket granularity and table count as e03 (16
  // buckets/table × 12 tables) measured recall is 0.888 vs sign-LSH's
  // 0.820 (tools.ProjRecall) — the roadmap's "if sign-LSH recall
  // ceilings bind" item, resolved. Audited vs exact kNN (annAudit).
  private[graft] def e11Raw(s: SparkSession, dir: String): DataFrame =
    Similarity.knnCp(embs(s, dir), k = 5, dimProj = 8,
      queryFilter = col("id") < 50)

  private def e11(s: SparkSession, dir: String): DataFrame =
    annAudit(s, dir, e11Raw(s, dir), k = 5, floor = annFloors("e11"))

  // ---------------------------------------------------------------- e12
  // Serving from the MATERIALIZED IVF-PQ index over its full
  // deployment path: the (id, cell, codes) rows built by Pq.indexRows
  // (one pure projection — the same rows streaming.VectorIndex
  // appends from a vector stream) are committed to a CATALOG table
  // hidden-partitioned `identity(cell)`, and queries are answered by
  // Pq.searchIndexPruned — the batch's probed cells resolve through
  // the snapshot manifest's partition values, so the scan lists ONLY
  // those cells' files (at 100 TB: I/O ∝ nProbe/nCells of the index,
  // never the whole table). Results equal Pq.searchIndex over the
  // full table read (pinned in VectorIndexSpec); audited vs exact
  // kNN like e09.
  /** One built index per (JVM, sfDir): train + build + commit happen
    * ONCE and serving reuses the catalog table — the deployment cost
    * model, where the index is a maintained asset (streaming.
    * VectorIndex) and per-query-batch cost is serve-only. Bench's
    * min-of-reps therefore measures steady-state serving; Verify runs
    * in a fresh JVM, so the correctness gate still exercises the full
    * train→build→commit→serve chain every round. Keyed by session too:
    * a cached catalog from a stopped test session must not leak into
    * the next.
    */
  private case class E12Index(session: SparkSession, wh: String,
      cat: graft.catalog.SnapshotCatalog,
      coarse: Array[Array[Double]], books: graft.operators.Pq.Codebooks)
  private val e12Built =
    new java.util.concurrent.ConcurrentHashMap[String, E12Index]()

  /** Best-effort recursive delete of a rebuilt/abandoned temp
    * warehouse — long-lived multi-session JVMs (test suites) would
    * otherwise leak one directory per stale (session, sfDir) rebuild,
    * and `e12Built` would pin stopped sessions until the key is next
    * touched. Also registered as a shutdown hook for the live entries.
    */
  private def deleteRecursively(dir: String): Unit =
    try {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      val root = Paths.get(dir)
      if (Files.exists(root)) {
        val paths = Files.walk(root).iterator().asScala.toSeq
        paths.sortBy(-_.getNameCount).foreach(p =>
          try Files.deleteIfExists(p) catch { case _: Exception => () })
      }
    } catch { case _: Exception => () }

  locally { // one hook for whatever entries are live at JVM exit
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      e12Built.values.asScala.foreach(e => deleteRecursively(e.wh))
    }))
  }

  private def e12Index(s: SparkSession, dir: String): E12Index =
    e12Built.compute(dir, (_, cur) => {
      if (cur != null && (cur.session eq s)) cur
      else {
        // replacing a stale entry (stopped/old session): reclaim its
        // temp warehouse now instead of leaking it for the JVM's life
        if (cur != null) deleteRecursively(cur.wh)
        import graft.operators.Pq
        import graft.catalog.{PartitionSpec, SnapshotCatalog}
        val e = embs(s, dir)
        val coarse = Similarity.kmeansCentroids(e, 16, iters = 3)
        val books = Pq.trainResidualCodebooks(e, coarse,
          m = 8, ksub = 16, dim = 64, iters = 3)
        val index = Pq.indexRows(e, coarse, books)
        val wh = java.nio.file.Files.createTempDirectory("graft_e12_wh").toString
        val cat = new SnapshotCatalog(s, wh)
        cat.createTable("ann", "vec_index", index.schema,
          properties = Map(PartitionSpec.PropertyKey -> "identity(cell)"))
        cat.append("ann", "vec_index", index)
        E12Index(s, wh, cat, coarse, books)
      }
    })

  private[graft] def e12Raw(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pq
    val idx = e12Index(s, dir)
    Pq.searchIndexPruned(idx.cat, "ann", "vec_index", embs(s, dir), k = 5,
      nProbe = 8, idx.coarse, idx.books, dim = 64,
      queryFilter = col("id") < 50, rerank = 150)
  }

  private def e12(s: SparkSession, dir: String): DataFrame =
    annAudit(s, dir, e12Raw(s, dir), k = 5, floor = annFloors("e12"))

  // ---------------------------------------------------------------- e05
  // LSH candidates → exact verify (round-2 VERDICT item 3): the scale
  // shape for near-dup mining. e02's 0.45 threshold is LSH-hostile by
  // the collision math (see Similarity.lshCandidatePairs scaladoc), so
  // this query demonstrates the realistic HIGH-similarity dedup regime:
  // the corpus is augmented with deterministically jittered copies
  // (cosine ≈ 0.999 to their originals — the "same doc, re-encoded"
  // case), candidates come from OCCUPANCY-SCALED sign-LSH (the sf1
  // smoke's one >5× scaler was this query under FIXED 8 planes —
  // bucket occupancy, and with it candidate pairs, grows ∝ n²/2^p, so
  // planes must track log₂(n)): `autoPlanes` holds ~16 vectors per
  // bucket. The base embeddings table is 500-2000 rows at sf0.001-
  // sf0.1, so `autoPlanes` resolves to the oracle-pinned 8-plane /
  // 6-table config at every driver-checked SF (bit-identical output);
  // only the 10× sf1 replica (40k augmented vectors) crosses into
  // 12 planes, with tables growing +1 per 3 added planes to hold
  // per-pair recall (scaladoc: L ∝ r^{-Δp}; at the 0.999 twin
  // similarity r = 0.9858, so 12 planes × 8 tables gives per-pair
  // miss (1−r¹²)⁸ ≈ 3.8e-7 — ~0.008 expected misses across sf1's 20k
  // twin pairs; ScaleProbe measures candidates 21.7M → 1.79M and
  // probe wall 162 s → 18 s for the plane scaling alone, verified
  // pairs identical). The exact codegen'd dot product runs ONLY
  // over candidates. Hash-checked against the exact all-pairs DuckDB
  // oracle on the same augmented set.
  private def e05(s: SparkSession, dir: String): DataFrame = {
    val base = embs(s, dir).select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    // jitter BEFORE renaming vec_id: a lateral `(vec_id+100000).as
    // ("vec_id")` alias in the same select shadows the input column
    // inside the lambda (observed on Spark 4.1 — silently used the
    // new id, breaking oracle parity)
    val jit = base
      .withColumn("_j", transform(col("embedding"),
        x => x * (lit(1.0) + lit(0.05) * sin(x * 1000 + col("vec_id")))))
      .select((col("vec_id") + 100000L).as("vec_id"), col("_j").as("embedding"))
    val aug = base.unionAll(jit)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    releasing(aug) {
      val planes = Similarity.autoPlanes(aug.count())
      val tables = 6 + (planes - 8 + 2) / 3 // +1 table per 3 added planes
      // fused generate+verify (round 9): same output as the
      // lshCandidatePairs → nearDupPairs(candidates=…) two-stage form
      // (pinned in OperatorSpec), but the verify dot runs INSIDE the
      // bucket join — the per-candidate vector re-join shuffle that
      // dominated the sf1 batch wall (~18.5 s/run, ~1.1 GB shuffle
      // read measured by RepBench metrics) disappears
      Similarity.lshNearDupPairs(aug, threshold = 0.9, nPlanes = planes,
          dim = 64, nTables = tables)
        .orderBy("a", "b")
    }
  }

  private val e05Sql =
    """WITH aug AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |                   x -> x * (1.0 + 0.05 * sin(x * 1000 + vec_id)))
      |  FROM embeddings
      |)
      |SELECT x.vec_id AS a, y.vec_id AS b,
      |  round(list_cosine_similarity(x.v, y.v), 4) AS sim
      |FROM aug x JOIN aug y ON x.vec_id < y.vec_id
      |WHERE list_cosine_similarity(x.v, y.v) >= 0.9
      |ORDER BY a, b""".stripMargin

  // ---------------------------------------------------------------- e06
  // SemDeDup: e05's jitter-augmented corpus (each vector + a cosine
  // ≈0.999 re-encode of itself) deduplicated by cluster-then-
  // compare — trained spherical k-means cells, within-cell pairs only,
  // connected components, keep-one. The k-means mean is FP-order
  // sensitive across partitionings, so cell boundaries (and thus which
  // planted twins collapse) are not bit-reproducible; the query
  // therefore emits the DETERMINISTIC audit of its own run (round-6
  // oracle-ization, annAudit's move): one row per planted (base, twin)
  // pair with the exact twin cosine — independently recomputed by the
  // DuckDB oracle — plus a collapse-rate floor flag measured in-query
  // (twin pairs sharing a component / total pairs, AND every component
  // keeping exactly one representative). A lost cell, a broken
  // assignment, or a keep-election bug flips meets_floor on every row
  // and fails the driver's hash check. Floor 0.92 sits under the
  // measured collapse rate at every SF (0.994 sf0.001 / 0.974 sf0.01 /
  // 0.975 sf0.1 — tools.AuditMeasure); cluster semantics stay pinned
  // in OperatorSpec on planted groups with fixed centroids.
  private val e06CollapseFloor = 0.92

  private def e06(s: SparkSession, dir: String): DataFrame = {
    val base = embs(s, dir).select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val jit = base
      .withColumn("_j", transform(col("embedding"),
        x => x * (lit(1.0) + lit(0.05) * sin(x * 1000 + col("vec_id")))))
      .select((col("vec_id") + 100000L).as("vec_id"), col("_j").as("embedding"))
    val aug = base.unionAll(jit)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // occupancy-scaled K (autoCells scaladoc; the r7 10× smoke's 4.1×
    // mover was this query under a FIXED cell count): resolves to the
    // oracle-pinned 8 cells at every driver-checked SF (≤ 4k augmented
    // vectors — output bit-identical), 80 cells at the sf1 replica's
    // 40k, holding Σcell² ∝ n · 500 instead of n²/8
    val dd = Similarity.semanticDedup(aug, threshold = 0.9,
        nCells = Similarity.autoCells(aug.count()),
        iters = 2, trainFraction = 0.2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    releasing(aug, dd) {
      val collapse = dd.select(col("vec_id"), col("component"))
        .join(dd.select((col("vec_id") - 100000L).as("vec_id"),
          col("component").as("c2")), Seq("vec_id"))
        .agg(avg((col("component") === col("c2")).cast("double")).as("rate"))
      val badComps = dd.groupBy("component").agg(sum("keep").as("nk"))
        .agg(sum((col("nk") =!= 1L).cast("long")).as("bad"))
      val flag = collapse.crossJoin(badComps)
        .select(((col("rate") >= e06CollapseFloor) && col("bad") === 0L)
          .cast("int").as("meets_floor"))
      // deterministic per-pair ground truth: exact twin cosine via the
      // same unit-dot path e05 hash-matches with
      val twinSims = Similarity.nearDupPairs(aug, threshold = -1.0,
        candidates = Some(base.select(col("vec_id").as("a"),
          (col("vec_id") + 100000L).as("b"))))
      twinSims
        .select(col("a").as("vec_id"), col("b").as("twin_id"),
          col("sim").as("twin_sim"))
        .crossJoin(broadcast(flag))
        .select(col("vec_id"), col("twin_id"), col("twin_sim"),
          lit(e06CollapseFloor).as("collapse_floor"), col("meets_floor"))
        .orderBy("vec_id")
    }
  }

  private val e06Sql =
    s"""WITH p AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |                   x -> x * (1.0 + 0.05 * sin(x * 1000 + vec_id))) AS jv
      |  FROM embeddings)
      |SELECT vec_id, vec_id + 100000 AS twin_id,
      |       round(list_cosine_similarity(v, jv), 4) AS twin_sim,
      |       CAST($e06CollapseFloor AS DOUBLE) AS collapse_floor,
      |       1 AS meets_floor
      |FROM p ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- e07
  // Retrieval join — the RAG lookup shape: ANN top-k over the
  // embedding index, then the (tiny) hit list joins the document
  // store for payload metadata. The broadcast direction is the scale
  // decision: |queries|·k rows broadcast against a 100 TB document
  // table means the metadata fetch is a map-side join, no shuffle of
  // the store. (Exact kNN stands in for the ANN stage here so the
  // DuckDB oracle can replay the whole pipeline; swap knnLsh/knnIvf
  // for the index at scale — same join shape.)
  private def e07(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val hits = Similarity.knnExact(e.filter(col("vec_id") < 50), e, k = 3)
    docs(s, dir)
      .select(col("doc_id").as("neighbor_id"), col("lang").as("neighbor_lang"),
        col("n_chars").as("neighbor_chars"))
      .join(broadcast(hits), Seq("neighbor_id"))
      .withColumnRenamed("rank", "rk")
      .select("query_id", "rk", "neighbor_id", "sim", "neighbor_lang",
        "neighbor_chars")
      .orderBy("query_id", "rk")
  }

  private val e07Sql =
    """WITH sims AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                           CAST(c.embedding AS DOUBLE[])) AS s
      |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 50
      |), r AS (
      |  SELECT query_id, neighbor_id, s,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |                            ORDER BY s DESC, neighbor_id) AS BIGINT) AS rk
      |  FROM sims)
      |SELECT query_id, rk, neighbor_id, round(s, 4) AS sim,
      |       d.lang AS neighbor_lang, d.n_chars AS neighbor_chars
      |FROM r JOIN documents d ON r.neighbor_id = d.doc_id
      |WHERE rk <= 3 ORDER BY query_id, rk""".stripMargin

  // ---------------------------------------------------------------- m01
  // Multimodal binary-column plumbing with deterministic stub features.
  private def m01(s: SparkSession, dir: String): DataFrame =
    Multimodal.documentFeatures(docs(s, dir)).orderBy("doc_id")

  private val m01Sql =
    """SELECT doc_id, 'text/plain' AS media_type,
      |  CAST(octet_length(text::BLOB) AS BIGINT) AS byte_len,
      |  sha256(text) AS content_sha,
      |  320 + octet_length(text::BLOB) % 1280 AS width,
      |  240 + octet_length(text::BLOB) * 7 % 840 AS height,
      |  1 + doc_id % 30 AS n_frames
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- m02
  // Frame sampling over a binary media column (video frame-sample /
  // audio window-sample shape): payloads travel as `binary`, frames
  // are sliced per-partition in `Multimodal.sampleFrames`, and the
  // md5-per-frame output is DuckDB-checkable because the documents
  // text is pure ASCII (byte offsets == char offsets; TESTDATA.md).
  private def m02(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = docs(s, dir)
      .select(col("doc_id"), lit("video/fake").as("media_type"),
        col("text").cast("binary").as("payload"))
      .as[Multimodal.MediaRow]
    Multimodal.sampleFrames(media, frameBytes = 64, step = 3)
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  private val m02Sql =
    """SELECT doc_id, frame_idx, frame_idx * 64 AS frame_off,
      |  md5(substring(text, CAST(frame_idx * 64 + 1 AS BIGINT), 64))
      |    AS frame_md5
      |FROM (SELECT doc_id, text,
      |        unnest(generate_series(0, n_chars // 64 - 1)) AS frame_idx
      |      FROM documents) f
      |WHERE frame_idx % 3 = 0
      |ORDER BY doc_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------- m03
  // Media frame-level dedup: fingerprint EVERY aligned frame (step=1)
  // across all payloads, then group by fingerprint to find segments
  // shared between documents — the shared-scene/duplicate-clip
  // primitive of video corpus dedup, exercised end-to-end over binary
  // payloads. One shuffle on the 16-byte fingerprint; payload bytes
  // never shuffle.
  private def m03(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = docs(s, dir)
      .select(col("doc_id"), lit("video/fake").as("media_type"),
        col("text").cast("binary").as("payload"))
      .as[Multimodal.MediaRow]
    Multimodal.sampleFrames(media, frameBytes = 64, step = 1)
      .toDF()
      .groupBy("frame_md5")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_frames"),
        min("doc_id").as("keep_doc"))
      .filter(col("n_docs") >= 2)
      .orderBy("frame_md5")
  }

  private val m03Sql =
    """WITH fr AS (
      |  SELECT doc_id,
      |    md5(substring(text, CAST(i * 64 + 1 AS BIGINT), 64)) AS frame_md5
      |  FROM (SELECT doc_id, text,
      |          unnest(generate_series(0, n_chars // 64 - 1)) AS i
      |        FROM documents) f)
      |SELECT frame_md5, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_frames, min(doc_id) AS keep_doc
      |FROM fr GROUP BY frame_md5
      |HAVING count(DISTINCT doc_id) >= 2
      |ORDER BY frame_md5""".stripMargin

  // ---------------------------------------------------------------- m04
  // Payload "resize" (byte decimation, the deterministic codec-free
  // stand-in for image resize): keep every 4th byte, report orig/
  // reduced sizes + reduced-bytes digest. DuckDB re-derives the same
  // decimation character-by-character (payloads are ASCII text).
  private def m04(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = docs(s, dir)
      .select(col("doc_id"), lit("image/fake").as("media_type"),
        col("text").cast("binary").as("payload"))
      .as[Multimodal.MediaRow]
    Multimodal.resize(media, step = 4).toDF().orderBy("doc_id")
  }

  private val m04Sql =
    """WITH pos AS (
      |  SELECT doc_id, text,
      |    unnest(generate_series(1, length(text), 4)) AS i
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(max(length(text)) AS BIGINT) AS orig_bytes,
      |  CAST(count(*) AS BIGINT) AS resized_bytes,
      |  md5(string_agg(substring(text, CAST(i AS BIGINT), 1), '' ORDER BY i))
      |    AS resized_md5
      |FROM pos GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- m05
  // Perceptual near-dup image dedup, driver-checkable half: the stub
  // 60-bit signature (Multimodal.stubPerceptualHashes scaladoc — md5
  // base + planted per-variant re-encode flips) flows through the REAL
  // Dedup.hash64Pairs banding — the same band/verify path t08 proves
  // pigeonhole-complete by brute force and the real perceptualHashes
  // pairs ride in production. The oracle restates the signature
  // digit-by-digit from md5 hex and re-runs the banded join + hamming
  // verify in SQL (banded, not all-pairs, so the oracle itself scales
  // to the sf0.1 sweep — completeness of the banding is t08's
  // brute-force-checked claim on this same shared code path).
  private def m05(s: SparkSession, dir: String): DataFrame =
    Dedup.hash64Pairs(Multimodal.stubPerceptualHashes(docs(s, dir)),
        "media_id", "phash", maxHamming = 3)
      .orderBy("a", "b")

  // DuckDB hex→int: digit j (1-based in md5's first 15 chars) via
  // strpos on the lowercase hex alphabet, horner-folded per 16-bit band.
  private def duckHexBand(js: Range): String =
    js.map(j => s"(strpos('0123456789abcdef', substr(hx, $j, 1)) - 1)")
      .reduce((a, b) => s"($a * 16 + $b)")

  private val m05Sql = {
    val b0 = duckHexBand(12 to 15) // bits 0-15  = hex digits 12..15
    val b1 = duckHexBand(8 to 11) //  bits 16-31 = hex digits 8..11
    val b2 = duckHexBand(4 to 7) //   bits 32-47 = hex digits 4..7
    val b3 = duckHexBand(1 to 3) //   bits 48-59 = hex digits 1..3
    s"""WITH h AS (
      |  SELECT doc_id, substr(md5(text), 1, 15) AS hx FROM documents
      |), v AS (SELECT doc_id, hx, unnest([0, 1, 2]) AS var FROM h),
      |sig AS (
      |  SELECT CAST(doc_id * 4 + var AS BIGINT) AS media_id,
      |    xor($b0, CASE WHEN var = 1 THEN 1 ELSE 0 END) AS b0,
      |    xor($b1, CASE WHEN var = 2 THEN 16 ELSE 0 END) AS b1,
      |    xor($b2, CASE WHEN var = 2 THEN 256 ELSE 0 END) AS b2,
      |    $b3 AS b3
      |  FROM v),
      |bands AS (
      |  SELECT media_id, b0, b1, b2, b3, 0 AS band, b0 AS bkey FROM sig
      |  UNION ALL SELECT media_id, b0, b1, b2, b3, 1, b1 FROM sig
      |  UNION ALL SELECT media_id, b0, b1, b2, b3, 2, b2 FROM sig
      |  UNION ALL SELECT media_id, b0, b1, b2, b3, 3, b3 FROM sig),
      |pairs AS (
      |  SELECT DISTINCT x.media_id AS a, y.media_id AS b,
      |    CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
      |       + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
      |      AS BIGINT) AS hamming
      |  FROM bands x JOIN bands y
      |    ON x.band = y.band AND x.bkey = y.bkey AND x.media_id < y.media_id)
      |SELECT a, b, hamming FROM pairs WHERE hamming <= 3
      |ORDER BY a, b""".stripMargin
  }

  // ---------------------------------------------------------------- m06
  // Audio quality gates through the REAL javax.sound decode path: the
  // payload is a genuine 8-bit unsigned mono WAV whose data bytes are
  // the document's ASCII bytes with odd positions flipped
  // (Audio.wavFixture scaladoc), so the oracle can re-derive every
  // decoded sample as (ascii-128)/128 (even) / (127-ascii)/128 (odd)
  // and restate rms / peak / clipping / 20 ms-window silence / zcr
  // exactly. Float parity: every sample² is k²/16384 with k integer —
  // exactly representable, so sums are association-order-free and the
  // single divide + sqrt round identically in both engines (same
  // argument as the exact money grids).
  private def audioMedia(s: SparkSession, dir: String) = {
    import s.implicits._
    // decode is CPU-bound and mapPartitions parallelism = input splits:
    // the small-file test corpus coalesces to 1-2 splits, which would
    // run the whole decode on 1-2 of N cores (measured 6.5 s at sf1 for
    // work 32 cores do in a fraction of that). Core-match the stage by
    // repartitioning the TEXT before payload synthesis — media bytes
    // still never shuffle, the posture a real crawl gets for free from
    // its file count.
    docs(s, dir).select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, String)]
      .map { case (id, t) =>
        Multimodal.MediaRow(id, "audio/wav", Audio.wavFixture(t))
      }
  }

  private def m06(s: SparkSession, dir: String): DataFrame =
    Audio.features(audioMedia(s, dir)).toDF()
      .select(col("doc_id"), col("decoded"), col("sample_rate"),
        col("channels"), col("bits"), col("n_samples"), col("duration_ms"),
        round(col("rms"), 6).as("rms"),
        round(col("peak"), 6).as("peak"),
        round(col("clipped_ratio"), 6).as("clipped_ratio"),
        round(col("silence_ratio"), 6).as("silence_ratio"),
        round(col("zero_crossing_rate"), 4).as("zero_crossing_rate"))
      .orderBy("doc_id")

  // Shared chars CTE: pos (0-based) and integer sample numerator k,
  // sample = k/128. Printable ASCII (32..126) keeps k nonzero with
  // even positions negative, odd positive.
  private val duckPcmChars =
    """chars AS (
      |  SELECT doc_id, i - 1 AS pos,
      |    CASE WHEN (i - 1) % 2 = 0 THEN ascii(substring(text, i, 1)) - 128
      |         ELSE 127 - ascii(substring(text, i, 1)) END AS k
      |  FROM (SELECT doc_id, text,
      |          unnest(generate_series(1, length(text))) AS i
      |        FROM documents) c)""".stripMargin

  private val m06Sql =
    s"""WITH $duckPcmChars,
      |wins AS (
      |  SELECT doc_id, pos // 160 AS w, sum(k * k) AS ss, count(*) AS m
      |  FROM chars GROUP BY 1, 2),
      |sil AS (
      |  SELECT doc_id, count(*) AS total_w,
      |    sum(CASE WHEN sqrt(ss / 16384.0 / m) < 0.01 THEN 1 ELSE 0 END)
      |      AS silent_w
      |  FROM wins GROUP BY 1),
      |zc AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN sign(k) <> sign(prev_k) THEN 1 ELSE 0 END)
      |      AS crossings
      |  FROM (SELECT doc_id, k,
      |          lag(k) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_k
      |        FROM chars) l
      |  WHERE prev_k IS NOT NULL GROUP BY 1),
      |agg AS (
      |  SELECT doc_id, count(*) AS n, sum(k * k) AS ss,
      |    max(abs(k)) AS mx,
      |    sum(CASE WHEN abs(k) >= 127 THEN 1 ELSE 0 END) AS clip
      |  FROM chars GROUP BY 1)
      |SELECT a.doc_id, TRUE AS decoded, 8000 AS sample_rate,
      |  1 AS channels, 8 AS bits, CAST(a.n AS BIGINT) AS n_samples,
      |  CAST(round(a.n / 8.0, 0) AS BIGINT) AS duration_ms,
      |  round(sqrt(a.ss / 16384.0 / a.n), 6) AS rms,
      |  round(a.mx / 128.0, 6) AS peak,
      |  round(a.clip * 1.0 / a.n, 6) AS clipped_ratio,
      |  round(s.silent_w * 1.0 / s.total_w, 6) AS silence_ratio,
      |  round(z.crossings * 8000.0 / a.n, 4) AS zero_crossing_rate
      |FROM agg a JOIN sil s USING (doc_id) JOIN zc z USING (doc_id)
      |ORDER BY a.doc_id""".stripMargin

  // ---------------------------------------------------------------- m07
  // Silence-gated audio windowing (Audio.windows) on the same fixture
  // WAVs: 20 ms windows stepping 10 ms at 8 kHz = 160 samples stepping
  // 80, so every full window is exactly two adjacent 80-sample blocks
  // — the oracle computes per-block energy once and joins blocks
  // (w, w+1) per window instead of re-scanning chars per window.
  // Documents shorter than one window exercise the single-short-window
  // path (min doc length 44 chars < 160 across all SFs).
  private def m07(s: SparkSession, dir: String): DataFrame =
    Audio.windows(audioMedia(s, dir), windowMs = 20, stepMs = 10).toDF()
      .select(col("doc_id"), col("window_idx"), col("start_ms"),
        round(col("rms"), 6).as("rms"), col("voiced"))
      .orderBy("doc_id", "window_idx")

  private val m07Sql =
    s"""WITH $duckPcmChars,
      |blocks AS (
      |  SELECT doc_id, pos // 80 AS blk, sum(k * k) AS ss
      |  FROM chars GROUP BY 1, 2),
      |meta AS (SELECT doc_id, length(text) AS n FROM documents),
      |long_w AS (
      |  SELECT doc_id, n, unnest(generate_series(0, (n - 160) // 80)) AS wi
      |  FROM meta WHERE n >= 160),
      |lw AS (
      |  SELECT w.doc_id, w.wi AS window_idx, w.wi * 10 AS start_ms,
      |    sqrt((b1.ss + b2.ss) / 16384.0 / 160) AS rms
      |  FROM long_w w
      |  JOIN blocks b1 ON b1.doc_id = w.doc_id AND b1.blk = w.wi
      |  JOIN blocks b2 ON b2.doc_id = w.doc_id AND b2.blk = w.wi + 1),
      |sw AS (
      |  SELECT m.doc_id, CAST(0 AS BIGINT) AS window_idx,
      |    CAST(0 AS BIGINT) AS start_ms,
      |    sqrt(t.ss / 16384.0 / m.n) AS rms
      |  FROM meta m
      |  JOIN (SELECT doc_id, sum(k * k) AS ss FROM chars GROUP BY 1) t
      |    USING (doc_id)
      |  WHERE m.n < 160),
      |u AS (SELECT * FROM lw UNION ALL SELECT * FROM sw)
      |SELECT doc_id, CAST(window_idx AS BIGINT) AS window_idx,
      |  CAST(start_ms AS BIGINT) AS start_ms,
      |  round(rms, 6) AS rms, rms >= 0.01 AS voiced
      |FROM u ORDER BY doc_id, window_idx""".stripMargin

  // ---------------------------------------------------------------- m08
  // Video container demux through the REAL RIFF/AVI parse
  // (Video.demuxOne walks actual chunk grammar — LIST descent, size
  // fields, even padding — not a byte-stride convention): the payload
  // is a genuine AVI whose `00db` frame contents are the 32-char hex
  // of md5(text || ':' || idx) (Video.aviFixture scaladoc), so the
  // oracle restates every output column — the fixed header layout
  // pins frame offsets to 232 + 40·idx (VideoSpec asserts the same
  // constants against the parser's real output, so layout drift
  // breaks spec and oracle together), and frame_md5 =
  // md5(md5(text || ':' || idx)). The MJPEG DECODE path (same
  // demuxer, ImageIO per frame, perceptual frame dedup) is
  // VideoSpec-driven on real JPEG frames — a pixel decode no SQL
  // oracle can restate, exactly the m05/m06 split.
  private def m08(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = docs(s, dir).select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism) // see audioMedia
      .as[(Long, String)]
      .map { case (id, t) =>
        Multimodal.MediaRow(id, "video/avi", Video.aviFixture(id, t))
      }
    Video.demuxFrames(media).toDF().orderBy("doc_id", "frame_idx")
  }

  private val m08Sql =
    """SELECT doc_id, i AS frame_idx, '00db' AS fourcc,
      |  232 + 40 * i AS frame_off, CAST(32 AS BIGINT) AS n_bytes,
      |  md5(md5(text || ':' || i)) AS frame_md5
      |FROM (SELECT doc_id, text,
      |        unnest(generate_series(0, doc_id % 5)) AS i
      |      FROM documents)
      |ORDER BY doc_id, frame_idx""".stripMargin

  // ---------------------------------------------------------------- m09
  // ViT patchify: the documents' bytes as row-major 32-byte-wide
  // "images" cut into 8×8 tiles (geometry sized to the corpus — texts
  // run 48-550 bytes, so most docs yield 1-2 tile bands and the
  // shortest yield none, exercising the crop edge) — the
  // vision-tokenizer batch shape as pure built-in expressions (no
  // UDF, no mapPartitions; see Multimodal.patchGrid). Tile md5s are
  // DuckDB-checkable because the payloads are ASCII (byte offsets ==
  // char offsets, the m02 convention).
  private def m09(s: SparkSession, dir: String): DataFrame =
    Multimodal.patchGrid(
        docs(s, dir).select(col("doc_id"),
          col("text").cast("binary").as("payload")),
        rowBytes = 32, patch = 8)
      .orderBy("doc_id", "pi", "pj")

  private val m09Sql =
    """WITH p AS (
      |  SELECT doc_id, text, length(text) // 256 AS npr FROM documents
      |), g AS (
      |  SELECT doc_id, text,
      |         unnest(generate_series(0, npr * 4 - 1)) AS pidx
      |  FROM p WHERE npr >= 1
      |), q AS (
      |  SELECT doc_id, text, pidx // 4 AS pi, pidx % 4 AS pj FROM g
      |), seg AS (
      |  SELECT doc_id, pi, pj, r,
      |    substring(text, CAST(pi * 256 + r * 32 + pj * 8 + 1 AS BIGINT), 8)
      |      AS s
      |  FROM q, (SELECT unnest(generate_series(0, 7)) AS r)
      |)
      |SELECT doc_id, pi, pj,
      |  md5(string_agg(s, '' ORDER BY r)) AS patch_md5
      |FROM seg GROUP BY 1, 2, 3
      |ORDER BY doc_id, pi, pj""".stripMargin

  // ---------------------------------------------------------------- t21
  // Sliding-window chunking: 64-token windows stepping by 48 (16-token
  // overlap), never crossing document boundaries — the fine-tuning /
  // embedding-index example generator. Pure per-row expression fan-out
  // (Packing.chunk), zero shuffles before the output sort.
  private def t21(s: SparkSession, dir: String): DataFrame =
    Packing.chunk(docs(s, dir), TextFns.tokens(col("text")),
        size = 64, stride = 48)
      .orderBy("doc_id", "chunk_idx")

  private val t21Sql =
    s"""WITH toks AS (
      |  SELECT doc_id, $duckToks AS ts FROM documents
      |), st AS (
      |  SELECT doc_id, ts,
      |         unnest(generate_series(0, len(ts) - 1, 48)) AS start_tok
      |  FROM toks WHERE len(ts) > 0
      |)
      |SELECT doc_id, CAST(start_tok / 48 AS BIGINT) AS chunk_idx,
      |       CAST(start_tok AS BIGINT) AS start_tok,
      |       CAST(least(64, len(ts) - start_tok) AS BIGINT) AS n_tok,
      |       md5(array_to_string(ts[start_tok + 1 : start_tok + 64], ' '))
      |         AS chunk_md5
      |FROM st ORDER BY doc_id, chunk_idx""".stripMargin

  // ---------------------------------------------------------------- t22
  // Corpus-wide frequent tokens via the sketch→exact-verify pattern:
  // a Misra-Gries summary (capacity 250 ⇒ every token with frequency
  // > n/251 is guaranteed a candidate) collects candidates in one
  // constant-size-buffer aggregation, then ONLY the candidates are
  // exactly re-counted and filtered at 0.5% — above the guarantee
  // line, so the result equals the oracle's full groupBy exactly. The
  // full-vocabulary shuffle (the thing that explodes at 100 TB, where
  // distinct n-grams outnumber documents) never happens; the corpus
  // total rides a broadcast scalar, not a driver collect.
  private def t22(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.expressions.MisraGries
    val tok = docs(s, dir)
      .select(explode(TextFns.tokens(col("text"))).as("tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    releasing(tok) {
      val cand = tok.agg(MisraGries.candidates(col("tok"), 250).as("cands"))
        .select(explode(col("cands")).as("tok"))
      val total = tok.agg(count(lit(1)).as("n_total"))
      tok.join(broadcast(cand), Seq("tok"), "left_semi")
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(total))
        .filter(col("cnt") >= col("n_total") * 0.005)
        .select(col("tok"), col("cnt"),
          round(col("cnt") / col("n_total"), 6).as("freq"))
        .orderBy(desc("cnt"), col("tok"))
    }
  }

  private val t22Sql =
    s"""WITH toks AS (
      |  SELECT doc_id, $duckToks AS ts FROM documents
      |), tok AS (SELECT unnest(ts) AS tok FROM toks),
      |tot AS (SELECT count(*) AS n FROM tok),
      |c AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1)
      |SELECT tok, cnt, round(cnt * 1.0 / n, 6) AS freq
      |FROM c, tot WHERE cnt >= n * 0.005
      |ORDER BY cnt DESC, tok""".stripMargin

  // ---------------------------------------------------------------- t23
  // Deterministic 90/5/5 train/val/test split by content-stable hash
  // (Sampling.split): per-doc assignment plus the per-split corpus
  // summary, reproducible across engines/runs/partitionings. The
  // oracle re-derives the same md5-bucket boundaries (0.9→'e666',
  // 0.95→'f333' of 65536).
  private def t23(s: SparkSession, dir: String): DataFrame =
    Sampling.split(docs(s, dir), "doc_id",
        Seq(("train", 0.9), ("val", 0.05), ("test", 0.05)))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("total_chars"),
        min("doc_id").as("first_doc"))
      .orderBy("split")

  private val t23Sql =
    """WITH assigned AS (
      |  SELECT doc_id, text,
      |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
      |           THEN 'train'
      |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'f333'
      |           THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents)
      |SELECT split, count(*) AS n_docs,
      |       CAST(sum(length(text)) AS BIGINT) AS total_chars,
      |       min(doc_id) AS first_doc
      |FROM assigned GROUP BY split ORDER BY split""".stripMargin

  // ---------------------------------------------------------------- t24
  // Quality-weighted downsampling: per-doc keep probability from a
  // length-derived score (soft filter, not a cliff), decided by the
  // same content-stable hash as every sampler. The rate is built on an
  // integer grid ((51 + 2·min(n_tokens,100))/256 ∈ [0.2, 0.98]), so
  // rate×65536 is exact in BOTH engines — no float-rounding drift at
  // bucket boundaries — and the oracle reproduces the identical
  // threshold via printf('%04x').
  private def t24(s: SparkSession, dir: String): DataFrame = {
    val nToks = size(TextFns.tokens(col("text"))).cast("long")
    val rateN = lit(51L) + lit(2L) * least(nToks, lit(100L))
    Sampling.weightedSample(
        docs(s, dir).withColumn("_rate", rateN / 256.0),
        "doc_id", col("_rate"))
      .select(col("doc_id"), round(col("_rate"), 4).as("keep_rate"))
      .orderBy("doc_id")
  }

  private val t24Sql =
    s"""WITH x AS (
      |  SELECT doc_id, len($duckToks) AS n_toks FROM documents
      |), r AS (
      |  SELECT doc_id, 51 + 2 * least(n_toks, 100) AS rate_n FROM x)
      |SELECT doc_id, round(rate_n / 256.0, 4) AS keep_rate
      |FROM r
      |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
      |      < printf('%04x', rate_n * 256)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t25
  // BPE training, round-0 statistics: frequency-weighted adjacent
  // character-pair counts over the word vocabulary (the argmax of this
  // table IS the first learned merge). Bounded by |vocab|·word-length,
  // never corpus tokens — the corpus is touched once.
  private def t25(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bpe
    Bpe.pairCounts(Bpe.vocab(docs(s, dir)))
      .select(concat(col("left"), col("right")).as("pair"), col("n"))
      .orderBy(desc("n"), col("pair"))
      .limit(20)
  }

  private val t25Sql =
    s"""WITH toks AS (
      |  SELECT $duckToks AS ts FROM documents
      |), w AS (SELECT unnest(ts) AS w FROM toks),
      |v AS (SELECT w, count(*) AS freq FROM w GROUP BY 1),
      |p AS (
      |  SELECT substring(w, i, 2) AS pair, freq
      |  FROM (SELECT w, freq,
      |          unnest(generate_series(1, length(w) - 1)) AS i
      |        FROM v WHERE length(w) >= 2))
      |SELECT pair, CAST(sum(freq) AS BIGINT) AS n
      |FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- t26
  // Full BPE training: 10 merge rounds over the corpus vocabulary.
  // Deterministic (total tie-break: count desc, left, right). The
  // DuckDB oracle UNROLLS the 10 sequential rounds as chained CTEs —
  // sound because Bpe.train's batched rounds are proven (BpeSpec)
  // to learn the IDENTICAL list to one-merge-at-a-time training, and
  // each sequential round is pure SQL: overlapping adjacent-pair
  // counts over the '|'-delimited vocab state (t25's counting),
  // argmax with the same total tie-break, then an EXACT replay of the
  // single merge via a list_reduce fold that mirrors BpeMerges'
  // left-to-right single-scan fuse (t28's two-pass replace is NOT
  // used here: it is only equivalent for non-self merges, and t26's
  // learned merges are data-dependent, so a self-merge (x,x) over a
  // >=5-run would silently diverge — see the fold invariant below).
  // Vocab state is bounded by distinct words, so 10 unrolled rounds
  // stay cheap at oracle scale.
  private def t26(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bpe
    val (merges, _) = Bpe.train(docs(s, dir), nMerges = 10)
    import s.implicits._
    merges.zipWithIndex
      .map { case ((a, b), i) => (i.toLong + 1, a, b, a + b) }
      .toDF("rank", "left", "right", "merged")
  }

  private val t26Sql = {
    val rounds = 10
    // One round: pair counts over the current state (overlapping
    // adjacent pairs, freq-weighted), argmax under the total order,
    // then apply the merge with a left fold over the symbol list that
    // rebuilds the '|'-delimited state exactly as the greedy single
    // scan would: fuse the incoming symbol x into the accumulator iff
    // x = r and the accumulator's LAST symbol is l. Soundness of the
    // "last symbol" test: a symbol fused THIS round is l||r, and
    // l||r = l is impossible (r is non-empty), so a just-fused symbol
    // can never re-match as the left side — exactly the greedy scan's
    // skip-past-the-fused-pair behavior, including self-merges (x,x)
    // over odd/even runs, where two-pass replace diverges.
    def round(i: Int): String = {
      val prev = s"v${i - 1}"
      s"""p$i AS (
        |  SELECT syms[i] AS l, syms[i + 1] AS r, sum(freq) AS n
        |  FROM (SELECT freq, syms,
        |          unnest(generate_series(1, len(syms) - 1)) AS i
        |        FROM (SELECT freq, string_split(trim(s, '|'), '|') AS syms
        |              FROM $prev))
        |  GROUP BY 1, 2),
        |m$i AS (SELECT l, r FROM p$i ORDER BY n DESC, l, r LIMIT 1),
        |v$i AS (
        |  SELECT w, freq,
        |    list_reduce(
        |      list_prepend('|', string_split(trim(v.s, '|'), '|')),
        |      (acc, x) -> CASE
        |        WHEN x = m.r AND ends_with(acc, '|' || m.l || '|')
        |          THEN acc[1 : len(acc) - len(m.l) - 1] || m.l || m.r || '|'
        |        ELSE acc || x || '|'
        |      END) AS s
        |  FROM $prev v CROSS JOIN m$i m)""".stripMargin
    }
    val emit = (1 to rounds)
      .map(i => s"""SELECT CAST($i AS BIGINT) AS "rank", l AS "left",
        | r AS "right", l || r AS merged FROM m$i""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH tok AS (SELECT unnest($duckToks) AS w FROM documents),
      |v0 AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
      |         '|' || regexp_replace(w, '(.)', '\\1|', 'g') AS s
      |       FROM tok GROUP BY w),
      |${(1 to rounds).map(round).mkString(",\n")}
      |$emit
      |ORDER BY "rank"""".stripMargin
  }

  // ---------------------------------------------------------------- t29
  // Bloom-pre-filtered decontamination: identical semantics to t15
  // (Blooms have no false negatives; the exact semi-join still decides
  // every hit) — shares t15's DuckDB oracle — but the corpus-side rows
  // are cut by a 16 KiB literal bitset BEFORE any join, the membership
  // shape that replaces a GB-scale broadcast when the benchmark
  // register is large. See Dedup.decontaminateBloom scaladoc.
  private def t29(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.decontaminateBloom(
        corpus = d.filter(col("doc_id") % 37 =!= 0),
        benchmark = d.filter(col("doc_id") % 37 === 0),
        n = 3, minContainment = 0.5)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- t28
  // BPE tokenizer INFERENCE: encode every document with a PINNED
  // 10-merge tokenizer artifact — per-doc whitespace-token count, BPE
  // symbol count, and compression. Merges are applied to the
  // distinct-word vocabulary and joined back (the corpus never passes
  // through the fold expressions).
  //
  // Round-6 oracle-ization: inference in production always runs a
  // SHIPPED vocabulary (train once, encode trillions of tokens), so
  // the merge list here is the artifact learned from the sf0.1 corpus
  // by Bpe.train (tools.AuditMeasure), pinned as a literal. With the
  // list fixed, the whole encode is SQL-restatable: the DuckDB oracle
  // replays each merge on a '|'-delimited symbol string via two
  // left-to-right replace passes (pass 1 can consume the leading
  // delimiter of an adjacent match; after it, unmerged occurrences are
  // never adjacent, so pass 2 catches exactly the rest — equivalent to
  // BpeMerges' single-scan fuse, which BpeSpec pins against the
  // in-memory reference). That equivalence holds ONLY for non-self
  // merges: for left == right over a run of >=5 identical symbols the
  // two passes fuse different positions than the greedy scan (t26's
  // oracle replays with an exact list_reduce fold for this reason).
  // This pinned list has no self-merge — t28Sql asserts it, so
  // re-pinning the artifact with one fails loudly instead of
  // silently diverging. Training-path learning stays covered by t26
  // + BpeSpec.
  private[graft] val t28Merges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "o" -> "r", "s" -> "t", "o" -> "w",
    "t" -> "a", "l" -> "u", "m" -> "er", "a" -> "r", "p" -> "ar")

  private def t28(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bpe
    Bpe.encode(docs(s, dir), t28Merges).orderBy("doc_id")
  }

  private val t28Sql = {
    // chars → "|c1|c2|...|cn|", then per merge two non-overlapping
    // replace passes (see t28 comment for why two suffice — and why
    // they suffice only because no merge is a self-merge)
    require(t28Merges.forall { case (a, b) => a != b },
      "t28's two-pass replace oracle is only exact for non-self merges; " +
        "a (x,x) merge in the pinned list needs the list_reduce fold " +
        "replay used by t26")
    val sym0 = """'|' || regexp_replace(w, '(.)', '\1|', 'g')"""
    val replay = t28Merges.foldLeft(sym0) { case (acc, (a, b)) =>
      s"replace(replace($acc, '|$a|$b|', '|$a$b|'), '|$a|$b|', '|$a$b|')"
    }
    s"""WITH tok AS (SELECT doc_id, unnest($duckToks) AS w FROM documents),
      |cnt AS (SELECT doc_id, w, count(*) AS k FROM tok GROUP BY 1, 2),
      |enc AS (SELECT w,
      |          length(x) - length(replace(x, '|', '')) - 1 AS bpe_len
      |        FROM (SELECT w, $replay AS x
      |              FROM (SELECT DISTINCT w FROM cnt)))
      |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
      |       CAST(sum(k * bpe_len) AS BIGINT) AS n_bpe_syms,
      |       round(CAST(sum(k * bpe_len) AS DOUBLE) / sum(k), 4)
      |         AS syms_per_word
      |FROM cnt JOIN enc USING (w)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t27
  // CCNet-style bigram-LM perplexity filter: score each document by
  // mean negative log-likelihood under the corpus-trained add-alpha
  // bigram model (operators.NgramLm); unusually surprising documents
  // (avg_nll above the cut) are dropped. Fully SQL-expressible — the
  // DuckDB oracle restates the same model as a CTE chain.
  // Cut chosen inside the corpus score distribution (95th pct ≈ 3.43 at
  // sf0.1) so the flag is non-trivial; the nearest document sits ≥1e-4
  // from the cut at both test SFs — 9 orders of magnitude above
  // engine-difference FP noise, so the boolean can't flip.
  private val t27NllCut = 3.45

  private def t27(s: SparkSession, dir: String): DataFrame =
    graft.operators.NgramLm.perplexityScores(docs(s, dir))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("avg_nll"), 4).as("avg_nll"),
        (col("avg_nll") <= t27NllCut).cast("int").as("keep"))
      .orderBy("doc_id")

  private val t27Sql =
    s"""WITH toks AS (SELECT doc_id, $duckToks AS ts FROM documents),
      |pos AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
      |        FROM toks WHERE len(ts) >= 2),
      |db AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2, count(*) AS k
      |       FROM pos GROUP BY 1, 2, 3),
      |n12 AS (SELECT w1, w2, sum(k) AS n12 FROM db GROUP BY 1, 2),
      |n1 AS (SELECT w1, sum(k) AS n1 FROM db GROUP BY 1),
      |v AS (SELECT count(DISTINCT w) AS v
      |      FROM (SELECT unnest(ts) AS w FROM toks)),
      |sc AS (SELECT db.doc_id, db.k,
      |         -ln((n12.n12 + 0.5) / (n1.n1 + 0.5 * v.v)) AS nll
      |       FROM db JOIN n12 USING (w1, w2) JOIN n1 USING (w1) CROSS JOIN v)
      |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
      |       round(sum(k * nll) / sum(k), 4) AS avg_nll,
      |       CAST(sum(k * nll) / sum(k) <= $t27NllCut AS INT) AS keep
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t30
  // The PRUNED-model path of the LM filter (t27 with minCount=5):
  // rare bigrams leave the model and their occurrences score at the
  // unseen-pair smoothing floor via the left join's coalesce — the
  // broadcastable-model shape used at web scale. The oracle restates
  // the HAVING cut + LEFT JOIN floor exactly, so the approximation is
  // itself hash-checked, not just unit-tested.
  private def t30(s: SparkSession, dir: String): DataFrame =
    graft.operators.NgramLm.perplexityScores(docs(s, dir), minCount = 5L)
      .select(col("doc_id"), col("n_bigrams"),
        round(col("avg_nll"), 4).as("avg_nll"))
      .orderBy("doc_id")

  private val t30Sql =
    s"""WITH toks AS (SELECT doc_id, $duckToks AS ts FROM documents),
      |pos AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
      |        FROM toks WHERE len(ts) >= 2),
      |db AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2, count(*) AS k
      |       FROM pos GROUP BY 1, 2, 3),
      |n12 AS (SELECT w1, w2, sum(k) AS n12 FROM db GROUP BY 1, 2
      |        HAVING sum(k) >= 5),
      |n1 AS (SELECT w1, sum(k) AS n1 FROM db GROUP BY 1),
      |v AS (SELECT count(DISTINCT w) AS v
      |      FROM (SELECT unnest(ts) AS w FROM toks)),
      |sc AS (SELECT db.doc_id, db.k,
      |         -ln((coalesce(n12.n12, 0) + 0.5) / (n1.n1 + 0.5 * v.v)) AS nll
      |       FROM db LEFT JOIN n12 USING (w1, w2) JOIN n1 USING (w1)
      |       CROSS JOIN v)
      |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
      |       round(sum(k * nll) / sum(k), 4) AS avg_nll
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t31
  // Substring-level (duplicated-span) dedup — Dedup.duplicatedSpans
  // scaladoc for the full design. k=5 token windows hashed and counted
  // corpus-wide; >1-occurrence windows merged into maximal spans; all
  // but the canonical occurrence removed. clean_fp (md5 of the
  // reconstructed text) makes the oracle byte-exact on the REMOVAL,
  // not just the counts. The oracle restates windows/counting/island-
  // merge/removal over the gram STRINGS where the operator shuffles
  // 64-bit hashes — identical output barring xxhash64 collisions
  // (~windows²/2⁶⁵).
  private def t31(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSpans(docs(s, dir), k = 5).orderBy("doc_id")

  private val t31Sql =
    s"""WITH toks AS (SELECT doc_id, $duckToks AS ts FROM documents),
      |wins AS (SELECT doc_id, ts,
      |           unnest(generate_series(1, greatest(len(ts) - 4, 0))) AS pos
      |         FROM toks),
      |grams AS (SELECT doc_id, pos,
      |            array_to_string(ts[pos:pos+4], ' ') AS gram FROM wins),
      |marked AS (SELECT doc_id, pos,
      |             count(*) OVER (PARTITION BY gram) AS c,
      |             row_number() OVER (PARTITION BY gram
      |                                ORDER BY doc_id, pos) AS rn
      |           FROM grams),
      |dw AS (SELECT doc_id, pos, pos + 4 AS e, rn > 1 AS redundant
      |       FROM marked WHERE c > 1),
      |sp_all AS (SELECT doc_id, pos, e,
      |    CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id
      |           ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
      |           AND 1 PRECEDING), -1) + 1 THEN 1 ELSE 0 END AS brk
      |  FROM dw),
      |g_all AS (SELECT doc_id, pos, e,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM sp_all),
      |spans_all AS (SELECT doc_id, grp, min(pos) AS s, max(e) AS e
      |              FROM g_all GROUP BY 1, 2),
      |stat AS (SELECT doc_id, count(*) AS dup_spans,
      |           CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
      |         FROM spans_all GROUP BY 1),
      |wc AS (SELECT doc_id, count(*) AS dup_windows FROM dw GROUP BY 1),
      |sp_rm AS (SELECT doc_id, pos, e,
      |    CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY doc_id
      |           ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
      |           AND 1 PRECEDING), -1) + 1 THEN 1 ELSE 0 END AS brk
      |  FROM dw WHERE redundant),
      |g_rm AS (SELECT doc_id, pos, e,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM sp_rm),
      |spans_rm AS (SELECT doc_id, grp, min(pos) AS s, max(e) AS e
      |             FROM g_rm GROUP BY 1, 2),
      |toki AS (SELECT doc_id, ts,
      |           unnest(generate_series(1, len(ts))) AS p FROM toks),
      |kept AS (SELECT t.doc_id, t.p, t.ts[t.p] AS w
      |         FROM toki t
      |         WHERE NOT EXISTS (SELECT 1 FROM spans_rm r
      |            WHERE r.doc_id = t.doc_id AND t.p BETWEEN r.s AND r.e)),
      |clean AS (SELECT doc_id, count(*) AS kept_tokens,
      |            md5(string_agg(w, ' ' ORDER BY p)) AS clean_fp
      |          FROM kept GROUP BY doc_id)
      |SELECT d.doc_id,
      |  coalesce(wc.dup_windows, 0) AS dup_windows,
      |  coalesce(st.dup_spans, 0) AS dup_spans,
      |  coalesce(st.dup_tokens, 0) AS dup_tokens,
      |  coalesce(cl.kept_tokens, 0) AS kept_tokens,
      |  coalesce(cl.clean_fp, md5('')) AS clean_fp
      |FROM documents d
      |LEFT JOIN wc ON wc.doc_id = d.doc_id
      |LEFT JOIN stat st ON st.doc_id = d.doc_id
      |LEFT JOIN clean cl ON cl.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- t32
  // Deterministic corpus sharding (Sampling.shards): md5-mod shard +
  // within-shard hash-rank position — the reproducible global-shuffle-
  // and-write-S-balanced-shards step that precedes training. The
  // oracle restates the md5-prefix mod and the per-shard rank; DuckDB
  // parses the hex prefix via '0x' cast where Spark uses conv(_,16,10).
  private def t32(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.shards(docs(s, dir), "doc_id", nShards = 32)
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("doc_id")

  private val t32Sql =
    """WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hh
      |           FROM documents),
      |s AS (SELECT doc_id, hh,
      |        CAST(concat('0x', substr(hh, 1, 6)) AS INTEGER) % 32 AS shard
      |      FROM h)
      |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id)
      |       AS BIGINT) AS pos
      |FROM s ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t33
  // Distilled quality classifier (operators.TextClassifier): hashed-tf
  // logistic regression trained to REDISCOVER the t04 heuristic
  // quality gate from raw token counts — the distill-expensive-labels-
  // into-a-cheap-linear-model pattern (CCNet/DCLM-style pipelines
  // gate trillions of tokens on exactly this model class; the teacher
  // there is a reference corpus or an LLM judge, here the t04 rule).
  // Training is full-batch GD IN Spark: per iteration one expression-
  // only forward pass (weights ride the plan as a single array
  // literal) + one nBuckets-key gradient shuffle.
  //
  // Float-sum association order makes per-doc probabilities run-
  // varying in the last ulps, so (round-6 oracle-ization, same move
  // as the ANN tier's annAudit) the query emits the DETERMINISTIC
  // audit of its own run: per doc the SQL-expressible teacher label,
  // plus a train-accuracy floor flag measured in-query. A broken
  // featurizer/optimizer flips meets_floor on every row and the
  // driver's hash check fails. Floor 0.70 sits under the measured
  // accuracy at every SF (0.768 sf0.001 / 0.898 sf0.01 / 0.911 sf0.1
  // — tools.AuditMeasure); per-doc probabilities remain pinned in
  // OperatorSpec (learnability floor + gradient contract).
  private val t33AccFloor = 0.70

  private def t33(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextClassifier
    val d = docs(s, dir)
    // teacher rule: t04's stopword-density quality feature. A tf-linear
    // model represents the ratio cut exactly (sw/len ≥ θ ⇔
    // Σ_sw tf·(1−θ) − Σ_other tf·θ ≥ 0), so the student CAN match the
    // teacher — what it must learn is which hashed buckets are the
    // stopwords.
    val toksQ = TextFns.tokens(col("text"))
    val stopRatio = TextFns.vocabHits(col("text"),
      TextFns.langProfiles.head._2).cast("double") /
      greatest(size(toksQ), lit(1)).cast("double")
    val label = (stopRatio >= 0.06).cast("double")
    // 12 iterations ≈ 0.90 accuracy (24 → 0.936; tools.LrTune) — the
    // bench-time compromise: training cost is iterations × one corpus
    // scan, and the extra 0.04 isn't worth 2× the scans here
    val (w, b) = TextClassifier.trainLogReg(d, label, nBuckets = 1024,
      iters = 12, step = 2.0)
    val scored = TextClassifier.score(d, w, b, nBuckets = 1024)
      .select(col("doc_id"), label.as("lbl"), col("prob"))
    val flag = scored
      .agg(avg(((col("prob") >= 0.5).cast("double") === col("lbl"))
        .cast("double")).as("acc"))
      .select((col("acc") >= t33AccFloor).cast("int").as("meets_floor"))
    scored
      .crossJoin(broadcast(flag))
      .select(col("doc_id"), col("lbl").cast("int").as("label"),
        lit(t33AccFloor).as("acc_floor"), col("meets_floor"))
      .orderBy("doc_id")
  }

  private val t33Sql =
    s"""SELECT doc_id,
      |  CAST(CAST(${duckVocabHits(TextFns.langProfiles.head._2)} AS DOUBLE) /
      |       greatest(len($duckToks), 1) >= 0.06 AS INT) AS label,
      |  CAST($t33AccFloor AS DOUBLE) AS acc_floor, 1 AS meets_floor
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t34
  // SEMANTIC benchmark decontamination: flag corpus vectors whose max
  // cosine against any benchmark vector (vec_id % 20 = 0 plays the
  // eval set) reaches 0.35 — the embedding-space sibling of t15/t29's
  // n-gram containment, catching paraphrased/re-encoded leakage.
  // Broadcast benchmark, map-side max collapse (Similarity scaladoc).
  // Nearest max_sim sits 7e-5 from the cut (10 orders above
  // engine-difference FP noise) so the boolean can't flip; exact
  // all-pairs DuckDB restatement is the oracle.
  private def t34(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.semanticDecontaminate(
        corpus = e.filter(col("vec_id") % 20 =!= 0),
        benchmark = e.filter(col("vec_id") % 20 === 0),
        threshold = 0.35)
      .orderBy("vec_id")
  }

  private val t34Sql =
    """WITH b AS (SELECT vec_id, embedding FROM embeddings
      |           WHERE vec_id % 20 = 0),
      |c AS (SELECT vec_id, embedding FROM embeddings
      |      WHERE vec_id % 20 <> 0),
      |m AS (SELECT c.vec_id,
      |        max(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
      |                                   CAST(b.embedding AS DOUBLE[]))) AS s
      |      FROM c CROSS JOIN b GROUP BY c.vec_id)
      |SELECT vec_id, round(s, 4) AS max_sim,
      |       CAST(s >= 0.35 AS INT) AS contaminated
      |FROM m ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- t35
  // Token-budget epoch planning (Sampling.epochPlan): 200k tokens
  // spread uniformly over the 20 sources; each source's plan = whole
  // epochs + a hash-sampled fractional epoch. The upsampling half of
  // mixture construction (t11 is the downsampling half); the DuckDB
  // oracle restates the plan arithmetic and the md5-threshold
  // remainder membership exactly.
  private def t35(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("source"),
      size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
    Sampling.epochPlan(d, "source", "n_tok", budgetTokens = 200000L)
      .orderBy("source")
  }

  private val t35Sql =
    s"""WITH tok AS (
      |  SELECT doc_id, source, CAST(len($duckToks) AS BIGINT) AS n_tok
      |  FROM documents),
      |per AS (SELECT source, count(*) AS n_docs,
      |          CAST(sum(n_tok) AS BIGINT) AS n_tokens
      |        FROM tok GROUP BY 1),
      |plan AS (
      |  SELECT per.*,
      |    CAST(floor(200000.0 / (SELECT count(*) FROM per)) AS BIGINT)
      |      AS target_tokens,
      |    CAST(floor(floor(200000.0 / (SELECT count(*) FROM per))
      |               / n_tokens) AS BIGINT) AS full_epochs
      |  FROM per),
      |plan2 AS (
      |  SELECT *,
      |    (target_tokens - full_epochs * n_tokens) * 1.0 / n_tokens
      |      AS rf_raw
      |  FROM plan),
      |plan3 AS (
      |  SELECT *,
      |    LEAST(GREATEST(CAST(round(rf_raw * 65536) AS INT), 0), 65536)
      |      AS n16
      |  FROM plan2),
      |rem AS (
      |  SELECT t.source, count(*) AS rem_docs,
      |    CAST(sum(t.n_tok) AS BIGINT) AS rem_tokens
      |  FROM tok t JOIN plan3 p USING (source)
      |  WHERE substring(md5(CAST(t.doc_id AS VARCHAR)), 1, 4) <
      |    CASE WHEN p.n16 >= 65536 THEN 'g'
      |         ELSE lower(lpad(to_hex(p.n16), 4, '0')) END
      |  GROUP BY 1)
      |SELECT p.source, p.n_docs, p.n_tokens, p.target_tokens,
      |  p.full_epochs, round(p.rf_raw, 4) AS rem_frac,
      |  coalesce(r.rem_docs, 0) AS rem_docs,
      |  coalesce(r.rem_tokens, 0) AS rem_tokens,
      |  p.full_epochs * p.n_tokens + coalesce(r.rem_tokens, 0)
      |    AS emitted_tokens
      |FROM plan3 p LEFT JOIN rem r USING (source)
      |ORDER BY p.source""".stripMargin

  // ---------------------------------------------------------------- t36
  // Quality-aware dedup representative: same clusters as t18 (connected
  // components over the exact n-gram Jaccard pair graph), but each
  // cluster keeps its HIGHEST-QUALITY member by t04's composite score
  // (ties to the smaller doc id) — "keep the best copy", not "keep the
  // first seen" (Dedup.keepBestPerCluster scaladoc). Docs in no
  // near-dup pair are not listed, matching t18's contract. The oracle
  // restates the closure + the quality formula + the re-election.
  private def t36(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.keepBestPerCluster(
        Dedup.connectedComponents(
          Dedup.ngramJaccard(d, n = 3, threshold = 0.5)),
        d.select(col("doc_id"), qualityCol.as("quality")))
      .orderBy("doc_id")
  }

  private val t36Sql = {
    val en = TextFns.langProfiles.head._2
    s"""WITH RECURSIVE toks AS (
      |  SELECT doc_id, $duckToks AS ts
      |  FROM documents
      |), idx AS (
      |  SELECT doc_id, ts,
      |         unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i
      |  FROM toks
      |), sh AS (
      |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      |  FROM idx
      |), cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |common AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
      |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT a, b FROM common
      |  JOIN cnt ca ON common.a = ca.doc_id
      |  JOIN cnt cb ON common.b = cb.doc_id
      |  WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5),
      |edges AS (SELECT a AS u, b AS v FROM p UNION SELECT b, a FROM p),
      |reach(u, v) AS (
      |  SELECT u, v FROM edges
      |  UNION
      |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      |comp AS (
      |  SELECT u AS doc_id, CAST(least(u, min(v)) AS BIGINT) AS component
      |  FROM reach GROUP BY u),
      |f AS (
      |  SELECT doc_id,
      |    len($duckToks) AS n_tokens,
      |    length(text) - length(translate(text, '.,!?;:', '')) AS n_punct,
      |    length(text) AS n_chars,
      |    ${duckVocabHits(en)} AS n_stop
      |  FROM documents),
      |q AS (
      |  SELECT doc_id,
      |    round(least(n_tokens, 100) / 100.0
      |          * (1.0 - n_punct * 1.0 / greatest(n_chars, 1))
      |          * (0.5 + 0.5 * n_stop / greatest(n_tokens, 1)), 4) AS quality
      |  FROM f)
      |SELECT comp.doc_id, component, quality,
      |  CAST(row_number() OVER (PARTITION BY component
      |         ORDER BY quality DESC, comp.doc_id) = 1 AS BIGINT) AS keep_doc
      |FROM comp JOIN q ON comp.doc_id = q.doc_id
      |ORDER BY comp.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t37
  // Gopher-rule quality gate (operators.QualityRules): the Rae et al.
  // 2021 App. A1.1 heuristic battery as a single map-only pass. Every
  // verdict is integer cross-multiplied on both engines, so keep flags
  // cannot flip on FP noise; displayed ratios are single divides of
  // exact counts rounded to 4.
  private def t37(s: SparkSession, dir: String): DataFrame =
    graft.operators.QualityRules.gopher(docs(s, dir)).orderBy("doc_id")

  private val t37Sql = {
    val stops = graft.operators.QualityRules.StopWords
      .map("'" + _ + "'").mkString(", ")
    s"""WITH f AS (
      |  SELECT doc_id,
      |    len($duckToks) AS n_words,
      |    length(coalesce(list_aggregate($duckToks, 'string_agg', ''), ''))
      |      AS sum_len,
      |    (length(text) - length(translate(text, '#', '')))
      |      + (length(text) - length(translate(text, '…', '')))
      |      + (length(text) - length(replace(text, '...', ''))) // 3
      |      AS n_symbols,
      |    greatest(len(list_filter(string_split(text, chr(10)),
      |                             l -> l <> '')), 1) AS n_lines,
      |    len(list_filter(list_filter(string_split(text, chr(10)),
      |          l -> l <> ''),
      |          l -> starts_with(l, '-') OR starts_with(l, '*')
      |               OR starts_with(l, '•'))) AS bullet_lines,
      |    len(list_filter(list_filter(string_split(text, chr(10)),
      |          l -> l <> ''),
      |          l -> ends_with(l, '...') OR ends_with(l, '…')))
      |      AS ellipsis_lines,
      |    len(list_filter($duckToks, t -> regexp_matches(t, '[a-z]')))
      |      AS alpha_words,
      |    len(list_filter($duckToks, t -> t IN ($stops))) AS stop_hits,
      |    len(list_filter([$stops], s -> list_contains($duckToks, s)))
      |      AS stop_distinct
      |  FROM documents),
      |v AS (
      |  SELECT *, greatest(n_words, 1) AS safe_n,
      |    n_words >= 50 AND n_words <= 100000 AS r_word_count,
      |    sum_len >= 3 * greatest(n_words, 1)
      |      AND sum_len <= 10 * greatest(n_words, 1) AS r_word_len,
      |    n_symbols * 10 <= greatest(n_words, 1) AS r_symbol,
      |    bullet_lines * 10 <= n_lines * 9 AS r_bullet,
      |    ellipsis_lines * 10 <= n_lines * 3 AS r_ellipsis,
      |    alpha_words * 5 >= n_words * 4 AS r_alpha,
      |    stop_distinct >= 2 AS r_stop
      |  FROM f)
      |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
      |  round(sum_len * 1.0 / safe_n, 4) AS mean_word_len,
      |  CAST(n_symbols AS BIGINT) AS n_symbols,
      |  CAST(bullet_lines AS BIGINT) AS bullet_lines,
      |  CAST(ellipsis_lines AS BIGINT) AS ellipsis_lines,
      |  round(alpha_words * 1.0 / safe_n, 4) AS alpha_word_ratio,
      |  CAST(stop_hits AS BIGINT) AS stop_hits,
      |  CAST(stop_distinct AS BIGINT) AS stop_distinct,
      |  r_word_count, r_word_len, r_symbol, r_bullet, r_ellipsis,
      |  r_alpha, r_stop,
      |  r_word_count AND r_word_len AND r_symbol AND r_bullet
      |    AND r_ellipsis AND r_alpha AND r_stop AS keep
      |FROM v ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t38
  // DSIR importance resampling (operators.Dsir): hashed unigram+bigram
  // bucket counts, add-1 smoothed target/raw log-ratio, top-K select.
  // Target = English docs; raw = the rest of the pool. ln-sum parity
  // rides the t27 argument (4-decimal rounding, ~1e-13 relative
  // engine noise); selection ranks the ROUNDED score with doc_id
  // tiebreak, so the flag is deterministic in both engines.
  private def t38(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dsir.importanceWeights(docs(s, dir),
        isTarget = col("lang") === "en")
      .orderBy("doc_id")

  private val t38Sql =
    s"""WITH toks AS (SELECT doc_id, lang = 'en' AS tgt, $duckToks AS ts
      |              FROM documents),
      |uni AS (SELECT doc_id, tgt, unnest(ts) AS g FROM toks),
      |bi AS (SELECT doc_id, tgt, ts[i] || ' ' || ts[i + 1] AS g
      |       FROM (SELECT doc_id, tgt, ts,
      |               unnest(generate_series(1, len(ts) - 1)) AS i
      |             FROM toks WHERE len(ts) >= 2) x),
      |grams AS (
      |  SELECT doc_id, tgt,
      |    CAST(concat('0x', substr(md5(g), 1, 6)) AS BIGINT) % 1024 AS b
      |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) u),
      |stats AS (
      |  SELECT b, sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
      |    sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS cr
      |  FROM grams GROUP BY b),
      |tot AS (SELECT sum(ct) AS t_total, sum(cr) AS r_total FROM stats),
      |lam AS (
      |  SELECT b, ln((ct + 1.0) / (t_total + 1024))
      |         - ln((cr + 1.0) / (r_total + 1024)) AS lam
      |  FROM stats, tot),
      |sc AS (
      |  SELECT doc_id, count(*) AS n_grams,
      |    round(sum(lam) / count(*), 4) + 0.0 AS log_w
      |  FROM grams JOIN lam USING (b) GROUP BY doc_id),
      |rk AS (
      |  SELECT *, row_number() OVER (ORDER BY log_w DESC, doc_id) AS rn
      |  FROM sc)
      |SELECT d.doc_id,
      |  CAST(coalesce(rk.n_grams, 0) AS BIGINT) AS n_grams,
      |  coalesce(rk.log_w, 0.0) AS log_w,
      |  coalesce(rk.rn <= 250, FALSE) AS selected
      |FROM documents d LEFT JOIN rk ON rk.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- t39
  // Winnowing fingerprints (operators.Winnowing, Schleimer et al.
  // 2003): k=8-char gram md5s, w=4 window minima, per-doc selected-set
  // summary. The Spark side is one projection (array expressions, no
  // explode/shuffle); the oracle restates it with per-position rows
  // and a window min — different mechanics, same selected set.
  private def t39(s: SparkSession, dir: String): DataFrame =
    // CPU-bound per-doc hashing on a 1-2-split test corpus: core-match
    // the stage (the audioMedia posture; a real crawl's file count
    // provides this for free).
    graft.operators.Winnowing.fingerprints(
      docs(s, dir).repartition(s.sparkContext.defaultParallelism))
      .orderBy("doc_id")

  private val t39Sql =
    """WITH norm AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
      |  FROM documents),
      |g AS (SELECT doc_id, t, length(t) AS n,
      |        greatest(length(t) - 7, 0) AS n_grams FROM norm),
      |grams AS (
      |  SELECT doc_id, n_grams, i, md5(substring(t, i, 8)) AS h
      |  FROM (SELECT doc_id, t, n_grams,
      |          unnest(generate_series(1, n_grams)) AS i
      |        FROM g WHERE n_grams >= 1) x),
      |minima AS (
      |  SELECT doc_id, i, n_grams,
      |    min(h) OVER (PARTITION BY doc_id ORDER BY i
      |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m
      |  FROM grams),
      |sel AS (
      |  SELECT DISTINCT doc_id, m FROM minima
      |  WHERE i <= greatest(n_grams - 3, 1)),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_fps,
      |    md5(string_agg(m, '' ORDER BY m)) AS fp_digest
      |  FROM sel GROUP BY doc_id)
      |SELECT g.doc_id, CAST(g.n_grams AS BIGINT) AS n_grams,
      |  coalesce(a.n_fps, 0) AS n_fps,
      |  coalesce(a.fp_digest, md5('')) AS fp_digest
      |FROM g LEFT JOIN agg a ON g.doc_id = a.doc_id
      |ORDER BY g.doc_id""".stripMargin

  // ---------------------------------------------------------------- t40
  // Content-defined chunking (operators.Cdc): sliding 8-char
  // polynomial hash, divisor-64 cuts, chunk fingerprints with
  // corpus-wide copy accounting. The polynomial's weights are
  // generated once in Scala and embedded in the oracle text
  // (Cdc.weightTerms), so both engines evaluate the identical exact
  // int64 hash.
  private def t40(s: SparkSession, dir: String): DataFrame =
    // Same core-matching move as t39: the window-hash scan is CPU-bound.
    graft.operators.Cdc.chunks(
      docs(s, dir).repartition(s.sparkContext.defaultParallelism))
      .orderBy("doc_id", "chunk_idx")

  private val t40Sql = {
    val hash = graft.operators.Cdc.weightTerms("text", "p")
    s"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
      |pos AS (SELECT doc_id, text, n,
      |          unnest(generate_series(8, n)) AS p
      |        FROM d WHERE n >= 8),
      |cuts AS (
      |  SELECT doc_id, p FROM pos WHERE ($hash) % 64 = 0
      |  UNION SELECT doc_id, n FROM d),
      |b AS (
      |  SELECT doc_id, p AS end_pos,
      |    coalesce(lag(p) OVER (PARTITION BY doc_id ORDER BY p), 0) + 1
      |      AS start_pos,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY p) AS chunk_idx
      |  FROM cuts),
      |chunks AS (
      |  SELECT b.doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
      |    CAST(start_pos AS BIGINT) AS start_pos,
      |    CAST(end_pos - start_pos + 1 AS BIGINT) AS chunk_len,
      |    md5(substring(d.text, b.start_pos, b.end_pos - b.start_pos + 1))
      |      AS chunk_fp
      |  FROM b JOIN d USING (doc_id))
      |SELECT doc_id, chunk_idx, start_pos, chunk_len, chunk_fp,
      |  count(*) OVER (PARTITION BY chunk_fp) AS n_copies,
      |  row_number() OVER (PARTITION BY chunk_fp
      |                     ORDER BY doc_id, chunk_idx) = 1 AS is_first
      |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin
  }

  // ---------------------------------------------------------------- t41
  // Unigram-LM tokenizer (operators.UnigramLm, Kudo 2018 / the
  // SentencePiece unigram family): corpus-scored piece vocabulary +
  // exact-integer Viterbi segmentation. Piece costs are integer
  // centinats, so the minimal (cost, n_tokens) value is
  // engine-independent; the oracle replays the engine's DP (the
  // `UnigramViterbi` expression) as a `list_reduce` fold over a packed
  // per-position cost layout ((p-1)·4+j slots, Inf in invalid cells).
  // Oracle notes:
  // a recursive-CTE formulation is also correct (validated equal at
  // sf0.01) but re-joins the vocab per character step — 40 s at
  // sf0.01, >50 min at sf0.1 — while the fold is one pass (2 s / 9 s);
  // and DuckDB 1.0's list_reduce aliases STRUCT accumulator fields
  // (a {'d1': acc.d1+1, 'd2': acc.d1} step yields d2 = the NEW d1),
  // so the accumulator is a plain BIGINT list ([i, d1..d4]), which
  // shifts correctly. Constants spliced from the Scala object.
  private def t41(s: SparkSession, dir: String): DataFrame =
    graft.operators.UnigramLm.encode(
      docs(s, dir).repartition(s.sparkContext.defaultParallelism))
      .orderBy("doc_id")

  private val t41Sql = {
    val shift = graft.operators.UnigramLm.Shift
    val inf = graft.operators.UnigramLm.Inf
    def step(j: Int) =
      s"""CASE WHEN cs[(x[1] - 1) * 4 + $j] >= $inf OR acc[${j + 1}] >= $inf
         |           THEN $inf
         |           ELSE acc[${j + 1}] + cs[(x[1] - 1) * 4 + $j] * $shift + 1
         |      END""".stripMargin
    s"""WITH norm AS (
      |  SELECT doc_id,
      |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
      |  FROM documents),
      |nd AS (SELECT doc_id, t, length(t) AS n FROM norm),
      |pieces AS (
      |  SELECT substring(t, i, j) AS piece
      |  FROM (SELECT t, n, unnest(generate_series(1, n)) AS i
      |        FROM nd WHERE n >= 1) x,
      |       (SELECT unnest(generate_series(1, 4)) AS j) y
      |  WHERE i + j - 1 <= n),
      |counts AS (SELECT piece, count(*) AS cnt FROM pieces GROUP BY piece),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM counts),
      |vocab AS (
      |  SELECT piece,
      |    CAST(round(-1000.0 * ln(cnt * 1.0 / tot)) AS BIGINT) AS cost
      |  FROM counts, tot WHERE cnt >= 5 OR length(piece) = 1),
      |grid AS (
      |  SELECT nd.doc_id, x.p, y.j,
      |    CASE WHEN y.j <= x.p
      |         THEN substring(nd.t, x.p - y.j + 1, y.j) END AS piece
      |  FROM nd
      |  JOIN (SELECT doc_id, unnest(generate_series(1, n)) AS p FROM nd) x
      |    ON x.doc_id = nd.doc_id,
      |       (SELECT unnest(generate_series(1, 4)) AS j) y),
      |carr AS (
      |  SELECT g.doc_id, list(coalesce(v.cost, $inf) ORDER BY g.p, g.j) AS cs
      |  FROM grid g LEFT JOIN vocab v ON v.piece = g.piece
      |  GROUP BY g.doc_id),
      |dp AS (
      |  SELECT nd.doc_id, nd.n,
      |    list_reduce(
      |      list_prepend([CAST(0 AS BIGINT), 0, $inf, $inf, $inf],
      |        list_transform(generate_series(1, nd.n),
      |          k -> [CAST(k AS BIGINT), 0, 0, 0, 0])),
      |      (acc, x) -> [
      |        x[1],
      |        least(
      |          ${step(1)},
      |          ${step(2)},
      |          ${step(3)},
      |          ${step(4)}),
      |        acc[2], acc[3], acc[4]]) AS fin
      |  FROM nd LEFT JOIN carr ON carr.doc_id = nd.doc_id)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
      |  CASE WHEN n > ${graft.operators.UnigramLm.MaxChars} THEN NULL
      |       WHEN n = 0 THEN 0 ELSE fin[2] % $shift END AS n_tokens,
      |  CASE WHEN n > ${graft.operators.UnigramLm.MaxChars} THEN NULL
      |       WHEN n = 0 THEN 0 ELSE fin[2] // $shift END AS total_cost
      |FROM dp ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- t42
  // Per-language tokenizer efficiency report: fertility (chars per
  // token) of the t41 unigram tokenizer by language — the standard
  // multilingual-tokenizer audit (a vocab trained on an en-heavy
  // corpus over-segments the other languages, and this table is how
  // that bias is surfaced before training). Reuses UnigramLm.encode
  // verbatim; one |langs|-bounded aggregation on top. Fertility is a
  // single divide of exact integer totals rounded to 4 — the t04
  // ratio discipline.
  private def t42(s: SparkSession, dir: String): DataFrame = {
    val enc = graft.operators.UnigramLm.encode(
      docs(s, dir).repartition(s.sparkContext.defaultParallelism))
    enc.join(docs(s, dir).select("doc_id", "lang"), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        sum("n_tokens").as("total_tokens"),
        sum("total_cost").as("total_cost"))
      .withColumn("fertility",
        round(col("total_chars") / greatest(col("total_tokens"), lit(1L)), 4))
      .orderBy("lang")
  }

  // The t41 oracle nested verbatim as a CTE (DuckDB permits WITH
  // inside a CTE body), aggregated by lang on top — the two oracles
  // can never drift apart.
  private val t42Sql =
    s"""WITH enc AS (
      |$t41Sql
      |)
      |SELECT d.lang, count(*) AS n_docs,
      |  CAST(sum(e.n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(e.n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(sum(e.total_cost) AS BIGINT) AS total_cost,
      |  round(sum(e.n_chars) * 1.0 / greatest(sum(e.n_tokens), 1), 4)
      |    AS fertility
      |FROM enc e JOIN documents d USING (doc_id)
      |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // ---------------------------------------------------------------- t43
  // Corpus n-gram novelty: per doc, the fraction of its distinct
  // 3-gram shingles appearing in NO other document — the
  // "how much of this page is new text" ranking signal (demotes
  // boilerplate-heavy pages before pair-join dedup even runs). Linear
  // in shingle volume: one df aggregation + a co-partitioned join
  // back, no candidate pairs (Dedup.ngramNovelty scaladoc).
  // The novelty-range predicate is semantically a no-op (novelty is
  // always in [0,1] and never null) but it REFERENCES the join's right
  // side, so a count()-style action — the bench protocol — cannot
  // eliminate the left-outer join through the distinct-key rule and
  // measure only the scan (verified: without it, Spark 4 collapses
  // count(t43) to an empty-schema file scan, 59 shuffle bytes).
  private def t43(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramNovelty(docs(s, dir), n = 3)
      .filter(col("novelty") >= 0).orderBy("doc_id")

  private val t43Sql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                             t -> t <> '') AS ts
      |  FROM documents
      |), idx AS (
      |  SELECT doc_id, ts,
      |         unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i
      |  FROM toks
      |), sh AS (
      |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      |  FROM idx
      |), freq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
      |per AS (
      |  SELECT s.doc_id, count(*) AS n_shingles,
      |         CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_unique
      |  FROM sh s JOIN freq f USING (shingle) GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(p.n_shingles, 0) AS n_shingles,
      |  coalesce(p.n_unique, 0) AS n_unique,
      |  round(coalesce(p.n_unique * 1.0 / p.n_shingles, 1.0), 4) AS novelty
      |FROM documents d LEFT JOIN per p USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- t44
  // Temperature-scaled mixture weights over per-language token counts
  // (p_lang ∝ tokens^0.3, the XLM-R multilingual-balancing rule):
  // share, weight, and the boost factor an epoch plan multiplies into
  // each language's sampling rate. One corpus scan + a |langs|-row
  // normalization (Sampling.temperatureWeights scaladoc).
  private def t44(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureWeights(
      docs(s, dir).withColumn("n_tokens",
        size(regexp_extract_all(col("text"), lit(tokenRegex), lit(0)))
          .cast("long")),
      groupCol = "lang", sizeCol = col("n_tokens"), alpha = 0.3)
      .orderBy("lang")

  private val t44Sql =
    s"""WITH g AS (
       |  SELECT lang, count(*) AS n_docs,
       |         CAST(sum(len(regexp_extract_all(text, '$tokenRegex'))) AS BIGINT)
       |           AS total
       |  FROM documents GROUP BY 1),
       |s AS (SELECT CAST(sum(total) AS BIGINT) AS gt,
       |             sum(pow(total, 0.3)) AS gp FROM g)
       |SELECT lang, n_docs, total,
       |  round(total * 1.0 / gt, 4) AS share,
       |  round(pow(total, 0.3) / gp, 4) AS weight,
       |  round((pow(total, 0.3) / gp) / (total * 1.0 / gt), 4) AS boost
       |FROM g, s ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- t45
  // Incremental novelty: the t43 signal in its daily-ingest form — a
  // batch (doc_id % 37 == 0, the t15 split) scores against the
  // STANDING corpus shingle-frequency index; the corpus is never
  // re-paired (t19's precedent for the dedup miner). Same
  // count()-elimination guard as t43 (left join on a distinct key).
  private def t45(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Dedup.ngramNoveltyAgainst(
        newDocs = d.filter(col("doc_id") % 37 === 0),
        corpusIndex = Dedup.corpusShingleIndex(
          d.filter(col("doc_id") % 37 =!= 0), n = 3),
        n = 3)
      .filter(col("novelty") >= 0)
      .orderBy("doc_id")
  }

  private val t45Sql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                             t -> t <> '') AS ts
      |  FROM documents
      |), idx AS (
      |  SELECT doc_id, ts,
      |         unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i
      |  FROM toks
      |), sh AS (
      |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      |  FROM idx
      |), corp AS (
      |  SELECT shingle, count(*) AS df FROM sh
      |  WHERE doc_id % 37 <> 0 GROUP BY 1
      |), bat AS (SELECT * FROM sh WHERE doc_id % 37 = 0),
      |per AS (
      |  SELECT b.doc_id, count(*) AS n_shingles,
      |         CAST(sum(CASE WHEN c.df IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_unique
      |  FROM bat b LEFT JOIN corp c USING (shingle) GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(p.n_shingles, 0) AS n_shingles,
      |  coalesce(p.n_unique, 0) AS n_unique,
      |  round(coalesce(p.n_unique * 1.0 / p.n_shingles, 1.0), 4) AS novelty
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 37 = 0) d
      |LEFT JOIN per p USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- e13
  // Per-label centroid-distance outliers: the 10 vectors farthest (by
  // cosine) from their own label's centroid — the prototypicality
  // audit that surfaces mislabeled/off-topic embeddings per group
  // (the too-FAR complement of e06's too-close semantic dedup).
  // Ranking runs on round(sim, 4) with an id tie-break so both engines
  // rank identically; the bottom-k goes through the GroupedTopK
  // physical operator, not a per-label window.
  private def e13(s: SparkSession, dir: String): DataFrame =
    Similarity.centroidOutliers(embs(s, dir), groupCol = "label", k = 10)
      .select(col("grp").as("label"), col("id").as("vec_id"), col("sim"))
      .orderBy("label", "sim", "vec_id")

  private val e13Sql =
    """WITH uv AS (
      |  SELECT vec_id, label,
      |    list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                                     CAST(embedding AS DOUBLE[])))) AS u
      |  FROM embeddings
      |), ex AS (
      |  SELECT vec_id, label, unnest(u) AS x, generate_subscripts(u, 1) AS dim
      |  FROM uv
      |), cent AS (
      |  SELECT label, dim, round(avg(x), 6) AS m FROM ex GROUP BY 1, 2
      |), cn AS (
      |  SELECT label, sqrt(sum(m * m)) AS nrm FROM cent GROUP BY 1
      |), dots AS (
      |  SELECT e.vec_id, e.label, sum(e.x * c.m) AS d
      |  FROM ex e JOIN cent c USING (label, dim) GROUP BY 1, 2
      |), sims AS (
      |  SELECT dots.label, dots.vec_id, round(d / nrm, 4) AS sim
      |  FROM dots JOIN cn USING (label)
      |), r AS (
      |  SELECT label, vec_id, sim,
      |    row_number() OVER (PARTITION BY label ORDER BY sim, vec_id) AS rk
      |  FROM sims)
      |SELECT label, vec_id, sim FROM r WHERE rk <= 10
      |ORDER BY label, sim, vec_id""".stripMargin

  // ---------------------------------------------------------------- e14
  // Bitext-style margin mining (Artetxe & Schwenk 2019): align a
  // BATCH of the label<5 half (vec_id < 500 — the incremental-mining
  // production shape: today's new translations against the standing
  // other-side corpus) against the full label>=5 half by the margin
  // criterion — cos(x,y) over the mean of both sides' top-4
  // neighborhood sims, which cancels hubness where raw cosine pairs
  // half the corpus to one hub. Exact two-pass kNN here — with the A
  // side a fixed batch both passes are LINEAR in the corpus (round-10
  // fix: the unbounded half-×-half instance exact-scored |A|·|B|
  // pairs and walled 26.9 s at the sf1 replica). The full-corpus-pair
  // mine is Similarity.bitextMarginPairsIvf (sub-quadratic IVF
  // passes, same margin arithmetic; recall pinned in OperatorSpec).
  private def e14(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.bitextMarginPairs(
        e.filter(col("label") < 5 && col("vec_id") < 500),
        e.filter(col("label") >= 5),
        k = 4, topN = 50)
      .orderBy(col("margin").desc, col("a_id"))
  }

  private val e14Sql =
    """WITH a AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      |  FROM embeddings WHERE label < 5 AND vec_id < 500
      |), b AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      |  FROM embeddings WHERE label >= 5
      |), s AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |         list_cosine_similarity(a.e, b.e) AS sraw
      |  FROM a, b
      |), fwd AS (
      |  SELECT a_id, b_id, round(sraw, 4) AS sr,
      |    row_number() OVER (PARTITION BY a_id ORDER BY sraw DESC, b_id) AS rk
      |  FROM s
      |), fm AS (SELECT a_id, avg(sr) AS m FROM fwd WHERE rk <= 4 GROUP BY 1),
      |bwd AS (
      |  SELECT a_id, b_id, round(sraw, 4) AS sr,
      |    row_number() OVER (PARTITION BY b_id ORDER BY sraw DESC, a_id) AS rk
      |  FROM s
      |), bm AS (SELECT b_id, avg(sr) AS m FROM bwd WHERE rk <= 4 GROUP BY 1),
      |cand AS (SELECT a_id, b_id, sr FROM fwd WHERE rk = 1),
      |sc AS (
      |  SELECT c.a_id, c.b_id, c.sr AS sim,
      |         round(c.sr / ((fm.m + bm.m) / 2), 4) AS margin
      |  FROM cand c JOIN fm USING (a_id) JOIN bm USING (b_id))
      |SELECT a_id, b_id, sim, margin FROM sc
      |ORDER BY margin DESC, a_id LIMIT 50""".stripMargin

  // ---------------------------------------------------------------- t46
  // Gopher repetition signals (QualityRules.repetition): per-doc char
  // coverage of the most covering word 2-gram and of all duplicated
  // n-grams, with integer cross-multiplied keep verdicts — the App.
  // A1.1 repetition-removal half that t17 (token-level) and t37 (the
  // readability rules) do not cover. Two explode→count aggregations,
  // both with map-side partials; per-doc state is gram counts.
  // dupN pinned to 3 HERE (operator default 5, the paper's band):
  // this corpus's short docs never repeat a 5-gram at any SF, so the
  // paper default would drive the dup rule through the oracle as a
  // constant; at n=3 / 0.10 both verdicts discriminate (sf0.01:
  // 13 docs fail r_top, 5 fail r_dup).
  // The top_chars-range predicate is semantically a no-op (coverage is
  // never negative or null after the coalesce) but it REFERENCES the
  // gram-aggregation joins' right side, so the bench's count() cannot
  // eliminate the left-outer joins through the distinct-key rule and
  // measure only the base scan — the t43 lesson (SCALING.md bench-
  // protocol note); without it this query benches at 59 shuffle bytes.
  private def t46(s: SparkSession, dir: String): DataFrame =
    graft.operators.QualityRules.repetition(docs(s, dir), dupN = 3,
      maxDupBp = 1000).filter(col("top_chars") >= 0).orderBy("doc_id")

  private val t46Sql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                             t -> t <> '') AS ts
      |  FROM documents
      |), base AS (
      |  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_words,
      |         CAST(strlen(array_to_string(ts, ' ')) AS BIGINT) AS stream_chars,
      |         ts
      |  FROM toks
      |), i2 AS (
      |  SELECT doc_id, ts,
      |         unnest(generate_series(1, greatest(len(ts) - 1, 0))) AS i
      |  FROM base
      |), c2 AS (
      |  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS gram, count(*) AS c
      |  FROM i2 GROUP BY 1, 2
      |), a2 AS (
      |  SELECT doc_id, max(c * CAST(strlen(gram) AS BIGINT)) AS top_chars
      |  FROM c2 GROUP BY 1
      |), i3 AS (
      |  SELECT doc_id, ts,
      |         unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i
      |  FROM base
      |), c3 AS (
      |  SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS gram,
      |         count(*) AS c
      |  FROM i3 GROUP BY 1, 2
      |), a3 AS (
      |  SELECT doc_id,
      |         CAST(coalesce(sum(CASE WHEN c > 1
      |                           THEN c * strlen(gram) END), 0) AS BIGINT)
      |           AS dup_chars
      |  FROM c3 GROUP BY 1
      |)
      |SELECT b.doc_id, b.n_words, b.stream_chars,
      |  CAST(coalesce(a2.top_chars, 0) AS BIGINT) AS top_chars,
      |  CAST(coalesce(a3.dup_chars, 0) AS BIGINT) AS dup_chars,
      |  round(coalesce(a2.top_chars, 0) * 1.0
      |        / greatest(b.stream_chars, 1), 4) AS top2gram_frac,
      |  round(coalesce(a3.dup_chars, 0) * 1.0
      |        / greatest(b.stream_chars, 1), 4) AS dup3gram_frac,
      |  coalesce(a2.top_chars, 0) * 10000
      |    <= 2000 * greatest(b.stream_chars, 1) AS r_top,
      |  coalesce(a3.dup_chars, 0) * 10000
      |    <= 1000 * greatest(b.stream_chars, 1) AS r_dup,
      |  (coalesce(a2.top_chars, 0) * 10000
      |     <= 2000 * greatest(b.stream_chars, 1))
      |  AND (coalesce(a3.dup_chars, 0) * 10000
      |     <= 1000 * greatest(b.stream_chars, 1)) AS keep
      |FROM base b LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
      |ORDER BY b.doc_id""".stripMargin

  // ---------------------------------------------------------------- e15
  // SQ8 flat-scan ANN (Similarity.knnSq8): byte-quantized codes scanned
  // with the integer-dot expression, exact rerank of the top 50.
  // Prunes nothing — recall loss is int8 rounding only — so its floor
  // sits well above the bucketed families'. Audited vs exact kNN like
  // every ANN query.
  private[graft] def e15Raw(s: SparkSession, dir: String): DataFrame =
    Similarity.knnSq8(embs(s, dir), k = 5, queryFilter = col("id") < 50,
      rerank = 50)

  private def e15(s: SparkSession, dir: String): DataFrame =
    annAudit(s, dir, e15Raw(s, dir), k = 5, floor = annFloors("e15"))

  // ---------------------------------------------------------------- t47
  // Cross-source shingle-overlap matrix (Dedup.groupOverlap): which
  // sources share content, as distinct-3-gram intersection counts and
  // group Jaccard — the pre-mixing contamination audit. The oracle
  // restates the whole matrix over string shingles; the operator's
  // xxhash64 index must produce identical counts (collision bound
  // ~3e-8, the ngramJaccard standard).
  private def t47(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.groupOverlap(docs(s, dir), groupCol = "source",
      n = 3).orderBy("src_a", "src_b")

  private val t47Sql =
    """WITH toks AS (
      |  SELECT source, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                             t -> t <> '') AS ts
      |  FROM documents
      |), idx AS (
      |  SELECT source, ts,
      |         unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i
      |  FROM toks
      |), sh AS (
      |  SELECT DISTINCT source, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      |  FROM idx
      |), cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1),
      |pairs AS (
      |  SELECT x.source AS src_a, y.source AS src_b, CAST(count(*) AS BIGINT) AS n_common
      |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.source < y.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, n_common, ca.n AS n_a, cb.n AS n_b,
      |  round(n_common * 1.0 / (ca.n + cb.n - n_common), 4) AS jaccard
      |FROM pairs JOIN cnt ca ON pairs.src_a = ca.source
      |           JOIN cnt cb ON pairs.src_b = cb.source
      |ORDER BY src_a, src_b""".stripMargin

  // ---------------------------------------------------------------- t48
  // Interpolated trigram LM (NgramLm.trigramScores, λ = .6/.3/.1):
  // the higher-order CCNet-style filter. The oracle restates the
  // whole model — trigram table, its four marginals, the same
  // division-then-scale arithmetic — so the 4-decimal rounding rides
  // the t27 argument (~1e-13 relative agreement on exact-integer
  // ratios).
  private def t48(s: SparkSession, dir: String): DataFrame =
    graft.operators.NgramLm.trigramScores(docs(s, dir))
      .select(col("doc_id"), col("n_trigrams"),
        round(col("avg_nll"), 4).as("avg_nll"))
      .orderBy("doc_id")

  /** The trigram-model CTE chain shared by t48 and t51 (CCNet bucket
    * assignment replays the identical per-doc score).
    */
  private val trigramScoreCtes =
    s"""toks AS (SELECT doc_id, $duckToks AS ts FROM documents),
      |pos AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 2)) AS i
      |        FROM toks WHERE len(ts) >= 3),
      |dt AS (SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2, ts[i+2] AS w3,
      |         count(*) AS k
      |       FROM pos GROUP BY 1, 2, 3, 4),
      |c123 AS (SELECT w1, w2, w3, sum(k) AS c123 FROM dt GROUP BY 1, 2, 3),
      |c12 AS (SELECT w1, w2, sum(c123) AS c12 FROM c123 GROUP BY 1, 2),
      |c23 AS (SELECT w2, w3, sum(c123) AS c23 FROM c123 GROUP BY 1, 2),
      |c2g AS (SELECT w2, sum(c123) AS c2 FROM c123 GROUP BY 1),
      |c3g AS (SELECT w3, sum(c123) AS c3 FROM c123 GROUP BY 1),
      |nt AS (SELECT sum(c123) AS n FROM c123),
      |sc AS (SELECT dt.doc_id, dt.k,
      |         -ln(0.6 * (c123.c123 / c12.c12) + 0.3 * (c23.c23 / c2g.c2)
      |             + 0.1 * (c3g.c3 / nt.n)) AS nll
      |       FROM dt JOIN c123 USING (w1, w2, w3) JOIN c12 USING (w1, w2)
      |               JOIN c23 USING (w2, w3) JOIN c2g USING (w2)
      |               JOIN c3g USING (w3) CROSS JOIN nt)""".stripMargin

  private val t48Sql =
    s"""WITH $trigramScoreCtes
      |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_trigrams,
      |       round(sum(k * nll) / sum(k), 4) AS avg_nll
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t51
  // CCNet head/middle/tail perplexity buckets (Wenzek et al., "CCNet:
  // Extracting High Quality Monolingual Datasets from Web Crawl Data",
  // LREC 2020 §4.3): per LANGUAGE, rank documents by LM score and cut
  // into tertiles — the quality gradation CCNet ships alongside the
  // text so consumers can train on head-only or mix buckets. Scores
  // are t48's interpolated trigram avg-NLL rounded to the proven 4dp
  // grid BEFORE ranking (ordering on the raw double could diverge
  // cross-engine below the rounding; on the grid, ties break by
  // doc_id). Docs too short to score (< 3 tokens) drop, as in CCNet.
  //
  // Scale note: ntile-per-language is the declared bit-stable
  // semantics; a language is one window partition, so the 100 TB path
  // swaps the per-lang sort for approx-percentile cutoffs broadcast
  // back as map-side bucket thresholds (the q24/q33 machinery) —
  // same buckets away from cutoff ties at a fraction of the cost.
  private def t51(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val ds = graft.operators.NgramLm.trigramScores(d)
      .select(col("doc_id"), round(col("avg_nll"), 4).as("avg_nll"))
    d.select("doc_id", "lang").join(ds, "doc_id")
      .withColumn("nt", ntile(3).over(
        Window.partitionBy("lang").orderBy(col("avg_nll"), col("doc_id"))))
      .select(col("doc_id"), col("lang"), col("avg_nll"),
        when(col("nt") === 1, "head").when(col("nt") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  private val t51Sql =
    s"""WITH $trigramScoreCtes,
      |ds AS (SELECT doc_id, round(sum(k * nll) / sum(k), 4) AS avg_nll
      |       FROM sc GROUP BY doc_id),
      |j AS (SELECT d.doc_id, d.lang, ds.avg_nll
      |      FROM documents d JOIN ds ON d.doc_id = ds.doc_id),
      |b AS (SELECT doc_id, lang, avg_nll,
      |        ntile(3) OVER (PARTITION BY lang
      |                       ORDER BY avg_nll, doc_id) AS nt
      |      FROM j)
      |SELECT doc_id, lang, avg_nll,
      |  CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
      |    AS bucket
      |FROM b ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t49
  // Per-source Zipf/vocabulary health profile (CorpusStats
  // .zipfProfile): exact token/vocab counts, modal token, and the
  // ln-ln rank-frequency slope over each source's top-50 tokens. The
  // oracle recomputes the regression with DuckDB's regr_slope (the
  // same moment form).
  private def t49(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusStats.zipfProfile(docs(s, dir),
      groupCol = "source", zipfK = 50).orderBy("source")

  private val t49Sql =
    s"""WITH tf AS (
      |  SELECT source, t AS tok, CAST(count(*) AS BIGINT) AS f
      |  FROM (SELECT source, unnest($duckToks) AS t FROM documents)
      |  GROUP BY 1, 2),
      |rk AS (SELECT *, row_number() OVER (PARTITION BY source
      |                                    ORDER BY f DESC, tok) AS r FROM tf),
      |tot AS (SELECT source, CAST(sum(f) AS BIGINT) AS n_tokens,
      |          CAST(count(*) AS BIGINT) AS n_vocab
      |        FROM tf GROUP BY 1),
      |top AS (SELECT source, tok AS top_token, f AS top_freq FROM rk WHERE r = 1),
      |z AS (SELECT source, regr_slope(ln(f), ln(r)) AS zipf_slope
      |      FROM rk WHERE r <= 50 GROUP BY 1)
      |SELECT source, n_tokens, n_vocab,
      |  round(n_vocab * 1.0 / n_tokens, 4) AS ttr,
      |  top_token, top_freq, round(zipf_slope, 4) AS zipf_slope
      |FROM tot JOIN top USING (source) JOIN z USING (source)
      |ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t50
  // TrustRank quality propagation (Gyöngyi et al., VLDB 2004) over the
  // near-dup graph: seed every document of the lexicographically first
  // source as "vetted", then run 3 seed-biased power iterations on the
  // exact int64 mass grid (operators/PageRank.trustRanks) — recrawls
  // and mirrors of vetted content inherit trust through their
  // duplicate edges, everything outside a trusted component scores an
  // exact 0 and is filtered. Edges here are the exact-Jaccard pairs
  // (t02's miner, the oracle-matchable form); at 100 TB the SAME
  // operator rides the banded MinHash-LSH pairs (t07) — the edge list
  // is a parameter, so the quadratic-free mining path carries over
  // unchanged. Integer sums make the trust values bit-identical to
  // the oracle's unrolled recurrence.
  private def t50(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val pairs = Dedup.ngramJaccard(d, n = 3, threshold = 0.5)
      .select(col("a").as("src"), col("b").as("dst"))
    val minSrc = d.agg(min("source").as("ms"))
    val seeds = d.join(broadcast(minSrc), d("source") === col("ms"))
      .select(col("doc_id").as("node"))
    graft.operators.PageRank.trustRanks(pairs, seeds, iters = 3,
      dedupEdges = false, symmetrize = true)
      .filter(col("rank") > 0)
      .select(col("node").as("doc_id"), col("rank").as("trust"),
        col("is_seed"))
      .orderBy("doc_id")
  }

  private val t50Sql = {
    def step(i: Int): String = {
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""s$i AS (SELECT e.dst AS node,
        |  CAST(sum($prev.rank // deg.deg) AS BIGINT) AS m
        |  FROM e JOIN deg USING (src) JOIN $prev ON $prev.node = e.src
        |  GROUP BY 1),
        |r$i AS (SELECT n.node, n.is_seed * c.tp
        |    + (85 * coalesce(m, 0)) // 100 AS rank, n.is_seed
        |  FROM nodes n LEFT JOIN s$i USING (node), c)""".stripMargin
    }
    s"""WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                             t -> t <> '') AS ts
      |  FROM documents
      |), idx AS (
      |  SELECT doc_id, ts,
      |         unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i
      |  FROM toks
      |), sh AS (
      |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      |  FROM idx
      |), cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |common AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS common
      |  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT a, b FROM common
      |  JOIN cnt ca ON common.a = ca.doc_id
      |  JOIN cnt cb ON common.b = cb.doc_id
      |  WHERE common * 1.0 / (ca.n + cb.n - common) >= 0.5),
      |e AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
      |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
      |sd AS (SELECT doc_id AS node FROM documents
      |       WHERE source = (SELECT min(source) FROM documents)),
      |nodes AS (SELECT node,
      |    CAST(node IN (SELECT node FROM sd) AS BIGINT) AS is_seed
      |  FROM (SELECT DISTINCT node FROM
      |    (SELECT src AS node FROM e UNION ALL SELECT node FROM sd))),
      |c AS (SELECT 1000000000000 // count(*) AS u,
      |  (15 * (1000000000000 // count(*))) // 100 AS tp FROM sd),
      |r0 AS (SELECT node, is_seed * c.u AS rank, is_seed FROM nodes, c),
      |${step(1)},
      |${step(2)},
      |${step(3)}
      |SELECT node AS doc_id, rank AS trust, is_seed
      |FROM r3 WHERE rank > 0 ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- e16
  // MMR diverse top-10 for query vector 0 over the full corpus
  // (λ = 7/10). Every score is an exact integer in 1e-5 units (sims
  // snapped to basis points before the arithmetic), so the greedy
  // trajectory is bit-stable across engines; the oracle replays it
  // with a recursive CTE carrying the selected-id list.
  private def e16(s: SparkSession, dir: String): DataFrame =
    Similarity.mmrSelect(embs(s, dir), queryId = 0L, k = 10).orderBy("step")

  private val e16Sql =
    """WITH RECURSIVE
      |q AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id = 0),
      |cand AS (
      |  SELECT c.vec_id AS id, CAST(c.embedding AS DOUBLE[]) AS e,
      |    CAST(round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), q.e)
      |               * 10000) AS BIGINT) AS sq
      |  FROM embeddings c, q WHERE c.vec_id <> 0),
      |sel(step, id, score, ids) AS (
      |  (SELECT CAST(1 AS BIGINT), id, 7 * sq, [id] FROM cand
      |   ORDER BY sq DESC, id LIMIT 1)
      |  UNION ALL
      |  (SELECT sel.step + 1, nxt.id, nxt.score, list_append(sel.ids, nxt.id)
      |   FROM sel, LATERAL (
      |     SELECT c.id AS id,
      |       7 * c.sq - 3 * (SELECT max(CAST(round(
      |           list_cosine_similarity(c.e, s.e) * 10000) AS BIGINT))
      |         FROM cand s WHERE list_contains(sel.ids, s.id)) AS score
      |     FROM cand c WHERE NOT list_contains(sel.ids, c.id)
      |     ORDER BY score DESC, id LIMIT 1) nxt
      |   WHERE sel.step < 10))
      |SELECT step, id AS vec_id, score AS score_e5 FROM sel ORDER BY step""".stripMargin

  // ---------------------------------------------------------------- e17
  // Leave-one-out 5-NN label-consistency audit over the first 500
  // query vectors (the exact baseline; ANN sources swap in at scale).
  // On this corpus the labels are nearly neighborhood-independent
  // (~90% disagreement) — which is exactly what the audit exists to
  // measure and report, vector by vector.
  private def e17(s: SparkSession, dir: String): DataFrame =
    Similarity.labelAudit(embs(s, dir), k = 5,
      queryFilter = col("vec_id") < 500).orderBy("vec_id")

  private val e17Sql =
    """WITH sims AS (
      |  SELECT q.vec_id AS qid, q.label AS own, c.vec_id AS nid, c.label AS nl,
      |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                           CAST(c.embedding AS DOUBLE[])) AS s
      |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 500),
      |r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY s DESC, nid) AS rk
      |      FROM sims),
      |v AS (SELECT qid, own, nl, CAST(count(*) AS BIGINT) AS votes
      |      FROM r WHERE rk <= 5 GROUP BY 1, 2, 3),
      |p AS (SELECT qid, own, nl, votes,
      |        row_number() OVER (PARTITION BY qid ORDER BY votes DESC, nl) AS pr
      |      FROM v),
      |ow AS (SELECT qid, votes AS votes_own FROM v WHERE nl = own)
      |SELECT p.qid AS vec_id, CAST(p.own AS BIGINT) AS own_label,
      |  CAST(p.nl AS BIGINT) AS pred_label, p.votes AS votes_pred,
      |  coalesce(ow.votes_own, CAST(0 AS BIGINT)) AS votes_own,
      |  p.nl <> p.own AS mislabeled
      |FROM p LEFT JOIN ow ON p.qid = ow.qid
      |WHERE p.pr = 1 ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------- m10
  // WebDataset tar-shard round trip (ingest.WebDataset): every
  // document becomes a two-file sample ({key}.txt + {key}.json
  // metadata) packed into 8 USTAR shards by key hash — the packaging
  // format multimodal training corpora actually ship in — then read
  // back via the binaryFile source + from-scratch tar parser
  // (checksum-verified per entry) and re-aggregated per language from
  // the ROUND-TRIPPED bytes. A single corrupted header offset, size
  // field, or padding byte shifts an entry and flips n_distinct /
  // total_chars against the oracle, which reads the parquet originals
  // — the round trip must be invisible (the q51 JSONL discipline,
  // applied to the tar layer).
  private def m10(s: SparkSession, dir: String): DataFrame = {
    val out = System.getProperty("java.io.tmpdir") +
      s"/graft_wds_${new java.io.File(dir).getName}"
    val key = format_string("%08d", col("doc_id"))
    val samples = docs(s, dir).select(key.as("key"),
      array(
        struct(concat(key, lit(".txt")).as("name"),
          encode(col("text"), "UTF-8").as("data")),
        struct(concat(key, lit(".json")).as("name"),
          encode(to_json(struct(col("lang"), col("source"))), "UTF-8")
            .as("data"))).as("files"))
    graft.ingest.WebDataset.writeShards(samples, out, nShards = 8)
    val rt = graft.ingest.WebDataset.readShards(s, out)
    rt.groupBy("key").agg(
        max(when(col("ext") === "txt", col("data"))).as("txt"),
        max(when(col("ext") === "json", col("data"))).as("js"))
      .select(decode(col("txt"), "UTF-8").as("text"),
        get_json_object(decode(col("js"), "UTF-8"), "$.lang").as("lang"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct"),
        sum(length(col("text"))).as("total_chars"))
      .orderBy("lang")
  }

  private val m10Sql =
    """SELECT lang, count(*) AS n_docs,
      |  count(DISTINCT md5(text)) AS n_distinct,
      |  CAST(sum(len(text)) AS BIGINT) AS total_chars
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- e18
  // ColBERT MaxSim late-interaction retrieval (Similarity.maxSim):
  // each 64-dim embedding read as 4 unit-normalized 16-dim
  // "token" sub-vectors; score(q,d) = Σ_i max_j cos(q_i, d_j) with
  // every sub-cosine snapped to the 1e-4 integer grid before max/sum,
  // so the ranking is bit-stable and the oracle replays the exact
  // arithmetic. 8 queries vs the rest of the corpus, top-5 each.
  private def e18(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.maxSim(e.filter(col("vec_id") < 8),
        e.filter(col("vec_id") >= 8), k = 5, dim = 64, nSub = 4)
      .orderBy("query_id", "rank")
  }

  private val e18Sql =
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS e
      |           FROM embeddings WHERE vec_id < 8),
      |d AS (SELECT vec_id AS did, CAST(embedding AS DOUBLE[]) AS e
      |      FROM embeddings WHERE vec_id >= 8),
      |qs AS (SELECT qid, i, e[i*16+1 : i*16+16] AS s
      |       FROM q, generate_series(0, 3) t(i)),
      |qn AS (SELECT qid, i, list_transform(s, x -> x /
      |         CASE WHEN sqrt(list_dot_product(s, s)) = 0 THEN 1
      |              ELSE sqrt(list_dot_product(s, s)) END) AS s FROM qs),
      |ds AS (SELECT did, j, e[j*16+1 : j*16+16] AS s
      |       FROM d, generate_series(0, 3) t(j)),
      |dn AS (SELECT did, j, list_transform(s, x -> x /
      |         CASE WHEN sqrt(list_dot_product(s, s)) = 0 THEN 1
      |              ELSE sqrt(list_dot_product(s, s)) END) AS s FROM ds),
      |mx AS (SELECT qid, did, i,
      |         max(CAST(round(list_dot_product(qn.s, dn.s) * 10000)
      |             AS BIGINT)) AS m
      |       FROM qn, dn GROUP BY 1, 2, 3),
      |sc AS (SELECT qid, did, CAST(sum(m) AS BIGINT) AS maxsim
      |       FROM mx GROUP BY 1, 2),
      |rk AS (SELECT qid, did, maxsim,
      |         row_number() OVER (PARTITION BY qid
      |                            ORDER BY maxsim DESC, did) AS rn
      |       FROM sc)
      |SELECT qid AS query_id, CAST(rn AS BIGINT) AS rank, did AS doc_id,
      |  maxsim
      |FROM rk WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------- e19
  // PLAID-pruned MaxSim (Similarity.maxSimPruned) audited against the
  // exact late-interaction operator, the e03-e12 discipline: the
  // output row per query carries the EXACT top-1 (oracle-replayable
  // through e18's model) plus the measured pruned-vs-exact top-5
  // recall gated on a floor — the oracle can restate the exact side
  // and the constant floor, so a recall regression flips meets_floor
  // and fails the hash. 16 token-centroid cells, half probed.
  private def e19(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val q = e.filter(col("vec_id") < 8)
    val c = e.filter(col("vec_id") >= 8)
    val exact = Similarity.maxSim(q, c, k = 5, dim = 64)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    releasing(exact) {
      val pruned = Similarity.maxSimPruned(q, c, k = 5, dim = 64,
        nCells = 16, nProbe = 8)
      val hits = pruned.select("query_id", "doc_id")
        .join(exact.select("query_id", "doc_id"), Seq("query_id", "doc_id"))
        .groupBy("query_id").agg(count(lit(1)).as("hits"))
      val rec = exact.groupBy("query_id").agg(count(lit(1)).as("nk"))
        .join(hits, Seq("query_id"), "left")
        .agg((sum(coalesce(col("hits"), lit(0L))).cast("double") /
          sum("nk")).as("mean_recall"))
      exact.filter(col("rank") === 1)
        .select(col("query_id"), col("doc_id").as("exact_top1"),
          col("maxsim").as("exact_top1_maxsim"))
        .crossJoin(broadcast(rec))
        .select(col("query_id"), col("exact_top1"),
          col("exact_top1_maxsim"), lit(5).as("k"),
          lit(MaxSimRecallFloor).as("recall_floor"),
          (col("mean_recall") >= MaxSimRecallFloor).cast("int")
            .as("meets_floor"))
        .orderBy("query_id")
    }
  }

  private val MaxSimRecallFloor = 0.5

  private val e19Sql =
    """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS e
      |           FROM embeddings WHERE vec_id < 8),
      |d AS (SELECT vec_id AS did, CAST(embedding AS DOUBLE[]) AS e
      |      FROM embeddings WHERE vec_id >= 8),
      |qs AS (SELECT qid, i, e[i*16+1 : i*16+16] AS s
      |       FROM q, generate_series(0, 3) t(i)),
      |qn AS (SELECT qid, i, list_transform(s, x -> x /
      |         CASE WHEN sqrt(list_dot_product(s, s)) = 0 THEN 1
      |              ELSE sqrt(list_dot_product(s, s)) END) AS s FROM qs),
      |ds AS (SELECT did, j, e[j*16+1 : j*16+16] AS s
      |       FROM d, generate_series(0, 3) t(j)),
      |dn AS (SELECT did, j, list_transform(s, x -> x /
      |         CASE WHEN sqrt(list_dot_product(s, s)) = 0 THEN 1
      |              ELSE sqrt(list_dot_product(s, s)) END) AS s FROM ds),
      |mx AS (SELECT qid, did, i,
      |         max(CAST(round(list_dot_product(qn.s, dn.s) * 10000)
      |             AS BIGINT)) AS m
      |       FROM qn, dn GROUP BY 1, 2, 3),
      |sc AS (SELECT qid, did, CAST(sum(m) AS BIGINT) AS maxsim
      |       FROM mx GROUP BY 1, 2),
      |rk AS (SELECT qid, did, maxsim,
      |         row_number() OVER (PARTITION BY qid
      |                            ORDER BY maxsim DESC, did) AS rn
      |       FROM sc)
      |SELECT qid AS query_id, did AS exact_top1,
      |  maxsim AS exact_top1_maxsim, 5 AS k,
      |  CAST(0.5 AS DOUBLE) AS recall_floor, 1 AS meets_floor
      |FROM rk WHERE rn = 1 ORDER BY query_id""".stripMargin

  // ---------------------------------------------------------------- t52
  // Readability profile (QualityRules.readability): Flesch-Kincaid
  // grade and Reading Ease on the ×100 integer grid, with the vowel-
  // group syllable heuristic — the prose-difficulty signal data-mix
  // bucketing uses. Map-only; every division truncates (DIV / //), so
  // the scores are bit-stable cross-engine.
  private def t52(s: SparkSession, dir: String): DataFrame =
    graft.operators.QualityRules.readability(docs(s, dir)).orderBy("doc_id")

  private val t52Sql =
    """WITH f AS (
      |  SELECT doc_id,
      |    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                    t -> t <> '')) AS n_words,
      |    greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents,
      |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syll
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, n_words, n_sents, n_syll,
      |    (39 * n_words) // n_sents
      |      + (1180 * n_syll) // greatest(n_words, 1) - 1559 AS fk100,
      |    20684 - (1015 * n_words) // n_sents
      |      - (8460 * n_syll) // greatest(n_words, 1) AS fre100
      |  FROM f)
      |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
      |  CAST(n_sents AS BIGINT) AS n_sents, CAST(n_syll AS BIGINT) AS n_syll,
      |  CAST(fk100 AS BIGINT) AS fk100, CAST(fre100 AS BIGINT) AS fre100,
      |  CASE WHEN fre100 >= 6000 THEN 'easy'
      |       WHEN fre100 >= 3000 THEN 'medium' ELSE 'hard' END AS band
      |FROM g ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t53
  // Boilerplate line removal (QualityRules.boilerplateLines): the
  // jusText-lite extraction gate — short / bullet-led / no-lowercase
  // lines dropped, cleaned content hash-pinned so the oracle verifies
  // the TEXT that survives, not just the counts.
  private def t53(s: SparkSession, dir: String): DataFrame =
    graft.operators.QualityRules.boilerplateLines(docs(s, dir))
      .orderBy("doc_id")

  private val t53Sql =
    """WITH f AS (
      |  SELECT doc_id,
      |    list_filter(list_transform(string_split(text, chr(10)),
      |                               l -> trim(l)), l -> l <> '') AS ls
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, ls,
      |    list_filter(ls, l -> len(l) >= 30
      |      AND NOT (starts_with(l, '-') OR starts_with(l, '*')
      |               OR starts_with(l, '•'))
      |      AND regexp_matches(l, '[a-z]')) AS kept
      |  FROM f),
      |h AS (
      |  SELECT doc_id,
      |    CAST(len(ls) AS BIGINT) AS n_lines,
      |    CAST(len(kept) AS BIGINT) AS kept_lines,
      |    CAST(coalesce(list_sum(list_transform(ls, l -> len(l))), 0)
      |      AS BIGINT) AS total_chars,
      |    CAST(coalesce(list_sum(list_transform(kept, l -> len(l))), 0)
      |      AS BIGINT) AS kept_chars,
      |    md5(array_to_string(kept, chr(10))) AS content_hash
      |  FROM g)
      |SELECT doc_id, n_lines, kept_lines, total_chars, kept_chars,
      |  content_hash,
      |  round(kept_chars * 1.0 / greatest(total_chars, 1), 4)
      |    AS kept_char_frac
      |FROM h ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t54
  // Interpolated Kneser–Ney bigram LM (NgramLm.kneserNeyScores):
  // absolute discounting + the continuation distribution — the KenLM
  // smoothing, next to t27's add-α and t48's Jelinek–Mercer. Scores
  // on the proven 4dp grid; docs with < 2 tokens drop (no bigrams).
  private def t54(s: SparkSession, dir: String): DataFrame =
    graft.operators.NgramLm.kneserNeyScores(docs(s, dir))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("avg_nll"), 4).as("avg_nll"))
      .orderBy("doc_id")

  private val t54Sql =
    s"""WITH toks AS (SELECT doc_id, $duckToks AS ts FROM documents),
      |pos AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
      |        FROM toks WHERE len(ts) >= 2),
      |db AS (SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2, count(*) AS k
      |       FROM pos GROUP BY 1, 2, 3),
      |n12 AS (SELECT w1, w2, sum(k) AS c12 FROM db GROUP BY 1, 2),
      |n1 AS (SELECT w1, sum(c12) AS c1, count(*) AS t1 FROM n12 GROUP BY 1),
      |cont AS (SELECT w2, count(*) AS t2 FROM n12 GROUP BY 1),
      |b AS (SELECT count(*) AS bt FROM n12),
      |sc AS (SELECT w1, w2,
      |  -ln(greatest(c12 - 0.75, 0.0) / c1
      |      + 0.75 * t1 / c1 * (t2 / bt)) AS nll
      |  FROM n12 JOIN n1 USING (w1) JOIN cont USING (w2), b)
      |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
      |       round(sum(k * nll) / sum(k), 4) AS avg_nll
      |FROM db JOIN sc USING (w1, w2) GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t56
  // Per-(doc, benchmark-item) contamination report
  // (Dedup.contaminationReport): the GPT-3 appendix-C adjudication
  // grain — which eval items each training doc collides with and how
  // much of the ITEM is covered, on t15's corpus/benchmark split.
  // decontaminate (t15) decides which DOCS to drop; this is the
  // which-ITEMS-are-burned audit that runs beside it.
  private def t56(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    graft.operators.Dedup.contaminationReport(
        corpus = d.filter(col("doc_id") % 37 =!= 0),
        benchmark = d.filter(col("doc_id") % 37 === 0),
        n = 3, minShared = 2L)
      .orderBy("doc_id", "bench_id")
  }

  private val t56Sql =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
      |                             t -> t <> '') AS ts
      |  FROM documents
      |), idx AS (
      |  SELECT doc_id, ts,
      |         unnest(generate_series(1, greatest(len(ts) - 2, 0))) AS i
      |  FROM toks
      |), sh AS (
      |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
      |  FROM idx
      |), bench AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 37 = 0),
      |corp AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 37 <> 0),
      |nb AS (SELECT bench_id, count(*) AS n_bench FROM bench GROUP BY 1),
      |shared AS (
      |  SELECT c.doc_id, b.bench_id, count(*) AS shared
      |  FROM corp c JOIN bench b USING (shingle)
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT s.doc_id, s.bench_id, CAST(s.shared AS BIGINT) AS shared,
      |  CAST(nb.n_bench AS BIGINT) AS n_bench,
      |  round(s.shared / nb.n_bench, 4) AS bench_containment
      |FROM shared s JOIN nb USING (bench_id)
      |ORDER BY s.doc_id, s.bench_id""".stripMargin

  // ---------------------------------------------------------------- t57
  // PII redaction — the scrub pass every public-web corpus runs before
  // training (emails, phone numbers, IP addresses → class tokens).
  // The corpus is synthetic word soup with no real PII, so
  // deterministic synthetic PII derived from doc_id is injected into
  // overlapping thirds/quarters/fifths of the docs first — the
  // injection IS the fixture, and both engines derive it identically.
  // Three anchored regex passes count and remove each class; md5 of
  // the redacted text pins the BYTE-EXACT removal (the t31 clean_fp
  // discipline), not just the counts. All three passes are pure
  // codegen'd expressions — map-only, zero shuffle beyond the sort.
  private val t57Email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val t57Phone = "\\+1-\\d{3}-\\d{3}-\\d{4}"
  private val t57Ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  private def t57(s: SparkSession, dir: String): DataFrame = {
    val pii = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        concat(lit(" call +1-555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-0199"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" host 10."), (col("doc_id") % 200).cast("string"),
          lit("."), (col("doc_id") % 250).cast("string"),
          lit(".7"))).otherwise(lit("")))
    val redacted = regexp_replace(regexp_replace(regexp_replace(
      col("pii_text"), t57Email, "[EMAIL]"), t57Phone, "[PHONE]"),
      t57Ip, "[IP]")
    docs(s, dir).withColumn("pii_text", pii)
      .select(col("doc_id"),
        size(regexp_extract_all(col("pii_text"), lit(t57Email), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("pii_text"), lit(t57Phone), lit(0)))
          .cast("long").as("n_phones"),
        size(regexp_extract_all(col("pii_text"), lit(t57Ip), lit(0)))
          .cast("long").as("n_ips"),
        md5(redacted).as("clean_fp"))
      // always-true predicate on the COMPUTED columns: under a
      // count()-gated bench, column pruning would otherwise drop every
      // regex pass and md5 and measure a bare scan (the t43/t46/t55
      // bench-protocol rule in SCALING.md). No-op on results.
      .filter(col("n_emails") >= 0 && col("n_phones") >= 0 &&
        col("n_ips") >= 0 && length(col("clean_fp")) === 32)
      .orderBy("doc_id")
  }

  private val t57Sql =
    """WITH base AS (
      |  SELECT doc_id,
      |    text ||
      |    CASE WHEN doc_id % 3 = 0
      |         THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
      |         ELSE '' END ||
      |    CASE WHEN doc_id % 4 = 0
      |         THEN ' call +1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199'
      |         ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0
      |         THEN ' host 10.' || CAST(doc_id % 200 AS VARCHAR) || '.' ||
      |              CAST(doc_id % 250 AS VARCHAR) || '.7'
      |         ELSE '' END AS pii_text
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(pii_text,
      |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(pii_text,
      |    '\+1-\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
      |  CAST(len(regexp_extract_all(pii_text,
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
      |  md5(regexp_replace(regexp_replace(regexp_replace(pii_text,
      |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
      |    '\+1-\d{3}-\d{3}-\d{4}', '[PHONE]', 'g'),
      |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g')) AS clean_fp
      |FROM base ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- m11
  // 2× audio resample (Audio.resample2x) on the m06 fixture WAVs: real
  // decodePcm per partition, linear-interpolated midpoints as exact
  // integer numerators over 2·128 — the per-doc digest pins the WHOLE
  // resampled sequence (one flipped sample changes the md5), and the
  // energy sums are exact int64 so nothing floats. The oracle rebuilds
  // the sequence per character (out[2i] = 2·kᵢ, out[2i+1] = kᵢ+kᵢ₊₁)
  // and md5s the same comma-joined rendering.
  private def m11(s: SparkSession, dir: String): DataFrame =
    graft.operators.Audio.resample2x(audioMedia(s, dir)).toDF()
      .orderBy("doc_id")

  private val m11Sql =
    s"""WITH $duckPcmChars,
      |outs AS (
      |  SELECT doc_id, pos * 2 AS j, 2 * k AS v FROM chars
      |  UNION ALL
      |  SELECT c1.doc_id, c1.pos * 2 + 1 AS j, c1.k + c2.k AS v
      |  FROM chars c1 JOIN chars c2
      |    ON c1.doc_id = c2.doc_id AND c2.pos = c1.pos + 1),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_out,
      |    sum(abs(v)) AS sum_abs, sum(v * v) AS sum_sq,
      |    md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY j)) AS digest
      |  FROM outs GROUP BY 1)
      |SELECT d.doc_id, TRUE AS decoded,
      |  CAST(length(d.text) AS BIGINT) AS n_in,
      |  CAST(a.n_out AS BIGINT) AS n_out,
      |  CAST(a.sum_abs AS BIGINT) AS sum_abs,
      |  CAST(a.sum_sq AS BIGINT) AS sum_sq,
      |  a.digest
      |FROM documents d JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- t55
  // DoReMi domain reweighting (operators.Doremi): per-source excess
  // loss of the weak add-α bigram proxy vs the Kneser–Ney reference
  // (both corpus-trained from ONE shared bigram pass) drives the
  // multiplicative weight update with uniform smoothing — the
  // data-mixture optimization loop's inner step, computed entirely
  // in-engine. The oracle recomposes both model chains from the same
  // CTEs (t27's and t54's) and replays the update.
  private def t55(s: SparkSession, dir: String): DataFrame =
    graft.operators.Doremi.mixtureWeights(docs(s, dir))
      // no-op predicate on COMPUTED columns (weight ≥ c/|D| > 0 by
      // construction): under count() Spark's column pruning would
      // otherwise drop the score aggregates and the distinct-key rule
      // would eliminate both LM joins — the t43/t46 bench-protocol
      // trap, third sighting (SCALING.md)
      .filter(col("weight") > 0.0 && col("excess") >= 0.0)
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("proxy_nll"), 4).as("proxy_nll"),
        round(col("ref_nll"), 4).as("ref_nll"),
        round(col("excess"), 4).as("excess"),
        round(col("share"), 4).as("share"),
        round(col("weight"), 4).as("weight"))
      .orderBy("source")

  private val t55Sql =
    s"""WITH toks AS (SELECT doc_id, source, $duckToks AS ts FROM documents),
      |pos AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
      |        FROM toks WHERE len(ts) >= 2),
      |db AS (SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2, count(*) AS k
      |       FROM pos GROUP BY 1, 2, 3),
      |n12a AS (SELECT w1, w2, sum(k) AS n12 FROM db GROUP BY 1, 2),
      |n1a AS (SELECT w1, sum(k) AS n1 FROM db GROUP BY 1),
      |v AS (SELECT count(DISTINCT w) AS v
      |      FROM (SELECT unnest(ts) AS w FROM toks)),
      |sca AS (SELECT db.doc_id, db.k,
      |          -ln((n12 + 0.5) / (n1 + 0.5 * v.v)) AS nll
      |        FROM db JOIN n12a USING (w1, w2) JOIN n1a USING (w1)
      |        CROSS JOIN v),
      |pd AS (SELECT doc_id, sum(k) AS kp, sum(k * nll) / sum(k) AS np
      |       FROM sca GROUP BY 1),
      |n12 AS (SELECT w1, w2, sum(k) AS c12 FROM db GROUP BY 1, 2),
      |n1 AS (SELECT w1, sum(c12) AS c1, count(*) AS t1 FROM n12 GROUP BY 1),
      |cont AS (SELECT w2, count(*) AS t2 FROM n12 GROUP BY 1),
      |b AS (SELECT count(*) AS bt FROM n12),
      |scr AS (SELECT db.doc_id, db.k,
      |  -ln(greatest(c12 - 0.75, 0.0) / c1
      |      + 0.75 * t1 / c1 * (t2 / bt)) AS nll
      |  FROM db JOIN n12 USING (w1, w2) JOIN n1 USING (w1)
      |  JOIN cont USING (w2), b),
      |rd AS (SELECT doc_id, sum(k) AS kr, sum(k * nll) / sum(k) AS nr
      |       FROM scr GROUP BY 1),
      |base AS (SELECT doc_id, source, len(ts) AS nt FROM toks),
      |dom AS (SELECT source, count(*) AS n_docs, sum(nt) AS n_tokens,
      |          sum(kp * np) / sum(kp) AS proxy_nll,
      |          sum(kr * nr) / sum(kr) AS ref_nll
      |        FROM base LEFT JOIN pd USING (doc_id)
      |        LEFT JOIN rd USING (doc_id) GROUP BY 1),
      |ex AS (SELECT *, greatest(proxy_nll - ref_nll, 0.0) AS excess
      |       FROM dom),
      |tot AS (SELECT sum(n_tokens) AS t, count(*) AS d FROM ex),
      |rawt AS (SELECT ex.*, n_tokens / t AS share,
      |           (n_tokens / t) * exp(1.0 * excess) AS raw
      |         FROM ex, tot),
      |z AS (SELECT sum(raw) AS z FROM rawt)
      |SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  round(proxy_nll, 4) AS proxy_nll, round(ref_nll, 4) AS ref_nll,
      |  round(excess, 4) AS excess, round(share, 4) AS share,
      |  round(0.9 * (raw / z) + 0.1 / d, 4) AS weight
      |FROM rawt, z, tot ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- e20
  // Binary-quantization flat-scan ANN (Similarity.knnHamming): 256-bit
  // sign signatures (4 long words) scanned with built-in XOR+popcount,
  // exact rerank of the top 100 — the 1-bit-per-projection sibling of
  // e15's SQ8 byte codes, at 1/8th the scan bandwidth of float32.
  // Config from the tools.HammingSweep bits×rerank table (SCALING.md);
  // audited vs exact kNN like every ANN query.
  private[graft] def e20Raw(s: SparkSession, dir: String): DataFrame =
    Similarity.knnHamming(embs(s, dir), k = 5, queryFilter = col("id") < 50,
      nBits = 256, dim = 64, rerank = 100)

  private def e20(s: SparkSession, dir: String): DataFrame =
    annAudit(s, dir, e20Raw(s, dir), k = 5, floor = annFloors("e20"))

  // ---------------------------------------------------------------- e21
  // IVF × binary-quantization composed ANN (Similarity.knnIvfHamming):
  // coarse cells bound the scan fraction (nProbe/nCells, similarity-
  // independent), the 256-bit Hamming filter bounds what the scan
  // TOUCHES (32 bytes/vector), exact rerank bounds what pays full
  // dots — the production big-corpus stack in one operator. Probe-all
  // + rerank-all ≡ exact is spec-pinned; audited like every ANN query.
  private[graft] def e21Raw(s: SparkSession, dir: String): DataFrame =
    Similarity.knnIvfHamming(embs(s, dir), k = 5, nCells = 16, nProbe = 4,
      queryFilter = col("id") < 50, nBits = 256, rerank = 100)

  private def e21(s: SparkSession, dir: String): DataFrame =
    annAudit(s, dir, e21Raw(s, dir), k = 5, floor = annFloors("e21"))

  // ---------------------------------------------------------------- e22
  // Serving from the MATERIALIZED IVF × Hamming index over its full
  // deployment path — e12's architecture with the 1-bit codec: the
  // (id, cell, sig*, uv) rows built by Similarity.hammingIndexRows
  // (one pure projection — the same rows streaming.VectorIndex
  // .hammingIndexSink appends from a vector stream) are committed to
  // a catalog table hidden-partitioned `identity(cell)`, and queries
  // are answered by VectorIndex.searchHammingPruned — the batch's
  // probed cells resolve through the snapshot manifest's partition
  // values, so the scan lists ONLY those cells' files. With the same
  // frozen quantizer the serve equals e21's in-query recompute row
  // for row (VectorIndexSpec identity pin); audited vs exact kNN like
  // every ANN query.
  private case class E22Index(session: SparkSession, wh: String,
      cat: graft.catalog.SnapshotCatalog, cents: Array[Array[Double]])
  private val e22Built =
    new java.util.concurrent.ConcurrentHashMap[String, E22Index]()

  locally { // reclaim live e22 temp warehouses at JVM exit (e12 hook)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      e22Built.values.asScala.foreach(e => deleteRecursively(e.wh))
    }))
  }

  private def e22Index(s: SparkSession, dir: String): E22Index =
    e22Built.compute(dir, (_, cur) => {
      if (cur != null && (cur.session eq s)) cur
      else {
        if (cur != null) deleteRecursively(cur.wh)
        import graft.catalog.{PartitionSpec, SnapshotCatalog}
        val e = embs(s, dir)
        // e21's quantizer exactly: seeded centroids, 16 cells
        val cents = Similarity.seedCentroids(e, 16)
        val index = Similarity.hammingIndexRows(e, cents, nBits = 256)
        val wh = java.nio.file.Files.createTempDirectory("graft_e22_wh").toString
        val cat = new SnapshotCatalog(s, wh)
        cat.createTable("ann", "ham_index", index.schema,
          properties = Map(PartitionSpec.PropertyKey -> "identity(cell)"))
        cat.append("ann", "ham_index", index)
        E22Index(s, wh, cat, cents)
      }
    })

  private[graft] def e22Raw(s: SparkSession, dir: String): DataFrame = {
    val idx = e22Index(s, dir)
    graft.streaming.VectorIndex.searchHammingPruned(idx.cat, "ann",
      "ham_index", embs(s, dir), k = 5, nProbe = 4, idx.cents,
      nBits = 256, rerank = 100, queryFilter = col("id") < 50)
  }

  private def e22(s: SparkSession, dir: String): DataFrame =
    annAudit(s, dir, e22Raw(s, dir), k = 5, floor = annFloors("e22"))

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("t01_dedup_exact", t01, Some(t01Sql)),
    QuerySpec("t02_dedup_ngram_jaccard", t02, Some(jaccardOracle)),
    QuerySpec("t03_lang_id", t03, Some(t03Sql)),
    QuerySpec("t04_quality_score", t04, Some(t04Sql)),
    QuerySpec("t05_token_count", t05, Some(t05Sql)),
    QuerySpec("t06_fingerprint", t06, Some(t06Sql)),
    QuerySpec("t07_dedup_minhash_lsh", t07, Some(jaccardOracle)),
    QuerySpec("t08_dedup_simhash", t08, Some(t08Sql)),
    QuerySpec("t09_tfidf", t09, Some(t09Sql)),
    QuerySpec("t10_stratified_sample", t10, Some(t10Sql)),
    QuerySpec("t11_dataset_mixture", t11, Some(t11Sql)),
    QuerySpec("t12_sequence_packing", t12, Some(t12Sql)),
    QuerySpec("t13_pii_redaction", t13, Some(t13Sql)),
    QuerySpec("t14_group_quota", t14, Some(t14Sql)),
    QuerySpec("t15_decontaminate", t15, Some(t15Sql)),
    QuerySpec("t16_ngram_topk", t16, Some(t16Sql)),
    QuerySpec("t17_repetition_filter", t17, Some(t17Sql)),
    QuerySpec("t18_dedup_components", t18, Some(t18Sql)),
    QuerySpec("t19_dedup_incremental", t19, Some(t19Sql)),
    QuerySpec("t20_curation_pipeline", t20, Some(t20Sql)),
    QuerySpec("t21_chunking", t21, Some(t21Sql)),
    QuerySpec("t22_heavy_hitters", t22, Some(t22Sql)),
    QuerySpec("t23_train_split", t23, Some(t23Sql)),
    QuerySpec("t24_weighted_sample", t24, Some(t24Sql)),
    QuerySpec("t25_bpe_pairs", t25, Some(t25Sql)),
    QuerySpec("t26_bpe_merges", t26, Some(t26Sql)),
    QuerySpec("t27_lm_perplexity", t27, Some(t27Sql)),
    QuerySpec("t28_bpe_encode", t28, Some(t28Sql)),
    QuerySpec("t29_decontaminate_bloom", t29, Some(t15Sql)),
    QuerySpec("t30_lm_perplexity_pruned", t30, Some(t30Sql)),
    QuerySpec("t31_dedup_spans", t31, Some(t31Sql)),
    QuerySpec("t32_shard_assign", t32, Some(t32Sql)),
    QuerySpec("t33_quality_classifier", t33, Some(t33Sql)),
    QuerySpec("t34_decontaminate_semantic", t34, Some(t34Sql)),
    QuerySpec("t35_epoch_plan", t35, Some(t35Sql)),
    QuerySpec("t36_cluster_best", t36, Some(t36Sql)),
    QuerySpec("t37_gopher_rules", t37, Some(t37Sql)),
    QuerySpec("t38_dsir_weights", t38, Some(t38Sql)),
    QuerySpec("t39_winnow_fingerprint", t39, Some(t39Sql)),
    QuerySpec("t40_cdc_chunks", t40, Some(t40Sql)),
    QuerySpec("t41_unigram_tokenize", t41, Some(t41Sql)),
    QuerySpec("t42_tokenizer_fertility", t42, Some(t42Sql)),
    QuerySpec("t43_ngram_novelty", t43, Some(t43Sql)),
    QuerySpec("t44_mixture_temperature", t44, Some(t44Sql)),
    QuerySpec("t45_novelty_incremental", t45, Some(t45Sql)),
    QuerySpec("t46_repetition_ngrams", t46, Some(t46Sql)),
    QuerySpec("t47_source_overlap", t47, Some(t47Sql)),
    QuerySpec("t48_lm_trigram", t48, Some(t48Sql)),
    QuerySpec("t49_corpus_stats", t49, Some(t49Sql)),
    QuerySpec("t50_trust_propagation", t50, Some(t50Sql)),
    QuerySpec("t51_ccnet_buckets", t51, Some(t51Sql)),
    QuerySpec("t52_readability", t52, Some(t52Sql)),
    QuerySpec("t53_boilerplate", t53, Some(t53Sql)),
    QuerySpec("t54_lm_kneser_ney", t54, Some(t54Sql)),
    QuerySpec("t55_doremi_weights", t55, Some(t55Sql)),
    QuerySpec("t56_contamination_report", t56, Some(t56Sql)),
    QuerySpec("t57_pii_redaction", t57, Some(t57Sql)),
    QuerySpec("e01_knn_exact", e01, Some(e01Sql)),
    QuerySpec("e02_neardup_cosine", e02, Some(e02Sql)),
    QuerySpec("e03_ann_lsh", e03, Some(annAuditSql(5, annFloors("e03")))),
    QuerySpec("e04_ann_ivf", e04, Some(annAuditSql(5, annFloors("e04")))),
    QuerySpec("e05_neardup_lsh_verified", e05, Some(e05Sql)),
    QuerySpec("e06_semantic_dedup", e06, Some(e06Sql)),
    QuerySpec("e07_retrieval_join", e07, Some(e07Sql)),
    QuerySpec("e08_ann_pq", e08, Some(annAuditSql(5, annFloors("e08")))),
    QuerySpec("e09_ann_ivfpq", e09, Some(annAuditSql(5, annFloors("e09")))),
    QuerySpec("e10_ann_lsh_projected", e10, Some(annAuditSql(5, annFloors("e10")))),
    QuerySpec("e11_ann_cross_polytope", e11, Some(annAuditSql(5, annFloors("e11")))),
    QuerySpec("e12_ann_index_serve", e12, Some(annAuditSql(5, annFloors("e12")))),
    QuerySpec("e13_centroid_outliers", e13, Some(e13Sql)),
    QuerySpec("e14_bitext_margin", e14, Some(e14Sql)),
    QuerySpec("e15_ann_sq8", e15, Some(annAuditSql(5, annFloors("e15")))),
    QuerySpec("e16_mmr_select", e16, Some(e16Sql)),
    QuerySpec("e17_label_audit", e17, Some(e17Sql)),
    QuerySpec("e18_maxsim_retrieval", e18, Some(e18Sql)),
    QuerySpec("e19_maxsim_pruned", e19, Some(e19Sql)),
    QuerySpec("e20_ann_hamming", e20, Some(annAuditSql(5, annFloors("e20")))),
    QuerySpec("e21_ann_ivf_hamming", e21, Some(annAuditSql(5, annFloors("e21")))),
    QuerySpec("e22_ann_hamming_serve", e22, Some(annAuditSql(5, annFloors("e22")))),
    QuerySpec("m01_multimodal_features", m01, Some(m01Sql)),
    QuerySpec("m02_frame_sample", m02, Some(m02Sql)),
    QuerySpec("m03_frame_dedup", m03, Some(m03Sql)),
    QuerySpec("m04_resize", m04, Some(m04Sql)),
    QuerySpec("m05_perceptual_dedup", m05, Some(m05Sql)),
    QuerySpec("m06_audio_quality", m06, Some(m06Sql)),
    QuerySpec("m07_audio_windows", m07, Some(m07Sql)),
    QuerySpec("m08_video_demux", m08, Some(m08Sql)),
    QuerySpec("m09_patch_grid", m09, Some(m09Sql)),
    QuerySpec("m10_webdataset_rt", m10, Some(m10Sql)),
    QuerySpec("m11_audio_resample", m11, Some(m11Sql)))
}
