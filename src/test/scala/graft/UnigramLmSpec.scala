package graft

import org.apache.spark.sql.catalyst.expressions.ArrayAggregate
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

import graft.functions.expressions.UnigramViterbi
import graft.operators.UnigramLm

/** [[UnigramViterbi]] equals a brute-force Viterbi DP on both
  * evaluation paths, and `UnigramLm.encode` plans as one projection.
  */
class UnigramLmSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  import spark.implicits._

  /** Straight-line DP over code points with the packed (cost, tokens)
    * minimum; Inf where no segmentation exists.
    */
  private def bruteForce(text: String, vocab: Map[String, Long]): Long = {
    val cps = text.codePoints().toArray
    val maxPiece = (vocab.keys.map(p => p.codePointCount(0, p.length)) ++ Seq(1)).max
    val dp = Array.fill(cps.length + 1)(UnigramLm.Inf)
    dp(0) = 0L
    for (i <- 1 to cps.length; j <- 1 to math.min(maxPiece, i)) {
      val piece = new String(cps, i - j, j)
      vocab.get(piece).foreach { c =>
        if (dp(i - j) < UnigramLm.Inf) {
          dp(i) = math.min(dp(i), dp(i - j) + c * UnigramLm.Shift + 1)
        }
      }
    }
    dp(cps.length)
  }

  /** `UnigramViterbi` over `texts` with the whole-stage codegen path or
    * the interpreted one; the repartition keeps the projection off
    * `ConvertToLocalRelation`, which would evaluate it on the driver.
    */
  private def viterbi(texts: Seq[String], vocab: Map[String, Long],
      codegen: Boolean): Seq[(String, Option[Long])] = {
    val confs = Seq(
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
      "spark.sql.codegen.wholeStage" -> codegen.toString)
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val (pieces, costs) = vocab.toSeq.unzip
      val df = texts.zipWithIndex.toDF("text", "i").repartition(2)
        .select(col("i"), col("text"),
          UnigramViterbi.encode(col("text"), typedlit(pieces), typedlit(costs)).as("enc"))
      val rows = df.collect().sortBy(_.getInt(0)).toSeq.map(r =>
        r.getString(1) -> (if (r.isNullAt(2)) None else Some(r.getLong(2))))
      val plan = df.queryExecution.executedPlan
      assert(collect(plan) { case w: WholeStageCodegenExec => w }.nonEmpty == codegen,
        plan.toString)
      rows
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  private val vocab = Map("a" -> 2300L, "b" -> 2500L, "n" -> 3100L, " " -> 1900L,
    "ab" -> 2900L, "ba" -> 3300L, "aba" -> 4000L, "abab" -> 4100L, "an" -> 3500L,
    "ï" -> 5200L, "naï" -> 6100L, "日" -> 7000L, "日本" -> 7300L, "本" -> 7100L,
    "😀" -> 8000L)

  for (codegen <- Seq(true, false)) {
    val mode = if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"
    test(s"UnigramViterbi equals the brute-force DP under $mode") {
      val rnd = new scala.util.Random(41)
      val long = Iterator.continually("ab ba naï ").flatten.take(5000).mkString
      val texts = Seq("", "a", "abz", "z", "日本 naïve", "ab😀ba",
        long, long.take(4100) + "z" + long.take(10)) ++
        Seq.fill(60)(Seq.fill(rnd.nextInt(40))(
          Seq("a", "b", "n", " ", "ï", "日", "本")(rnd.nextInt(7))).mkString)
      val got = viterbi(texts :+ null, vocab, codegen)
      assert(got.length == texts.length + 1)
      got.init.foreach { case (t, enc) =>
        assert(enc.contains(bruteForce(t, vocab)), s"'${t.take(60)}' (${t.length} chars)")
      }
      assert(got.last == (null, None))
      // the named edge cases hit what they name
      val enc = got.init.toMap
      assert(enc("") == Some(0L))
      assert(enc("a") == Some(2300L * UnigramLm.Shift + 1))
      assert(enc("abz") == Some(UnigramLm.Inf))
      assert(enc(long).exists(e => e < UnigramLm.Inf && e % UnigramLm.Shift < 5000))
    }
  }

  test("duplicate pieces keep their smallest cost; NULL pieces are skipped") {
    val got = Seq("ab").toDF("text").repartition(1)
      .select(UnigramViterbi.encode(col("text"),
        typedlit(Seq("a", "b", "ab", "ab", null)), typedlit(Seq(3L, 3L, 9L, 5L, 0L))))
      .as[Long].collect().toSeq
    assert(got == Seq(5L * UnigramLm.Shift + 1))
  }

  test("encode plans one projection: no Generate, collect_list, fold or broadcast join") {
    val t41 = SparkEntry.queries("t41_unigram_tokenize")(spark, sf0001)
    assert(t41.collect().nonEmpty)
    val plan: SparkPlan = t41.queryExecution.executedPlan
    val exprs = collectWithSubqueries(plan) { case p => p.expressions }.flatten
    assert(collect(plan) { case g: GenerateExec => g }.isEmpty, plan.toString)
    assert(collect(plan) { case j: BroadcastHashJoinExec => j }.isEmpty, plan.toString)
    assert(!exprs.exists(_.exists(_.isInstanceOf[CollectList])), plan.toString)
    assert(!exprs.exists(_.exists(_.isInstanceOf[ArrayAggregate])), plan.toString)
    assert(exprs.exists(_.exists(_.isInstanceOf[UnigramViterbi])), plan.toString)
  }
}
