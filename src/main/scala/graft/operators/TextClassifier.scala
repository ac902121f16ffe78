package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFns
import graft.functions.expressions.BucketedSum

/** fastText-style hashed-bag-of-words linear classifier, trained with
  * full-batch gradient descent expressed ENTIRELY as DataFrame
  * aggregations — the quality/domain-filter model every large-scale
  * curation pipeline runs over its corpus (CCNet, RefinedWeb, DCLM all
  * gate on a linear text classifier; public recipes).
  *
  * Model: p(y=1 | doc) = σ(b + Σ_tokens w_{hash(token) mod nBuckets})
  * — term-frequency features via the hashing trick (Weinberger et al.
  * 2009): summing one weight per token OCCURRENCE makes the margin
  * Σ_j tf_j·w_j without materializing a feature vector.
  *
  * Training shape per iteration (the 100 TB posture):
  *  - forward pass: margins/residuals are PURE column expressions —
  *    the weight vector rides into the plan as one array literal
  *    (a single constant, not per-element codegen), so no join and
  *    no shuffle to score the corpus;
  *  - gradient: one explode + groupBy(bucket) shuffle with nBuckets
  *    (≤ 4096) keys, map-side-combined; only nBuckets doubles reach
  *    the driver per iteration.
  * Nothing else leaves the executors; iterations = `iters` scans of
  * the persisted feature frame.
  */
object TextClassifier {

  /** (docs + `_bks`): hashed bucket per token OCCURRENCE (tf features,
    * not presence — a bucket repeats as often as its tokens do).
    */
  def featurize(docs: DataFrame, nBuckets: Int,
      textCol: String = "text"): DataFrame = {
    docs.withColumn("_bks",
      transform(TextFns.tokens(col(textCol)),
        t => pmod(xxhash64(t), lit(nBuckets)).cast("int")))
  }

  // codegen'd weight-lookup loop (BucketedSum scaladoc). The bias joins
  // after the weight sum rather than seeding the fold, so weights can
  // drift from the old HOF version in the last ulps — t33 is rows-only
  // and OperatorSpec pins the accuracy floor, not bit equality.
  private def margin(w: Array[Double], b: Double): Column =
    lit(b) + BucketedSum.bucketSum(col("_bks"), typedlit(w.toSeq))

  private def sigmoid(m: Column): Column = lit(1.0) / (lit(1.0) + exp(-m))

  /** Train binary logistic regression. `label` must evaluate to
    * 0.0/1.0. Returns (weights(nBuckets), bias).
    */
  def trainLogReg(docs: DataFrame, label: Column, nBuckets: Int = 1024,
      iters: Int = 12, step: Double = 1.0,
      textCol: String = "text"): (Array[Double], Double) = {
    val feats = featurize(docs, nBuckets, textCol)
      .select(label.cast("double").as("_y"), col("_bks"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val stats = feats.agg(count(lit(1)).as("n"),
      max(size(col("_bks"))).as("maxb")).head
    val n = stats.getLong(0).toDouble
    // Simultaneous per-coordinate steps couple through shared documents:
    // a doc with B active buckets sees B weight moves per iteration, so
    // the safe normalized step is ~4/maxB (LR Hessian diag ≤ n_j/4,
    // off-diagonal coupling ≤ per-doc feature count)
    val rate = step * 4.0 / math.max(stats.getInt(1), 1)
    var w = new Array[Double](nBuckets)
    var b = 0.0
    for (_ <- 1 to iters) {
      // weights ride in as one array literal (a single constant; a
      // broadcast one-row frame was tried and measured 2.3x SLOWER —
      // per-iteration broadcast setup dwarfs the literal's plan cost
      // at these model sizes)
      val resid = (sigmoid(margin(w, b)) - col("_y")).as("_r")
      // sentinel bucket -1 = the bias feature (present once per doc),
      // so the bias gradient Σ resid rides the SAME job as the weight
      // gradients — one Spark job per iteration, not two
      val g = feats
        .select(resid, explode(concat(col("_bks"), array(lit(-1)))).as("_bk"))
        .groupBy("_bk").agg(sum("_r").as("_g"), count(lit(1)).as("_n"))
        .collect()
      val gb = g.find(_.getAs[Int]("_bk") == -1)
        .map(_.getAs[Double]("_g")).getOrElse(0.0)
      val next = w.clone()
      // per-coordinate normalization (gradient / total OCCURRENCES of
      // the bucket — `_n` counts exploded tf rows, so high-tf buckets
      // are damped a little harder than a per-doc count would): a
      // rare-but-discriminative feature takes near-full-size steps
      // instead of being O(mass_j/n) slower than the common buckets;
      // full-batch GD with a global 1/n step needs ~n/mass_j times the
      // iterations to move them this far. The measured accuracies in
      // LrTune were produced under exactly this normalization.
      g.foreach { r =>
        val bk = r.getAs[Int]("_bk")
        if (bk >= 0)
          next(bk) -= rate * r.getAs[Double]("_g") / (r.getAs[Long]("_n") + 1.0)
      }
      b -= rate * gb / n
      w = next
    }
    feats.unpersist()
    (w, b)
  }

  /** Score: adds `prob` = σ(margin) under the trained model. */
  def score(docs: DataFrame, w: Array[Double], b: Double,
      nBuckets: Int, textCol: String = "text"): DataFrame =
    featurize(docs, nBuckets, textCol)
      .withColumn("prob", sigmoid(margin(w, b)))
      .drop("_bks")
}
