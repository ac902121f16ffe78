package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.expressions._

/** Everything graft adds to a Spark session, in one list: the `graft_*`
  * SQL functions, the optimizer rules [[CompactHllRewrite]] and
  * [[RangeJoinRewrite]] (a no-op until its width conf is set), and the
  * planner strategy [[GroupedTopKStrategy]]. `graft.core.GraftSession
  * .builder` applies it to every session it builds; any other session
  * gets it with `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  * The functions are part of the session state, so `spark.newSession()`
  * carries them too, for SQL text and `call_function` alike.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    e.injectOptimizerRule(_ => CompactHllRewrite)
    e.injectOptimizerRule(_ => RangeJoinRewrite)
    e.injectPlannerStrategy(_ => GroupedTopKStrategy)
  }
}

object GraftExtensions {

  private type Builder = Seq[Expression] => Expression

  /** One registry entry. The builder only ever sees an allowed number
    * of arguments: any other count fails analysis with an
    * `IllegalArgumentException` naming the function, the allowed
    * counts and the count given.
    */
  private def fn(name: String, arity: Int*)(build: Builder)
      : (FunctionIdentifier, ExpressionInfo, Builder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, name),
      es => {
        if (!arity.contains(es.length)) throw new IllegalArgumentException(
          s"$name: argument count must be ${arity.mkString(" or ")}, got ${es.length}")
        build(es)
      })

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn(DotProduct.FnName, 2)(es => DotProduct(es(0), es(1))),
    fn(BucketedSum.FnName, 2)(es => BucketedSum(es(0), es(1))),
    fn(SignBits.FnName, 2)(es => SignBits(es(0), es(1))),
    fn(SignBuckets.FnName, 2)(es => SignBuckets(es(0), es(1))),
    fn(SignBuckets.CpFnName, 2)(es => CpBuckets(es(0), es(1))),
    fn(Sq8.EncodeFnName, 1)(es => Sq8Encode(es(0))),
    fn(Sq8.DotFnName, 2)(es => Sq8Dot(es(0), es(1))),
    fn(ShingleGen.FnName, 2)(es => ShingleGen(es(0), es(1))),
    fn(BpeMerges.FnName, 3)(es => BpeMerges(es(0), es(1), es(2))),
    fn(UnigramViterbi.FnName, 3)(es => UnigramViterbi(es(0), es(1), es(2))),
    fn(CentroidOps.NearestCellFn, 3)(es => NearestCell(es(0), es(1), es(2))),
    fn(CentroidOps.PqEncodeFn, 3)(es => PqEncode(es(0), es(1), es(2))),
    fn(CentroidOps.ResidualFn, 3)(es => CentroidResidual(es(0), es(1), es(2))),
    fn(CentroidOps.PqErrorFn, 3)(es => PqError(es(0), es(1), es(2))),
    fn(CentroidOps.TopCellsFn, 3)(es => TopCells(es(0), es(1), es(2))),
    fn(QuantileDigest.FnName, 2, 3)(QuantileDigest.build),
    fn(Kmv.FnName, 1, 2)(Kmv.build),
    fn(MisraGries.FnName, 1, 2)(MisraGries.build),
    fn(CurationSql.GopherPassFn, 1)(CurationSql.gopherPass),
    fn(CurationSql.WinnowDigestFn, 1)(CurationSql.winnowDigest),
    fn(CurationSql.CdcCutsFn, 1, 2)(CurationSql.cdcCuts),
    fn(CurationSql.AHashFn, 1)(es => AHash64(es(0))),
    fn(CurationSql.LangIdFn, 1)(CurationSql.langId),
    fn(CurationSql.QualityScoreFn, 1)(CurationSql.qualityScore),
    fn(CurationSql.TokenCountFn, 1)(CurationSql.tokenCount),
    fn(CurationSql.FingerprintFn, 1)(CurationSql.fingerprint),
    fn(CurationSql.Fre100Fn, 1)(CurationSql.fre100),
    fn(CurationSql.Fk100Fn, 1)(CurationSql.fk100),
    fn(CurationSql.CleanLinesFn, 1, 2)(CurationSql.cleanLines))

  /** Every SQL function name the extensions inject. */
  def functionNames: Seq[String] = functions.map(_._1.funcName)
}
