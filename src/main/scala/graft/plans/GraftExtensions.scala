package graft.plans

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.GraftShims.{toColumn, toExpression}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import graft.anonymise.Anonymiser
import graft.functions.CosineSimilarity
import graft.ops.{Dedup, Sampling, TextAnalysis}

/** Session extensions registering the engine's native functions for SQL
  * use. Attach with
  * `GraftSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions`; DataFrame users
  * can instead call `graft.ops.Similarity.cosine` directly.
  *
  * Registered functions:
  *  - `cosine_similarity(array<float>, array<float>)` — native codegen
  *    expression (`functions.CosineSimilarity`);
  *  - `graft_bucket(id, modulus)` — THE portable md5 bucket
  *    (`ops.Sampling.bucket`) as a SQL function, so SQL-frontend users
  *    get the identical deterministic split/sample assignments as the
  *    DataFrame API (and as the DuckDB oracle twin);
  *  - `jaccard(array, array)` — exact set Jaccard
  *    (`ops.Dedup.jaccard`), composed from native set expressions;
  *  - `graft_fingerprint(text)` — the dedup content identity;
  *  - `graft_pseudonym(key, salt)` — the join-preserving consistent
  *    pseudonym (`anonymise.Anonymiser.pseudonym`);
  *  - `graft_clean_text(text)` — the t21 corpus cleaning chain
  *    (`ops.TextAnalysis.cleanedText`).
  *
  * Each `graft_*`/`jaccard` function IS its DataFrame definition,
  * bridged to Catalyst through `graftshim`, so SQL and DataFrame users
  * cannot drift apart. Arguments the definition takes as Scala values
  * (the bucket modulus, the pseudonym salt) must be SQL constants.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** `Sampling.bucket`; the modulus must be a constant integer. */
  private[graft] def bucketExpr(id: Expression, modulus: Expression): Expression =
    toExpression(Sampling.bucket(toColumn(id),
      constant("graft_bucket", "modulus", "INT", modulus) {
        case n: Int                  => n
        case n: Long if n.isValidInt => n.toInt
      }))

  private[graft] def jaccardExpr(a: Expression, b: Expression): Expression =
    toExpression(Dedup.jaccard(toColumn(a), toColumn(b)))

  private[graft] def fingerprintExpr(text: Expression): Expression =
    toExpression(TextAnalysis.fingerprint(toColumn(text)))

  /** `Anonymiser.pseudonym`; the salt must be a constant. */
  private[graft] def pseudonymExpr(key: Expression, salt: Expression): Expression =
    toExpression(Anonymiser.pseudonym(toColumn(key),
      constant("graft_pseudonym", "salt", "STRING", Cast(salt, StringType)) {
        case s: UTF8String => s.toString
      }))

  private[graft] def cleanTextExpr(text: Expression): Expression =
    toExpression(TextAnalysis.cleanedText(toColumn(text)))

  /** A SQL argument the DataFrame definition takes as a Scala value: it
    * must fold to a non-null constant `pick` accepts.
    */
  private def constant[T](fn: String, param: String, sqlType: String, e: Expression)(
      pick: PartialFunction[Any, T]): T =
    Some(e).filter(_.foldable).map(_.eval()).collect(pick).getOrElse(
      throw new AnalysisException("NON_FOLDABLE_ARGUMENT",
        Map("funcName" -> fn, "paramName" -> param, "paramType" -> sqlType)))

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      CosineSimilarity.info,
      exprs => CosineSimilarity(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_bucket"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_bucket"),
      exprs => bucketExpr(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("jaccard"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "jaccard"),
      exprs => jaccardExpr(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_fingerprint"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_fingerprint"),
      exprs => fingerprintExpr(exprs(0))))
    e.injectFunction((
      FunctionIdentifier("graft_pseudonym"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_pseudonym"),
      exprs => pseudonymExpr(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_clean_text"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_clean_text"),
      exprs => cleanTextExpr(exprs(0))))
  }
}
