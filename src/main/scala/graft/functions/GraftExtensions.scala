package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension that gives users' SQL text graft's expression names
  * (`cosine_sim`, `unaccent`, `jaro_winkler`, `geohash_q`) and the
  * `LevenshteinRewrite` optimizer rule. `GraftSession` builds every
  * session with it; elsewhere set
  * `spark.sql.extensions=graft.functions.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`). Library code does not use
  * these names: it builds the same expressions as typed Columns through
  * [[GraftFunctions]], so it also works on a session without them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs.head, exprs(1))))
    extensions.injectFunction((
      FunctionIdentifier("unaccent"),
      new ExpressionInfo(classOf[StripAccentsExpr].getName, "unaccent"),
      (exprs: Seq[Expression]) => StripAccentsExpr(exprs.head)))
    extensions.injectFunction((
      FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerExpr].getName, "jaro_winkler"),
      (exprs: Seq[Expression]) => JaroWinklerExpr(exprs.head, exprs(1))))
    extensions.injectFunction((
      FunctionIdentifier("geohash_q"),
      new ExpressionInfo(classOf[GeohashExpr].getName, "geohash_q"),
      (exprs: Seq[Expression]) => GeohashExpr(exprs.head, exprs(1))))
    extensions.injectOptimizerRule(_ => LevenshteinRewrite)
  }
}
