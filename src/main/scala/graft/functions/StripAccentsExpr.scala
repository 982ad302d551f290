package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd Unicode accent stripper: NFD-decompose, drop
  * non-spacing combining marks, NFC-recompose — `unaccent` in SQL
  * (PostgreSQL's name; Spark has no built-in). The canonicalization step
  * multilingual dedup needs BEFORE hashing: 'café', 'café' (decomposed),
  * and 'cafe' must collapse to one exact-dup key, which q84's ASCII
  * regexes cannot do.
  *
  * Codegen stays a single static call per row (no boxing); the JDK
  * Normalizer is the same ICU data both engines draw on, and q218's
  * oracle cross-checks it against DuckDB's utf8proc strip_accents over a
  * controlled accented alphabet.
  */
case class StripAccentsExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"unaccent expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "unaccent"

  override def nullSafeEval(s: Any): Any =
    UnicodeNorm.strip(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UnicodeNorm.strip($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Plain object (no companion class) so the generated Java sees a static
  * `UnicodeNorm.strip` forwarder.
  */
object UnicodeNorm {
  def strip(s: UTF8String): UTF8String = {
    val norm = java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFD)
    val sb = new java.lang.StringBuilder(norm.length)
    var i = 0
    while (i < norm.length) {
      val ch = norm.charAt(i)
      if (Character.getType(ch) != Character.NON_SPACING_MARK) sb.append(ch)
      i += 1
    }
    UTF8String.fromString(
      java.text.Normalizer.normalize(sb.toString, java.text.Normalizer.Form.NFC))
  }
}
