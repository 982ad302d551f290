package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd geohash encoder over QUANTIZED coordinates —
  * `geohash_q(latq, lonq)` with latq = ⌊(lat+90)/180·2²⁰⌋ and
  * lonq = ⌊(lon+180)/360·2²⁰⌋ (20 bits each → a geohash-8 string, the
  * standard bit-interleave: longitude on even bit positions from the
  * top). Taking the quantized integers rather than doubles keeps the
  * whole path exact — geocoding pipelines quantize once at ingest and
  * every downstream cell/prefix operation is integer arithmetic, which
  * is also what makes the oracle portable (the same interleave is
  * rebuilt in SQL from shifts and masks, no floating point anywhere).
  *
  * Spark has no geohash built-in; the expression is a single static
  * call inside whole-stage codegen, and its prefixes give the
  * hierarchical grid that q225's dyadic cells provide ad hoc.
  */
case class GeohashExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"geohash_q expects (bigint, bigint), got (${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = StringType
  override def prettyName: String = "geohash_q"

  override def nullSafeEval(a: Any, b: Any): Any =
    GeohashQ.encode(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GeohashQ.encode($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Plain object so generated Java sees a static `GeohashQ.encode`. */
object GeohashQ {
  private val alphabet = "0123456789bcdefghjkmnpqrstuvwxyz".getBytes("US-ASCII")

  def encode(latq: Long, lonq: Long): UTF8String = {
    var g = 0L
    var j = 0
    while (j < 20) {
      g |= ((lonq >> j) & 1L) << (2 * j + 1)
      g |= ((latq >> j) & 1L) << (2 * j)
      j += 1
    }
    val out = new Array[Byte](8)
    var c = 0
    while (c < 8) {
      out(c) = alphabet(((g >> (35 - 5 * c)) & 31L).toInt)
      c += 1
    }
    UTF8String.fromBytes(out)
  }
}
