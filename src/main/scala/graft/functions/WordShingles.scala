package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd DISTINCT word k-gram shingles over an array<string>
  * token column: one row-local pass, space-joined grams, first-occurrence
  * order.
  *
  * This makes shingling shuffle-free. The two prior formulations both had
  * a structural cost the optimizer cannot remove: the transform/
  * array_distinct HOF pays per-element interpreted lambda dispatch
  * (~15µs/eval), and the posexplode + window-lead + distinct shape —
  * adopted to escape the lambdas — shuffles and sorts the ENTIRE token
  * stream per query, which at 100 TB is the dominant cost of the near-dup
  * family (q31/q32/q82). Here the shingle set is computed inside the scan
  * projection (compiled loop, no boxing per element beyond UTF8String
  * refs), so the first shuffle in those queries is the inverted-index join
  * itself.
  */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"word_shingles expects array<string>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  /** Row-local shingle computation; public so generated code can call it
    * through a reference object (the standard no-fallback pattern for
    * logic too stateful to inline). */
  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val sep = UTF8String.fromString(" ")
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= n - k) {
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = a.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingler", this, classOf[WordShingles].getName)
    nullSafeCodeGen(ctx, ev, a => {
      s"${ev.value} = $ref.compute($a);"
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
