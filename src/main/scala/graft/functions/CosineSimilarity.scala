package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd cosine similarity over two array<double> columns
  * (SURVEY §4.2 candidate 1: promoted from the aggregate/zip_with
  * composition, whose per-element interpreted lambdas dominate the
  * brute-force scan).
  *
  * Stays inside whole-stage codegen: `doGenCode` emits a single fused loop
  * (dot product + both norms in one pass), no per-element boxing. Returns
  * null if either vector has zero norm or either input is null.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  // (ExpectsInputTypes is unusable outside org.apache.spark.sql —
  // AbstractDataType is package-private — so type-check explicitly.)
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; nx += xv * xv; ny += yv * yv
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) null else dot / math.sqrt(nx * ny)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int n = Math.min($a.numElements(), $b.numElements());
         |double dot = 0.0, nx = 0.0, ny = 0.0;
         |for (int i = 0; i < n; i++) {
         |  double xv = $a.getDouble(i);
         |  double yv = $b.getDouble(i);
         |  dot += xv * yv; nx += xv * xv; ny += yv * yv;
         |}
         |if (nx == 0.0 || ny == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = dot / Math.sqrt(nx * ny);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
