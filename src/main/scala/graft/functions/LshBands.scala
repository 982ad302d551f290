package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native codegen'd banded random-hyperplane LSH signature over an
  * array<double> vector: returns one bucket id per band, where each bucket
  * is the sign pattern of `planesPerBand` hyperplane dot products.
  *
  * Promoted from the nested transform/aggregate/zip_with SQL composition
  * (q104's original signature pass), whose per-element interpreted lambdas
  * cost planes×dims boxed evals per row and dominated the query. Here the
  * plane matrix rides along as a flat row-major reference object and
  * `doGenCode` emits one fused primitive loop — no boxing, stays inside
  * whole-stage codegen.
  */
case class LshBands(child: Expression, planes: Array[Double],
                    planesPerBand: Int, dims: Int)
  extends UnaryExpression {

  private def numPlanes: Int = planes.length / dims
  private def numBands: Int = numPlanes / planesPerBand

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"lsh_bands expects array<double>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "lsh_bands"

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = math.min(v.numElements(), dims)
    val out = new Array[Int](numBands)
    var p = 0
    var band = 0
    while (band < numBands) {
      var sig = 0
      var j = 0
      while (j < planesPerBand) {
        var dot = 0.0
        val off = p * dims
        var i = 0
        while (i < n) { dot += v.getDouble(i) * planes(off + i); i += 1 }
        sig = sig * 2 + (if (dot > 0.0) 1 else 0)
        j += 1; p += 1
      }
      out(band) = sig
      band += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |int n = Math.min($a.numElements(), $dims);
         |int[] out = new int[$numBands];
         |int p = 0;
         |for (int band = 0; band < $numBands; band++) {
         |  int sig = 0;
         |  for (int j = 0; j < $planesPerBand; j++, p++) {
         |    double dot = 0.0;
         |    int off = p * $dims;
         |    for (int i = 0; i < n; i++) {
         |      dot += $a.getDouble(i) * $planesRef[off + i];
         |    }
         |    sig = sig * 2 + (dot > 0.0 ? 1 : 0);
         |  }
         |  out[band] = sig;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
