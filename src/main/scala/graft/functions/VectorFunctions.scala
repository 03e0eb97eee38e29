package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst dot product over `array<float>` / `array<double>`.
  *
  * The composable form (`aggregate(zip_with(a, b, _*_), 0d, _+_)`) allocates
  * an intermediate array per row pair — ruinous inside an all-pairs join. This
  * expression generates a tight primitive loop via `doGenCode` (no allocation,
  * stays inside whole-stage codegen) and computes the identical left-to-right
  * double sum, so results are bit-for-bit the same as the composable form.
  *
  * Null elements are treated as 0 (embedding vectors are dense by contract).
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType(e: Expression) =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_dot needs two float/double arrays, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val xf = elemType(left) == FloatType
    val yf = elemType(right) == FloatType
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xv = if (x.isNullAt(i)) 0.0 else if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (y.isNullAt(i)) 0.0 else if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def get(arr: String, i: String, e: Expression) =
      if (elemType(e) == FloatType) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double xv = $a.isNullAt($i) ? 0.0 : ${get(a, i, left)};
         |  double yv = $b.isNullAt($i) ? 0.0 : ${get(b, i, right)};
         |  ${ev.value} += xv * yv;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

object VectorFunctions {
  /** Register `vec_dot` so it is callable via `call_function` / SQL. */
  def register(spark: SparkSession): Unit =
    SessionFunctions.registerOnce(spark, "vec_dot" -> (es => VecDot(es.head, es(1))))

  /** Column API over the registered expression (call [[register]] first,
    * which every graft.ops.Similarity entry point does). */
  def vecDot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("vec_dot", a, b)
}
