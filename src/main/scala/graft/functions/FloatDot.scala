package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two `ARRAY<FLOAT>` columns in
  * double precision, accumulated in array order.
  *
  * Exists because the composable form —
  * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0D, (s,v) -> s+v)`
  * — is semantically right but runs interpreted (higher-order functions
  * don't codegen their lambdas) and allocates an intermediate 64-element
  * array per row. On the 2M-pair near-dup join at sf0.1 that was ~26 s;
  * this expression generates a tight primitive loop inside whole-stage
  * codegen (~20x less work per pair).
  *
  * Numerics contract: `s += (double) a[i] * (double) b[i]` left-to-right —
  * exactly the fold order of the higher-order form AND of DuckDB's
  * `list_dot_product`/`list_cosine_similarity` (verified bit-equal over the
  * full sf0.01 pair set), so swapping this in changes nothing the oracle
  * gate can observe. Arrays of unequal length use the common prefix; null
  * elements are read as 0 (the corpus has neither).
  */
case class FloatDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"float_dot requires two ARRAY<FLOAT> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "float_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int ${ev.value}_n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}_s = 0.0;
         |for (int ${ev.value}_i = 0; ${ev.value}_i < ${ev.value}_n; ${ev.value}_i++) {
         |  ${ev.value}_s += (double) $a.getFloat(${ev.value}_i) * (double) $b.getFloat(${ev.value}_i);
         |}
         |${ev.value} = ${ev.value}_s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDot =
    copy(left = newLeft, right = newRight)
}
