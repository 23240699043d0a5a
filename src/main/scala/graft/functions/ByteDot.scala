package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, LongType}

/** Native Catalyst expression: dot product of two `ARRAY<TINYINT>` code
  * columns accumulated in a primitive long — the int8 twin of [[FloatDot]],
  * backing the scalar-quantized ANN tier ([[graft.ops.Similarity.sqTopK]]).
  *
  * Every term is an exact integer (|code| <= 127, so a 64-dim dot is
  * < 2^21), which is what makes the quantized ranking bit-reproducible in
  * DuckDB: the oracle folds the same codes as doubles, and integers of
  * this size are exact in IEEE double under any fold order. Arrays of
  * unequal length use the common prefix; null elements read as 0 (the
  * quantizer emits neither). */
case class ByteDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ByteType, _), ArrayType(ByteType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"byte_dot requires two ARRAY<TINYINT> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "byte_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += x.getByte(i).toLong * y.getByte(i).toLong
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int ${ev.value}_n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long ${ev.value}_s = 0L;
         |for (int ${ev.value}_i = 0; ${ev.value}_i < ${ev.value}_n; ${ev.value}_i++) {
         |  ${ev.value}_s += (long) $a.getByte(${ev.value}_i) * (long) $b.getByte(${ev.value}_i);
         |}
         |${ev.value} = ${ev.value}_s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ByteDot =
    copy(left = newLeft, right = newRight)
}

object ByteDot {
  /** Make `byte_dot(a, b)` callable from `expr(...)`/SQL on this session;
    * a no-op where it already is ([[registerIfAbsent]]). */
  def register(spark: SparkSession): Unit =
    registerIfAbsent(spark, "byte_dot", exprs => ByteDot(exprs(0), exprs(1)))
}
