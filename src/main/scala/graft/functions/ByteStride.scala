package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, IntegerType}

/** Native Catalyst expression: every `stride`-th byte of a BINARY column —
  * the fixed-stride downsample ("resize" for raw byte planes, decimation
  * for PCM audio) a multimodal pipeline applies BEFORE any decoder runs.
  * There is no built-in that subsamples binary (substring slices a
  * contiguous range only), and doing it through an exploded byte array
  * would allocate a row per byte; this is a single codegen'd loop
  * producing the output buffer directly.
  */
case class ByteStride(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"byte_stride requires (BINARY, INT), got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
    }

  override def dataType: DataType = BinaryType

  override def prettyName: String = "byte_stride"

  override def nullSafeEval(bytesAny: Any, strideAny: Any): Any = {
    val bytes = bytesAny.asInstanceOf[Array[Byte]]
    val stride = math.max(strideAny.asInstanceOf[Int], 1)
    val out = new Array[Byte]((bytes.length + stride - 1) / stride)
    var i = 0
    while (i < out.length) { out(i) = bytes(i * stride); i += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (bytes, stride) => {
      s"""
         |int ${ev.value}_st = java.lang.Math.max($stride, 1);
         |byte[] ${ev.value}_out = new byte[($bytes.length + ${ev.value}_st - 1) / ${ev.value}_st];
         |for (int ${ev.value}_i = 0; ${ev.value}_i < ${ev.value}_out.length; ${ev.value}_i++) {
         |  ${ev.value}_out[${ev.value}_i] = $bytes[${ev.value}_i * ${ev.value}_st];
         |}
         |${ev.value} = ${ev.value}_out;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ByteStride =
    copy(left = newLeft, right = newRight)
}

object ByteStride {
  /** Make `byte_stride(bytes, n)` callable from `expr(...)`/SQL; a no-op
    * where it already is ([[registerIfAbsent]]). */
  def register(spark: SparkSession): Unit =
    registerIfAbsent(spark, "byte_stride", exprs => ByteStride(exprs(0), exprs(1)))
}
