package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{ByteDot, ByteStride, FloatDot, NfcNormalize}

/** Session extension injecting graft's native Catalyst functions — the
  * idiomatic deployment path for a cluster
  * (`spark.sql.extensions=graft.GraftExtensions`); operators also call the
  * companions' `register`, which adds a function only where it is missing,
  * so plain sessions work too. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("float_dot"),
      new ExpressionInfo(classOf[FloatDot].getName, "float_dot"),
      (exprs: Seq[Expression]) => FloatDot(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("byte_dot"),
      new ExpressionInfo(classOf[ByteDot].getName, "byte_dot"),
      (exprs: Seq[Expression]) => ByteDot(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("byte_stride"),
      new ExpressionInfo(classOf[ByteStride].getName, "byte_stride"),
      (exprs: Seq[Expression]) => ByteStride(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (exprs: Seq[Expression]) => NfcNormalize(exprs(0))))
  }
}
