package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Unicode NFC normalization of a string
  * column — the canonical-composition pass a multilingual training corpus
  * runs before any hashing/dedup, so that `é` (precomposed U+00E9) and
  * `e`+U+0301 (combining acute) fingerprint identically.
  *
  * Spark has no built-in Unicode normalizer, so the composable
  * alternative is a Scala UDF — an opaque box to Catalyst (no codegen, no
  * null short-circuit, serialized closure). This expression stays inside
  * whole-stage codegen, emitting a direct `java.text.Normalizer` call —
  * JDK machinery, available on every executor with no extra dependency.
  *
  * Cross-engine contract: `java.text.Normalizer` (ICU-conformant JDK
  * implementation) and DuckDB's `nfc_normalize` (utf8proc) both implement
  * Unicode canonical composition; verified codepoint-identical over
  * precomposed/decomposed Latin, Katakana voiced marks, compatibility
  * ligatures (untouched by NFC, as specified), and sequences with no
  * precomposed form (e.g. `À`+U+0301 stays two codepoints in both). The
  * `ta_normalize` gate rides that agreement end-to-end through md5
  * fingerprints.
  *
  * An already-NFC string (ASCII corpora especially) round-trips unchanged;
  * `Normalizer.normalize` performs a quick-check scan before allocating,
  * so the common all-ASCII case is a cheap verification pass.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"nfc_normalize requires a STRING argument, got ${other.simpleString}")
    }

  override def dataType: DataType = StringType

  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      input.asInstanceOf[UTF8String].toString, java.text.Normalizer.Form.NFC))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"java.text.Normalizer.normalize($c.toString(), " +
        "java.text.Normalizer.Form.NFC))")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  /** Make `nfc_normalize(s)` callable from `expr(...)`/SQL on this session;
    * a no-op where it already is ([[registerIfAbsent]]). */
  def register(spark: SparkSession): Unit =
    registerIfAbsent(spark, "nfc_normalize", exprs => NfcNormalize(exprs(0)))
}
