package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Native Catalyst expression: membership probe of a LONG column against a
  * driver-built [[org.apache.spark.util.sketch.BloomFilter]], shipped to
  * executors as a codegen reference object (the filter serializes with the
  * generated plan — no per-row broadcast lookup, no UDF boundary).
  *
  * Exists for scan-side pre-filters whose reference set is too big to
  * broadcast as rows but small as BITS: a 100M-hash benchmark span set is
  * ~800 MB of join rows yet ~120 MB of 1%-fpp Bloom bits (and ~12 MB at
  * 10M), so the prune keeps working an order of magnitude past the
  * broadcast-join threshold. May return false positives by construction —
  * callers MUST keep an exact join downstream for the final answer and use
  * this only to shrink what reaches that join. False negatives are
  * impossible, which is the superset contract the decontamination gate's
  * oracle equality rests on ([[graft.ops.Dedup.contaminationStatsBloom]]).
  */
case class BloomMightContain(child: Expression, bloom: BloomFilter)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType

  override def prettyName: String = "bloom_might_contain"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"bloom_might_contain requires a BIGINT argument, got ${child.dataType.simpleString}")

  override def nullSafeEval(v: Any): Any =
    bloom.mightContainLong(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloom", bloom, classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.mightContainLong($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

object BloomMightContain {
  private val seq = new java.util.concurrent.atomic.AtomicLong()

  /** `df` keeping the rows where `bloom.mightContainLong(c)`. The filter is
    * not a SQL literal, so the expression enters the plan through a
    * session-local temp function closing over it, under a name unique to
    * this call (concurrent probes in one session stay independent). A
    * classic Dataset is analyzed when it is built, so the returned plan
    * already holds the resolved expression, and the function is dropped
    * before this returns: the registry keeps neither an entry nor the
    * filter. */
  def filter(df: DataFrame, bloom: BloomFilter, c: Column): DataFrame = {
    val name = s"graft_bloom_mc_${seq.incrementAndGet()}"
    val registry = df.sparkSession.sessionState.functionRegistry
    registry.createOrReplaceTempFunction(
      name, exprs => BloomMightContain(exprs(0), bloom), "built-in")
    try df.filter(org.apache.spark.sql.functions.call_function(name, c))
    finally registry.dropFunction(FunctionIdentifier(name))
  }
}
