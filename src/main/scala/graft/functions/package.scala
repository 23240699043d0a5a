package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

package object functions {

  /** Make `name` callable from `expr(...)`/SQL on `spark` unless the
    * session's function registry already has it. [[graft.GraftExtensions]]
    * injects every native function into each `GraftSession` session, so
    * there an operator's `register` call keeps the injected function and
    * Spark logs no "replaced a previously registered function" warning;
    * plain sessions get the function on first use. */
  private[graft] def registerIfAbsent(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
