package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (sbt runs suites in one
  * JVM), built with the engine's own configuration. */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sfDir = "/root/testdata/sf0.001"
}
