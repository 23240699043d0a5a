package graft

import org.apache.spark.sql.SparkSession

import graft.ops.Engine
import graft.ops.Engine.JobSpec

/** CLI mirror of the reference's job-submit client
  * (srics96/SDC_Mapreduce `clientsdk/submit_map_reduce.py:13-34`): submit a
  * word-count job over text files with a reducer count and shard size, get
  * key-sorted `word count` text files back.
  *
  * Usage: SubmitWordCount <outDir> <reducerCount> <shardSize> <file> [file...]
  */
object SubmitWordCount {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: SubmitWordCount <outDir> <reducerCount> <shardSize> <file> [file...]")
    val Array(outDir, reducerCount, shardSize) = args.take(3)
    val spec = JobSpec(args.drop(3).toSeq, reducerCount.toInt, shardSize.toLong)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-wordcount")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val distinct = Engine.submitWordCount(spark, spec, outDir)
    println(s"job complete: $distinct distinct words -> $outDir")
    spark.stop()
  }
}
