package graft

/** Dev utility: dump formatted physical plans for plan-quality review
  * (pushdown, broadcast, codegen spans). Runs on the engine's standard
  * session ([[GraftSession.local]]) so extension functions, warehouse-backed
  * bucketed tables and AQE behave exactly as in Bench/Verify.
  *
  * Usage: runMain graft.PlanCheck [sfDir] [outDir|-] [query...]
  *  - outDir "-" (default) prints to stdout; otherwise one
  *    `<outDir>/<query>.txt` per query (the evidence files under `plans/`).
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.drop(1).headOption.getOrElse("-")
    // Guard the old CLI shape `PlanCheck <sfDir> <query>`: a known query
    // name in the outDir position is a caller mistake, not a directory.
    require(outDir == "-" || !SparkEntry.queries.contains(outDir),
      s"second arg '$outDir' is a query name; pass an outDir or '-' first " +
        "(usage: PlanCheck [sfDir] [outDir|-] [query...])")
    val names = if (args.length > 2) args.drop(2).toSeq else Seq(
      "filter_project", "join_broadcast_segment", "q1_pricing_summary",
      "sim_neardup_embedding", "dedup_minhash_pairs", "mm_metadata")
    val unknown = names.toSet.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.local(cpus.toInt, "graft-plancheck")
    if (outDir != "-") new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      if (outDir == "-") println(s"\n===== $n =====\n" + plan)
      else {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$n.txt"), plan)
        println(s"wrote $outDir/$n.txt")
      }
    }
    spark.stop()
  }
}
