package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session configuration — the settings every
  * entry point (Verify, Bench, tests) needs, and the list a
  * production deployment would port to its cluster conf.
  *
  * What is set and why:
  *  - `spark.sql.shuffle.partitions` = cores locally (not the 200 default:
  *    32-core local runs want one wave of post-shuffle tasks); on a real
  *    cluster this becomes ~2-3x total executor cores, or is left to AQE
  *    coalescing.
  *  - `spark.sql.session.timeZone` = UTC — timestamp arithmetic must not
  *    depend on the host zone (oracle parity and cluster portability).
  *  - `spark.sql.legacy.parquet.nanosAsLong` — the events table carries
  *    parquet TIMESTAMP(NANOS), which vanilla Spark rejects; reading nanos
  *    as long + explicit truncation to micros matches DuckDB.
  *  - `spark.sql.extensions` = [[GraftExtensions]] — native functions
  *    (`float_dot`, `byte_stride`) available to every query and to plain
  *    SQL without per-operator registration.
  *  - AQE (on by default in Spark 4) is deliberately left on: runtime
  *    partition coalescing and skew-join splitting are part of the 100 TB
  *    design.
  */
object GraftSession {

  /** Per-process warehouse location (see the warehouse.dir note below).
    * Stable within a JVM so getOrCreate-reused sessions agree; removed on
    * clean JVM exit. */
  val warehouseDir: String = {
    val dir = s"/tmp/graft_warehouse_${ProcessHandle.current().pid()}"
    // registered with Hadoop's ShutdownHookManager at the lowest priority
    // (higher priorities run first), so the delete is sequenced AFTER
    // Spark's and Hadoop FileSystem's own shutdown hooks instead of racing
    // them (ADVICE r4: a plain JVM hook runs unordered relative to Spark's
    // shutdown machinery, which may still touch the warehouse)
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      new Runnable {
        override def run(): Unit =
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      }, 1)
    dir
  }

  /** Local session with the engine's standard configuration. */
  def local(cores: Int, appName: String = "graft"): SparkSession =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      // bucketed tables need the catalog's warehouse; keep it out of the
      // source tree (and of any default cwd a caller launches from), and
      // scope it PER PROCESS: a fixed shared path would let two concurrent
      // sessions (e.g. bench + verify on one machine) drop/delete each
      // other's managed-table data mid-query (ADVICE r3)
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
