package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared corpus-wide token projection — tokenize ONCE, reuse everywhere.
  *
  * Every `ta_*`/`dedup_*`/`pack_*` operator starts from the same two
  * derivations of `documents.text`: the lowercased whitespace token array
  * and its alnum-filtered subset (the reference mapper's recipe,
  * srics96/SDC_Mapreduce `src/app/mapper.py:4-16`, with case folding). Run
  * as a 170-query suite, that recomputes the same regex split ~40 times per
  * sweep; at 100 TB a production pipeline tokenizes the corpus once and
  * every downstream stage reads the projection. This object is that
  * projection:
  *
  *   - [[derive]] attaches `toks_ws`/`toks_alnum` columns lazily (pure
  *     expressions — semantics identical to each operator's inline form).
  *   - [[pin]] materializes the projection ONCE as a COLUMNAR parquet
  *     snapshot under the session's warehouse dir, and [[docsTok]] then
  *     serves every caller a scan of that snapshot while the serving mode
  *     is on.
  *
  * Why a parquet snapshot and not a persisted row RDD (the previous
  * design): a `createDataFrame(rdd, schema)` pin plans as
  * a `LogicalRDD`, which (a) cannot column-prune — every consumer
  * deserializes full rows carrying `text` + both token arrays, and the
  * MinHash miners consume the corpus 3-4× per query — and (b) carries no
  * statistics, so `sizeInBytes` defaults to `defaultSizeInBytes` and every
  * auto-broadcast the dedup family gets in raw mode silently degrades to a
  * sort-merge join. The result was a "tokenize-once" mode 2-20× SLOWER
  * than raw recompute. A parquet snapshot is the engine's own index layout:
  * columnar (consumers read only the columns they name), real file-size
  * stats (auto-broadcast survives, and `Project` stats scale down with the
  * pruned row width), splittable for scan parallelism, and invisible to
  * `spark.catalog.clearCache()` — a harness cache sweep between queries
  * cannot evict it. This is exactly what a 100 TB deployment does: the
  * tokenized corpus is a TABLE, not executor block-manager state.
  *
  * Operators opt in by consulting [[wsOf]]/[[alnumOf]]: if the input
  * carries the projection columns they are used, otherwise the identical
  * inline expression is planned — so the same operator code runs both the
  * shared-projection deployment mode and the standalone recompute mode,
  * and SharedCorpusSpec pins the two bit-equal.
  *
  * Lifecycle: the registry maps a weak session key to plain
  * path strings — the value no longer references the session (an earlier
  * design's pinned DataFrame held its SparkSession, so no entry was ever
  * collectable and a session dropped without [[unpinAll]] leaked its
  * persisted RDD for the JVM lifetime). Now a dropped session's entry
  * really is collectable; its snapshot directory lives under the
  * per-process warehouse dir, which is removed by the shutdown hook either
  * way. [[unpin]]/[[unpinAll]] delete the snapshot eagerly, and the
  * serving mode is a scoped per-thread [[withMode]] rather than a
  * process-global mutable flag — concurrent consumers (parallel test
  * suites sharing the JVM) can no longer flip each other's mode mid-plan.
  */
object SharedCorpus {

  /** session → (dir → (snapshot parquet path, snapshot schema)). Weak
    * keys: the map must not be the thing that keeps a stopped SparkSession
    * alive — and the values are a plain string plus a session-free
    * StructType, so they don't either (a DataFrame value's session
    * reference would make every entry immortal).
    * The stored schema lets [[docsTok]] skip the per-call footer
    * schema-inference job. All access is under `pinned.synchronized`. */
  private val pinned =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, (String, org.apache.spark.sql.types.StructType)]]()

  /** Per-thread serving mode, scoped by [[withMode]]. Defaults to ON: a
    * deployment that pinned the projection wants it served; a caller that
    * never pins sees the lazy derivation either way. InheritableThreadLocal
    * semantics (DynamicVariable) mean a harness thread's scope covers the
    * plan construction it performs — and another thread's scope never
    * leaks into it. */
  private val mode = new scala.util.DynamicVariable[Boolean](true)

  /** Run `body` with the pinned-projection serving mode forced on or off
    * for THIS thread only — the harness hook for timing raw-recompute vs
    * tokenize-once deployment modes without global state. */
  def withMode[T](serveShared: Boolean)(body: => T): T =
    mode.withValue(serveShared)(body)

  /** Current serving mode (thread-scoped). */
  def servingShared: Boolean = mode.value

  /** Harness introspection: [[docsTok]] flips this thread-local when
    * consulted, so a bench can tell whether a gate's plan construction
    * touched the documents projection at all (relational gates don't — a
    * pinned-mode re-run of those would time the identical plan twice). */
  private val touched = new ThreadLocal[Boolean] {
    override def initialValue: Boolean = false
  }
  def resetTouched(): Unit = touched.set(false)
  def wasTouched: Boolean = touched.get

  /** The lowercased whitespace token array of `text`, from the shared
    * projection when the input carries it. */
  def wsOf(df: DataFrame): Column =
    if (df.columns.contains("toks_ws")) col("toks_ws")
    else split(lower(col("text")), "\\s+")

  /** The alnum-filtered token array, from the shared projection when the
    * input carries it. */
  def alnumOf(df: DataFrame): Column =
    if (df.columns.contains("toks_alnum")) col("toks_alnum")
    else filter(split(lower(col("text")), "\\s+"), t => t.rlike("^[a-z0-9]+$"))

  /** Attach the projection columns as lazy expressions. */
  def derive(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks_ws", split(lower(col("text")), "\\s+"))
      .withColumn("toks_alnum", filter(col("toks_ws"), t => t.rlike("^[a-z0-9]+$")))

  /** Snapshot location for (session, dir): under the session's OWN
    * warehouse dir (per-process, shutdown-hook-cleaned), keyed by a
    * sanitized form of the source dir so sf0.001 and sf0.1 pins coexist. */
  private def snapshotPath(s: SparkSession, d: String): String = {
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    // "pin_" prefix: the sanitized source dir starts with '_' (from its
    // leading '/'), and Spark's hidden-path filter silently ignores
    // '_'/'.'-prefixed children during file listing — the snapshot would
    // read as an empty relation
    s"$wh/graft_pinned_tok/pin_${d.replaceAll("[^A-Za-z0-9._-]", "_")}"
  }

  /** Materialize and pin the projection for (session, dir): one tokenize
    * pass over the corpus, written as a columnar parquet snapshot. The
    * snapshot inherits the source table's partitioning (no repartition: at
    * scale the source is already split wide, and locally the 1-file-in →
    * 1-file-out write preserves row order, keeping pinned-mode output
    * orderings bit-identical to raw recompute for order-free operators —
    * SharedCorpusSpec compares raw collect order). Idempotent per key. */
  def pin(s: SparkSession, d: String): Unit = pinned.synchronized {
    val perDir = pinned.computeIfAbsent(s, _ => scala.collection.mutable.Map.empty)
    if (!perDir.contains(d)) {
      val path = snapshotPath(s, d)
      val proj = derive(graft.sources.Tables.documents(s, d))
      proj.write.mode("overwrite").parquet(path)
      perDir.put(d, (path, proj.schema))
    }
  }

  /** Delete a snapshot directory (hadoop FS — same API the writers used). */
  private def deleteSnapshot(s: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }

  /** Release one pinned projection: drop the registry entry and delete its
    * snapshot. Safe to call for a never-pinned key. */
  def unpin(s: SparkSession, d: String): Unit = pinned.synchronized {
    Option(pinned.get(s)).foreach { perDir =>
      perDir.remove(d).foreach { case (path, _) => deleteSnapshot(s, path) }
    }
  }

  /** Release every projection pinned under this session — harness
    * teardown. */
  def unpinAll(s: SparkSession): Unit = pinned.synchronized {
    Option(pinned.remove(s)).foreach(
      _.values.foreach { case (path, _) => deleteSnapshot(s, path) })
  }

  /** The snapshot path currently pinned for (session, dir), if any —
    * spec/bench introspection. */
  def pinnedPath(s: SparkSession, d: String): Option[String] = pinned.synchronized {
    Option(pinned.get(s)).flatMap(_.get(d)).map(_._1)
  }

  /** The documents table with the token projection attached: a columnar
    * scan of the pinned snapshot when available and the serving mode is
    * on (explicit stored schema — no per-call footer inference job), else
    * the lazy derivation over the raw parquet scan. */
  def docsTok(s: SparkSession, d: String): DataFrame = {
    touched.set(true)
    val p =
      if (mode.value) pinned.synchronized {
        Option(pinned.get(s)).flatMap(_.get(d)).orNull
      }
      else null
    if (p != null) s.read.schema(p._2).parquet(p._1)
    else derive(graft.sources.Tables.documents(s, d))
  }
}
