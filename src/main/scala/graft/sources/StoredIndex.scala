package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** The ONE lifecycle every stored index/model family rides — build,
  * append, purge — so the protocol is stated once instead of per family
  * (the reference keeps all of its stored state behind one storage
  * wrapper, `src/util/blob.h:12-31`). A family declares in a [[Family]]
  * its manifest params, its id layout (id column, id table, rows per id)
  * and its [[Part]]s. This module then owns, for every family alike:
  *
  *  - the write order: data parts first (in declaration order), the
  *    family's own side tables next (`sides`), the manifest last;
  *  - the stamp: [[Formats.corpusStamp]] of the input on build and
  *    append (or one the caller already holds, [[appendStamped]]), and
  *    of the ids actually present in the id table on purge (so
  *    over-broad or re-issued forget requests fold nothing);
  *  - the manifest: written on build, folded on append and purge
  *    ([[Formats.foldBuildMeta]] — the `paramsCompatible` gate, the
  *    per-table fold lock and the bootstrap rule), each time with the
  *    family's [[Formats.IdLayout]], so [[Formats.stampAudit]] finds the
  *    stored ids from the catalog alone;
  *  - the layout: a build writes the declared bucket counts; every later
  *    step reads the layout back from the catalog ([[Formats.bucketSpec]]),
  *    so no append, purge or compaction can re-hash a table another way.
  *    Only a bootstrap append onto a table that does not exist yet uses
  *    the declared (default) count. A partitioned part has no bucket
  *    spec; its task count is the manifest's `buckets` field.
  *
  * The contract every family keeps (*Incremental Based Framework for
  * Efficient Top-K Similarity Search*, EDBT 2020): incremental maintenance
  * answers exactly like recomputation — an appended index equals a
  * one-shot build of the union, a purged one equals a build of the
  * survivors, manifest included. Appends and purges need id-disjoint
  * batches (the xor stamp's precondition, [[Formats.corpusStamp]]).
  *
  * Crash contract: single writer per family, and a crash between the data
  * steps and the manifest fold means rebuild — each table rewrite is
  * ping-pong crash-safe on its own, the cross-table window is not
  * atomic. [[Formats.stampAudit]] detects the torn state. */
object StoredIndex {

  /** The bucket count a family's tables are built with, unless its build
    * takes another. */
  val Buckets = 8

  /** One stored table of a family: `<table><suffix>`, bucketed + sorted on
    * `bucketCols` into `buckets` files at build. No bucket columns: a plain
    * managed table. `partitioned`: directory-partitioned on the single
    * column in `bucketCols`, written in `buckets` tasks
    * ([[Formats.writePartitionedTable]]). */
  final case class Part(suffix: String, bucketCols: Seq[String], buckets: Int,
      partitioned: Boolean = false)

  /** A family's declaration. `params(n)` is the manifest params string for
    * a layout of `n` buckets (the first part's count); `idCol` is the id
    * column the corpus stamp hashes; `idTable` is the suffix of the part
    * whose `idCol` lists every stored id (the purge stamp and the stamp
    * audit read it); `rowsPerId` is how many rows that part stores per id
    * where the layout fixes it (None: a variable count); `parts` are
    * written in order. `bootstrap`: the derivation is stateless per row,
    * so a first append may create the family, manifest included — for any
    * other family a missing manifest stays a loud failure. */
  final case class Family(params: Int => String, idCol: String, idTable: String,
      parts: Seq[Part], bootstrap: Boolean = false, rowsPerId: Option[Int] = Some(1)) {
    /** The id layout every manifest of the family records. */
    def layout: Formats.IdLayout = Formats.IdLayout(idCol, idTable, rowsPerId)
  }

  /** One-shot build: each part from `rows(suffix)` (called in part order,
    * so a later part may read an earlier one back), then `sides`, then the
    * manifest with the stamp of `input`. */
  def build(family: Family, table: String, input: DataFrame, sides: => Unit = ())(
      rows: String => DataFrame): Unit =
    buildStamped(family, table, input.sparkSession,
      Formats.corpusStamp(input, family.idCol), sides)(rows)

  /** [[build]] with the stamp supplied by the caller, evaluated after the
    * data steps and `sides` — for a family published from another one's
    * generation (it carries that family's stamp). */
  def buildStamped(family: Family, table: String, spark: SparkSession,
      stamp: => (Long, Long), sides: => Unit = ())(rows: String => DataFrame): Unit = {
    family.parts.foreach(p => create(p, table + p.suffix, rows(p.suffix)))
    sides
    val (n, fp) = stamp
    Formats.writeBuildMeta(spark, table, family.params(family.parts.head.buckets), n, fp,
      Some(family.layout))
  }

  /** Incremental ingest: each part's batch rows appended in the stored
    * layout (a part that does not exist yet is created in the declared
    * one), then `sides`, then the batch stamp folded into the manifest. */
  def append(family: Family, table: String, input: DataFrame, sides: => Unit = ())(
      rows: String => DataFrame): Unit =
    appendStamped(family, table, input.sparkSession,
      Formats.corpusStamp(input, family.idCol), sides)(rows)

  /** [[append]] with the batch stamp supplied by the caller — one that
    * already holds it (e.g. observed on an earlier write of the batch)
    * folds it without a second count. `stamp` is evaluated after the data
    * steps and `sides`, right before the fold. */
  def appendStamped(family: Family, table: String, spark: SparkSession,
      stamp: => (Long, Long), sides: => Unit = ())(rows: String => DataFrame): Unit = {
    val fresh = !spark.catalog.tableExists(table + family.parts.head.suffix)
    val buckets = storedBuckets(spark, family, table)
    family.parts.foreach { p =>
      val t = table + p.suffix
      val df = rows(p.suffix)
      if (!spark.catalog.tableExists(t)) create(p, t, df)
      else if (p.partitioned) Formats.appendPartitionedTable(df, t, p.bucketCols.head, buckets)
      else if (p.bucketCols.isEmpty)
        df.write.mode(org.apache.spark.sql.SaveMode.Append).format("parquet").saveAsTable(t)
      else Formats.writeBucketedAppend(df, t)
    }
    sides
    val (n, fp) = stamp
    Formats.foldBuildMeta(spark, table, family.params(buckets), n, fp,
      Some(family.layout), bootstrap = fresh && family.bootstrap)
  }

  /** Delete propagation: every part rewritten without `deleteIds`' rows
    * through the crash-safe ping-pong swap (a part listed in `rewrite`
    * gets that transform instead of the anti-join on `idCol`), then
    * `sides`, then the stamp of the ids that were actually stored folded
    * OUT of the manifest (xor is self-inverse). */
  def purge(spark: SparkSession, family: Family, table: String, deleteIds: DataFrame,
      rewrite: PartialFunction[String, DataFrame => DataFrame] = PartialFunction.empty,
      sides: => Unit = ()): Unit = {
    Formats.requireBuilt(spark, table)
    val id = family.idCol
    val ids = deleteIds.select(id).distinct()
    val present = spark.table(table + family.idTable)
      .join(broadcast(ids), id).select(id).distinct()
    val (dn, dfp) = Formats.corpusStamp(present, id)
    val buckets = storedBuckets(spark, family, table)
    family.parts.foreach { p =>
      val t = table + p.suffix
      if (rewrite.isDefinedAt(p.suffix)) Formats.rewriteBucketed(spark, t)(rewrite(p.suffix))
      else if (p.partitioned)
        Formats.purgePartitionedTable(spark, t, p.bucketCols.head, buckets, id, ids)
      else Formats.purgeBucketed(spark, t, id, ids)
    }
    sides
    fold(spark, family, table, (-dn, dfp), buckets)
  }

  /** Fold a stamp the family derived itself (e.g. a merge that rewrites
    * its tables instead of appending) into the manifest. */
  def fold(spark: SparkSession, family: Family, table: String,
      stamp: (Long, Long)): Unit =
    fold(spark, family, table, stamp, storedBuckets(spark, family, table))

  private def fold(spark: SparkSession, family: Family, table: String,
      stamp: (Long, Long), buckets: Int): Unit =
    Formats.foldBuildMeta(spark, table, family.params(buckets), stamp._1, stamp._2,
      Some(family.layout))

  /** Create one part in its declared layout. */
  private def create(p: Part, t: String, df: DataFrame): Unit =
    if (p.partitioned) Formats.writePartitionedTable(df, t, p.bucketCols.head, p.buckets)
    else if (p.bucketCols.isEmpty) Formats.writeManaged(df, t)
    else Formats.writeBucketed(df, t, p.bucketCols, p.buckets)

  /** The family's stored bucket count: the first part's catalog spec, the
    * manifest's `buckets` field for a partitioned part, and the declared
    * count only while the part does not exist yet. */
  private def storedBuckets(spark: SparkSession, family: Family, table: String): Int = {
    val head = family.parts.head
    val t = table + head.suffix
    if (head.partitioned)
      Formats.metaParams(spark, table).get("buckets").fold(head.buckets)(_.toInt)
    else if (!spark.catalog.tableExists(t)) head.buckets
    else Formats.bucketSpec(spark, t).fold(head.buckets)(_.numBuckets)
  }
}
