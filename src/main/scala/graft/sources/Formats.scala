package graft.sources

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.{BucketSpec, CatalogTable}
import org.apache.spark.sql.functions.{bit_xor, broadcast, coalesce, col, count, expr, lit, max, min, shiftleft, shiftright, sum, when}
import org.apache.spark.sql.types.StructType

/** Source/sink format surface beyond the reference's text blobs (SURVEY
  * §2b "Scans/sources": the reference reads only whole/ranged text blobs,
  * `src/util/blob.cpp:49-70`; everything else was out of reach for its
  * users). All readers take an EXPLICIT schema — schema inference is a
  * scan of the data (cost) and a nondeterminism hazard (correctness), so
  * at 100 TB it is never the right default.
  *
  * Sinks add the two layout features that matter at scale:
  *  - [[writePartitioned]]: hive-style directory partitioning, so readers
  *    with a partition-column predicate prune entire directories
  *    (PartitionFilters in the scan, verified in FormatsSpec).
  *  - [[writeBucketed]]: pre-shuffled table layout, so equi-joins and
  *    aggregations on the bucket key plan with NO exchange (verified in
  *    FormatsSpec — the join plan has zero shuffles). This is the
  *    "co-located join" story for repeated joins on the same key.
  */
object Formats {

  def readCsv(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(paths: _*)

  /** Permissive-parse scan: rows that fail the schema are DROPPED, not
    * errors — the reference reducer's contract (it skips lines that don't
    * split into exactly two tokens and values that fail `int()`,
    * `src/app/reducer.py:11,21-24`). `DROPMALFORMED` is that semantics at
    * the source level: at 100 TB, dirty records are a certainty and a
    * fail-the-job parser is not an option. Headerless, caller-set
    * separator (the reference's `k v` lines are `sep = " "`). */
  def readCsvDropMalformed(spark: SparkSession, schema: StructType, sep: String,
      paths: String*): DataFrame =
    spark.read.schema(schema)
      .option("sep", sep)
      .option("mode", "DROPMALFORMED")
      .csv(paths: _*)

  def readJson(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read.schema(schema).json(paths: _*)

  /** Permissive-parse scan that KEEPS the bad rows: well-formed rows parse
    * into `schema`'s columns, malformed lines land whole in
    * `_corrupt_record` with the data columns null. [[readCsvDropMalformed]]
    * is the reference reducer's silent-drop contract; this is the other
    * thing a 100 TB ingest actually wants — route the rejects to a
    * quarantine sink (filter on `_corrupt_record IS NOT NULL`) so data
    * loss is observable and debuggable instead of silent. */
  def readCsvQuarantine(spark: SparkSession, schema: StructType, sep: String,
      paths: String*): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("sep", sep)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(paths: _*)

  /** ORC scan with explicit schema — same no-inference contract as the
    * other readers. ORC is the other columnar interchange format a 100 TB
    * warehouse encounters (Hive-lineage pipelines); Spark's native
    * vectorized ORC reader gives it the same pushdown/pruning treatment
    * as parquet (FormatsSpec asserts PushedFilters reach the ORC scan). */
  def readOrc(spark: SparkSession, schema: StructType, paths: String*): DataFrame =
    spark.read.schema(schema).orc(paths: _*)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Hive-style partitioned parquet layout: one directory per value of
    * `partitionCols`. Low-cardinality columns only — each distinct tuple
    * is a directory of files. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Compact a parquet dataset's small files: rewrite `inPath` to
    * `outPath` with files sized near `targetFileBytes`. The small-files
    * problem is a first-order cost at 100 TB (every file is a task, a
    * footer read, an object-store request); streaming sinks and
    * fine-grained partitioned writes both produce it, and periodic
    * compaction is the standard maintenance job. File count comes from the
    * dataset's actual on-disk size, and `coalesce` (not `repartition`)
    * merges without a shuffle. Returns the output file count. */
  def compactParquet(spark: SparkSession, inPath: String, outPath: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(inPath), spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(inPath)).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    spark.read.parquet(inPath).coalesce(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    nFiles
  }

  /** COUNT/MIN/MAX answered from parquet FOOTER STATISTICS — no row
    * groups are read at all. At 100 TB this is the difference between a
    * metadata pass (one footer per file) and a full scan for the
    * "how many rows / what key range" queries every pipeline runs before
    * sizing a job. Aggregate pushdown is a DataSource-V2-only feature and
    * bucketed tables need V1, so the V2 reader is scoped to an ISOLATED
    * child session (shares the SparkContext and catalog, owns its
    * SQLConf): flipping `useV1SourceList` there cannot race a concurrent
    * query on the caller's session into the V2 reader (a set/restore
    * around `load()` would leave that window open). The
    * returned frame stays bound to the child session, which keeps the V2
    * resolution stable however late the caller executes it.
    * FormatsSpec asserts `PushedAggregation` lands in the scan. */
  def aggregateFromFooters(spark: SparkSession, path: String, keyCol: String): DataFrame = {
    val scoped = spark.newSession()
    scoped.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    val key = "spark.sql.sources.useV1SourceList"
    scoped.conf.set(key,
      scoped.conf.get(key).split(",").map(_.trim).filterNot(_ == "parquet").mkString(","))
    scoped.read.parquet(path).agg(
      count(lit(1)).as("n_rows"),
      min(col(keyCol)).as(s"min_$keyCol"),
      max(col(keyCol)).as(s"max_$keyCol"))
  }

  /** Overwrite only replaces a table THIS session's catalog knows about; a
    * managed location left by a previous session still blocks the create
    * (LOCATION_ALREADY_EXISTS). Drop both the catalog entry and any stale
    * directory so the write is idempotent across sessions. The recursive
    * delete is safe only because GraftSession scopes the warehouse dir per
    * process (no other live process can have data there); callers with a
    * shared warehouse should not point external tables under it.
    *
    * Public as [[dropManaged]]: an incremental build that APPENDS batches
    * (no initial overwrite to clear prior state) must drop its target
    * first so a retry after a partial failure starts clean instead of
    * re-appending onto surviving rows. */
  def dropManaged(spark: SparkSession, table: String): Unit =
    dropForOverwrite(spark, table)

  private def dropForOverwrite(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Bucketed + sorted managed table (bucketing requires the table
    * catalog). Joins/aggregations keyed on `bucketCols` against another
    * table bucketed the same way run shuffle-free. The bucket key is the
    * column tuple (hash of all of them), so tables probed on composite
    * keys bucket on the tuple — e.g. an LSH signature index on
    * (band_idx, band_val). This is the only writer that CHOOSES a layout:
    * every later append and rewrite of the table reads it back from the
    * catalog ([[bucketSpec]]). */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String], numBuckets: Int): Unit = {
    dropForOverwrite(df.sparkSession, table)
    inLayout(df, BucketSpec(numBuckets, bucketCols, bucketCols))
      .mode(SaveMode.Overwrite).format("parquet").saveAsTable(table)
  }

  /** The table's catalog entry — a metadata lookup, not a Spark job. */
  private def catalogTable(spark: SparkSession, table: String): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(
      spark.sessionState.sqlParser.parseTableIdentifier(table))

  /** The bucket layout a table was CREATED with, as the catalog records
    * it (None for a plain or partitioned table). Appends and rewrites
    * take their layout from here, never from a caller's argument: the
    * ping-pong swap moves only the table's location, so a rewrite hashed
    * any other way would leave files the catalog's spec mis-describes. */
  def bucketSpec(spark: SparkSession, table: String): Option[BucketSpec] =
    catalogTable(spark, table).bucketSpec

  /** `df`'s writer in `spec`'s bucketed + per-bucket-sorted layout. */
  private def inLayout(df: DataFrame, spec: BucketSpec): DataFrameWriter[Row] = {
    val w = df.write.bucketBy(spec.numBuckets,
      spec.bucketColumnNames.head, spec.bucketColumnNames.tail.toSeq: _*)
    if (spec.sortColumnNames.isEmpty) w
    else w.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail.toSeq: _*)
  }

  /** The stored bucket layout of `table`; loud when it has none. */
  private def storedSpec(spark: SparkSession, table: String): BucketSpec =
    bucketSpec(spark, table).getOrElse(throw new IllegalArgumentException(
      s"'$table' is not a bucketed table — its layout cannot be kept"))

  /** Plain (unbucketed) managed-table overwrite with the same
    * cross-session idempotence as [[writeBucketed]] — for the small
    * side-tables an index keeps next to its bucketed data (e.g. corpus
    * stats rows). */
  def writeManaged(df: DataFrame, table: String): Unit = {
    dropForOverwrite(df.sparkSession, table)
    df.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(table)
  }

  /** Morton (Z-order) key — the low `bits` bits of two non-negative
    * integer keys interleaved (a in even positions, b in odd): points
    * close in BOTH dimensions get close Z values, so sorting by it
    * clusters the table for 2-D box predicates. Pure shift/mask
    * arithmetic — whole-stage-codegen'd, no UDF. */
  def zOrderKey(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Write a managed table CLUSTERED in Z-order on two integer columns —
    * the multi-dimensional layout step a 100 TB table gets when queries
    * filter on two keys at once (one partition column handles one
    * dimension; Z-order handles two with ONE sort). Each output file then
    * covers a narrow range of BOTH columns, so parquet footer min/max
    * stats let a box predicate skip most files/row-groups entirely —
    * where a hash-scattered layout gives every file the full value range
    * and nothing ever skips (FormatsSpec measures the scan-row difference
    * on identical content). One range shuffle + per-file sort at write;
    * the Z key is dropped from the stored schema (it is derivable).
    *
    * `numFiles` stands in for the file-count a real deployment derives
    * from table size / target file size (e.g. 1 GB files). */
  def writeZOrdered(df: DataFrame, table: String, colA: String, colB: String,
      numFiles: Int = 8, bits: Int = 16): Unit = {
    dropForOverwrite(df.sparkSession, table)
    zCluster(df, colA, colB, numFiles, bits)
      .write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(table)
  }

  /** The Z-clustering transform shared by write/append/recluster: attach
    * the Morton key, range-partition on it, sort within each file, drop
    * the (derivable) key from the stored schema. */
  private def zCluster(df: DataFrame, colA: String, colB: String,
      numFiles: Int, bits: Int): DataFrame =
    df.withColumn("__z",
        zOrderKey(col(colA).cast("long"), col(colB).cast("long"), bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")

  /** Incremental-ingest half of the Z-order lifecycle: the new batch is
    * Z-clustered WITHIN ITS OWN files and appended — the stored corpus is
    * never rewritten, so the daily cost is one pass over the batch. The
    * trade is global-clustering decay: batch files overlap the existing
    * generation's key ranges, so box-predicate skipping degrades as
    * appends accumulate (FormatsSpec measures it) until [[rezorderTable]]
    * restores the single-generation layout — the standard
    * OPTIMIZE-ZORDER maintenance cadence of lakehouse tables. Results
    * are unaffected either way (layout changes what skips, never what a
    * query returns). */
  def appendZOrdered(df: DataFrame, table: String, colA: String, colB: String,
      numFiles: Int = 2, bits: Int = 16): Unit =
    zCluster(df, colA, colB, numFiles, bits)
      .write.mode(SaveMode.Append).format("parquet").saveAsTable(table)

  /** Maintenance half: rewrite the whole table as ONE Z-clustered
    * generation through the same crash-safe ping-pong swap as
    * [[compactBucketed]] — both failpoint windows
    * (`compact.after_stage` / `after_swap`) fire here too, so the
    * proven recovery contract (re-run after a crash in either window
    * restores a consistent, fully-clustered table) carries over.
    * Single-writer, like every maintenance path. */
  def rezorderTable(spark: SparkSession, table: String, colA: String,
      colB: String, numFiles: Int = 8, bits: Int = 16): Unit =
    pingPongRewrite(spark, table) { (oldPath, newPath, staging) =>
      zCluster(spark.read.parquet(oldPath), colA, colB, numFiles, bits)
        .write.mode(SaveMode.Overwrite)
        .option("path", newPath) // external: drops never delete data
        .format("parquet")
        .saveAsTable(staging)
    }

  /** Append a batch into an existing bucketed table's layout — the
    * incremental-ingest half of the bucketed-table story. Spark bucketing
    * is per-file: each appended batch writes its own bucket-hashed,
    * per-bucket-sorted files, so readers keep the exchange-free
    * join/aggregation plan over the union, and ONLY the new batch is
    * scanned or written (the existing data is never touched). Each append
    * adds up to one file per bucket; [[compactBucketed]] bounds the file
    * count again. The layout is the table's own ([[bucketSpec]]). */
  def writeBucketedAppend(df: DataFrame, table: String): Unit =
    inLayout(df, storedSpec(df.sparkSession, table))
      .mode(SaveMode.Append).format("parquet").saveAsTable(table)

  /** Managed table DIRECTORY-PARTITIONED on `partCol` — the layout for
    * derived tables probed on a low-cardinality key (e.g. an IVF cell id)
    * where the prune should come from RUNTIME partition pruning (DPP — a
    * join against the small probe side dynamically prunes the scan's
    * partitions) instead of a driver-collected `isin` literal: no
    * blocking collect before planning, and the pruned plan serves any
    * query count in one shot. The pre-shuffle hashes `partCol` into
    * `numTasks` tasks so each partition value's rows sit in ONE task and
    * the write emits one file per (task, value) = one file per value. */
  def writePartitionedTable(df: DataFrame, table: String, partCol: String,
      numTasks: Int): Unit = {
    dropForOverwrite(df.sparkSession, table)
    df.repartition(numTasks, col(partCol))
      .write.mode(SaveMode.Overwrite).partitionBy(partCol)
      .format("parquet").saveAsTable(table)
  }

  /** Append a batch into a [[writePartitionedTable]] layout — dynamic
    * partition insert, so only the batch's partitions gain files and the
    * catalog's partition list is synced automatically. The first append
    * creates the table (the bootstrap case of incremental builds). */
  def appendPartitionedTable(df: DataFrame, table: String, partCol: String,
      numTasks: Int): Unit =
    df.repartition(numTasks, col(partCol))
      .write.mode(SaveMode.Append).partitionBy(partCol)
      .format("parquet").saveAsTable(table)

  /** Delete-propagation rewrite for a [[writePartitionedTable]] layout —
    * the partitioned twin of [[purgeBucketed]], riding the same
    * crash-safe ping-pong swap. One extra step a partitioned table
    * needs: the catalog tracks each partition's OWN location, so after
    * the swap the partition entries are re-synced against the new
    * directory. The stale entries are DROPPED EXPLICITLY before the
    * `MSCK … SYNC PARTITIONS`: Spark's repair adds missing
    * specs (ignoreIfExists) BEFORE dropping specs whose location is
    * gone, so on a catalog that resolves partition paths through the
    * stored entries, a surviving partition value whose stale entry still
    * pointed into the superseded directory could be dropped and never
    * re-added. With every entry dropped first, MSCK rebuilds the list
    * purely from the new directory layout — entries are derived state,
    * so the drop is always safe. A crash between the swap and the sync
    * leaves catalog reads stale until the purge is re-run — the same
    * re-run-to-recover contract as the swap's other windows (the rewrite
    * itself reads the RAW path, so recovery never depends on the stale
    * entries). */
  def purgePartitionedTable(spark: SparkSession, table: String, partCol: String,
      numTasks: Int, idCol: String, deleteIds: DataFrame): Unit = {
    pingPongRewrite(spark, table) { (oldPath, newPath, staging) =>
      spark.read.parquet(oldPath)
        .join(broadcast(deleteIds.select(col(idCol)).distinct()),
          Seq(idCol), "left_anti")
        .repartition(numTasks, col(partCol))
        .write.mode(SaveMode.Overwrite)
        .option("path", newPath) // external: drops never delete data
        .partitionBy(partCol)
        .format("parquet").saveAsTable(staging)
    }
    spark.sql(s"SHOW PARTITIONS `$table`").collect().foreach { row =>
      val Array(k, v) = row.getString(0).split("=", 2)
      spark.sql(s"ALTER TABLE `$table` DROP IF EXISTS PARTITION (`$k`='$v')")
    }
    spark.sql(s"MSCK REPAIR TABLE `$table` SYNC PARTITIONS")
    spark.catalog.refreshTable(table)
  }

  /** Test-only failure injection for the maintenance paths: when set
    * to a window name, the operation throws AT that window, so specs can
    * kill mid-swap/mid-absorb and assert the recovery contract instead
    * of trusting the doc comments. Windows:
    * `compact.after_stage`, `compact.after_swap`,
    * `absorb.after_append`, and `sdaily.after_index_append` /
    * `sdaily.after_snapshot` (fired from
    * [[graft.ops.Curation.commitStreamDailyBatch]]). Empty in production —
    * one volatile read per window. */
  @volatile private[graft] var failpoint: String = ""
  private[graft] def failIf(point: String): Unit =
    if (failpoint == point)
      throw new RuntimeException(s"graft failpoint: $point")

  /** Scheme-normalized path of a location URI/string, for comparing a
    * catalog-reported location against a constructed one. */
  private def qualified(spark: SparkSession, loc: String): org.apache.hadoop.fs.Path = {
    val p = new org.apache.hadoop.fs.Path(loc)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }

  /** Compact a bucketed table back to ONE file per bucket, preserving the
    * bucketed + per-bucket-sorted layout — the maintenance half of the
    * append-based index lifecycle (build → append xN → compact → probe).
    * Every [[writeBucketedAppend]] batch adds its own files per bucket, so
    * a daily-ingest index accumulates files linearly in batches; at 100 TB
    * each file is a task, a footer read, and an object-store request on
    * every probe. The rewrite `repartition`s on the bucket columns first —
    * Spark's bucket placement IS `HashPartitioning` on those columns, so
    * each task holds exactly one bucket's rows and the bucketed write
    * emits exactly one file per non-empty bucket (without the repartition,
    * a T-task write can emit up to T x buckets files — the bucketed-write
    * small-file trap).
    *
    * Crash-safe shape (rebuilt this round — the failure-injection specs
    * found the previous staging scheme deleted LIVE data on a re-run):
    * the rewrite lands at an explicit ping-pong location (the live table
    * alternates between `<loc>` and `<loc>__pong` across compactions, so
    * the target is never the directory being read), registered as an
    * EXTERNAL staging entry (dropping it never deletes data); visibility
    * switches with a SINGLE `ALTER TABLE SET LOCATION` on the live name —
    * a concurrent reader resolving the name at any instant sees a
    * complete table; cleanup then drops the staging entry and explicitly
    * deletes the superseded files. Every crash window recovers by
    * RE-RUNNING compaction: die before the swap and the live table never
    * moved (the re-run clears the partial rewrite); die after the swap
    * and the live table is already complete at the new location (the
    * re-run's target IS the orphaned old directory, so the leak
    * self-heals). Both windows are proven in FormatsSpec via
    * [[failpoint]]. (In-flight scans that already resolved old file paths
    * can still race the final delete — the standard
    * non-transactional-catalog caveat; a transactional table format is
    * the production upgrade.) Probes answer identically before and after
    * (same rows, same layout contract — the compacted gate shares its
    * uncompacted twin's oracle). Returns the table's parquet file count
    * after compaction. */
  def compactBucketed(spark: SparkSession, table: String): Int =
    rewriteBucketed(spark, table)(identity)

  /** Merging compaction for DELTA tables (the LM count-model design):
    * fold the accumulated per-batch delta rows back to ONE aggregated row
    * per `keyCols` tuple (summing `sumCols`; with no sum columns the fold
    * is a distinct — the stored-set case), rewritten through the same
    * crash-safe ping-pong swap as [[compactBucketed]], so the bucketed
    * layout, the single-file-per-bucket bound, AND the failpoint-proven
    * recovery contract all carry over. Probes answer identically before
    * and after — the fold they run per query is exactly the fold this
    * materializes once. */
  def compactDeltaTable(spark: SparkSession, table: String, keyCols: Seq[String],
      sumCols: Seq[String]): Int =
    rewriteBucketed(spark, table) { df =>
      if (sumCols.isEmpty) df.select(keyCols.map(col): _*).distinct()
      else df.groupBy(keyCols.map(col): _*)
        .agg(sum(sumCols.head).as(sumCols.head),
          sumCols.tail.map(c => sum(c).as(c)): _*)
    }

  /** Delete propagation ("right to be forgotten") over one bucketed index
    * table: rewrite the table WITHOUT the rows whose `idCol` value is in
    * `deleteIds`, through the same crash-safe ping-pong swap as
    * [[compactBucketed]] — the bucketed + per-bucket-sorted layout, the
    * one-file-per-bucket bound, and the failpoint-proven recovery
    * contract all carry over, and the rewrite doubles as a compaction.
    * A forget request (user ids, a source takedown) is bounded and tiny
    * relative to the corpus, so the delete set broadcasts into the anti
    * join; the full pass over the stored rows is the one cost any
    * PHYSICAL delete must pay — at 100 TB forget requests are batched
    * and that pass amortized across them, which is exactly the API shape
    * here (one DataFrame of ids per purge, not one rewrite per id).
    * [[StoredIndex.purge]] composes this over every table of an index
    * family and folds the deleted ids OUT of the build manifest. Returns
    * the table's file count after the rewrite. */
  def purgeBucketed(spark: SparkSession, table: String, idCol: String,
      deleteIds: DataFrame): Int =
    rewriteBucketed(spark, table) { df =>
      df.join(broadcast(deleteIds.select(col(idCol)).distinct()),
        Seq(idCol), "left_anti")
    }

  /** Shared crash-safe rewrite core of [[compactBucketed]] /
    * [[compactDeltaTable]] / [[purgeBucketed]] /
    * [[graft.ops.Dedup.mergeComponentsIncr]]: read the table's files,
    * apply `xform`, rewrite into the ping-pong location, swap visibility
    * with one ALTER. See [[compactBucketed]] for the full
    * recovery-contract rationale. The new generation is written in the
    * table's own catalog layout ([[bucketSpec]]), so the swapped-in files
    * always match the spec the catalog keeps declaring. */
  private[graft] def rewriteBucketed(spark: SparkSession, table: String)(
      xform: DataFrame => DataFrame): Int = {
    val spec = storedSpec(spark, table)
    // read the table's FILES as plain parquet, not `spark.table`: the
    // bucketed scan advertises HashPartitioning(numBuckets), so Catalyst
    // would elide the repartition as redundant — and then the
    // auto-bucketed-scan rule (nothing in this plan requires the bucket
    // distribution) silently reads the small files in arbitrary coalesced
    // splits, producing one file per (task x bucket) instead of one per
    // bucket. A raw file scan carries no partitioning claim, so the
    // shuffle survives and every task holds exactly one bucket's rows.
    pingPongRewrite(spark, table) { (oldPath, newPath, staging) =>
      inLayout(xform(spark.read.parquet(oldPath))
          .repartition(spec.numBuckets, spec.bucketColumnNames.map(col).toSeq: _*), spec)
        .mode(SaveMode.Overwrite)
        .option("path", newPath) // external: drops never delete data
        .format("parquet")
        .saveAsTable(staging)
    }
    bucketedFileCount(spark, table)
  }

  /** Crash-safe whole-table rewrite for a PLAIN managed parquet table —
    * the un-bucketed twin of [[rewriteBucketed]], riding the same
    * ping-pong swap (and its proven failpoint windows): the commit-ledger
    * fold of the streaming daily pipeline's retention policy runs
    * through here. `xform`'s result is written as ONE file (these tables
    * are watermark-row-sized by contract), and an EMPTY result still
    * lands one footer-bearing part file so the table stays readable. The
    * old generation is read with the catalog's schema, so no job infers
    * it from the parquet footers. */
  private[graft] def rewritePlain(spark: SparkSession, table: String)(
      xform: DataFrame => DataFrame): Unit = {
    val schema = catalogTable(spark, table).schema
    pingPongRewrite(spark, table) { (oldPath, newPath, staging) =>
      xform(spark.read.schema(schema).parquet(oldPath))
        .repartition(1)
        .write.mode(SaveMode.Overwrite)
        .option("path", newPath) // external: drops never delete data
        .format("parquet").saveAsTable(staging)
    }
  }

  /** The ping-pong swap choreography shared by every crash-safe table
    * rewrite ([[compactBucketed]], [[compactDeltaTable]],
    * [[rezorderTable]]): recover any crashed predecessor's staging entry,
    * derive the alternate location from the table's ACTUAL catalog
    * location (a catalog lookup, not a query), clear it, let
    * `stage(oldPath, newPath, stagingTable)` write the new generation as
    * an EXTERNAL table at `newPath`, then swap visibility with one ALTER
    * and reclaim the old directory. The
    * `compact.after_stage` / `compact.after_swap` failpoint windows fire
    * here, so every caller inherits the proven recovery contract. */
  private def pingPongRewrite(spark: SparkSession, table: String)(
      stage: (String, String, String) => Unit): Unit = {
    val staging = table + "__compacting"
    val conf = spark.sparkContext.hadoopConfiguration
    val oldLoc = qualified(spark, tableLocation(spark, table).toString)
    // recover any staging ENTRY a crashed predecessor left: never a
    // managed drop (its location may BE the live data after a post-swap
    // crash) — external entries drop without touching files, and any
    // stale managed entry is neutralized by re-pointing at a void dir
    if (spark.catalog.tableExists(staging)) {
      spark.sql(s"ALTER TABLE `$staging` SET LOCATION '${oldLoc}__void'")
      spark.sql(s"DROP TABLE `$staging`")
    }
    // ping-pong target: never rewrite into the directory being read. The
    // pair is derived from the table's ACTUAL catalog location — strip or
    // append a `__pong` suffix on it (reconstructing the
    // default managed path `warehouse/<table>` here would silently
    // relocate — and then delete — a table living anywhere else, e.g. in
    // a non-default database or at an explicit external location)
    val oldStr = oldLoc.toString
    val newLoc = qualified(spark,
      if (oldStr.endsWith("__pong")) oldStr.stripSuffix("__pong")
      else s"${oldStr}__pong")
    // the target must start empty: it is either a crashed attempt's
    // partial rewrite or (after a post-swap crash) the orphaned previous
    // generation — both are superseded data, reclaimed here
    val fs = newLoc.getFileSystem(conf)
    if (fs.exists(newLoc)) fs.delete(newLoc, true)
    stage(oldLoc.toString, newLoc.toString, staging)
    failIf("compact.after_stage")
    spark.sql(s"ALTER TABLE `$table` SET LOCATION '$newLoc'")
    spark.catalog.refreshTable(table)
    failIf("compact.after_swap")
    spark.sql(s"DROP TABLE `$staging`")
    fs.delete(oldLoc, true)
  }

  // ---- Build manifests: index/model lifecycle metadata -----------------
  //
  // Every stored family's derived state (codes, bands, postings, pivots,
  // books, stats) is valid for ONE corpus generation and ONE parameter
  // set, but the tables themselves carry neither — a reader cannot tell
  // which generation an index was built from, so a stale or
  // foreign-parameter index would rank garbage silently. The manifest is
  // the one-row `<table>_meta` answer: corpus row count + order-independent
  // fingerprint, the build's parameter string, an append counter, and the
  // build wall-clock. [[StoredIndex]] writes it for every family: last on
  // build, and folded (xor/add, no corpus reread) after the data steps of
  // every append and purge. Readers pay by need:
  //   - probes run [[requireBuilt]] — a catalog existence check only (no
  //     job, no scan), so the per-query overhead is nil;
  //   - [[metaParams]] recovers the stored sketch/index parameters;
  //   - [[isStaleFor]] is the opt-in deep check (one corpus scan) and
  //     [[stampAudit]] the detector for torn or overlapping appends.

  /** Manifest table of a stored index/model family. */
  def metaTable(table: String): String = table + "_meta"

  /** (row count, order-independent fingerprint) over an id column — the
    * corpus-generation stamp a manifest records. `bit_xor` of the 60-bit
    * id hash is commutative/associative, so the stamp is partition- and
    * order-invariant, and a disjoint batch folds in WITHOUT rereading the
    * corpus: stamp(union) = (n_a + n_b, fp_a XOR fp_b).
    *
    * Batch DISJOINTNESS is a correctness precondition, not just a
    * performance contract: xor is self-cancelling, so a
    * batch that overlaps the indexed corpus folds the duplicate ids
    * AWAY — the stamp can then equal that of a smaller corpus and
    * [[isStaleFor]] would vouch for a silently corrupted index. The
    * count component catches any overlap that changes cardinality
    * expectations, and FormatsSpec spot-checks the hazard explicitly;
    * production appenders must enforce id-disjointness upstream (all of
    * this engine's appenders derive batches from disjoint id splits). */
  def corpusStamp(df: DataFrame, idCol: String): (Long, Long) = {
    val aggs = stampAggs(idCol)
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** [[corpusStamp]]'s two aggregates, `n` and `fp`, over the rows where
    * `keep` holds — the one stamp formula, also attachable as an
    * [[org.apache.spark.sql.Observation]] to a write that already scans
    * the rows ([[observedStamp]] reads it back). */
  def stampAggs(idCol: String, keep: Column = lit(true)): Seq[Column] = Seq(
    count(when(keep, lit(1))).as("n"),
    bit_xor(when(keep, graft.functions.CrossHash.h60(col(idCol).cast("string")))).as("fp"))

  /** The stamp an [[org.apache.spark.sql.Observation]] of [[stampAggs]]
    * collected (blocks until the observed query has run). */
  def observedStamp(obs: org.apache.spark.sql.Observation): (Long, Long) = {
    val m = obs.get
    (m("n").asInstanceOf[Long], Option(m("fp")).fold(0L)(_.asInstanceOf[Long]))
  }

  /** The stored rows that vouch for a family's stamp, as its manifest
    * records them: column `idCol` of table `<table><idTable>` lists every
    * stored id, `rowsPerId` physical rows each where the layout fixes that
    * number (None: a variable count, as in postings). */
  final case class IdLayout(idCol: String, idTable: String, rowsPerId: Option[Int])

  /** Write the family's one-row manifest (build side). `layout` is the
    * family's [[IdLayout]]; a models-only manifest, which stores no ids
    * yet, has none until its first append folds one in. */
  def writeBuildMeta(spark: SparkSession, table: String, params: String,
      corpusN: Long, corpusFp: Long, layout: Option[IdLayout] = None): Unit =
    writeMetaRow(spark, table, corpusN, corpusFp, params, 0L, layout)

  private def writeMetaRow(spark: SparkSession, table: String, n: Long, fp: Long,
      params: String, appends: Long, layout: Option[IdLayout]): Unit = {
    import spark.implicits._
    writeManaged(
      Seq((n, fp, params, appends, System.currentTimeMillis(),
        layout.map(_.idCol), layout.map(_.idTable), layout.flatMap(_.rowsPerId)))
        .toDF("corpus_n", "corpus_fp", "params", "appends", "built_at_ms",
          "id_col", "id_table", "rows_per_id"),
      metaTable(table))
  }

  /** The manifest row — (corpus_n, corpus_fp, params, appends) — if the
    * family has one. */
  def readBuildMeta(spark: SparkSession, table: String): Option[(Long, Long, String, Long)] =
    if (!spark.catalog.tableExists(metaTable(table))) None
    else spark.table(metaTable(table))
      .select("corpus_n", "corpus_fp", "params", "appends")
      .collect().headOption
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))

  /** The [[IdLayout]] the family's manifest records, if it records one. */
  def idLayout(spark: SparkSession, table: String): Option[IdLayout] =
    if (!spark.catalog.tableExists(metaTable(table))) None
    else {
      val m = spark.table(metaTable(table))
      if (!m.columns.contains("id_col")) None
      else m.select("id_col", "id_table", "rows_per_id").collect().headOption
        .filter(r => !r.isNullAt(0))
        .map(r => IdLayout(r.getString(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getInt(2))))
    }

  /** The build's `k=v` param fields as a map — how a probe or append
    * recovers the STORED sketch/index parameters (CMS depth×width,
    * histogram bin width, …) instead of trusting compile-time constants
    * (a 100 TB build must choose its own sketch widths, so the
    * artifact — not the binary — is the source of truth).
    * Loud when the family has no manifest: sizing a probe from a guessed
    * width would silently hash every query to the wrong slots. */
  def metaParams(spark: SparkSession, table: String): Map[String, String] =
    readBuildMeta(spark, table) match {
      case None => throw new IllegalStateException(
        s"index '$table' has no build manifest ('${metaTable(table)}') to read " +
          "params from: not built, built by an incompatible version, or " +
          "partially deleted — rebuild first")
      case Some((_, _, params, _)) =>
        params.split(",").iterator.map(_.trim).filter(_.nonEmpty)
          .map { f =>
            val i = f.indexOf('=')
            // loud on a field with no '=': a silent
            // ("" -> field) entry would break the 'loud when wrong'
            // parameter-recovery contract
            require(i > 0, s"malformed manifest field '$f' in '$table'")
            (f.take(i), f.drop(i + 1))
          }.toMap
    }

  /** `k=v` fields conflict only when BOTH sides declare the same key with
    * different values. Each side declares exactly what it knows — an
    * append typically knows its layout params (`buckets`) but not the
    * build's training params (`k`, `iters`), and a models-only build may
    * not have recorded layout params at all — so unilateral fields pass,
    * while any restated field that DIFFERS (the corruption case:
    * appending with a different bucket spec or a different kind) fails
    * loudly. */
  private[graft] def paramsCompatible(built: String, declared: String): Boolean = {
    def fields(s: String): Map[String, String] =
      s.split(",").iterator.map(_.trim).filter(_.nonEmpty)
        .map { f => val i = f.indexOf('='); (f.take(i), f.drop(i + 1)) }.toMap
    val b = fields(built)
    fields(declared).forall { case (k, v) => b.get(k).forall(_ == v) }
  }

  private val metaLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The manifest fold behind [[StoredIndex]]'s append and purge: requires
    * the manifest exists and the declared params are compatible with the
    * build's ([[paramsCompatible]]), then rewrites the row with the stamp
    * folded in (a purge folds a negated count). The fold is a
    * read-modify-write of the one-row table, serialized on a per-table
    * lock within one JVM — two same-session writers (a streaming
    * foreachBatch racing a maintenance job) cannot lose a stamp, and
    * FormatsSpec hammers it from many threads. Across processes no lock
    * exists: one writer process per family, the crash contract
    * [[StoredIndex]] states.
    *
    * `bootstrap` covers the one legitimate manifest-less append: a family
    * whose derivation is stateless per row may START by appending, so the
    * append that created its tables also creates the manifest from
    * (0, 0). A missing manifest NEXT TO an existing table stays a loud
    * failure (the partially-deleted / foreign-index case). `layout` is
    * written as for [[writeBuildMeta]]. */
  def foldBuildMeta(spark: SparkSession, table: String, params: String,
      batchN: Long, batchFp: Long, layout: Option[IdLayout] = None,
      bootstrap: Boolean = false): Unit = {
    val lock = metaLocks.computeIfAbsent(metaTable(table), _ => new Object)
    lock.synchronized {
      val (n, fp, built, appends) = readBuildMeta(spark, table).getOrElse {
        if (bootstrap) (0L, 0L, params, -1L) // -1: the +1 below counts this append
        else throw new IllegalStateException(
          s"index '$table' has no build manifest ('${metaTable(table)}'): " +
            "built by an incompatible version or partially deleted — rebuild before appending")
      }
      require(paramsCompatible(built, params),
        s"append params '$params' are incompatible with '$table' build params " +
          s"'$built' — appending with a different spec would silently corrupt the index")
      writeMetaRow(spark, table, n + batchN, fp ^ batchFp, built, appends + 1, layout)
    }
  }

  /** DEBUG COMPANION of the xor corpus stamp: the
    * disjointness precondition is what makes the fold sound — xor is
    * self-cancelling, so a batch that overlaps the indexed corpus folds
    * the duplicate ids AWAY and the manifest can come to vouch for a
    * corpus it does not describe. This audit makes the violation
    * DETECTABLE after the fact: recompute the stamp over the DISTINCT
    * ids actually stored (one scan of the id table the manifest's
    * [[IdLayout]] names — `_sigs`, `_codes`, the store itself) and
    * compare to the manifest. Overlapping appends leave `manifest_n`
    * counting the duplicate ids twice while the distinct recount does not
    * (and the fps diverge because the cancelled ids reappear once), so
    * `disjoint_ok=false` pinpoints exactly the silent-corruption case
    * the contract forbids — without this row the failure mode is
    * invisible until [[isStaleFor]] lies.
    *
    * The layout's `rowsPerId` closes the one blind spot of the
    * distinct recount: an append whose DATA committed but whose meta
    * fold did not (the residual crash window inside every append*) gets
    * blindly RE-RUN by a pre-stamp replay, duplicating every physical
    * row while the manifest folds the batch once — the distinct recount
    * dedups the duplicates away, so `disjoint_ok` stays true. For
    * families whose physical layout stores a FIXED number of rows per
    * id (signatures: 1/doc, LSH bands: [[graft.ops.Similarity.SigBands]]
    * per vec, …) a NON-distinct row-count cross-check runs as well:
    * `rows_ok = (stored physical rows == manifest_n × rowsPerId)`, which
    * the duplicated rows fail. Variable-rows-per-id families (postings,
    * masked keys) record none and `rows_ok` is vacuously true. One-row
    * result: (manifest_n, manifest_fp, stored_n, stored_fp, stored_rows,
    * disjoint_ok, rows_ok). */
  def stampAudit(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val (mn, mfp) = readBuildMeta(spark, table)
      .map(m => (m._1, m._2))
      .getOrElse(throw new IllegalStateException(
        s"index '$table' has no build manifest ('${metaTable(table)}') to audit"))
    val layout = idLayout(spark, table).getOrElse(throw new IllegalStateException(
      s"the manifest of '$table' names no id layout to audit"))
    val id = col(layout.idCol)
    // one pass: per-id physical row counts (h is functional in id, so the
    // group key is still just the id), then the same count+xor fold as
    // [[corpusStamp]] over the distinct groups — bit-identical fp semantics
    val r = spark.table(table + layout.idTable)
      .select(id.as("id"), graft.functions.CrossHash.h60(id.cast("string")).as("h"))
      .groupBy("id", "h").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum("c"), lit(0L)).as("rows"),
        count(lit(1)).as("n"), expr("bit_xor(h)").as("fp"))
      .head()
    val (rows, sn) = (r.getLong(0), r.getLong(1))
    val sfp = if (r.isNullAt(2)) 0L else r.getLong(2)
    val rowsOk = layout.rowsPerId.forall(f => rows == mn * f)
    Seq((mn, mfp, sn, sfp, rows, mn == sn && mfp == sfp, rowsOk))
      .toDF("manifest_n", "manifest_fp", "stored_n", "stored_fp",
        "stored_rows", "disjoint_ok", "rows_ok")
  }

  /** The families in the catalog [[stampAudit]] can check: a manifest
    * whose recorded id table exists and carries the recorded id column.
    * Sketch and delta families (HLL, CMS, LM, TextRank, profile,
    * histogram, anomaly baseline) and trained models (BPE, classifier)
    * store aggregates, not per-id rows, so their stamps cannot be
    * recomputed from stored state and they stay out. */
  def auditableFamilies(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect().toSeq.map(_.name)
      .filter(_.endsWith("_meta")).map(_.stripSuffix("_meta"))
      .filter(t => idLayout(spark, t).exists { l =>
        spark.catalog.tableExists(t + l.idTable) &&
          spark.table(t + l.idTable).columns.contains(l.idCol)
      })

  /** Probe-side gate: the family must have a build manifest. A catalog
    * existence check only — no Spark job — so probes stay cheap; the
    * loud failure replaces "silently rank against an unknown
    * generation". */
  def requireBuilt(spark: SparkSession, table: String): Unit =
    require(spark.catalog.tableExists(metaTable(table)),
      s"index '$table' has no build manifest ('${metaTable(table)}'): " +
        "not built, built by an incompatible version, or partially deleted — " +
        "rebuild before probing")

  /** Deep generation check (opt-in — one corpus scan): does the stored
    * stamp still describe `corpus`? True when the manifest is missing or
    * the stamp differs — i.e. the index was NOT built (plus appended)
    * from exactly this corpus. */
  def isStaleFor(spark: SparkSession, table: String, corpus: DataFrame,
      idCol: String): Boolean =
    readBuildMeta(spark, table) match {
      case None => true
      case Some((n, fp, _, _)) => corpusStamp(corpus, idCol) != ((n, fp))
    }

  /** The maintenance composition that makes [[isStaleFor]] actionable:
    * run `build` (which must write a fresh manifest — every build* in
    * this engine does) iff the stored index no longer describes
    * `corpus`. The fresh path costs ONE single-column stamp scan; the
    * rebuild cost is paid only when the corpus generation actually
    * moved. Returns whether a rebuild ran — the signal a scheduled
    * maintenance job logs. */
  def rebuildIfStale(spark: SparkSession, table: String, corpus: DataFrame,
      idCol: String)(build: => Unit): Boolean = {
    val stale = isStaleFor(spark, table, corpus, idCol)
    if (stale) {
      build
      require(!isStaleFor(spark, table, corpus, idCol),
        s"rebuild of '$table' did not produce a manifest matching the corpus — " +
          "the build must writeBuildMeta with the stamp of exactly what it indexed")
    }
    stale
  }

  /** The table's location as the catalog records it — a metadata
    * lookup, not a `DESCRIBE` query. */
  private def tableLocation(spark: SparkSession, table: String): java.net.URI =
    catalogTable(spark, table).location

  /** Number of parquet data files under a managed table's location — the
    * quantity compaction exists to bound. */
  def bucketedFileCount(spark: SparkSession, table: String): Int = {
    val loc = new org.apache.hadoop.fs.Path(tableLocation(spark, table))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(loc, true)
    var n = 0
    while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
    n
  }
}
