package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CrossHash

/** The daily-batch curation COMPOSITE — the product the individual
  * operators exist for: one operator that takes "today's crawl batch"
  * through the full ingest decision against the
  * accumulated corpus state, and one that commits the survivors into the
  * persisted artifacts.
  *
  * The reference's closest shape is one MapReduce job per corpus pass
  * (srics96/SDC_Mapreduce `src/master/master.cpp:243` schedules a full
  * map+reduce sweep per submitted job); a 100 TB pipeline instead runs a
  * standing DAILY decision over just the new batch, against indexes it
  * never rebuilds:
  *
  *   1. quality / language / repetition signals — ONE scan of the batch
  *      (the [[TextAnalysis.filterFunnel]] signal trio, per-doc);
  *   2. near-duplicate rejection against the STORED band index of the
  *      accumulated corpus ([[Dedup.nearDupPairsIndexed]] — the corpus is
  *      read pre-banded, never re-shingled);
  *   3. benchmark decontamination (8-token span overlap vs the eval
  *      suite, [[Dedup.contaminationStats]]);
  *   4. surviving documents packed into training sequences
  *      ([[Packing.packGreedy]]'s per-bucket walk).
  *
  * [[dailyBatch]] is the PURE decision table: one row per batch document
  * with every stage verdict and the survivors' packing coordinates — the
  * audit ledger a curation run publishes (exact integers/booleans, so the
  * DuckDB oracle replays the entire funnel end to end; the per-stage
  * counts [[TextAnalysis.observedCurationCounters]] reports are exactly
  * the column sums of this table). [[commitStreamDailyBatch]] is the one
  * side-effecting half: per micro-batch, the decision published as a
  * ledger, survivors appended into the band index and merged into the
  * next corpus snapshot, with failpoint windows between the steps so the
  * crash-recovery contract is provable (CurationSpec), not asserted.
  *
  * Scale: stage 1 is a map-only scan of the BATCH; stage 2 shuffles only
  * the batch's bands (the index side is bucketed on the band key); stage
  * 3 semi-joins batch spans against the (broadcast-sized) benchmark span
  * set; stage 4 is one hash shuffle of the survivors. The DECISION touches
  * the accumulated corpus only through the pre-built index reads, so its
  * cost is proportional to the batch. The COMMIT is not: its snapshot
  * step reads the previous corpus-width snapshot and writes a full new
  * copy per batch (see [[commitStreamDailyBatch]]). */
object Curation {

  /** The admission policy every curation decision applies: quality floor,
    * language, repetition cap (dup-2 fraction) and the benchmark span
    * length (tokens) of the decontamination stage. */
  val MinQuality = 0.6
  val Lang = "en"
  val MaxDup2 = 0.05
  val NSpan = 8

  /** Batch split used by the gate: documents with `doc_id % 4 == 1` play
    * today's crawl, the rest the accumulated corpus, and `doc_id % 7 == 0`
    * the benchmark suite (the decontamination convention of the
    * `dedup_contamination` gates). */
  def batchOf(all: DataFrame): DataFrame = all.filter(col("doc_id") % 4 === 1)
  def corpusOf(all: DataFrame): DataFrame = all.filter(col("doc_id") % 4 =!= 1)
  def benchOf(all: DataFrame): DataFrame = all.filter(col("doc_id") % 7 === 0)

  /** The stateless per-document admission gate — [[dailyBatch]]'s first
    * three stages (quality floor, language, repetition cap) as a reusable
    * FILTER that keeps the input's columns. Every verdict is a row-local
    * expression (no join, no aggregation, no state), so the same gate
    * applies unchanged to a STREAM: the streaming curation admission is
    * this filter feeding the band-taint admission
    * ([[graft.streaming.StreamOps.streamNearDupAdmitted]]), and batch
    * mode of that composition is gate `stream_curation_admit`. */
  def qualityGate(docs: DataFrame): DataFrame = {
    // LET-BINDING against predicate-pushdown re-tokenization: pushdown
    // substitutes a projected column into the filter condition at EVERY
    // reference with no cost guard (CollapseProject has one, pushdown
    // does not), and this verdict references the token array ~12 times —
    // including inside per-element lambdas, where an inlined split()
    // re-tokenizes twice per token (measured: 7-10 s for 5,000 docs at
    // sf0.1; the projection-path twins like filterFunnel never hit it
    // because CollapseProject's guard keeps their arrays materialized).
    // `transform(array(x), a -> body)[0]` binds the array ONCE per row:
    // every inner reference is a lambda VARIABLE — an O(1) read the
    // optimizer cannot substitute into. 0.5 s for the same gate.
    // both projections bound (a struct lambda var), so pinned mode still
    // reads its stored toks_alnum instead of re-filtering
    val verdict = element_at(
      transform(array(struct(SharedCorpus.wsOf(docs).as("w"),
          SharedCorpus.alnumOf(docs).as("al"))), s => {
        val (a, al) = (s.getField("w"), s.getField("al"))
        TextAnalysis.qualityColOf(a, al) >= MinQuality &&
          TextAnalysis.predLangColOf(a) === Lang &&
          TextAnalysis.dup2FracOf(a) <= MaxDup2
      }), 1)
    docs.filter(verdict)
  }

  /** The decision table: per batch document, each stage's verdict
    * (`q_ok`/`lang_ok`/`rep_ok` from the one-scan signals, `dedup_ok`
    * from the stored band index probe, `clean_ok` from benchmark span
    * overlap), the conjunction `survived`, and — for survivors — the
    * training-sequence coordinates of the packed batch (`bucket`,
    * `seq_id`, `seq_offset`; null for rejected docs).
    *
    * `bandTable` must be a [[Dedup.buildBandIndex]] layout of the
    * accumulated corpus. The decision sub-plan is materialized once
    * internally (a lazy local checkpoint, released with the returned
    * plan): it feeds both the output and the survivor-side packing walk,
    * and a production run materializes its decision ledger before packing
    * for exactly this reason. */
  def dailyBatch(spark: SparkSession, all: DataFrame, bandTable: String,
      bloomDecontam: Boolean = false): DataFrame =
    decideBatch(spark, batchOf(all), benchOf(all), bandTable, bloomDecontam)

  /** [[dailyBatch]]'s decision core over an EXPLICIT (batch, benchmark)
    * pair, so the streaming daily pipeline can run the byte-identical
    * decision per micro-batch ([[commitStreamDailyBatch]]); the batch
    * composite passes the %4/%7 corpus splits. */
  def decideBatch(spark: SparkSession, batch: DataFrame, benchmark: DataFrame,
      bandTable: String, bloomDecontam: Boolean = false): DataFrame =
    // decontamination stage: the direct broadcast semi-join by default, or
    // the Bloom-pruned scan for the broadcast-outgrown regime — RESULT-
    // IDENTICAL by the Bloom path's no-false-negatives contract, so both
    // composite forms share one oracle (same rule as the dedup_contamination
    // gate pair)
    decide(spark, batch, Dedup.minHashSignatures(batch).localCheckpoint(eager = false),
      if (bloomDecontam) Dedup.contaminationStatsBloom(batch, benchmark, NSpan)
      else Dedup.contaminationStats(batch, benchmark, NSpan),
      bandTable)

  /** The decision over facts the caller computed once: `sigs`, the
    * batch's [[Dedup.minHashSignatures]] (materialized, it also feeds the
    * survivors' band-index append), and `contamination`, the batch's
    * per-doc span-overlap stats against the benchmark. */
  private def decide(spark: SparkSession, batch: DataFrame, sigs: DataFrame,
      contamination: DataFrame, bandTable: String): DataFrame = {
    val scored = batch
      .select(col("doc_id"), SharedCorpus.wsOf(batch).as("a"),
        SharedCorpus.alnumOf(batch).as("al"))
      .select(col("doc_id"),
        TextAnalysis.nTokensCol(col("a")).as("n_tokens"),
        TextAnalysis.qualityColOf(col("a"), col("al")).as("q"),
        TextAnalysis.predLangColOf(col("a")).as("l"),
        TextAnalysis.dup2FracOfA.as("r"))
    val ndup = Dedup.probeBandIndex(spark, bandTable, sigs)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("nd", lit(true))
    val contam = contamination
      .select(col("doc_id"), (col("n_contam_spans") === 0L).as("cl"))
    val flags = scored
      .join(ndup, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("q") >= MinQuality).as("q_ok"),
        (col("l") === Lang).as("lang_ok"),
        (col("r") <= MaxDup2).as("rep_ok"),
        col("nd").isNull.as("dedup_ok"),
        coalesce(col("cl"), lit(true)).as("clean_ok"))
      .withColumn("survived",
        col("q_ok") && col("lang_ok") && col("rep_ok") &&
          col("dedup_ok") && col("clean_ok"))
      .localCheckpoint(eager = false)
    val packed = Packing.packGreedy(
        batch.join(flags.filter(col("survived")).select("doc_id"),
          Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), col("bucket"), col("seq_id"), col("seq_offset"))
    flags.join(packed, Seq("doc_id"), "left")
  }

  /** The version-1 upsert rows a committed survivor set contributes to
    * the snapshot chain: version 1, fingerprint of `"v1:" + text`. */
  private def snapshotChanges(surv: DataFrame): DataFrame =
    surv.select(
      col("doc_id"), lit(1).as("version"), lit("upsert").as("op"),
      CrossHash.h60(concat(lit("v1:"), col("text"))).as("fp"))

  /** A stored snapshot carries (doc_id, version, fp) — live rows only —
    * so re-attaching op = upsert restores the merge-input shape. */
  private def readSnapshotAsMergeInput(spark: SparkSession, table: String): DataFrame =
    spark.table(table)
      .select(col("doc_id"), col("version"), lit("upsert").as("op"), col("fp"))

  /** The STREAMING daily pipeline — the whole
    * admission → decontamination → packing → index/snapshot-commit
    * lifecycle as one standing query: each arriving micro-batch is
    * decided against the band index AS OF all previously committed
    * batches (sequential daily semantics — batch N+1 dedups against
    * batch N's survivors with no rebuild), its decision table published
    * as an audit ledger, its survivors appended into the band index and
    * merged into the next immutable snapshot. Fed the daily batch as ONE
    * micro-batch, the decision table equals [[dailyBatch]]'s and the
    * committed state equals a one-shot rebuild — the band index built
    * over corpus ∪ survivors, the snapshot holding the corpus at version
    * 0 and the survivors at version 1 (gate `stream_pipeline_daily`
    * oracle-replays the decision table; CurationSpec proves index +
    * snapshot equality and the multi-batch sequential semantics).
    *
    * `benchHashes` is the benchmark already reduced to its distinct
    * span-hash set ([[Dedup.benchSpanHashes]] with [[NSpan]]):
    * [[startStreamDailyPipeline]] reduces it once per run, since the
    * benchmark is fixed while the stream runs.
    *
    * Replay contract (foreachBatch is at-least-once after a failure;
    * every step below is idempotent, ledgered or stamp-detected, the
    * [[graft.streaming.StreamOps.startExactlyOnceFileSink]] /
    * [[graft.streaming.StreamOps.absorbStagedBatches]] discipline):
    *
    *   0. a batch already in the commit ledger is SKIPPED outright. The
    *      ledger is read ONCE per batch, at its start: one aggregation
    *      returns the highest committed batch id (this check) and that
    *      batch's snapshot (step 3's merge base);
    *   1. the decision table lands in its own `batch_id=N` dir with
    *      overwrite-and-_SUCCESS-marker semantics, and a REPLAY whose
    *      marker already exists REUSES the published decision instead of
    *      recomputing — mandatory, not an optimization: after step 2 has
    *      run, a recomputed decision would probe an index already
    *      containing this batch's survivors and flag each a near-dup of
    *      itself (caching the decision would not help: Spark invalidates
    *      and lazily re-evaluates any cache that reads a written table).
    *      Either way the survivors are read back from the dir, with the
    *      two columns' known schema;
    *   2. the band-index append is made replay-DETECTABLE by its manifest
    *      stamp alone: the manifest's PRE-append stamp is kept with the
    *      batch's decision, as an empty marker file
    *      `ledgerDir/batch_id=N/_idxpre_<n>_<fp>` created BEFORE the
    *      append (the stamp is in the name, so a crash never leaves a torn
    *      value; parquet readers skip `_`-prefixed names, and
    *      [[compactDecisionLedger]] deletes it with the dir once the batch
    *      has committed). Every run compares the current stamp against
    *      it. Equal to `pre ⊕ batch` (the append's meta fold ran — e.g. a
    *      replay from the `sdaily.after_index_append` window) SKIPS the
    *      append: a blind re-append would duplicate band/sig rows and
    *      double-fold the manifest (xor fp cancels, n double-counts) while
    *      the commit ledger then vouched for the corrupted index. Equal to
    *      the PRE stamp re-runs the append (it never committed —
    *      the residual window INSIDE [[graft.ops.Dedup.appendToBandIndex]]
    *      between its data append and meta fold keeps that family's own
    *      single-writer crash-means-rebuild contract). Any OTHER stamp is
    *      a foreign writer and fails loudly. The batch's MinHash
    *      signatures are computed once and serve both the step-1 probe
    *      and this append; the survivors' stamp is observed on the
    *      step-1 decision write (a replay that reuses a published
    *      decision counts it instead) and is the one folded into the
    *      manifest;
    *   3. the snapshot merge writes `<snapPrefix>_b<N>` — deterministic
    *      name, overwrite — so replaying it is idempotent; injectable at
    *      `sdaily.after_snapshot`;
    *   4. the commit ledger row (batch_id, snap) commits LAST; a crash
    *      anywhere before it replays from the earliest non-idempotent
    *      step still pending, and CurationSpec proves crash-at-3 AND
    *      crash-at-2 (`sdaily.after_index_append`) recoveries land
    *      bit-identical to an uncrashed run.
    *
    * TAKEDOWN absorption: when `tombstones` names an existing table,
    * every arriving document on that list is dropped BEFORE the decision
    * is computed or reused
    * ([[graft.streaming.StreamOps.streamTombstoneFiltered]]), so a
    * taken-down document re-delivered in a later batch can never re-enter
    * the decision ledger, the band index, or a snapshot — the
    * admission-side half of [[forgetBatch]], standing in the pipeline
    * itself. CurationSpec forgets a batch-N doc, re-delivers it in batch
    * N+1, and proves it reaches neither artifact.
    *
    * Cost per micro-batch: the decision and the index append are
    * proportional to the batch (one signal scan, banded probe against the
    * bucketed index, broadcast-sized benchmark semi-join, one packing
    * shuffle, index append of the survivors), but step 3 is proportional
    * to the CORPUS: it reads the whole previous snapshot and writes a full
    * new copy, so bytes written per batch grow with the accumulated
    * corpus. Committing each batch as a delta instead is ROADMAP
    * direction 1. */
  def commitStreamDailyBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, benchHashes: DataFrame, bandTable: String,
      ledgerDir: String, snap0: String, snapPrefix: String,
      tombstones: Option[String] = None,
      retainSnapshots: Option[Int] = None): Unit = {
    import spark.implicits._
    val commitLedger = snapPrefix + "_ledger"
    // 0. the one commit-ledger read. WATERMARK semantics: foreachBatch ids
    // are sequential and the pipeline commits them in order, so "some
    // committed id >= this one" ⟺ "this batch committed" — which keeps
    // replay detection correct AFTER [[applyRetention]] folds the ledger
    // to its single watermark row; the max_by row is step 3's merge base
    val (watermark, lastSnap) =
      if (!spark.catalog.tableExists(commitLedger)) (None, None)
      else {
        val r = spark.table(commitLedger)
          .agg(max("batch_id"), expr("max_by(snap, batch_id)")).head()
        (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.getString(1)))
      }
    if (watermark.exists(_ >= batchId)) return // full replay: exactly-once no-op
    // takedown absorption — tombstoned docs never reach the decision, the
    // index, or a snapshot (see the TAKEDOWN paragraph above). CONFIGURED
    // means ENFORCED: a tombstone table that is named but absent fails
    // loudly instead of silently degrading the compliance path to a no-op
    // (a typo'd name would otherwise admit taken-down docs with no
    // signal). Deployments whose takedown list may start empty create an
    // empty table up front.
    val live = tombstones match {
      case Some(t) =>
        require(spark.catalog.tableExists(t),
          s"tombstone table '$t' is configured but does not exist — " +
            "refusing to run the takedown filter as a no-op; create the " +
            "(possibly empty) table or unset the option")
        graft.streaming.StreamOps.streamTombstoneFiltered(batch, spark.table(t))
      case None => batch
    }
    // 1. decision ledger — publish-or-reuse (see the replay contract)
    val decDir = s"$ledgerDir/batch_id=$batchId"
    val decPath = new org.apache.hadoop.fs.Path(decDir)
    val fs = decPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val published = fs.exists(new org.apache.hadoop.fs.Path(decPath, "_SUCCESS"))
    // signed once: the decision's probe and the step-2 append share it
    lazy val sigs = Dedup.minHashSignatures(live).localCheckpoint(eager = false)
    val survObs = org.apache.spark.sql.Observation()
    if (!published) {
      val stamp = graft.sources.Formats.stampAggs("doc_id", col("survived"))
      decide(spark, live, sigs, Dedup.contaminationStatsAgainst(live, benchHashes, NSpan),
          bandTable)
        .observe(survObs, stamp.head, stamp.tail: _*)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(decDir)
    }
    // only the columns the commit needs, by name: no footer inference
    val survivors = spark.read.schema("doc_id LONG, survived BOOLEAN").parquet(decDir)
      .filter(col("survived")).select("doc_id")
    val surv = live.join(survivors, Seq("doc_id"), "left_semi")
    lazy val (bn, bfp) =
      if (published) graft.sources.Formats.corpusStamp(surv, "doc_id")
      else graft.sources.Formats.observedStamp(survObs)
    // 2. band-index append (tomorrow's arrivals dedup against today's
    // survivors) — pre-append stamp first, so a replay can TELL from the
    // manifest stamp whether the append already completed (the replay
    // contract's step 2)
    val cur = graft.sources.Formats.readBuildMeta(spark, bandTable)
      .map(m => (m._1, m._2)).getOrElse((0L, 0L))
    val pre = fs.listStatus(decPath).map(_.getPath.getName).collectFirst {
      case PreAppendStamp(n, f) => (n.toLong, f.toLong)
    }
    val alreadyAppended =
      pre.exists { case (pn, pf) => cur == ((pn + bn, pf ^ bfp)) }
    if (!alreadyAppended) {
      pre match {
        case Some((pn, pf)) =>
          require(cur == ((pn, pf)),
            s"band index '$bandTable' manifest stamp $cur matches neither " +
              s"batch $batchId's pre-append stamp ($pn,$pf) nor its " +
              "post-append fold — a foreign writer touched the index " +
              "mid-recovery; rebuild before resuming the stream")
        case None =>
          fs.createNewFile(
            new org.apache.hadoop.fs.Path(decPath, s"_idxpre_${cur._1}_${cur._2}"))
      }
      Dedup.appendSignaturesToBandIndex(
        sigs.join(survivors, Seq("doc_id"), "left_semi"), bandTable, (bn, bfp))
    }
    graft.sources.Formats.failIf("sdaily.after_index_append")
    // 3. snapshot chain: previous = highest committed batch's snapshot
    // (step 0's read), else the pre-stream base
    val outSnap = s"${snapPrefix}_b$batchId"
    graft.sources.Formats.writeManaged(
      Snapshot.mergeSnapshot(
        readSnapshotAsMergeInput(spark, lastSnap.getOrElse(snap0)),
        snapshotChanges(surv)),
      outSnap)
    graft.sources.Formats.failIf("sdaily.after_snapshot")
    // 4. the commit ledger row makes the batch durable-exactly-once
    Seq((batchId, outSnap)).toDF("batch_id", "snap").write
      .mode(org.apache.spark.sql.SaveMode.Append)
      .format("parquet").saveAsTable(commitLedger)
    // 5. retention: the batch is durable — now bound what the pipeline
    // keeps. Runs AFTER the commit row so a crash anywhere inside
    // retention leaves a fully committed batch behind it; every retention
    // step recovers by re-running (the next batch's retention catches up).
    retainSnapshots.foreach(applyRetention(spark, snapPrefix, _,
      foldLedger = watermark.isDefined))
  }

  /** The name of step 2's pre-append stamp marker in a decision dir:
    * `_idxpre_<corpus_n>_<corpus_fp>`. */
  private val PreAppendStamp = "_idxpre_(\\d+)_(-?\\d+)".r

  /** RETENTION for the streaming daily pipeline's derived artifacts —
    * without it, N committed batches keep N full corpus-width snapshots
    * and N commit-ledger rows forever (real storage and listing cost
    * within a quarter at daily cadence). One call bounds both:
    *
    *   1. snapshots: keep the NEWEST `keepSnapshots` immutable
    *      `<snapPrefix>_b<N>` tables, drop the rest (snapshots are
    *      derived state — history past the horizon is reconstructible as
    *      deltas via [[Snapshot.snapshotDiff]] BEFORE a snapshot crosses
    *      it, the CDC escape hatch for deployments that must keep one);
    *   2. the commit ledger folded to its single WATERMARK row (max
    *      batch_id + its snapshot name) — sound because batch ids are
    *      sequential and committed in order, so `id <= watermark` ⟺
    *      committed, which is exactly the replay check
    *      [[commitStreamDailyBatch]] runs.
    *
    * The caller is the batch that just committed, and it tells retention
    * what it already knows instead of letting retention query for it:
    * `foldLedger` says the ledger held a row before this batch (so it now
    * holds more than the watermark row).
    *
    * The ledger fold runs through the crash-safe ping-pong rewrite
    * ([[graft.sources.Formats.rewritePlain]]), and the call sits AFTER
    * the batch's commit row, so a crash anywhere in retention recovers by
    * re-running retention (each step is idempotent). The per-batch
    * DECISION ledger (`ledgerDir/batch_id=N`, with its pre-append stamp
    * marker) is deliberately NOT retained away: it is the pipeline's
    * audit/compliance record — the product, not derived state; its growth
    * is one decision-table per batch, not a corpus-width copy. Its
    * LISTING cost is bounded separately by the yearly
    * [[compactDecisionLedger]] fold, which moves committed batches' rows
    * into one partitioned table without losing a byte. */
  private def applyRetention(spark: SparkSession, snapPrefix: String,
      keepSnapshots: Int, foldLedger: Boolean): Unit = {
    require(keepSnapshots >= 1,
      "retention must keep at least the latest snapshot (the merge base)")
    // 1. snapshot horizon: enumerate the chain from the catalog (bounded
    // by the table count retention itself keeps small; also the catch-up
    // path when retention is first enabled over an unretained history)
    val snapPat = (java.util.regex.Pattern.quote(snapPrefix.toLowerCase) +
      "_b(\\d+)").r
    val snapIds = spark.catalog.listTables().collect()
      .flatMap(t => t.name match {
        case snapPat(n) => Some(n.toLong)
        case _ => None
      }).sorted
    snapIds.dropRight(keepSnapshots).foreach(n =>
      graft.sources.Formats.dropManaged(spark, s"${snapPrefix}_b$n"))
    // 2. ledger fold — skipped when the ledger is already the watermark row
    if (foldLedger)
      graft.sources.Formats.rewritePlain(spark, snapPrefix + "_ledger")(
        _.orderBy(col("batch_id").desc).limit(1))
  }

  /** PERIODIC FOLD of the per-batch DECISION ledger: [[applyRetention]]
    * deliberately leaves `ledgerDir/batch_id=N` alone — the decision tables are the
    * compliance product — but at daily cadence the directory LISTING
    * grows one entry per batch forever, and within a few years a plain
    * `fs.listStatus` on the ledger root is thousands of round trips. A
    * yearly (or quarterly) fold moves committed batches' decision rows
    * into ONE batch_id-partitioned managed table and deletes the folded
    * dirs, bounding the live listing at the fold cadence (~365 entries)
    * while every audit row survives byte-for-byte.
    *
    * Exactly-once under crashes, one batch at a time:
    *   - a batch already fully in the compacted table (row count equal)
    *     only has its source dir deleted — the post-fold pre-delete
    *     crash window re-enters here;
    *   - a PARTIALLY folded batch (count mismatch — the mid-append crash
    *     window) is repaired by a dynamic single-partition overwrite
    *     before its dir is deleted;
    *   - deletion is always LAST, after the batch's rows are re-counted
    *     in the table, so no crash point loses an audit row. It also
    *     removes the dir's pre-append stamp marker, which is dead once
    *     the batch has committed.
    *
    * The fold NEVER passes the pipeline's COMMIT watermark (enforced
    * here, not by a caller convention): `commitLedger` is
    * the pipeline's commit-ledger table (`snapPrefix_ledger`), and the
    * effective bound is `min(upToBatchId, max committed batch_id)`.
    * A decision dir can be PUBLISHED (`_SUCCESS` present) while its
    * batch never committed — the decide-then-crash window — and folding
    * that dir would defeat [[commitStreamDailyBatch]]'s publish-or-reuse
    * check: the replay would re-DECIDE the batch against a band index
    * that has since moved, and the re-made decisions could differ from
    * the ones the committed artifacts were built from. Capping at the
    * watermark leaves such a dir alone for the replay to reuse.
    * Returns the number of batch dirs folded. */
  def compactDecisionLedger(spark: SparkSession, ledgerDir: String,
      compactedTable: String, upToBatchId: Long, commitLedger: String): Long = {
    require(spark.catalog.tableExists(commitLedger),
      s"commit ledger '$commitLedger' not found — refusing to fold decision " +
        "dirs without the commit watermark (an uncommitted batch's published " +
        "dir must survive for crash replay)")
    // explicit match, not getOrElse(return ...): the non-local return from
    // inside a by-name thunk rides NonLocalReturnControl, which a future
    // catch-all handler would silently swallow into "folded 0"
    val watermark: Long =
      spark.table(commitLedger).agg(max("batch_id")).head().get(0) match {
        case null => return 0L // empty commit ledger: nothing safely foldable
        case w: java.lang.Long => w.longValue()
      }
    val bound = math.min(upToBatchId, watermark)
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(ledgerDir)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return 0L
    val pat = "batch_id=(\\d+)".r
    val dirs = fs.listStatus(root).toSeq.filter(_.isDirectory)
      .flatMap { st =>
        st.getPath.getName match {
          case pat(n) => Some((n.toLong, st.getPath))
          case _ => None
        }
      }
      .filter { case (n, p) => n <= bound &&
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")) }
      .sortBy(_._1)
    if (dirs.isEmpty) return 0L
    dirs.foreach { case (n, p) =>
      val src = spark.read.parquet(p.toString)
        .withColumn("batch_id", lit(n))
      val srcN = src.count()
      val tableN =
        if (spark.catalog.tableExists(compactedTable))
          spark.table(compactedTable).filter(col("batch_id") === n).count()
        else 0L
      if (tableN == 0L) {
        // partitioned by batch_id: a fold APPENDS one new partition and
        // never rewrites previously folded years
        src.write.partitionBy("batch_id")
          .mode(org.apache.spark.sql.SaveMode.Append)
          .format("parquet").saveAsTable(compactedTable)
      } else if (tableN != srcN) {
        // mid-append crash repair: replace exactly this partition.
        // insertInto is POSITIONAL, so project `src` into the table's
        // exact column order first — a ledger dir whose
        // parquet column order drifted from the compacted table (schema
        // evolution in decideBatch) must not silently land audit values
        // in wrong same-typed columns. Order may drift; the column SET
        // may not: projecting a dir that carries an extra
        // column would silently DROP it and the delete below would then
        // destroy the only copy of that audit data — fail loudly instead.
        require(src.columns.toSet == spark.table(compactedTable).columns.toSet,
          s"decision-ledger dir for batch $n has columns " +
            s"${src.columns.sorted.mkString(",")} but compacted table " +
            s"'$compactedTable' has ${spark.table(compactedTable).columns.sorted
              .mkString(",")} — a column-set mismatch cannot be repaired by " +
            "reordering; migrate the table schema before folding")
        src.select(spark.table(compactedTable).columns.map(col): _*)
          .write.option("partitionOverwriteMode", "dynamic")
          .mode(org.apache.spark.sql.SaveMode.Overwrite)
          .insertInto(compactedTable)
      } // tableN == srcN: fully folded, only the delete remains
      val now = spark.table(compactedTable)
        .filter(col("batch_id") === n).count()
      require(now == srcN,
        s"decision-ledger fold for batch $n landed $now rows, source has " +
          s"$srcN — refusing to delete the source dir of an audit record")
      fs.delete(p, true)
    }
    dirs.size.toLong
  }

  /** The full decision-ledger AUDIT view after any number of folds: the
    * compacted table's rows unioned with the still-live per-batch dirs —
    * the query surface a compliance review reads, independent of where
    * retention has moved the bytes. */
  def readDecisionLedger(spark: SparkSession, ledgerDir: String,
      compactedTable: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(ledgerDir)
    val fs = root.getFileSystem(conf)
    val liveDirs =
      if (fs.exists(root))
        fs.listStatus(root).filter(s => s.isDirectory &&
          s.getPath.getName.startsWith("batch_id=")).map(_.getPath.toString)
      else Array.empty[String]
    val live =
      if (liveDirs.nonEmpty)
        Some(spark.read.option("basePath", ledgerDir)
          .parquet(scala.collection.immutable.ArraySeq.unsafeWrapArray(liveDirs): _*))
      else None
    val folded =
      if (spark.catalog.tableExists(compactedTable))
        Some(spark.table(compactedTable))
      else None
    (live, folded) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => throw new IllegalStateException(
        s"no decision ledger at '$ledgerDir' or '$compactedTable'")
    }
  }

  /** Standing-query entry point: wire [[commitStreamDailyBatch]] under a
    * foreachBatch sink with a checkpoint. The caller picks the trigger
    * cadence by feeding the stream (a file source with
    * `Trigger.AvailableNow` for catch-up runs, a live source for a real
    * deployment). */
  def startStreamDailyPipeline(docs: DataFrame, benchmark: DataFrame,
      bandTable: String, ledgerDir: String, snap0: String, snapPrefix: String,
      checkpointDir: String, tombstones: Option[String] = None,
      retainSnapshots: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    // the benchmark is fixed for the run: reduced to its span-hash set
    // once, materialized by the first batch that scans against it
    val benchHashes = Dedup.benchSpanHashes(benchmark, NSpan).localCheckpoint(eager = false)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        commitStreamDailyBatch(b.sparkSession, b.toDF(), id,
          benchHashes, bandTable, ledgerDir, snap0, snapPrefix,
          tombstones = tombstones, retainSnapshots = retainSnapshots))
      .start()
  }

  /** The FORGET composite — [[commitStreamDailyBatch]]'s inverse: one takedown
    * request propagated through every persisted artifact the pipeline
    * keeps. Mirrors the commit's discipline:
    *
    *   1. the forget ids merged into the NEXT corpus snapshot as
    *      tombstone deletes ([[Snapshot.mergeSnapshot]] — snapshots are
    *      immutable, so `prevSnap` survives untouched and a torn write
    *      can never corrupt yesterday's state; version 9 outranks the
    *      base/commit versions, the takedown-wins rule);
    *   2. the stored band index PHYSICALLY purged
    *      ([[Dedup.purgeFromBandIndex]] — crash-safe rewrite, manifest
    *      stamp folded out), so tomorrow's batch can never be rejected
    *      as a near-dup of a document that no longer exists.
    *
    * Crash contract by composition: a crash before step 2 leaves the new
    * snapshot readable and the index still carrying the forgotten docs —
    * re-running the whole forget is safe (the snapshot write is
    * idempotent, the purge folds only ids still present); a crash inside
    * step 2 follows the purge's own contract. The request may be
    * over-broad (ids never ingested) — both steps ignore unknown ids. */
  def forgetBatch(spark: SparkSession, forgetIds: DataFrame, bandTable: String,
      prevSnap: String, outSnap: String): Unit = {
    val ids = forgetIds.select("doc_id").distinct()
    val changes = ids.select(col("doc_id"), lit(9).as("version"),
      lit("delete").as("op"), lit(null).cast("long").as("fp"))
    val prev = spark.table(prevSnap)
      .select(col("doc_id"), col("version"), lit("upsert").as("op"), col("fp"))
    graft.sources.Formats.writeManaged(
      Snapshot.mergeSnapshot(prev, changes), outSnap)
    Dedup.purgeFromBandIndex(spark, bandTable, ids)
  }

  /** The post-state AUDIT of a [[forgetBatch]] — the one-row evidence a
    * takedown ticket closes with, derived ONLY from immutable inputs and
    * post-state (so it is stable under re-runs): request size, how many
    * of the ids were actually live in the pre-forget snapshot, the
    * surviving snapshot size, the purged index's physical row counts,
    * and whether the index manifest now stamps EXACTLY the surviving
    * corpus (the deep [[graft.sources.Formats.isStaleFor]] check run in
    * the affirmative direction). */
  def forgetReport(spark: SparkSession, forgetIds: DataFrame, bandTable: String,
      prevSnap: String, outSnap: String): DataFrame = {
    val ids = forgetIds.select("doc_id").distinct()
    val nReq = ids.count()
    val nPresent = spark.table(prevSnap).join(broadcast(ids), "doc_id").count()
    val nAfter = spark.table(outSnap).count()
    val bandRows = spark.table(bandTable).count()
    val sigRows = spark.table(bandTable + "_sigs").count()
    val manifestOk =
      !graft.sources.Formats.isStaleFor(spark, bandTable, spark.table(outSnap), "doc_id")
    import spark.implicits._
    Seq((nReq, nPresent, nAfter, bandRows, sigRows, manifestOk))
      .toDF("n_requested", "n_present", "n_snapshot_after",
        "n_band_rows_after", "n_sig_rows_after", "manifest_ok")
  }

  /** One-row CORPUS HEALTH report — the dashboard number set a curation
    * team reviews before a training run: document count, exact-duplicate
    * group count, span-duplication incidence and token ratio, and the
    * quality-gate pass count, in ONE call. Each component is an existing
    * gated operator reduced to its aggregate; the combination is four
    * one-row frames aligned by broadcast single-row joins (the sanctioned
    * one-row crossJoin form — nothing corpus-sized crosses anything).
    * The ratio is a single division of exact longs.
    *
    * The corpus is TOKENIZED ONCE: the shared projection columns are
    * attached (or passed through if the input already carries them) as a
    * lazy local checkpoint, so the component scans share one tokenize pass
    * instead of re-splitting the text each (measured 6.0 → 1.2 s raw at
    * sf0.1). The checkpoint is reclaimed with the returned plan; nothing is
    * left for the caller to release. */
  def corpusReport(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"),
      SharedCorpus.wsOf(docs).as("toks_ws"),
      SharedCorpus.alnumOf(docs).as("toks_alnum")).localCheckpoint(eager = false)
    val n = base.agg(count(lit(1)).as("n_docs"))
    val g = Dedup.exactDedup(base).agg(count(lit(1)).as("n_exact_groups"))
    val sp = Dedup.duplicateSpans(base).agg(
      count(when(col("n_dup_spans") > 0, 1)).as("n_span_dup_docs"),
      (sum("n_dup_spans").cast("double") / sum("n_spans")).as("dup_span_ratio"))
    val q = qualityGate(base).agg(count(lit(1)).as("n_quality"))
    n.crossJoin(broadcast(g)).crossJoin(broadcast(sp)).crossJoin(broadcast(q))
  }

  /** Canonical form of a crawl URL — the normalization every web-corpus
    * dedup keys on (C4/RefinedWeb-style: the same page re-crawled under
    * tracking params, fragments, default ports, or host-case variants must
    * collapse to ONE key before URL-level dedup means anything):
    *  - fragment dropped;
    *  - scheme + host lowercased (path/query stay case-sensitive per RFC
    *    3986), a leading `www.` and the scheme's OWN default port dropped
    *    (`:80` only under `http://`, `:443` only under `https://` — a
    *    non-default `:443` on http is load-bearing and survives);
    *  - `utm_*` tracking parameters removed — matched only at a real
    *    `?`/`&` parameter boundary, so a param whose NAME merely contains
    *    `utm_` (`?xutm_a=1`) is untouched — with empty leftover `?`/`&`
    *    separators cleaned. Three anchored passes (mid-list `&utm_…`,
    *    then leading `?utm_…&`, then lone `?utm_…$`) instead of one
    *    unanchored global: Java's replaceAll resumes scanning AFTER each
    *    replacement, so a single `[?&]`-consuming pattern would skip the
    *    second of two consecutive utm params.
    * Pure string expressions (regexp_extract/replace + lower/concat), so
    * the whole pipeline is a zero-shuffle projection at any scale — and
    * cross-engine replayable (Java regex ↔ DuckDB RE2, the `ta_pii_redact`
    * parity discipline). */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    // scheme://host[:port] prefix, normalized; rest untouched
    val head = regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?]+)", 1)
    val noWww = regexp_replace(lower(head), "^([a-z0-9+.-]*://)www\\.", "$1")
    val canonHead = regexp_replace(
      regexp_replace(noWww, "^(http://[^:]*):80$", "$1"),
      "^(https://[^:]*):443$", "$1")
    val rest = noFrag.substr(length(head) + 1, length(noFrag))
    val full = concat(canonHead, rest)
    val noUtm = regexp_replace(
      regexp_replace(
        regexp_replace(full, "&utm_[a-z]+=[^&#]*", ""),
        "\\?utm_[a-z]+=[^&#]*&", "?"),
      "\\?utm_[a-z]+=[^&#]*$", "")
    regexp_replace(noUtm, "[?&]$", "")
  }

  /** Registrable-domain heuristic from a canonical URL: the last two
    * labels of the host (no public-suffix list in this container — the
    * documented approximation, right for .com/.org-style suffixes). */
  def registrableDomain(canonicalUrl: Column): Column =
    regexp_extract(
      regexp_extract(canonicalUrl, "^[a-z0-9+.-]*://([^/:?]+)", 1),
      "([a-z0-9-]+\\.[a-z0-9-]+)$", 1)

  /** Domain diversity cap — keep at most `maxPerDomain` documents per
    * registrable domain, chosen by deterministic hash rank (the
    * RefinedWeb-style guard against one mega-site dominating the corpus).
    * One hash shuffle on the domain key; the per-domain sort is bounded
    * by that domain's docs and the hash order makes the kept set a pure
    * function of the corpus. Emits the canonical URL and domain so the
    * decision is auditable. */
  def domainCap(docs: DataFrame, url: Column, maxPerDomain: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("domain").orderBy(col("h"), col("doc_id"))
    docs.select(col("doc_id"), canonicalizeUrl(url).as("url_canonical"))
      .withColumn("domain", registrableDomain(col("url_canonical")))
      .withColumn("h", CrossHash.h60(concat(lit("dom:"), col("doc_id").cast("string"))))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= maxPerDomain)
      .select(col("doc_id"), col("url_canonical"), col("domain"), col("rnk"))
  }

  /** ADAPTIVE per-source quality floor — keep the top `keepFrac` of each
    * source's documents BY QUALITY (the FineWeb-style selection: a fixed
    * global threshold either starves clean sources or drowns in a dirty
    * one; ranking within the source adapts the cut to each source's own
    * distribution). Exact top-⌈frac·n⌉ per source, WITHOUT a per-source
    * corpus sort:
    *
    *  1. quantize the quality score to an integer key (`⌊q·10⁶⌋` — the
    *     score is a bounded ratio, so the key space is ≤10⁶ per source);
    *  2. ONE aggregation to the per-(source, key) HISTOGRAM — corpus-sized
    *     scan, value-granularity-sized result;
    *  3. the cumulative walk + threshold pick runs as a window over the
    *     HISTOGRAM (≤10⁶ rows per source, not the corpus);
    *  4. docs strictly above the threshold key are kept by a broadcast
    *     filter (map-only over the corpus); the boundary key's partial
    *     take is resolved by ranking ONLY the docs AT the threshold key
    *     (one key's worth of rows — the classic selection-by-histogram
    *     boundary refinement), deterministic tiebreak by `doc_id`.
    *
    * At 100 TB this is two map-scans + one histogram-sized shuffle; the
    * equivalent `row_number() OVER (PARTITION BY source ORDER BY quality)`
    * sorts the whole corpus per source. The kept set is exactly the
    * oracle's rank formulation (top-k by (key desc, doc_id asc)) — the
    * gate proves the histogram selection EQUALS the sort selection. */
  def qualityFloor(docs: DataFrame, keepFrac: Double = 0.5): DataFrame = {
    // materialized ONCE: `scored` feeds the histogram AND both
    // sides of the threshold probe — left as a plan, the tokenize+quality
    // projection executed ~3x per call. The checkpoint is the guide-§8
    // "decide on small rows" table: (doc_id, source, qkey) is ~24 B/doc
    // at any corpus size, and the quality scan runs exactly once.
    val scored = docs.select(col("doc_id"), col("source"),
      floor(TextAnalysis.qualityColOf(
        SharedCorpus.wsOf(docs), SharedCorpus.alnumOf(docs)) * 1e6)
        .cast("long").as("qkey"))
      .localCheckpoint(eager = false)
    val hist = scored.groupBy("source", "qkey").agg(count(lit(1)).as("c"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("qkey").desc)
    val wSrc = org.apache.spark.sql.expressions.Window.partitionBy("source")
    val thr = hist
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("k", ceil(sum("c").over(wSrc) * keepFrac).cast("long"))
      .filter(col("cum") >= col("k"))
      .withColumn("rn", row_number().over(wCum))
      .filter(col("rn") === 1)
      // docs above the boundary key = cum - c; the boundary key owes the rest
      .select(col("source"), col("qkey").as("thr_key"),
        (col("k") - (col("cum") - col("c"))).as("need"))
    val joined = scored.join(broadcast(thr), Seq("source"))
    val above = joined.filter(col("qkey") > col("thr_key"))
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    val boundary = joined.filter(col("qkey") === col("thr_key"))
      .withColumn("rb", row_number().over(wB))
      .filter(col("rb") <= col("need"))
    above.select("doc_id", "source", "qkey")
      .union(boundary.select("doc_id", "source", "qkey"))
  }
}
