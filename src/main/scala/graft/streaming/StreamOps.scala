package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming surface (SURVEY §2b: streaming is ❌ in the
  * reference — its only "streaming" is a 5 s ZooKeeper job-queue poll,
  * `src/master/master.cpp:343-366`). Here the stream operators are the
  * SAME declarative transforms as batch: [[windowedEventCounts]] runs
  * unchanged over `spark.read.parquet` (the oracle-checked
  * `stream_windowed_counts` query) or `spark.readStream` (StreamOpsSpec
  * drives it through a MemoryStream) — Spark's batch/streaming unification
  * doing the work.
  *
  * At scale: the windowed aggregation is an incremental stateful agg keyed
  * by (window, event_type) — state size is bounded by the watermark, which
  * also bounds late-data wait. Sessionization keeps one state row per
  * active user and emits sessions as they close (event-time timeout), the
  * `flatMapGroupsWithState` pattern for custom state machines.
  */
object StreamOps {

  private val money = DecimalType(18, 2)

  /** Event-time shapes of the windowed operators: window length, the
    * sliding form's slide, the late data a window or interval join waits
    * for, the interval join's gap, and the watermark horizon of the keyed
    * state operators. */
  val WindowDur = "1 hour"
  val Slide = "30 minutes"
  val WindowDelay = "30 minutes"
  val MaxGap = "1 hour"
  val StateHorizon = "1 hour"
  /** The inactivity gap that closes a session. */
  val SessionGapMs: Long = 30 * 60 * 1000L

  /** Tumbling-window counts + exact-decimal sums per event type, tolerant
    * of [[WindowDelay]] late data. Works identically on batch and
    * streaming input (on batch, the watermark is a no-op). */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", WindowDelay)
      .groupBy(window(col("ts"), WindowDur), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(money)).cast("double").as("sum_value"))
      .select(
        col("window.start").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** [[windowedEventCounts]] with OVERLAPPING (sliding) windows — the
    * moving-aggregate monitoring shape (a 1-hour rate refreshed every 30
    * minutes): each event lands in `WindowDur / Slide` windows, watermark
    * semantics unchanged. Same one-aggregate plan; the window explode is
    * Spark's own `window()` expansion, not a join. The DuckDB oracle
    * replays the window assignment arithmetic (each event belongs to the
    * slide-aligned starts in `(ts - dur, ts]`). */
  def slidingEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", WindowDelay)
      .groupBy(window(col("ts"), WindowDur, Slide), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(money)).cast("double").as("sum_value"))
      .select(
        col("window.start").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** Exactly-once event dedup for streaming ingestion: drop repeated
    * event_ids within the watermark horizon. State is one key per event id
    * seen in the last [[StateHorizon]] of event time — bounded by the watermark,
    * which is what makes streaming dedup feasible at all (unbounded-key
    * dedup would grow state forever). Works on batch input too (plain
    * dropDuplicates). */
  def dedupEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", StateHorizon).dropDuplicates("event_id")

  /** Stream-stream interval join: attribute each `rightType` event to the
    * same user's `leftType` events in the preceding [[MaxGap]] — the classic
    * click→purchase attribution shape. Both sides carry watermarks and the
    * join condition is time-bounded on event time, which is exactly what
    * lets Structured Streaming expire join state (without the bound, both
    * sides' state would grow forever). On batch input the watermarks are
    * no-ops and this is a plain band join — the same unified-transform
    * contract as the rest of this module, which the oracle gate exploits.
    * At scale the join shuffles both sides on `user_id` only; the time
    * predicate is evaluated within each key group. */
  def intervalJoin(
      events: DataFrame,
      leftType: String = "click",
      rightType: String = "purchase"): DataFrame = {
    val l = events.filter(col("event_type") === leftType)
      .select(col("event_id").as("l_id"), col("user_id"),
        col("ts").as("l_ts"), col("value").as("l_value"))
      .withWatermark("l_ts", WindowDelay)
    val r = events.filter(col("event_type") === rightType)
      .select(col("event_id").as("r_id"), col("user_id").as("r_user_id"),
        col("ts").as("r_ts"), col("value").as("r_value"))
      .withWatermark("r_ts", WindowDelay)
    l.join(r,
        col("user_id") === col("r_user_id") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr(s"INTERVAL $MaxGap"))
      .select(col("user_id"), col("l_id"), col("r_id"),
        col("l_value").cast(money).cast("double").as("l_value"),
        col("r_value").cast(money).cast("double").as("r_value"))
  }

  /** Idempotent per-batch file write: the batch lands in its own
    * `batch_id=<n>` directory with overwrite, so a REPLAYED batch (Spark's
    * foreachBatch is at-least-once after a failure) rewrites the same
    * directory instead of appending duplicates. Readers get hive-style
    * partition discovery over `batch_id` for free. */
  def writeBatchIdempotent(batch: Dataset[org.apache.spark.sql.Row],
      outDir: String, batchId: Long): Unit =
    batch.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$outDir/batch_id=$batchId")

  /** Exactly-once parquet sink for a stream: foreachBatch + the idempotent
    * per-batch write above + the checkpoint's batch tracking together
    * upgrade the at-least-once replay contract to exactly-once file
    * output — the standard pattern for file/table sinks that need replay
    * safety. */
  def startExactlyOnceFileSink(stream: DataFrame, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((b: Dataset[org.apache.spark.sql.Row], id: Long) =>
        writeBatchIdempotent(b, outDir, id))
      .start()

  /** Fold exactly-once staged stream batches into a stored index — the
    * composition that closes the streaming-ingest loop around the
    * build/append index family: a stream lands micro-batches via
    * [[startExactlyOnceFileSink]] (idempotent `batch_id=N` dirs), and this
    * maintenance job appends each NOT-YET-ABSORBED batch into the index
    * through `append` (e.g. `Similarity.appendToLshIndex(_, table)`),
    * recording absorbed ids in a `<ledgerTable>` so re-runs are no-ops.
    * Appends must be doc-disjoint across batches (the file sink's
    * exactly-once contract provides that).
    *
    * The ledger row commits AFTER its batch's append — a crash between
    * the two replays that one batch, the standard at-least-once window of
    * any non-transactional two-phase sink (a transactional table format
    * is the production upgrade; no such dependency exists here). Returns
    * the batch ids absorbed by THIS call. */
  def absorbStagedBatches(spark: SparkSession, stagingDir: String,
      ledgerTable: String)(append: DataFrame => Unit): Seq[Long] = {
    import spark.implicits._
    val staged = listStagedBatchIds(spark, stagingDir)
    if (staged.isEmpty) return Seq.empty
    // ledger minus staged via LEFT ANTI join: the ledger (which grows with
    // the stream's whole history) is never collected to the driver — only
    // the anti-join survivors land here, bounded by the staged-dir count
    // that vacuum keeps small
    val pending =
      if (spark.catalog.tableExists(ledgerTable))
        staged.toDF("batch_id")
          .join(spark.table(ledgerTable), Seq("batch_id"), "left_anti")
          .collect().map(_.getLong(0)).toSeq.sorted
      else staged.sorted
    pending.foreach { id =>
      append(spark.read.parquet(s"$stagingDir/batch_id=$id"))
      // the crash window between append and ledger commit (at-least-once
      // replay of exactly this batch) — injectable so StreamOpsSpec can
      // prove the documented recovery instead of asserting it on paper
      graft.sources.Formats.failIf("absorb.after_append")
      Seq(id).toDF("batch_id").write.mode(org.apache.spark.sql.SaveMode.Append)
        .format("parquet").saveAsTable(ledgerTable)
    }
    pending
  }

  /** Staged `batch_id=N` dirs under `stagingDir`, by directory listing. A
    * non-numeric suffix (a stray `batch_id=tmp`, an editor artifact) is
    * skipped rather than thrown on — one junk dir must not brick the
    * absorb/vacuum lifecycle forever. */
  private def listStagedBatchIds(spark: SparkSession, stagingDir: String): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(stagingDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.matches("batch_id=\\d+")).map(_.stripPrefix("batch_id=").toLong)
  }

  /** Retention half of the staged-ingest lifecycle: delete staged batch
    * dirs the ledger has already absorbed. Only ledger-listed ids are
    * touched — a batch the sink wrote but [[absorbStagedBatches]] has not
    * yet folded in survives any number of vacuum runs, so sink, absorb,
    * and vacuum can run on independent schedules. Returns the ids whose
    * dirs were deleted by THIS call. At 100 TB this is what keeps the
    * staging prefix bounded: without it the sink's history grows without
    * limit even though every byte of it already lives in the index. */
  def vacuumAbsorbedBatches(spark: SparkSession, stagingDir: String,
      ledgerTable: String): Seq[Long] = {
    import spark.implicits._
    if (!spark.catalog.tableExists(ledgerTable)) return Seq.empty
    val staged = listStagedBatchIds(spark, stagingDir)
    if (staged.isEmpty) return Seq.empty
    // staged ∩ ledger via LEFT SEMI join — same driver-bound rule as
    // [[absorbStagedBatches]]: the ledger stays distributed, only ids that
    // are both staged AND absorbed (≤ staged-dir count) are collected
    val deletable = staged.toDF("batch_id")
      .join(spark.table(ledgerTable), Seq("batch_id"), "left_semi")
      .collect().map(_.getLong(0)).toSeq.sorted
    val root = new org.apache.hadoop.fs.Path(stagingDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    deletable.foreach(id =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$stagingDir/batch_id=$id"), true))
    deletable
  }

  /** Input record for sessionization. */
  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** A closed user session. */
  final case class Session(user_id: Long, start_ts: Timestamp, end_ts: Timestamp,
      n_events: Long, sum_value: Double)

  /** Session state buffer — public because the streaming state-store
    * encoder generates Java that must call its accessors (Janino cannot
    * see private classes); not part of the API surface. Bounds are kept as
    * Timestamps: a millisecond-long round trip would silently truncate the
    * corpus's microsecond precision. */
  final case class SessionBuf(start: Timestamp, last: Timestamp, n: Long, total: Double)

  /** Gap-based sessionizer: a user's session closes after `gapMs` of
    * event-time inactivity — on event-time timeout in streaming mode, or
    * at end-of-group in batch mode (batch sees complete data, so the open
    * session is final; this makes `sessionize(batchDs)` agree with
    * [[sessionizeBatch]]). A late-but-within-watermark event that precedes
    * the buffered session extends it backwards (min start); one that is
    * older than start-by-more-than-gap is emitted as its own closed
    * single-event session rather than silently absorbed.
    * Custom state machine via flatMapGroupsWithState — the Spark-native
    * replacement for the reference's "arbitrary user reduce code" surface
    * when the reduce needs ordering + state rather than a commutative
    * fold. */
  def sessionize(events: Dataset[Event], gapMs: Long = SessionGapMs): Dataset[Session] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming // captured by value — the Dataset itself must not leak into the closure

    def fold(userId: Long, it: Iterator[Event], state: GroupState[SessionBuf]): Iterator[Session] = {
      val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var buf = state.getOption.orNull
      val closed = Seq.newBuilder[Session]
      def flush(): Unit = if (buf != null) {
        closed += Session(userId, buf.start, buf.last, buf.n, buf.total)
        buf = null
      }
      def min(a: Timestamp, b: Timestamp) = if (a.before(b)) a else b
      def max(a: Timestamp, b: Timestamp) = if (a.after(b)) a else b
      for (e <- sorted) {
        if (buf == null) buf = SessionBuf(e.ts, e.ts, 1L, e.value)
        else if (e.ts.getTime - buf.last.getTime > gapMs) { // next session begins
          flush()
          buf = SessionBuf(e.ts, e.ts, 1L, e.value)
        } else if (buf.start.getTime - e.ts.getTime > gapMs) {
          // cross-batch late arrival predating the session by more than the
          // gap: its own (already closed) session
          closed += Session(userId, e.ts, e.ts, 1L, e.value)
        } else buf = SessionBuf(min(buf.start, e.ts), max(buf.last, e.ts),
          buf.n + 1, buf.total + e.value)
      }
      if (state.hasTimedOut) {
        flush() // streaming: event-time timeout fired
        state.remove()
      } else if (buf != null) {
        if (streaming) {
          state.update(buf)
          state.setTimeoutTimestamp(buf.last.getTime + gapMs)
        } else {
          flush() // batch: end of complete data closes the session
        }
      }
      closed.result().iterator
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fold)
  }

  /** Admission record of [[rateLimit]]. */
  final case class Admitted(event_id: Long, user_id: Long, ts: Timestamp,
      win_start: Timestamp)

  /** Rate-limit state — admitted count per (key, window); public for the
    * state-store encoder (same constraint as [[SessionBuf]]). */
  final case class AdmitCount(admitted: Long)

  /** Per-key windowed RATE LIMITING — ingestion quota enforcement ("at
    * most `n` events per user per hour"), the admission-control primitive
    * between a firehose and a pipeline. An event is admitted iff its
    * `(ts, event_id)` rank within its (user, hour-window) is ≤ `n` — a
    * deterministic, arrival-order-free rule, so batch mode equals the
    * window formula the oracle replays, and a stream fed in event-time
    * order (the MemoryStream parity spec) admits the identical set across
    * any micro-batch split: the admitted COUNT is the only state, carried
    * per (user, window) and evicted by event-time timeout after the
    * window passes the watermark.
    *
    * State size: one long per active (key, window) — bounded by the
    * watermark horizon, the same feasibility argument as [[dedupEvents]]. */
  def rateLimit(events: Dataset[Event], n: Int = 3,
      windowMs: Long = 3600000L): Dataset[Admitted] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming

    def fold(key: (Long, Long), it: Iterator[Event],
        state: GroupState[AdmitCount]): Iterator[Admitted] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      // Spark does NOT auto-drop late input for flatMapGroupsWithState:
      // an event arriving after the watermark passed its window's end
      // belongs to a window whose quota state already timed out and was
      // evicted. Admitting it would restart the count at 0 and re-admit
      // up to n events — silently EXCEEDING the per-window quota this
      // operator exists to enforce (a guard that skips only the state
      // write is too late: the admission loop has already emitted).
      // Drop the whole group BEFORE admission — the
      // dropDuplicates late-input semantics — which also avoids the
      // below-watermark setTimeoutTimestamp that would fail the query.
      if (streaming && key._2 + windowMs <= state.getCurrentWatermarkMs())
        return Iterator.empty
      val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      var c = state.getOption.map(_.admitted).getOrElse(0L)
      val out = Seq.newBuilder[Admitted]
      for (e <- sorted) if (c < n) {
        c += 1
        out += Admitted(e.event_id, key._1, e.ts, new Timestamp(key._2))
      }
      if (streaming) {
        state.update(AdmitCount(c))
        // the window can stop admitting once the watermark passes its end
        state.setTimeoutTimestamp(key._2 + windowMs)
      }
      out.result().iterator
    }

    events
      .withWatermark("ts", StateHorizon)
      .groupByKey(e =>
        (e.user_id, e.ts.getTime - java.lang.Math.floorMod(e.ts.getTime, windowMs)))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fold)
  }

  /** One LSH band of one document on the wire — the input record of
    * [[streamNearDupAdmitted]] (produce it with
    * [[graft.ops.Dedup.bandedMinHash]] plus an arrival timestamp). */
  final case class DocBand(doc_id: Long, ts: Timestamp, band_idx: Int, band_hash: String)

  /** Per-band admission verdict — public for the state-store encoder
    * (same constraint as [[SessionBuf]]). */
  final case class BandVerdict(doc_id: Long, ts: Timestamp, clean: Boolean)

  /** Streaming near-duplicate admission: a document is admitted iff none
    * of its LSH bands is claimed by an earlier (smaller-id) document —
    * the same greedy band-taint rule as [[graft.ops.Dedup.nearDupAdmit]],
    * whose batch formula ("d is the minimum owner of every band it
    * carries") this evaluates incrementally.
    *
    * Two stateful stages, both watermark-bounded:
    *  1. per-band claims (`flatMapGroupsWithState` keyed on the band):
    *     state is ONE long — the minimum doc_id that has claimed the band
    *     — TTL-evicted `ttlMs` of event time after its last arrival, so
    *     band state never outgrows the dedup horizon (the same bounded-
    *     state argument as [[dedupEvents]]);
    *  2. verdict combine (windowless keyed aggregation on (ts, doc_id)):
    *     a document is emitted once the watermark passes its timestamp,
    *     admitted iff ALL its band verdicts were clean.
    * Batch input runs the identical code (groups fold with empty state in
    * canonical doc_id order, the combine is a plain aggregation) and
    * equals [[graft.ops.Dedup.nearDupAdmit]] exactly, for any input; on a
    * stream, claims settle in ARRIVAL order, so stream/batch parity
    * additionally needs arrival order consistent with doc_id order within
    * the horizon — the semantics any first-wins streaming dedup has.
    *
    * NOTE: chaining flatMapGroupsWithState into an aggregation trips
    * Spark's STATIC multi-stateful-operator correctness check, which
    * assumes stage 1 may emit rows arbitrarily older than the watermark.
    * This operator cannot: every verdict carries its input row's own
    * timestamp, so a row accepted by stage 1 (within the allowed lateness)
    * is by construction equally within it for stage 2. The check fires
    * once, when the streaming query STARTS — so callers bypass it by
    * wrapping only the `start()` call in
    * [[withChainedStateGuardBypassed]], which restores the session's
    * prior setting before returning. Nothing is mutated at
    * DataFrame-construction time, and every other streaming query in the
    * session keeps the static guard (plus the runtime late-row drop
    * metrics, which always apply). */
  def streamNearDupAdmitted(bands: Dataset[DocBand], delay: String = StateHorizon,
      ttlMs: Long = 3600000L): DataFrame = {
    import bands.sparkSession.implicits._
    val streaming = bands.isStreaming

    def fold(key: (Int, String), it: Iterator[DocBand],
        state: GroupState[Long]): Iterator[BandVerdict] = {
      if (state.hasTimedOut) { state.remove(); Iterator.empty }
      else {
        // within-batch settle order: arrival (ts) order on a stream; pure
        // doc_id order in batch mode, where "arrival" is meaningless and
        // the canonical order is what makes parity with nearDupAdmit
        // unconditional (ts-inconsistent ids would otherwise flip verdicts)
        val sorted =
          if (streaming) it.toSeq.sortBy(b => (b.ts.getTime, b.doc_id))
          else it.toSeq.sortBy(_.doc_id)
        var owner = state.getOption.getOrElse(Long.MaxValue) // sentinel: unclaimed
        var lastTs = Long.MinValue
        val out = sorted.map { b =>
          val clean = owner > b.doc_id
          if (b.doc_id < owner) owner = b.doc_id
          lastTs = math.max(lastTs, b.ts.getTime)
          BandVerdict(b.doc_id, b.ts, clean)
        }
        if (streaming) {
          state.update(owner)
          state.setTimeoutTimestamp(lastTs + ttlMs)
        }
        out.iterator
      }
    }

    val verdicts = bands
      .withWatermark("ts", delay)
      .groupByKey(b => (b.band_idx, b.band_hash))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fold)
      .toDF()
    // the combine is itself a stateful append-mode aggregation, so the
    // event-time column is re-watermarked on the stage boundary
    val combined = if (streaming) verdicts.withWatermark("ts", delay) else verdicts
    combined
      .groupBy(col("ts"), col("doc_id"))
      .agg(min(when(col("clean"), 1L).otherwise(0L)).as("all_clean"))
      .filter(col("all_clean") === 1L)
      .select("doc_id", "ts")
  }

  /** Streaming benchmark DECONTAMINATION — admission control composed with
    * [[graft.ops.Dedup.contaminationStats]]'s cross-dataset rule: a
    * crawl document arriving on the stream is admitted iff the
    * fraction of its positional [[graft.ops.Dedup.SpanN]]-token spans
    * that occur anywhere in the static benchmark corpus stays <=
    * [[graft.ops.Dedup.MaxContamRatio]] (0 — the strict
    * any-overlap-disqualifies rule).
    *
    * `docs` needs (doc_id, ts, text); output is the admitted (doc_id, ts)
    * rows, emitted once the watermark passes their event time.
    *
    * Scale shape: the benchmark side reduces to its DISTINCT span-hash
    * set (eval suites are tiny next to a crawl — the stream-static join
    * broadcasts it); the stream side is a per-row span explode, a
    * stream-static left join, and ONE watermark-bounded keyed aggregation
    * on (ts, doc_id) — a single stateful operator, so unlike
    * [[streamNearDupAdmitted]] no correctness-guard bypass is involved.
    * A document's verdict depends only on its own text and the static
    * benchmark set, never on other stream rows, so arrival order cannot
    * flip it: batch input runs the identical plan and equals
    * [[graft.ops.Dedup.decontaminate]]'s surviving id set exactly
    * (StreamOpsSpec proves the MemoryStream parity). */
  def streamDecontaminated(docs: DataFrame, benchmark: DataFrame,
      delay: String = StateHorizon): DataFrame = {
    import graft.ops.Dedup
    val benchHashes = Dedup.positionalSpans(benchmark, Dedup.SpanN)
      .select("sh").distinct().withColumn("hit", lit(1L))
    val marked = Dedup.positionalSpans(docs, Dedup.SpanN, carry = Seq("ts"))
      .select(col("doc_id"), col("ts"), col("sh"))
      .join(benchHashes, Seq("sh"), "left")
    val wm = if (docs.isStreaming) marked.withWatermark("ts", delay) else marked
    wm.groupBy(col("ts"), col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contam"))
      // same division form as contaminationStats so threshold rounding
      // can never disagree with the batch rule
      .filter(col("n_contam").cast("double") / col("n_spans") <= lit(Dedup.MaxContamRatio))
      .select("doc_id", "ts")
  }

  /** Streaming FORGET enforcement — the admission-side half of a
    * takedown ([[graft.ops.Curation.forgetBatch]] removes a document
    * from the stored artifacts; this keeps it from coming BACK): an
    * arriving document is dropped when its id is on the tombstone list —
    * the re-crawl of a taken-down page, the robots/legal removal that
    * keeps resurfacing in the feed. Stream-static LEFT ANTI join against
    * the tombstone table (takedown lists are tiny next to a crawl — the
    * static side broadcasts); the verdict is per-row against static
    * state, so there is no state store, no watermark, and unconditional
    * stream/batch parity (StreamOpsSpec drives a MemoryStream and
    * compares row sets). Composes upstream of any admission chain —
    * the gate runs it over [[graft.ops.Curation.qualityGate]]'s
    * survivors. */
  def streamTombstoneFiltered(docs: DataFrame, tombstones: DataFrame): DataFrame =
    docs.join(broadcast(tombstones.select("doc_id").distinct()),
      Seq("doc_id"), "left_anti")

  /** Train-batch / serve-stream: score arriving documents under an
    * already-trained [[graft.ops.Classifier]] weight vector. The weights
    * are plain literals and the features are per-row expressions, so this
    * is a STATELESS streaming projection — no state store, no watermark,
    * unconditional stream/batch parity (StreamOpsSpec drives a
    * MemoryStream and compares against the batch scorer row-for-row).
    * This is the serving half of the learned curation filter: train on
    * yesterday's corpus, admit/score today's crawl as it arrives. */
  def streamQualityScored(docs: DataFrame, w: Seq[Long]): DataFrame =
    graft.ops.Classifier.scoredFrame(docs, w, carry = Seq("ts"))

  /** One CDC record on the wire — the input of [[streamSnapshotMerge]]
    * (the streaming twin of [[graft.ops.Snapshot.mergeSnapshot]]'s change
    * batch; `fp` is None for tombstones). Public for the state-store
    * encoder. */
  final case class DocChange(doc_id: Long, version: Int, op: String, fp: Option[Long])

  /** A document's current winning row — [[streamSnapshotMerge]]'s state
    * AND its output record. */
  final case class SnapshotRow(doc_id: Long, version: Int, op: String, fp: Option[Long])

  /** Streaming CDC apply: maintain the latest-version-wins snapshot
    * incrementally as change batches arrive, emitting a document's new
    * winning row whenever an arrival changes it (idempotent on replays —
    * re-delivering a row that doesn't win emits nothing). Exactly
    * [[graft.ops.Snapshot.mergeSnapshot]]'s rule evaluated one microbatch
    * at a time; StreamOpsSpec proves batch/stream parity.
    *
    * State here IS the snapshot (one row per live document), which is the
    * honest streaming shape of a MERGE: it grows with the corpus, not with
    * time, so there is no watermark/TTL to bound it — production offloads
    * exactly this state into a transactional table format (the
    * Delta/Iceberg MERGE) and keeps the state store for the in-flight
    * batch only. The mechanics — key-hash distribution, per-key argmax,
    * changed-rows-only emission — are identical. */
  def streamSnapshotMerge(changes: Dataset[DocChange]): Dataset[SnapshotRow] = {
    import changes.sparkSession.implicits._
    // the SAME total order as the batch side's max(struct(version, op, fp))
    // — version, then op ("upsert" > "delete"), then fp with None lowest —
    // so same-version conflicts resolve identically regardless of arrival
    // order (review finding: a strict version-only compare was
    // arrival-order-dependent on ties)
    val rowOrd: Ordering[SnapshotRow] =
      Ordering.by(r => (r.version, r.op, r.fp.isDefined, r.fp.getOrElse(0L)))
    def fold(id: Long, it: Iterator[DocChange],
        state: GroupState[SnapshotRow]): Iterator[SnapshotRow] = {
      val prior = state.getOption.orNull
      var best = prior
      for (c <- it) {
        val cand = SnapshotRow(id, c.version, c.op, c.fp)
        if (best == null || rowOrd.compare(cand, best) > 0) best = cand
      }
      if (best != null && best != prior) {
        state.update(best)
        Iterator.single(best)
      } else Iterator.empty
    }
    changes.groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fold)
  }

  /** Start a streaming query whose plan legitimately chains stateful
    * operators (e.g. [[streamNearDupAdmitted]]'s
    * flatMapGroupsWithState → aggregation) past Spark's static
    * multi-stateful-operator guard, WITHOUT leaving the session guard
    * disabled: the check runs once at query start, so the disable is
    * scoped to the `start` thunk and the prior session value is restored
    * before this returns — even if `start` throws. Every other streaming
    * query in the session (including ones started after this returns)
    * keeps the default static check. */
  def withChainedStateGuardBypassed[T](spark: SparkSession)(start: => T): T = {
    val key = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try start
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Batch-mode sessionization of the same semantics, for parity checks and
    * for running the sessionizer over historical data: gap-based windows by
    * cumulative sum of gap-break flags — pure declarative window functions,
    * no state API. */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // explicit ROWS frame: the default RANGE frame treats order-key ties as
    // peers, which would be partitioning-sensitive if event ids ever repeat
    val runningByUser = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tsMs = expr("unix_micros(ts) div 1000").as("ts_ms")
    events
      .select(col("user_id"), col("event_id"), col("ts"), col("value"), tsMs)
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > SessionGapMs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(runningByUser))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("ts")).as("start_ts"),
        max(col("ts")).as("end_ts"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(money)).cast("double").as("sum_value"))
      .select("user_id", "session_idx", "start_ts", "end_ts", "n_events", "sum_value")
      .orderBy("user_id", "session_idx")
  }

  /** [[sessionizeBatch]] through Spark's NATIVE `session_window` operator —
    * the declarative form of the same gap rule. The `session_window`
    * AGGREGATION half is what runs verbatim under `readStream` (stateful
    * session aggregation with watermark-driven eviction, no custom state
    * code); the trailing per-user `session_idx` assignment is a
    * `row_number()` window, which structured streaming does not support —
    * that half is batch-only, kept here so the output schema lines up with
    * [[sessionizeBatch]] for the shared oracle. Semantics note: the
    * two forms differ ONLY on an event landing exactly `gap` after its
    * predecessor — the window form's [start, start+gap) is end-exclusive
    * (new session), the cumulative form's `diff > gap` keeps it (same
    * session). The gate corpus has no exact-gap ties at any SF (checked),
    * and the shared oracle hash would surface one on any future regen
    * rather than letting the forms drift silently. */
  def sessionizeNative(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("start_ts"))
    events
      .select(col("user_id"), col("ts"), col("value"))
      .groupBy(col("user_id"), session_window(col("ts"), s"${SessionGapMs / 60000} minutes"))
      .agg(
        min(col("ts")).as("start_ts"),
        max(col("ts")).as("end_ts"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(money)).cast("double").as("sum_value"))
      .withColumn("session_idx", row_number().over(byUser).cast("long"))
      .select("user_id", "session_idx", "start_ts", "end_ts", "n_events", "sum_value")
      .orderBy("user_id", "session_idx")
  }

  /** Streaming anomaly admission — flag arriving metric rollups
    * `(event_type, day, x)` against the STORED baseline moments
    * ([[graft.ops.Relational.buildAnomalyBaseline]]): the monitor's
    * deployment form, where history is a trained artifact and today's
    * counts arrive on the wire. The baseline fold is types-count-sized
    * and broadcast; the verdict is a row-local exact-integer
    * cross-multiplication — a STATELESS stream-static join, so no state
    * store, no watermark, unconditional stream/batch parity
    * (StreamOpsSpec drives a MemoryStream against the batch twin). */
  def streamAnomalyFlagged(spark: org.apache.spark.sql.SparkSession,
      counts: DataFrame, baselineTable: String): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, baselineTable)
    val base = spark.table(baselineTable).groupBy("event_type")
      .agg(sum("n").as("n"), sum("s").as("s"), sum("q").as("q"))
    counts.join(broadcast(base), Seq("event_type"))
      .select(col("event_type"), col("day"), col("x").as("n_events"),
        ((col("n") * col("x") - col("s") > 0) &&
          (col("n") * col("x") - col("s")) * (col("n") * col("x") - col("s")) >
            lit(9L) * (col("n") * col("q") - col("s") * col("s")))
          .cast("int").as("is_spike"))
  }
}
