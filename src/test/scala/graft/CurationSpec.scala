package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.CrossHash
import graft.ops.{Curation, Dedup, SharedCorpus, Snapshot}
import graft.sources.{Formats, Tables}

/** The daily-batch composite: decision-table invariants, and the one
  * commit path (the streaming pipeline) — committed state equal to a
  * one-shot rebuild, failpoint-proven crash recovery, the foreign-writer
  * guard, retention, and no session-cache growth per micro-batch. */
class CurationSpec extends SparkTestBase {

  private def all = Tables.documents(spark, sfDir)

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def rows(t: String): Seq[String] =
    spark.table(t).collect().map(_.toString).toSeq.sorted

  private def dropTables(ts: String*): Unit =
    ts.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def dropIdx(ts: String*): Unit =
    ts.foreach(t => dropTables(t, t + "_sigs", t + "_meta"))

  /** The band-index manifest's corpus stamp `(corpus_n, corpus_fp)`. */
  private def metaStamp(t: String): (Long, Long) = {
    val r = spark.table(t + "_meta").select("corpus_n", "corpus_fp").head()
    (r.getLong(0), r.getLong(1))
  }

  /** The pre-stream base snapshot: every corpus doc at version 0. */
  private def writeSnap0(name: String): Unit = Formats.writeManaged(
    Snapshot.baseSnapshot(Curation.corpusOf(all))
      .select(col("doc_id"), col("version"), col("fp")), name)

  /** One `AvailableNow` run of the streaming pipeline over the staged
    * parquet files, to completion. */
  private def runStream(stage: String, band: String, ledger: String, s0: String,
      prefix: String, ckpt: String, tomb: Option[String] = None,
      filesPerTrigger: Option[Int] = None, retain: Option[Int] = None): Unit = {
    val src = spark.readStream.schema(docSchema)
    Curation.startStreamDailyPipeline(
      filesPerTrigger.fold(src)(n => src.option("maxFilesPerTrigger", n.toLong))
        .parquet(stage),
      Curation.benchOf(all), band, ledger, s0, prefix, ckpt, tomb, retain)
      .awaitTermination()
  }

  private def withBandIndex[T](table: String)(body: => T): T =
    try {
      Dedup.buildBandIndex(Curation.corpusOf(all), table)
      body
    } finally dropIdx(table)

  test("decision table: verdict conjunction and packing coordinates") {
    withBandIndex("graft_daily_spec") {
      val d = Curation.dailyBatch(spark, all, "graft_daily_spec").cache()
      // one row per batch doc, nothing else
      assert(d.count() === Curation.batchOf(all).count())
      // survived is exactly the conjunction of the five stage verdicts
      assert(d.filter(col("survived") =!= (col("q_ok") && col("lang_ok") &&
        col("rep_ok") && col("dedup_ok") && col("clean_ok"))).count() === 0)
      // packing coordinates present iff survived
      assert(d.filter(col("survived") && col("seq_id").isNull).count() === 0)
      assert(d.filter(!col("survived") && col("seq_id").isNotNull).count() === 0)
      // the packed survivors are exactly packGreedy over the survivor set
      val surv = Curation.batchOf(all)
        .join(d.filter(col("survived")).select("doc_id"), Seq("doc_id"), "left_semi")
      val expected = graft.ops.Packing.packGreedy(surv)
        .select("doc_id", "bucket", "seq_id", "seq_offset")
        .orderBy("doc_id").collect().toSeq
      val got = d.filter(col("survived"))
        .select("doc_id", "bucket", "seq_id", "seq_offset")
        .orderBy("doc_id").collect().toSeq
      assert(got === expected)
      // the funnel is non-trivial on the gate corpus: at least one doc
      // rejected at some stage and at least one survivor
      assert(d.filter(col("survived")).count() > 0)
      assert(d.filter(!col("survived")).count() > 0)
      d.unpersist()
    }
  }

  test("decision table identical under shared projection") {
    withBandIndex("graft_daily_spec2") {
      SharedCorpus.pin(spark, sfDir)
      try {
        val shared = SharedCorpus.withMode(true)(
          Curation.dailyBatch(spark, SharedCorpus.docsTok(spark, sfDir),
            "graft_daily_spec2").collect().toSeq)
        val raw = SharedCorpus.withMode(false)(
          Curation.dailyBatch(spark, all, "graft_daily_spec2").collect().toSeq)
        assert(shared === raw)
      } finally SharedCorpus.unpin(spark, sfDir)
    }
  }

  test("streaming daily pipeline: one-batch == batch composite; replay no-op; " +
      "failpoint recovery; multi-batch sequential semantics") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-sdaily").toString
    val batch = Curation.batchOf(all).select("doc_id", "text")
    val decCols = Seq("doc_id", "n_tokens", "q_ok", "lang_ok", "rep_ok",
      "dedup_ok", "clean_ok", "survived", "bucket", "seq_id", "seq_offset")
    def decRows(dir: String): Seq[String] =
      spark.read.parquet(dir).select(decCols.map(col): _*)
        .collect().map(_.toString).toSeq.sorted
    try {
      // ---- references: the batch composite's decision, and the ONE-SHOT
      // rebuild of the state its survivors commit — the band index built
      // over corpus ∪ survivors, the snapshot holding every corpus doc at
      // version 0 and every survivor at version 1
      Dedup.buildBandIndex(Curation.corpusOf(all), "graft_sd_refd")
      val refRows = Curation.dailyBatch(spark, all, "graft_sd_refd")
        .select(decCols.map(col): _*).collect()
      val refDecision = refRows.map(_.toString).toSeq.sorted
      val refSurv = batch.join(
        refRows.filter(_.getAs[Boolean]("survived"))
          .map(_.getAs[Long]("doc_id")).toSeq.toDF("doc_id"),
        Seq("doc_id"), "left_semi")
      assert(!refSurv.isEmpty, "the reference batch must commit survivors")
      Dedup.buildBandIndex(
        Curation.corpusOf(all).select("doc_id", "text").unionByName(refSurv),
        "graft_sd_ref")
      val refSnap = Snapshot.baseSnapshot(Curation.corpusOf(all))
        .select(col("doc_id"), col("version"), col("fp"))
        .unionByName(refSurv.select(col("doc_id"), lit(1).as("version"),
          CrossHash.h60(concat(lit("v1:"), col("text"))).as("fp")))
        .collect().map(_.toString).toSeq.sorted
      def assertCommitted(band: String, snap: String, why: String): Unit = {
        assert(rows(band) === rows("graft_sd_ref"), s"band rows: $why")
        assert(rows(band + "_sigs") === rows("graft_sd_ref_sigs"), s"sig rows: $why")
        assert(metaStamp(band) === metaStamp("graft_sd_ref"), s"manifest stamp: $why")
        assert(rows(snap) === refSnap, s"snapshot: $why")
      }

      // ---- streaming run, the day as ONE micro-batch --------------------
      batch.coalesce(1).write.parquet(s"$root/stage1")
      Dedup.buildBandIndex(Curation.corpusOf(all), "graft_sd_s1")
      writeSnap0("graft_sd_s1_snap0")
      runStream(s"$root/stage1", "graft_sd_s1", s"$root/led1",
        "graft_sd_s1_snap0", "graft_sd_s1s", s"$root/ck1")
      // decision ledger == the batch composite's decision table
      assert(decRows(s"$root/led1") === refDecision)
      assertCommitted("graft_sd_s1", "graft_sd_s1s_b0", "one batch == one-shot rebuild")
      assert(spark.table("graft_sd_s1s_ledger").count() === 1L)
      // same-checkpoint re-run: no new files, nothing changes
      runStream(s"$root/stage1", "graft_sd_s1", s"$root/led1",
        "graft_sd_s1_snap0", "graft_sd_s1s", s"$root/ck1")
      assert(spark.table("graft_sd_s1s_ledger").count() === 1L)
      // FRESH-checkpoint re-run = a forced at-least-once replay of batch 0:
      // the commit ledger makes it an exactly-once no-op (no double append)
      runStream(s"$root/stage1", "graft_sd_s1", s"$root/led1",
        "graft_sd_s1_snap0", "graft_sd_s1s", s"$root/ck1b")
      assertCommitted("graft_sd_s1", "graft_sd_s1s_b0",
        "a replayed batch must not re-append into the index")
      assert(spark.table("graft_sd_s1s_ledger").count() === 1L)

      // ---- failpoint: crash after the snapshot write, before the commit
      // ledger row — recovery replays the batch, REUSES the published
      // decision (a recompute would see the batch's own survivors in the
      // appended index and flag each a self-dup), detects the completed
      // index append by its manifest stamp, and lands bit-identical to the
      // one-shot rebuild
      Dedup.buildBandIndex(Curation.corpusOf(all), "graft_sd_fp")
      writeSnap0("graft_sd_fp_snap0")
      Formats.failpoint = "sdaily.after_snapshot"
      intercept[StreamingQueryException] {
        runStream(s"$root/stage1", "graft_sd_fp", s"$root/ledfp",
          "graft_sd_fp_snap0", "graft_sd_fps", s"$root/ckfp")
      }
      Formats.failpoint = ""
      assert(!spark.catalog.tableExists("graft_sd_fps_ledger"),
        "nothing commit-ledgered before the crash point")
      runStream(s"$root/stage1", "graft_sd_fp", s"$root/ledfp",
        "graft_sd_fp_snap0", "graft_sd_fps", s"$root/ckfp")
      assert(decRows(s"$root/ledfp") === refDecision,
        "recovered decision must be the published one, not a post-append recompute")
      assertCommitted("graft_sd_fp", "graft_sd_fps_b0",
        "crash-after-snapshot recovery, no double append or fold")
      assert(spark.table("graft_sd_fps_ledger").count() === 1L)

      // ---- failpoint: crash AFTER the index append, before the snapshot —
      // recovery must DETECT the completed append through the pre-append
      // stamp marker and skip it; a blind re-append would duplicate band/sig rows
      // and double-fold the manifest (xor fp cancels, n double-counts)
      // while the commit ledger then vouched for the corrupted index
      Dedup.buildBandIndex(Curation.corpusOf(all), "graft_sd_f2")
      writeSnap0("graft_sd_f2_snap0")
      Formats.failpoint = "sdaily.after_index_append"
      intercept[StreamingQueryException] {
        runStream(s"$root/stage1", "graft_sd_f2", s"$root/ledf2",
          "graft_sd_f2_snap0", "graft_sd_f2s", s"$root/ckf2")
      }
      Formats.failpoint = ""
      assert(metaStamp("graft_sd_f2") === metaStamp("graft_sd_ref"),
        "the append's meta fold ran before the crash point")
      assert(!spark.catalog.tableExists("graft_sd_f2s_b0"),
        "no snapshot written before the crash point")
      val (preN, preFp) = metaStamp("graft_sd_refd")
      assert(new java.io.File(s"$root/ledf2/batch_id=0").list().toSeq
        .filter(_.startsWith("_idxpre_")) === Seq(s"_idxpre_${preN}_$preFp"),
        "the pre-append stamp must be durable before the append runs")
      runStream(s"$root/stage1", "graft_sd_f2", s"$root/ledf2",
        "graft_sd_f2_snap0", "graft_sd_f2s", s"$root/ckf2")
      assertCommitted("graft_sd_f2", "graft_sd_f2s_b0",
        "crash-after-append recovery, no double append or fold")
      assert(spark.table("graft_sd_f2s_ledger").count() === 1L)

      // ---- takedown absorption: forget a document, then
      // re-deliver it in a later batch — it must be rejected BEFORE the
      // decision and reach neither the band index nor a snapshot
      Dedup.buildBandIndex(Curation.corpusOf(all), "graft_sd_t")
      writeSnap0("graft_sd_t_snap0")
      val victim = Curation.corpusOf(all).select("doc_id")
        .orderBy("doc_id").limit(1)
      val victimId = victim.head().getLong(0)
      Curation.forgetBatch(spark, victim, "graft_sd_t",
        "graft_sd_t_snap0", "graft_sd_t_snap0f")
      Formats.writeManaged(victim, "graft_sd_t_tomb")
      // today's crawl re-delivers the taken-down page alongside the batch
      batch.unionByName(Curation.corpusOf(all)
          .filter(col("doc_id") === victimId).select("doc_id", "text"))
        .coalesce(1).write.parquet(s"$root/staget")
      runStream(s"$root/staget", "graft_sd_t", s"$root/ledt",
        "graft_sd_t_snap0f", "graft_sd_ts", s"$root/ckt",
        tomb = Some("graft_sd_t_tomb"))
      assert(spark.table("graft_sd_t_sigs")
        .filter(col("doc_id") === victimId).isEmpty,
        "a tombstoned doc must never re-enter the band index")
      assert(spark.read.parquet(s"$root/ledt")
        .filter(col("doc_id") === victimId).isEmpty,
        "a tombstoned doc must be dropped before the decision ledger")
      assert(spark.table("graft_sd_ts_b0")
        .filter(col("doc_id") === victimId).isEmpty,
        "a tombstoned doc must never reach a snapshot")
      assert(spark.table("graft_sd_ts_ledger").count() === 1L,
        "the rest of the batch must commit normally")

      // ---- multi-batch: arrivals decided against the index AS OF prior
      // commits (sequential daily semantics) ------------------------------
      val b1 = batch.filter(col("doc_id") % 8 === 1)
      val b2 = batch.filter(col("doc_id") % 8 =!= 1)
      Dedup.buildBandIndex(Curation.corpusOf(all), "graft_sd_m")
      writeSnap0("graft_sd_m_snap0")
      b1.coalesce(1).write.parquet(s"$root/stagem")
      runStream(s"$root/stagem", "graft_sd_m", s"$root/ledm",
        "graft_sd_m_snap0", "graft_sd_ms", s"$root/ckm")
      val s1Surv = spark.read.parquet(s"$root/ledm/batch_id=0")
        .filter(col("survived")).select("doc_id")
      b2.coalesce(1).write.mode("append").parquet(s"$root/stagem")
      runStream(s"$root/stagem", "graft_sd_m", s"$root/ledm",
        "graft_sd_m_snap0", "graft_sd_ms", s"$root/ckm")
      assert(spark.table("graft_sd_ms_ledger").count() === 2L)
      // batch 1's decision == decideBatch against corpus ∪ batch-0 survivors
      Dedup.buildBandIndex(
        Curation.corpusOf(all).select("doc_id", "text")
          .unionByName(b1.join(s1Surv, Seq("doc_id"), "left_semi")),
        "graft_sd_m_ref")
      val refB2 = Curation.decideBatch(spark, b2, Curation.benchOf(all), "graft_sd_m_ref")
        .select(decCols.map(col): _*).collect().map(_.toString).toSeq.sorted
      assert(spark.read.parquet(s"$root/ledm/batch_id=1")
        .select(decCols.map(col): _*).collect().map(_.toString).toSeq.sorted
        === refB2)
      // snapshot chain: _b1 holds version-1 rows for BOTH batches' survivors
      val s2Surv = spark.read.parquet(s"$root/ledm/batch_id=1")
        .filter(col("survived")).select("doc_id")
      assert(spark.table("graft_sd_ms_b1").filter(col("version") === 1).count()
        === s1Surv.count() + s2Surv.count())
    } finally {
      Formats.failpoint = ""
      dropIdx("graft_sd_refd", "graft_sd_ref", "graft_sd_s1", "graft_sd_fp",
        "graft_sd_f2", "graft_sd_t", "graft_sd_m", "graft_sd_m_ref")
      dropTables(
        "graft_sd_s1_snap0", "graft_sd_s1s_b0", "graft_sd_s1s_ledger",
        "graft_sd_fp_snap0", "graft_sd_fps_b0", "graft_sd_fps_ledger",
        "graft_sd_f2_snap0", "graft_sd_f2s_b0", "graft_sd_f2s_ledger",
        "graft_sd_t_snap0", "graft_sd_t_snap0f", "graft_sd_t_tomb",
        "graft_sd_ts_b0", "graft_sd_ts_ledger",
        "graft_sd_m_snap0", "graft_sd_ms_b0", "graft_sd_ms_b1",
        "graft_sd_ms_ledger")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("a foreign append in the index-append crash window fails the replay " +
      "loudly and leaves the band index untouched") {
    val root = java.nio.file.Files.createTempDirectory("graft-sdfw").toString
    try {
      Curation.batchOf(all).select("doc_id", "text")
        .coalesce(1).write.parquet(s"$root/stage")
      Dedup.buildBandIndex(Curation.corpusOf(all), "graft_sd_fw")
      writeSnap0("graft_sd_fw_snap0")
      def run(): Unit = runStream(s"$root/stage", "graft_sd_fw", s"$root/led",
        "graft_sd_fw_snap0", "graft_sd_fws", s"$root/ck")
      Formats.failpoint = "sdaily.after_index_append"
      intercept[StreamingQueryException](run())
      Formats.failpoint = ""
      // a second writer appends a doc-disjoint batch (ids no corpus or
      // batch doc carries) inside the crash window: the manifest stamp now
      // matches neither the marker's pre-append stamp nor its fold
      Dedup.appendToBandIndex(Curation.corpusOf(all).select("doc_id", "text")
        .orderBy("doc_id").limit(5)
        .withColumn("doc_id", col("doc_id") + 1000000000L), "graft_sd_fw")
      val bandsBefore = rows("graft_sd_fw")
      val sigsBefore = rows("graft_sd_fw_sigs")
      val ex = intercept[StreamingQueryException](run())
      assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("matches neither")),
        ex.getMessage)
      assert(rows("graft_sd_fw") === bandsBefore, "the replay must not append")
      assert(rows("graft_sd_fw_sigs") === sigsBefore, "the replay must not append")
      assert(!spark.catalog.tableExists("graft_sd_fws_ledger"),
        "a refused replay commits nothing")
    } finally {
      Formats.failpoint = ""
      dropIdx("graft_sd_fw")
      dropTables("graft_sd_fw_snap0", "graft_sd_fws_b0", "graft_sd_fws_ledger")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("streamed micro-batches leave no session-cache entries behind") {
    val root = java.nio.file.Files.createTempDirectory("graft-sdcache").toString
    val nBatches = 3
    try {
      val batch = Curation.batchOf(all).select("doc_id", "text")
      (0 until nBatches).foreach { i =>
        batch.filter(col("doc_id") % nBatches === i)
          .coalesce(1).write.mode("append").parquet(s"$root/stage")
      }
      Dedup.buildBandIndex(Curation.corpusOf(all), "graft_sd_c")
      writeSnap0("graft_sd_c_snap0")
      spark.catalog.clearCache()
      runStream(s"$root/stage", "graft_sd_c", s"$root/led", "graft_sd_c_snap0",
        "graft_sd_cs", s"$root/ck", filesPerTrigger = Some(1))
      assert(spark.table("graft_sd_cs_ledger").count() === nBatches.toLong)
      assert(spark.sharedState.cacheManager.isEmpty,
        "a micro-batch must not leave cached plans in the session")
    } finally {
      dropIdx("graft_sd_c")
      dropTables("graft_sd_c_snap0", "graft_sd_cs_ledger")
      dropTables((0 until nBatches).map(i => s"graft_sd_cs_b$i"): _*)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("the Bloom-decontaminated daily batch leaves no session-cache entries behind") {
    withBandIndex("graft_daily_bloom_cache") {
      spark.catalog.clearCache()
      Curation.dailyBatch(spark, all, "graft_daily_bloom_cache", bloomDecontam = true)
        .collect()
      assert(spark.sharedState.cacheManager.isEmpty,
        "contaminationStatsBloom must not leave cached plans in the session")
    }
  }

  test("retention: 8 micro-batches keep bounded artifacts, equal the " +
      "unretained final state, and a post-retention replay is exactly-once") {
    val root = java.nio.file.Files.createTempDirectory("graft-sret").toString
    val batch = Curation.batchOf(all).select("doc_id", "text")
    val nBatches = 8
    val keep = 3
    def runDays(band: String, snap0: String, prefix: String, ckpt: String,
        retain: Option[Int]): Unit =
      runStream(s"$root/stage", band, s"$root/led_$prefix", snap0, prefix,
        s"$root/$ckpt", filesPerTrigger = Some(1), retain = retain)
    def snapTables(prefix: String): Seq[String] =
      spark.catalog.listTables().collect().map(_.name).toSeq
        .filter(_.matches(java.util.regex.Pattern.quote(prefix) + "_b\\d+"))
    try {
      // one file per day: maxFilesPerTrigger=1 turns them into 8
      // sequential micro-batches; batch docs all have doc_id % 4 == 1, so
      // only slices 1 and 5 hold documents and the empty-batch path
      // rides along
      (0 until nBatches).foreach { i =>
        batch.filter(col("doc_id") % nBatches === i)
          .coalesce(1).write.mode("append").parquet(s"$root/stage")
      }
      Dedup.buildBandIndex(Curation.corpusOf(all), "graft_sr_s")
      writeSnap0("graft_sr_s_snap0")
      runDays("graft_sr_s", "graft_sr_s_snap0", "graft_sr_s_p", "cks", Some(keep))
      // bounded: keep-last-K snapshots and a watermark-row ledger —
      // regardless of more than K batches having run
      assert(snapTables("graft_sr_s_p").sorted ===
        (nBatches - keep until nBatches).map(n => s"graft_sr_s_p_b$n"),
        "exactly the newest K snapshots survive retention")
      assert(spark.table("graft_sr_s_p_ledger").count() === 1,
        "commit ledger folds to its watermark row")
      val wm = spark.table("graft_sr_s_p_ledger").head()
      assert(wm.getLong(0) === (nBatches - 1).toLong &&
        wm.getString(1) === s"graft_sr_s_p_b${nBatches - 1}")
      // the retained run's final state equals an UNRETAINED twin's over
      // the same staged files — retention must never change what the
      // pipeline computes, only what it keeps
      Dedup.buildBandIndex(Curation.corpusOf(all), "graft_sr_u")
      writeSnap0("graft_sr_u_snap0")
      runDays("graft_sr_u", "graft_sr_u_snap0", "graft_sr_u_p", "cku", None)
      assert(spark.table("graft_sr_u_p_ledger").count() === nBatches.toLong,
        "the unretained twin keeps every ledger row")
      assert(rows(s"graft_sr_s_p_b${nBatches - 1}") ===
        rows(s"graft_sr_u_p_b${nBatches - 1}"),
        "final snapshot is bit-identical with and without retention")
      assert(rows("graft_sr_s") === rows("graft_sr_u"))
      assert(rows("graft_sr_s_sigs") === rows("graft_sr_u_sigs"))
      // post-retention replay from a FRESH checkpoint: all 8 batches
      // re-delivered, every one recognized as committed through the
      // WATERMARK row — exactly-once end state, artifacts still bounded
      val bandBefore = rows("graft_sr_s")
      runDays("graft_sr_s", "graft_sr_s_snap0", "graft_sr_s_p", "cks2", Some(keep))
      assert(rows("graft_sr_s") === bandBefore,
        "a replayed batch must not re-append through a folded ledger")
      assert(spark.table("graft_sr_s_p_ledger").count() === 1)
      assert(snapTables("graft_sr_s_p").length === keep)
      // decision-ledger FOLD: the yearly compaction that bounds the
      // ledger-root listing — every audit row must survive byte-for-byte
      // through any fold sequence
      val ledDir = s"$root/led_graft_sr_s_p"
      val decTable = "graft_sr_s_dec"
      def audit(): Seq[String] =
        Curation.readDecisionLedger(spark, ledDir, decTable)
          .collect().map(_.toString).toSeq.sorted
      val auditBefore = audit()
      assert(auditBefore.nonEmpty)
      val commitLed = "graft_sr_s_p_ledger"
      // two-step fold: the resume-after-partial-pass shape
      assert(Curation.compactDecisionLedger(spark, ledDir, decTable, 3L,
        commitLed) > 0L)
      assert(audit() === auditBefore, "audit rows must survive a partial fold")
      // the commit-watermark cap is ENFORCED, not a caller convention: a
      // published-but-uncommitted dir past the watermark — the
      // decide-then-crash window — must survive every fold for the crash
      // replay to reuse, however large upToBatchId is
      val orphanId = nBatches + 79
      spark.table(decTable).filter(col("batch_id") === 1L).drop("batch_id")
        .write.mode("overwrite").parquet(s"$ledDir/batch_id=$orphanId")
      Curation.compactDecisionLedger(spark, ledDir, decTable,
        Long.MaxValue, commitLed)
      val ledFs0 = new org.apache.hadoop.fs.Path(ledDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(ledFs0.exists(
        new org.apache.hadoop.fs.Path(s"$ledDir/batch_id=$orphanId")),
        "an uncommitted batch's published decision dir must never fold")
      ledFs0.delete(new org.apache.hadoop.fs.Path(s"$ledDir/batch_id=$orphanId"),
        true)
      Curation.compactDecisionLedger(spark, ledDir, decTable,
        (nBatches - 1).toLong, commitLed)
      assert(audit() === auditBefore,
        "audit rows must survive the full fold byte-for-byte")
      // the live listing is now bounded: every committed dir folded away
      val ledFs = new org.apache.hadoop.fs.Path(ledDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!ledFs.listStatus(new org.apache.hadoop.fs.Path(ledDir))
        .exists(_.getPath.getName.startsWith("batch_id=")),
        "all committed batch dirs folded out of the listing")
      // idempotent: re-running folds nothing and changes nothing
      assert(Curation.compactDecisionLedger(spark, ledDir, decTable,
        (nBatches - 1).toLong, commitLed) === 0L)
      assert(audit() === auditBefore)
      // post-append pre-delete crash window: a batch already fully in the
      // table whose source dir reappears is deleted, never duplicated
      spark.table(decTable).filter(col("batch_id") === 5L).drop("batch_id")
        .write.mode("overwrite").parquet(s"$ledDir/batch_id=5")
      assert(Curation.compactDecisionLedger(spark, ledDir, decTable,
        (nBatches - 1).toLong, commitLed) === 1L)
      assert(audit() === auditBefore,
        "re-presenting a folded batch's dir must not duplicate audit rows")
    } finally {
      dropIdx("graft_sr_s", "graft_sr_u")
      dropTables("graft_sr_s_dec", "graft_sr_s_snap0", "graft_sr_u_snap0",
        "graft_sr_s_p_ledger", "graft_sr_u_p_ledger")
      dropTables(snapTables("graft_sr_s_p") ++ snapTables("graft_sr_u_p"): _*)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("one streamed micro-batch stays within its Spark job and SQL execution budget") {
    val root = java.nio.file.Files.createTempDirectory("graft-sdbudget").toString
    val batch = Curation.batchOf(all).select("doc_id", "text")
    // counts every job of micro-batch 1 and every SQL execution started
    // while its run is under way; a marker job drains the (FIFO) bus
    final class Counter extends org.apache.spark.scheduler.SparkListener {
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val sqls = new java.util.concurrent.atomic.AtomicInteger()
      @volatile var marked = false
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty("streaming.sql.batchId") == "1")) jobs.incrementAndGet()
        if (p.exists(_.getProperty("spark.jobGroup.id") == "graft-budget-marker")) marked = true
      }
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          sqls.incrementAndGet()
        case _ =>
      }
    }
    val counter = new Counter
    try {
      Dedup.buildBandIndex(Curation.corpusOf(all), "graft_sd_bud")
      writeSnap0("graft_sd_bud_snap0")
      def day(i: Int): Unit = {
        batch.filter(col("doc_id") % 2 === i).coalesce(1)
          .write.mode("append").parquet(s"$root/stage")
        runStream(s"$root/stage", "graft_sd_bud", s"$root/led", "graft_sd_bud_snap0",
          "graft_sd_buds", s"$root/ck", retain = Some(1))
      }
      day(0) // batch 0 creates the ledgers; batch 1 is the steady state
      spark.sparkContext.addSparkListener(counter)
      day(1)
      spark.sparkContext.setJobGroup("graft-budget-marker", "drain")
      try spark.sparkContext.parallelize(Seq(1)).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!counter.marked && System.nanoTime() < deadline) Thread.sleep(10)
      assert(counter.marked, "listener bus did not drain")
      assert(spark.table("graft_sd_buds_ledger").head().getLong(0) === 1L)
      // measured on this suite's corpus (local[4]): 34 Spark jobs and 36
      // SQL executions
      assert(counter.jobs.get <= 34 && counter.sqls.get <= 36,
        s"${counter.jobs.get} Spark jobs and ${counter.sqls.get} SQL executions in one micro-batch")
    } finally {
      spark.sparkContext.removeSparkListener(counter)
      dropIdx("graft_sd_bud")
      dropTables("graft_sd_bud_snap0", "graft_sd_buds_ledger",
        "graft_sd_buds_b0", "graft_sd_buds_b1")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
  }

  test("a configured-but-missing tombstone table fails loudly (no silent no-op)") {
    // a typo'd takedown-list name must never degrade the
    // compliance path to "admit everything" — configured means enforced
    val ex = intercept[IllegalArgumentException] {
      Curation.commitStreamDailyBatch(spark,
        Curation.batchOf(all).select("doc_id", "text"), 0L,
        Dedup.benchSpanHashes(Curation.benchOf(all)), "graft_sr_nonexistent_band",
        "/tmp/graft-sr-noled", "graft_sr_nosnap", "graft_sr_noprefix",
        tombstones = Some("graft_sr_no_such_tombstone_table"))
    }
    assert(ex.getMessage.contains("tombstone table"), ex.getMessage)
  }

  test("corpusReport reconciles with its component operators exactly") {
    val r = Curation.corpusReport(all).collect().head
    assert(r.getLong(0) === all.count())
    assert(r.getLong(1) === Dedup.exactDedup(all).count())
    val spans = Dedup.duplicateSpans(all).cache()
    assert(r.getLong(2) === spans.filter(col("n_dup_spans") > 0).count())
    val (dup, tot) = (spans.agg(sum("n_dup_spans")).first().getLong(0),
      spans.agg(sum("n_spans")).first().getLong(0))
    assert(r.getDouble(3) === dup.toDouble / tot)
    assert(r.getLong(4) === Curation.qualityGate(all).count())
  }

  test("canonicalizeUrl: every normalization branch, idempotent, non-URL-noise preserved") {
    import spark.implicits._
    val cases = Seq(
      // host case + www + default port + utm + fragment, all at once
      ("HTTPS://WWW.Example.COM:443/Path/One?utm_source=x&id=7#frag",
        "https://example.com/Path/One?id=7"),
      // http default port; utm at the end leaves no dangling separator
      ("http://Blog.Site.org:80/a?id=1&utm_campaign=yy",
        "http://blog.site.org/a?id=1"),
      // all params are tracking -> the bare '?' goes too
      ("https://a.b.c.net/x?utm_source=1&utm_medium=2",
        "https://a.b.c.net/x"),
      // nothing to normalize -> unchanged (path case preserved per RFC)
      ("https://example.com/CaseSensitive/Path?id=2",
        "https://example.com/CaseSensitive/Path?id=2"),
      // non-default port survives
      ("https://example.com:8443/x", "https://example.com:8443/x"),
      // a param NAME containing utm_ is not a tracking param
      ("https://example.com/x?xutm_a=1&id=2",
        "https://example.com/x?xutm_a=1&id=2"),
      // consecutive utm params both stripped (the unanchored
      // single-pass regex skipped the second — replaceAll resumes AFTER
      // each replacement)
      ("https://example.com/x?utm_a=1&utm_b=2&id=3",
        "https://example.com/x?id=3"),
      // default-port drop is scheme-aware — :443 on http and
      // :80 on https are NOT default ports and survive
      ("http://example.com:443/x", "http://example.com:443/x"),
      ("https://example.com:80/x", "https://example.com:80/x"),
      ("http://example.com:80/x", "http://example.com/x"))
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), Curation.canonicalizeUrl(col("url")).as("canon"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) => assert(got(in) === want, s"for $in") }
    // idempotence: canonicalizing a canonical URL is the identity
    val twice = cases.map(_._2).toDF("url")
      .select(col("url"), Curation.canonicalizeUrl(col("url")).as("canon"))
      .filter(col("url") =!= col("canon"))
    assert(twice.count() === 0, "canonicalization must be idempotent")
    // registrable domain: last two host labels, port/path never leak in
    val doms = Seq("https://a.b.news-site.co/x", "https://example.com:8443/y")
      .toDF("url").select(Curation.registrableDomain(col("url")))
      .collect().map(_.getString(0))
    assert(doms.toSeq === Seq("news-site.co", "example.com"))
  }

  test("domainCap keeps exactly the hash-rank prefix per domain") {
    import spark.implicits._
    // 30 docs on one domain, 3 on another; cap at 10
    val docs = (1L to 33L).map { i =>
      val host = if (i <= 30) "big.example.com" else "tiny.other.org"
      (i, s"https://$host/p/$i")
    }.toDF("doc_id", "url")
    val out = Curation.domainCap(docs, col("url"), 10).cache()
    val byDom = out.groupBy("domain").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDom === Map("example.com" -> 10L, "other.org" -> 3L))
    assert(out.filter(col("rnk") > 10).count() === 0)
    // the kept set is the deterministic hash-rank prefix: re-running on a
    // resharded frame keeps the identical documents
    val again = Curation.domainCap(docs.repartition(5), col("url"), 10)
    assert(out.exceptAll(again).count() === 0 && again.exceptAll(out).count() === 0)
  }
}
