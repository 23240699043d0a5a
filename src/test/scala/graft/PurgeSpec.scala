package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.sources.{Formats, Tables}

/** Delete propagation ("right to be forgotten") across the stored index
  * families: a physical purge must leave the index — data tables, side
  * tables, stats, AND build manifest — exactly as a rebuild from the
  * filtered corpus would, must tolerate over-broad and re-issued forget
  * requests, and must inherit the ping-pong rewrite's crash contract. */
class PurgeSpec extends SparkTestBase {

  private def docs = Tables.documents(spark, sfDir)

  private def drop(ts: String*): Unit =
    ts.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def stamp(table: String): (Long, Long) = {
    val (n, fp, _, _) = Formats.readBuildMeta(spark, table).get
    (n, fp)
  }

  /** The purged family's stamp still equals a recount of its stored ids. */
  private def auditClean(table: String): Unit = {
    val r = Formats.stampAudit(spark, table).head()
    assert(r.getBoolean(5) && r.getBoolean(6), s"stamp audit of '$table' after purge: $r")
  }

  test("band-index purge equals rebuild from the filtered corpus (tables + manifest + probe)") {
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val forget = corpus.filter(col("doc_id") % 7 === 3).select("doc_id")
    val kept = corpus.filter(col("doc_id") % 7 =!= 3)
    assert(forget.count() > 0, "the forget set must be non-empty")
    try {
      Dedup.buildBandIndex(corpus, "graft_prg_band")
      Dedup.purgeFromBandIndex(spark, "graft_prg_band", forget)
      Dedup.buildBandIndex(kept, "graft_prg_band_ref")
      assert(spark.table("graft_prg_band").collect().toSet ===
        spark.table("graft_prg_band_ref").collect().toSet,
        "purged band rows must equal the filtered rebuild's")
      assert(spark.table("graft_prg_band_sigs").collect().toSet ===
        spark.table("graft_prg_band_ref_sigs").collect().toSet,
        "purged signature rows must equal the filtered rebuild's")
      // manifest: the xor fold lands on exactly the filtered corpus stamp,
      // so the deep staleness check vouches for the filtered corpus
      assert(stamp("graft_prg_band") === stamp("graft_prg_band_ref"))
      assert(!Formats.isStaleFor(spark, "graft_prg_band", kept, "doc_id"))
      assert(Formats.isStaleFor(spark, "graft_prg_band", corpus, "doc_id"),
        "the purged index must no longer vouch for the unfiltered corpus")
      auditClean("graft_prg_band")
      // probe parity with the fresh path over the filtered corpus
      val batch = docs.filter(col("doc_id") % 3 === 0)
      assert(Dedup.nearDupPairsIndexed(spark, "graft_prg_band", batch)
        .collect().map(_.toString).sorted.toSeq ===
        Dedup.crossCorpusNearDups(kept, batch).collect().map(_.toString).sorted.toSeq)
      // idempotence + over-broad safety: re-purging ids already gone and
      // purging never-indexed ids both leave data and stamp untouched
      import spark.implicits._
      Dedup.purgeFromBandIndex(spark, "graft_prg_band", forget)
      Dedup.purgeFromBandIndex(spark, "graft_prg_band", Seq(-1L, -2L).toDF("doc_id"))
      assert(stamp("graft_prg_band") === stamp("graft_prg_band_ref"))
      assert(spark.table("graft_prg_band").count() ===
        spark.table("graft_prg_band_ref").count())
    } finally drop("graft_prg_band", "graft_prg_band_sigs", "graft_prg_band_meta",
      "graft_prg_band_ref", "graft_prg_band_ref_sigs", "graft_prg_band_ref_meta")
  }

  test("bm25 purge equals rebuild: postings, stats, manifest, and every score") {
    val forget = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
    val kept = docs.filter(col("doc_id") % 7 =!= 3)
    val terms = Seq("spark", "window", "join")
    try {
      TextAnalysis.buildBm25Index(docs, "graft_prg_bm25")
      TextAnalysis.purgeFromBm25Index(spark, "graft_prg_bm25", forget)
      TextAnalysis.buildBm25Index(kept, "graft_prg_bm25_ref")
      assert(spark.table("graft_prg_bm25").collect().toSet ===
        spark.table("graft_prg_bm25_ref").collect().toSet,
        "purged postings must equal the filtered rebuild's")
      // the decremented stats row equals the rebuild's exact aggregate —
      // N and avgdl shift, so every surviving document's score shifts too
      val p = spark.table("graft_prg_bm25_stats").collect()(0)
      val r = spark.table("graft_prg_bm25_ref_stats").collect()(0)
      assert((p.getLong(0), p.getLong(1)) === ((r.getLong(0), r.getLong(1))),
        "stats must decrement by exact integer subtraction")
      assert(stamp("graft_prg_bm25") === stamp("graft_prg_bm25_ref"))
      auditClean("graft_prg_bm25")
      assert(TextAnalysis.bm25SearchIndexed(spark, "graft_prg_bm25", terms)
        .collect().map(_.toString).sorted.toSeq ===
        TextAnalysis.bm25Search(kept, terms).collect().map(_.toString).sorted.toSeq,
        "purged index must score exactly like the filtered corpus")
    } finally drop("graft_prg_bm25", "graft_prg_bm25_stats", "graft_prg_bm25_meta",
      "graft_prg_bm25_ref", "graft_prg_bm25_ref_stats", "graft_prg_bm25_ref_meta")
  }

  test("phash purge equals rebuild; no image is re-decoded on the purge path") {
    val blobs = Multimodal.synthesizePng(docs).cache()
    val corpus = blobs.filter(col("doc_id") % 3 =!= 0)
    val forget = corpus.filter(col("doc_id") % 7 === 3).select("doc_id")
    val kept = corpus.filter(col("doc_id") % 7 =!= 3)
    try {
      Multimodal.buildPhashIndex(corpus, "graft_prg_ph")
      Multimodal.purgeFromPhashIndex(spark, "graft_prg_ph", forget)
      Multimodal.buildPhashIndex(kept, "graft_prg_ph_ref")
      assert(spark.table("graft_prg_ph").collect().toSet ===
        spark.table("graft_prg_ph_ref").collect().toSet)
      assert(spark.table("graft_prg_ph_codes").collect().toSet ===
        spark.table("graft_prg_ph_ref_codes").collect().toSet)
      assert(stamp("graft_prg_ph") === stamp("graft_prg_ph_ref"))
      auditClean("graft_prg_ph")
      val batch = blobs.filter(col("doc_id") % 3 === 0)
      assert(Multimodal.phashPairsIndexed(spark, "graft_prg_ph", batch)
        .collect().map(_.toString).sorted.toSeq ===
        Multimodal.phashPairsIndexed(spark, "graft_prg_ph_ref", batch)
        .collect().map(_.toString).sorted.toSeq)
    } finally {
      blobs.unpersist()
      drop("graft_prg_ph", "graft_prg_ph_codes", "graft_prg_ph_meta",
        "graft_prg_ph_ref", "graft_prg_ph_ref_codes", "graft_prg_ph_ref_meta")
    }
  }

  test("LSH purge equals rebuild from surviving vectors (stateless family)") {
    val emb = Tables.embeddings(spark, sfDir)
    val forget = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
    val kept = emb.filter(col("vec_id") % 7 =!= 3)
    try {
      Similarity.buildLshIndex(emb, "graft_prg_lsh")
      Similarity.purgeFromLshIndex(spark, "graft_prg_lsh", forget)
      Similarity.buildLshIndex(kept, "graft_prg_lsh_ref")
      assert(spark.table("graft_prg_lsh").collect().toSet ===
        spark.table("graft_prg_lsh_ref").collect().toSet)
      assert(stamp("graft_prg_lsh") === stamp("graft_prg_lsh_ref"))
      auditClean("graft_prg_lsh")
      assert(Similarity.lshTopKIndexed(spark, "graft_prg_lsh", col("vec_id") < 10)
        .collect().map(_.toString).sorted.toSeq ===
        Similarity.lshTopKIndexed(spark, "graft_prg_lsh_ref", col("vec_id") < 10)
        .collect().map(_.toString).sorted.toSeq)
    } finally drop("graft_prg_lsh", "graft_prg_lsh_meta",
      "graft_prg_lsh_ref", "graft_prg_lsh_ref_meta")
  }

  test("model-backed purges keep the trained model and equal a filtered re-derivation") {
    val emb = Tables.embeddings(spark, sfDir)
    val forget = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
    val kept = emb.filter(col("vec_id") % 7 =!= 3)
    try {
      // IVF: purged assignment rows == assignCells(kept, STORED pivots);
      // the pivot table is untouched by the purge
      Similarity.buildIvfIndex(emb, "graft_prg_ivf")
      val pivotsBefore = spark.table("graft_prg_ivf_pivots").collect().toSet
      Similarity.purgeFromIvfIndex(spark, "graft_prg_ivf", forget)
      assert(spark.table("graft_prg_ivf_pivots").collect().toSet === pivotsBefore,
        "the trained pivots must survive a data purge")
      assert(spark.table("graft_prg_ivf").collect().toSet ===
        Similarity.assignCellsIndexed(spark, kept, "graft_prg_ivf").collect().toSet,
        "purged cells must equal the stored model applied to survivors")
      val keptStamp = Formats.corpusStamp(kept, "vec_id")
      assert(stamp("graft_prg_ivf") === keptStamp)
      auditClean("graft_prg_ivf")
      // IVF×PQ: same contract over (cell, codes) rows, both models kept
      Similarity.buildIvfPqIndex(emb, "graft_prg_ivfpq")
      Similarity.purgeFromIvfPqIndex(spark, "graft_prg_ivfpq", forget)
      val expectedCodes = Similarity.assignCellsIndexed(spark, kept, "graft_prg_ivfpq")
        .select(col("vec_id"), col("cell"))
        .join(Similarity.pqEncode(kept, spark.table("graft_prg_ivfpq_books")), Seq("vec_id"))
        .select(col("vec_id"), col("cell"), col("codes"))
      // select by name: the cell-partitioned layout (r14) orders the
      // partition column last in spark.table's schema
      assert(spark.table("graft_prg_ivfpq").select("vec_id", "cell", "codes")
        .collect().toSet === expectedCodes.collect().toSet)
      assert(stamp("graft_prg_ivfpq") === keptStamp)
      auditClean("graft_prg_ivfpq")
      // vector store: plain id-keyed purge
      Similarity.buildVectorStore(emb, "graft_prg_store")
      Similarity.purgeFromVectorStore(spark, "graft_prg_store", forget)
      assert(spark.table("graft_prg_store").select("vec_id").collect()
        .map(_.getLong(0)).toSet ===
        kept.select("vec_id").collect().map(_.getLong(0)).toSet)
      assert(stamp("graft_prg_store") === keptStamp)
      auditClean("graft_prg_store")
    } finally drop("graft_prg_ivf", "graft_prg_ivf_pivots", "graft_prg_ivf_meta",
      "graft_prg_ivfpq", "graft_prg_ivfpq_pivots", "graft_prg_ivfpq_books",
      "graft_prg_ivfpq_meta", "graft_prg_store", "graft_prg_store_meta")
  }

  test("fuzzy-index purge equals rebuild from surviving masters; idempotent") {
    import graft.ops.Relational
    val cust = Tables.customer(spark, sfDir)
    val masters = cust.filter(col("c_custkey") % 2 === 0)
    val dead = cust.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey").as("id"))
    try {
      Relational.buildFuzzyIndex(masters, "c_custkey", "c_name", "graft_fz_prg")
      Relational.purgeFromFuzzyIndex(spark, "graft_fz_prg", dead)
      Relational.buildFuzzyIndex(
        masters.filter(col("c_custkey") % 10 =!= 0),
        "c_custkey", "c_name", "graft_fz_ref")
      def rows(t: String) =
        spark.table(t).collect().map(_.toString).sorted.toSeq
      assert(rows("graft_fz_prg") === rows("graft_fz_ref"),
        "purged index rows differ from a rebuild on survivors")
      assert(stamp("graft_fz_prg") === stamp("graft_fz_ref"),
        "purged manifest differs from the rebuild's")
      auditClean("graft_fz_prg")
      // re-issued + over-broad request: nothing present folds, no-op
      Relational.purgeFromFuzzyIndex(spark, "graft_fz_prg",
        dead.union(spark.range(900000, 900005).select(col("id"))))
      assert(rows("graft_fz_prg") === rows("graft_fz_ref") &&
        stamp("graft_fz_prg") === stamp("graft_fz_ref"),
        "re-issued purge was not a no-op")
      // probes against the purged index never surface a dead master
      val probed = Relational.fuzzyJoinIndexed(spark,
          cust.filter(col("c_custkey") % 2 === 1),
          "c_custkey", "c_name", "graft_fz_prg")
        .select("id_master").collect().map(_.getLong(0))
      assert(probed.nonEmpty && probed.forall(_ % 10 != 0))
    } finally drop("graft_fz_prg", "graft_fz_prg_meta",
      "graft_fz_ref", "graft_fz_ref_meta")
  }

  test("forget composite: tombstone snapshot + index purge compose; crash mid-composite re-runs clean") {
    import graft.ops.{Curation, Snapshot}
    val corpus = docs.filter(col("doc_id") % 4 =!= 1)
    val forget = docs.filter(col("doc_id") % 11 === 5).select("doc_id")
    try {
      Dedup.buildBandIndex(corpus, "graft_fgt_band")
      Formats.writeManaged(
        Snapshot.baseSnapshot(corpus).select(col("doc_id"), col("version"), col("fp")),
        "graft_fgt_s0")
      val s0 = spark.table("graft_fgt_s0").collect().toSet
      // crash INSIDE the purge step (snapshot already written): the prev
      // snapshot is untouched, the new one is readable, and re-running
      // the whole composite completes
      Formats.failpoint = "compact.after_stage"
      intercept[RuntimeException] {
        Curation.forgetBatch(spark, forget, "graft_fgt_band", "graft_fgt_s0", "graft_fgt_s1")
      }
      Formats.failpoint = ""
      assert(spark.table("graft_fgt_s0").collect().toSet === s0,
        "snapshots are immutable — the crash must not touch the prev generation")
      Curation.forgetBatch(spark, forget, "graft_fgt_band", "graft_fgt_s0", "graft_fgt_s1")
      // post-state: the new snapshot is exactly the survivors, the index
      // manifest stamps exactly them, and the audit row is re-run-stable
      val fset = forget.collect().map(_.getLong(0)).toSet
      val s1Ids = spark.table("graft_fgt_s1").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(s1Ids === s0.map(_.getLong(0)).toSet -- fset)
      assert(!Formats.isStaleFor(spark, "graft_fgt_band",
        spark.table("graft_fgt_s1"), "doc_id"))
      val r1 = Curation.forgetReport(spark, forget,
        "graft_fgt_band", "graft_fgt_s0", "graft_fgt_s1").collect().toSeq
      Curation.forgetBatch(spark, forget, "graft_fgt_band", "graft_fgt_s0", "graft_fgt_s1")
      val r2 = Curation.forgetReport(spark, forget,
        "graft_fgt_band", "graft_fgt_s0", "graft_fgt_s1").collect().toSeq
      assert(r1 === r2, "the audit must be stable under forget re-runs")
      // the request was over-broad (batch %4==1 ids were never ingested)
      val row = r1.head
      assert(row.getLong(0) > row.getLong(1),
        "the gate's forget set must exercise the unknown-id path")
    } finally {
      Formats.failpoint = ""
      drop("graft_fgt_band", "graft_fgt_band_sigs", "graft_fgt_band_meta",
        "graft_fgt_s0", "graft_fgt_s1")
    }
  }

  test("purge inherits the ping-pong crash contract: die pre-swap, live index intact, re-run completes") {
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val forget = corpus.filter(col("doc_id") % 7 === 3).select("doc_id")
    val kept = corpus.filter(col("doc_id") % 7 =!= 3)
    try {
      Dedup.buildBandIndex(corpus, "graft_prg_crash")
      val before = stamp("graft_prg_crash")
      val rows = spark.table("graft_prg_crash").count()
      Formats.failpoint = "compact.after_stage"
      intercept[RuntimeException] {
        Dedup.purgeFromBandIndex(spark, "graft_prg_crash", forget)
      }
      Formats.failpoint = ""
      // pre-swap crash: the live table never moved and the manifest never
      // folded — the index still answers for the UNPURGED corpus
      assert(spark.table("graft_prg_crash").count() === rows)
      assert(stamp("graft_prg_crash") === before)
      // recovery is RE-RUNNING the purge: presence is re-derived from the
      // surviving _sigs rows, so the fold lands exactly once
      Dedup.purgeFromBandIndex(spark, "graft_prg_crash", forget)
      Dedup.buildBandIndex(kept, "graft_prg_crash_ref")
      assert(spark.table("graft_prg_crash").collect().toSet ===
        spark.table("graft_prg_crash_ref").collect().toSet)
      assert(stamp("graft_prg_crash") === stamp("graft_prg_crash_ref"))
    } finally {
      Formats.failpoint = ""
      drop("graft_prg_crash", "graft_prg_crash_sigs", "graft_prg_crash_meta",
        "graft_prg_crash_ref", "graft_prg_crash_ref_sigs", "graft_prg_crash_ref_meta")
    }
  }
}
