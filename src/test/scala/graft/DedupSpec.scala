package graft

import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.sources.Tables

class DedupSpec extends SparkTestBase {

  private def docs = Tables.documents(spark, sfDir)

  test("exactDedup keeps exactly one (minimal) doc_id per duplicate key") {
    // keep-min is a hash aggregate (map-side partial min), never a
    // window's per-key sort
    val plan = Dedup.exactDedup(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"expected pure aggregation plan, got:\n$plan")
    val out = Dedup.exactDedup(docs).cache()
    val nKeys = out.select("dup_key").distinct().count()
    assert(out.count() === nKeys, "one survivor per key")
    // survivors must be the min doc_id of their group
    val all = docs.select(col("doc_id"),
      graft.functions.CrossHash.h60(
        array_join(array_sort(array_distinct(split(lower(col("text")), "\\s+"))), " ")).as("dup_key"))
    val mins = all.groupBy("dup_key").agg(min("doc_id").as("doc_id"))
    assert(out.join(mins, Seq("dup_key", "doc_id"), "left_anti").count() === 0)
    assert(out.count() < docs.count(), "corpus has real duplicate groups")
  }

  test("minHashPairs recovers all high-Jaccard pairs (LSH recall)") {
    val trueDups = Dedup.ngramJaccardPairs(docs, minJaccard = 0.8)
      .select("doc_a", "doc_b")
    assert(trueDups.count() > 0, "corpus has planted near-duplicates")
    val found = Dedup.minHashPairs(docs, minSigFrac = 0.5).select("doc_a", "doc_b")
    val missed = trueDups.join(found, Seq("doc_a", "doc_b"), "left_anti").count()
    // 8 bands x 2 rows: P(miss | J>=0.8) <= (1 - 0.64)^8 ~ 3e-4 per pair,
    // and the pipeline is deterministic, so this is a fixed property of the corpus
    assert(missed === 0, s"LSH missed $missed high-similarity pairs")
  }

  test("simHash is deterministic and identical docs collide") {
    val a = Dedup.simHash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dedup.simHash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b)
    // fingerprints are 32-bit values
    assert(a.values.forall(v => v >= 0 && v <= 0xFFFFFFFFL))
  }

  test("simHashPairs: hamming bound respected and pairs symmetric-free") {
    val pairs = Dedup.simHashPairs(docs, maxHamming = 7).cache()
    val bad = pairs.filter(col("hamming") > 7 || col("doc_a") >= col("doc_b")).count()
    assert(bad === 0)
    assert(pairs.count() > 0)
  }

  test("nearDupSurvivors: components collapse to their minimum id, nothing else dropped") {
    val pairs = Dedup.minHashPairs(docs).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val survivors = Dedup.nearDupSurvivors(docs).collect().map(_.getLong(0)).toSet
    // both tiers must produce the identical set: maxDriverEdges = -1 forces
    // the distributed label-propagation path
    val distributed = Dedup.nearDupSurvivors(docs, maxDriverEdges = -1L)
      .collect().map(_.getLong(0)).toSet
    assert(distributed === survivors)
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    // union-find ground truth on the driver
    val parent = scala.collection.mutable.Map(all.toSeq.map(x => x -> x): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = all.filter(x => find(x) == x)
    assert(survivors === expected)
    assert(survivors.size < all.size, "planted near-dups must collapse")
  }

  test("LongLongMap: randomized parity with a boxed HashMap through growth") {
    val rnd = new scala.util.Random(42)
    val m = new Dedup.LongLongMap(16) // tiny initial capacity forces growth
    val ref = scala.collection.mutable.HashMap[Long, Long]()
    // keys include 0 and adversarially-sequential ids (the probe-cluster
    // case the hash mix exists for), values include overwrites
    val keys = (0L until 2000L) ++ Seq.fill(3000)(rnd.nextLong().abs)
    keys.foreach { k =>
      val v = rnd.nextLong()
      m.put(k, v); ref(k) = v
      if (rnd.nextBoolean()) { val v2 = rnd.nextLong(); m.put(k, v2); ref(k) = v2 }
    }
    assert(m.size === ref.size)
    ref.foreach { case (k, v) => assert(m.getOrElse(k, Long.MinValue) === v) }
    // misses fall through to the default
    (0 until 500).foreach { _ =>
      val k = -(rnd.nextLong().abs.max(1L)) // negative: never inserted
      assert(m.getOrElse(k, 7L) === 7L)
    }
    var seen = 0
    m.foreachKey(k => { assert(ref.contains(k)); seen += 1 })
    assert(seen === ref.size)
  }

  test("nearDupSurvivorsBy keeps the argmax-quality member per component, both tiers") {
    import graft.ops.TextAnalysis
    val byQuality = Dedup.nearDupSurvivorsBy(docs, TextAnalysis.qualityCol)
      .collect().map(_.getLong(0)).toSet
    // same component structure as the id policy: survivor COUNT matches,
    // and each component contributes exactly one member
    val byId = Dedup.nearDupSurvivors(docs).collect().map(_.getLong(0)).toSet
    assert(byQuality.size === byId.size, "one survivor per component under any policy")
    // expected set from labels + a window argmax computed independently
    val labels = Dedup.nearDupComponents(docs)
    val scored = docs.select(col("doc_id"), TextAnalysis.qualityCol.as("q"))
      .join(labels, Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label")).orderBy(col("q").desc, col("doc_id"))
    val expected = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).collect().map(_.getLong(0)).toSet
    assert(byQuality === expected)
    // the two policies genuinely differ on this corpus (some component's
    // best-quality member is not its lowest id) — otherwise the gate
    // would be vacuous
    assert(byQuality !== byId, "quality policy must pick differently somewhere")
    // distributed tier agrees
    val distributed = Dedup.nearDupSurvivorsBy(docs, TextAnalysis.qualityCol,
      maxDriverEdges = -1L).collect().map(_.getLong(0)).toSet
    assert(distributed === byQuality)
  }

  test("duplicateSpans: every doc scored, planted near-dups carry duplicated spans") {
    val out = Dedup.duplicateSpans(docs).cache()
    assert(out.count() === docs.count(), "one row per document")
    assert(out.filter(col("dup_ratio") < 0 || col("dup_ratio") > 1).count() === 0)
    // the corpus plants near-duplicate documents (high-Jaccard pairs), so
    // cross-document 8-token spans must exist and be flagged
    val dupDocs = out.filter(col("n_dup_spans") > 0)
    assert(dupDocs.count() > 0, "planted near-dups must share exact spans")
    // spot-consistency: a known high-Jaccard pair's members both carry dups
    val pair = Dedup.ngramJaccardPairs(docs, minJaccard = 0.8).select("doc_a", "doc_b").head()
    val ids = Set(pair.getLong(0), pair.getLong(1))
    assert(out.filter(col("doc_id").isin(ids.toSeq: _*))
      .filter(col("n_dup_spans") === 0).count() === 0,
      "both members of a high-Jaccard pair must show duplicated spans")
  }

  test("removeDuplicateSpans drops the repeated span, keeps first occurrence") {
    import spark.implicits._
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ")
    val tiny = Seq(
      (1L, s"alpha beta $boiler gamma delta"),
      (2L, s"uno dos tres $boiler quattro"),
      (3L, "nothing shared here at all")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(tiny, n = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 1 owns the span (global first occurrence) — untouched
    assert(out(1L) === ((12L, 12L, s"alpha beta $boiler gamma delta")))
    // doc 2's occurrence is dropped: its 8 boilerplate tokens vanish
    assert(out(2L) === ((12L, 4L, "uno dos tres quattro")))
    // doc 3 has no duplicated spans — untouched
    assert(out(3L) === ((5L, 5L, "nothing shared here at all")))
    // rerunning the span detector on the cleaned corpus finds nothing:
    // the rewrite removed every cross-document repeated span
    val cleaned = Dedup.removeDuplicateSpans(tiny, n = 8)
      .select(col("doc_id"), col("clean_text").as("text"))
    assert(Dedup.duplicateSpans(cleaned, n = 8)
      .filter(col("n_dup_spans") > 0).count() === 0)
  }

  test("removeDuplicateSpans on the corpus: conservation + composition with curation") {
    val out = Dedup.removeDuplicateSpans(docs).cache()
    assert(out.count() === docs.count(), "one row per document, none vanish")
    assert(out.filter(col("n_kept") > col("n_tokens")).count() === 0)
    // the per-doc drop count can only come from flagged spans: any doc with
    // kept < total must have n_dup_spans > 0 in the stats twin, and the
    // planted near-dups guarantee at least one such doc
    val stats = Dedup.duplicateSpans(docs)
    val inconsistent = out.filter(col("n_kept") < col("n_tokens"))
      .join(stats.filter(col("n_dup_spans") === 0), Seq("doc_id"), "left_semi")
    assert(inconsistent.count() === 0, "tokens dropped without a flagged span")
    assert(out.filter(col("n_kept") < col("n_tokens")).count() > 0,
      "planted near-dups must lose spans")
    // composition: the cleaned corpus feeds the curation pipeline directly
    val curated = graft.ops.TextAnalysis.curationPipeline(
      out.select(col("doc_id"), col("clean_text").as("text")))
    assert(curated.count() > 0, "cleaned corpus still curates")
  }

  test("contaminationStats flags benchmark overlap; decontaminate drops exactly the tainted docs") {
    import spark.implicits._
    val boiler = (1 to 8).map(i => s"q$i").mkString(" ")
    val train = Seq(
      (1L, s"intro words $boiler closing words"), // contains the benchmark span
      (2L, "completely unrelated training text here"),
      (3L, s"$boiler")).toDF("doc_id", "text") // IS the benchmark span
    val bench = Seq((100L, s"eval question $boiler answer")).toDF("doc_id", "text")
    val stats = Dedup.contaminationStats(train, bench).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stats(1L)._2 === 1L, "exactly the one overlapping span is flagged")
    assert(stats(2L)._2 === 0L)
    assert(stats(3L) === ((1L, 1L)), "a doc that IS the span is fully contaminated")
    val kept = Dedup.decontaminate(train, bench).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L), "strict rule drops every doc with any benchmark span")
    // tolerant threshold keeps the mostly-clean doc (1/5 spans contaminated)
    val tolerant = Dedup.decontaminate(train, bench, maxRatio = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tolerant === Set(1L, 2L))
    // corpus-level: every training doc scored, ratios in [0,1], and the
    // %7 split finds real contamination (planted near-dups straddle it)
    val all = docs
    val corpus = Dedup.contaminationStats(
      all.filter(col("doc_id") % 7 =!= 0), all.filter(col("doc_id") % 7 === 0)).cache()
    assert(corpus.count() === all.filter(col("doc_id") % 7 =!= 0).count())
    assert(corpus.filter(col("contam_ratio") < 0 || col("contam_ratio") > 1).count() === 0)
    assert(corpus.filter(col("n_contam_spans") > 0).count() > 0,
      "planted near-dups across the split must register as contamination")
  }

  test("contaminationStatsBloom: identical to direct path, filter genuinely prunes the scan") {
    val train = docs.filter(col("doc_id") % 7 =!= 0)
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val direct = Dedup.contaminationStats(train, bench).collect().map(_.toString).sorted.toSeq
    val registry = spark.sessionState.functionRegistry
    val functionsBefore = registry.listFunction().toSet
    val bloomed = Dedup.contaminationStatsBloom(train, bench)
    val functionsAfter = registry.listFunction().toSet
    val changed = (functionsAfter diff functionsBefore) ++ (functionsBefore diff functionsAfter)
    assert(changed.isEmpty,
      s"the Bloom probe must leave the session's function registry as it was: ${changed.mkString(", ")}")
    // superset contract: bloom false positives die in the exact join,
    // false negatives are impossible — results must be identical
    // (sorted-row compare: ops return unsorted rows)
    assert(bloomed.collect().map(_.toString).sorted.toSeq === direct)
    // the might_contain probe sits in the plan (scan-side, pre-join)
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"),
      s"plan must carry the Bloom pre-filter:\n$plan")
    // and it genuinely prunes: the surviving span set is a small fraction
    // of the full training span table (the corpus is mostly clean), yet a
    // superset of the truly tainted spans
    val sp = Dedup.positionalSpans(train, 8).select("doc_id", "sh")
    val benchHashes = Dedup.positionalSpans(bench, 8).select("sh").distinct()
    val bf = benchHashes.stat.bloomFilter("sh", benchHashes.count(), 0.01)
    val total = sp.count()
    val kept = graft.functions.BloomMightContain.filter(sp, bf, col("sh")).count()
    val tainted = sp.join(benchHashes, Seq("sh"), "left_semi").count()
    assert(kept < total / 2, s"bloom must prune most spans: kept $kept of $total")
    assert(kept >= tainted, "bloom survivors must be a superset of true hits")
    // the actionable wrapper composes identically to the direct one
    val cleanDirect = Dedup.decontaminate(train, bench).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val cleanBloom = Dedup.decontaminateBloom(train, bench).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(cleanBloom === cleanDirect)
  }

  test("maxDf cap removes ubiquitous-shingle candidates (the k-squared skew guard)") {
    import spark.implicits._
    // 6 docs all sharing one hot token; pairs exist ONLY through it
    val tiny = (1L to 6L).map(i => (i, s"common unique$i")).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(tiny, minJaccard = 0.01, n = 1, maxDf = None)
    assert(uncapped.count() === 15, "uncapped: the hot shingle yields all C(6,2) pairs")
    val capped = Dedup.ngramJaccardPairs(tiny, minJaccard = 0.01, n = 1, maxDf = Some(3))
    assert(capped.count() === 0, "capped: df=6 > 3 shingle generates zero candidates")
  }

  test("crossCorpusNearDups: self-join recovers minHashPairs; split finds only cross pairs") {
    val docs = Tables.documents(spark, sfDir)
    // same corpus on both sides: the doc_a < doc_b half (minus self-pairs)
    // must be exactly the intra-corpus miner's result
    val self = Dedup.crossCorpusNearDups(docs, docs)
      .filter(col("doc_a") < col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val intra = Dedup.minHashPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(self === intra)
    // identical docs appear as sig_sim-1.0 self-pairs on the diagonal
    val diag = Dedup.crossCorpusNearDups(docs, docs)
      .filter(col("doc_a") === col("doc_b"))
    assert(diag.count() === docs.count())
    // disjoint split: every returned pair crosses the split boundary
    val split = Dedup.crossCorpusNearDups(
      docs.filter(col("doc_id") % 3 =!= 0), docs.filter(col("doc_id") % 3 === 0))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(split.forall { case (a, b) => a % 3 != 0 && b % 3 == 0 })
  }

  test("stored band index: probe matches fresh cross-corpus path, append equals one-shot") {
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    try {
      Dedup.buildBandIndex(corpus, "graft_band_idx_spec")
      // result parity: the index changes where the corpus bands come from,
      // not the pairs
      val indexed = Dedup.nearDupPairsIndexed(spark, "graft_band_idx_spec", batch)
      val fresh = Dedup.crossCorpusNearDups(corpus, batch)
      assert(indexed.collect().map(_.toString).sorted.toSeq === fresh.collect().map(_.toString).sorted.toSeq)
      // two-batch build (half bulk + half appended) is bit-identical on
      // disk-content semantics: the probe answers exactly like the
      // one-shot index
      Dedup.buildBandIndex(corpus.filter(col("doc_id") % 2 === 0), "graft_band_incr_spec")
      Dedup.appendToBandIndex(corpus.filter(col("doc_id") % 2 =!= 0), "graft_band_incr_spec")
      val incr = Dedup.nearDupPairsIndexed(spark, "graft_band_incr_spec", batch)
      assert(incr.collect().map(_.toString).sorted.toSeq === fresh.collect().map(_.toString).sorted.toSeq)
      // the append wrote EXACTLY the new half's band rows — nothing of the
      // existing layout rewritten or duplicated
      assert(spark.table("graft_band_incr_spec").count() ===
        corpus.count() * Dedup.NumBands)
      // plan: the candidate join reads the STORED banded table on the
      // index side with no shuffle and no signature recompute (no md5 of
      // shingles — the only md5 in the probe is the batch side's banding,
      // which lives in the OTHER join child)
      val probe = Dedup.indexedCandidateJoin(spark, "graft_band_idx_spec",
        spark.table("graft_band_idx_spec").limit(5))
      val plan = probe.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange"),
        s"index probe must not shuffle the index side:\n$plan")
      assert(plan.contains("graft_band_idx_spec["),
        s"probe must scan the stored index table:\n$plan")
    } finally {
      Seq("graft_band_idx_spec", "graft_band_idx_spec_sigs",
        "graft_band_incr_spec", "graft_band_incr_spec_sigs")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("incremental component merge equals one-shot clustering across two folded batches") {
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)
    val b3 = docs.filter(col("doc_id") % 3 === 0)
    try {
      Dedup.buildBandIndex(b1, "graft_ci_band")
      Dedup.buildComponentsTable(b1, "graft_ci_tbl")
      val initial = spark.table("graft_ci_tbl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      Dedup.mergeComponentsIncr(spark, "graft_ci_tbl", "graft_ci_band", b2)
      Dedup.mergeComponentsIncr(spark, "graft_ci_tbl", "graft_ci_band", b3)
      // the twice-merged assignment is exactly the one-shot clustering of
      // the whole corpus — labels AND manifest stamp
      val merged = spark.table("graft_ci_tbl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val oneShot = Dedup.nearDupComponents(docs)
      val expected = oneShot.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(merged === expected)
      val (n, fp, _, _) = graft.sources.Formats.readBuildMeta(spark, "graft_ci_tbl").get
      val full = graft.sources.Formats.corpusStamp(docs, "doc_id")
      assert((n, fp) === full, "manifest must stamp the union corpus")
      assert(!graft.sources.Formats.isStaleFor(spark, "graft_ci_tbl", docs, "doc_id"))
      // non-vacuity: at least one STORED document's label moved during a
      // merge (a batch doc with a smaller id joined its component, or a
      // batch doc bridged two stored components) — otherwise this test
      // would pass on corpora where merging is a pure append
      val moved = initial.count { case (id, lbl) => expected(id) != lbl }
      assert(moved > 0, "corpus must exercise the relabel path")
      // the band index stayed in sync: same stamp as the label table
      val (bn, bfp, _, _) = graft.sources.Formats.readBuildMeta(spark, "graft_ci_band").get
      assert((bn, bfp) === full)
      // edge orientation: appended cross edges are
      // normalized to doc_a < doc_b, so the stored edge SET — not just
      // its symmetric closure — equals a one-shot build's
      Dedup.buildComponentsTable(docs, "graft_ci_ref")
      assert(spark.table("graft_ci_tbl_edges").collect().toSet ===
        spark.table("graft_ci_ref_edges").collect().toSet,
        "merged edge set must match the one-shot build's orientation")
      // generation guard: merging into a DESYNCED pair fails loudly
      Dedup.buildBandIndex(b1, "graft_ci_band2")
      val e = intercept[IllegalArgumentException] {
        Dedup.mergeComponentsIncr(spark, "graft_ci_tbl", "graft_ci_band2", b2)
      }
      assert(e.getMessage.contains("generation"))
    } finally {
      Seq("graft_ci_band", "graft_ci_band_sigs", "graft_ci_band_meta",
        "graft_ci_band2", "graft_ci_band2_sigs", "graft_ci_band2_meta",
        "graft_ci_tbl", "graft_ci_tbl_edges", "graft_ci_tbl_meta",
        "graft_ci_ref", "graft_ci_ref_edges", "graft_ci_ref_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("components purge equals rebuild from the filtered corpus (labels + edges + manifest)") {
    val forget = docs.filter(col("doc_id") % 7 === 3).select("doc_id")
    val kept = docs.filter(col("doc_id") % 7 =!= 3)
    try {
      Dedup.buildComponentsTable(docs, "graft_cp_tbl")
      val before = spark.table("graft_cp_tbl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      Dedup.purgeFromComponentsTable(spark, "graft_cp_tbl", forget)
      Dedup.buildComponentsTable(kept, "graft_cp_ref")
      val purged = spark.table("graft_cp_tbl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val rebuilt = spark.table("graft_cp_ref").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(purged === rebuilt)
      assert(spark.table("graft_cp_tbl_edges").collect().toSet ===
        spark.table("graft_cp_ref_edges").collect().toSet,
        "surviving edges must equal the filtered corpus's mined pairs")
      val (n, fp, _, _) = graft.sources.Formats.readBuildMeta(spark, "graft_cp_tbl").get
      assert((n, fp) === graft.sources.Formats.corpusStamp(kept, "doc_id"))
      // non-vacuity: some component lost its minimum, so a surviving
      // member's label INCREASED — the re-solve actually ran
      val raised = purged.count { case (id, lbl) => before(id) < lbl }
      assert(raised > 0, "corpus must exercise the affected-component re-solve")
    } finally Seq("graft_cp_tbl", "graft_cp_tbl_edges", "graft_cp_tbl_meta",
      "graft_cp_ref", "graft_cp_ref_edges", "graft_cp_ref_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("components purge SPLITS a component when the bridge vertex is removed") {
    import spark.implicits._
    // a stored path component 1—2—3 (plus singleton 9), hand-written in
    // the buildComponentsTable layout: removing bridge 2 must split
    // {1,2,3} into {1} and {3} — labels alone could never answer this
    try {
      graft.sources.Formats.writeBucketed(
        Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L)).toDF("doc_id", "label"),
        "graft_cps_tbl", Seq("doc_id"), 8)
      graft.sources.Formats.writeBucketed(
        Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b"),
        "graft_cps_tbl_edges", Seq("doc_a"), 8)
      val (n, fp) = graft.sources.Formats.corpusStamp(
        Seq(1L, 2L, 3L, 9L).toDF("doc_id"), "doc_id")
      graft.sources.Formats.writeBuildMeta(spark, "graft_cps_tbl",
        "kind=components,buckets=8", n, fp)
      Dedup.purgeFromComponentsTable(spark, "graft_cps_tbl", Seq(2L).toDF("doc_id"))
      val out = spark.table("graft_cps_tbl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(out === Map(1L -> 1L, 3L -> 3L, 9L -> 9L))
      assert(spark.table("graft_cps_tbl_edges").count() === 0L)
      val (n2, fp2, _, _) = graft.sources.Formats.readBuildMeta(spark, "graft_cps_tbl").get
      assert((n2, fp2) === graft.sources.Formats.corpusStamp(
        Seq(1L, 3L, 9L).toDF("doc_id"), "doc_id"))
    } finally Seq("graft_cps_tbl", "graft_cps_tbl_edges", "graft_cps_tbl_meta")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("exciseContaminatedSpans cuts ALL tainted occurrences; cleaned corpus is contamination-free") {
    import spark.implicits._
    val boiler = (1 to 8).map(i => s"q$i").mkString(" ")
    val train = Seq(
      (1L, s"intro words $boiler closing words"),
      (2L, "completely unrelated training text here"),
      // two tainted occurrences — BOTH are excised (no kept-owner rule)
      (3L, s"pre $boiler mid $boiler post")).toDF("doc_id", "text")
    val bench = Seq((100L, s"eval question $boiler answer")).toDF("doc_id", "text")
    val out = Dedup.exciseContaminatedSpans(train, bench).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) === ((12L, 4L, "intro words closing words")))
    assert(out(2L) === ((5L, 5L, "completely unrelated training text here")))
    assert(out(3L) === ((19L, 3L, "pre mid post")))
    // unlike decontaminate (which would drop docs 1 and 3), every doc survives
    assert(out.size === 3)
    // and the cleaned corpus carries zero benchmark overlap
    val cleaned = Dedup.exciseContaminatedSpans(train, bench)
      .select(col("doc_id"), col("clean_text").as("text"))
    assert(Dedup.contaminationStats(cleaned, bench)
      .filter(col("n_contam_spans") > 0).count() === 0)
  }

  test("exciseContaminatedSpans on the corpus: conservation, touches only tainted docs") {
    val train = docs.filter(col("doc_id") % 7 =!= 0)
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val out = Dedup.exciseContaminatedSpans(train, bench).cache()
    assert(out.count() === train.count(), "one row per training doc, none vanish")
    assert(out.filter(col("n_kept") > col("n_tokens")).count() === 0)
    // docs the strict doc-drop rule keeps (zero tainted spans) are untouched
    val keptIds = Dedup.decontaminate(train, bench).select("doc_id")
    assert(out.filter(col("n_kept") < col("n_tokens"))
      .join(keptIds, Seq("doc_id"), "left_semi").count() === 0,
      "tokens excised from a doc with no benchmark overlap")
    // and the planted cross-split contamination really loses tokens
    assert(out.filter(col("n_kept") < col("n_tokens")).count() > 0)
  }

  test("simHashTopK equals the brute-force Hamming top-k (band join lossless at radius 3)") {
    import org.apache.spark.sql.expressions.Window
    val topk = Dedup.simHashTopK(docs, col("doc_id") % 10 === 0).cache()
    assert(topk.count() > 0, "query set has in-radius neighbors")
    assert(topk.filter(col("hamming") > Dedup.DefaultMaxHamming || col("rn") > 5).count() === 0)
    // brute force: every query against the whole corpus, no bands
    val sh = Dedup.simHash(docs)
    val q = sh.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("query_id"), col("simhash").as("qh"))
    val c = sh.select(col("doc_id").as("neighbor_id"), col("simhash").as("ch"))
    val w = Window.partitionBy("query_id").orderBy(col("hamming"), col("neighbor_id"))
    val brute = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        bit_count(col("qh").bitwiseXOR(col("ch"))).cast("long").as("hamming"))
      .filter(col("hamming") <= Dedup.DefaultMaxHamming)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
    assert(topk.exceptAll(brute).count() === 0 && brute.exceptAll(topk).count() === 0,
      "banded top-k diverges from the exhaustive scan")
  }

  test("ngramJaccardPairs: jaccard in (0,1], capped variant is consistent") {
    val exact = Dedup.ngramJaccardPairs(docs, minJaccard = 0.2).cache()
    assert(exact.filter(col("jaccard") <= 0 || col("jaccard") > 1).count() === 0)
    assert(exact.count() > 0)
    // df-capped candidate generation must still find the near-identical pairs
    // (their distinctive shingles are rare by construction)
    val capped = Dedup.ngramJaccardPairs(docs, minJaccard = 0.8, maxDf = Some(50))
    val exactHigh = exact.filter(col("jaccard") >= 0.9).select("doc_a", "doc_b")
    assert(exactHigh.join(capped, Seq("doc_a", "doc_b"), "left_anti").count() === 0)
  }

  test("ngramContainmentPairs sees the quoted-subset pair symmetric Jaccard misses") {
    import spark.implicits._
    val quote = (1 to 12).map(i => s"q$i").mkString(" ")
    val filler = (1 to 120).map(i => s"f$i").mkString(" ")
    val tiny = Seq(
      (1L, quote),                  // the small doc
      (2L, s"$filler $quote"),      // quotes doc 1 inside 10x the text
      (3L, "unrelated third document entirely")).toDF("doc_id", "text")
    val cont = Dedup.ngramContainmentPairs(tiny).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getDouble(3))).toMap
    // every shingle of doc 1 appears in doc 2 -> containment(1->2) = 1.0
    assert(cont.keySet === Set((1L, 2L)))
    assert(cont((1L, 2L))._1 === 1.0)
    assert(cont((1L, 2L))._2 < 0.2, "the big doc is NOT contained in the small one")
    // ...while Jaccard at its own default threshold cannot see the pair
    assert(Dedup.ngramJaccardPairs(tiny).count() === 0,
      "symmetric Jaccard flags the quoted-subset pair — thresholds drifted")
    // corpus: the planted near-dups carry near-1 containment both ways
    val corpus = Dedup.ngramContainmentPairs(docs).cache()
    assert(corpus.count() > 0)
    assert(corpus.filter(col("cont_a") < 0 || col("cont_a") > 1 ||
      col("cont_b") < 0 || col("cont_b") > 1).count() === 0)
  }

  test("hot band bucket: AQE splits the saturated self-join partition (audit proof)") {
    import spark.implicits._
    // a duplicate-saturated crawl: every document identical, so every band
    // bucket holds the WHOLE corpus — the quadratic-output corner the
    // minHashPairs audit note claims AQE's skew split handles. Thresholds
    // are scaled down so this corpus trips the same machinery a 100 TB hot
    // bucket would; broadcast is disabled to force the shuffled join shape.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "spark.sql.shuffle.partitions")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // thresholds sized for COMPRESSED map-output bytes (what AQE's
      // skew stats measure — a saturated bucket's repeated band hashes
      // compress to near-nothing, only the distinct doc_ids remain)
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
      // the signature table is a lazy local checkpoint whose partition
      // count AQE coalescing picks; at the default 1 MB floor this toy
      // corpus collapses to ONE map task, which no map-range split can cut
      // (a 100 TB signature table is far above the floor)
      conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1KB")
      // enough partitions that the saturated class's band buckets stand
      // out against the median partition (skew = max >> median, so the
      // hot class must NOT be the whole corpus)
      conf.set("spark.sql.shuffle.partitions", "64")
      val sat = (1L to 600L).map(i => (i, "alpha beta gamma delta epsilon zeta")) ++
        (1001L to 1400L).map(i => (i, s"unique$i text$i tail$i quux$i nonce$i end$i"))
      val out = Dedup.minHashPairs(sat.toDF("doc_id", "text"))
      // execute THIS QueryExecution (not a separate count() plan), then
      // inspect the final adaptive plan: the duplicate class yields its
      // full C(300,2) pair set, and the saturated candidate join must
      // carry the skew-split marker
      val n = out.queryExecution.toRdd.count()
      assert(n >= 600L * 599 / 2)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"saturated band join did not take the AQE skew split:\n$plan")
    } finally {
      saved.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None)    => conf.unset(k)
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
  }

  test("no operator leaves a session-cache entry behind") {
    import graft.ops.{Curation, Sampling, TextAnalysis}
    val old = docs.filter(col("doc_id") % 4 =!= 1)
    val cases: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "minHashPairs" -> (() => Dedup.minHashPairs(docs)),
      "crossCorpusNearDups" -> (() => Dedup.crossCorpusNearDups(old, docs)),
      "simHashPairs" -> (() => Dedup.simHashPairs(docs)),
      "simHashTopK" -> (() => Dedup.simHashTopK(docs, col("doc_id") % 10 === 0)),
      "nearDupAdmit" -> (() => Dedup.nearDupAdmit(docs)),
      "duplicateSpans" -> (() => Dedup.duplicateSpans(docs)),
      "removeDuplicateSpans" -> (() => Dedup.removeDuplicateSpans(docs)),
      "ngramJaccardPairs (df-capped)" -> (() => Dedup.ngramJaccardPairs(docs)),
      "ngramJaccardPairs (maxDf = None)" -> (() => Dedup.ngramJaccardPairs(docs, maxDf = None)),
      "nearDupComponents" -> (() => Dedup.nearDupComponents(docs)),
      "nearDupSurvivors (driver)" -> (() => Dedup.nearDupSurvivors(docs)),
      "nearDupSurvivors (distributed)" ->
        (() => Dedup.nearDupSurvivors(docs, maxDriverEdges = -1L)),
      "nearDupSurvivorsBy" ->
        (() => Dedup.nearDupSurvivorsBy(docs, TextAnalysis.qualityCol)),
      "Sampling.splitAssignLeakFree" -> (() => Sampling.splitAssignLeakFree(docs)),
      "Sampling.splitDriftReport" -> (() => Sampling.splitDriftReport(old, docs)),
      "Curation.corpusReport" -> (() => Curation.corpusReport(docs)),
      "TextAnalysis.textRank" -> (() => TextAnalysis.textRank(docs)))
    spark.catalog.clearCache()
    cases.foreach { case (name, op) =>
      op().collect()
      assert(spark.sharedState.cacheManager.isEmpty,
        s"$name left a session-cache entry behind")
    }
  }
}
