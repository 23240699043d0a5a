package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import org.apache.spark.sql.functions._

import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.{Bpe, Dedup, MapReduce, Multimodal, Packing, PipedMapReduce, Relational, Sampling, SharedCorpus, Similarity, Snapshot, TextAnalysis, TextOps}
import graft.sources.{Formats, Tables}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 is a named entry in [[queries]];
  * each SQL-expressible one has matching DuckDB oracle SQL in [[oracleSql]] with
  * identical output column names (the driver sorts columns by name and hashes
  * values).
  */
object SparkEntry {

  /** Per-process scratch root for the fmt_* sink→scan queries: a fixed
    * shared path would let concurrent gate/bench runs on one machine read a
    * directory the other is mid-overwrite (ADVICE r3). Cleaned on JVM exit. */
  private lazy val scratchDir: String = {
    val dir = s"/tmp/graft_fmt_${ProcessHandle.current().pid()}"
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))))
    dir
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's one real analytics workload: word count (SURVEY §7.1). */
  def entry(spark: SparkSession): DataFrame =
    TextOps.wordCount(Tables.documents(spark, "/root/testdata/sf0.001"))

  /** Index builds memoized per (process, sf dir): the indexed-ANN gates'
    * build/query split exists so probes are cheap — so repeat invocations
    * (the bench's steady-state runs) must time the PROBE alone, with the
    * build paid once on the first (cold) run (VERDICT r5). A failed build
    * un-marks itself so a retry rebuilds instead of probing a half-built
    * table. */
  private val builtIndexes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def buildOnce(key: String)(build: => Unit): Unit =
    if (builtIndexes.add(key)) {
      try build
      catch { case t: Throwable => builtIndexes.remove(key); throw t }
    }

  /** Shared index builds, one canonical [[buildOnce]] key each, so every
    * gate that needs the artifact (e.g. ta_bm25_indexed AND
    * ta_hybrid_indexed both probe `graft_bm25_idx`) pays for exactly one
    * build regardless of gate execution order. */
  private def ensurePngBlobs(s: SparkSession, d: String): Unit =
    buildOnce(s"png_blobs:$d") {
      graft.sources.Formats.writeManaged(
        Multimodal.synthesizePng(Tables.documents(s, d)), "graft_png_blobs")
    }

  private def ensureWavBlobs(s: SparkSession, d: String): Unit =
    buildOnce(s"wav_blobs:$d") {
      graft.sources.Formats.writeManaged(
        Multimodal.synthesizeWav(Tables.documents(s, d)), "graft_wav_blobs")
    }

  private def ensureBm25Index(s: SparkSession, d: String): Unit =
    buildOnce(s"bm25:$d") {
      TextAnalysis.buildBm25Index(SharedCorpus.docsTok(s, d), "graft_bm25_idx")
    }

  /** The hash-embed featurization materialized ONCE per (process, sf dir)
    * as a stored table — the corpus-scale embed pass is a build step
    * (exactly like an index build), not something a query recomputes. */
  private def ensureHembTable(s: SparkSession, d: String): Unit =
    buildOnce(s"hemb:$d") {
      Formats.writeManaged(
        TextAnalysis.hashEmbed(SharedCorpus.docsTok(s, d))
          .select(col("doc_id").as("vec_id"), col("embedding")),
        "graft_hemb")
    }

  /** The windowed (per-token-vector) hash-embed table behind the MaxSim
    * text-composition gate — the multi-vector analogue of
    * [[ensureHembTable]]: featurization materialized once (the sanctioned
    * build/apply split), steady runs measure the MaxSim serving plan over
    * the STORED window vectors. */
  private def ensureHembWinTable(s: SparkSession, d: String): Unit =
    buildOnce(s"hemb_win:$d") {
      Formats.writeManaged(
        TextAnalysis.hashEmbedWindows(SharedCorpus.docsTok(s, d)),
        "graft_hemb_win")
    }

  private def ensureHembLshIndex(s: SparkSession, d: String): Unit = {
    ensureHembTable(s, d)
    buildOnce(s"hemb_lsh:$d") {
      Similarity.buildLshIndex(s.table("graft_hemb"), "graft_hemb_lsh_idx")
    }
  }

  /** The split-lifecycle build shared by `sample_split_incr` and
    * `sample_split_drift_indexed` — one DAY of the production pipeline:
    * yesterday's corpus (%4!=1, the daily-batch convention) clustered
    * one-shot with its band index, yesterday's leak-free assignment
    * PUBLISHED, then today's batch (%4==1) folded into the stored
    * components by the batch-delta merge. The assignment table keeps
    * yesterday's generation (republish happens AFTER the drift audit in
    * the pipeline order), so the drift gate reads it as the immutable
    * prior while the components table already describes today. */
  private def ensureSplitLifecycle(s: SparkSession, d: String): Unit =
    buildOnce(s"split_lifecycle:$d") {
      val all = SharedCorpus.docsTok(s, d)
      val old = all.filter(col("doc_id") % 4 =!= 1)
      Dedup.buildBandIndex(old, "graft_split_band")
      Dedup.buildComponentsTable(old, "graft_split_comp")
      Sampling.publishSplitAssignment(s, "graft_split_comp", "graft_split_assign")
      Dedup.mergeComponentsIncr(s, "graft_split_comp", "graft_split_band",
        all.filter(col("doc_id") % 4 === 1))
    }

  /** The stored IVF index is shared by the ANN probe gate AND the
    * cluster-balanced-sampling gate — one canonical key, one build. */
  private def ensureIvfIndex(s: SparkSession, d: String): Unit =
    buildOnce(s"ivf:$d") {
      Similarity.buildIvfIndex(Tables.embeddings(s, d), "graft_ivf_idx")
    }

  private def ensurePqIndex(s: SparkSession, d: String): Unit =
    buildOnce(s"pq:$d") {
      Similarity.buildPqIndex(Tables.embeddings(s, d), "graft_pq_idx")
    }

  private def ensureIvfPqIndex(s: SparkSession, d: String): Unit =
    buildOnce(s"ivfpq:$d") {
      Similarity.buildIvfPqIndex(Tables.embeddings(s, d), "graft_ivfpq_idx")
    }

  /** Copy a stored model side table (pivots / codebooks) into another
    * index's namespace, preserving its bucketed layout. The trainings are
    * deterministic functions of the corpus, so the one-shot index's
    * stored models ARE the incremental pipeline's models — one training
    * serves both, which is the production contract (an ingest path never
    * retrains per batch; it reads the published model artifact). */
  private def copyModel(s: SparkSession, src: String, dst: String,
      key: String): Unit =
    Formats.writeBucketed(s.table(src), dst, Seq(key), 1)

  /** BPE MERGES memoized per (session, sf dir) — the training-loop
    * analogue of [[buildOnce]]: the three ta_bpe_* gates share one
    * training. Keyed on the session OBJECT via a WeakHashMap (ADVICE r6):
    * entries are evicted with the session instead of pinning dead
    * sessions forever, and two live sessions can never collide (the
    * previous identity-hash string key could). Crucially the memo holds
    * PLAIN merge rows, not a session-bound DataFrame — a DataFrame value
    * would strongly reference its session and defeat the weak key — and
    * the gates rebuild the segmentation state plan from the merges via
    * [[graft.ops.Bpe.stateOf]] (plan construction only; evaluation
    * replays the literal replaces, never a training collect). */
  private def sessionMemo[T](cache: java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, T]],
      s: SparkSession, d: String)(build: => T): T = {
    val perSession = cache.synchronized {
      var m = cache.get(s)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, T]()
        cache.put(s, m)
      }
      m
    }
    perSession.computeIfAbsent(d, _ => build)
  }

  private val bpeMerges = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, Seq[graft.ops.Bpe.Merge]]]()
  private def bpeModel(s: SparkSession, d: String): (Seq[graft.ops.Bpe.Merge], DataFrame) = {
    val merges = sessionMemo(bpeMerges, s, d) {
      // the memo keeps only the merges — see stateOf
      val m = graft.ops.Bpe.train(Tables.documents(s, d))._1
      // loud guard (ADVICE r6): the fixed-round DuckDB oracle's CTE chain
      // always runs DefaultRounds rounds — if training exhausts the corpus
      // early, the oracle's replace() NULLs every segmentation and the
      // ta_bpe_* gates would silently diverge. Fail here instead.
      require(m.size == graft.ops.Bpe.DefaultRounds,
        s"BPE training exhausted after ${m.size} of " +
          s"${graft.ops.Bpe.DefaultRounds} rounds on $d — the fixed-round " +
          "oracle would diverge; shrink rounds or grow the corpus")
      m
    }
    (merges, graft.ops.Bpe.stateOf(Tables.documents(s, d), merges))
  }

  /** Trained classifier weights memoized per (session, sf dir) — same
    * shape as [[bpeModel]]: the memo holds plain fixed-point longs (weak
    * key stays collectable), the 32-round training runs once per dir and
    * lands in the gate's cold run (the sanctioned build/apply split). */
  private val clfWeights = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, Seq[Long]]]()
  private def classifierWeights(s: SparkSession, d: String): Seq[Long] =
    sessionMemo(clfWeights, s, d) {
      graft.ops.Classifier.train(SharedCorpus.docsTok(s, d)).last
    }

  /** Which gates each stored family vouches for, for the sweep-wide
    * stamp audit: after the full gate sweep, `graft.Verify` runs
    * [[graft.sources.Formats.stampAudit]] on every family the catalog
    * holds ([[graft.sources.Formats.auditableFamilies]] — each manifest
    * names its own id layout) and WITHHOLDS a failing family's gates, so
    * the one silent-corruption case the manifest contract admits (an
    * overlapping or duplicated append) is detectable engine-wide for the
    * cost of one id-column scan per family.
    *
    * Entry: (family table prefix, gate-name prefixes). A failing family
    * that no entry names withholds every gate. */
  def auditGates: Seq[(String, Seq[String])] = Seq(
    "graft_lsh_idx" -> Seq("ann_lsh_indexed", "ann_lsh_topk", "ann_recall_lsh",
      "fmt_index_manifest", "fmt_stamp_audit", "sim_neardup_lsh"),
    "graft_lsh_incr" -> Seq("ann_lsh_indexed_incr"),
    "graft_lsh_prg" -> Seq("ann_lsh_purged"),
    "graft_hemb_lsh_idx" -> Seq("ann_hash_embed_lsh", "ta_hybrid_indexed", "ta_hybrid_many"),
    "graft_sq_codes" -> Seq("ann_sq_", "ann_recall_sq"),
    "graft_ivf_idx" -> Seq("ann_ivf_indexed", "ann_ivf_topk", "ann_recall_ivf",
      "ann_cluster_sample_indexed", "dedup_semantic",
      "ann_maxsim_indexed", "ann_recall_maxsim"),
    "graft_ivf_incr" -> Seq("ann_ivf_indexed_incr"),
    "graft_ivf_prg" -> Seq("ann_ivf_purged"),
    "graft_ivf64" -> Seq("ann_nprobe_cal"),
    "graft_pq_idx" -> Seq("ann_pq_indexed"),
    "graft_pq_incr" -> Seq("ann_pq_indexed_incr"),
    "graft_ivfpq_idx" -> Seq("ann_ivfpq_indexed", "ann_ivfpq_many", "ann_ivfpq_refine",
      "ann_recall_ivfpq", "ann_recall_refine", "ann_nprobe_target"),
    "graft_ivfpq_incr" -> Seq("ann_ivfpq_indexed_incr"),
    "graft_ivfpq_prg" -> Seq("ann_ivfpq_purged"),
    "graft_vec_store" -> Seq("ann_ivfpq_refine", "ann_recall_refine",
      "ann_maxsim_indexed", "ann_recall_maxsim"),
    "graft_bm25_idx" -> Seq("ta_bm25_indexed", "ta_bm25_many", "ta_hybrid_indexed",
      "ta_hybrid_many", "ta_filter_funnel"),
    "graft_bm25_incr" -> Seq("ta_bm25_indexed_incr"),
    "graft_bm25_cpt" -> Seq("ta_bm25_compacted"),
    "graft_bm25_prg" -> Seq("ta_bm25_purged"),
    "graft_band_idx" -> Seq("dedup_cross_indexed"),
    "graft_band_incr" -> Seq("dedup_cross_indexed_incr"),
    "graft_band_prg" -> Seq("dedup_cross_purged"),
    "graft_band_daily" -> Seq("pipeline_daily_batch", "pipeline_daily_bloom"),
    "graft_sdaily_band_" -> Seq("stream_pipeline_daily"),
    "graft_comp_band" -> Seq("dedup_components_incr"),
    "graft_comp_tbl" -> Seq("dedup_components_incr"),
    "graft_comp_prg" -> Seq("dedup_components_purged", "sample_split_purged"),
    "graft_forget_band" -> Seq("curation_forget"),
    "graft_fuzzy_idx" -> Seq("join_fuzzy_indexed"),
    "graft_fuzzy_incr" -> Seq("join_fuzzy_indexed_incr"),
    "graft_fuzzy_prg" -> Seq("join_fuzzy_purged"),
    "graft_phash_idx" -> Seq("mm_phash_indexed"),
    "graft_phash_incr" -> Seq("mm_phash_indexed_incr"),
    "graft_phash_prg" -> Seq("mm_phash_purged"),
    "graft_shard_plan" -> Seq("pack_epoch_indexed"),
    // split lifecycle: one-shot full clustering behind
    // sample_split_indexed; yesterday-corpus band+components merged with
    // the daily batch behind the incr/drift pair; the published
    // assignment keeps yesterday's stamp (it is NOT republished by the
    // gate — the drift audit reads it as the immutable prior)
    "graft_split_full" -> Seq("sample_split_indexed"),
    "graft_split_band" -> Seq("sample_split_incr", "sample_split_drift_indexed"),
    "graft_split_comp" -> Seq("sample_split_incr", "sample_split_drift_indexed"),
    "graft_split_assign" -> Seq("sample_split_drift_indexed"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wordcount" -> ((s, d) => TextOps.wordCount(Tables.documents(s, d))),
    "tokens_per_doc" -> ((s, d) => TextOps.tokensPerDoc(Tables.documents(s, d))),
    "q1_pricing_summary" -> Relational.q1PricingSummary,
    // typed map/reduce surface (reference M1/R1/R2) — same oracle as wordcount
    "mapreduce_wordcount" -> ((s, d) => {
      import s.implicits._
      MapReduce.wordCountJob(Tables.documents(s, d).select("text").as[String])
        .toDF("word", "cnt").orderBy("word")
    }),
    // M3+M4: predicate filter + projection, pushed into the parquet scan
    "filter_project" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(col("lang") === "en" && col("n_chars") > lit(200))
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")),
    // P1: hash-partition demo with a portable bucketing function
    "partition_hist" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(pmod(col("doc_id"), lit(8)).as("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("bucket")),
    // R3 + top-k: global sort with deterministic tiebreak, then limit
    "sort_topk" -> ((s, d) =>
      Tables.orders(s, d)
        .orderBy(desc("o_totalprice"), col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")),
    // distinct (absent in reference; trivial map/reduce job there)
    "distinct_flags" -> ((s, d) =>
      Tables.lineitem(s, d)
        .select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")),
    // joins — all absent in the reference (single-input dataflow)
    "join_broadcast_segment" -> Relational.revenueBySegment,
    "join_multi_region" -> Relational.acctbalByRegion,
    "join_semi_customers" -> Relational.customersWithOrders,
    "join_anti_customers" -> Relational.customersWithoutOrders,
    "join_asof_last_order" -> Relational.lastOrderAsOfEvent,
    "join_asof_union" -> Relational.lastOrderAsOfEventUnion,
    // NEAREST as-of (pandas merge_asof direction='nearest'): closest
    // order in either direction, equidistant ties backward — the
    // union-window plan checked against the oracle's independent
    // per-event argmin formulation
    "join_asof_nearest" -> Relational.nearestOrderAsOfEvent,
    "join_range_event_pairs" -> Relational.eventPairsWithinHour,
    // fuzzy string self-join (entity resolution): edit-distance<=1 name
    // pairs via positional-q-gram prefix filtering — the oracle is the
    // BRUTE-FORCE all-pairs levenshtein, so the gate proves the
    // prefix-filter candidate generation is COMPLETE, not just fast
    "join_fuzzy_names" -> ((s, d) =>
      Relational.fuzzyJoinPairs(Tables.customer(s, d), "c_custkey", "c_name")),
    // serving half: master keys indexed ONCE (rarest-gram prefix rows
    // bucketed on the gram, rarity model frozen), the batch probes
    // without re-indexing the corpus — same brute-force-oracle
    // completeness proof, cross-set
    "join_fuzzy_indexed" -> ((s, d) => {
      buildOnce(s"fuzzyidx:$d") {
        Relational.buildFuzzyIndex(
          Tables.customer(s, d).filter(col("c_custkey") % 2 === 0),
          "c_custkey", "c_name", "graft_fuzzy_idx")
      }
      Relational.fuzzyJoinIndexed(s,
        Tables.customer(s, d).filter(col("c_custkey") % 2 === 1),
        "c_custkey", "c_name", "graft_fuzzy_idx")
    }),
    // forget half: %10==0 masters purged from the index (a subset of
    // the built evens); the probe must never match a purged master —
    // the oracle is the brute force over SURVIVING masters only
    "join_fuzzy_purged" -> ((s, d) => {
      buildOnce(s"fuzzyidx_purged:$d") {
        val cust = Tables.customer(s, d)
        Relational.buildFuzzyIndex(cust.filter(col("c_custkey") % 2 === 0),
          "c_custkey", "c_name", "graft_fuzzy_prg")
        Relational.purgeFromFuzzyIndex(s, "graft_fuzzy_prg",
          cust.filter(col("c_custkey") % 10 === 0)
            .select(col("c_custkey").as("id")))
      }
      Relational.fuzzyJoinIndexed(s,
        Tables.customer(s, d).filter(col("c_custkey") % 2 === 1),
        "c_custkey", "c_name", "graft_fuzzy_prg")
    }),
    // incremental variant: half the master table bulk-built, half
    // APPENDED as identical masked-key rows — same oracle
    "join_fuzzy_indexed_incr" -> ((s, d) => {
      buildOnce(s"fuzzyidx_incr:$d") {
        val cust = Tables.customer(s, d)
        Relational.buildFuzzyIndex(cust.filter(col("c_custkey") % 4 === 0),
          "c_custkey", "c_name", "graft_fuzzy_incr")
        Relational.appendToFuzzyIndex(cust.filter(col("c_custkey") % 4 === 2),
          "c_custkey", "c_name", "graft_fuzzy_incr")
      }
      Relational.fuzzyJoinIndexed(s,
        Tables.customer(s, d).filter(col("c_custkey") % 2 === 1),
        "c_custkey", "c_name", "graft_fuzzy_incr")
    }),
    "q3_shipping_priority" -> Relational.q3ShippingPriority,
    "q5_local_supplier" -> Relational.q5LocalSupplierVolume,
    "q6_forecast_revenue" -> Relational.q6ForecastRevenue,
    "q9_product_profit" -> Relational.q9ProductProfit,
    "q14_promo_revenue" -> Relational.q14PromoRevenue,
    // the second TPC-H wave: correlated EXISTS (Q4), double-aliased
    // dimension (Q7), deterministic top-N report (Q10), outer-join zero
    // bucket (Q13), decorrelated avg subquery (Q17), aggregate-then-join
    // HAVING (Q18), disjunctive single-scan predicate (Q19), scalar
    // threshold + NOT EXISTS (Q22)
    "q4_order_priority" -> Relational.q4OrderPriority,
    "q7_volume_shipping" -> Relational.q7VolumeShipping,
    "q10_returned_items" -> Relational.q10ReturnedItems,
    "q13_order_distribution" -> Relational.q13OrderDistribution,
    "q17_small_qty_revenue" -> Relational.q17SmallQtyRevenue,
    "q18_large_volume" -> Relational.q18LargeVolume,
    "q19_disjunctive_revenue" -> Relational.q19DisjunctiveRevenue,
    "q22_idle_customers" -> Relational.q22IdleCustomers,
    // third wave: multi-EXISTS decorrelation (Q21), correlated scalar min
    // (Q2), group-HAVING over a global scalar (Q11), view-over-aggregate
    // max (Q15)
    "q21_waiting_suppliers" -> Relational.q21WaitingSuppliers,
    "q2_min_cost_supplier" -> Relational.q2MinCostSupplier,
    "q11_important_parts" -> Relational.q11ImportantParts,
    "q15_top_supplier" -> Relational.q15TopSupplier,
    // fourth wave (completes the expressible TPC-H shape set): conditional
    // share-of-aggregate (Q8), fact-join conditional counts (Q12), NOT-IN
    // + grouped COUNT DISTINCT (Q16), nested IN with a decorrelated
    // correlated-scalar threshold (Q20)
    "q8_market_share" -> Relational.q8MarketShare,
    "q12_ship_priority" -> Relational.q12ShipPriority,
    "q16_supplier_count" -> Relational.q16SupplierCount,
    "q20_excess_share" -> Relational.q20ExcessShare,
    // window functions
    "window_top3_orders" -> Relational.top3OrdersPerCustomer,
    "window_running_qty" -> Relational.runningQtyPerSupplier,
    "window_moving_avg" -> Relational.movingAvgEventValue,
    "window_navigation" -> Relational.windowNavigation,
    "window_range_frame" -> Relational.trailingHourStats,
    "window_rank_stats" -> Relational.windowRankStats,
    // SQL three-valued logic surface
    "null_handling_sampler" -> Relational.nullHandlingSampler,
    "null_agg_counts" -> Relational.nullAggCounts,
    // salted-join twin of join_broadcast_segment — same oracle, skew-safe plan
    "skew_salted_revenue" -> Relational.saltedRevenueBySegment,
    "percentiles_qty" -> Relational.percentilesQty,
    // exact per-group equi-depth histogram (data profiling — equal-count
    // buckets survive skew where equal-width collapses); per-group sorts,
    // never a global one
    "agg_equidepth_hist" -> ((s, d) => Relational.equiDepthHistogram(s, d)),
    // STORED equi-width histogram (r15): the mergeable QUANTILE artifact
    // next to the HLL and CMS lifecycles — per-(flag, price-bin) counter
    // rows, quantile probe = first bin whose cumulative count reaches
    // ceil(pq%·N), exact integer arithmetic over the bounded bin
    // relation; the oracle replays the estimate bucket for bucket
    "agg_hist_quantiles_indexed" -> ((s, d) => {
      buildOnce(s"hist:$d") {
        Relational.buildHistIndex(Tables.lineitem(s, d), "graft_hist_idx")
      }
      Relational.histQuantiles(s, "graft_hist_idx")
    }),
    // ingest lifecycle: orderkey-split halves built + APPENDED as counter
    // deltas, compacted by the bucketed ping-pong rewrite — counter
    // addition is exact, so the probe matches the one-shot build and the
    // gate shares the family oracle
    "agg_hist_quantiles_incr" -> ((s, d) => {
      buildOnce(s"hist_incr:$d") {
        val li = Tables.lineitem(s, d)
        Relational.buildHistIndex(li.filter(col("l_orderkey") % 2 === 0), "graft_hist_incr")
        Relational.appendToHistIndex(li.filter(col("l_orderkey") % 2 =!= 0), "graft_hist_incr")
        Relational.compactHistIndex(s, "graft_hist_incr")
      }
      Relational.histQuantiles(s, "graft_hist_incr")
    }),
    // sketch quantiles: the VALUES are engine-specific, so the gate hashes
    // the error-bound booleans instead (oracle asserts literal 1s);
    // SketchSpec additionally bounds it against the exact version
    "agg_approx_quantiles" -> Relational.approxQuantilesQty,
    "pivot_status" -> Relational.pivotStatusByPriority,
    "unpivot_measures" -> Relational.unpivotOrderMeasures,
    "setops_all_variants" -> Relational.setOpsAllVariants,
    "array_agg_statuses" -> Relational.arrayAggStatuses,
    "string_funcs_sampler" -> Relational.stringFuncsSampler,
    // multi-dimensional aggregation
    "rollup_flag_status" -> Relational.rollupFlagStatus,
    "cube_status_priority" -> Relational.cubeStatusPriority,
    "grouping_sets_docs" -> Relational.groupingSetsDocs,
    // set operations
    "setops_custkeys" -> Relational.setOpsCustkeys,
    // scalar / temporal / JSON function surface
    "scalar_sampler" -> Relational.scalarSampler,
    "json_extract_events" -> Relational.jsonExtractEvents,
    // the VARIANT twin: parse once into the binary encoding, typed path
    // gets after — plus the try_variant_get missing-path NULL contract
    "json_variant_events" -> Relational.jsonVariantEvents,
    "orders_per_month" -> Relational.ordersPerMonth,
    // declarative expectations: one report row per data-contract check
    // with exact violation counts — row-local checks share ONE scan,
    // uniqueness is the key shuffle, FK is a broadcast anti join
    "fmt_expectations" -> Relational.expectationReport,
    // ordered funnel: earliest per-step completion IN SEQUENCE (click
    // counts only after first view, purchase only after that click);
    // every stage keyed on user_id so the partitioning is established
    // once and reused
    "events_funnel" -> ((s, d) => Relational.eventFunnel(s, d)),
    // retention cohorts: first-seen-day cohort x 7-day offset buckets
    // (integer day arithmetic, no calendar-week engine skew)
    "events_retention" -> ((s, d) => Relational.retentionCohorts(s, d)),
    // ingest-volume anomaly: >3-sigma daily spikes per event type, the
    // z-test cross-multiplied to exact integers (no float sigma)
    "events_anomaly_days" -> Relational.eventAnomalyDays,
    // deployment form of the anomaly monitor: per-type baseline MOMENTS
    // (n, Σx, Σx²) stored with build/append/manifest — additive over
    // day-disjoint batches — and the probe days flagged against them
    // with no corpus rescan; streaming twin is a stateless join
    "events_anomaly_indexed" -> ((s, d) => {
      buildOnce(s"anom:$d") {
        val ev = Tables.events(s, d)
        Relational.buildAnomalyBaseline(
          ev.filter(col("ts") < lit("2024-01-11")), "graft_anom_base")
        Relational.appendToAnomalyBaseline(
          ev.filter(col("ts") >= lit("2024-01-11") && col("ts") < lit("2024-01-21")),
          "graft_anom_base")
      }
      Relational.anomalyFlagIndexed(s, "graft_anom_base",
        Relational.dailyCounts(
          Tables.events(s, d).filter(col("ts") >= lit("2024-01-21"))))
    }),
    // market-basket pair mining: order-local self-join, basket-bounded
    "agg_copurchase_pairs" -> ((s, d) => Relational.coPurchasePairs(s, d)),
    // two-proportion A/B readout: |z| > 2 cross-multiplied to exact
    // integers, arm split by user-id parity
    "events_ab_test" -> Relational.abTestReport,
    // Pareto/ABC: cumulative revenue share over the AGGREGATED parts,
    // 80% verdict cross-multiplied to integers
    "agg_pareto_parts" -> ((s, d) => Relational.paretoParts(s, d)),
    // Markov transition counts: consecutive event pairs per user,
    // event_id tiebreak for same-timestamp determinism
    "events_transitions" -> Relational.eventTransitions,
    // winsorized robust stats: exact integer [P10, P90] order statistics
    // by histogram selection (no per-group sort), clamped sum off the
    // histogram itself — oracle is the rank formulation
    "agg_winsorized_stats" -> Relational.winsorizedPriceStats,
    // exact sliding-window distinct (WAU): bounded x7 contribution
    // explode, two key shuffles — distinct doesn't decompose over frames
    "events_rolling_wau" -> Relational.rollingActiveUsers,
    // per-node triangle counts, degree-ordered orientation (out-degree
    // bounded by O(sqrt m)); oracle is the naive canonical triple join
    "agg_triangle_counts" -> ((s, d) => Relational.triangleCounts(s, d)),
    // profile as a MERGEABLE stored artifact: per-batch column stats
    // folded at probe (sums/min/max/HLL union) — the growing-table
    // profiling story; half built, half appended, fold == one-shot
    "fmt_profile_incr" -> ((s, d) => {
      buildOnce(s"profidx:$d") {
        val o = Tables.orders(s, d)
        Relational.buildProfileIndex(o.filter(col("o_orderkey") % 2 === 0), "graft_prof_incr")
        Relational.appendToProfileIndex(o.filter(col("o_orderkey") % 2 =!= 0), "graft_prof_incr")
      }
      Relational.profileFromIndex(s, "graft_prof_incr", Tables.orders(s, d))
    }),
    // generation-to-generation profile drift: added/removed columns as
    // unmatched full-outer rows, value drift side-by-side
    "fmt_schema_drift" -> Relational.schemaDrift,
    // north-star: text analysis (SURVEY §2c)
    "ta_token_stats" -> ((s, d) => TextAnalysis.tokenStats(SharedCorpus.docsTok(s, d))),
    "ta_lang_id" -> ((s, d) => TextAnalysis.langId(SharedCorpus.docsTok(s, d))),
    "ta_quality" -> ((s, d) => TextAnalysis.qualityScore(SharedCorpus.docsTok(s, d))),
    "ta_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(Tables.documents(s, d))),
    "ta_tfidf" -> ((s, d) => TextAnalysis.tfIdf(SharedCorpus.docsTok(s, d))),
    "ta_approx_distinct" -> ((s, d) => TextAnalysis.approxDistinctWords(SharedCorpus.docsTok(s, d))),
    // count-min-sketch heavy hitters: exact top-50 words hash-compared,
    // the mergeable sketch's never-underestimates + <= exact + 2εN
    // accuracy contract as deterministic booleans (the third sketch
    // family next to HLL distinct and KLL quantiles)
    "ta_heavy_hitters" -> ((s, d) => TextAnalysis.heavyHittersCms(SharedCorpus.docsTok(s, d))),
    // STORED count-min sketch (r15): the frequency sketch as a persisted
    // RELATION — (d, slot, cnt) counter rows merged by grouped sum,
    // probed by one broadcast join of the ≤ depth·width folded sketch —
    // so the ESTIMATE itself is oracle-replayed slot for slot (strictly
    // stronger than ta_heavy_hitters' accuracy booleans). Probe reads
    // only the stored sketch; the exact side exists for the oracle
    "ta_heavy_hitters_indexed" -> ((s, d) => {
      buildOnce(s"cms:$d") {
        TextAnalysis.buildCmsIndex(SharedCorpus.docsTok(s, d), "graft_cms_idx")
      }
      TextAnalysis.heavyHittersFromCms(s, SharedCorpus.docsTok(s, d), "graft_cms_idx")
    }),
    // ingest lifecycle: half built, half APPENDED as counter-row deltas,
    // then compacted back to one row per slot (ping-pong rewrite) — CMS
    // merge is counter ADDITION, so append+compact == one-shot exactly
    // and the gate shares the family oracle (SketchSpec pins bit-equality)
    "ta_heavy_hitters_incr" -> ((s, d) => {
      buildOnce(s"cms_incr:$d") {
        val all = SharedCorpus.docsTok(s, d)
        TextAnalysis.buildCmsIndex(all.filter(col("doc_id") % 2 === 0), "graft_cms_incr")
        TextAnalysis.appendToCmsIndex(all.filter(col("doc_id") % 2 =!= 0), "graft_cms_incr")
        TextAnalysis.compactCmsIndex(s, "graft_cms_incr")
      }
      TextAnalysis.heavyHittersFromCms(s, SharedCorpus.docsTok(s, d), "graft_cms_incr")
    }),
    // vocabulary dispersion: exact-integer Gini rational + 6-decimal
    // quantized Shannon entropy per source — the template-mill signals
    "ta_vocab_dispersion" -> ((s, d) =>
      TextAnalysis.vocabDispersion(SharedCorpus.docsTok(s, d))),
    // STORED Datasketches-HLL distinct counts: the sketch as a persisted
    // mergeable artifact with the family build/append/manifest lifecycle;
    // probe unions KB-sized sketch rows, never rescans the corpus
    "ta_distinct_hll_indexed" -> ((s, d) => {
      buildOnce(s"hll:$d") {
        TextAnalysis.buildHllIndex(SharedCorpus.docsTok(s, d), "graft_hll_idx")
      }
      TextAnalysis.hllDistinctIndexed(s, SharedCorpus.docsTok(s, d), "graft_hll_idx")
    }),
    // incremental variant: half built, half APPENDED as sketch deltas —
    // HLL union == sketch-of-union exactly (register max), so the probe
    // answers identically to the one-shot build (SketchSpec pins the
    // estimates bit-equal) and shares the family oracle
    "ta_distinct_hll_incr" -> ((s, d) => {
      buildOnce(s"hll_incr:$d") {
        val all = SharedCorpus.docsTok(s, d)
        TextAnalysis.buildHllIndex(all.filter(col("doc_id") % 2 === 0), "graft_hll_incr")
        TextAnalysis.appendToHllIndex(all.filter(col("doc_id") % 2 =!= 0), "graft_hll_incr")
      }
      TextAnalysis.hllDistinctIndexed(s, SharedCorpus.docsTok(s, d), "graft_hll_incr")
    }),
    // adjacency-exact phrase matching — the retrieval primitive
    // bag-of-terms BM25 cannot express; zero-shuffle position scan
    "ta_phrase_search" -> ((s, d) =>
      TextAnalysis.phraseSearch(SharedCorpus.docsTok(s, d), Seq("table", "hash"))),
    // corpus drift monitor: top words by exact cross-multiplied relative-
    // frequency movement between the %2 corpus halves
    "ta_dist_drift" -> ((s, d) => {
      val all = SharedCorpus.docsTok(s, d)
      TextAnalysis.distributionDrift(
        all.filter(col("doc_id") % 2 === 0), all.filter(col("doc_id") % 2 =!= 0))
    }),
    "ta_curation_pipeline" -> ((s, d) => TextAnalysis.curationPipeline(SharedCorpus.docsTok(s, d))),
    // one-pass audit counters: the curation filter's input/survivor/token
    // metrics ride the SAME pass via the Observation API — no second scan
    "audit_observe" -> ((s, d) =>
      TextAnalysis.observedCurationCounters(SharedCorpus.docsTok(s, d))),
    // hashing-trick text→vector featurization (signed feature hashing):
    // exact-integer votes, one IEEE normalize — gate is the long form
    // (doc, dim, weight) so every float crosses the oracle bit-compared
    // Ordering: a single-partition sort, NOT orderBy — a range sort's
    // bound-sampling pass re-executes the whole embed chain (uncacheable
    // inside a gate), doubling this dump's cost; one partition of the
    // 320k-row long form is the same sizing Verify's coalesce(1) write
    // applies anyway. Row order is identical either way.
    // (r18: measured the unsorted form at 1.84 s vs 1.64 s for this one —
    // the single-partition sort is NOT the bottleneck here, the embed agg
    // is — so the original shape stays)
    "ta_hash_embed" -> ((s, d) =>
      TextAnalysis.hashEmbed(SharedCorpus.docsTok(s, d))
        .select(col("doc_id"), posexplode(col("embedding")).as(Seq("dim_idx", "weight")))
        .select(col("doc_id"), col("dim_idx").cast("long").as("dim_idx"), col("weight"))
        .repartition(1).sortWithinPartitions("doc_id", "dim_idx")),
    // the composition the featurizer exists for: clean text → hash-embed →
    // LSH ANN, end-to-end from the corpus with no given embeddings table.
    // The embed pass is materialized once (buildOnce — the sanctioned
    // build/apply split, VERDICT r8 item 2): steady runs measure the LSH
    // banding + probe over the STORED vectors, the featurization cost
    // lands in the cold run. Same oracle — the table changes where the
    // vectors come from, not their values.
    "ann_hash_embed_lsh" -> ((s, d) => {
      ensureHembTable(s, d)
      Similarity.lshTopK(s.table("graft_hemb"), col("vec_id") < 10)
    }),
    "ta_top_bigrams" -> ((s, d) => TextAnalysis.topBigrams(SharedCorpus.docsTok(s, d))),
    // BM25 ranked keyword search — the sparse-lexical half of the
    // retrieval stack (hash-embed + LSH is the dense half): top-20 docs
    // for a 3-term query, 6-decimal-rounded scores, doc_id tiebreak
    "ta_bm25_search" -> ((s, d) =>
      TextAnalysis.bm25Search(SharedCorpus.docsTok(s, d), Seq("spark", "window", "join"))),
    // hybrid retrieval: reciprocal-rank fusion of the BM25 term ranking
    // and the exact dense cosine ranking against doc 0's hash-embed
    // vector — both candidate lists capped before the fusion join
    "ta_hybrid_search" -> ((s, d) =>
      TextAnalysis.hybridSearch(SharedCorpus.docsTok(s, d), Seq("spark", "window", "join"))),
    // the PRODUCTION hybrid path (VERDICT r7/r8 item 1): both retrieval
    // halves probe their persisted indexes — BM25 reads only the query
    // terms' postings (bucket-pruned on word), dense reads only the query
    // vector's band buckets of the LSH index over the stored hash-embed
    // table — then the same RRF tail fuses them. Per-query cost is
    // O(postings + buckets), no corpus scan, no re-featurization. The
    // dense ranks are the LSH probe's, so the oracle replays the banding.
    "ta_hybrid_indexed" -> ((s, d) => {
      ensureBm25Index(s, d)
      ensureHembLshIndex(s, d)
      TextAnalysis.hybridSearchIndexed(s, "graft_bm25_idx", "graft_hemb_lsh_idx",
        Seq("spark", "window", "join"))
    }),
    // the query-MANY serving shape: a three-query workload through ONE
    // plan — one bucket-pruned posting scan for the union of terms, one
    // multi-query LSH probe, per-query RRF — each query's ranking
    // identical to its single-query run (the oracle replays all three)
    "ta_hybrid_many" -> ((s, d) => {
      ensureBm25Index(s, d)
      ensureHembLshIndex(s, d)
      TextAnalysis.hybridSearchManyIndexed(s, "graft_bm25_idx",
        "graft_hemb_lsh_idx", hybridWorkload)
    }),
    // build/query split: posting lists persisted ONCE bucketed on word,
    // probe reads only the query terms' postings (same oracle as
    // ta_bm25_search — the index changes where postings come from, not
    // the answer). buildOnce: the gate times the probe after run one.
    "ta_bm25_indexed" -> ((s, d) => {
      ensureBm25Index(s, d)
      TextAnalysis.bm25SearchIndexed(s, "graft_bm25_idx", Seq("spark", "window", "join"))
    }),
    // the standalone query-many sparse probe: the whole keyword workload
    // through one bucket-pruned posting scan, per-query top-k — each
    // query's ranking identical to its single-query run
    "ta_bm25_many" -> ((s, d) => {
      ensureBm25Index(s, d)
      TextAnalysis.bm25SearchManyIndexed(s, "graft_bm25_idx", hybridWorkload)
    }),
    // the maintenance step of the append lifecycle: half bulk-built, half
    // appended (files accumulate per batch), then compacted back to one
    // file per bucket — the probe answers identically over the compacted
    // layout, so the gate shares the direct search's oracle; what changed
    // is the file count every future probe pays for
    "ta_bm25_compacted" -> ((s, d) => {
      buildOnce(s"bm25_compact:$d") {
        val docs = SharedCorpus.docsTok(s, d)
        TextAnalysis.buildBm25Index(docs.filter(col("doc_id") % 2 === 0), "graft_bm25_cpt")
        TextAnalysis.appendToBm25Index(docs.filter(col("doc_id") % 2 =!= 0), "graft_bm25_cpt")
        graft.sources.Formats.compactBucketed(s, "graft_bm25_cpt")
      }
      TextAnalysis.bm25SearchIndexed(s, "graft_bm25_cpt", Seq("spark", "window", "join"))
    }),
    // incremental-ingest variant: two doc-disjoint batches, bulk build +
    // append; df is probe-derived and stats merge by integer addition, so
    // the two-batch index shares the one-shot oracle
    "ta_bm25_indexed_incr" -> ((s, d) => {
      buildOnce(s"bm25_incr:$d") {
        val docs = SharedCorpus.docsTok(s, d)
        TextAnalysis.buildBm25Index(docs.filter(col("doc_id") % 3 =!= 0), "graft_bm25_incr")
        TextAnalysis.appendToBm25Index(docs.filter(col("doc_id") % 3 === 0), "graft_bm25_incr")
      }
      TextAnalysis.bm25SearchIndexed(s, "graft_bm25_incr", Seq("spark", "window", "join"))
    }),
    // delete-propagation variant: full build, then a forget set purged
    // from the postings with the _stats row decremented and the manifest
    // stamp folded out — every query must score exactly as an index of
    // the filtered corpus would (df, N, avgdl all shift), which is what
    // the filtered-corpus oracle replays
    "ta_bm25_purged" -> ((s, d) => {
      buildOnce(s"bm25_purge:$d") {
        val docs = SharedCorpus.docsTok(s, d)
        TextAnalysis.buildBm25Index(docs, "graft_bm25_prg")
        TextAnalysis.purgeFromBm25Index(s, "graft_bm25_prg",
          docs.filter(col("doc_id") % 7 === 3).select("doc_id"))
      }
      TextAnalysis.bm25SearchIndexed(s, "graft_bm25_prg", Seq("spark", "window", "join"))
    }),
    // BPE vocabulary training (k-means-style replayed loop): the merge
    // table, top-word segmentations, and corpus application after 8 greedy
    // merge rounds. ONE training per (process, sf dir) serves all three
    // gates — the sanctioned build-once/apply-many split of the indexed-ANN
    // gates (VERDICT r5): training cost lands in the first gate's cold run,
    // steady runs measure the derived queries
    "ta_bpe_merges" -> ((s, d) => Bpe.mergeTableOf(s, bpeModel(s, d)._1)),
    "ta_bpe_segments" -> ((s, d) => Bpe.segmentsOf(bpeModel(s, d)._2)),
    "ta_bpe_tokenize" -> ((s, d) =>
      Bpe.tokenizeWithVocabOf(Tables.documents(s, d), bpeModel(s, d)._2)),
    // cross-process persisted BPE model (r11): the merge table published
    // once with its build manifest, tokenization replayed from the STORED
    // merges — the classifier/LM publish-the-artifact lifecycle applied
    // to the BPE trainer; shares the train-per-call twin's oracle
    "ta_bpe_indexed" -> ((s, d) => {
      buildOnce(s"bpe_model:$d") {
        Bpe.buildBpeModel(Tables.documents(s, d), "graft_bpe_model")
      }
      Bpe.tokenizeWithStoredVocab(s, Tables.documents(s, d), "graft_bpe_model")
    }),
    // per-source curation funnel: survivors of each successive filter
    // stage (quality ≥ 0.6 → lang = en → dup-2-gram ≤ 0.05), exact counts
    "ta_filter_funnel" -> ((s, d) => TextAnalysis.filterFunnel(SharedCorpus.docsTok(s, d))),
    // Gopher-style within-document repetition filters: duplicate-2/3-gram
    // occurrence fractions + top-2-gram share (exact integer counts, IEEE
    // division — no rounding)
    "ta_repetition" -> ((s, d) => TextAnalysis.repetitionStats(SharedCorpus.docsTok(s, d))),
    // CCNet-style bigram-LM quality scoring: add-one-smoothed corpus-trained
    // model, per-doc mean log P(w_i | w_{i-1}); oracle replays the full
    // train-then-score loop
    "ta_lm_score" -> ((s, d) => TextAnalysis.lmScore(SharedCorpus.docsTok(s, d))),
    // build/score split for the LM: exact-integer count tables + vocab
    // stored once, the probe's only corpus pass is the scored docs' bigram
    // projection — bit-identical to the train-per-call form (same oracle)
    "ta_lm_indexed" -> ((s, d) => {
      buildOnce(s"lm:$d") {
        TextAnalysis.buildLmModel(SharedCorpus.docsTok(s, d), "graft_lm_model")
      }
      TextAnalysis.lmScoreIndexed(s, SharedCorpus.docsTok(s, d), "graft_lm_model")
    }),
    // incremental-ingest variant: half the corpus bulk-built, the other
    // half APPENDED as count DELTAS that the probe folds exchange-free
    // per bucket — within-doc bigram counts are exactly additive across
    // doc-disjoint batches and the vocab is a stored SET, so the
    // two-batch model scores bit-identically to the one-shot build and
    // shares its oracle (r11 — the last build/score family without an
    // append path)
    "ta_lm_indexed_incr" -> ((s, d) => {
      buildOnce(s"lm_incr:$d") {
        val all = SharedCorpus.docsTok(s, d)
        TextAnalysis.buildLmModel(all.filter(col("doc_id") % 2 === 0), "graft_lm_incr")
        TextAnalysis.appendToLmModel(all.filter(col("doc_id") % 2 =!= 0), "graft_lm_incr")
      }
      TextAnalysis.lmScoreIndexed(s, SharedCorpus.docsTok(s, d), "graft_lm_incr")
    }),
    // maintenance variant: build + delta-append + MERGING compaction (the
    // fold materialized once, one file per bucket) — scores identical, so
    // the gate shares the family oracle; the probe it times folds a
    // single aggregated delta per key
    "ta_lm_compacted" -> ((s, d) => {
      buildOnce(s"lm_cpt:$d") {
        val all = SharedCorpus.docsTok(s, d)
        TextAnalysis.buildLmModel(all.filter(col("doc_id") % 2 === 0), "graft_lm_cpt")
        TextAnalysis.appendToLmModel(all.filter(col("doc_id") % 2 =!= 0), "graft_lm_cpt")
        TextAnalysis.compactLmModel(s, "graft_lm_cpt")
      }
      TextAnalysis.lmScoreIndexed(s, SharedCorpus.docsTok(s, d), "graft_lm_cpt")
    }),
    // TextRank keyword extraction: fixed-point PageRank over the word
    // co-occurrence graph, 8 damped iterations, fully distributed rank
    // state; the oracle replays every iteration as chained CTEs. The rank
    // table is computed once and stored (buildOnce — the sanctioned
    // build/apply split: a keyword table is compute-once/query-many, and
    // the 16-stage iteration cost stays visible in the cold run)
    "ta_textrank" -> ((s, d) => {
      buildOnce(s"textrank:$d") {
        Formats.writeManaged(TextAnalysis.textRank(SharedCorpus.docsTok(s, d)), "graft_textrank")
      }
      s.table("graft_textrank").orderBy(col("rank").desc, col("word"))
    }),
    // incremental graph ingest for TextRank (r11): the co-occurrence edge
    // DELTAS + node set built from one half and APPENDED from the other —
    // adjacency counts are within-doc additive, so the folded graph (and
    // hence the ranked fixed point, re-iterated over the vocab-scale
    // stored graph with NO corpus rescan) is bit-identical to the
    // one-shot extraction and shares ta_textrank's oracle
    "ta_textrank_incr" -> ((s, d) => {
      buildOnce(s"textrank_incr:$d") {
        val all = SharedCorpus.docsTok(s, d)
        TextAnalysis.buildTextRankEdges(all.filter(col("doc_id") % 2 === 0), "graft_tr_edges")
        TextAnalysis.appendToTextRankEdges(all.filter(col("doc_id") % 2 =!= 0), "graft_tr_edges")
        Formats.writeManaged(
          TextAnalysis.textRankIndexed(s, "graft_tr_edges"), "graft_textrank_incr")
      }
      s.table("graft_textrank_incr").orderBy(col("rank").desc, col("word"))
    }),
    // trained quality classifier (GPT-3/WebText pattern): 32 rounds of
    // fixed-point full-batch logistic GD, labels from the quality rule;
    // training memoized per (session, dir), the oracle replays every round
    "ta_quality_classifier" -> ((s, d) =>
      graft.ops.Classifier.scores(SharedCorpus.docsTok(s, d), classifierWeights(s, d))),
    // build/score split of the classifier (r11 — the LM/BM25/ANN lifecycle
    // applied to the last trained-model family without it): the GD sweep
    // persists once as a one-row weight table + build manifest; the gate
    // times scoring under the STORED model and shares the train-per-call
    // twin's oracle (same weights, same scores)
    "ta_clf_indexed" -> ((s, d) => {
      buildOnce(s"clf_model:$d") {
        graft.ops.Classifier.buildClassifierModel(SharedCorpus.docsTok(s, d), "graft_clf_model")
      }
      graft.ops.Classifier.scoresIndexed(s, SharedCorpus.docsTok(s, d), "graft_clf_model")
    }),
    // training-batch assembly: deterministic-shuffle concat-then-chunk
    // packing into fixed-token sequences (per-bucket independence), and a
    // per-source token-budget cut — both integer-exact cross-engine
    "pack_sequences" -> ((s, d) => Packing.packSequences(SharedCorpus.docsTok(s, d))),
    // NO-SPLIT packing (greedy next-fit per salted bucket): a document
    // never straddles a sequence boundary — the fine-tuning contract; the
    // oracle replays the whole per-bucket walk as a recursive CTE
    "pack_greedy" -> ((s, d) => Packing.packGreedy(SharedCorpus.docsTok(s, d))),
    // the packer's efficiency ledger: per packed sequence, docs held, fill
    // and wasted budget tokens (padding the trainer burns) — one map-side-
    // combined aggregate riding the greedy walk's own plan
    "pack_fill_stats" -> ((s, d) => Packing.packFillStats(SharedCorpus.docsTok(s, d))),
    // the dataloader-facing (shard, shard_pos) coordinates: seeded-hash
    // shard + within-shard rank = a reproducible global shuffle; a new
    // seed re-shuffles the same corpus for the next epoch
    "pack_shard_shuffle" -> ((s, d) =>
      Packing.shardShuffle(Tables.documents(s, d))),
    // the PUBLISHED epoch plan: shard coordinates stored bucketed on
    // `shard` with a build manifest; the gate reads one worker's shard
    // from the artifact — bucket-pruned, no corpus recompute
    "pack_epoch_indexed" -> ((s, d) => {
      buildOnce(s"shard_plan:$d") {
        Packing.buildShardPlan(s, Tables.documents(s, d), "graft_shard_plan")
      }
      Packing.readShardPlan(s, "graft_shard_plan", 3L)
    }),
    // curriculum ordering: shard shuffle with a quality-tier primary key —
    // each shard streams its cleanest tier first; the tier reuses the
    // hash-proven ta_quality score, so the oracle replays it exactly
    "pack_curriculum" -> ((s, d) =>
      Packing.curriculumShuffle(SharedCorpus.docsTok(s, d))),
    // source-interleaved shards: round-robin across sources within each
    // shard (every #sources-window touches a source at most once) — the
    // structural domain-mixing guarantee a plain shuffle only gives in
    // expectation
    "pack_interleave" -> ((s, d) =>
      Packing.interleaveShuffle(Tables.documents(s, d))),
    // the same no-split walk budgeted by the PUBLISHED BPE model's subword
    // counts (VERDICT r11 missing 1: training batches are measured in
    // tokenizer tokens) — stored-vocab tokenization composed with the
    // per-bucket walk; the oracle replays BOTH proven recipes end to end
    "pack_bpe_greedy" -> ((s, d) => {
      buildOnce(s"bpe_model:$d") {
        Bpe.buildBpeModel(Tables.documents(s, d), "graft_bpe_model")
      }
      Packing.packGreedyBpe(s, SharedCorpus.docsTok(s, d), "graft_bpe_model")
    }),
    // the concat-chunk sibling under the same stored-BPE counts (the
    // pretraining layout; greedy above is the no-split SFT layout)
    "pack_bpe_sequences" -> ((s, d) => {
      buildOnce(s"bpe_model:$d") {
        Bpe.buildBpeModel(Tables.documents(s, d), "graft_bpe_model")
      }
      Packing.packSequencesBpe(s, SharedCorpus.docsTok(s, d), "graft_bpe_model")
    }),
    "pack_token_budget" -> ((s, d) => Packing.tokenBudgetSample(SharedCorpus.docsTok(s, d))),
    // production form: hot source salted into 8 sub-strata with sub-budgets
    "pack_token_budget_salted" -> ((s, d) =>
      Packing.tokenBudgetSampleSalted(SharedCorpus.docsTok(s, d))),
    // RAG-style overlapping chunking (64-token windows, 48-token hop):
    // chunk positions + content fingerprints, one map pass
    "pack_chunks" -> ((s, d) => Packing.chunkDocuments(SharedCorpus.docsTok(s, d))),
    // epoch repeats under a 30k-token per-source budget: full epochs by
    // integer div, the fractional epoch as the hash-order prefix
    "pack_repeat_epochs" -> ((s, d) => Packing.repeatEpochs(SharedCorpus.docsTok(s, d))),
    // temperature-scaled source mixing (alpha = 0.5): per-source budgets
    // ∝ sqrt(source tokens), quantized at the source level, then the same
    // deterministic hash-order budget walk as pack_token_budget
    "pack_source_mix" -> ((s, d) => Packing.sourceMixSample(SharedCorpus.docsTok(s, d))),
    // Unicode NFC canonicalization via the codegen'd NfcNormalize
    // expression: the ASCII corpus is already canonical, so the gate
    // INJECTS doc_id-derived decomposed sequences (combining acute/ring/
    // diaeresis) and both engines must normalize AND fingerprint them
    // identically (JDK Normalizer vs DuckDB utf8proc)
    "ta_normalize" -> ((s, d) => {
      // DECOMPOSED sequences (base letter + combining mark, spelled as
      // escapes so the codepoints are visible): e+U+0301, A+U+030A,
      // o+U+0308 — NFC must compose them; oracle injects via chr()
      val injected = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          expr("repeat(' Cafe\\u0301', CAST(doc_id % 3 AS INT))"),
          expr("repeat(' A\\u030Angstro\\u0308m', CAST(doc_id % 2 AS INT))")).as("text"))
      TextAnalysis.normalizeText(injected)
    }),
    // incremental corpus maintenance: snapshot + synthetic change batch
    // (re-crawl upserts %10==3, tombstones %10==7) → latest-wins merge
    "snapshot_merge" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Snapshot.mergeSnapshot(Snapshot.baseSnapshot(docs), Snapshot.changeBatch(docs))
    }),
    // TIME-TRAVEL read over a 2-batch version chain: the corpus as of
    // v1 and as of v2 from one log fold each — v1 must show the %10==3
    // re-crawls that v2 takes down (upsert-then-delete history), v2 the
    // %10==1 re-crawls; the oracle replays both argmax folds
    "snapshot_time_travel" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = Snapshot.baseSnapshot(docs)
      val log = Snapshot.changeBatch(docs).unionByName(Snapshot.changeBatchV2(docs))
      Snapshot.snapshotAtVersion(base, log, 1).withColumn("as_of", lit(1L))
        .unionByName(
          Snapshot.snapshotAtVersion(base, log, 2).withColumn("as_of", lit(2L)))
    }),
    // SCD2 dimension history off the same version chain: one row per
    // contiguous content interval, open interval = current row, a
    // tombstoned doc has history but no current row
    "snapshot_scd2" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Snapshot.scd2History(Snapshot.baseSnapshot(docs),
        Snapshot.changeBatch(docs).unionByName(Snapshot.changeBatchV2(docs)))
    }),
    // CDC extraction, the merge's inverse: diff(base, merged) must be
    // exactly the applied batch's visible effect (updates %10==3 with the
    // v1 fingerprint, deletes %10==7)
    "snapshot_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val base = Snapshot.baseSnapshot(docs)
      Snapshot.diffSnapshots(base,
        Snapshot.mergeSnapshot(base, Snapshot.changeBatch(docs)))
    }),
    // PII scrubbing under the oracle: the corpus has no digits, so the
    // gate INJECTS deterministic doc_id-derived emails/phones/IPs (same
    // inject-then-prove pattern as the fmt_* garbage gates), then redacts;
    // both engines replay injection AND redaction with their own regex
    // engines, so the fingerprint equality proves the scrub is exact
    "ta_pii_redact" -> ((s, d) => {
      val injected = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          expr("repeat(concat(' user', CAST(doc_id AS STRING), '@example.org'), " +
            "CAST(doc_id % 3 AS INT))"),
          expr("repeat(concat(' 555-', lpad(CAST(doc_id % 1000 AS STRING), 3, '0'), " +
            "'-', lpad(CAST(doc_id % 10000 AS STRING), 4, '0')), CAST(doc_id % 2 AS INT))"),
          expr("repeat(concat(' 10.0.', CAST(doc_id % 256 AS STRING), '.', " +
            "CAST(doc_id * 7 % 256 AS STRING)), CAST((doc_id + 1) % 2 AS INT))")).as("text"))
      TextAnalysis.redactPii(injected)
    }),
    // deterministic hash-based sampling (training-pipeline reproducibility)
    "sample_hash10" -> ((s, d) =>
      Sampling.hashSample(Tables.documents(s, d), "doc_id", 10)
        .select("doc_id", "lang")),
    "sample_stratified" -> ((s, d) =>
      Sampling.stratifiedHashSample(Tables.documents(s, d), "doc_id", "lang", Map("en" -> 25))
        .select("doc_id", "lang")),
    "sample_per_stratum" -> ((s, d) =>
      Sampling.perStratumSample(Tables.documents(s, d), "doc_id", "lang", 5)
        .select("doc_id", "lang")),
    // systematic PPS (probability-proportional-to-size) sampling: the
    // hash-order token walk keeps a doc iff its span crosses a multiple
    // of the step — inclusion ∝ document length, exact integer arithmetic
    "sample_pps" -> ((s, d) => Sampling.ppsSample(SharedCorpus.docsTok(s, d))),
    // deterministic train/val/test assignment (r15): hash-bucket ranges,
    // disjoint+exhaustive by construction, stable under repartitioning
    // and retries — the reproducibility contract randomSplit cannot give
    "sample_split_assign" -> ((s, d) =>
      Sampling.splitAssign(Tables.documents(s, d), "doc_id")
        .select("doc_id", "lang", "split")),
    // LEAKAGE-FREE split (r17): the unit of assignment is the whole
    // near-dup COMPONENT (hash split on the component label), so a
    // document and its near-duplicate can never straddle train/test —
    // the contamination-through-splitting hole a per-doc split leaves
    "sample_split_leakfree" -> ((s, d) =>
      // gate-only sort: the op returns unsorted (a 100 TB caller never
      // needs the global order; the dump's determinism does)
      Sampling.splitAssignLeakFree(SharedCorpus.docsTok(s, d))
        .orderBy("doc_id")),
    // the STORED-LIFECYCLE split (r18, VERDICT r17 item 1): the one-shot
    // full clustering published once, the assignment a pure bucketed-table
    // projection — the corpus is never re-banded on the serving path
    // (SamplingSpec asserts the probe plan). Same oracle as the
    // from-scratch form: the table changes where labels come from, not
    // what they are.
    "sample_split_indexed" -> ((s, d) => {
      buildOnce(s"split_full:$d") {
        Dedup.buildComponentsTable(SharedCorpus.docsTok(s, d), "graft_split_full")
      }
      Sampling.splitAssignIndexed(s, "graft_split_full").orderBy("doc_id")
    }),
    // incremental lifecycle: yesterday's corpus (%4!=1) clustered one-shot
    // (band index + components table built together, assignment published),
    // today's batch folded by mergeComponentsIncr — only the batch is
    // signed and mined. The merged table equals a one-shot clustering of
    // the union, so the projected split shares the leak-free oracle.
    "sample_split_incr" -> ((s, d) => {
      ensureSplitLifecycle(s, d)
      Sampling.splitAssignIndexed(s, "graft_split_comp").orderBy("doc_id")
    }),
    // the drift audit's production form (VERDICT r17 item 1): yesterday's
    // assignment READ from its published table, today's a projection of
    // the post-merge components table — O(batch + flips), two bucketed
    // tables joined zero-exchange, never two corpus re-clusterings. Same
    // matrix, same oracle, as the from-scratch sample_split_drift.
    "sample_split_drift_indexed" -> ((s, d) => {
      ensureSplitLifecycle(s, d)
      Sampling.splitDriftReportIndexed(s, "graft_split_assign", "graft_split_comp")
    }),
    // forget propagation INTO the split (completes the split lifecycle's
    // build/incr/purge triple): the assignment projected from the PURGED
    // components table — dedup_components_purged's stored artifact,
    // reused as-is — must equal the leak-free split of the filtered
    // corpus (a removed bridge doc can SPLIT its component; the new
    // smaller labels re-deal those docs' buckets, and the purge gate
    // already proves the labels; this gate proves the projection rides
    // them). Zero new builds: same buildOnce key as the purge gate.
    "sample_split_purged" -> ((s, d) => {
      val all = SharedCorpus.docsTok(s, d)
      buildOnce(s"comp_purge:$d") {
        Dedup.buildComponentsTable(all, "graft_comp_prg")
        Dedup.purgeFromComponentsTable(s, "graft_comp_prg",
          all.filter(col("doc_id") % 7 === 3).select("doc_id"))
      }
      Sampling.splitAssignIndexed(s, "graft_comp_prg").orderBy("doc_id")
    }),
    // the split-STABILITY audit under corpus growth (r17): yesterday's
    // corpus (%4!=1, the daily-batch convention) vs today's full corpus,
    // both leak-free-assigned, joined on the common docs → the split
    // transition matrix; off-diagonal rows are docs a bridging arrival
    // flipped (component labels merged under a new minimum) — the leak
    // a release pipeline must gate on BEFORE trusting eval history
    "sample_split_drift" -> ((s, d) => {
      val all = SharedCorpus.docsTok(s, d)
      Sampling.splitDriftReport(all.filter(col("doc_id") % 4 =!= 1), all)
    }),
    // URL canonicalization (C4/RefinedWeb-style): tracking params,
    // fragments, default ports, host case and www. collapse to ONE key;
    // URLs injected deterministically (the ta_pii_redact discipline)
    // since the corpus carries none — oracle replays injection + pipeline
    "curation_url_canonical" -> ((s, d) => {
      val u = graft.ops.Curation.canonicalizeUrl(injectedUrl)
      Tables.documents(s, d).select(
        col("doc_id"), u.as("url_canonical"),
        graft.ops.Curation.registrableDomain(u).as("domain"))
    }),
    // domain diversity cap: at most 20 docs per registrable domain by
    // deterministic hash rank — the mega-site guard
    "curation_domain_cap" -> ((s, d) =>
      graft.ops.Curation.domainCap(
        Tables.documents(s, d).withColumn("url", injectedUrl), col("url"), 20)),
    // adaptive per-source quality floor: exact top-half per source BY
    // QUALITY via histogram selection + boundary refinement — the oracle
    // is the per-source rank formulation, so the gate proves the
    // sort-free selection EQUALS the sort
    "curation_quality_floor" -> ((s, d) =>
      graft.ops.Curation.qualityFloor(SharedCorpus.docsTok(s, d), 0.5)),
    // index-quality monitor: per-query recall@5 of the LSH tier against
    // the exact scan — the number that decides re-training/probe widening
    "ann_recall_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.recallAtK(
        Similarity.lshTopK(emb, col("vec_id") < 10),
        Similarity.bruteForceTopK(emb, col("vec_id") < 10))
    }),
    // recall@5 monitors for EVERY remaining ANN tier (VERDICT r12 item 4):
    // the recall-vs-probe curve is the tuning surface an operator actually
    // watches at scale, so each compression/coarsening tier gets the same
    // per-query exact-scan audit as the LSH tier — oracle-replayed, with
    // the measured recall values recorded in BASELINE.md as the tuning
    // reference
    "ann_recall_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.recallAtK(
        Similarity.ivfTopK(emb, col("vec_id") < 10),
        Similarity.bruteForceTopK(emb, col("vec_id") < 10))
    }),
    "ann_recall_sq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.recallAtK(
        Similarity.sqTopK(emb, col("vec_id") < 10),
        Similarity.bruteForceTopK(emb, col("vec_id") < 10))
    }),
    "ann_recall_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.recallAtK(
        Similarity.pqTopK(emb, col("vec_id") < 10),
        Similarity.bruteForceTopK(emb, col("vec_id") < 10))
    }),
    "ann_recall_ivfpq" -> ((s, d) => {
      ensureIvfPqIndex(s, d)
      val emb = Tables.embeddings(s, d)
      Similarity.recallAtK(
        Similarity.ivfPqTopKIndexed(s, "graft_ivfpq_idx",
          emb.filter(col("vec_id") < 10)),
        Similarity.bruteForceTopK(emb, col("vec_id") < 10))
    }),
    "ann_recall_refine" -> ((s, d) => {
      ensureIvfPqIndex(s, d)
      buildOnce(s"vecstore:$d") {
        Similarity.buildVectorStore(Tables.embeddings(s, d), "graft_vec_store")
      }
      val emb = Tables.embeddings(s, d)
      Similarity.recallAtK(
        Similarity.ivfPqRefineTopKIndexed(s, "graft_ivfpq_idx",
          "graft_vec_store", emb.filter(col("vec_id") < 10)),
        Similarity.bruteForceTopK(emb, col("vec_id") < 10))
    }),
    "sql_correlated" -> Relational.sqlCorrelatedSubquery,
    "hof_sampler" -> Relational.hofSampler,
    "date_arith_sampler" -> Relational.dateArithSampler,
    // north-star: deduplication
    "dedup_exact" -> ((s, d) => Dedup.exactDedup(SharedCorpus.docsTok(s, d))),
    "dedup_minhash_pairs" -> ((s, d) => Dedup.minHashPairs(SharedCorpus.docsTok(s, d))),
    "dedup_simhash" -> ((s, d) => Dedup.simHash(SharedCorpus.docsTok(s, d))),
    "dedup_simhash_pairs" -> ((s, d) => Dedup.simHashPairs(SharedCorpus.docsTok(s, d))),
    "dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccardPairs(SharedCorpus.docsTok(s, d))),
    // ASYMMETRIC overlap (containment) — the sub-document duplication
    // detector symmetric Jaccard can't see: a doc quoted inside a much
    // larger one scores ~1 on containment, ~0 on Jaccard
    "dedup_ngram_containment" -> ((s, d) =>
      Dedup.ngramContainmentPairs(SharedCorpus.docsTok(s, d))),
    // iterative component resolution; oracle = recursive-CTE transitive closure
    "dedup_neardup_survivors" -> ((s, d) => Dedup.nearDupSurvivors(SharedCorpus.docsTok(s, d))),
    // quality-aware survivor policy: same components, keep the argmax-
    // quality member per component (tie → lower doc_id)
    "dedup_quality_survivors" -> ((s, d) =>
      Dedup.nearDupSurvivorsBy(SharedCorpus.docsTok(s, d), TextAnalysis.qualityCol)),
    // greedy one-pass admission — the batch twin of the streaming
    // band-taint dedup (StreamOps.streamNearDupAdmitted runs the same rule
    // with watermark-TTL band state; StreamOpsSpec proves parity)
    "stream_neardup_admit" -> ((s, d) => Dedup.nearDupAdmit(SharedCorpus.docsTok(s, d))),
    // quality-gated admission: the stateless quality/lang/repetition gate
    // (row-local, hence streaming-safe with NO state) composed with the
    // same band-taint rule — "admit only quality docs, dedup as they
    // arrive". The taint owners change (bands of rejected docs never
    // claim), so this is NOT a post-filter of the ungated admission;
    // StreamOpsSpec proves MemoryStream parity for the composition
    "stream_curation_admit" -> ((s, d) =>
      Dedup.nearDupAdmit(graft.ops.Curation.qualityGate(SharedCorpus.docsTok(s, d)))),
    // exact repeated-span stats (the "exact substring dedup" curation
    // signal): per-doc count and ratio of positional 8-token spans that
    // also occur in another document
    "dedup_span_stats" -> ((s, d) => Dedup.duplicateSpans(SharedCorpus.docsTok(s, d))),
    // the actionable half of the span signal: the CLEANED corpus with
    // cross-document repeated spans dropped (first occurrence kept); the
    // oracle replays span ownership and reconstructs the kept text
    "dedup_span_rewrite" -> ((s, d) => Dedup.removeDuplicateSpans(SharedCorpus.docsTok(s, d))),
    // cross-dataset eval-contamination scan: docs with doc_id % 7 == 0
    // play the benchmark corpus, the rest are training docs scored by
    // benchmark-overlapping span count
    "dedup_contamination" -> ((s, d) => {
      val all = SharedCorpus.docsTok(s, d)
      Dedup.contaminationStats(
        all.filter(col("doc_id") % 7 =!= 0), all.filter(col("doc_id") % 7 === 0))
    }),
    // the broadcast-outgrown plan: benchmark hashes folded into a Bloom
    // filter probed scan-side before the exact semi-join — false positives
    // die in the join, false negatives are impossible, so the result (and
    // the oracle) is identical to dedup_contamination
    "dedup_contamination_bloom" -> ((s, d) => {
      val all = SharedCorpus.docsTok(s, d)
      Dedup.contaminationStatsBloom(
        all.filter(col("doc_id") % 7 =!= 0), all.filter(col("doc_id") % 7 === 0))
    }),
    // the surgical decontamination form: EXCISE benchmark-overlapping
    // spans from training docs instead of dropping whole documents — the
    // oracle reconstructs every cleaned token stream over the %7 split
    "dedup_decontam_rewrite" -> ((s, d) => {
      val all = SharedCorpus.docsTok(s, d)
      Dedup.exciseContaminatedSpans(
        all.filter(col("doc_id") % 7 =!= 0), all.filter(col("doc_id") % 7 === 0))
    }),
    // Hamming-space top-k retrieval over the SimHash codes (the serving
    // form of the pair miner): band candidates + exact popcount rerank;
    // the oracle brute-forces queries × corpus — equality proves the
    // 4-band join is lossless at radius 3 (pigeonhole)
    "dedup_simhash_topk" -> ((s, d) =>
      Dedup.simHashTopK(SharedCorpus.docsTok(s, d), col("doc_id") % 10 === 0)),
    // the canonical GPT-3 13-gram rule (the span family's n=8 gate keeps
    // the cross-operator consistency story; this one runs the cited rule)
    "dedup_contamination_13" -> ((s, d) => {
      val all = SharedCorpus.docsTok(s, d)
      Dedup.contaminationStats(
        all.filter(col("doc_id") % 7 =!= 0), all.filter(col("doc_id") % 7 === 0),
        n = 13)
    }),
    // streaming decontamination, batch mode: the stream-static admission
    // plan (StreamOps.streamDecontaminated) over the same %7 split — by
    // construction equals Dedup.decontaminate's surviving id set; the
    // MemoryStream twin with real watermarks runs in StreamOpsSpec
    "stream_decontam_admit" -> ((s, d) => {
      val all = SharedCorpus.docsTok(s, d)
      graft.streaming.StreamOps.streamDecontaminated(
        all.filter(col("doc_id") % 7 =!= 0)
          .withColumn("ts", timestamp_micros(col("doc_id"))),
        all.filter(col("doc_id") % 7 === 0))
        .select("doc_id")
    }),
    // streaming forget enforcement, batch mode: quality-admitted docs
    // filtered against the tombstone list (stream-static anti-join —
    // stateless, so batch input runs the identical plan; the MemoryStream
    // twin runs in StreamOpsSpec). Closes the takedown loop: what
    // curation_forget removes, this keeps from coming back
    "stream_forget_admit" -> ((s, d) => {
      val all = SharedCorpus.docsTok(s, d)
      graft.streaming.StreamOps.streamTombstoneFiltered(
        graft.ops.Curation.qualityGate(all),
        all.filter(col("doc_id") % 11 === 5).select("doc_id"))
        .select("doc_id")
    }),
    // the one-row corpus health dashboard: doc count, exact-dup groups,
    // span-duplication incidence/ratio, quality-gate passes — each an
    // existing gated operator reduced to its aggregate, in one call
    "audit_corpus_report" -> ((s, d) =>
      graft.ops.Curation.corpusReport(SharedCorpus.docsTok(s, d))),
    // per-column schema profile (null/distinct/min/max) in ONE aggregate
    // pass, reshaped plan-side to a row per column — the ingestion
    // data-quality report
    "audit_schema_report" -> Relational.schemaProfile,
    // pre-flight KEY-SKEW report (r15): top-5 heaviest values per
    // candidate join/agg key with exact-integer share (ppm) and multiple
    // of the mean per-key count — the diagnostic that decides between
    // the plain shuffle, AQE, and Skew.saltedJoin BEFORE a 100 TB join.
    // One scan for all audited columns; wide state is vocabulary-scale
    "audit_skew_report" -> ((s, d) =>
      graft.ops.Skew.keySkewReport(Tables.lineitem(s, d),
        Seq("l_suppkey", "l_partkey", "l_returnflag"))),
    // pre-flight JOIN-CARDINALITY report (r15): the exact output size of
    // a planned self-join on l_partkey (the copurchase shape) from the
    // key histograms alone — Σ cntA·cntB without materializing a joined
    // row — plus the top keys by contribution; the advance warning for
    // the one-hot-key candidate blowup the fuzzy-join family once hit
    "audit_join_cardinality" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      graft.ops.Skew.joinCardinalityReport(li, "l_partkey", li, "l_partkey")
    }),
    // the daily-batch curation COMPOSITE (VERDICT r11 missing 3): today's
    // crawl (%4==1) decided against the accumulated corpus's STORED band
    // index — quality/lang/repetition signals, indexed near-dup rejection,
    // benchmark decontamination, survivor packing — as one audit ledger
    // whose every verdict and packing coordinate the oracle replays
    "pipeline_daily_batch" -> ((s, d) => {
      val all = SharedCorpus.docsTok(s, d)
      buildOnce(s"band_daily:$d") {
        Dedup.buildBandIndex(graft.ops.Curation.corpusOf(all), "graft_band_daily")
      }
      graft.ops.Curation.dailyBatch(s, all, "graft_band_daily")
    }),
    // the same composite with the Bloom-pruned decontamination stage (the
    // broadcast-outgrown regime) — result-identical by the Bloom path's
    // no-false-negatives contract, so it shares the composite's oracle
    "pipeline_daily_bloom" -> ((s, d) => {
      val all = SharedCorpus.docsTok(s, d)
      buildOnce(s"band_daily:$d") {
        Dedup.buildBandIndex(graft.ops.Curation.corpusOf(all), "graft_band_daily")
      }
      graft.ops.Curation.dailyBatch(s, all, "graft_band_daily", bloomDecontam = true)
    }),
    // the STREAMING daily composite (VERDICT r12 item 5): the whole
    // admission → decontamination → packing → index/snapshot-commit
    // lifecycle as a REAL structured-streaming query — file source,
    // Trigger.AvailableNow, foreachBatch running the ledgered
    // replay-idempotent commit — over today's crawl staged as ONE
    // micro-batch, so the committed decision ledger equals
    // pipeline_daily_batch's table and SHARES ITS ORACLE. The query +
    // artifact mutations run once (buildOnce, the curation_forget
    // discipline); the gate times the audit read of the committed
    // ledger. Multi-batch sequential semantics, no-op replay, and
    // failpoint recovery run in CurationSpec
    "stream_pipeline_daily" -> ((s, d) => {
      // artifact tables carry the SAME per-dataset tag as the staging
      // root (ADVICE r13): session-global names would make a second
      // dataset's run find batch_id=0 already commit-ledgered, skip the
      // micro-batch, and fail reading its never-written ledger dir
      val tag = java.lang.Integer.toHexString(d.hashCode)
      val root = s"/tmp/graft_sdaily_$tag"
      buildOnce(s"sdaily:$d") {
        val all = SharedCorpus.docsTok(s, d)
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root), true)
        graft.ops.Curation.batchOf(all).select("doc_id", "text")
          .coalesce(1).write.parquet(s"$root/stage")
        Dedup.buildBandIndex(graft.ops.Curation.corpusOf(all), s"graft_sdaily_band_$tag")
        graft.sources.Formats.writeManaged(
          graft.ops.Snapshot.baseSnapshot(graft.ops.Curation.corpusOf(all))
            .select(col("doc_id"), col("version"), col("fp")),
          s"graft_sdaily_snap0_$tag")
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType)))
        graft.ops.Curation.startStreamDailyPipeline(
          s.readStream.schema(schema).parquet(s"$root/stage"),
          graft.ops.Curation.benchOf(all), s"graft_sdaily_band_$tag",
          s"$root/ledger", s"graft_sdaily_snap0_$tag", s"graft_sdaily_snap_$tag",
          s"$root/ckpt").awaitTermination()
      }
      s.read.parquet(s"$root/ledger")
        .select("doc_id", "n_tokens", "q_ok", "lang_ok", "rep_ok",
          "dedup_ok", "clean_ok", "survived", "bucket", "seq_id", "seq_offset")
    }),
    // the forget composite (the daily commit's inverse): one takedown
    // request tombstoned into the next immutable snapshot AND physically
    // purged from the band index, with the one-row post-state audit a
    // takedown ticket closes with. The request is deliberately
    // over-broad (%11 ids include never-ingested batch docs) — unknown
    // ids must be ignored by every stage. Mutations are one-time
    // (buildOnce); the gate times the audit over the post-state
    "curation_forget" -> ((s, d) => {
      val all = SharedCorpus.docsTok(s, d)
      val forget = all.filter(col("doc_id") % 11 === 5).select("doc_id")
      buildOnce(s"forget:$d") {
        val corpus = graft.ops.Curation.corpusOf(all)
        Dedup.buildBandIndex(corpus, "graft_forget_band")
        graft.sources.Formats.writeManaged(
          graft.ops.Snapshot.baseSnapshot(corpus)
            .select(col("doc_id"), col("version"), col("fp")),
          "graft_forget_snap0")
        graft.ops.Curation.forgetBatch(s, forget,
          "graft_forget_band", "graft_forget_snap0", "graft_forget_snap1")
      }
      graft.ops.Curation.forgetReport(s, forget,
        "graft_forget_band", "graft_forget_snap0", "graft_forget_snap1")
    }),
    // cross-corpus fuzzy join: near-dup pairs BETWEEN the %3-split halves
    // (train side vs external side) — no intra-corpus pairs
    "dedup_cross_corpus" -> ((s, d) => {
      val all = SharedCorpus.docsTok(s, d)
      Dedup.crossCorpusNearDups(
        all.filter(col("doc_id") % 3 =!= 0), all.filter(col("doc_id") % 3 === 0))
    }),
    // build/query split for the near-dup miner (the MinHash twin of the
    // BM25/LSH index trio): the corpus side's bands + signatures persisted
    // ONCE bucketed on the band key, each new crawl batch probes the
    // stored index — same oracle as dedup_cross_corpus (the index changes
    // where the corpus bands come from, not the pairs)
    "dedup_cross_indexed" -> ((s, d) => {
      val all = SharedCorpus.docsTok(s, d)
      buildOnce(s"band:$d") {
        Dedup.buildBandIndex(all.filter(col("doc_id") % 3 =!= 0), "graft_band_idx")
      }
      Dedup.nearDupPairsIndexed(s, "graft_band_idx", all.filter(col("doc_id") % 3 === 0))
    }),
    // incremental-ingest variant: the corpus side built from one half and
    // the other half APPENDED into the stored layout — signatures are
    // per-doc, so the two-batch index is bit-identical to the one-shot
    // build and shares its oracle
    "dedup_cross_indexed_incr" -> ((s, d) => {
      val all = SharedCorpus.docsTok(s, d)
      buildOnce(s"band_incr:$d") {
        val corpus = all.filter(col("doc_id") % 3 =!= 0)
        Dedup.buildBandIndex(corpus.filter(col("doc_id") % 2 === 0), "graft_band_incr")
        Dedup.appendToBandIndex(corpus.filter(col("doc_id") % 2 =!= 0), "graft_band_incr")
      }
      Dedup.nearDupPairsIndexed(s, "graft_band_incr", all.filter(col("doc_id") % 3 === 0))
    }),
    // incremental CLUSTERING lifecycle: half the corpus clustered
    // one-shot (components table + band index built together), the other
    // half folded in by mergeComponentsIncr — only the batch is signed
    // and mined, cross edges contract through stored labels, and one
    // broadcast relabel rewrite updates the assignment. The merged table
    // must equal a one-shot clustering of the WHOLE corpus, which is
    // what the oracle replays (recursive reachability → min label)
    "dedup_components_incr" -> ((s, d) => {
      val all = SharedCorpus.docsTok(s, d)
      buildOnce(s"comp_incr:$d") {
        val half = all.filter(col("doc_id") % 2 === 0)
        Dedup.buildBandIndex(half, "graft_comp_band")
        Dedup.buildComponentsTable(half, "graft_comp_tbl")
        Dedup.mergeComponentsIncr(s, "graft_comp_tbl", "graft_comp_band",
          all.filter(col("doc_id") % 2 =!= 0))
      }
      s.table("graft_comp_tbl").orderBy("doc_id")
    }),
    // decremental half of the clustering lifecycle: a forget set purged
    // from the stored assignment — affected components re-solved from the
    // persisted edge list (a removed vertex can SPLIT its component, so
    // labels alone cannot answer this), everything else untouched. The
    // purged table must equal a one-shot clustering of the filtered
    // corpus, which is what the oracle replays
    "dedup_components_purged" -> ((s, d) => {
      val all = SharedCorpus.docsTok(s, d)
      buildOnce(s"comp_purge:$d") {
        Dedup.buildComponentsTable(all, "graft_comp_prg")
        Dedup.purgeFromComponentsTable(s, "graft_comp_prg",
          all.filter(col("doc_id") % 7 === 3).select("doc_id"))
      }
      s.table("graft_comp_prg").orderBy("doc_id")
    }),
    // delete-propagation variant (right to be forgotten): the corpus side
    // built whole, then a forget set PHYSICALLY PURGED from the stored
    // bands + signatures with the manifest stamp folded out — the probe
    // must answer exactly as if the index had been built from the
    // filtered corpus, which is what the oracle replays
    "dedup_cross_purged" -> ((s, d) => {
      val all = SharedCorpus.docsTok(s, d)
      buildOnce(s"band_purge:$d") {
        val corpus = all.filter(col("doc_id") % 3 =!= 0)
        Dedup.buildBandIndex(corpus, "graft_band_prg")
        Dedup.purgeFromBandIndex(s, "graft_band_prg",
          corpus.filter(col("doc_id") % 7 === 3).select("doc_id"))
      }
      Dedup.nearDupPairsIndexed(s, "graft_band_prg", all.filter(col("doc_id") % 3 === 0))
    }),
    // north-star: similarity search. The exact all-pairs miner
    // (Similarity.embeddingNearDupPairs) is deliberately NOT gated: its n²
    // cross product is a verification utility (SimilaritySpec uses it as
    // LSH ground truth), and the benched plan for near-dup mining must be
    // the banded LSH one — the 100 TB shape. bruteForceTopK stays gated:
    // broadcast-queries × one corpus scan IS its scale plan for small
    // query sets.
    "sim_topk_cosine" -> ((s, d) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, d), col("vec_id") < 10)),
    // late-interaction MaxSim (r17): a "document" is a GROUP of token
    // vectors (vec_id div 8), score = Σ per-query-token best cosine —
    // the multi-vector serving op single-vector pooling can't express;
    // token sums ride fixed-point longs so the ranking is engine-exact
    "ann_maxsim_topk" -> ((s, d) =>
      Similarity.maxSimTopK(Tables.embeddings(s, d), expr("dkey % 10 = 0"))),
    // its stored-index serving twin: per-token IVF cell probes build a
    // partial-MaxSim shortlist off the SAME stored index the single-
    // vector tiers use, then the exact fixed-point re-rank fetches the
    // candidates' full token sets by ARITHMETIC id range from the
    // id-bucketed vector store (the refine tier's store, reused)
    "ann_maxsim_indexed" -> ((s, d) => {
      ensureIvfIndex(s, d)
      buildOnce(s"vecstore:$d") {
        Similarity.buildVectorStore(Tables.embeddings(s, d), "graft_vec_store")
      }
      Similarity.maxSimTopKIndexed(s, "graft_ivf_idx", "graft_vec_store",
        expr("dkey % 10 = 0"))
    }),
    // recall monitor for the MaxSim tier (r18, VERDICT r17 item 4):
    // per-query recall@5 of the two-stage per-token probe against the
    // exact late-interaction scan. The five single-vector monitors don't
    // transfer — a doc shortlists here if ANY token lands a strong
    // partial hit, so this tier needs its own audit; oracle-replayed
    // end to end like the others (both tiers' full replays composed
    // through the shared hit-count/ratio form)
    "ann_recall_maxsim" -> ((s, d) => {
      ensureIvfIndex(s, d)
      buildOnce(s"vecstore:$d") {
        Similarity.buildVectorStore(Tables.embeddings(s, d), "graft_vec_store")
      }
      def qn(df: org.apache.spark.sql.DataFrame) = df
        .withColumnRenamed("query_doc", "query_id")
        .withColumnRenamed("neighbor_doc", "neighbor_id")
      Similarity.recallAtK(
        qn(Similarity.maxSimTopKIndexed(s, "graft_ivf_idx", "graft_vec_store",
          expr("dkey % 10 = 0"))),
        qn(Similarity.maxSimTopK(Tables.embeddings(s, d), expr("dkey % 10 = 0"))))
    }),
    // closes the text→token-vectors loop for the late-interaction stack
    // (r18, VERDICT r17 item 5 — the ann_hash_embed_lsh analogue for
    // multi-vector): per-WINDOW vectors derived from the corpus itself
    // (8-token windows of the alnum stream → signed feature hashing,
    // first 4 windows = the truncated-encoding convention), then the
    // SAME MaxSim fixed-point scoring serves doc-level retrieval — a
    // real doc_id is the group key, no synthetic id-range grouping and
    // no given embeddings table anywhere in the chain
    "ann_maxsim_text" -> ((s, d) => {
      ensureHembWinTable(s, d)
      Similarity.maxSimTopKTokens(
        s.table("graft_hemb_win").select(col("doc_id").as("dkey"),
          col("win").as("tok_id"), col("embedding")),
        col("dkey") < 8)
    }),
    "sim_neardup_lsh" -> ((s, d) =>
      Similarity.embeddingNearDupPairsLSH(Tables.embeddings(s, d))),
    "ann_lsh_topk" -> ((s, d) =>
      Similarity.lshTopK(Tables.embeddings(s, d), col("vec_id") < 10)),
    // int8 scalar-quantized tier: the corpus scan reads 1 byte/dim (4x
    // compression) and ranks by the QUANTIZED cosine — exact integer dots
    // (byte_dot) + one IEEE division, so the ranking has its own exact
    // DuckDB replay; recall vs the float tier is measured in the spec
    "ann_sq_topk" -> ((s, d) =>
      Similarity.sqTopK(Tables.embeddings(s, d), col("vec_id") < 10)),
    // build/query split for the SQ tier: half the corpus quantized in the
    // bulk build, half appended (codes are per-vector, so the two-batch
    // table is bit-identical to a one-shot build); the probe reads STORED
    // 1-byte codes and never touches the float corpus — same oracle as
    // ann_sq_topk (the table changes where codes come from, not the answer)
    "ann_sq_indexed" -> ((s, d) => {
      buildOnce(s"sq:$d") {
        val emb = Tables.embeddings(s, d)
        Similarity.buildSqCodes(emb.filter(col("vec_id") % 2 === 0), "graft_sq_codes")
        Similarity.appendToSqCodes(emb.filter(col("vec_id") % 2 =!= 0), "graft_sq_codes")
      }
      Similarity.sqTopKIndexed(s, "graft_sq_codes", col("vec_id") < 10)
    }),
    // build/query split: banded signatures persisted ONCE as a bucketed
    // table, probe reads the stored index (same oracle as ann_lsh_topk —
    // the index changes where signatures come from, not the answer).
    // buildOnce: the gate times the probe after the first run.
    "ann_lsh_indexed" -> ((s, d) => {
      buildOnce(s"lsh:$d") { Similarity.buildLshIndex(Tables.embeddings(s, d), "graft_lsh_idx") }
      Similarity.lshTopKIndexed(s, "graft_lsh_idx", col("vec_id") < 10)
    }),
    // incremental-ingest variant: half the corpus bulk-built, the other
    // half APPENDED into the stored layout — signatures are per-vector,
    // so the two-batch index is bit-identical to the one-shot build and
    // shares its oracle
    "ann_lsh_indexed_incr" -> ((s, d) => {
      buildOnce(s"lsh_incr:$d") {
        val emb = Tables.embeddings(s, d)
        Similarity.buildLshIndex(emb.filter(col("vec_id") % 2 === 0), "graft_lsh_incr")
        Similarity.appendToLshIndex(emb.filter(col("vec_id") % 2 =!= 0), "graft_lsh_incr")
      }
      Similarity.lshTopKIndexed(s, "graft_lsh_incr", col("vec_id") < 10)
    }),
    // delete-propagation variant: a forget set purged from the stored
    // bands with the manifest stamp folded out — signatures are
    // per-vector, so the purged index must answer exactly like one built
    // from the surviving vectors (the filtered-corpus oracle)
    "ann_lsh_purged" -> ((s, d) => {
      buildOnce(s"lsh_purge:$d") {
        val emb = Tables.embeddings(s, d)
        Similarity.buildLshIndex(emb, "graft_lsh_prg")
        Similarity.purgeFromLshIndex(s, "graft_lsh_prg",
          emb.filter(col("vec_id") % 7 === 3).select("vec_id"))
      }
      Similarity.lshTopKIndexed(s, "graft_lsh_prg", col("vec_id") < 10)
    }),
    "ann_ivf_topk" -> ((s, d) =>
      Similarity.ivfTopK(Tables.embeddings(s, d), col("vec_id") < 10)),
    // hard-negative mining (the contrastive-training data op): per query,
    // the top-k most-similar corpus vectors that are neither the query
    // nor a known positive — the (query_id, query_id+7) pair table is
    // anti-joined BEFORE the rank, so a positive never displaces a real
    // negative out of the top-k (the oracle replays the exclusions)
    "ann_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegatives(emb, col("vec_id") < 10,
        emb.select(col("vec_id").as("query_id"), (col("vec_id") + 7).as("pos_id")))
    }),
    // Matryoshka prefix retrieval: 16-of-64-dim shortlist (¼ the scan
    // bytes — dimension truncation as the compression lever), exact
    // full-dim re-rank of the 20-candidate shortlist; truncation error
    // affects shortlist membership, never the final order
    "ann_prefix_refine" -> ((s, d) =>
      Similarity.prefixRefineTopK(Tables.embeddings(s, d), col("vec_id") < 10)),
    // MMR diversified retrieval: greedy λ·rel − (1−λ)·max-sim-to-selected
    // over an exact 20-candidate shortlist, k chained plan stages — the
    // oracle replays every greedy step as a CTE
    "ann_mmr_topk" -> ((s, d) =>
      Similarity.mmrTopK(Tables.embeddings(s, d), col("vec_id") < 10)),
    // product-quantization tier: 16 trained sub-codebooks, 16-byte codes
    // (16x compression), asymmetric scoring — float queries against
    // code-reconstructed neighbors; the oracle replays training, encoding,
    // and the ranking end to end
    "ann_pq_topk" -> ((s, d) =>
      Similarity.pqTopK(Tables.embeddings(s, d), col("vec_id") < 10)),
    // same probe plan over k-means-trained pivots; the oracle replays the
    // full (deterministic, fixed-point) Lloyd's training loop in DuckDB
    "ann_ivf_kmeans" -> ((s, d) =>
      Similarity.ivfTopKKmeans(Tables.embeddings(s, d), col("vec_id") < 10)),
    // SemDeDup-style cluster-balanced sampling: k-means cells capped at a
    // deterministic hash-order prefix of 10 vectors each
    "ann_cluster_sample" -> ((s, d) =>
      Similarity.clusterBalancedSample(Tables.embeddings(s, d))),
    // build/query split for the IVF tier: trained pivots + cell assignment
    // stored once (bucketed on cell), probe reads the index — same oracle
    // as ann_ivf_kmeans (the index changes where cells come from, not the
    // answer)
    "ann_ivf_indexed" -> ((s, d) => {
      ensureIvfIndex(s, d)
      Similarity.ivfTopKIndexed(s, "graft_ivf_idx", col("vec_id") < 10)
    }),
    // delete-propagation variant for the model-backed tier: the forget
    // set's assignment rows purged, the TRAINED PIVOTS KEPT (retraining
    // per takedown would churn the whole assignment; periodic retrain is
    // the drift story) — so the purged index answers as the stored model
    // applied to the survivors, which is what the oracle replays
    // (training over the BUILD corpus, probe over survivors only)
    "ann_ivf_purged" -> ((s, d) => {
      buildOnce(s"ivf_purge:$d") {
        val emb = Tables.embeddings(s, d)
        Similarity.buildIvfIndex(emb, "graft_ivf_prg")
        Similarity.purgeFromIvfIndex(s, "graft_ivf_prg",
          emb.filter(col("vec_id") % 7 === 3).select("vec_id"))
      }
      Similarity.ivfTopKIndexed(s, "graft_ivf_prg", col("vec_id") < 10)
    }),
    // the same stored IVF assignment feeds curation: cluster-balanced
    // sampling is a pure function of (vec_id, cell), so the indexed
    // variant reads the index (embedding column pruned from the scan) and
    // shares ann_cluster_sample's oracle
    "ann_cluster_sample_indexed" -> ((s, d) => {
      ensureIvfIndex(s, d)
      Similarity.clusterBalancedSampleIndexed(s, "graft_ivf_idx")
    }),
    // SemDeDup semantic deduplication off the SAME stored IVF index:
    // within-cell cosine >= tau pairs, lowest id survives — candidate
    // generation is one equi-join on the stored cell key (Σ|cell|² pairs,
    // never all-pairs); training + assignment are read, not recomputed
    "dedup_semantic" -> ((s, d) => {
      ensureIvfIndex(s, d)
      Similarity.semanticDedupIndexed(s, "graft_ivf_idx")
    }),
    // build/query split for the PQ tier: codebooks trained + corpus
    // encoded once, probe ranks float queries against STORED 16-byte
    // codes — same oracle as ann_pq_topk (the index changes where codes
    // come from, not the answer)
    "ann_pq_indexed" -> ((s, d) => {
      ensurePqIndex(s, d)
      Similarity.pqTopKIndexed(s, "graft_pq_idx",
        Tables.embeddings(s, d).filter(col("vec_id") < 10))
    }),
    // incremental-ingest variant: the ingest path READS the one-shot
    // index's published codebooks (training is a deterministic function
    // of the corpus, so they ARE this pipeline's books — no per-batch
    // retrain, the production model-artifact contract); codes arrive in
    // two batches encoded against those stored books — per-vector given
    // fixed books, so the union equals the one-shot encode and the gate
    // shares ann_pq_topk's oracle
    "ann_pq_indexed_incr" -> ((s, d) => {
      buildOnce(s"pq_incr:$d") {
        ensurePqIndex(s, d)
        // the appends below have no initial overwrite: drop first so a
        // retry after a partial failure can't re-append onto survivors
        Formats.dropManaged(s, "graft_pq_incr")
        copyModel(s, "graft_pq_idx_books", "graft_pq_incr_books", "m")
        // publishing stored models to a new ingest family starts its
        // lifecycle: a models-only manifest, exactly like buildPqBooks
        Formats.writeBuildMeta(s, "graft_pq_incr", "kind=pq", 0L, 0L)
        val emb = Tables.embeddings(s, d)
        Similarity.appendToPqIndex(s, emb.filter(col("vec_id") % 2 === 0), "graft_pq_incr")
        Similarity.appendToPqIndex(s, emb.filter(col("vec_id") % 2 =!= 0), "graft_pq_incr")
      }
      Similarity.pqTopKIndexed(s, "graft_pq_incr",
        Tables.embeddings(s, d).filter(col("vec_id") < 10))
    }),
    // the composed production index: IVF's trained coarse cells bound
    // WHICH rows a query reads (nprobe cell prune), PQ's stored codes
    // bound the BYTES per row (asymmetric scoring over 16-byte codes,
    // reconstruction only for probed candidates) — the oracle replays
    // cell assignment AND PQ ranking end to end
    "ann_ivfpq_indexed" -> ((s, d) => {
      ensureIvfPqIndex(s, d)
      Similarity.ivfPqTopKIndexed(s, "graft_ivfpq_idx",
        Tables.embeddings(s, d).filter(col("vec_id") < 10))
    }),
    // delete-propagation variant of the composed index: (cell, codes)
    // rows purged, BOTH trained models kept. Queries are external
    // full-precision vectors, so a FORGOTTEN id can still ask — it just
    // can never be answered with: the oracle keeps the query set
    // unfiltered and restricts only the neighbor cells to survivors
    "ann_ivfpq_purged" -> ((s, d) => {
      buildOnce(s"ivfpq_purge:$d") {
        val emb = Tables.embeddings(s, d)
        Similarity.buildIvfPqIndex(emb, "graft_ivfpq_prg")
        Similarity.purgeFromIvfPqIndex(s, "graft_ivfpq_prg",
          emb.filter(col("vec_id") % 7 === 3).select("vec_id"))
      }
      Similarity.ivfPqTopKIndexed(s, "graft_ivfpq_prg",
        Tables.embeddings(s, d).filter(col("vec_id") < 10))
    }),
    // recall-target-driven probe width (VERDICT r14 item 5): the operator
    // API over the r14 recall-vs-cost curve — nprobe picked from the
    // STORED index's cell-occupancy histogram as the smallest width whose
    // worst-case (smallest-cells-first) coverage meets each target; the
    // oracle replays assignment, occupancy, and the cumulative pick
    "ann_nprobe_target" -> ((s, d) => {
      ensureIvfPqIndex(s, d)
      Similarity.nprobePlanIndexed(s, "graft_ivfpq_idx",
        Seq(0.5, 0.8, 0.9, 0.95))
    }),
    // occupancy-aware nprobe CALIBRATION on a many-cell (64) index (r16,
    // VERDICT r15 missing 3): sample queries' exact top-5 neighbors
    // located by their cell's rank in each query's pivot order — the
    // smallest probe width whose SAMPLE recall meets each target; the
    // oracle replays the 64-pivot training, the assignment, the sample
    // top-5, and the curve, pinning the calibrated widths cross-engine
    "ann_nprobe_cal" -> ((s, d) => {
      buildOnce(s"ivf64:$d") {
        Similarity.buildIvfIndex(Tables.embeddings(s, d), "graft_ivf64",
          kClusters = 64)
      }
      Similarity.nprobeCalibration(s, "graft_ivf64",
        col("vec_id") < 32, Seq(0.6, 0.8, 0.9))
    }),
    // query-MANY serving path (VERDICT r11 item 8): a 4x-larger workload
    // through the SAME one-plan probe — the distinct probed-cell literal
    // is bounded by kClusters however many queries arrive (cells collapse
    // across queries), so the code-table scan count stays 1 and only the
    // broadcast probe set grows; each query's ranking replays the
    // single-query oracle over its slice
    "ann_ivfpq_many" -> ((s, d) => {
      ensureIvfPqIndex(s, d)
      Similarity.ivfPqTopKIndexed(s, "graft_ivfpq_idx",
        Tables.embeddings(s, d).filter(col("vec_id") < 40))
    }),
    // two-stage retrieval (refine-after-compress, the production serving
    // shape): PQ-approximate 20-candidate shortlist through the composed
    // probe, then exact-cosine re-rank from the id-bucketed full-precision
    // vector store — quantization error affects the shortlist only
    "ann_ivfpq_refine" -> ((s, d) => {
      ensureIvfPqIndex(s, d)
      buildOnce(s"vecstore:$d") {
        Similarity.buildVectorStore(Tables.embeddings(s, d), "graft_vec_store")
      }
      Similarity.ivfPqRefineTopKIndexed(s, "graft_ivfpq_idx", "graft_vec_store",
        Tables.embeddings(s, d).filter(col("vec_id") < 10))
    }),
    // incremental-ingest variant of the composed index: the ingest path
    // READS the one-shot index's published pivots + codebooks (the same
    // stored-model-reuse contract as pq_incr), then batches are assigned
    // and encoded against those models and appended — per-vector given
    // fixed models, so the two-batch index equals the one-shot build and
    // the gate shares ann_ivfpq_indexed's oracle
    "ann_ivfpq_indexed_incr" -> ((s, d) => {
      buildOnce(s"ivfpq_incr:$d") {
        ensureIvfPqIndex(s, d)
        // same retry-idempotence rule as pq_incr: appends need a clean slate
        Formats.dropManaged(s, "graft_ivfpq_incr")
        copyModel(s, "graft_ivfpq_idx_pivots", "graft_ivfpq_incr_pivots", "pid")
        copyModel(s, "graft_ivfpq_idx_books", "graft_ivfpq_incr_books", "m")
        Formats.writeBuildMeta(s, "graft_ivfpq_incr", "kind=ivfpq", 0L, 0L)
        val emb = Tables.embeddings(s, d)
        Similarity.appendToIvfPqIndex(s, emb.filter(col("vec_id") % 2 === 0), "graft_ivfpq_incr")
        Similarity.appendToIvfPqIndex(s, emb.filter(col("vec_id") % 2 =!= 0), "graft_ivfpq_incr")
      }
      Similarity.ivfPqTopKIndexed(s, "graft_ivfpq_incr",
        Tables.embeddings(s, d).filter(col("vec_id") < 10))
    }),
    // incremental-ingest variant of the IVF split: the ingest path READS
    // the one-shot index's published pivots (stored-model reuse, as for
    // pq_incr), then assignments arrive in two batches, each argmax'd
    // against those stored pivots and appended — per-vector given fixed
    // pivots, so the union equals the one-shot assignment and the gate
    // shares ann_ivf_kmeans's oracle
    "ann_ivf_indexed_incr" -> ((s, d) => {
      buildOnce(s"ivf_incr:$d") {
        ensureIvfIndex(s, d)
        // same retry-idempotence rule as pq_incr: appends need a clean slate
        Formats.dropManaged(s, "graft_ivf_incr")
        copyModel(s, "graft_ivf_idx_pivots", "graft_ivf_incr_pivots", "pid")
        Formats.writeBuildMeta(s, "graft_ivf_incr", "kind=ivf", 0L, 0L)
        val emb = Tables.embeddings(s, d)
        Similarity.appendToIvfIndex(s, emb.filter(col("vec_id") % 2 === 0), "graft_ivf_incr")
        Similarity.appendToIvfIndex(s, emb.filter(col("vec_id") % 2 =!= 0), "graft_ivf_incr")
      }
      Similarity.ivfTopKIndexed(s, "graft_ivf_incr", col("vec_id") < 10)
    }),
    // north-star: multimodal binary columns
    "mm_metadata" -> ((s, d) =>
      Multimodal.blobMetadata(Multimodal.asBlobTable(Tables.documents(s, d)))),
    "mm_frames" -> ((s, d) =>
      Multimodal.sampleFrames(Multimodal.asBlobTable(Tables.documents(s, d)))
        .select(col("doc_id"), col("byte_len"), col("frame_idx").cast("long").as("frame_idx"),
          hex(col("frame_bytes")).as("frame_hex"))),
    // REAL mixed-media feature extraction (VERDICT r14 item 6 — the
    // fake-feature stub is retired): one mime-dispatched pass over the
    // PNG ∪ WAV blob corpus, pixel/sample moments per blob. Feature
    // vector projected to scalar columns: array-typed result cells
    // compare unreliably through pandas (same rule as arrayAggStatuses);
    // the stored PNG byte length is encoder output, not formula-
    // replayable, so the gate projects the decoded-domain columns
    "mm_decode_features" -> ((s, d) => {
      ensurePngBlobs(s, d); ensureWavBlobs(s, d)
      Multimodal.decodeFeatures(
        s.table("graft_png_blobs")
          .select(col("doc_id"), col("bytes"), lit("image/png").as("mime"))
          .unionByName(s.table("graft_wav_blobs")
            .select(col("doc_id"), col("bytes"), lit("audio/wav").as("mime"))))
        .select(col("doc_id"), col("mime"),
          element_at(col("feature"), 1).as("f_n"),
          element_at(col("feature"), 2).as("f_min"),
          element_at(col("feature"), 3).as("f_max"),
          element_at(col("feature"), 4).as("f_mean"),
          element_at(col("feature"), 5).as("f_energy"))
    }),
    // REAL codec path: deterministic grayscale PNGs synthesized ONCE into
    // a stored blob table (in a real pipeline the media bytes are inputs
    // on disk, not something the decode query re-encodes), then decoded
    // with javax.imageio to pixel stats; the oracle replays the
    // generating formula in SQL — hash equality proves the
    // encode→PNG→store→decode round trip is exact
    "mm_decode_png" -> ((s, d) => {
      ensurePngBlobs(s, d)
      Multimodal.decodePng(s.table("graft_png_blobs"))
    }),
    // perceptual hashes over the REAL-decoded pixel grid (the media dedup
    // tier, VERDICT r11 missing 2): 56-bit dHash codes, then banded-join
    // near-duplicate pair mining — the simHashPairs discipline applied to
    // images. The oracle replays the sampled-pixel formula decoder-free.
    "mm_phash" -> ((s, d) => {
      ensurePngBlobs(s, d)
      Multimodal.dHash(s.table("graft_png_blobs"))
    }),
    "mm_phash_pairs" -> ((s, d) => {
      ensurePngBlobs(s, d)
      Multimodal.pHashPairs(s.table("graft_png_blobs"))
    }),
    // cross-modal (image+caption) dedup decision table: pairs flagged by
    // either modality with both Hamming distances and the both-match
    // verdict — a full-outer alignment of two banded-collision outputs
    "mm_crossmodal_pairs" -> ((s, d) => {
      ensurePngBlobs(s, d)
      Multimodal.crossModalPairs(
        s.table("graft_png_blobs"), SharedCorpus.docsTok(s, d))
    }),
    // build/query split for the media dedup tier (the phash twin of
    // dedup_cross_indexed): the corpus side's codes + bands persisted
    // ONCE bucketed on the band key — each new crawl batch is the only
    // thing decoded; the incr variant builds half and APPENDS half
    // (dHash is per-image, so two-batch == one-shot bit-identically)
    "mm_phash_indexed" -> ((s, d) => {
      ensurePngBlobs(s, d)
      buildOnce(s"phash_idx:$d") {
        Multimodal.buildPhashIndex(
          s.table("graft_png_blobs").filter(col("doc_id") % 3 =!= 0), "graft_phash_idx")
      }
      Multimodal.phashPairsIndexed(s, "graft_phash_idx",
        s.table("graft_png_blobs").filter(col("doc_id") % 3 === 0))
    }),
    "mm_phash_indexed_incr" -> ((s, d) => {
      ensurePngBlobs(s, d)
      buildOnce(s"phash_incr:$d") {
        val corpus = s.table("graft_png_blobs").filter(col("doc_id") % 3 =!= 0)
        Multimodal.buildPhashIndex(
          corpus.filter(col("doc_id") % 2 === 0), "graft_phash_incr")
        Multimodal.appendToPhashIndex(
          corpus.filter(col("doc_id") % 2 =!= 0), "graft_phash_incr")
      }
      Multimodal.phashPairsIndexed(s, "graft_phash_incr",
        s.table("graft_png_blobs").filter(col("doc_id") % 3 === 0))
    }),
    // delete-propagation variant: a forget set purged from the stored
    // bands + codes (no image re-decoded) with the manifest stamp folded
    // out — the probe answers exactly as an index built from the
    // surviving blobs would
    "mm_phash_purged" -> ((s, d) => {
      ensurePngBlobs(s, d)
      buildOnce(s"phash_purge:$d") {
        val corpus = s.table("graft_png_blobs").filter(col("doc_id") % 3 =!= 0)
        Multimodal.buildPhashIndex(corpus, "graft_phash_prg")
        Multimodal.purgeFromPhashIndex(s, "graft_phash_prg",
          corpus.filter(col("doc_id") % 7 === 3).select("doc_id"))
      }
      Multimodal.phashPairsIndexed(s, "graft_phash_prg",
        s.table("graft_png_blobs").filter(col("doc_id") % 3 === 0))
    }),
    "mm_decode_wav" -> ((s, d) => {
      ensureWavBlobs(s, d)
      Multimodal.decodeWav(s.table("graft_wav_blobs"))
    }),
    // perceptual AUDIO fingerprints over the REAL javax.sound decode (the
    // WAV twin of mm_phash): 32-bit windowed-loudness codes, then the
    // banded near-dup pair mining — media dedup now covers both
    // modalities; oracles replay the sampled-window sums decoder-free
    "mm_ahash" -> ((s, d) => {
      ensureWavBlobs(s, d)
      Multimodal.aHash(s.table("graft_wav_blobs"))
    }),
    "mm_ahash_pairs" -> ((s, d) => {
      ensureWavBlobs(s, d)
      Multimodal.aHashPairs(s.table("graft_wav_blobs"))
    }),
    // keyframe dedup (the video story): pairs sharing byte-identical
    // sampled frames — an inverted-index join on the frame fingerprint
    // with the ngramJaccard df-cap skew guard; no decode anywhere
    "mm_frame_pairs" -> ((s, d) =>
      Multimodal.framePairs(Multimodal.asBlobTable(Tables.documents(s, d)))),
    "mm_downsample" -> ((s, d) =>
      Multimodal.downsampleBytes(Multimodal.asBlobTable(Tables.documents(s, d)), 4)
        .select(col("doc_id"), col("byte_len"), col("ds_len"), hex(col("ds_bytes")).as("ds_hex"))),
    // streaming-unified transform run over batch input (same code drives
    // readStream in StreamOpsSpec's MemoryStream test)
    "stream_windowed_counts" -> ((s, d) =>
      graft.streaming.StreamOps.windowedEventCounts(Tables.events(s, d))),
    // OVERLAPPING windows (1h every 30min): each event lands in 2 windows
    // — the moving-rate monitoring shape; oracle replays the slide-grid
    // window assignment arithmetic
    "stream_sliding_counts" -> ((s, d) =>
      graft.streaming.StreamOps.slidingEventCounts(Tables.events(s, d))),
    // ingestion quota: admit at most 2 events per (user, 6-hour window)
    // by deterministic (ts, event_id) rank — the firehose
    // admission-control primitive, parameterized so the quota genuinely
    // bites on this corpus (386 rejections at sf0.01; hourly windows
    // never exceed 3 events/user); same code path the MemoryStream
    // parity spec drives
    "stream_rate_limit" -> ((s, d) => {
      import s.implicits._
      graft.streaming.StreamOps.rateLimit(
        Tables.events(s, d)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .as[graft.streaming.StreamOps.Event],
        n = 2, windowMs = 6L * 3600000L)
        .toDF()
    }),
    "stream_sessions_batch" -> ((s, d) =>
      graft.streaming.StreamOps.sessionizeBatch(Tables.events(s, d))),
    // the NATIVE session_window form of the same gap rule — shares the
    // cumulative form's oracle (no exact-gap ties in the corpus, so the
    // end-exclusive boundary difference cannot bite; a regen that
    // introduced one would fail this gate's hash, not drift silently)
    "stream_sessions_native" -> ((s, d) =>
      graft.streaming.StreamOps.sessionizeNative(Tables.events(s, d))),
    // stream-stream interval join run on batch input (StreamOpsSpec drives
    // the same transform through two MemoryStream sides)
    "stream_interval_join" -> ((s, d) =>
      graft.streaming.StreamOps.intervalJoin(Tables.events(s, d))),
    // exactly-once dedup, same code path the MemoryStream spec drives; the
    // input injects real duplicates (identical full rows, so the arbitrary
    // keep-one pick is value-deterministic)
    "stream_dedup_events" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select("event_id", "user_id", "event_type", "value", "ts")
      val dupes = ev.filter(col("event_id") % 10 === 0)
      graft.streaming.StreamOps.dedupEvents(ev.unionAll(dupes))
    }),
    // schema evolution: a v1 write without c_acctbal, a v2 append WITH it,
    // read back under mergeSchema — v1 rows surface null balances and the
    // unified schema aggregates correctly (the add-a-column lifecycle
    // every long-lived parquet dataset goes through)
    // index/model lifecycle metadata (r11): the stored LSH index's build
    // manifest — corpus row count + order-independent bit_xor fingerprint
    // + append counter — plus the deep generation check against the live
    // corpus. The stamp arithmetic is CrossHash-based, so DuckDB replays
    // it exactly: the manifest a probe trusts is itself oracle-verified.
    "fmt_index_manifest" -> ((s, d) => {
      buildOnce(s"lsh:$d") { Similarity.buildLshIndex(Tables.embeddings(s, d), "graft_lsh_idx") }
      val (n, fp, _, appends) = Formats.readBuildMeta(s, "graft_lsh_idx").get
      val fresh =
        if (Formats.isStaleFor(s, "graft_lsh_idx", Tables.embeddings(s, d), "vec_id")) 0 else 1
      import s.implicits._
      Seq((n, fp, appends, fresh)).toDF("corpus_n", "corpus_fp", "appends", "fresh")
    }),
    // the xor-stamp DISJOINTNESS audit: manifest stamp vs a distinct-id
    // recount of the stored rows — the detector for the
    // silently-corrupting overlapping append; on a healthy one-shot
    // build both sides equal the corpus stamp and the verdict is true
    "fmt_stamp_audit" -> ((s, d) => {
      buildOnce(s"lsh:$d") { Similarity.buildLshIndex(Tables.embeddings(s, d), "graft_lsh_idx") }
      Formats.stampAudit(s, "graft_lsh_idx")
    }),
    "fmt_schema_evolution" -> ((s, d) => {
      val out = s"$scratchDir/cust_evolve"
      val c = Tables.customer(s, d)
      c.filter(col("c_custkey") % 2 === 0).select("c_custkey", "c_name")
        .write.mode("overwrite").parquet(out)
      c.filter(col("c_custkey") % 2 =!= 0).select("c_custkey", "c_name", "c_acctbal")
        .write.mode("append").parquet(out)
      s.read.option("mergeSchema", "true").parquet(out)
        .groupBy(col("c_acctbal").isNotNull.as("has_bal"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(c_acctbal AS DECIMAL(18,2))")).cast("double").as("total_bal"))
        .orderBy("has_bal")
    }),
    // format surface (SURVEY §2b scans/sources): csv sink→scan roundtrip,
    // then an aggregate over the re-read data — proves schema'd csv IO
    // end to end, not just that a file appeared
    "fmt_csv_roundtrip" -> ((s, d) => {
      val out = s"$scratchDir/nation_csv"
      val nation = Tables.nation(s, d)
      Formats.writeCsv(nation, out)
      Formats.readCsv(s, nation.schema, out)
        .groupBy("n_regionkey")
        .agg(count(lit(1)).as("n_nations"),
          array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"))
        .orderBy("n_regionkey")
    }),
    // json sink→scan roundtrip with explicit schema on the way back in,
    // proving doubles survive the text round trip bit-exactly
    "fmt_json_roundtrip" -> ((s, d) => {
      val out = s"$scratchDir/supplier_json"
      val sup = Tables.supplier(s, d)
      Formats.writeJson(sup, out)
      Formats.readJson(s, sup.schema, out)
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("s_acctbal").cast("decimal(18,2)")).cast("double").as("sum_acctbal"))
        .orderBy("s_nationkey")
    }),
    // hive-partitioned sink→scan: the lang predicate prunes directories
    // (PartitionFilters, asserted in FormatsSpec) — only the en/ files are read
    "fmt_partitioned_pruning" -> ((s, d) => {
      val out = s"$scratchDir/docs_by_lang"
      Formats.writePartitioned(
        Tables.documents(s, d).select("doc_id", "source", "n_chars", "lang"), out, "lang")
      s.read.parquet(out)
        .filter(col("lang") === "en")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("source")
    }),
    // the KEEP-the-rejects half of permissive parsing: same
    // corpus-with-garbage input as fmt_permissive_kv, but malformed lines
    // land whole in _corrupt_record instead of vanishing — the gate proves
    // the quarantine split is exact (good rows aggregate like the clean
    // subset; reject count equals the injected-garbage count)
    "fmt_quarantine_kv" -> ((s, d) => {
      val out = s"$scratchDir/kv_text_q"
      Tables.orders(s, d)
        .select(concat_ws(" ", col("o_orderkey"),
          when(col("o_orderkey") % 13 === 0, lit("oops"))
            .otherwise((col("o_orderkey") % 5).cast("string"))).as("value"))
        .write.mode("overwrite").text(out)
      val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
      // sum(v) keeps v REFERENCED in the aggregate: Catalyst would
      // otherwise prune it from the CSV scan, the failing conversion
      // would never run, and no row would be quarantined — corrupt-record
      // detection only sees the columns the query actually reads
      Formats.readCsvQuarantine(s, schema, " ", out)
        .select(col("k"), col("v"), col("_corrupt_record").isNotNull.as("rejected"))
        .groupBy("rejected")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"), sum("v").as("sum_v"))
        .orderBy("rejected")
    }),
    // small-file compaction under the oracle: fragment the events table
    // into many tiny files, compact (coalesce — no shuffle), and prove the
    // compacted dataset still aggregates identically to the source table
    "fmt_compacted_scan" -> ((s, d) => {
      val in = s"$scratchDir/events_fragmented"
      val out = s"$scratchDir/events_compacted"
      Tables.events(s, d).repartition(16).write.mode("overwrite").parquet(in)
      Formats.compactParquet(s, in, out)
      s.read.parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")
    }),
    // footer-statistics aggregation: count/min/max answered from parquet
    // metadata via the scoped V2 reader — FormatsSpec asserts the scan
    // carries PushedAggregation (no row groups read)
    "fmt_agg_pushdown" -> ((s, d) =>
      Formats.aggregateFromFooters(s, s"$d/lineitem.parquet", "l_orderkey")),
    // error-safe SQL surface: try_* functions return NULL instead of
    // failing the job — the ANSI-mode-compatible behavior a 100 TB batch
    // job wants for dirty arithmetic (mirrors the permissive-parse story
    // at the expression level). Bounded to a 15k-row slice: Spark's
    // TryEval wrapper is CodegenFallback (no whole-stage codegen), so
    // try_* belongs on the dirty subset of a pipeline, not its hot path —
    // the bound keeps the gate honest about that contract.
    "scalar_try_funcs" -> ((s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderkey") <= 15000)
        .select(
          col("o_orderkey"),
          expr("try_divide(o_totalprice, o_orderkey % 3)").as("div_mod3"),
          expr("try_cast(o_orderpriority AS INT)").as("prio_int"),
          expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)").as("prio_code_int"))
        .orderBy("o_orderkey")),
    // orc sink→scan roundtrip (explicit schema back in, filter pushed to
    // the ORC scan): the oracle reads the PARQUET part table — equality
    // proves the columnar roundtrip through the second format is lossless
    "fmt_orc_roundtrip" -> ((s, d) => {
      val out = s"$scratchDir/part_orc"
      val part = Tables.part(s, d)
      Formats.writeOrc(part, out)
      Formats.readOrc(s, part.schema, out)
        .filter(col("p_size") >= 25)
        .groupBy("p_type")
        .agg(count(lit(1)).as("n_parts"),
          sum(col("p_retailprice").cast("decimal(18,2)")).cast("double").as("sum_retail"),
          max("p_size").as("max_size"))
        .orderBy("p_type")
    }),
    // bucketed-table layout under the oracle: both sides pre-shuffled on
    // the join key, so the join itself plans with ZERO exchanges (the
    // co-located-join story; FormatsSpec asserts the no-Exchange plan).
    // Same unsalted SQL oracle as the broadcast/salted twins — three plans,
    // one result.
    // Z-order clustered layout: lineitem written Morton-sorted on
    // (l_partkey, l_suppkey), then a 2-D box aggregate over the stored
    // table — content must equal the raw-parquet oracle (the layout
    // changes what files a box SKIPS, never what the query returns;
    // FormatsSpec measures the scan-row reduction vs a scattered twin)
    "fmt_zorder_scan" -> ((s, d) => {
      buildOnce(s"zorder:$d") {
        Formats.writeZOrdered(
          Tables.lineitem(s, d)
            .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity"),
          "graft_zorder_li", "l_partkey", "l_suppkey")
      }
      s.table("graft_zorder_li")
        .filter(col("l_partkey").between(16, 47) && col("l_suppkey").between(2, 5))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))
        .orderBy("l_partkey", "l_suppkey")
    }),
    // the Z-order ingest lifecycle: two-thirds built, one-third appended
    // (batch clustered within its own files, corpus never rewritten) —
    // results must equal the raw oracle even with the degraded layout
    "fmt_zorder_append" -> ((s, d) => {
      buildOnce(s"zorder_app:$d") {
        val li = Tables.lineitem(s, d)
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
        Formats.writeZOrdered(
          li.filter(col("l_orderkey") % 3 =!= 0), "graft_zorder_app",
          "l_partkey", "l_suppkey")
        Formats.appendZOrdered(
          li.filter(col("l_orderkey") % 3 === 0), "graft_zorder_app",
          "l_partkey", "l_suppkey")
      }
      s.table("graft_zorder_app")
        .filter(col("l_partkey").between(16, 47) && col("l_suppkey").between(2, 5))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))
        .orderBy("l_partkey", "l_suppkey")
    }),
    // the maintenance half: the appended table re-clustered into one
    // generation through the crash-safe ping-pong swap — same oracle (the
    // rewrite changes what skips, never the content)
    "fmt_zorder_compacted" -> ((s, d) => {
      buildOnce(s"zorder_cmp:$d") {
        val li = Tables.lineitem(s, d)
          .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
        Formats.writeZOrdered(
          li.filter(col("l_orderkey") % 3 =!= 0), "graft_zorder_cmp",
          "l_partkey", "l_suppkey")
        Formats.appendZOrdered(
          li.filter(col("l_orderkey") % 3 === 0), "graft_zorder_cmp",
          "l_partkey", "l_suppkey")
        Formats.rezorderTable(s, "graft_zorder_cmp", "l_partkey", "l_suppkey")
      }
      s.table("graft_zorder_cmp")
        .filter(col("l_partkey").between(16, 47) && col("l_suppkey").between(2, 5))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_rows"))
        .orderBy("l_partkey", "l_suppkey")
    }),
    "fmt_bucketed_join" -> ((s, d) => {
      Formats.writeBucketed(
        Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice"),
        "graft_orders_bkt", Seq("o_custkey"), 8)
      Formats.writeBucketed(
        Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
        "graft_customer_bkt", Seq("c_custkey"), 8)
      s.table("graft_orders_bkt")
        .join(s.table("graft_customer_bkt"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy("c_mktsegment")
    }),
    // the literal subprocess-pipe surface under the oracle: same answer as
    // the declarative wordcount, via python mapper/reducer processes
    "piped_wordcount" -> ((s, d) =>
      PipedMapReduce.pipedWordCount(s, Tables.documents(s, d).select(col("text").as("value")))),
    // permissive-parse surface: the reference reducer silently drops
    // malformed / non-int lines (src/app/reducer.py:11,21-24); here the
    // same corpus-with-garbage shape goes through DROPMALFORMED and the
    // aggregate sees only the well-formed rows
    "fmt_permissive_kv" -> ((s, d) => {
      val out = s"$scratchDir/kv_text"
      Tables.orders(s, d)
        .select(concat_ws(" ", col("o_orderkey"),
          when(col("o_orderkey") % 13 === 0, lit("oops"))
            .otherwise((col("o_orderkey") % 5).cast("string"))).as("value"))
        .write.mode("overwrite").text(out)
      val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
      Formats.readCsvDropMalformed(s, schema, " ", out)
        .groupBy("v")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"))
        .orderBy("v")
    }),
  )

  // ---- DuckDB oracle builders for the hash-based north-star operators ----
  // Generated from the same constants as the Spark implementations
  // (Dedup.NumHashes/BandRows, Similarity.planes, TextAnalysis.LangMarkers)
  // so the two sides cannot drift.

  private val WS = "\\s+"

  /** Deterministic crawl-URL injection for the curation_url_* gates (the
    * documents corpus carries no URLs — same discipline as the
    * ta_pii_redact injection): mixed-case hosts, default ports, utm
    * tracking params, fragments — every branch the canonicalizer must
    * normalize. [[injectedUrlSql]] is the DuckDB mirror — re-embedded
    * inside canonicalUrlCtes' own stripMargin, which would eat a
    * line-leading `||`, so every concatenation operator sits at
    * end-of-line there. */
  private def injectedUrl: org.apache.spark.sql.Column = concat(
    lit("HTTPS://"),
    expr("CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'WWW.News-Site' " +
      "WHEN 1 THEN 'blog.Example' WHEN 2 THEN 'www.example' ELSE 'Docs.Vendor' END"),
    expr("CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '.COM:443' " +
      "WHEN 1 THEN '.com' ELSE '.org:80' END"),
    lit("/page/"), col("doc_id").cast("string"),
    expr("CASE WHEN doc_id % 2 = 0 THEN concat('?utm_source=feed&utm_campaign=c', " +
      "CAST(doc_id AS STRING), '&id=', CAST(doc_id AS STRING)) " +
      "ELSE concat('?id=', CAST(doc_id AS STRING)) END"),
    expr("CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END"))

  private val injectedUrlSql: String =
    """'HTTPS://' ||
      |  CASE doc_id % 4 WHEN 0 THEN 'WWW.News-Site' WHEN 1 THEN 'blog.Example'
      |    WHEN 2 THEN 'www.example' ELSE 'Docs.Vendor' END ||
      |  CASE doc_id % 3 WHEN 0 THEN '.COM:443' WHEN 1 THEN '.com' ELSE '.org:80' END ||
      |  '/page/' || CAST(doc_id AS VARCHAR) ||
      |  CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&utm_campaign=c' ||
      |      CAST(doc_id AS VARCHAR) || '&id=' || CAST(doc_id AS VARCHAR)
      |    ELSE '?id=' || CAST(doc_id AS VARCHAR) END ||
      |  CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END""".stripMargin

  /** DuckDB replay of [[graft.ops.Curation.canonicalizeUrl]] +
    * [[graft.ops.Curation.registrableDomain]] over the injected URLs —
    * CTEs ending in `dom(doc_id, url_canonical, domain)`. RE2 backrefs
    * are `\1` where Java's are `$1`; DuckDB regexp_replace needs the
    * explicit 'g' flag where Spark is global by default. */
  private val canonicalUrlCtes: String =
    s"""u AS (SELECT doc_id, $injectedUrlSql AS url FROM documents),
       |nf AS (SELECT doc_id, regexp_replace(url, '#.*$$', '') AS nu FROM u),
       |hd AS (SELECT doc_id, nu,
       |  regexp_extract(nu, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]+)', 1) AS head FROM nf),
       |ch AS (SELECT doc_id, nu, head,
       |  regexp_replace(regexp_replace(
       |    regexp_replace(lower(head), '^([a-z0-9+.-]*://)www\\.', '\\1'),
       |    '^(http://[^:]*):80$$', '\\1'), '^(https://[^:]*):443$$', '\\1')
       |    AS chead FROM hd),
       |cu AS (SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |    chead || substring(nu, CAST(len(head) + 1 AS INT)),
       |    '&utm_[a-z]+=[^&#]*', '', 'g'),
       |    '\\?utm_[a-z]+=[^&#]*&', '?', 'g'),
       |    '\\?utm_[a-z]+=[^&#]*$$', '', 'g'),
       |    '[?&]$$', '') AS url_canonical FROM ch),
       |dom AS (SELECT doc_id, url_canonical,
       |  regexp_extract(regexp_extract(url_canonical, '^[a-z0-9+.-]*://([^/:?]+)', 1),
       |    '([a-z0-9-]+\\.[a-z0-9-]+)$$', 1) AS domain FROM cu)""".stripMargin

  // DuckDB mirrors of the Spark-side hashes come from CrossHash itself so
  // the two sides cannot drift.
  private def h32Sql(e: String): String = graft.functions.CrossHash.h32Sql(e)
  private def h60Sql(e: String): String = graft.functions.CrossHash.h60Sql(e)

  private def markerSql(lang: String): String = {
    val set = TextAnalysis.LangMarkers.toMap.apply(lang)
    val in = set.map(w => s"'$w'").mkString(", ")
    s"CAST(len(list_filter(regexp_split_to_array(lower(text), '$WS'), t -> t IN ($in))) AS BIGINT)"
  }

  /** Shingles → signatures → bands for the subset of `documents` matching
    * `where`, all CTE names suffixed with `sfx` — the ONE generator behind
    * every MinHash oracle (intra-corpus with `("", "TRUE")`, each
    * cross-corpus side with its split predicate), so the banding scheme
    * can never drift between them. */
  private def minhashSideCtes(sfx: String, where: String): String = {
    val sigCols = (0 until Dedup.NumHashes)
      .map(i => s"min(${Dedup.minHashChunkSql(i)}) AS h$i").mkString(", ")
    val bands = (0 until Dedup.NumBands).map { b =>
      val parts = (0 until Dedup.BandRows).map(r => s"h${b * Dedup.BandRows + r}").mkString(", ")
      s"SELECT doc_id, $b AS band_idx, md5(concat_ws(',', $parts)) AS band_hash FROM sig$sfx"
    }.mkString(" UNION ALL ")
    s"""${shingleCtesFor(sfx, where)},
       |sig$sfx AS (SELECT doc_id, $sigCols FROM sh$sfx GROUP BY doc_id),
       |banded$sfx AS ($bands)""".stripMargin
  }

  /** DuckDB mirror of [[Dedup.shingles]] (distinct lowercased word
    * 3-grams) for the subset of `documents` matching `where`. */
  private def shingleCtesFor(sfx: String, where: String): String =
    s"""toks$sfx AS (SELECT doc_id, regexp_split_to_array(lower(text), '$WS') AS ws
       |  FROM documents WHERE $where),
       |sh$sfx AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
       |  FROM toks$sfx, unnest(generate_series(1, greatest(len(ws) - 2, 1))) AS t(i))""".stripMargin

  /** The unsuffixed whole-corpus shingle CTEs (n-gram Jaccard oracle). */
  private val shingleCte: String = shingleCtesFor("", "TRUE")

  /** The shared component-agreement scoring CASE sum (mirror of
    * [[Dedup.minHashPairs]]' verification). */
  private val sigMatchesSql: String = (0 until Dedup.NumHashes)
    .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)").mkString(" + ")

  /** The intra-corpus MinHash pipeline's CTE list (one side + ordered
    * candidate pairs + scores) over the subset of `documents` matching
    * `where`, shared by the pair oracle, the survivor oracle, and the
    * component-label oracles built on top of it. */
  private def minhashCtesWhere(where: String): String =
    s"""${minhashSideCtes("", where)},
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
       |scored AS (SELECT doc_a, doc_b, CAST($sigMatchesSql AS DOUBLE) / ${Dedup.NumHashes} AS sig_sim
       |  FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b)""".stripMargin

  private val minhashCtes: String = minhashCtesWhere("TRUE")

  private val minhashOracleSql: String =
    s"""WITH $minhashCtes
       |SELECT doc_a, doc_b, sig_sim FROM scored WHERE sig_sim >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  /** DuckDB mirror of [[Dedup.contaminationStats]] over the %7 split at
    * span length `n`: the benchmark side reduces to its distinct span-hash
    * set, training spans count hits against it. Parameterized on n so the
    * n=8 family gates and the 13-gram GPT-3-rule gate share one SQL body. */
  private def contaminationOracleSql(n: Int): String =
    s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '$WS') AS ws FROM documents),
       |sp AS (SELECT doc_id, ${h60Sql(s"array_to_string(ws[i:i+${n - 1}], ' ')")} AS sh
       |  FROM toks, unnest(generate_series(1, greatest(len(ws) - ${n - 1}, 1))) AS t(i)),
       |bench AS (SELECT DISTINCT sh FROM sp WHERE doc_id % 7 = 0),
       |tr AS (SELECT doc_id, sh FROM sp WHERE doc_id % 7 <> 0),
       |tot AS (SELECT doc_id, count(*) AS n_spans FROM tr GROUP BY 1),
       |cm AS (SELECT doc_id, count(*) AS c FROM tr
       |  WHERE sh IN (SELECT sh FROM bench) GROUP BY 1)
       |SELECT t.doc_id, t.n_spans,
       |  CAST(coalesce(c.c, 0) AS BIGINT) AS n_contam_spans,
       |  CAST(coalesce(c.c, 0) AS DOUBLE) / t.n_spans AS contam_ratio
       |FROM tot t LEFT JOIN cm c ON c.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  /** DuckDB mirror of [[Dedup.crossCorpusNearDups]], parameterized on the
    * corpus (index) side's predicate: the %3 split for the direct/indexed
    * gates, the %3-minus-forgotten split for the purged-index gate (a
    * physical purge must answer exactly like an index built from the
    * filtered corpus). */
  private def crossCorpusOracleSqlWhere(aWhere: String): String =
    s"""WITH ${minhashSideCtes("A", aWhere)},
       |${minhashSideCtes("B", "doc_id % 3 = 0")},
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bandedA x JOIN bandedB y
       |  ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash),
       |scored AS (SELECT doc_a, doc_b,
       |  CAST($sigMatchesSql AS DOUBLE) / ${Dedup.NumHashes} AS sig_sim
       |  FROM cand JOIN sigA sa ON sa.doc_id = doc_a JOIN sigB sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b, sig_sim FROM scored WHERE sig_sim >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  private val crossCorpusOracleSql: String =
    crossCorpusOracleSqlWhere("doc_id % 3 <> 0")

  /** DuckDB replay of [[graft.ops.Curation.dailyBatch]] — the whole daily
    * funnel end to end: the ta_filter_funnel signal formulas on the batch
    * (%4==1), cross-corpus MinHash rejection vs the %4<>1 side (the same
    * banding CTEs as every MinHash oracle), 8-token-span benchmark
    * overlap vs %7==0, the verdict conjunction, and the pack_greedy
    * recursive walk over the survivors. */
  private val dailyBatchOracleSql: String =
    s"""WITH RECURSIVE ${minhashSideCtes("A", "doc_id % 4 <> 1")},
       |${minhashSideCtes("B", "doc_id % 4 = 1")},
       |ndcand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bandedA x JOIN bandedB y
       |  ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash),
       |nd AS (SELECT DISTINCT doc_b AS doc_id FROM ndcand
       |  JOIN sigA sa ON sa.doc_id = doc_a JOIN sigB sb ON sb.doc_id = doc_b
       |  WHERE CAST($sigMatchesSql AS DOUBLE) / ${Dedup.NumHashes} >= 0.5),
       |ctoks AS (SELECT doc_id, regexp_split_to_array(lower(text), '$WS') AS ws
       |  FROM documents WHERE doc_id % 4 = 1 OR doc_id % 7 = 0),
       |csp AS (SELECT doc_id, ${h60Sql("array_to_string(ws[i:i+7], ' ')")} AS sh
       |  FROM ctoks, unnest(generate_series(1, greatest(len(ws) - 7, 1))) AS t(i)),
       |cbench AS (SELECT DISTINCT sh FROM csp WHERE doc_id % 7 = 0),
       |ccon AS (SELECT DISTINCT doc_id FROM csp
       |  WHERE doc_id % 4 = 1 AND sh IN (SELECT sh FROM cbench)),
       |fc AS (SELECT doc_id,
       |  regexp_split_to_array(lower(text), '$WS') AS a,
       |  CAST(len(regexp_split_to_array(lower(text), '$WS')) AS BIGINT) AS nt,
       |  CAST(len(list_filter(regexp_split_to_array(lower(text), '$WS'),
       |    t -> regexp_matches(t, '^[a-z0-9]+$$'))) AS BIGINT) AS alnum,
       |  ${markerSql("en")} AS en, ${markerSql("de")} AS de,
       |  ${markerSql("fr")} AS fr, ${markerSql("es")} AS es
       |FROM documents WHERE doc_id % 4 = 1),
       |fg2 AS (SELECT doc_id, count(*) AS t2, count(DISTINCT g) AS d2 FROM (
       |  SELECT doc_id, array_to_string(a[i:i+1], ' ') AS g
       |  FROM fc, unnest(generate_series(1, len(a) - 1)) AS t(i)) GROUP BY 1),
       |fl AS (SELECT fc.doc_id, nt AS n_tokens,
       |  (least(CAST(nt AS DOUBLE) / 100.0, 1.0) * 0.2 + CAST(alnum AS DOUBLE) / nt * 0.5
       |    + least(CAST(en AS DOUBLE) / nt * 4.0, 1.0) * 0.3) >= 0.6 AS q_ok,
       |  (CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
       |       WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
       |       WHEN fr >= es AND fr > 0 THEN 'fr'
       |       WHEN es > 0 THEN 'es'
       |       ELSE 'und' END) = 'en' AS lang_ok,
       |  coalesce(CAST(fg2.t2 - fg2.d2 AS DOUBLE) / nullif(fg2.t2, 0), 0.0) <= 0.05 AS rep_ok,
       |  fc.doc_id NOT IN (SELECT doc_id FROM nd) AS dedup_ok,
       |  fc.doc_id NOT IN (SELECT doc_id FROM ccon) AS clean_ok
       |  FROM fc LEFT JOIN fg2 ON fg2.doc_id = fc.doc_id),
       |fs AS MATERIALIZED (SELECT *, q_ok AND lang_ok AND rep_ok AND dedup_ok AND clean_ok AS survived
       |  FROM fl),
       |pd AS MATERIALIZED (SELECT doc_id, n_tokens, CAST(h % 16 AS BIGINT) AS bucket,
       |    row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) AS rn
       |  FROM (SELECT doc_id, n_tokens, ${Packing.orderHashSql} AS h
       |    FROM fs WHERE survived)),
       |walk AS (
       |  SELECT bucket, rn, doc_id, n_tokens,
       |    CAST(1 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS seq_offset,
       |    n_tokens AS fill
       |  FROM pd WHERE rn = 1
       |  UNION ALL
       |  SELECT d.bucket, d.rn, d.doc_id, d.n_tokens,
       |    CASE WHEN w.fill + d.n_tokens > 256 THEN w.seq_id + 1 ELSE w.seq_id END,
       |    CASE WHEN w.fill + d.n_tokens > 256 THEN CAST(0 AS BIGINT) ELSE w.fill END,
       |    CASE WHEN w.fill + d.n_tokens > 256 THEN d.n_tokens
       |      ELSE w.fill + d.n_tokens END
       |  FROM walk w JOIN pd d ON d.bucket = w.bucket AND d.rn = w.rn + 1)
       |SELECT f.doc_id, f.n_tokens, f.q_ok, f.lang_ok, f.rep_ok, f.dedup_ok,
       |  f.clean_ok, f.survived, w.bucket, w.seq_id, w.seq_offset
       |FROM fs f LEFT JOIN walk w ON w.doc_id = f.doc_id
       |ORDER BY f.doc_id""".stripMargin

  /** DuckDB mirror of [[Dedup.nearDupSurvivors]]: same pairs as the
    * MinHash oracle, undirected transitive closure via a recursive CTE
    * (UNION-distinct fixpoint, bounded by component size), survivor = a
    * doc no smaller doc can reach. */
  private val survivorsOracleSql: String =
    s"""WITH RECURSIVE $minhashCtes,
       |pairs AS (SELECT doc_a, doc_b FROM scored WHERE sig_sim >= 0.5),
       |edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
       |  UNION SELECT doc_b AS s, doc_a AS d FROM pairs),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
       |SELECT doc_id FROM documents dd
       |WHERE NOT EXISTS (SELECT 1 FROM reach r WHERE r.d = dd.doc_id AND r.s < dd.doc_id)
       |ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of the full per-document component labels (the
    * `dedup_components_incr` gate dumps the whole merged assignment
    * table): same reachability as the survivor oracle, label = min
    * reachable id. The incremental merge must land on exactly the
    * one-shot clustering of the union corpus. */
  private def componentsOracleSqlWhere(where: String): String =
    s"""WITH RECURSIVE ${minhashCtesWhere(where)},
       |pairs AS (SELECT doc_a, doc_b FROM scored WHERE sig_sim >= 0.5),
       |edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
       |  UNION SELECT doc_b AS s, doc_a AS d FROM pairs),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)
       |SELECT dd.doc_id, least(dd.doc_id, coalesce(
       |    (SELECT min(r.s) FROM reach r WHERE r.d = dd.doc_id), dd.doc_id)) AS label
       |FROM documents dd WHERE $where ORDER BY dd.doc_id""".stripMargin

  private val componentsOracleSql: String = componentsOracleSqlWhere("TRUE")

  /** DuckDB mirror of [[Dedup.nearDupSurvivorsBy]] with the ta_quality
    * score: same reachability as the survivor oracle, component label =
    * min reachable id, survivor = the component's max-quality member (tie
    * → lower doc_id). The quality expression is the ta_quality oracle's,
    * verbatim, so the two gates cannot drift. */
  private val qualitySurvivorsOracleSql: String =
    s"""WITH RECURSIVE $minhashCtes,
       |pairs AS (SELECT doc_a, doc_b FROM scored WHERE sig_sim >= 0.5),
       |edges AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
       |  UNION SELECT doc_b AS s, doc_a AS d FROM pairs),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
       |lab AS (SELECT dd.doc_id,
       |  least(dd.doc_id, coalesce(
       |    (SELECT min(r.s) FROM reach r WHERE r.d = dd.doc_id), dd.doc_id)) AS label
       |  FROM documents dd),
       |qual AS (SELECT doc_id,
       |  least(CAST(nt AS DOUBLE) / 100.0, 1.0) * 0.2 + CAST(alnum AS DOUBLE) / nt * 0.5
       |    + least(CAST(stop AS DOUBLE) / nt * 4.0, 1.0) * 0.3 AS score
       |  FROM (SELECT doc_id,
       |    CAST(len(regexp_split_to_array(lower(text), '$WS')) AS BIGINT) AS nt,
       |    CAST(len(list_filter(regexp_split_to_array(lower(text), '$WS'),
       |      t -> regexp_matches(t, '^[a-z0-9]+$$'))) AS BIGINT) AS alnum,
       |    ${markerSql("en")} AS stop
       |  FROM documents))
       |SELECT doc_id, score FROM (
       |  SELECT l.doc_id, q.score,
       |    row_number() OVER (PARTITION BY l.label ORDER BY q.score DESC, l.doc_id) AS rn
       |  FROM lab l JOIN qual q ON q.doc_id = l.doc_id)
       |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of [[Dedup.nearDupAdmit]]: admit d ⟺ d is the minimum
    * owner of every LSH band it carries (reuses the MinHash banding CTEs;
    * the pair/score CTEs in the chain go unreferenced and unevaluated). */
  private val admitOracleSql: String =
    s"""WITH $minhashCtes,
       |own AS (SELECT band_idx, band_hash, min(doc_id) AS owner
       |  FROM banded GROUP BY 1, 2)
       |SELECT b.doc_id FROM banded b
       |JOIN own o ON b.band_idx = o.band_idx AND b.band_hash = o.band_hash
       |GROUP BY b.doc_id
       |HAVING max(CASE WHEN o.owner < b.doc_id THEN 1 ELSE 0 END) = 0
       |ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of `nearDupAdmit ∘ Curation.qualityGate`: the
    * ta_filter_funnel signal formulas select the surviving ids, the
    * MinHash banding CTEs run over exactly that subset, and the band-taint
    * owner rule admits — the composition, not a post-filter (owners
    * change when rejected docs stop claiming bands). */
  /** The quality/lang/repetition admission CTE chain (mirror of
    * [[graft.ops.Curation.qualityGate]]), ending in `qd(doc_id)` — the
    * survivors. Shared by the curation-admission oracle and the
    * streaming tombstone-filter oracle. */
  private val qualityAdmitCtes: String =
    s"""qc AS (SELECT doc_id,
       |  regexp_split_to_array(lower(text), '$WS') AS a,
       |  CAST(len(regexp_split_to_array(lower(text), '$WS')) AS BIGINT) AS nt,
       |  CAST(len(list_filter(regexp_split_to_array(lower(text), '$WS'),
       |    t -> regexp_matches(t, '^[a-z0-9]+$$'))) AS BIGINT) AS alnum,
       |  ${markerSql("en")} AS en, ${markerSql("de")} AS de,
       |  ${markerSql("fr")} AS fr, ${markerSql("es")} AS es
       |FROM documents),
       |qg2 AS (SELECT doc_id, count(*) AS t2, count(DISTINCT g) AS d2 FROM (
       |  SELECT doc_id, array_to_string(a[i:i+1], ' ') AS g
       |  FROM qc, unnest(generate_series(1, len(a) - 1)) AS t(i)) GROUP BY 1),
       |qd AS (SELECT qc.doc_id FROM qc LEFT JOIN qg2 ON qg2.doc_id = qc.doc_id
       |  WHERE (least(CAST(nt AS DOUBLE) / 100.0, 1.0) * 0.2 + CAST(alnum AS DOUBLE) / nt * 0.5
       |      + least(CAST(en AS DOUBLE) / nt * 4.0, 1.0) * 0.3) >= 0.6
       |    AND (CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
       |       WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
       |       WHEN fr >= es AND fr > 0 THEN 'fr'
       |       WHEN es > 0 THEN 'es'
       |       ELSE 'und' END) = 'en'
       |    AND coalesce(CAST(qg2.t2 - qg2.d2 AS DOUBLE) / nullif(qg2.t2, 0), 0.0) <= 0.05)""".stripMargin

  private val curationAdmitOracleSql: String =
    s"""WITH $qualityAdmitCtes,
       |${minhashSideCtes("Q", "doc_id IN (SELECT doc_id FROM qd)")},
       |own AS (SELECT band_idx, band_hash, min(doc_id) AS owner
       |  FROM bandedQ GROUP BY 1, 2)
       |SELECT b.doc_id FROM bandedQ b
       |JOIN own o ON b.band_idx = o.band_idx AND b.band_hash = o.band_hash
       |GROUP BY b.doc_id
       |HAVING max(CASE WHEN o.owner < b.doc_id THEN 1 ELSE 0 END) = 0
       |ORDER BY doc_id""".stripMargin

  /** Shared recursive-CTE replay of [[Packing.packGreedy]]'s per-bucket
    * next-fit walk (whitespace counts, default budget/buckets) — the
    * layout gate and the fill-stats ledger aggregate over the SAME walk
    * so they cannot drift. Callers prepend `WITH RECURSIVE`.
    *
    * `d` is MATERIALIZED (r15): the recursive member joins it once per
    * recursion STEP, and recursion depth here is docs-per-bucket — an
    * inlined `d` re-tokenizes the whole corpus every step, which is
    * invisible at sf0.01 (~30 docs/bucket) and quadratic death at sf1
    * (~3k steps × a 50k-doc scan; the pipeline twin of this walk burned
    * 10+ CPU-hours in the sf1 sweep before the fix). Same discipline as
    * the classifier/BPE/TextRank chains' MATERIALIZED rounds. */
  private val greedyWalkCtes: String =
    s"""base AS (SELECT doc_id,
       |    CAST(len(regexp_split_to_array(lower(text), '$WS')) AS BIGINT) AS n_tokens,
       |    ${Packing.orderHashSql} AS h FROM documents),
       |d AS MATERIALIZED (SELECT doc_id, n_tokens, CAST(h % 16 AS BIGINT) AS bucket,
       |    row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) AS rn
       |  FROM base),
       |walk AS (
       |  SELECT bucket, rn, doc_id, n_tokens,
       |    CAST(1 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS seq_offset,
       |    n_tokens AS fill
       |  FROM d WHERE rn = 1
       |  UNION ALL
       |  SELECT d.bucket, d.rn, d.doc_id, d.n_tokens,
       |    CASE WHEN w.fill + d.n_tokens > 256 THEN w.seq_id + 1 ELSE w.seq_id END,
       |    CASE WHEN w.fill + d.n_tokens > 256 THEN CAST(0 AS BIGINT) ELSE w.fill END,
       |    CASE WHEN w.fill + d.n_tokens > 256 THEN d.n_tokens
       |      ELSE w.fill + d.n_tokens END
       |  FROM walk w JOIN d ON d.bucket = w.bucket AND d.rn = w.rn + 1)""".stripMargin

  private val simhashCteSql: String = {
    val votes = (0 until 32)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j").mkString(", ")
    val bits = (0 until 32)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""tk AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '$WS')) AS tok FROM documents),
       |hh AS (SELECT doc_id, ${h32Sql("tok")} AS h FROM tk),
       |votes AS (SELECT doc_id, $votes FROM hh GROUP BY doc_id),
       |shash AS (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM votes)""".stripMargin
  }

  /** Shared LSH-signature CTEs (DuckDB mirror of Similarity.bandedSignatures). */
  /** LSH banding CTEs over the subset of `embeddings` matching `where` —
    * signatures are per-vector, so the purged-index gate's oracle is just
    * the filtered-corpus banding. */
  private def lshBandedCteWhere(where: String): String = {
    val sig = (0 until Similarity.NumPlanes).map { m =>
      val arr = Similarity.planes(m).map(w => if (w > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), $arr) >= 0 THEN ${1L << m} ELSE 0 END)"
    }.mkString(" + ")
    s"""sigt AS (SELECT vec_id, embedding, CAST($sig AS BIGINT) AS sig FROM embeddings WHERE $where),
       |banded AS (SELECT vec_id, embedding, band_idx, (sig >> (band_idx * 4)) & 15 AS band_val
       |  FROM sigt, unnest(generate_series(0, ${Similarity.SigBands - 1})) AS t(band_idx))""".stripMargin
  }

  private val lshBandedCte: String = lshBandedCteWhere("TRUE")

  /** The LSH probe body over a `banded` CTE — shared by the given-table
    * ANN gates and the hash-embed composition gate. */
  private val annBodySql: String =
    s"""cand AS (SELECT DISTINCT q.vec_id AS query_id, q.embedding AS qv,
       |    n.vec_id AS neighbor_id, n.embedding AS nv
       |  FROM banded q JOIN banded n
       |  ON q.band_idx = n.band_idx AND q.band_val = n.band_val
       |    AND q.vec_id < 10 AND n.vec_id <> q.vec_id),
       |scored AS (SELECT query_id, neighbor_id,
       |  list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(nv AS DOUBLE[])) AS cos FROM cand),
       |r AS (SELECT query_id, neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn, cos
       |  FROM scored)
       |SELECT query_id, neighbor_id, rn, cos FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin

  private val annOracleSql: String =
    s"""WITH $lshBandedCte,
       |$annBodySql""".stripMargin

  /** DuckDB replay of [[graft.ops.Similarity.sqTopK]]: the same per-vector
    * int8 quantization (round-half-away matches Spark's round), codes
    * folded as doubles — every term is an exact integer < 2^21, so the
    * fold is exact under any order and bit-equal to the Spark side's long
    * accumulation — and the same `dq / (|q| * |n|)` association. */
  private val sqTopKOracleSql: String =
    """WITH ma AS (SELECT vec_id,
      |    CAST(list_max(list_transform(embedding, e -> abs(e))) AS DOUBLE) AS m
      |  FROM embeddings),
      |codes AS (SELECT e.vec_id,
      |    CASE WHEN ma.m = 0 THEN list_transform(e.embedding, x -> CAST(0 AS DOUBLE))
      |         ELSE list_transform(e.embedding, x -> round(CAST(x AS DOUBLE) * 127.0 / ma.m)) END AS c
      |  FROM embeddings e JOIN ma USING (vec_id)),
      |normed AS (SELECT vec_id, c, sqrt(list_dot_product(c, c)) AS nrm FROM codes),
      |pairs AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
      |    list_dot_product(q.c, n.c) / (q.nrm * n.nrm) AS cos_q
      |  FROM normed q JOIN normed n ON q.vec_id < 10 AND n.vec_id <> q.vec_id),
      |r AS (SELECT query_id, neighbor_id,
      |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_q DESC, neighbor_id) AS BIGINT) AS rn, cos_q
      |  FROM pairs)
      |SELECT query_id, neighbor_id, rn, cos_q FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin

  /** DuckDB replay of [[TextAnalysis.hashEmbed]] as a `hemb` CTE:
    * (doc_id, dim_idx, weight FLOAT). Exact-integer votes; the only float
    * ops are sqrt + divide over exact ints (correctly-rounded IEEE, so
    * bit-identical to the Spark side with no rounding). `vv` is
    * MATERIALIZED — it feeds both the norm and the output and DuckDB
    * would otherwise inline (recompute) it per reference. */
  private val hashEmbedCtes: String = {
    val dim = Similarity.Dim
    s"""htk AS (SELECT doc_id, t AS tok FROM documents,
       |    unnest(list_filter(regexp_split_to_array(lower(text), '$WS'),
       |      t -> regexp_matches(t, '^[a-z0-9]+$$'))) AS u(t)),
       |hp AS (SELECT doc_id, ${h60Sql("'he:' || tok")} % $dim AS idx,
       |    CASE WHEN ${h60Sql("'hs:' || tok")} % 2 = 0 THEN 1 ELSE -1 END AS sgn
       |  FROM htk),
       |hsums AS MATERIALIZED (SELECT doc_id, idx, CAST(sum(sgn) AS BIGINT) AS v
       |  FROM hp GROUP BY 1, 2),
       |hdims AS (SELECT doc_id, i AS dim_idx FROM documents,
       |    unnest(generate_series(0, ${dim - 1})) AS g(i)),
       |vv AS MATERIALIZED (SELECT hdims.doc_id, hdims.dim_idx, coalesce(s.v, 0) AS v
       |  FROM hdims LEFT JOIN hsums s
       |  ON s.doc_id = hdims.doc_id AND s.idx = hdims.dim_idx),
       |nrm AS (SELECT doc_id, sqrt(sum(CAST(v * v AS DOUBLE))) AS norm
       |  FROM vv GROUP BY 1),
       |hemb AS (SELECT vv.doc_id, vv.dim_idx,
       |    CAST(CASE WHEN norm > 0 THEN v / norm ELSE 0 END AS FLOAT) AS weight
       |  FROM vv JOIN nrm USING (doc_id))""".stripMargin
  }

  private val hashEmbedOracleSql: String =
    s"""WITH $hashEmbedCtes
       |SELECT doc_id, CAST(dim_idx AS BIGINT) AS dim_idx, weight
       |FROM hemb ORDER BY doc_id, dim_idx""".stripMargin

  /** DuckDB replay of [[graft.ops.TextAnalysis.textRank]]: the word
    * co-occurrence graph, then every damped PageRank iteration as a
    * chained CTE. Ranks are fixed-point longs and each edge contribution
    * is rounded to an integer BEFORE the incoming sum (matching the
    * engine), so both sides do exact integer aggregation — no float
    * summation order anywhere. */
  /** DuckDB replay of the stored-histogram quantile probe
    * ([[graft.ops.Relational.histQuantiles]]): rebuild the per-(flag,
    * price-bin) counter relation, then pick per percentile the first bin
    * whose cumulative count reaches `ceil(pq%·N)` — exact integer
    * arithmetic, so the estimate is pinned cross-engine. */
  private def histQuantilesOracleSql: String = {
    val w = graft.ops.Relational.HistWidth
    s"""WITH h AS MATERIALIZED (SELECT l_returnflag AS grp,
       |    CAST(floor(l_extendedprice / $w.0) AS BIGINT) AS bucket,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM lineitem GROUP BY 1, 2),
       |c AS (SELECT grp, bucket,
       |    CAST(sum(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY grp) AS BIGINT) AS n_total FROM h),
       |f AS (SELECT grp, bucket, cum, n_total, CAST(pq AS BIGINT) AS pq
       |  FROM c CROSS JOIN (VALUES (25), (50), (75), (90)) p(pq))
       |SELECT grp, pq, CAST(min(n_total) AS BIGINT) AS n_total,
       |  CAST(min(bucket) AS BIGINT) AS bucket,
       |  (CAST(min(bucket) AS BIGINT) + 1) * $w AS est_hi
       |FROM f WHERE cum >= (n_total * pq + 99) // 100
       |GROUP BY 1, 2 ORDER BY grp, pq""".stripMargin
  }

  /** DuckDB replay of the stored-CMS heavy-hitters probe
    * ([[graft.ops.TextAnalysis.heavyHittersFromCms]]): rebuild the
    * `(d, slot, cnt)` counter relation from the token stream with the
    * same seeded-MD5 slot hash, then estimate each exact-top-20 word as
    * the min over its depth rows — the sketch CONTENT, not just its
    * accuracy contract, is pinned cross-engine. */
  private def cmsOracleSql: String = {
    // the slot expression comes from the SAME definition the engine
    // hashes with (TextAnalysis.cmsSlotSqlD) — a change to CrossHash.h32
    // or the default width cannot drift engine and oracle (ADVICE r15)
    def slot(wordExpr: String) = graft.ops.TextAnalysis.cmsSlotSqlD(wordExpr, "t.d")
    s"""WITH tk AS (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '$WS'),
       |    t -> regexp_matches(t, '^[a-z0-9]+$$'))) AS word FROM documents),
       |vc AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1),
       |sk AS MATERIALIZED (SELECT t.d AS d, ${slot("word")} AS slot,
       |  CAST(sum(c) AS BIGINT) AS cnt
       |  FROM vc CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(d) GROUP BY 1, 2),
       |top AS (SELECT word, c FROM vc ORDER BY c DESC, word LIMIT 20),
       |fan AS (SELECT word, c, t.d AS d, ${slot("word")} AS slot
       |  FROM top CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(d))
       |SELECT f.word, f.c AS cnt, CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS est
       |FROM fan f LEFT JOIN sk ON sk.d = f.d AND sk.slot = f.slot
       |GROUP BY 1, 2 ORDER BY cnt DESC, word""".stripMargin
  }

  private def textRankOracleSql(iters: Int, k: Int): String = {
    val base =
      s"""WITH f AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '$WS'),
         |    t -> regexp_matches(t, '^[a-z0-9]+$$')) AS a FROM documents),
         |bi AS (SELECT a[i] AS w1, a[i + 1] AS w2
         |  FROM f, unnest(generate_series(1, len(a) - 1)) AS t(i)
         |  WHERE len(a) >= 2 AND a[i] <> a[i + 1]),
         |ed AS (SELECT src, dst, count(*) AS w FROM
         |  (SELECT w1 AS src, w2 AS dst FROM bi UNION ALL SELECT w2, w1 FROM bi)
         |  GROUP BY 1, 2),
         |e AS MATERIALIZED (SELECT src, dst, w, sum(w) OVER (PARTITION BY src) AS wsrc FROM ed),
         |nd AS MATERIALIZED (SELECT DISTINCT unnest(a) AS word FROM f),
         |nn AS MATERIALIZED (SELECT count(*) AS n FROM nd),
         |r0 AS MATERIALIZED (SELECT word, CAST(round(1e12 / n) AS BIGINT) AS r FROM nd CROSS JOIN nn)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (SELECT nd.word,
         |  CAST(round((1.0 - 0.85) * 1e12 / nn.n) AS BIGINT) + coalesce(c.cin, 0) AS r
         |  FROM nd CROSS JOIN nn LEFT JOIN
         |    (SELECT e.dst AS word,
         |       CAST(sum(CAST(round(0.85 * (CAST(e.w AS DOUBLE) / e.wsrc) * p.r) AS BIGINT)) AS BIGINT) AS cin
         |     FROM e JOIN r${i - 1} p ON p.word = e.src GROUP BY 1) c
         |    ON c.word = nd.word)""".stripMargin
    }
    (base +: rounds).mkString(",\n") +
      s"\nSELECT word, r AS rank FROM r$iters ORDER BY rank DESC, word LIMIT $k"
  }

  /** DuckDB replay of [[graft.ops.Classifier.qualityClassifier]]: the
    * exact feature/label CTE, then every full-batch GD round as a chained
    * (gradient, weights) CTE pair. Per-example contributions are rounded
    * to BIGINT before the sums and weight updates round half-away-from-
    * zero — both matching the engine — so the final weights, probabilities
    * and predictions must agree bit-for-bit. */
  private def classifierOracleSql(iters: Int, lr: Double): String = {
    val base =
      s"""WITH c AS (SELECT doc_id,
         |  CAST(len(regexp_split_to_array(lower(text), '$WS')) AS BIGINT) AS nt,
         |  CAST(len(list_filter(regexp_split_to_array(lower(text), '$WS'),
         |    t -> regexp_matches(t, '^[a-z0-9]+$$'))) AS BIGINT) AS alnum,
         |  ${markerSql("en")} AS stop
         |FROM documents),
         |ft AS MATERIALIZED (SELECT doc_id, CAST(1.0 AS DOUBLE) AS x0,
         |  least(CAST(nt AS DOUBLE) / 100.0, 1.0) AS x1,
         |  CAST(alnum AS DOUBLE) / nt AS x2,
         |  CAST(stop AS DOUBLE) / nt AS x3,
         |  CASE WHEN least(CAST(nt AS DOUBLE) / 100.0, 1.0) * 0.2 + CAST(alnum AS DOUBLE) / nt * 0.5
         |    + least(CAST(stop AS DOUBLE) / nt * 4.0, 1.0) * 0.3 >= ${graft.ops.Classifier.LabelThreshold}
         |    THEN 1.0 ELSE 0.0 END AS y
         |FROM c),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ft),
         |w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1, CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)""".stripMargin
    def z(a: String) = s"(($a.w0 * x0 + $a.w1 * x1 + $a.w2 * x2 + $a.w3 * x3) / 1000000.0)"
    def p(a: String) = s"(1.0 / (1.0 + exp(-${z(a)})))"
    // every per-round CTE is MATERIALIZED: w_i references w_{i-1} twice
    // (directly and through g_i), so inlining would blow up exponentially
    // in the round count and re-open the parquet scan per reference (the
    // same reason the BPE oracle materializes its chain)
    val rounds = (1 to iters).map { i =>
      val gsel = (0 to 3).map(j =>
        s"CAST(sum(CAST(round(1000000.0 * (${p("w")} - y) * x$j) AS BIGINT)) AS BIGINT) AS g$j")
        .mkString(", ")
      val wsel = (0 to 3).map(j =>
        s"w.w$j - CAST(round($lr * g.g$j / nn.n) AS BIGINT) AS w$j").mkString(", ")
      s"""g$i AS MATERIALIZED (SELECT $gsel FROM ft CROSS JOIN w${i - 1} w),
         |w$i AS MATERIALIZED (SELECT $wsel FROM w${i - 1} w CROSS JOIN g$i g CROSS JOIN nn)""".stripMargin
    }
    (base +: rounds).mkString(",\n") +
      s"""\nSELECT doc_id, round(${p("w")}, 6) AS p,
         |  CASE WHEN ${p("w")} >= 0.5 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS pred,
         |  CAST(y AS BIGINT) AS label
         |FROM ft CROSS JOIN w$iters w ORDER BY doc_id""".stripMargin
  }

  /** DuckDB mirror of the BM25 scoring shared by the direct and indexed
    * search gates (avg(dl) here equals the engine's exact
    * total_dl / n_docs quotient: both are one double division of exact
    * integer aggregates). */
  /** BM25 replay over the subset of `documents` matching `where` — the
    * purged-index gate shares the body with the full-corpus gates (a
    * physically-purged index must score exactly like an index of the
    * filtered corpus, so its oracle IS the filtered-corpus replay). */
  private def bm25OracleSqlWhere(where: String): String =
    s"""WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '$WS')) AS word FROM documents WHERE $where),
       |ftk AS (SELECT doc_id, word FROM tk WHERE regexp_matches(word, '^[a-z0-9]+$$')),
       |dl AS (SELECT doc_id, count(*) AS dl FROM ftk GROUP BY 1),
       |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
       |tf AS (SELECT doc_id, word, count(*) AS tf FROM ftk
       |  WHERE word IN ('spark', 'window', 'join') GROUP BY 1, 2),
       |dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
       |sc AS (SELECT t.doc_id,
       |    ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * (t.tf * 2.2) /
       |      (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS s
       |  FROM tf t JOIN dfq d USING (word) JOIN dl l USING (doc_id) CROSS JOIN st s)
       |SELECT doc_id, round(sum(s), 6) AS score FROM sc GROUP BY 1
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  private val bm25OracleSql: String = bm25OracleSqlWhere("TRUE")

  /** Composition replay: the hash-embed CTE chain materializes an
    * `embeddings` CTE that SHADOWS the parquet table, then the stock LSH
    * banding + probe body runs unchanged over it. */
  private val hashEmbedLshOracleSql: String =
    s"""WITH $hashEmbedCtes,
       |embeddings AS MATERIALIZED (SELECT doc_id AS vec_id,
       |    CAST(list(weight ORDER BY dim_idx) AS FLOAT[]) AS embedding
       |  FROM hemb GROUP BY doc_id),
       |$lshBandedCte,
       |$annBodySql""".stripMargin

  /** DuckDB replay of [[graft.ops.TextAnalysis.hybridSearch]] /
    * [[graft.ops.TextAnalysis.hybridSearchIndexed]], parameterized on the
    * DENSE candidate CTE chain (must end in `dtop(doc_id, r_dense)`): the
    * hash-embed chain feeds the dense ranking for query doc 0, the BM25
    * chain feeds the sparse ranking, and RRF fuses the two capped
    * candidate lists (fixed expression order — no float aggregation, so no
    * rounding is needed on the fused score). */
  private def hybridFusionOracleSql(denseCtes: String): String =
    s"""WITH $hashEmbedCtes,
       |embeddings AS MATERIALIZED (SELECT doc_id AS vec_id,
       |    CAST(list(weight ORDER BY dim_idx) AS FLOAT[]) AS embedding
       |  FROM hemb GROUP BY doc_id),
       |$denseCtes,
       |tk2 AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '$WS')) AS word FROM documents),
       |ftk2 AS (SELECT doc_id, word FROM tk2 WHERE regexp_matches(word, '^[a-z0-9]+$$')),
       |dl2 AS (SELECT doc_id, count(*) AS dl FROM ftk2 GROUP BY 1),
       |st2 AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl2),
       |tf2 AS (SELECT doc_id, word, count(*) AS tf FROM ftk2
       |  WHERE word IN ('spark', 'window', 'join') GROUP BY 1, 2),
       |dfq2 AS (SELECT word, count(*) AS df FROM tf2 GROUP BY 1),
       |sc2 AS (SELECT t.doc_id,
       |    ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * (t.tf * 2.2) /
       |      (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS s
       |  FROM tf2 t JOIN dfq2 d USING (word) JOIN dl2 l USING (doc_id) CROSS JOIN st2 s),
       |btop AS (SELECT doc_id, score FROM
       |  (SELECT doc_id, round(sum(s), 6) AS score FROM sc2 GROUP BY 1
       |   ORDER BY score DESC, doc_id LIMIT 100)),
       |srank AS (SELECT doc_id,
       |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r_sparse FROM btop)
       |SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
       |  coalesce(1.0 / (60.0 + s.r_sparse), 0.0) + coalesce(1.0 / (60.0 + d.r_dense), 0.0) AS rrf,
       |  s.r_sparse, d.r_dense
       |FROM srank s FULL OUTER JOIN dtop d ON s.doc_id = d.doc_id
       |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin

  /** Dense half of the DIRECT hybrid search: exact brute-force cosine
    * ranking of the whole hash-embed corpus against query doc 0. */
  private val hybridDenseBruteCtes: String =
    """dn AS (SELECT e2.vec_id AS doc_id,
      |    CAST(row_number() OVER (ORDER BY
      |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(e2.embedding AS DOUBLE[])) DESC,
      |      e2.vec_id) AS BIGINT) AS r_dense
      |  FROM embeddings e2 CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      |  WHERE e2.vec_id <> 0),
      |dtop AS (SELECT doc_id, r_dense FROM dn WHERE r_dense <= 100)""".stripMargin

  /** Dense half of the INDEXED hybrid search: the stock LSH banding over
    * the hash-embed `embeddings` CTE, candidates = band collisions with
    * query vec 0, exact-cosine re-rank — the DuckDB replay of
    * [[graft.ops.Similarity.lshTopKIndexed]]'s probe (the stored index
    * changes where signatures come from, not their values). */
  private val hybridDenseLshCtes: String =
    s"""$lshBandedCte,
       |dcand AS (SELECT DISTINCT q.embedding AS qv, n.vec_id AS doc_id, n.embedding AS nv
       |  FROM banded q JOIN banded n
       |  ON q.band_idx = n.band_idx AND q.band_val = n.band_val
       |    AND q.vec_id = 0 AND n.vec_id <> 0),
       |dn AS (SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY
       |      list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(nv AS DOUBLE[])) DESC,
       |      doc_id) AS BIGINT) AS r_dense
       |  FROM dcand),
       |dtop AS (SELECT doc_id, r_dense FROM dn WHERE r_dense <= 100)""".stripMargin

  private val hybridOracleSql: String = hybridFusionOracleSql(hybridDenseBruteCtes)
  private val hybridIndexedOracleSql: String = hybridFusionOracleSql(hybridDenseLshCtes)

  /** The fixed workload of the query-many hybrid gate: three queries, each
    * its own term set, query_id doubling as the dense vec_id. */
  private val hybridWorkload: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "window"),
    1L -> Seq("join", "filter"),
    2L -> Seq("stream", "query"))

  /** DuckDB replay of [[TextAnalysis.bm25SearchManyIndexed]] over
    * [[hybridWorkload]]: global df + corpus stats, per-query score sums
    * and top-20 caps. */
  private val bm25ManyOracleSql: String = {
    val qtermVals = hybridWorkload
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }.mkString(", ")
    val words = hybridWorkload.flatMap(_._2).distinct.map(w => s"'$w'").mkString(", ")
    s"""WITH qterms(query_id, word) AS (VALUES $qtermVals),
       |tk2 AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '$WS')) AS word FROM documents),
       |ftk2 AS (SELECT doc_id, word FROM tk2 WHERE regexp_matches(word, '^[a-z0-9]+$$')),
       |dl2 AS (SELECT doc_id, count(*) AS dl FROM ftk2 GROUP BY 1),
       |st2 AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl2),
       |tf2 AS (SELECT doc_id, word, count(*) AS tf FROM ftk2
       |  WHERE word IN ($words) GROUP BY 1, 2),
       |dfq2 AS (SELECT word, count(*) AS df FROM tf2 GROUP BY 1),
       |sc2 AS (SELECT qt.query_id, t.doc_id,
       |    ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * (t.tf * 2.2) /
       |      (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS s
       |  FROM tf2 t JOIN qterms qt USING (word) JOIN dfq2 d USING (word)
       |  JOIN dl2 l USING (doc_id) CROSS JOIN st2 s),
       |btop AS (SELECT query_id, doc_id, round(sum(s), 6) AS score
       |  FROM sc2 GROUP BY 1, 2)
       |SELECT query_id, doc_id, score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS r
       |  FROM btop)
       |WHERE r <= 20 ORDER BY query_id, score DESC, doc_id""".stripMargin
  }

  /** DuckDB replay of [[TextAnalysis.hybridSearchManyIndexed]] over
    * [[hybridWorkload]] — the single-query fusion oracle widened by a
    * query_id key: per-word df and corpus stats stay GLOBAL (shared across
    * queries, exactly as the shared posting scan computes them), rankings
    * and the RRF cap go per-query via PARTITION BY. */
  private val hybridManyOracleSql: String = {
    val qtermVals = hybridWorkload
      .flatMap { case (q, ts) => ts.map(t => s"($q, '$t')") }.mkString(", ")
    val qids = hybridWorkload.map(_._1).mkString(", ")
    val words = hybridWorkload.flatMap(_._2).distinct.map(w => s"'$w'").mkString(", ")
    s"""WITH $hashEmbedCtes,
       |embeddings AS MATERIALIZED (SELECT doc_id AS vec_id,
       |    CAST(list(weight ORDER BY dim_idx) AS FLOAT[]) AS embedding
       |  FROM hemb GROUP BY doc_id),
       |$lshBandedCte,
       |qterms(query_id, word) AS (VALUES $qtermVals),
       |dcand AS (SELECT DISTINCT q.vec_id AS query_id, q.embedding AS qv,
       |    n.vec_id AS doc_id, n.embedding AS nv
       |  FROM banded q JOIN banded n
       |  ON q.band_idx = n.band_idx AND q.band_val = n.band_val
       |    AND q.vec_id IN ($qids) AND n.vec_id <> q.vec_id),
       |dn AS (SELECT query_id, doc_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY
       |      list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(nv AS DOUBLE[])) DESC,
       |      doc_id) AS BIGINT) AS r_dense
       |  FROM dcand),
       |dtop AS (SELECT query_id, doc_id, r_dense FROM dn WHERE r_dense <= 100),
       |tk2 AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '$WS')) AS word FROM documents),
       |ftk2 AS (SELECT doc_id, word FROM tk2 WHERE regexp_matches(word, '^[a-z0-9]+$$')),
       |dl2 AS (SELECT doc_id, count(*) AS dl FROM ftk2 GROUP BY 1),
       |st2 AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl2),
       |tf2 AS (SELECT doc_id, word, count(*) AS tf FROM ftk2
       |  WHERE word IN ($words) GROUP BY 1, 2),
       |dfq2 AS (SELECT word, count(*) AS df FROM tf2 GROUP BY 1),
       |sc2 AS (SELECT qt.query_id, t.doc_id,
       |    ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) * (t.tf * 2.2) /
       |      (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS s
       |  FROM tf2 t JOIN qterms qt USING (word) JOIN dfq2 d USING (word)
       |  JOIN dl2 l USING (doc_id) CROSS JOIN st2 s),
       |btop AS (SELECT query_id, doc_id, round(sum(s), 6) AS score
       |  FROM sc2 GROUP BY 1, 2),
       |srank0 AS (SELECT query_id, doc_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS BIGINT) AS r_sparse
       |  FROM btop),
       |srank AS (SELECT query_id, doc_id, r_sparse FROM srank0 WHERE r_sparse <= 100),
       |fused AS (SELECT coalesce(s.query_id, d.query_id) AS query_id,
       |  coalesce(s.doc_id, d.doc_id) AS doc_id,
       |  coalesce(1.0 / (60.0 + s.r_sparse), 0.0) + coalesce(1.0 / (60.0 + d.r_dense), 0.0) AS rrf,
       |  s.r_sparse, d.r_dense
       |  FROM srank s FULL OUTER JOIN dtop d
       |  ON s.query_id = d.query_id AND s.doc_id = d.doc_id)
       |SELECT query_id, doc_id, rrf, r_sparse, r_dense FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS fr
       |  FROM fused)
       |WHERE fr <= 20 ORDER BY query_id, rrf DESC, doc_id""".stripMargin
  }

  /** DuckDB replay of the bigram-LM train-then-score loop, shared by the
    * train-per-call gate and its stored-model twin (exact integer count
    * tables make the two bit-identical). */
  private val lmScoreOracleSql: String =
    s"""WITH f AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '$WS'),
       |    t -> regexp_matches(t, '^[a-z0-9]+$$')) AS a FROM documents),
       |bi AS (SELECT doc_id, a[i] AS w1, a[i + 1] AS w2
       |  FROM f, unnest(generate_series(1, len(a) - 1)) AS t(i) WHERE len(a) >= 2),
       |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
       |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
       |v AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(a) AS w FROM f)),
       |sc AS (SELECT b.doc_id, ln((c.c12 + 1.0) / (u.c1 + v.v)) AS logp
       |  FROM bi b JOIN c12 c USING (w1, w2) JOIN c1 u USING (w1) CROSS JOIN v)
       |SELECT doc_id, count(*) AS n_bigrams, round(avg(logp), 6) AS avg_logp
       |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin

  private val lshNearDupOracleSql: String =
    s"""WITH $lshBandedCte,
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, a.embedding AS va,
       |    b.vec_id AS id_b, b.embedding AS vb
       |  FROM banded a JOIN banded b
       |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.vec_id < b.vec_id)
       |SELECT id_a, id_b, cos FROM (
       |  SELECT id_a, id_b,
       |    list_cosine_similarity(CAST(va AS DOUBLE[]), CAST(vb AS DOUBLE[])) AS cos FROM cand)
       |WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin

  /** The IVF probe body (DuckDB mirror of [[Similarity.ivfTopKWith]]) over
    * a pivot CTE named `piv`: each vector lives in its nearest pivot's
    * cell (ties to the smaller pid), queries probe their 2 nearest cells,
    * exact cosine re-ranks. `ranked` is shared between cells and probes —
    * the probe filter is on the vector id itself, so ranking before or
    * after the filter is identical (mirrors the Spark side's shared
    * `scored`). */
  /** The IVF probe body over a `piv` pivot CTE, with the assigned corpus
    * restricted to `where` — `TRUE` for the full-corpus gates; the purged
    * gate keeps the pivots trained on the BUILD corpus (the model-kept
    * forget contract) while cells and probes cover only survivors. */
  private def ivfBodySqlWhere(where: String): String =
    s"""sc AS (SELECT e.vec_id, e.embedding, p.pid,
       |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(p.pv AS DOUBLE[])) AS pcos
       |  FROM embeddings e CROSS JOIN piv p WHERE $where),
       |ranked AS (SELECT vec_id, embedding, pid,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY pcos DESC, pid) AS prn FROM sc),
       |cells AS (SELECT vec_id AS neighbor_id, embedding AS nv, pid AS cell
       |  FROM ranked WHERE prn = 1),
       |probes AS (SELECT vec_id AS query_id, embedding AS qv, pid AS cell
       |  FROM ranked WHERE vec_id < 10 AND prn <= 2),
       |cand AS (SELECT DISTINCT query_id, qv, neighbor_id, nv
       |  FROM probes JOIN cells USING (cell) WHERE neighbor_id <> query_id),
       |scored AS (SELECT query_id, neighbor_id,
       |  list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(nv AS DOUBLE[])) AS cos FROM cand),
       |r AS (SELECT query_id, neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn, cos
       |  FROM scored)
       |SELECT query_id, neighbor_id, rn, cos FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin

  private val ivfBodySql: String = ivfBodySqlWhere("TRUE")

  /** DuckDB mirror of [[Similarity.ivfTopK]]: `vec_id < NumPivots` pivots. */
  private val ivfOracleSql: String =
    s"""WITH piv AS (SELECT vec_id AS pid, embedding AS pv FROM embeddings
       |  WHERE vec_id < ${Similarity.NumPivots}),
       |$ivfBodySql""".stripMargin

  /** DuckDB replay of [[graft.ops.Bpe.train]]: the full merge loop as
    * chained CTEs — pair counting over the symbol strings, the (count DESC,
    * pair ASC) argmax, and the doubled-boundary greedy replace (expand
    * SEP→SEPSEP, pad, inner-half literal replace, collapse), one stage
    * triple per round. `chr(31)` is [[graft.ops.Bpe.Sep]]. */
  /** DuckDB replay of [[Multimodal.dHash]]: nearest-neighbor 8×8 grid
    * coordinates (exact integer div), sampled pixels from the
    * [[Multimodal.synthesizePng]] generating formula (no decoder), one
    * bit per left-to-right brightening comparison → the 56-bit code. */
  private val phashCtes: String =
    """g AS (SELECT doc_id,
      |    CAST(doc_id % 16 + 8 AS BIGINT) AS w,
      |    CAST(doc_id % 12 + 8 AS BIGINT) AS h
      |  FROM documents),
      |co AS (SELECT doc_id, gx, gy,
      |    (gx * w) // 8 AS x1, ((gx + 1) * w) // 8 AS x2, (gy * h) // 8 AS sy
      |  FROM g,
      |    unnest(generate_series(0, 7)) AS ty(gy),
      |    unnest(generate_series(0, 6)) AS tx(gx)),
      |bits AS (SELECT doc_id,
      |    CASE WHEN (doc_id * 31 + x2 * 7 + sy * 13 + (doc_id % 9 + 1) * x2 * sy) % 256
      |            > (doc_id * 31 + x1 * 7 + sy * 13 + (doc_id % 9 + 1) * x1 * sy) % 256
      |      THEN CAST(1 AS BIGINT) << CAST(gy * 7 + gx AS INT)
      |      ELSE CAST(0 AS BIGINT) END AS bit
      |  FROM co),
      |ph AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS phash
      |  FROM bits GROUP BY doc_id)""".stripMargin

  /** DuckDB mirror of [[Multimodal.phashPairsIndexed]]: band collisions
    * BETWEEN the stored-corpus side (predicate `aWhere` — the %3 split,
    * minus the forgotten ids for the purged-index gate) and the %3 batch
    * side, then the exact Hamming rule. */
  private def phashCrossOracleSqlWhere(aWhere: String): String =
    s"""WITH $phashCtes,
       |bndA AS (SELECT doc_id, phash, b AS band_idx,
       |    (phash >> CAST(b * 14 AS INT)) & 16383 AS band_val
       |  FROM ph, unnest(generate_series(0, 3)) AS tb(b) WHERE $aWhere),
       |bndB AS (SELECT doc_id, phash, b AS band_idx,
       |    (phash >> CAST(b * 14 AS INT)) & 16383 AS band_val
       |  FROM ph, unnest(generate_series(0, 3)) AS tb(b) WHERE doc_id % 3 = 0),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bndA a JOIN bndB b
       |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val)
       |SELECT doc_a, doc_b,
       |  CAST(bit_count(xor(pa.phash, pb.phash)) AS BIGINT) AS hamming
       |FROM cand JOIN ph pa ON pa.doc_id = doc_a JOIN ph pb ON pb.doc_id = doc_b
       |WHERE bit_count(xor(pa.phash, pb.phash)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  private val phashCrossOracleSql: String =
    phashCrossOracleSqlWhere("doc_id % 3 <> 0")

  /** DuckDB replay of [[Multimodal.aHash]]: windowed sample sums from the
    * synthesizeWav generating formula (no decoder), one bit per
    * louder-than-previous-window comparison (exact cross-multiplication —
    * window sizes differ by one sample). */
  private val ahashCtes: String =
    """wd AS (SELECT doc_id, CAST(doc_id % 400 + 100 AS BIGINT) AS n FROM documents),
      |wsm AS (SELECT doc_id,
      |    (doc_id * 37 + i * i * 17 + (doc_id % 13 + 1) * i) % 65536 - 32768 AS v,
      |    (i * 33) // n AS w
      |  FROM wd, unnest(generate_series(0, CAST(n - 1 AS INT))) AS g(i)),
      |wws AS (SELECT doc_id, w, CAST(sum(v) AS BIGINT) AS s, count(*) AS c
      |  FROM wsm GROUP BY 1, 2),
      |wbits AS (SELECT a.doc_id,
      |    CASE WHEN b.s * a.c > a.s * b.c
      |      THEN CAST(1 AS BIGINT) << CAST(a.w AS INT) ELSE CAST(0 AS BIGINT) END AS bit
      |  FROM wws a JOIN wws b ON b.doc_id = a.doc_id AND b.w = a.w + 1),
      |ah AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS ahash
      |  FROM wbits GROUP BY doc_id)""".stripMargin

  private def bpeCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""w AS (SELECT w AS word, count(*) AS cnt
       |  FROM (SELECT unnest(regexp_split_to_array(lower(text), '$WS')) AS w FROM documents)
       |  WHERE regexp_matches(w, '^[a-z0-9]+$$') GROUP BY 1),
       |s0 AS MATERIALIZED (SELECT word, cnt,
       |  array_to_string(regexp_extract_all(word, '.'), chr(31)) AS s FROM w)""".stripMargin
    for (r <- 1 to rounds) {
      val prev = s"s${r - 1}"
      sb ++= s""",
       |p$r AS MATERIALIZED (SELECT a[i] || chr(31) || a[i + 1] AS pair, sum(cnt) AS c
       |  FROM (SELECT cnt, string_split(s, chr(31)) AS a FROM $prev) q,
       |    unnest(generate_series(1, len(a) - 1)) AS t(i) GROUP BY 1),
       |b$r AS MATERIALIZED (SELECT pair, c FROM p$r ORDER BY c DESC, pair LIMIT 1),
       |s$r AS MATERIALIZED (SELECT word, cnt, trim(replace(replace(
       |    chr(31) || chr(31) || replace(s, chr(31), chr(31) || chr(31)) || chr(31) || chr(31),
       |    chr(31) || replace((SELECT pair FROM b$r), chr(31), chr(31) || chr(31)) || chr(31),
       |    chr(31) || replace((SELECT pair FROM b$r), chr(31), '') || chr(31)),
       |    chr(31) || chr(31), chr(31)), chr(31)) AS s
       |  FROM $prev)""".stripMargin
    }
    sb.toString
  }

  private def bpeMergesOracleSql(rounds: Int): String = {
    val unions = (1 to rounds).map { r =>
      s"""SELECT $r AS round, replace(pair, chr(31), ' ') AS pair,
         |  replace(pair, chr(31), '') AS merged, CAST(c AS BIGINT) AS cnt FROM b$r""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"WITH ${bpeCtes(rounds)}\nSELECT * FROM (\n  $unions) ORDER BY round"
  }

  private def bpeSegmentsOracleSql(rounds: Int, k: Int): String =
    s"""WITH ${bpeCtes(rounds)}
       |SELECT word, CAST(cnt AS BIGINT) AS cnt, replace(s, chr(31), ' ') AS seg
       |FROM s$rounds ORDER BY cnt DESC, word LIMIT $k""".stripMargin

  /** DuckDB replay of [[Similarity.trainPivots]]: hash-seeded init, then
    * [[Similarity.KmeansIters]] Lloyd's rounds. Exactness hinges on the
    * fixed-point centroid sums — `floor(x * 2^24)` BIGINTs add exactly in
    * any order, so the Spark-side shuffle layout cannot leak into the
    * trained centroids and the two engines agree bit-for-bit (see
    * [[Similarity.QuantScale]]). */
  private val kmeansPivotCtes: String = kmeansPivotCtesK(Similarity.NumPivots)

  /** The k-means pivot replay parameterized on the cell count — shared by
    * the default 16-pivot oracles and the 64-cell calibration gate. */
  private def kmeansPivotCtesK(k: Int): String = {
    val q = s"${Similarity.QuantScale}.0"
    val rounds = (1 to Similarity.KmeansIters).map { i =>
      val prev = s"c${i - 1}"
      s"""s$i AS (SELECT e.vec_id, e.embedding, c.pid,
         |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.pv AS DOUBLE[])) AS pcos
         |  FROM embeddings e CROSS JOIN $prev c),
         |a$i AS (SELECT vec_id, embedding, pid AS cell FROM (
         |  SELECT vec_id, embedding, pid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY pcos DESC, pid) AS r
         |  FROM s$i) WHERE r = 1),
         |m$i AS (SELECT cell, d AS pos,
         |  sum(CAST(floor(CAST(embedding[d] AS DOUBLE) * $q) AS BIGINT)) AS s, count(*) AS n
         |  FROM a$i, unnest(generate_series(1, ${Similarity.Dim})) AS t(d) GROUP BY cell, d),
         |g$i AS (SELECT cell AS pid,
         |  list(CAST(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * $q) AS FLOAT) ORDER BY pos) AS pv
         |  FROM m$i GROUP BY cell),
         |c$i AS (SELECT c.pid, coalesce(g.pv, c.pv) AS pv
         |  FROM $prev c LEFT JOIN g$i g ON c.pid = g.pid)""".stripMargin
    }.mkString(",\n")
    s"""kinit AS (SELECT embedding,
       |  row_number() OVER (ORDER BY ${h32Sql("CAST(vec_id AS VARCHAR)")}, vec_id) AS krn
       |  FROM embeddings),
       |c0 AS (SELECT CAST(krn - 1 AS BIGINT) AS pid, embedding AS pv FROM kinit WHERE krn <= $k),
       |$rounds,
       |piv AS (SELECT pid, pv FROM c${Similarity.KmeansIters})""".stripMargin
  }

  private val ivfKmeansOracleSql: String =
    s"""WITH $kmeansPivotCtes,
       |$ivfBodySql""".stripMargin

  /** DuckDB replay of [[Similarity.pqTopK]]: per-subspace L2 Lloyd's
    * training ([[Similarity.PqIters]] rounds over all
    * [[Similarity.PqSubspaces]] codebooks at once, same fixed-point
    * centroid sums as the IVF replay), argmin encoding, reconstruction by
    * subspace-ordered concatenation, and the standard cosine ranking of
    * float queries against the reconstructions. d2 uses the dot-expansion
    * `x·x - 2 x·c + c·c` in the exact Spark association so assignment
    * ties break identically. */
  /** Gap-based sessionization replay, shared by the cumulative-window and
    * native session_window gates (identical on a corpus with no exact-gap
    * ties — see [[graft.streaming.StreamOps.sessionizeNative]]). */
  private val sessionsOracleSql: String =
    """WITH base AS (SELECT user_id, event_id, ts, value, epoch_ms(ts) AS ts_ms FROM events),
      |l AS (SELECT *, lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms FROM base),
      |f AS (SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_session FROM l),
      |s AS (SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM f)
      |SELECT user_id, session_idx, min(ts) AS start_ts, max(ts) AS end_ts,
      |  count(*) AS n_events, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The PQ training/encoding/reconstruction replay (psub … prec), shared
    * by the standalone PQ oracle and the composed IVF×PQ oracle: per-
    * subspace L2 Lloyd's training ([[Similarity.PqIters]] rounds over all
    * [[Similarity.PqSubspaces]] codebooks at once, same fixed-point
    * centroid sums as the IVF replay), argmin encoding, reconstruction by
    * subspace-ordered concatenation. d2 uses the dot-expansion
    * `x·x - 2 x·c + c·c` in the exact Spark association so assignment
    * ties break identically. Ends at `prec` = (vec_id, rv). */
  private val pqTrainCtes: String = {
    val m = Similarity.PqSubspaces
    val sd = Similarity.PqSubDim
    val k = Similarity.PqCodes
    val q = s"${Similarity.QuantScale}.0"
    def d2(x: String, c: String): String =
      s"list_dot_product(CAST($x AS DOUBLE[]), CAST($x AS DOUBLE[])) - " +
        s"2.0 * list_dot_product(CAST($x AS DOUBLE[]), CAST($c AS DOUBLE[])) + " +
        s"list_dot_product(CAST($c AS DOUBLE[]), CAST($c AS DOUBLE[]))"
    val rounds = (1 to Similarity.PqIters).map { i =>
      val prev = s"pb${i - 1}"
      s"""ps$i AS (SELECT s.vec_id, s.m, s.sv, c.pid, ${d2("s.sv", "c.cv")} AS d2
         |  FROM psub s JOIN $prev c ON s.m = c.m),
         |pa$i AS (SELECT vec_id, m, sv, pid AS cell FROM (
         |  SELECT vec_id, m, sv, pid,
         |    row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, pid) AS r
         |  FROM ps$i) WHERE r = 1),
         |pm$i AS (SELECT m, cell, d AS pos,
         |  sum(CAST(floor(CAST(sv[d] AS DOUBLE) * $q) AS BIGINT)) AS s, count(*) AS n
         |  FROM pa$i, unnest(generate_series(1, $sd)) AS t(d) GROUP BY m, cell, d),
         |pg$i AS (SELECT m, cell AS pid,
         |  list(CAST(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * $q) AS FLOAT) ORDER BY pos) AS cv
         |  FROM pm$i GROUP BY m, cell),
         |pb$i AS (SELECT c.m, c.pid, coalesce(g.cv, c.cv) AS cv
         |  FROM $prev c LEFT JOIN pg$i g ON c.m = g.m AND c.pid = g.pid)""".stripMargin
    }.mkString(",\n")
    val fin = s"pb${Similarity.PqIters}"
    s"""psub AS (SELECT vec_id, m,
       |    list_slice(embedding, m * $sd + 1, m * $sd + $sd) AS sv
       |  FROM embeddings, unnest(generate_series(0, ${m - 1})) AS t(m)),
       |pkinit AS (SELECT embedding,
       |  row_number() OVER (ORDER BY ${h32Sql("CAST(vec_id AS VARCHAR)")}, vec_id) AS krn
       |  FROM embeddings),
       |pb0 AS (SELECT m, CAST(krn - 1 AS BIGINT) AS pid,
       |    list_slice(embedding, m * $sd + 1, m * $sd + $sd) AS cv
       |  FROM pkinit, unnest(generate_series(0, ${m - 1})) AS t(m) WHERE krn <= $k),
       |$rounds,
       |pcode AS (SELECT vec_id, m, cell FROM (
       |  SELECT s.vec_id, s.m, c.pid AS cell,
       |    row_number() OVER (PARTITION BY s.vec_id, s.m
       |      ORDER BY ${d2("s.sv", "c.cv")}, c.pid) AS r
       |  FROM psub s JOIN $fin c ON s.m = c.m) WHERE r = 1),
       |prec AS (SELECT p.vec_id, flatten(list(c.cv ORDER BY p.m)) AS rv
       |  FROM pcode p JOIN $fin c ON p.m = c.m AND p.cell = c.pid
       |  GROUP BY p.vec_id)""".stripMargin
  }

  private val pqTopKOracleSql: String =
    s"""WITH $pqTrainCtes,
       |pp AS (SELECT qq.vec_id AS query_id, nn.vec_id AS neighbor_id,
       |    list_cosine_similarity(CAST(qq.embedding AS DOUBLE[]), CAST(nn.rv AS DOUBLE[])) AS cos_pq
       |  FROM embeddings qq JOIN prec nn ON qq.vec_id < 10 AND nn.vec_id <> qq.vec_id),
       |pr AS (SELECT query_id, neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_pq DESC, neighbor_id) AS BIGINT) AS rn, cos_pq
       |  FROM pp)
       |SELECT query_id, neighbor_id, rn, cos_pq FROM pr WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin

  /** DuckDB replay of the composed IVF×PQ probe: k-means pivots + cell
    * assignment from the IVF replay bound the candidate set (2 probed
    * cells per query), PQ training + reconstruction from the PQ replay
    * provide the scoring vectors, and the final ranking is the PQ tier's
    * `cosine(q, ĉ_n)` over ONLY the probed cells' members — the exact
    * composition [[Similarity.ivfPqTopKIndexed]] executes off the stored
    * index. */
  /** Wrap any tier's replayed top-k oracle into the recall@5 audit
    * ([[Similarity.recallAtK]]'s DuckDB mirror, same composition as the
    * hand-written ann_recall_lsh oracle): the tier statement runs as a
    * derived table, the exact scan is the brute-force cosine ranking over
    * the same `vec_id < 10` query set, hits are counted by exact join and
    * the ratio is one division of exact integers. */
  private def recallOracleSql(tierSql: String): String =
    s"""WITH approx AS (SELECT query_id, neighbor_id FROM ($tierSql) tq),
       |ep AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])) AS cos
       |  FROM embeddings q JOIN embeddings n ON q.vec_id < 10 AND n.vec_id <> q.vec_id),
       |exact AS (SELECT query_id, neighbor_id FROM (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
       |  FROM ep) WHERE rn <= 5),
       |hits AS (SELECT e.query_id, count(a.neighbor_id) AS n_hits
       |  FROM exact e LEFT JOIN approx a
       |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |  GROUP BY e.query_id),
       |ex AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id)
       |SELECT ex.query_id, coalesce(h.n_hits, 0) AS n_hits, ex.n_exact,
       |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / ex.n_exact AS recall
       |FROM ex LEFT JOIN hits h ON h.query_id = ex.query_id
       |ORDER BY ex.query_id""".stripMargin

  /** DuckDB replay of [[Similarity.maxSimTopK]] over the synthetic
    * `vec_id div 8` groups: per-(query doc, cand doc, query token) best
    * cosine, summed over query tokens in exact fixed-point — max is
    * order-independent and long addition associative, so the score
    * replays bit-for-bit. Lifted to a val (r18) so the recall monitor
    * composes it as the exact side. */
  private val maxSimTopKOracleSql: String =
    """WITH t AS (SELECT vec_id // 8 AS dkey, vec_id, embedding FROM embeddings),
      |q AS (SELECT dkey AS query_doc, vec_id AS qtok, embedding AS qv
      |  FROM t WHERE dkey % 10 = 0),
      |best AS (SELECT q.query_doc, c.dkey AS neighbor_doc, q.qtok,
      |    max(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
      |        CAST(c.embedding AS DOUBLE[]))) AS m
      |  FROM q JOIN t c ON c.dkey <> q.query_doc GROUP BY 1, 2, 3),
      |s AS (SELECT query_doc, neighbor_doc,
      |    CAST(sum(CAST(floor(m * 16777216.0) AS BIGINT)) AS BIGINT) AS score
      |  FROM best GROUP BY 1, 2),
      |r AS (SELECT query_doc, neighbor_doc,
      |    CAST(row_number() OVER (PARTITION BY query_doc
      |      ORDER BY score DESC, neighbor_doc) AS BIGINT) AS rn, score
      |  FROM s)
      |SELECT query_doc, neighbor_doc, rn, score FROM r
      |WHERE rn <= 5 ORDER BY query_doc, rn""".stripMargin

  /** DuckDB replay of [[Similarity.maxSimTopKIndexed]]: the k-means pivot
    * replay feeds per-token cell probes (prn <= nprobe over the SAME
    * ranked relation that assigns cells at prn = 1), partial fixed-point
    * MaxSim over probed cells picks the 20-doc shortlist, and the exact
    * stage re-ranks each candidate's full arithmetic token range — both
    * stages' sums in floor(cos*2^24) longs, so every tie and every rank
    * replays. */
  private val maxSimIndexedOracleSql: String =
    s"""WITH $kmeansPivotCtes,
       |sc AS (SELECT e.vec_id, e.embedding, p.pid,
       |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(p.pv AS DOUBLE[])) AS pcos
       |  FROM embeddings e CROSS JOIN piv p),
       |ranked AS (SELECT vec_id, embedding, pid,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY pcos DESC, pid) AS prn FROM sc),
       |cells AS (SELECT vec_id // 8 AS neighbor_doc, embedding AS nv, pid AS cell
       |  FROM ranked WHERE prn = 1),
       |qp AS (SELECT vec_id // 8 AS query_doc, vec_id AS qtok, embedding AS qv, pid AS cell
       |  FROM ranked WHERE (vec_id // 8) % 10 = 0 AND prn <= 2),
       |hit AS (SELECT DISTINCT query_doc, qtok, qv, neighbor_doc, nv
       |  FROM qp JOIN cells USING (cell) WHERE neighbor_doc <> query_doc),
       |pm AS (SELECT query_doc, neighbor_doc, qtok,
       |  max(list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(nv AS DOUBLE[]))) AS m
       |  FROM hit GROUP BY 1, 2, 3),
       |part AS (SELECT query_doc, neighbor_doc,
       |  CAST(sum(CAST(floor(m * 16777216.0) AS BIGINT)) AS BIGINT) AS partial
       |  FROM pm GROUP BY 1, 2),
       |short AS (SELECT query_doc, neighbor_doc FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_doc
       |    ORDER BY partial DESC, neighbor_doc) AS srn FROM part) WHERE srn <= 20),
       |qt AS (SELECT vec_id // 8 AS query_doc, vec_id AS qtok, embedding AS qv
       |  FROM embeddings WHERE (vec_id // 8) % 10 = 0),
       |ct AS (SELECT s.query_doc, s.neighbor_doc, e.embedding AS nv
       |  FROM (SELECT query_doc, neighbor_doc, neighbor_doc * 8 + i AS vid
       |        FROM short, unnest(generate_series(0, 7)) AS t(i)) s
       |  JOIN embeddings e ON e.vec_id = s.vid),
       |em AS (SELECT c.query_doc, c.neighbor_doc, q.qtok,
       |  max(list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(c.nv AS DOUBLE[]))) AS m
       |  FROM ct c JOIN qt q USING (query_doc) GROUP BY 1, 2, 3),
       |msum AS (SELECT query_doc, neighbor_doc,
       |  CAST(sum(CAST(floor(m * 16777216.0) AS BIGINT)) AS BIGINT) AS score
       |  FROM em GROUP BY 1, 2),
       |r AS (SELECT query_doc, neighbor_doc,
       |  CAST(row_number() OVER (PARTITION BY query_doc
       |    ORDER BY score DESC, neighbor_doc) AS BIGINT) AS rn, score FROM msum)
       |SELECT query_doc, neighbor_doc, rn, score FROM r
       |WHERE rn <= 5 ORDER BY query_doc, rn""".stripMargin

  /** DuckDB replay of the text→token-vectors MaxSim composition
    * ([[TextAnalysis.hashEmbedWindows]] → [[Similarity.maxSimTopKTokens]]):
    * the hashEmbed vote/normalize chain per (doc, 8-token window) over the
    * ordered alnum stream (both tokenizers preserve stream order, so the
    * position-dependent chunking replays), first 4 windows kept, zero-norm
    * windows dropped on both sides, then the standard fixed-point MaxSim
    * ranking with the real doc_id as the group key. */
  private val maxSimTextOracleSql: String = {
    val dim = graft.ops.Similarity.Dim
    s"""WITH f AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '$WS'),
       |    t -> regexp_matches(t, '^[a-z0-9]+$$')) AS a FROM documents),
       |ftk AS (SELECT doc_id, a[i] AS tok, CAST((i - 1) // 8 AS BIGINT) AS win
       |  FROM f, unnest(generate_series(1, len(a))) AS u(i)
       |  WHERE (i - 1) // 8 < 4),
       |hp AS (SELECT doc_id, win, ${h60Sql("'he:' || tok")} % $dim AS idx,
       |    CASE WHEN ${h60Sql("'hs:' || tok")} % 2 = 0 THEN 1 ELSE -1 END AS sgn
       |  FROM ftk),
       |hsums AS MATERIALIZED (SELECT doc_id, win, idx, CAST(sum(sgn) AS BIGINT) AS v
       |  FROM hp GROUP BY 1, 2, 3),
       |wins AS (SELECT DISTINCT doc_id, win FROM ftk),
       |hdims AS (SELECT doc_id, win, i AS dim_idx FROM wins,
       |  unnest(generate_series(0, ${dim - 1})) AS g(i)),
       |vv AS MATERIALIZED (SELECT hdims.doc_id, hdims.win, hdims.dim_idx,
       |    coalesce(s.v, 0) AS v
       |  FROM hdims LEFT JOIN hsums s ON s.doc_id = hdims.doc_id
       |    AND s.win = hdims.win AND s.idx = hdims.dim_idx),
       |nrm AS (SELECT doc_id, win, sqrt(sum(CAST(v * v AS DOUBLE))) AS norm
       |  FROM vv GROUP BY 1, 2),
       |wemb AS MATERIALIZED (SELECT vv.doc_id, vv.win,
       |    list(CAST(v / norm AS FLOAT) ORDER BY dim_idx) AS embedding
       |  FROM vv JOIN nrm USING (doc_id, win) WHERE norm > 0
       |  GROUP BY vv.doc_id, vv.win),
       |q AS (SELECT doc_id AS query_doc, win AS qtok, embedding AS qv
       |  FROM wemb WHERE doc_id < 8),
       |best AS (SELECT q.query_doc, c.doc_id AS neighbor_doc, q.qtok,
       |    max(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
       |        CAST(c.embedding AS DOUBLE[]))) AS m
       |  FROM q JOIN wemb c ON c.doc_id <> q.query_doc GROUP BY 1, 2, 3),
       |s AS (SELECT query_doc, neighbor_doc,
       |    CAST(sum(CAST(floor(m * 16777216.0) AS BIGINT)) AS BIGINT) AS score
       |  FROM best GROUP BY 1, 2),
       |r AS (SELECT query_doc, neighbor_doc,
       |    CAST(row_number() OVER (PARTITION BY query_doc
       |      ORDER BY score DESC, neighbor_doc) AS BIGINT) AS rn, score
       |  FROM s)
       |SELECT query_doc, neighbor_doc, rn, score FROM r
       |WHERE rn <= 5 ORDER BY query_doc, rn""".stripMargin
  }

  /** Recall@5 of the MaxSim indexed tier against the exact MaxSim scan —
    * [[recallOracleSql]]'s composition with BOTH sides the late-
    * interaction replays above (the exact side there is single-vector
    * brute force, which is the wrong ground truth for this tier). */
  private val maxSimRecallOracleSql: String =
    s"""WITH approx AS (SELECT query_doc AS query_id, neighbor_doc AS neighbor_id
       |  FROM ($maxSimIndexedOracleSql) ta),
       |exact AS (SELECT query_doc AS query_id, neighbor_doc AS neighbor_id
       |  FROM ($maxSimTopKOracleSql) te),
       |hits AS (SELECT e.query_id, count(a.neighbor_id) AS n_hits
       |  FROM exact e LEFT JOIN approx a
       |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |  GROUP BY e.query_id),
       |ex AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id)
       |SELECT ex.query_id, coalesce(h.n_hits, 0) AS n_hits, ex.n_exact,
       |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / ex.n_exact AS recall
       |FROM ex LEFT JOIN hits h ON h.query_id = ex.query_id
       |ORDER BY ex.query_id""".stripMargin

  private val ivfPqOracleSql: String = ivfPqOracleSqlFor("vec_id < 10")

  /** CTE chain of the composed IVF×PQ probe, through the PQ-ranked `xr`,
    * parameterized on the query-set predicate — shared by the top-k, the
    * query-many, and the refine oracles. */
  private def ivfPqCtesFor(queryPred: String, cellsWhere: String = "TRUE",
      nprobe: Int = Similarity.IvfPqNprobe): String =
    s"""$kmeansPivotCtes,
       |$pqTrainCtes,
       |xsc AS (SELECT e.vec_id, e.embedding, p.pid,
       |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(p.pv AS DOUBLE[])) AS pcos
       |  FROM embeddings e CROSS JOIN piv p),
       |xranked AS (SELECT vec_id, embedding, pid,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY pcos DESC, pid) AS prn FROM xsc),
       |xcells AS (SELECT vec_id AS neighbor_id, pid AS cell
       |  FROM xranked WHERE prn = 1 AND ($cellsWhere)),
       |xprobes AS (SELECT vec_id AS query_id, embedding AS qv, pid AS cell
       |  FROM xranked WHERE ($queryPred) AND prn <= $nprobe),
       |xcand AS (SELECT query_id, qv, neighbor_id
       |  FROM xprobes JOIN xcells USING (cell) WHERE neighbor_id <> query_id),
       |xscored AS (SELECT c.query_id, c.neighbor_id,
       |  list_cosine_similarity(CAST(c.qv AS DOUBLE[]), CAST(n.rv AS DOUBLE[])) AS cos_pq
       |  FROM xcand c JOIN prec n ON c.neighbor_id = n.vec_id),
       |xr AS (SELECT query_id, neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_pq DESC, neighbor_id) AS BIGINT) AS rn, cos_pq
       |  FROM xscored)""".stripMargin

  /** [[ivfPqOracleSql]] parameterized on the query-set predicate — the
    * query-many gate replays the same composed pipeline over its larger
    * workload slice. */
  private def ivfPqOracleSqlFor(queryPred: String, cellsWhere: String = "TRUE"): String =
    s"""WITH ${ivfPqCtesFor(queryPred, cellsWhere)}
       |SELECT query_id, neighbor_id, rn, cos_pq FROM xr WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin

  /** DuckDB mirror of [[Similarity.ivfPqRefineTopKIndexed]]: the PQ-ranked
    * shortlist capped at the candidate budget, exact-cosine re-rank from
    * the full-precision vectors, refined top-k. */
  private val ivfPqRefineOracleSql: String =
    s"""WITH ${ivfPqCtesFor("vec_id < 10", nprobe = Similarity.RefineNprobe)},
       |shortlist AS (SELECT query_id, neighbor_id FROM xr
       |  WHERE rn <= ${Similarity.RefineShortlist}),
       |rer AS (SELECT s.query_id, s.neighbor_id,
       |  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])) AS cos_exact
       |  FROM shortlist s
       |  JOIN embeddings q ON q.vec_id = s.query_id
       |  JOIN embeddings n ON n.vec_id = s.neighbor_id),
       |rr AS (SELECT query_id, neighbor_id,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_exact DESC, neighbor_id) AS BIGINT) AS rn,
       |  cos_exact
       |  FROM rer)
       |SELECT query_id, neighbor_id, rn, cos_exact FROM rr WHERE rn <= 5
       |ORDER BY query_id, rn""".stripMargin

  /** DuckDB mirror of [[Similarity.clusterBalancedSample]]: replayed
    * k-means training, final-centroid argmax assignment, per-cell
    * hash-order prefix cap. */
  private val clusterSampleOracleSql: String =
    s"""WITH $kmeansPivotCtes,
       |sx AS (SELECT e.vec_id, c.pid,
       |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.pv AS DOUBLE[])) AS pcos
       |  FROM embeddings e CROSS JOIN piv c),
       |asg AS (SELECT vec_id, pid AS cell FROM (
       |  SELECT vec_id, pid, row_number() OVER (PARTITION BY vec_id ORDER BY pcos DESC, pid) AS r
       |  FROM sx) WHERE r = 1),
       |hh AS (SELECT vec_id, cell,
       |  ${h60Sql("'cbs:' || CAST(vec_id AS VARCHAR)")} AS h FROM asg),
       |rk AS (SELECT vec_id, cell,
       |  CAST(row_number() OVER (PARTITION BY cell ORDER BY h, vec_id) AS BIGINT) AS rn FROM hh)
       |SELECT vec_id, cell, rn - 1 AS rank_in_cell FROM rk WHERE rn <= 10
       |ORDER BY vec_id""".stripMargin

  /** DuckDB mirror of [[Similarity.semanticDedupIndexed]]: replayed
    * k-means training, final-centroid argmax assignment (the same `asg`
    * recipe as the cluster-sample oracle), then the within-cell pair rule
    * — drop b when a lower-id cell-mate a has cosine(a, b) >= 0.4. */
  private val semanticDedupOracleSql: String =
    s"""WITH $kmeansPivotCtes,
       |sx AS (SELECT e.vec_id, e.embedding, c.pid,
       |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.pv AS DOUBLE[])) AS pcos
       |  FROM embeddings e CROSS JOIN piv c),
       |asg AS (SELECT vec_id, embedding, pid AS cell FROM (
       |  SELECT vec_id, embedding, pid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY pcos DESC, pid) AS r
       |  FROM sx) WHERE r = 1),
       |dom AS (SELECT DISTINCT b.vec_id FROM asg a JOIN asg b
       |  ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
       |    CAST(b.embedding AS DOUBLE[])) >= 0.4)
       |SELECT vec_id, cell FROM asg WHERE vec_id NOT IN (SELECT vec_id FROM dom)
       |ORDER BY vec_id""".stripMargin

  /** Deployment-path PROBE variants of the gates whose `queries` form
    * computes an EXACT companion alongside the stored-sketch probe for
    * the oracle's benefit (r16, VERDICT r15 missing #4): the gate timing
    * conflates the scale-free probe with the corpus-scale exact pass
    * (`ta_heavy_hitters_indexed` read 4.1× at sf1 — all of it the exact
    * top-20 companion), so Bench times these separately into its own
    * `probe` map. Each entry is self-sufficient (same buildOnce keys as
    * its gate, so the index build is shared and amortized) and reads
    * ONLY the stored artifact — at 100 TB these timings are what a
    * serving deployment actually pays. */
  def probeOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    // fixed query-word frequency lookup off the stored CMS: fan to
    // depth slots, broadcast-join the KB-scale folded sketch
    "ta_heavy_hitters_indexed" -> ((s, d) => {
      buildOnce(s"cms:$d") {
        TextAnalysis.buildCmsIndex(SharedCorpus.docsTok(s, d), "graft_cms_idx")
      }
      import s.implicits._
      TextAnalysis.cmsEstimates(s, "graft_cms_idx",
        ProbeWords.toDF("word")).orderBy("word")
    }),
    "ta_heavy_hitters_incr" -> ((s, d) => {
      buildOnce(s"cms_incr:$d") {
        val all = SharedCorpus.docsTok(s, d)
        TextAnalysis.buildCmsIndex(all.filter(col("doc_id") % 2 === 0), "graft_cms_incr")
        TextAnalysis.appendToCmsIndex(all.filter(col("doc_id") % 2 =!= 0), "graft_cms_incr")
        TextAnalysis.compactCmsIndex(s, "graft_cms_incr")
      }
      import s.implicits._
      TextAnalysis.cmsEstimates(s, "graft_cms_incr",
        ProbeWords.toDF("word")).orderBy("word")
    }),
    // per-source distinct estimate from the union of stored sketch rows
    "ta_distinct_hll_indexed" -> ((s, d) => {
      buildOnce(s"hll:$d") {
        TextAnalysis.buildHllIndex(SharedCorpus.docsTok(s, d), "graft_hll_idx")
      }
      TextAnalysis.distinctFromHllIndex(s, "graft_hll_idx").orderBy("source")
    }),
    // the sketch pass alone — the gate's exact `percentile()` twin exists
    // to emit the oracle's bound booleans, not to serve quantiles
    "agg_approx_quantiles" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy(col("l_returnflag"))
        .agg(expr(
          "percentile_approx(l_quantity, array(0.25D, 0.5D, 0.75D), 10000)").as("q"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),
    // ---- headline serving probes (r18, VERDICT r17 item 7): the
    // deployment-path cost of each flagship indexed tier, re-timed with
    // its builds already amortized (same buildOnce keys as the gates).
    // Unlike the sketch companions above these gates are ALREADY
    // probe-shaped — the value of the probe row is a clean post-build
    // steady timing in the artifact, no targeted sweep needed to read
    // what a 100 TB serving deployment actually pays per query batch.
    "ann_ivfpq_indexed" -> ((s, d) => {
      ensureIvfPqIndex(s, d)
      Similarity.ivfPqTopKIndexed(s, "graft_ivfpq_idx",
        Tables.embeddings(s, d).filter(col("vec_id") < 10))
    }),
    "ta_bm25_many" -> ((s, d) => {
      ensureBm25Index(s, d)
      TextAnalysis.bm25SearchManyIndexed(s, "graft_bm25_idx", hybridWorkload)
    }),
    "ann_maxsim_indexed" -> ((s, d) => {
      ensureIvfIndex(s, d)
      buildOnce(s"vecstore:$d") {
        Similarity.buildVectorStore(Tables.embeddings(s, d), "graft_vec_store")
      }
      Similarity.maxSimTopKIndexed(s, "graft_ivf_idx", "graft_vec_store",
        expr("dkey % 10 = 0"))
    }),
    "dedup_cross_indexed" -> ((s, d) => {
      val all = SharedCorpus.docsTok(s, d)
      buildOnce(s"band:$d") {
        Dedup.buildBandIndex(all.filter(col("doc_id") % 3 =!= 0), "graft_band_idx")
      }
      Dedup.nearDupPairsIndexed(s, "graft_band_idx", all.filter(col("doc_id") % 3 === 0))
    }),
    // the drift AUDIT alone — the gate's cold run carries the lifecycle
    // build + merge; this row is the daily read a release pipeline pays
    "sample_split_drift_indexed" -> ((s, d) => {
      ensureSplitLifecycle(s, d)
      Sampling.splitDriftReportIndexed(s, "graft_split_assign", "graft_split_comp")
    }))

  /** Fixed query set for the CMS probe timing (the deployment shape: ask
    * the stored sketch for specific words' frequencies). */
  private val ProbeWords = Seq("the", "of", "and", "data", "table", "hash",
    "query", "index", "spark", "join", "scan", "sort", "merge", "batch",
    "stream", "shuffle", "filter", "count", "group", "window")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "wordcount" ->
      """SELECT w AS word, count(*) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents)
        |WHERE regexp_matches(w, '^[A-Za-z0-9]+$')
        |GROUP BY w ORDER BY w""".stripMargin,
    "tokens_per_doc" ->
      """SELECT doc_id, count(*) AS n_tokens
        |FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents)
        |WHERE regexp_matches(w, '^[A-Za-z0-9]+$')
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) * 10000 AS BIGINT) AS DOUBLE) / 10000.0 AS sum_disc_price,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS sum_charge,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "mapreduce_wordcount" ->
      """SELECT w AS word, count(*) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents)
        |WHERE regexp_matches(w, '^[A-Za-z0-9]+$')
        |GROUP BY w ORDER BY w""".stripMargin,
    "filter_project" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE lang = 'en' AND n_chars > 200 ORDER BY doc_id""".stripMargin,
    "partition_hist" ->
      "SELECT doc_id % 8 AS bucket, count(*) AS cnt FROM documents GROUP BY 1 ORDER BY 1",
    "sort_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "distinct_flags" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "join_broadcast_segment" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "join_multi_region" ->
      """SELECT r_name,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal,
        |  count(*) AS n_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "join_semi_customers" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "join_anti_customers" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "join_asof_last_order" ->
      """SELECT event_id, max(o.o_orderdate) AS last_order_date
        |FROM events e JOIN orders o
        |  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |GROUP BY event_id ORDER BY event_id""".stripMargin,
    // same semantics, scalable union-sort-window plan — same oracle
    "join_asof_union" ->
      """SELECT event_id, max(o.o_orderdate) AS last_order_date
        |FROM events e JOIN orders o
        |  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |GROUP BY event_id ORDER BY event_id""".stripMargin,
    // nearest as-of: the oracle is the per-event argmin over the key's
    // orders — a DIFFERENT formulation than the union-window plan, so
    // the two check each other; tie rule (equidistant → earlier date)
    // lives in the ORDER BY
    "join_asof_nearest" ->
      """SELECT event_id, nearest_order_date, diff_us FROM (
        |  SELECT e.event_id, o.o_orderdate AS nearest_order_date,
        |    CAST(abs(epoch_us(e.ts) - epoch_us(o.o_orderdate)) AS BIGINT) AS diff_us,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY abs(epoch_us(e.ts) - epoch_us(o.o_orderdate)), o.o_orderdate) AS rn
        |  FROM events e JOIN orders o ON o.o_custkey = e.user_id)
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    "join_range_event_pairs" ->
      """SELECT e1.user_id, count(*) AS n_pairs
        |FROM events e1 JOIN events e2
        |  ON e1.user_id = e2.user_id AND e1.event_id < e2.event_id
        |  AND abs(date_diff('second', e1.ts, e2.ts)) <= 3600
        |GROUP BY e1.user_id ORDER BY e1.user_id""".stripMargin,
    // brute-force all-pairs oracle: the Spark side must find EVERY pair
    // the quadratic scan finds, proving prefix-filter completeness
    "join_fuzzy_names" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY 1, 2""".stripMargin,
    // cross-set brute force: every (odd, even) custkey pair scanned —
    // the indexed probe must find exactly these
    "join_fuzzy_indexed" ->
      """SELECT a.c_custkey AS id_probe, b.c_custkey AS id_master,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_custkey % 2 = 1 AND b.c_custkey % 2 = 0
        |  AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY 1, 2""".stripMargin,
    "join_fuzzy_purged" ->
      """SELECT a.c_custkey AS id_probe, b.c_custkey AS id_master,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_custkey % 2 = 1 AND b.c_custkey % 2 = 0
        |  AND b.c_custkey % 10 <> 0
        |  AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY 1, 2""".stripMargin,
    "join_fuzzy_indexed_incr" ->
      """SELECT a.c_custkey AS id_probe, b.c_custkey AS id_master,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_custkey % 2 = 1 AND b.c_custkey % 2 = 0
        |  AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY 1, 2""".stripMargin,
    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, revenue FROM (
        |  SELECT l.l_orderkey, o.o_orderdate,
        |    CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment = 'BUILDING'
        |    AND o.o_orderdate < TIMESTAMP '1995-03-15'
        |    AND l.l_shipdate > TIMESTAMP '1995-03-15'
        |  GROUP BY 1, 2)
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM orders o
        |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate < TIMESTAMP '1995-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q9_product_profit" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
        |    - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_profit,
        |  count(*) AS n
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY 1, 2 DESC""".stripMargin,
    "q4_order_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
        |    AND l.l_shipdate > o.o_orderdate)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name, revenue FROM (
        |  SELECT c_custkey, c_name, c_acctbal, n_name,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE l_returnflag = 'R'
        |  GROUP BY 1, 2, 3, 4)
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q13_order_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c
        |  LEFT OUTER JOIN orders o
        |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        |  GROUP BY 1)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q17_small_qty_revenue" ->
      """SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
        |    AS avg_yearly,
        |  count(*) AS n
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN (SELECT l_partkey AS ap_partkey, avg(l_quantity) AS avg_qty
        |      FROM lineitem JOIN part ON l_partkey = p_partkey
        |      WHERE p_brand = 'Brand#1' GROUP BY 1) a
        |  ON l.l_partkey = a.ap_partkey
        |WHERE p.p_brand = 'Brand#1' AND l.l_quantity < 0.2 * a.avg_qty""".stripMargin,
    "q18_large_volume" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        |FROM (
        |  SELECT l_orderkey AS big_okey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300) big
        |JOIN orders ON o_orderkey = big_okey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q19_disjunctive_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11
        |       AND p_size BETWEEN 1 AND 5)
        |   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20
        |       AND p_size BETWEEN 1 AND 10)
        |   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30
        |       AND p_size BETWEEN 1 AND 15)""".stripMargin,
    "q22_idle_customers" ->
      """WITH pos AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2))
        |    AS sum_pos, count(*) AS n_pos
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_nationkey, count(*) AS n_custs,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer c, pos
        |WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) * pos.n_pos > pos.sum_pos
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q21_waiting_suppliers" ->
      """WITH f AS (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'),
        |late AS (SELECT l_orderkey, l_suppkey FROM lineitem JOIN f ON l_orderkey = o_orderkey
        |  WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |SELECT s_name, count(*) AS numwait
        |FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin,
    "q2_min_cost_supplier" ->
      """WITH esupp AS (SELECT s_suppkey, s_name, s_acctbal, n_name FROM supplier
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
        |offers AS (SELECT l_partkey, l_suppkey,
        |    min(CAST(l_extendedprice AS DOUBLE) / CAST(l_quantity AS DOUBLE)) AS cost
        |  FROM lineitem JOIN esupp ON l_suppkey = s_suppkey GROUP BY 1, 2),
        |mc AS (SELECT l_partkey, min(cost) AS min_cost FROM offers GROUP BY 1)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, o.cost
        |FROM part JOIN mc ON p_partkey = mc.l_partkey
        |JOIN offers o ON o.l_partkey = p_partkey AND o.cost = mc.min_cost
        |JOIN esupp ON o.l_suppkey = s_suppkey
        |WHERE p_type = 'LARGE' AND p_size <= 10
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin,
    // per-row revenue is exact at scale 4 → carried as ×10^4 BIGINTs so the
    // HAVING-over-global-scalar threshold is integer cross-multiplication
    "q11_important_parts" ->
      """WITH v AS (SELECT l_partkey AS p_partkey,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(4,2))) * 10000 AS BIGINT)) AS BIGINT) AS v4
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_7' GROUP BY 1),
        |m AS (SELECT CAST(sum(v4) AS BIGINT) AS t4, count(*) AS n_parts FROM v)
        |SELECT p_partkey, CAST(v4 AS DOUBLE) / 10000.0 AS value
        |FROM v CROSS JOIN m WHERE v4 * n_parts * 2 > t4 * 3
        |ORDER BY value DESC, p_partkey""".stripMargin,
    "q8_market_share" ->
      """WITH g AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS nation_volume,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_volume
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |  JOIN region ON n1.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |    AND p_type = 'PROMO' AND r_name = 'ASIA'
        |  GROUP BY 1)
        |SELECT o_year, nation_volume / total_volume AS mkt_share,
        |  nation_volume, total_volume
        |FROM g ORDER BY o_year""".stripMargin,
    "q12_ship_priority" ->
      """SELECT l_returnflag AS ship_class,
        |  count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END)
        |    AS high_line_count,
        |  count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END)
        |    AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q16_supplier_count" ->
      """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_type <> 'PROMO' AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    // quantities are integral doubles carried as exact BIGINTs; the half
    // threshold is the integer cross-multiplication 2*qty96 > total
    "q20_excess_share" ->
      """WITH sp AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
        |q AS (SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
        |    CAST(sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
        |        AND l_shipdate < TIMESTAMP '1997-01-01'
        |      THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS qty96
        |  FROM lineitem JOIN sp ON l_partkey = p_partkey GROUP BY 1, 2)
        |SELECT s_name, s_acctbal FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_2'
        |  AND s_suppkey IN (SELECT l_suppkey FROM q WHERE qty96 * 2 > total_qty)
        |ORDER BY s_name""".stripMargin,
    "q15_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS total_revenue
        |  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY 1),
        |mx AS (SELECT max(total_revenue) AS max_rev FROM rev)
        |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey CROSS JOIN mx
        |WHERE total_revenue = max_rev ORDER BY s_suppkey""".stripMargin,
    "q14_promo_revenue" ->
      """SELECT 100.0 * promo_revenue / total_revenue AS promo_pct,
        |  promo_revenue, total_revenue, n FROM (
        |  SELECT
        |    CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS promo_revenue,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue,
        |    count(*) AS n
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01')""".stripMargin,
    "window_range_frame" ->
      """SELECT user_id, event_id,
        |  count(*) OVER w AS n_trailing_1h,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_trailing_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    // unsalted SQL — proves the salted plan is result-identical
    "skew_salted_revenue" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "null_handling_sampler" ->
      """SELECT o_orderkey,
        |  nullif(o_orderstatus, 'O') AS status_nulled,
        |  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_filled,
        |  o_orderstatus IS NOT DISTINCT FROM nullif(o_orderstatus, 'O') AS eq_nullsafe,
        |  nullif(o_orderpriority, '1-URGENT') IS NULL AS is_urgent
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "null_agg_counts" ->
      """SELECT o_orderstatus, count(*) AS n_rows,
        |  count(nullif(o_orderpriority, '1-URGENT')) AS n_nonnull,
        |  count(DISTINCT nullif(o_orderpriority, '1-URGENT')) AS n_distinct_nonnull
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "window_rank_stats" ->
      """SELECT user_id, event_id,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cdist
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
        |ORDER BY user_id, event_id""".stripMargin,
    "ann_ivf_topk" -> ivfOracleSql,
    "ann_ivf_kmeans" -> ivfKmeansOracleSql,
    "ann_cluster_sample" -> clusterSampleOracleSql,
    "ann_cluster_sample_indexed" -> clusterSampleOracleSql,
    "dedup_semantic" -> semanticDedupOracleSql,
    "ann_ivf_indexed" -> ivfKmeansOracleSql,
    "ann_ivf_indexed_incr" -> ivfKmeansOracleSql,
    "ann_ivf_purged" ->
      s"""WITH $kmeansPivotCtes,
         |${ivfBodySqlWhere("e.vec_id % 7 <> 3")}""".stripMargin,
    "fmt_bucketed_join" ->
      """SELECT c_mktsegment,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "fmt_json_roundtrip" ->
      """SELECT s_nationkey, count(*) AS n_suppliers,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
        |FROM supplier GROUP BY 1 ORDER BY 1""".stripMargin,
    "fmt_partitioned_pruning" ->
      """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE lang = 'en' GROUP BY 1 ORDER BY 1""".stripMargin,
    // oracle reads the source events table — equality proves the
    // fragment→compact→scan cycle was lossless
    "fmt_compacted_scan" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // the Z-ordered box aggregate over the raw parquet —
    // layout-independence is the contract (the clustered layout changes
    // what files skip, never the result; l_quantity is integral, so the
    // double sum is exact under any order)
    "fmt_zorder_scan" ->
      """SELECT l_partkey, l_suppkey, sum(l_quantity) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_partkey BETWEEN 16 AND 47 AND l_suppkey BETWEEN 2 AND 5
        |GROUP BY l_partkey, l_suppkey ORDER BY l_partkey, l_suppkey""".stripMargin,
    // the append and re-cluster lifecycle gates share the contract: the
    // layout generation changes what SKIPS, never what a query returns
    "fmt_zorder_append" ->
      """SELECT l_partkey, l_suppkey, sum(l_quantity) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_partkey BETWEEN 16 AND 47 AND l_suppkey BETWEEN 2 AND 5
        |GROUP BY l_partkey, l_suppkey ORDER BY l_partkey, l_suppkey""".stripMargin,
    "fmt_zorder_compacted" ->
      """SELECT l_partkey, l_suppkey, sum(l_quantity) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_partkey BETWEEN 16 AND 47 AND l_suppkey BETWEEN 2 AND 5
        |GROUP BY l_partkey, l_suppkey ORDER BY l_partkey, l_suppkey""".stripMargin,
    // keyframe dedup replayed over the text-byte frames (the mm_frames
    // recipe) — distinct per-doc fingerprints, df cap, shared-count join
    "mm_frame_pairs" ->
      s"""WITH f AS (SELECT DISTINCT doc_id,
         |  ${h60Sql("hex(encode(substring(text, CAST(k * greatest(length(text) // 4, 1) + 1 AS INT), 16)))")} AS fp
         |  FROM documents, unnest(generate_series(0, 3)) AS t(k)),
         |kept AS (SELECT doc_id, fp FROM f WHERE fp NOT IN (
         |  SELECT fp FROM (SELECT fp, count(*) AS df FROM f GROUP BY 1) WHERE df > 1000)),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
         |  FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_shared FROM p WHERE n_shared >= 1
         |ORDER BY doc_a, doc_b""".stripMargin,
    // metadata-only aggregate: same numbers DuckDB computes by scanning
    "fmt_agg_pushdown" ->
      """SELECT count(*) AS n_rows, min(l_orderkey) AS min_l_orderkey,
        |  max(l_orderkey) AS max_l_orderkey FROM lineitem""".stripMargin,
    // try_divide mirrored as an explicit zero guard; TRY_CAST exists in
    // both engines with identical NULL-on-failure semantics
    "scalar_try_funcs" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |       ELSE o_totalprice / (o_orderkey % 3) END AS div_mod3,
        |  TRY_CAST(o_orderpriority AS INT) AS prio_int,
        |  TRY_CAST(substring(o_orderpriority, 1, 1) AS INT) AS prio_code_int
        |FROM orders WHERE o_orderkey <= 15000 ORDER BY o_orderkey""".stripMargin,
    // oracle reads the PARQUET part table — equality proves the ORC
    // sink→scan roundtrip in the Spark query was lossless
    "fmt_orc_roundtrip" ->
      """SELECT p_type, count(*) AS n_parts,
        |  CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_retail,
        |  max(p_size) AS max_size
        |FROM part WHERE p_size >= 25 GROUP BY 1 ORDER BY 1""".stripMargin,
    "piped_wordcount" ->
      """SELECT w AS word, count(*) AS cnt
        |FROM (SELECT unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents)
        |WHERE regexp_matches(w, '^[A-Za-z0-9]+$')
        |GROUP BY w ORDER BY w""".stripMargin,
    "window_top3_orders" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    // l_quantity tiebreak mirrors the Spark side: (orderkey, linenumber)
    // duplicates exist in the corpus, and without a value-total frame
    // order the running sums at tie positions are engine-dependent
    "window_running_qty" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  sum(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,
    "window_moving_avg" ->
      """SELECT user_id, event_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    / count(*) OVER w AS mavg_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,
    "rollup_flag_status" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,
    "cube_status_priority" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority, count(*) AS n
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "grouping_sets_docs" ->
      """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
        |  count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY GROUPING SETS ((lang), (source))
        |ORDER BY lang, source""".stripMargin,
    "setops_custkeys" ->
      """SELECT k FROM (
        |  SELECT k FROM (
        |    SELECT k FROM (
        |      SELECT o_custkey AS k FROM orders WHERE o_totalprice > 400000
        |      UNION
        |      SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING')
        |    EXCEPT
        |    SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'MACHINERY')
        |  INTERSECT
        |  SELECT o_custkey AS k FROM orders)
        |ORDER BY k""".stripMargin,
    "scalar_sampler" ->
      """SELECT o_orderkey,
        |  upper(o_orderpriority) AS prio_upper,
        |  substring(o_orderpriority, 1, 1) AS prio_code,
        |  CAST(length(o_orderpriority) AS BIGINT) AS prio_len,
        |  concat_ws('-', o_orderstatus, o_orderpriority) AS status_prio,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS o_month,
        |  CAST(day(o_orderdate) AS BIGINT) AS o_day,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_k,
        |  sqrt(o_totalprice) AS price_sqrt,
        |  abs(o_totalprice * -1) AS price_abs
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "json_extract_events" ->
      """SELECT event_type,
        |  CAST(CAST(json_extract_string(props, '$.k') AS INT) % 10 AS BIGINT) AS k_mod,
        |  count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the variant twin adds the missing-path NULL count (always 0 — the
    // point is that it is NULL-counted, not an error)
    "json_variant_events" ->
      """SELECT event_type,
        |  CAST(CAST(json_extract_string(props, '$.k') AS INT) % 10 AS BIGINT) AS k_mod,
        |  count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  count(json_extract_string(props, '$.missing')) AS n_missing
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "fmt_expectations" ->
      """WITH base AS (SELECT count(*) AS n,
        |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null_cust,
        |  CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_price_range,
        |  CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS v_status_domain,
        |  CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_dup_key
        |  FROM orders),
        |orph AS (SELECT CAST(count(*) AS BIGINT) AS v_orphan_fk FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
        |w AS (SELECT * FROM base, orph)
        |SELECT check_name, n AS n_rows, n_violations,
        |  CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS passed
        |FROM (
        |  SELECT 'not_null_o_custkey' AS check_name, n, v_null_cust AS n_violations FROM w
        |  UNION ALL SELECT 'range_o_totalprice_positive', n, v_price_range FROM w
        |  UNION ALL SELECT 'accepted_values_o_orderstatus', n, v_status_domain FROM w
        |  UNION ALL SELECT 'unique_o_orderkey', n, v_dup_key FROM w
        |  UNION ALL SELECT 'fk_orders_customer', n, v_orphan_fk FROM w)
        |ORDER BY check_name""".stripMargin,
    // sequential-min funnel: each CTE's min is constrained strictly
    // after the previous step's per-user time
    "events_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
        |  CAST(1 + (CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END)
        |         + (CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    AS steps_done
        |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |        LEFT JOIN s3 ON s1.user_id = s3.user_id
        |ORDER BY s1.user_id""".stripMargin,
    // mergeable profile: exact stats replayed per column, HLL bound as ok
    "fmt_profile_incr" -> {
      def b(c: String, numeric: Boolean): String = {
        val e = if (numeric) s"CAST($c AS DECIMAL(18,2))" else s"CAST($c AS VARCHAR)"
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_nulls,
           |  CAST(min($e) AS VARCHAR) AS min_val,
           |  CAST(max($e) AS VARCHAR) AS max_val, 1 AS ok FROM orders""".stripMargin
      }
      Seq(b("o_orderkey", true), b("o_custkey", true), b("o_totalprice", true),
        b("o_orderstatus", false), b("o_orderdate", false),
        b("o_orderpriority", false))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    // independent formulation: per report day, distinct users with any
    // activity in the trailing 7 days (range join) — checks the
    // contribution-explode plan from the other direction
    "events_rolling_wau" ->
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |days AS (SELECT DISTINCT day AS report_day FROM act
        |         UNION SELECT DISTINCT day + INTERVAL 1 DAY FROM act
        |         UNION SELECT DISTINCT day + INTERVAL 2 DAY FROM act
        |         UNION SELECT DISTINCT day + INTERVAL 3 DAY FROM act
        |         UNION SELECT DISTINCT day + INTERVAL 4 DAY FROM act
        |         UNION SELECT DISTINCT day + INTERVAL 5 DAY FROM act
        |         UNION SELECT DISTINCT day + INTERVAL 6 DAY FROM act),
        |clamped AS (SELECT CAST(report_day AS DATE) AS report_day FROM days
        |  WHERE report_day BETWEEN (SELECT min(day) FROM act)
        |                       AND (SELECT max(day) FROM act))
        |SELECT d.report_day,
        |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active_7d
        |FROM clamped d JOIN act a
        |  ON a.day BETWEEN d.report_day - INTERVAL 6 DAY AND d.report_day
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_pareto_parts" ->
      """WITH rev AS (SELECT l_partkey AS partkey,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS DECIMAL(18,0))) AS BIGINT)
        |      AS rev_cents
        |  FROM lineitem GROUP BY 1),
        |r AS (SELECT *,
        |    CAST(row_number() OVER (ORDER BY rev_cents DESC, partkey) AS BIGINT) AS rnk,
        |    CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC, partkey) AS BIGINT) AS cum_cents,
        |    CAST(sum(rev_cents) OVER () AS BIGINT) AS total_cents
        |  FROM rev)
        |SELECT rnk, partkey, rev_cents, cum_cents,
        |  CASE WHEN 5 * cum_cents <= 4 * total_cents THEN 1 ELSE 0 END AS in_pareto_80
        |FROM r WHERE rnk <= 100 ORDER BY rnk""".stripMargin,
    "events_transitions" ->
      """WITH x AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events)
        |SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
        |FROM x WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "events_ab_test" ->
      """WITH u AS (SELECT user_id,
        |    CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv,
        |    user_id % 2 AS arm
        |  FROM events GROUP BY user_id),
        |a AS (SELECT count(*) AS n0, sum(conv) AS c0 FROM u WHERE arm = 0),
        |b AS (SELECT count(*) AS n1, sum(conv) AS c1 FROM u WHERE arm = 1)
        |SELECT n0 AS n_control, CAST(c0 AS BIGINT) AS conv_control,
        |  n1 AS n_treat, CAST(c1 AS BIGINT) AS conv_treat,
        |  CASE WHEN (c0 * n1 - c1 * n0) * (c0 * n1 - c1 * n0) * (n0 + n1)
        |          > 4 * n0 * n1 * (c0 + c1) * (n0 + n1 - c0 - c1)
        |       THEN 1 ELSE 0 END AS significant,
        |  CAST(sign(c0 * n1 - c1 * n0) AS INT) AS control_minus_treat_sign
        |FROM a, b""".stripMargin,
    // rank-based winsorized replay: k-th order statistics by row_number
    "agg_winsorized_stats" ->
      """WITH px AS (SELECT l_returnflag AS flag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM lineitem),
        |r AS (SELECT *, row_number() OVER (PARTITION BY flag ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY flag) AS n FROM px),
        |b AS (SELECT flag, max(n) AS n_rows,
        |    max(CASE WHEN rn = CAST(ceil(n * 0.1) AS BIGINT) THEN cents END) AS lo_cents,
        |    max(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN cents END) AS hi_cents
        |  FROM r GROUP BY flag)
        |SELECT p.flag, b.n_rows, b.lo_cents, b.hi_cents,
        |  CAST(sum(greatest(b.lo_cents, least(b.hi_cents, p.cents))) AS BIGINT)
        |    AS win_sum_cents,
        |  CAST(sum(greatest(b.lo_cents, least(b.hi_cents, p.cents))) AS DOUBLE)
        |    / b.n_rows AS win_mean_cents
        |FROM px p JOIN b ON p.flag = b.flag
        |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin,
    // baseline from the first 20 days' moments, probe days 21+ flagged
    "events_anomaly_indexed" ->
      """WITH hist AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events WHERE ts < TIMESTAMP '2024-01-21' GROUP BY 1, 2),
        |base AS (SELECT event_type, count(*) AS n, sum(x) AS s,
        |    sum(x * x) AS q FROM hist GROUP BY 1),
        |probe AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-21' GROUP BY 1, 2)
        |SELECT p.event_type, p.day, p.x AS n_events,
        |  CASE WHEN b.n * p.x - b.s > 0
        |        AND (b.n * p.x - b.s) * (b.n * p.x - b.s) > 9 * (b.n * b.q - b.s * b.s)
        |       THEN 1 ELSE 0 END AS is_spike
        |FROM probe p JOIN base b ON p.event_type = b.event_type
        |ORDER BY 1, 2""".stripMargin,
    // canonical a<b<c triple join (each triangle found once since every
    // stored edge has pa<pb) — orientation-independent check
    "agg_triangle_counts" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT a.l_partkey pa, b.l_partkey pb FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |tri AS (SELECT e1.pa a, e1.pb b, e2.pb c FROM e e1
        |  JOIN e e2 ON e2.pa = e1.pb
        |  JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb)
        |SELECT part, count(*) AS n_triangles FROM (
        |  SELECT a AS part FROM tri UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |GROUP BY part ORDER BY part""".stripMargin,
    "agg_copurchase_pairs" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  count(*) AS n_orders
        |FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY 1, 2""".stripMargin,
    "events_anomaly_days" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |st AS (SELECT *, count(*) OVER (PARTITION BY event_type) AS n,
        |  sum(x) OVER (PARTITION BY event_type) AS s,
        |  sum(x * x) OVER (PARTITION BY event_type) AS q FROM daily)
        |SELECT event_type, day, x AS n_events,
        |  CASE WHEN n * x - s > 0
        |        AND (n * x - s) * (n * x - s) > 9 * (n * q - s * s)
        |       THEN 1 ELSE 0 END AS is_spike
        |FROM st ORDER BY event_type, day""".stripMargin,
    "events_retention" ->
      """WITH c AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |  FROM events GROUP BY 1)
        |SELECT c.cohort_day,
        |  CAST(floor(date_diff('day', c.cohort_day, CAST(e.ts AS DATE)) / 7.0) AS BIGINT)
        |    AS week_offset,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
        |FROM events e JOIN c ON e.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "orders_per_month" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // ---- north-star: text analysis ----
    "ta_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_split_to_array(lower(text), '$WS')) AS BIGINT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.BpeRe}')) AS BIGINT) AS n_bpe_tokens,
         |  CAST(len(list_filter(regexp_split_to_array(lower(text), '$WS'),
         |    t -> regexp_matches(t, '^[a-z0-9]+$$'))) AS BIGINT) AS n_alnum_tokens,
         |  CAST(list_sum(list_transform(regexp_split_to_array(lower(text), '$WS'), t -> length(t))) AS DOUBLE)
         |    / len(regexp_split_to_array(lower(text), '$WS')) AS mean_tok_len
         |FROM documents ORDER BY doc_id""".stripMargin,
    "ta_lang_id" ->
      s"""WITH sc AS (SELECT doc_id, ${markerSql("en")} AS en, ${markerSql("de")} AS de,
         |  ${markerSql("fr")} AS fr, ${markerSql("es")} AS es FROM documents)
         |SELECT doc_id,
         |  CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
         |       WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
         |       WHEN fr >= es AND fr > 0 THEN 'fr'
         |       WHEN es > 0 THEN 'es'
         |       ELSE 'und' END AS pred_lang,
         |  greatest(en, de, fr, es) AS n_hits
         |FROM sc ORDER BY doc_id""".stripMargin,
    "ta_quality" ->
      s"""WITH c AS (SELECT doc_id,
         |  CAST(len(regexp_split_to_array(lower(text), '$WS')) AS BIGINT) AS nt,
         |  CAST(len(list_filter(regexp_split_to_array(lower(text), '$WS'),
         |    t -> regexp_matches(t, '^[a-z0-9]+$$'))) AS BIGINT) AS alnum,
         |  ${markerSql("en")} AS stop
         |FROM documents)
         |SELECT doc_id, nt AS n_tokens,
         |  CAST(alnum AS DOUBLE) / nt AS alnum_ratio,
         |  CAST(stop AS DOUBLE) / nt AS stop_ratio,
         |  least(CAST(nt AS DOUBLE) / 100.0, 1.0) * 0.2 + CAST(alnum AS DOUBLE) / nt * 0.5
         |    + least(CAST(stop AS DOUBLE) / nt * 4.0, 1.0) * 0.3 AS quality
         |FROM c ORDER BY doc_id""".stripMargin,
    "ta_fingerprint" ->
      s"""SELECT doc_id, ${h60Sql("text")} AS fp_raw,
         |  ${h60Sql(s"trim(regexp_replace(lower(text), '$WS', ' ', 'g'))")} AS fp_norm
         |FROM documents ORDER BY doc_id""".stripMargin,
    // ---- north-star: deduplication ----
    "dedup_exact" ->
      s"""WITH k AS (SELECT doc_id,
         |  ${h60Sql(s"array_to_string(list_sort(list_distinct(regexp_split_to_array(lower(text), '$WS'))), ' ')")} AS dup_key
         |  FROM documents)
         |SELECT doc_id, dup_key FROM (
         |  SELECT doc_id, dup_key, row_number() OVER (PARTITION BY dup_key ORDER BY doc_id) AS rn FROM k)
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "dedup_minhash_pairs" -> minhashOracleSql,
    "pipeline_daily_batch" -> dailyBatchOracleSql,
    "pipeline_daily_bloom" -> dailyBatchOracleSql,
    // the streaming lifecycle commits the SAME decision table (one
    // micro-batch == the daily batch), so it shares the composite oracle
    "stream_pipeline_daily" -> dailyBatchOracleSql,
    // forget composite audit: every count is an exact integer derivable
    // from the %4 corpus split and the %11 forget split (band rows =
    // NumBands per surviving doc, sig rows = one per surviving doc);
    // manifest_ok is the Spark side's executed stamp check, predicted
    // TRUE (the literal-true-bound pattern of ta_heavy_hitters)
    "curation_forget" ->
      s"""SELECT
         |  (SELECT count(*) FROM documents WHERE doc_id % 11 = 5) AS n_requested,
         |  (SELECT count(*) FROM documents WHERE doc_id % 4 <> 1 AND doc_id % 11 = 5) AS n_present,
         |  (SELECT count(*) FROM documents WHERE doc_id % 4 <> 1 AND doc_id % 11 <> 5) AS n_snapshot_after,
         |  ${Dedup.NumBands} * (SELECT count(*) FROM documents WHERE doc_id % 4 <> 1 AND doc_id % 11 <> 5) AS n_band_rows_after,
         |  (SELECT count(*) FROM documents WHERE doc_id % 4 <> 1 AND doc_id % 11 <> 5) AS n_sig_rows_after,
         |  TRUE AS manifest_ok""".stripMargin,
    // the one-row corpus dashboard: each component replayed by its own
    // gate's recipe (exact-dup key, 8-token span duplication, quality
    // gate formulas), reduced to aggregates and aligned as scalars
    "audit_corpus_report" ->
      s"""WITH nd AS (SELECT count(*) AS n_docs FROM documents),
         |ek AS (SELECT count(DISTINCT ${h60Sql(s"array_to_string(list_sort(list_distinct(regexp_split_to_array(lower(text), '$WS'))), ' ')")}) AS n_exact_groups
         |  FROM documents),
         |toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '$WS') AS ws FROM documents),
         |sp AS (SELECT doc_id, ${h60Sql("array_to_string(ws[i:i+7], ' ')")} AS sh
         |  FROM toks, unnest(generate_series(1, greatest(len(ws) - 7, 1))) AS t(i)),
         |dh AS (SELECT sh FROM (SELECT sh, count(DISTINCT doc_id) AS nd2 FROM sp GROUP BY 1)
         |  WHERE nd2 >= 2),
         |per AS (SELECT doc_id, count(*) AS n_spans,
         |    count(*) FILTER (WHERE sh IN (SELECT sh FROM dh)) AS n_dup
         |  FROM sp GROUP BY 1),
         |ss AS (SELECT count(*) FILTER (WHERE n_dup > 0) AS n_span_dup_docs,
         |    CAST(sum(n_dup) AS DOUBLE) / sum(n_spans) AS dup_span_ratio FROM per),
         |qa AS (SELECT doc_id, regexp_split_to_array(lower(text), '$WS') AS a,
         |    CAST(len(regexp_split_to_array(lower(text), '$WS')) AS BIGINT) AS nt,
         |    CAST(len(list_filter(regexp_split_to_array(lower(text), '$WS'),
         |      t -> regexp_matches(t, '^[a-z0-9]+$$'))) AS BIGINT) AS alnum,
         |    ${markerSql("en")} AS en, ${markerSql("de")} AS de,
         |    ${markerSql("fr")} AS fr, ${markerSql("es")} AS es
         |  FROM documents),
         |g2 AS (SELECT doc_id, count(*) AS t2, count(DISTINCT g) AS d2 FROM (
         |  SELECT doc_id, array_to_string(a[i:i+1], ' ') AS g
         |  FROM qa, unnest(generate_series(1, len(a) - 1)) AS t(i)) GROUP BY 1),
         |qg AS (SELECT count(*) AS n_quality FROM qa LEFT JOIN g2 USING (doc_id)
         |  WHERE (least(CAST(nt AS DOUBLE) / 100.0, 1.0) * 0.2 + CAST(alnum AS DOUBLE) / nt * 0.5
         |      + least(CAST(en AS DOUBLE) / nt * 4.0, 1.0) * 0.3) >= 0.6
         |    AND (CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
         |         WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
         |         WHEN fr >= es AND fr > 0 THEN 'fr'
         |         WHEN es > 0 THEN 'es' ELSE 'und' END) = 'en'
         |    AND coalesce(CAST(t2 - d2 AS DOUBLE) / nullif(t2, 0), 0.0) <= 0.05)
         |SELECT nd.n_docs, ek.n_exact_groups, ss.n_span_dup_docs,
         |  ss.dup_span_ratio, qg.n_quality
         |FROM nd, ek, ss, qg""".stripMargin,
    "dedup_cross_corpus" -> crossCorpusOracleSql,
    "dedup_cross_indexed" -> crossCorpusOracleSql,
    "dedup_cross_indexed_incr" -> crossCorpusOracleSql,
    "dedup_cross_purged" ->
      crossCorpusOracleSqlWhere("doc_id % 3 <> 0 AND doc_id % 7 <> 3"),
    "dedup_components_incr" -> componentsOracleSql,
    "dedup_components_purged" -> componentsOracleSqlWhere("doc_id % 7 <> 3"),
    "dedup_neardup_survivors" -> survivorsOracleSql,
    "dedup_quality_survivors" -> qualitySurvivorsOracleSql,
    "stream_neardup_admit" -> admitOracleSql,
    "stream_curation_admit" -> curationAdmitOracleSql,
    "stream_forget_admit" ->
      s"""WITH $qualityAdmitCtes
         |SELECT doc_id FROM qd WHERE doc_id % 11 <> 5 ORDER BY doc_id""".stripMargin,
    // DuckDB mirror of Dedup.duplicateSpans: positional (non-distinct)
    // 8-token span hashes, duplicated = hash seen in >= 2 distinct docs
    "dedup_span_stats" ->
      s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '$WS') AS ws FROM documents),
         |sp AS (SELECT doc_id,
         |  ${h60Sql("array_to_string(ws[i:i+7], ' ')")} AS sh
         |  FROM toks, unnest(generate_series(1, greatest(len(ws) - 7, 1))) AS t(i)),
         |dh AS (SELECT sh FROM (SELECT sh, count(DISTINCT doc_id) AS nd FROM sp GROUP BY 1)
         |  WHERE nd >= 2),
         |tot AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY 1),
         |fl AS (SELECT doc_id, count(*) AS dup FROM sp WHERE sh IN (SELECT sh FROM dh) GROUP BY 1)
         |SELECT t.doc_id, t.n_spans,
         |  coalesce(f.dup, 0) AS n_dup_spans,
         |  CAST(coalesce(f.dup, 0) AS DOUBLE) / t.n_spans AS dup_ratio
         |FROM tot t LEFT JOIN fl f ON f.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    // DuckDB mirror of Dedup.contaminationStats over the %7 split: the
    // benchmark side reduces to its distinct span-hash set, training spans
    // count hits against it. The Bloom-pruned gate shares the n=8 SQL
    // verbatim — the filter is a plan optimization whose false positives
    // die in the exact join, so the two paths are result-identical.
    "dedup_contamination" -> contaminationOracleSql(8),
    "dedup_contamination_bloom" -> contaminationOracleSql(8),
    "dedup_contamination_13" -> contaminationOracleSql(13),
    // the excision rewrite: tainted = any training span whose hash occurs
    // in the benchmark set; ALL tainted occurrences' token coverage is
    // dropped and the kept stream rebuilt (no kept-owner rule here —
    // the benchmark is the reference, not a corpus member)
    "dedup_decontam_rewrite" ->
      s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '$WS') AS ws FROM documents),
         |sp AS (SELECT doc_id, i, len(ws) AS nt,
         |  ${h60Sql("array_to_string(ws[i:i+7], ' ')")} AS sh
         |  FROM toks, unnest(generate_series(1, greatest(len(ws) - 7, 1))) AS t(i)),
         |bench AS (SELECT DISTINCT sh FROM sp WHERE doc_id % 7 = 0),
         |occ AS (SELECT doc_id, i, nt FROM sp
         |  WHERE doc_id % 7 <> 0 AND sh IN (SELECT sh FROM bench)),
         |cov AS (SELECT DISTINCT doc_id, p FROM occ,
         |  unnest(generate_series(i, least(i + 7, nt))) AS u(p)),
         |drops AS (SELECT doc_id, list(p) AS dp FROM cov GROUP BY 1),
         |reb AS (SELECT t.doc_id, len(t.ws) AS n_tokens,
         |  list_transform(
         |    list_filter(generate_series(1, len(t.ws)),
         |      j -> NOT list_contains(coalesce(d.dp, []), j)),
         |    j -> t.ws[j]) AS kept
         |  FROM toks t LEFT JOIN drops d ON d.doc_id = t.doc_id
         |  WHERE t.doc_id % 7 <> 0)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(len(kept) AS BIGINT) AS n_kept,
         |  coalesce(array_to_string(kept, ' '), '') AS clean_text
         |FROM reb ORDER BY doc_id""".stripMargin,
    // DuckDB mirror of StreamOps.streamDecontaminated's batch mode: the
    // admitted training docs are exactly those with zero benchmark-
    // overlapping spans (strict maxRatio = 0 rule)
    "stream_decontam_admit" ->
      s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '$WS') AS ws FROM documents),
         |sp AS (SELECT doc_id, ${h60Sql("array_to_string(ws[i:i+7], ' ')")} AS sh
         |  FROM toks, unnest(generate_series(1, greatest(len(ws) - 7, 1))) AS t(i)),
         |bench AS (SELECT DISTINCT sh FROM sp WHERE doc_id % 7 = 0)
         |SELECT doc_id FROM sp WHERE doc_id % 7 <> 0 GROUP BY doc_id
         |HAVING count(*) FILTER (WHERE sh IN (SELECT sh FROM bench)) = 0
         |ORDER BY doc_id""".stripMargin,
    // DuckDB mirror of Dedup.removeDuplicateSpans: same span hashes as
    // dedup_span_stats, ownership = min (doc_id, position) per duplicated
    // hash, drop every token covered by a non-owner occurrence, rebuild
    // the kept token stream in order
    "dedup_span_rewrite" ->
      s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '$WS') AS ws FROM documents),
         |sp AS (SELECT doc_id, i, len(ws) AS nt,
         |  ${h60Sql("array_to_string(ws[i:i+7], ' ')")} AS sh
         |  FROM toks, unnest(generate_series(1, greatest(len(ws) - 7, 1))) AS t(i)),
         |dh AS (SELECT sh FROM (SELECT sh, count(DISTINCT doc_id) AS nd FROM sp GROUP BY 1)
         |  WHERE nd >= 2),
         |own AS (SELECT sh, doc_id AS odoc, i AS opos FROM (
         |  SELECT sh, doc_id, i, row_number() OVER (PARTITION BY sh ORDER BY doc_id, i) AS rn
         |  FROM sp WHERE sh IN (SELECT sh FROM dh)) WHERE rn = 1),
         |occ AS (SELECT s.doc_id, s.i, s.nt FROM sp s JOIN own o ON s.sh = o.sh
         |  WHERE NOT (s.doc_id = o.odoc AND s.i = o.opos)),
         |cov AS (SELECT DISTINCT doc_id, p FROM occ,
         |  unnest(generate_series(i, least(i + 7, nt))) AS u(p)),
         |drops AS (SELECT doc_id, list(p) AS dp FROM cov GROUP BY 1),
         |reb AS (SELECT t.doc_id, len(t.ws) AS n_tokens,
         |  list_transform(
         |    list_filter(generate_series(1, len(t.ws)),
         |      j -> NOT list_contains(coalesce(d.dp, []), j)),
         |    j -> t.ws[j]) AS kept
         |  FROM toks t LEFT JOIN drops d ON d.doc_id = t.doc_id)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  CAST(len(kept) AS BIGINT) AS n_kept,
         |  coalesce(array_to_string(kept, ' '), '') AS clean_text
         |FROM reb ORDER BY doc_id""".stripMargin,
    "dedup_simhash" ->
      s"WITH $simhashCteSql SELECT doc_id, simhash FROM shash ORDER BY doc_id",
    "dedup_simhash_pairs" ->
      s"""WITH $simhashCteSql,
         |banded AS (SELECT doc_id, simhash, band_idx, (simhash >> (band_idx * 8)) & 255 AS band_val
         |  FROM shash, unnest(generate_series(0, 3)) AS t(band_idx)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b
         |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
         |FROM cand JOIN shash sa ON sa.doc_id = doc_a JOIN shash sb ON sb.doc_id = doc_b
         |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= ${Dedup.DefaultMaxHamming}
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the top-k oracle is the BRUTE-FORCE scan (queries × corpus, no
    // bands): hash equality against the banded plan proves the 4-band
    // join is lossless at radius 3 — same pigeonhole contract the pair
    // miner relies on, here verified per query
    "dedup_simhash_topk" ->
      s"""WITH $simhashCteSql,
         |p AS (SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
         |  CAST(bit_count(xor(q.simhash, c.simhash)) AS BIGINT) AS hamming
         |  FROM shash q JOIN shash c ON q.doc_id % 10 = 0 AND c.doc_id <> q.doc_id),
         |r AS (SELECT query_id, neighbor_id, hamming,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY hamming, neighbor_id) AS BIGINT) AS rn
         |  FROM p WHERE hamming <= ${Dedup.DefaultMaxHamming})
         |SELECT query_id, neighbor_id, hamming, rn FROM r WHERE rn <= 5
         |ORDER BY query_id, rn""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $shingleCte,
         |card AS (SELECT doc_id, count(*) AS card FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |j AS (SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (ca.card + cb.card - i) AS jaccard
         |  FROM inter JOIN card ca ON ca.doc_id = doc_a JOIN card cb ON cb.doc_id = doc_b)
         |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.2 ORDER BY doc_a, doc_b""".stripMargin,
    // asymmetric containment over the same inverted index: both
    // directions' ratios, keep pairs where either reaches the threshold
    "dedup_ngram_containment" ->
      s"""WITH $shingleCte,
         |card AS (SELECT doc_id, count(*) AS card FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2),
         |c AS (SELECT doc_a, doc_b,
         |    CAST(i AS DOUBLE) / ca.card AS cont_a,
         |    CAST(i AS DOUBLE) / cb.card AS cont_b
         |  FROM inter JOIN card ca ON ca.doc_id = doc_a JOIN card cb ON cb.doc_id = doc_b)
         |SELECT doc_a, doc_b, cont_a, cont_b FROM c
         |WHERE greatest(cont_a, cont_b) >= 0.7 ORDER BY doc_a, doc_b""".stripMargin,
    // ---- north-star: similarity search ----
    "sim_topk_cosine" ->
      """WITH p AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])) AS cos
        |  FROM embeddings q JOIN embeddings n ON q.vec_id < 10 AND n.vec_id <> q.vec_id),
        |r AS (SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn, cos
        |  FROM p)
        |SELECT query_id, neighbor_id, rn, cos FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    // MaxSim: per-(query doc, cand doc, query token) best cosine, summed
    // over query tokens in exact fixed-point — max is order-independent
    // and long addition associative, so the score replays bit-for-bit
    "ann_maxsim_topk" -> maxSimTopKOracleSql,
    "ann_maxsim_indexed" -> maxSimIndexedOracleSql,
    // MaxSim recall monitor: both tiers' full replays composed through
    // the shared hit-count/ratio form (the recallOracleSql pattern, with
    // the exact side the late-interaction scan instead of single-vector
    // brute force)
    "ann_recall_maxsim" -> maxSimRecallOracleSql,
    "ann_maxsim_text" -> maxSimTextOracleSql,
    "ann_lsh_topk" -> annOracleSql,
    // hard negatives: the brute-force oracle with the self AND +7-positive
    // exclusions applied before the rank
    "ann_hard_negatives" ->
      """WITH hc AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])) AS cos
        |  FROM embeddings q JOIN embeddings n
        |  ON q.vec_id < 10 AND n.vec_id <> q.vec_id AND n.vec_id <> q.vec_id + 7),
        |hr AS (SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn, cos
        |  FROM hc)
        |SELECT query_id, neighbor_id, rn, cos FROM hr WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    // MMR: the greedy loop replayed step by step — sel1 is pure
    // relevance (empty penalty max), each later step scores the
    // remaining shortlist against the selected-so-far set; 0.75/0.25
    // are exact binary doubles on both engines
    "ann_mmr_topk" -> {
      val steps = (2 to 5).map { i =>
        s"""p$i AS (SELECT c.query_id, c.cand, 0.75 * c.rel - 0.25 * m.pen AS mmr
           |  FROM sl c
           |  JOIN (SELECT s.query_id, s.ca AS cand, max(s.sim) AS pen
           |        FROM sims s JOIN sel${i - 1} x
           |          ON x.query_id = s.query_id AND x.cand = s.cb
           |        GROUP BY 1, 2) m
           |    ON m.query_id = c.query_id AND m.cand = c.cand
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} x2
           |    WHERE x2.query_id = c.query_id AND x2.cand = c.cand)),
           |s$i AS (SELECT query_id, cand, mmr, $i AS step FROM (
           |    SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY mmr DESC, cand) AS r FROM p$i) WHERE r = 1),
           |sel$i AS (SELECT * FROM sel${i - 1} UNION ALL
           |          SELECT query_id, cand, mmr, step FROM s$i)""".stripMargin
      }.mkString(",\n")
      s"""WITH sl0 AS (SELECT q.vec_id AS query_id, n.vec_id AS cand,
         |    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |      CAST(n.embedding AS DOUBLE[])) AS rel
         |  FROM embeddings q JOIN embeddings n
         |    ON q.vec_id < 10 AND n.vec_id <> q.vec_id),
         |sl AS (SELECT query_id, cand, rel FROM (SELECT *,
         |    row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, cand) AS rn
         |  FROM sl0) WHERE rn <= 20),
         |sims AS (SELECT a.query_id, a.cand AS ca, b.cand AS cb,
         |    list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |      CAST(eb.embedding AS DOUBLE[])) AS sim
         |  FROM sl a JOIN sl b ON a.query_id = b.query_id AND a.cand <> b.cand
         |  JOIN embeddings ea ON ea.vec_id = a.cand
         |  JOIN embeddings eb ON eb.vec_id = b.cand),
         |sel1 AS (SELECT query_id, cand, 0.75 * rel AS mmr, 1 AS step FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY rel DESC, cand) AS r FROM sl) WHERE r = 1),
         |$steps
         |SELECT query_id, CAST(step AS BIGINT) AS step, cand AS vec_id,
         |  mmr AS mmr_score
         |FROM sel5 ORDER BY query_id, step""".stripMargin
    },
    // Matryoshka prefix refine: 16-dim-prefix shortlist (rank 20 with
    // neighbor_id tiebreak), exact full-dim re-rank to top-5
    "ann_prefix_refine" ->
      """WITH pq1 AS (SELECT q.vec_id AS query_id, q.embedding AS qv,
        |  n.vec_id AS neighbor_id, n.embedding AS nv,
        |  list_cosine_similarity(CAST(q.embedding[1:16] AS DOUBLE[]), CAST(n.embedding[1:16] AS DOUBLE[])) AS pcos
        |  FROM embeddings q JOIN embeddings n ON q.vec_id < 10 AND n.vec_id <> q.vec_id),
        |pr1 AS (SELECT query_id, qv, neighbor_id, nv,
        |  row_number() OVER (PARTITION BY query_id ORDER BY pcos DESC, neighbor_id) AS rp FROM pq1),
        |px AS (SELECT query_id, neighbor_id,
        |  list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(nv AS DOUBLE[])) AS cos
        |  FROM pr1 WHERE rp <= 20),
        |pr2 AS (SELECT query_id, neighbor_id,
        |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rn, cos
        |  FROM px)
        |SELECT query_id, neighbor_id, rn, cos FROM pr2 WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,
    // recall@5 of the LSH tier vs the exhaustive scan, per query: both
    // top-k sets replayed (the banded probe and the brute force), hit
    // counting by exact join — the ratio is one division of exact ints
    "ann_recall_lsh" ->
      s"""WITH $lshBandedCte,
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, q.embedding AS qv,
         |    n.vec_id AS neighbor_id, n.embedding AS nv
         |  FROM banded q JOIN banded n
         |  ON q.band_idx = n.band_idx AND q.band_val = n.band_val
         |    AND q.vec_id < 10 AND n.vec_id <> q.vec_id),
         |ascored AS (SELECT query_id, neighbor_id,
         |  list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(nv AS DOUBLE[])) AS cos FROM cand),
         |approx AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
         |  FROM ascored) WHERE rn <= 5),
         |ep AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         |  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])) AS cos
         |  FROM embeddings q JOIN embeddings n ON q.vec_id < 10 AND n.vec_id <> q.vec_id),
         |exact AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
         |  FROM ep) WHERE rn <= 5),
         |hits AS (SELECT e.query_id, count(a.neighbor_id) AS n_hits
         |  FROM exact e LEFT JOIN approx a
         |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |  GROUP BY e.query_id),
         |ex AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id)
         |SELECT ex.query_id, coalesce(h.n_hits, 0) AS n_hits, ex.n_exact,
         |  CAST(coalesce(h.n_hits, 0) AS DOUBLE) / ex.n_exact AS recall
         |FROM ex LEFT JOIN hits h ON h.query_id = ex.query_id
         |ORDER BY ex.query_id""".stripMargin,
    // recall@5 monitors for the remaining tiers (VERDICT r12 item 4):
    // each tier's own replayed top-k, wrapped by the shared exact-scan /
    // hit-count / ratio composition (recallOracleSql)
    "ann_recall_ivf" -> recallOracleSql(ivfOracleSql),
    "ann_recall_sq" -> recallOracleSql(sqTopKOracleSql),
    "ann_recall_pq" -> recallOracleSql(pqTopKOracleSql),
    "ann_recall_ivfpq" -> recallOracleSql(ivfPqOracleSql),
    "ann_recall_refine" -> recallOracleSql(ivfPqRefineOracleSql),
    "ann_sq_topk" -> sqTopKOracleSql,
    "ann_sq_indexed" -> sqTopKOracleSql,
    "ann_pq_topk" -> pqTopKOracleSql,
    "ann_ivfpq_indexed" -> ivfPqOracleSql,
    "ann_ivfpq_purged" -> ivfPqOracleSqlFor("vec_id < 10", "vec_id % 7 <> 3"),
    "ann_ivfpq_many" -> ivfPqOracleSqlFor("vec_id < 40"),
    "ann_ivfpq_refine" -> ivfPqRefineOracleSql,
    // the recall-target nprobe pick replayed end to end: k-means pivots,
    // final-centroid argmax assignment, cell-occupancy histogram, then
    // the smallest-cells-first cumulative walk and min-width pick per
    // target — the worst-case-coverage model the operator implements
    "ann_nprobe_target" ->
      s"""WITH $kmeansPivotCtes,
         |sx AS (SELECT e.vec_id, c.pid,
         |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.pv AS DOUBLE[])) AS pcos
         |  FROM embeddings e CROSS JOIN piv c),
         |asg AS (SELECT vec_id, pid AS cell FROM (
         |  SELECT vec_id, pid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY pcos DESC, pid) AS r
         |  FROM sx) WHERE r = 1),
         |occ AS (SELECT cell, count(*) AS c FROM asg GROUP BY cell),
         |cov AS (SELECT row_number() OVER (ORDER BY c, cell) AS j,
         |  CAST(sum(c) OVER (ORDER BY c, cell
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         |    / sum(c) OVER () AS cov
         |  FROM occ),
         |t AS (SELECT CAST(x AS DOUBLE) AS recall_target
         |  FROM unnest([0.5, 0.8, 0.9, 0.95]) AS tt(x)),
         |pick AS (SELECT recall_target, min(j) AS nj
         |  FROM t JOIN cov ON cov >= recall_target GROUP BY recall_target)
         |SELECT p.recall_target, CAST(p.nj AS BIGINT) AS nprobe,
         |  c.cov AS coverage_lb
         |FROM pick p JOIN cov c ON c.j = p.nj
         |ORDER BY recall_target""".stripMargin,
    // nprobe calibration: replay the 64-pivot training + assignment, the
    // 32-query sample's exact top-5, each neighbor-cell's rank in its
    // query's pivot order, the sample recall curve, and the min-width
    // pick — the calibrated nprobe is pinned cross-engine end to end
    "ann_nprobe_cal" ->
      s"""WITH ${kmeansPivotCtesK(64)},
         |sx AS (SELECT e.vec_id, e.embedding, c.pid,
         |  list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(c.pv AS DOUBLE[])) AS pcos
         |  FROM embeddings e CROSS JOIN piv c),
         |asg AS (SELECT vec_id, embedding, pid AS cell FROM (
         |  SELECT vec_id, embedding, pid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY pcos DESC, pid) AS r
         |  FROM sx) WHERE r = 1),
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM asg WHERE vec_id < 32),
         |truth AS (SELECT query_id, ncell FROM (
         |  SELECT q.query_id, n.cell AS ncell,
         |    row_number() OVER (PARTITION BY q.query_id ORDER BY
         |      list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(n.embedding AS DOUBLE[])) DESC,
         |      n.vec_id) AS rn
         |  FROM q CROSS JOIN asg n WHERE q.query_id <> n.vec_id) WHERE rn <= 5),
         |cr AS (SELECT query_id, CAST(pid AS BIGINT) AS ncell,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY pcos DESC, pid) AS BIGINT)
         |      AS cell_rank FROM (
         |  SELECT q.query_id, c.pid,
         |    list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(c.pv AS DOUBLE[])) AS pcos
         |  FROM q CROSS JOIN piv c)),
         |ranked AS (SELECT t.query_id, cr.cell_rank
         |  FROM truth t JOIN cr ON cr.query_id = t.query_id AND cr.ncell = t.ncell),
         |np AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM ranked),
         |curve AS (SELECT cell_rank AS j,
         |    CAST(sum(count(*)) OVER (ORDER BY cell_rank) AS DOUBLE)
         |      / (SELECT n_pairs FROM np) AS rec
         |  FROM ranked GROUP BY cell_rank),
         |t AS (SELECT CAST(x AS DOUBLE) AS recall_target
         |  FROM unnest([0.6, 0.8, 0.9]) AS tt(x)),
         |pick AS (SELECT recall_target, min(j) AS nj
         |  FROM t JOIN curve ON rec >= recall_target GROUP BY recall_target)
         |SELECT p.recall_target, CAST(p.nj AS BIGINT) AS nprobe,
         |  c.rec AS sample_recall
         |FROM pick p JOIN curve c ON c.j = p.nj
         |ORDER BY recall_target""".stripMargin,
    // two-batch model-stored append == one-shot build (per-vector given
    // fixed pivots + books) → same replayed oracle
    "ann_ivfpq_indexed_incr" -> ivfPqOracleSql,
    "ann_pq_indexed" -> pqTopKOracleSql,
    "ann_pq_indexed_incr" -> pqTopKOracleSql,
    "ta_hash_embed" -> hashEmbedOracleSql,
    "ann_hash_embed_lsh" -> hashEmbedLshOracleSql,
    "ann_lsh_indexed" -> annOracleSql,
    "ann_lsh_purged" ->
      s"""WITH ${lshBandedCteWhere("vec_id % 7 <> 3")},
         |$annBodySql""".stripMargin,
    "ann_lsh_indexed_incr" -> annOracleSql,
    "sim_neardup_lsh" -> lshNearDupOracleSql,
    "ta_tfidf" ->
      s"""WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '$WS')) AS word FROM documents),
         |ftk AS (SELECT doc_id, word FROM tk WHERE regexp_matches(word, '^[a-z0-9]+$$')),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM ftk GROUP BY 1, 2),
         |dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |nq AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT t.doc_id, t.word, t.tf, d.df,
         |  round(CAST(t.tf AS DOUBLE) * ln((n.n_docs + 1.0) / (d.df + 1.0)), 6) AS tfidf
         |FROM tf t JOIN dfq d USING (word) CROSS JOIN nq n
         |ORDER BY doc_id, word""".stripMargin,
    // phrase hits replayed as a per-row position scan; DuckDB's
    // generate_series(1, 0) is empty so no guard is needed there
    "ta_phrase_search" ->
      s"""WITH tk AS (SELECT doc_id, regexp_split_to_array(lower(text), '$WS') AS a FROM documents),
         |m AS (SELECT doc_id, len(list_filter(generate_series(1, len(a) - 1),
         |    i -> a[i] = 'table' AND a[i + 1] = 'hash')) AS n_matches FROM tk)
         |SELECT doc_id, CAST(n_matches AS BIGINT) AS n_matches FROM m
         |WHERE n_matches > 0 ORDER BY n_matches DESC, doc_id LIMIT 20""".stripMargin,
    // the observed metrics are exact integers over the same quality rule
    // the other curation oracles replay
    "audit_observe" ->
      s"""WITH c AS (SELECT doc_id,
         |  CAST(len(regexp_split_to_array(lower(text), '$WS')) AS BIGINT) AS nt,
         |  CAST(len(list_filter(regexp_split_to_array(lower(text), '$WS'),
         |    t -> regexp_matches(t, '^[a-z0-9]+$$'))) AS BIGINT) AS alnum,
         |  ${markerSql("en")} AS stop
         |FROM documents),
         |q AS (SELECT nt,
         |  least(CAST(nt AS DOUBLE) / 100.0, 1.0) * 0.2 + CAST(alnum AS DOUBLE) / nt * 0.5
         |    + least(CAST(stop AS DOUBLE) / nt * 4.0, 1.0) * 0.3 AS q FROM c)
         |SELECT count(*) AS n_in, CAST(sum(nt) AS BIGINT) AS tokens_in,
         |  count(CASE WHEN q >= 0.6 THEN 1 END) AS n_kept FROM q""".stripMargin,
    // drift ranked by the exact common-denominator integer form; the two
    // one-row totals cross join, ties break on the word
    "ta_dist_drift" ->
      s"""WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '$WS')) AS word FROM documents),
         |ftk AS (SELECT doc_id, word FROM tk WHERE regexp_matches(word, '^[a-z0-9]+$$')),
         |ca AS (SELECT word, count(*) AS cnt_a FROM ftk WHERE doc_id % 2 = 0 GROUP BY 1),
         |cb AS (SELECT word, count(*) AS cnt_b FROM ftk WHERE doc_id % 2 <> 0 GROUP BY 1),
         |na AS (SELECT CAST(sum(cnt_a) AS BIGINT) AS total_a FROM ca),
         |nb AS (SELECT CAST(sum(cnt_b) AS BIGINT) AS total_b FROM cb),
         |j AS (SELECT coalesce(a.word, b.word) AS word,
         |    coalesce(cnt_a, 0) AS cnt_a, coalesce(cnt_b, 0) AS cnt_b
         |  FROM ca a FULL OUTER JOIN cb b ON a.word = b.word)
         |SELECT word, cnt_a, cnt_b,
         |  CAST(cnt_a AS DOUBLE) / total_a AS freq_a,
         |  CAST(cnt_b AS DOUBLE) / total_b AS freq_b,
         |  CAST(abs(CAST(cnt_a AS DECIMAL(18,0)) * total_b
         |    - CAST(cnt_b AS DECIMAL(18,0)) * total_a) AS BIGINT) AS drift
         |FROM j CROSS JOIN na CROSS JOIN nb
         |ORDER BY drift DESC, word LIMIT 20""".stripMargin,
    // DuckDB mirror of TextAnalysis.bm25Search: same Robertson/Okapi
    // formula, same operation order, same 6-decimal rounding; k1 = 1.2,
    // b = 0.75, query = {spark, window, join}. The indexed gates share it:
    // the stored index changes where postings come from, not the answer.
    "ta_bm25_search" -> bm25OracleSql,
    "ta_bm25_indexed" -> bm25OracleSql,
    "ta_bm25_indexed_incr" -> bm25OracleSql,
    "ta_bm25_purged" -> bm25OracleSqlWhere("doc_id % 7 <> 3"),
    "ta_bm25_compacted" -> bm25OracleSql,
    "ta_hybrid_search" -> hybridOracleSql,
    "ta_hybrid_indexed" -> hybridIndexedOracleSql,
    "ta_hybrid_many" -> hybridManyOracleSql,
    "ta_bm25_many" -> bm25ManyOracleSql,
    // DuckDB replays the ENTIRE BPE training loop (pair counts → argmax →
    // two-pass padded replace, 8 rounds of chained CTEs)
    "ta_bpe_merges" -> bpeMergesOracleSql(graft.ops.Bpe.DefaultRounds),
    "ta_bpe_segments" -> bpeSegmentsOracleSql(graft.ops.Bpe.DefaultRounds, 100),
    // stored-model tokenization replays identically to train-per-call
    "ta_bpe_indexed" ->
      s"""WITH ${bpeCtes(graft.ops.Bpe.DefaultRounds)},
         |tok AS (SELECT doc_id, w AS word
         |  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '$WS')) AS w FROM documents)
         |  WHERE regexp_matches(w, '^[a-z0-9]+$$')),
         |v AS (SELECT word, len(string_split(s, chr(31))) AS n_syms
         |  FROM s${graft.ops.Bpe.DefaultRounds})
         |SELECT doc_id, count(*) AS n_words, CAST(sum(n_syms) AS BIGINT) AS n_subwords
         |FROM tok JOIN v USING (word) GROUP BY 1 ORDER BY 1""".stripMargin,
    // learned vocab applied corpus-wide: per-doc word + subword counts via
    // the replayed final segmentation table
    "ta_bpe_tokenize" ->
      s"""WITH ${bpeCtes(graft.ops.Bpe.DefaultRounds)},
         |tok AS (SELECT doc_id, w AS word
         |  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '$WS')) AS w FROM documents)
         |  WHERE regexp_matches(w, '^[a-z0-9]+$$')),
         |v AS (SELECT word, len(string_split(s, chr(31))) AS n_syms
         |  FROM s${graft.ops.Bpe.DefaultRounds})
         |SELECT doc_id, count(*) AS n_words, CAST(sum(n_syms) AS BIGINT) AS n_subwords
         |FROM tok JOIN v USING (word) GROUP BY 1 ORDER BY 1""".stripMargin,
    // funnel stages replayed per doc then conditionally counted per source
    "ta_filter_funnel" ->
      s"""WITH c AS (SELECT source, doc_id,
         |  regexp_split_to_array(lower(text), '$WS') AS a,
         |  CAST(len(regexp_split_to_array(lower(text), '$WS')) AS BIGINT) AS nt,
         |  CAST(len(list_filter(regexp_split_to_array(lower(text), '$WS'),
         |    t -> regexp_matches(t, '^[a-z0-9]+$$'))) AS BIGINT) AS alnum,
         |  ${markerSql("en")} AS en, ${markerSql("de")} AS de,
         |  ${markerSql("fr")} AS fr, ${markerSql("es")} AS es
         |FROM documents),
         |g2 AS (SELECT doc_id, count(*) AS t2, count(DISTINCT g) AS d2 FROM (
         |  SELECT doc_id, array_to_string(a[i:i+1], ' ') AS g
         |  FROM c, unnest(generate_series(1, len(a) - 1)) AS t(i)) GROUP BY 1),
         |sig AS (SELECT source,
         |  least(CAST(nt AS DOUBLE) / 100.0, 1.0) * 0.2 + CAST(alnum AS DOUBLE) / nt * 0.5
         |    + least(CAST(en AS DOUBLE) / nt * 4.0, 1.0) * 0.3 AS q,
         |  CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
         |       WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
         |       WHEN fr >= es AND fr > 0 THEN 'fr'
         |       WHEN es > 0 THEN 'es'
         |       ELSE 'und' END AS l,
         |  coalesce(CAST(g2.t2 - g2.d2 AS DOUBLE) / nullif(g2.t2, 0), 0.0) AS r
         |FROM c LEFT JOIN g2 USING (doc_id))
         |SELECT source, count(*) AS n_docs,
         |  count(CASE WHEN q >= 0.6 THEN 1 END) AS n_quality,
         |  count(CASE WHEN q >= 0.6 AND l = 'en' THEN 1 END) AS n_lang,
         |  count(CASE WHEN q >= 0.6 AND l = 'en' AND r <= 0.05 THEN 1 END) AS n_clean
         |FROM sig GROUP BY source ORDER BY source""".stripMargin,
    // intra-doc repetition: n-gram multisets replayed per document; the
    // fractions are single divisions of exact counts (bit-identical IEEE)
    "ta_repetition" ->
      s"""WITH f AS (SELECT doc_id, regexp_split_to_array(lower(text), '$WS') AS a FROM documents),
         |g2 AS (SELECT doc_id, array_to_string(a[i:i+1], ' ') AS g
         |  FROM f, unnest(generate_series(1, len(a) - 1)) AS t(i)),
         |g3 AS (SELECT doc_id, array_to_string(a[i:i+2], ' ') AS g
         |  FROM f, unnest(generate_series(1, len(a) - 2)) AS t(i)),
         |s2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS t2, count(*) AS d2, max(c) AS m2
         |  FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),
         |s3 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS t3, count(*) AS d3
         |  FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY 1)
         |SELECT f.doc_id, CAST(len(a) AS BIGINT) AS n_tokens,
         |  coalesce(CAST(t2 - d2 AS DOUBLE) / t2, 0.0) AS dup_2gram_frac,
         |  coalesce(CAST(m2 AS DOUBLE) / t2, 0.0) AS top_2gram_frac,
         |  coalesce(CAST(t3 - d3 AS DOUBLE) / t3, 0.0) AS dup_3gram_frac
         |FROM f LEFT JOIN s2 USING (doc_id) LEFT JOIN s3 USING (doc_id)
         |ORDER BY f.doc_id""".stripMargin,
    // DuckDB replays the full bigram-LM train-then-score loop: counts, vocab,
    // add-one smoothing, per-doc mean log-prob (round 6 like ta_tfidf)
    "ta_lm_score" -> lmScoreOracleSql,
    // the indexed twin scores against STORED exact-integer count tables, so
    // it is bit-identical to the train-per-call form and shares its oracle
    "ta_lm_indexed" -> lmScoreOracleSql,
    // delta-fold append == one-shot model, bit for bit
    "ta_lm_indexed_incr" -> lmScoreOracleSql,
    // merging compaction preserves the fold's totals exactly
    "ta_lm_compacted" -> lmScoreOracleSql,
    // fixed-point PageRank over the word graph, all 8 iterations replayed
    "ta_textrank" -> textRankOracleSql(8, 20),
    // delta-fold graph == one-shot extraction, rank loop identical
    "ta_textrank_incr" -> textRankOracleSql(8, 20),
    // the full 32-round logistic GD replayed as chained CTEs
    "ta_quality_classifier" -> classifierOracleSql(
      graft.ops.Classifier.DefaultIters, graft.ops.Classifier.DefaultLr),
    // stored-model scoring is weight-identical to train-per-call
    "ta_clf_indexed" -> classifierOracleSql(
      graft.ops.Classifier.DefaultIters, graft.ops.Classifier.DefaultLr),
    // concat-then-chunk sequence packing: per-bucket running token sums in
    // deterministic (salted-hash, doc_id) order — all-integer outputs
    "pack_sequences" ->
      s"""WITH d AS (SELECT doc_id,
         |    CAST(len(regexp_split_to_array(lower(text), '$WS')) AS BIGINT) AS n_tokens,
         |    ${Packing.orderHashSql} AS h FROM documents),
         |b AS (SELECT *, CAST(h % 16 AS INTEGER) AS bucket FROM d),
         |c AS (SELECT doc_id, bucket, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM b)
         |SELECT doc_id, bucket,
         |  CAST(floor(cum_before / 256.0) AS BIGINT) AS seq_id,
         |  CAST(cum_before % 256 AS BIGINT) AS seq_offset, n_tokens
         |FROM c ORDER BY doc_id""".stripMargin,
    // the recursive CTE replays the greedy next-fit walk: fill is always
    // > 0 in the recursive step (every document has >= 1 token), so the
    // reset condition is just fill + n > budget; the base case is each
    // bucket's first document, which never resets even when oversized
    "pack_greedy" ->
      s"""WITH RECURSIVE $greedyWalkCtes
         |SELECT doc_id, bucket, seq_id, seq_offset, n_tokens
         |FROM walk ORDER BY doc_id""".stripMargin,
    // the efficiency ledger is one aggregate over the SAME replayed walk:
    // per (bucket, seq_id) doc count, fill, clamped waste, oversized flag
    "pack_fill_stats" ->
      s"""WITH RECURSIVE $greedyWalkCtes
         |SELECT bucket, seq_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS fill_tokens,
         |  CAST(greatest(256 - sum(n_tokens), 0) AS BIGINT) AS waste_tokens,
         |  sum(n_tokens) > 256 AS oversized
         |FROM walk GROUP BY bucket, seq_id ORDER BY bucket, seq_id""".stripMargin,
    // seeded-hash shard + within-shard rank: the reproducible global
    // shuffle replayed with the same 60-bit hash and window rank
    "pack_shard_shuffle" ->
      s"""WITH d AS (SELECT doc_id, ${Packing.shuffleHashSql("epoch0")} AS h FROM documents),
         |s AS (SELECT doc_id, CAST(h % 8 AS BIGINT) AS shard, h FROM d)
         |SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS shard_pos
         |FROM s ORDER BY doc_id""".stripMargin,
    // round-robin interleave: per-(shard, source) rank = the round, then
    // the per-shard rank over (round, h) — two window functions
    "pack_interleave" ->
      s"""WITH d AS (SELECT doc_id, source, ${Packing.shuffleHashSql("epoch0")} AS h
         |  FROM documents),
         |s AS (SELECT doc_id, source, h, CAST(h % 8 AS BIGINT) AS shard FROM d),
         |r AS (SELECT doc_id, source, h, shard,
         |    CAST(row_number() OVER (PARTITION BY shard, source
         |      ORDER BY h, doc_id) AS BIGINT) AS round
         |  FROM s)
         |SELECT doc_id, source, shard, round,
         |  CAST(row_number() OVER (PARTITION BY shard
         |    ORDER BY round, h, doc_id) AS BIGINT) AS shard_pos
         |FROM r ORDER BY doc_id""".stripMargin,
    // the stored plan is the shuffle's own coordinates — one shard's
    // slice of the same replay, in stream order
    "pack_epoch_indexed" ->
      s"""WITH d AS (SELECT doc_id, ${Packing.shuffleHashSql("epoch0")} AS h FROM documents),
         |s AS (SELECT doc_id, CAST(h % 8 AS BIGINT) AS shard, h FROM d),
         |r AS (SELECT doc_id, shard,
         |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS shard_pos
         |  FROM s)
         |SELECT doc_id, shard, shard_pos FROM r WHERE shard = 3
         |ORDER BY shard_pos""".stripMargin,
    // curriculum: the hash-proven ta_quality score bucketed into 4 tiers,
    // highest tier first within each shard, seeded hash within a tier
    "pack_curriculum" ->
      s"""WITH c AS (SELECT doc_id,
         |  CAST(len(regexp_split_to_array(lower(text), '$WS')) AS BIGINT) AS nt,
         |  CAST(len(list_filter(regexp_split_to_array(lower(text), '$WS'),
         |    t -> regexp_matches(t, '^[a-z0-9]+$$'))) AS BIGINT) AS alnum,
         |  ${markerSql("en")} AS stop
         |FROM documents),
         |q AS (SELECT doc_id,
         |  least(CAST(nt AS DOUBLE) / 100.0, 1.0) * 0.2 + CAST(alnum AS DOUBLE) / nt * 0.5
         |    + least(CAST(stop AS DOUBLE) / nt * 4.0, 1.0) * 0.3 AS q
         |  FROM c),
         |t AS (SELECT doc_id,
         |    least(CAST(floor(q * 4) AS BIGINT), 3) AS tier,
         |    ${Packing.shuffleHashSql("epoch0")} AS h
         |  FROM q JOIN documents USING (doc_id)),
         |s AS (SELECT doc_id, tier, CAST(h % 8 AS BIGINT) AS shard, h FROM t)
         |SELECT doc_id, tier, shard,
         |  CAST(row_number() OVER (PARTITION BY shard
         |    ORDER BY tier DESC, h, doc_id) AS BIGINT) AS shard_pos
         |FROM s ORDER BY doc_id""".stripMargin,
    // stored-BPE-budgeted packing: the replayed 8-round training chain
    // feeds per-doc subword counts (0 for no-alnum-word docs, kept via the
    // LEFT JOIN) into the same recursive greedy walk; the walk's reset
    // guard carries the explicit fill > 0 because BPE counts CAN be zero
    "pack_bpe_greedy" ->
      s"""WITH RECURSIVE ${bpeCtes(graft.ops.Bpe.DefaultRounds)},
         |tok AS (SELECT doc_id, w AS word
         |  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '$WS')) AS w FROM documents)
         |  WHERE regexp_matches(w, '^[a-z0-9]+$$')),
         |v AS (SELECT word, len(string_split(s, chr(31))) AS n_syms
         |  FROM s${graft.ops.Bpe.DefaultRounds}),
         |cnt AS (SELECT doc_id, CAST(sum(n_syms) AS BIGINT) AS n
         |  FROM tok JOIN v USING (word) GROUP BY 1),
         |base AS (SELECT doc_id, coalesce(cnt.n, 0) AS n_tokens,
         |    ${Packing.orderHashSql} AS h
         |  FROM documents LEFT JOIN cnt USING (doc_id)),
         |d AS MATERIALIZED (SELECT doc_id, n_tokens, CAST(h % 16 AS BIGINT) AS bucket,
         |    row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) AS rn
         |  FROM base),
         |walk AS (
         |  SELECT bucket, rn, doc_id, n_tokens,
         |    CAST(1 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS seq_offset,
         |    n_tokens AS fill
         |  FROM d WHERE rn = 1
         |  UNION ALL
         |  SELECT d.bucket, d.rn, d.doc_id, d.n_tokens,
         |    CASE WHEN w.fill > 0 AND w.fill + d.n_tokens > ${Packing.DefaultBpeBudget}
         |      THEN w.seq_id + 1 ELSE w.seq_id END,
         |    CASE WHEN w.fill > 0 AND w.fill + d.n_tokens > ${Packing.DefaultBpeBudget}
         |      THEN CAST(0 AS BIGINT) ELSE w.fill END,
         |    CASE WHEN w.fill > 0 AND w.fill + d.n_tokens > ${Packing.DefaultBpeBudget}
         |      THEN d.n_tokens ELSE w.fill + d.n_tokens END
         |  FROM walk w JOIN d ON d.bucket = w.bucket AND d.rn = w.rn + 1)
         |SELECT doc_id, bucket, seq_id, seq_offset, n_tokens
         |FROM walk ORDER BY doc_id""".stripMargin,
    // concat-chunk under the replayed stored-BPE counts: the same
    // window cumsum as pack_sequences over the BPE count table
    "pack_bpe_sequences" ->
      s"""WITH ${bpeCtes(graft.ops.Bpe.DefaultRounds)},
         |tok AS (SELECT doc_id, w AS word
         |  FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '$WS')) AS w FROM documents)
         |  WHERE regexp_matches(w, '^[a-z0-9]+$$')),
         |v AS (SELECT word, len(string_split(s, chr(31))) AS n_syms
         |  FROM s${graft.ops.Bpe.DefaultRounds}),
         |cnt AS (SELECT doc_id, CAST(sum(n_syms) AS BIGINT) AS n
         |  FROM tok JOIN v USING (word) GROUP BY 1),
         |base AS (SELECT doc_id, coalesce(cnt.n, 0) AS n_tokens,
         |    ${Packing.orderHashSql} AS h
         |  FROM documents LEFT JOIN cnt USING (doc_id)),
         |b AS (SELECT *, CAST(h % 16 AS INTEGER) AS bucket FROM base),
         |c AS (SELECT doc_id, bucket, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM b)
         |SELECT doc_id, bucket,
         |  CAST(floor(cum_before / ${Packing.DefaultBpeBudget}.0) AS BIGINT) AS seq_id,
         |  CAST(cum_before % ${Packing.DefaultBpeBudget} AS BIGINT) AS seq_offset, n_tokens
         |FROM c ORDER BY doc_id""".stripMargin,
    // overlapping 64/48 token windows: positions are integer arithmetic,
    // content equality rides the md5 fingerprint
    "pack_chunks" ->
      s"""WITH f AS (SELECT doc_id, regexp_split_to_array(lower(text), '$WS') AS a FROM documents),
         |c AS (SELECT doc_id, k AS chunk_id, k * 48 AS start_tok,
         |    least(64, len(a) - k * 48) AS n_chunk_tokens,
         |    array_to_string(a[k * 48 + 1 : k * 48 + 64], ' ') AS chunk
         |  FROM f, unnest(generate_series(0, (len(a) - 1) // 48)) AS t(k))
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(start_tok AS BIGINT) AS start_tok,
         |  CAST(n_chunk_tokens AS BIGINT) AS n_chunk_tokens,
         |  ${h60Sql("chunk")} AS chunk_fp
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    // injection replayed with chr() codepoints; normalization must agree
    // codepoint-for-codepoint across engines for the fingerprints to match
    "ta_normalize" ->
      s"""WITH inj AS (SELECT doc_id, text
         |    || repeat(' Cafe' || chr(769), CAST(doc_id % 3 AS INTEGER))
         |    || repeat(' A' || chr(778) || 'ngstro' || chr(776) || 'm', CAST(doc_id % 2 AS INTEGER)) AS text
         |  FROM documents)
         |SELECT doc_id, CAST(length(text) AS BIGINT) AS len_raw,
         |  CAST(length(nfc_normalize(text)) AS BIGINT) AS len_nfc,
         |  ${h60Sql("nfc_normalize(text)")} AS nfc_fp
         |FROM inj ORDER BY doc_id""".stripMargin,
    // per-source token-budget cut: the unique hash-order prefix under budget
    "pack_token_budget" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    CAST(len(regexp_split_to_array(lower(text), '$WS')) AS BIGINT) AS n_tokens,
         |    ${Packing.orderHashSql} AS h FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM d)
         |SELECT doc_id, source, n_tokens, CAST(cum_before AS BIGINT) AS cum_before
         |FROM c WHERE cum_before < 800 ORDER BY doc_id""".stripMargin,
    // epoch repeats: 30000 div total full epochs per source, +1 for the
    // remainder prefix (cum_before < 30000 % total)
    "pack_repeat_epochs" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    CAST(len(regexp_split_to_array(lower(text), '$WS')) AS BIGINT) AS n_tokens,
         |    ${Packing.orderHashSql} AS h FROM documents),
         |t AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total FROM d GROUP BY 1),
         |c AS (SELECT doc_id, source, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM d)
         |SELECT c.doc_id, c.source, c.n_tokens,
         |  CAST(30000 // total + CASE WHEN cum_before < 30000 % total THEN 1 ELSE 0 END
         |    AS BIGINT) AS n_repeats
         |FROM c JOIN t ON c.source = t.source ORDER BY c.doc_id""".stripMargin,
    // salted sub-strata walk: budget 800 split across 8 sub-strata of 100,
    // sub = h % 8 (content-deterministic), each sub-stratum its own prefix
    "pack_token_budget_salted" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    CAST(len(regexp_split_to_array(lower(text), '$WS')) AS BIGINT) AS n_tokens,
         |    ${Packing.orderHashSql} AS h FROM documents),
         |c AS (SELECT doc_id, source, n_tokens, h % 8 AS sub,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY source, h % 8
         |      ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM d)
         |SELECT doc_id, source, CAST(sub AS BIGINT) AS sub, n_tokens,
         |  CAST(cum_before AS BIGINT) AS cum_before
         |FROM c WHERE cum_before < 100 ORDER BY doc_id""".stripMargin,
    // temperature-scaled source mixing: per-source budgets ∝ n_s^0.5
    // quantized floor(round(·,6)) at the SOURCE level, then the
    // pack_token_budget hash-order walk against the joined budget
    "pack_source_mix" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    CAST(len(regexp_split_to_array(lower(text), '$WS')) AS BIGINT) AS n_tokens,
         |    ${Packing.orderHashSql} AS h FROM documents),
         |t AS (SELECT source, sum(n_tokens) AS src_tokens FROM d GROUP BY 1),
         |z AS (SELECT sum(CAST(round(pow(src_tokens, 0.5), 6) AS DECIMAL(38,6))) AS z FROM t),
         |b AS (SELECT source,
         |    CAST(floor(round(4000.0 * pow(src_tokens, 0.5) / CAST(z.z AS DOUBLE), 6)) AS BIGINT) AS budget
         |  FROM t CROSS JOIN z),
         |c AS (SELECT doc_id, source, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM d)
         |SELECT c.doc_id, c.source, c.n_tokens,
         |  CAST(c.cum_before AS BIGINT) AS cum_before, b.budget
         |FROM c JOIN b USING (source) WHERE c.cum_before < b.budget
         |ORDER BY doc_id""".stripMargin,
    // diff of (base, merged) — updates carry the v1 fingerprint, deletes a
    // NULL one; adds are impossible in this construction
    "snapshot_diff" ->
      s"""WITH base AS (SELECT doc_id, ${h60Sql("text")} AS fp FROM documents),
         |merged AS (SELECT doc_id,
         |    CASE WHEN doc_id % 10 = 3 THEN ${h60Sql("'v1:' || text")}
         |         ELSE ${h60Sql("text")} END AS fp
         |  FROM documents WHERE doc_id % 10 <> 7),
         |d AS (SELECT coalesce(b.doc_id, m.doc_id) AS doc_id,
         |    CASE WHEN b.doc_id IS NULL THEN 'add'
         |         WHEN m.doc_id IS NULL THEN 'delete'
         |         WHEN b.fp <> m.fp THEN 'update'
         |         ELSE 'unchanged' END AS op,
         |    m.fp AS fp
         |  FROM base b FULL OUTER JOIN merged m ON b.doc_id = m.doc_id)
         |SELECT doc_id, op, fp FROM d WHERE op <> 'unchanged' ORDER BY doc_id""".stripMargin,
    // snapshot + change batch → latest-version-wins merge, tombstones dropped
    "snapshot_merge" ->
      s"""WITH base AS (SELECT doc_id, 0 AS version, 'upsert' AS op,
         |    ${h60Sql("text")} AS fp FROM documents),
         |chg AS (SELECT doc_id, 1 AS version,
         |    CASE WHEN doc_id % 10 = 3 THEN 'upsert' ELSE 'delete' END AS op,
         |    CASE WHEN doc_id % 10 = 3 THEN ${h60Sql("'v1:' || text")} END AS fp
         |  FROM documents WHERE doc_id % 10 IN (3, 7)),
         |u AS (SELECT * FROM base UNION ALL SELECT * FROM chg),
         |latest AS (SELECT * FROM (SELECT *, row_number()
         |    OVER (PARTITION BY doc_id ORDER BY version DESC) AS rn FROM u) WHERE rn = 1)
         |SELECT doc_id, version, fp FROM latest WHERE op = 'upsert'
         |ORDER BY doc_id""".stripMargin,
    // the version chain replayed twice: one argmax fold per as_of, the
    // log pruned at version <= v before each
    "snapshot_time_travel" ->
      s"""WITH base AS (SELECT doc_id, 0 AS version, 'upsert' AS op,
         |    ${h60Sql("text")} AS fp FROM documents),
         |chg1 AS (SELECT doc_id, 1 AS version,
         |    CASE WHEN doc_id % 10 = 3 THEN 'upsert' ELSE 'delete' END AS op,
         |    CASE WHEN doc_id % 10 = 3 THEN ${h60Sql("'v1:' || text")} END AS fp
         |  FROM documents WHERE doc_id % 10 IN (3, 7)),
         |chg2 AS (SELECT doc_id, 2 AS version,
         |    CASE WHEN doc_id % 10 = 1 THEN 'upsert' ELSE 'delete' END AS op,
         |    CASE WHEN doc_id % 10 = 1 THEN ${h60Sql("'v2:' || text")} END AS fp
         |  FROM documents WHERE doc_id % 10 IN (1, 3)),
         |log AS (SELECT * FROM chg1 UNION ALL SELECT * FROM chg2),
         |readv AS (
         |  SELECT v.as_of, u.* FROM (VALUES (1), (2)) AS v(as_of),
         |    LATERAL (SELECT * FROM base UNION ALL
         |             SELECT * FROM log WHERE version <= v.as_of) AS u),
         |latest AS (SELECT * FROM (SELECT *, row_number()
         |    OVER (PARTITION BY as_of, doc_id ORDER BY version DESC) AS rn
         |  FROM readv) WHERE rn = 1)
         |SELECT doc_id, version, fp, CAST(as_of AS BIGINT) AS as_of
         |FROM latest WHERE op = 'upsert'
         |ORDER BY as_of, doc_id""".stripMargin,
    "snapshot_scd2" ->
      s"""WITH base AS (SELECT doc_id, 0 AS version, 'upsert' AS op,
         |    ${h60Sql("text")} AS fp FROM documents),
         |chg1 AS (SELECT doc_id, 1 AS version,
         |    CASE WHEN doc_id % 10 = 3 THEN 'upsert' ELSE 'delete' END AS op,
         |    CASE WHEN doc_id % 10 = 3 THEN ${h60Sql("'v1:' || text")} END AS fp
         |  FROM documents WHERE doc_id % 10 IN (3, 7)),
         |chg2 AS (SELECT doc_id, 2 AS version,
         |    CASE WHEN doc_id % 10 = 1 THEN 'upsert' ELSE 'delete' END AS op,
         |    CASE WHEN doc_id % 10 = 1 THEN ${h60Sql("'v2:' || text")} END AS fp
         |  FROM documents WHERE doc_id % 10 IN (1, 3)),
         |log AS (SELECT * FROM base UNION ALL SELECT * FROM chg1
         |        UNION ALL SELECT * FROM chg2),
         |x AS (SELECT doc_id, version, op, fp,
         |    lead(version) OVER (PARTITION BY doc_id ORDER BY version) AS valid_to
         |  FROM log)
         |SELECT doc_id, version AS valid_from, valid_to, fp,
         |  CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
         |FROM x WHERE op = 'upsert' ORDER BY doc_id, valid_from""".stripMargin,
    // ta_approx_distinct: the HLL sketch VALUE differs per engine, so the
    // Spark side emits its error bound as a 0/1 column; the oracle
    // hash-checks the exact per-source distinct count AND asserts the
    // bound held (literal 1) — TextAnalysisSpec additionally bounds the
    // approx value against the exact count.
    "ta_approx_distinct" ->
      s"""WITH tk AS (SELECT source,
         |    unnest(list_filter(regexp_split_to_array(lower(text), '$WS'),
         |      t -> regexp_matches(t, '^[a-z0-9]+$$'))) AS word
         |  FROM documents)
         |SELECT source, CAST(count(DISTINCT word) AS BIGINT) AS n_exact,
         |  1 AS ok
         |FROM tk GROUP BY source ORDER BY source""".stripMargin,
    "ta_vocab_dispersion" ->
      s"""WITH tk AS (SELECT source,
         |    unnest(list_filter(regexp_split_to_array(lower(text), '$WS'),
         |      t -> regexp_matches(t, '^[a-z0-9]+$$'))) AS word
         |  FROM documents),
         |cw AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c
         |  FROM tk GROUP BY 1, 2),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY c, word) AS BIGINT) AS i FROM cw)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_vocab,
         |  CAST(sum(c) AS BIGINT) AS total_tokens,
         |  CAST(2 * sum(i * c) - (count(*) + 1) * sum(c) AS BIGINT) AS gini_num,
         |  CAST(count(*) * sum(c) AS BIGINT) AS gini_den,
         |  round(ln(CAST(sum(c) AS DOUBLE))
         |    - sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 6) AS entropy6
         |FROM r GROUP BY source ORDER BY source""".stripMargin,
    // stored-HLL gates: same oracle shape as ta_approx_distinct — the
    // sketch value is engine-specific, its accuracy contract is not
    "ta_distinct_hll_indexed" ->
      s"""WITH tk AS (SELECT source,
         |    unnest(list_filter(regexp_split_to_array(lower(text), '$WS'),
         |      t -> regexp_matches(t, '^[a-z0-9]+$$'))) AS word
         |  FROM documents)
         |SELECT source, CAST(count(DISTINCT word) AS BIGINT) AS n_exact,
         |  1 AS ok
         |FROM tk GROUP BY source ORDER BY source""".stripMargin,
    "ta_distinct_hll_incr" ->
      s"""WITH tk AS (SELECT source,
         |    unnest(list_filter(regexp_split_to_array(lower(text), '$WS'),
         |      t -> regexp_matches(t, '^[a-z0-9]+$$'))) AS word
         |  FROM documents)
         |SELECT source, CAST(count(DISTINCT word) AS BIGINT) AS n_exact,
         |  1 AS ok
         |FROM tk GROUP BY source ORDER BY source""".stripMargin,
    "ta_heavy_hitters" ->
      s"""WITH tk AS (SELECT
         |    unnest(list_filter(regexp_split_to_array(lower(text), '$WS'),
         |      t -> regexp_matches(t, '^[a-z0-9]+$$'))) AS word
         |  FROM documents)
         |SELECT word, CAST(count(*) AS BIGINT) AS cnt,
         |  1 AS ok_lower, 1 AS ok_upper
         |FROM tk GROUP BY word ORDER BY cnt DESC, word LIMIT 50""".stripMargin,
    // stored-CMS gates share one oracle: counter addition is exact, so
    // the appended+compacted sketch answers identically to the one-shot
    "ta_heavy_hitters_indexed" -> cmsOracleSql,
    "ta_heavy_hitters_incr" -> cmsOracleSql,
    "ta_curation_pipeline" ->
      s"""WITH c AS (SELECT doc_id,
         |  CAST(len(regexp_split_to_array(lower(text), '$WS')) AS BIGINT) AS nt,
         |  CAST(len(list_filter(regexp_split_to_array(lower(text), '$WS'),
         |    t -> regexp_matches(t, '^[a-z0-9]+$$'))) AS BIGINT) AS alnum,
         |  ${markerSql("en")} AS en, ${markerSql("de")} AS de,
         |  ${markerSql("fr")} AS fr, ${markerSql("es")} AS es,
         |  ${h60Sql(s"trim(regexp_replace(lower(text), '$WS', ' ', 'g'))")} AS fp_norm
         |FROM documents),
         |scored AS (SELECT doc_id, nt AS n_tokens,
         |  least(CAST(nt AS DOUBLE) / 100.0, 1.0) * 0.2 + CAST(alnum AS DOUBLE) / nt * 0.5
         |    + least(CAST(en AS DOUBLE) / nt * 4.0, 1.0) * 0.3 AS quality,
         |  CASE WHEN en >= de AND en >= fr AND en >= es AND en > 0 THEN 'en'
         |       WHEN de >= fr AND de >= es AND de > 0 THEN 'de'
         |       WHEN fr >= es AND fr > 0 THEN 'fr'
         |       WHEN es > 0 THEN 'es'
         |       ELSE 'und' END AS pred_lang,
         |  fp_norm FROM c),
         |kept AS (SELECT * FROM scored WHERE quality >= 0.6 AND pred_lang = 'en')
         |SELECT doc_id, n_tokens, quality FROM (
         |  SELECT doc_id, n_tokens, quality,
         |    row_number() OVER (PARTITION BY fp_norm ORDER BY doc_id) AS rn FROM kept)
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // ---- north-star: multimodal (ASCII corpus: char substring == byte substring) ----
    "mm_metadata" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  'application/octet-stream' AS mime,
        |  CAST(n_chars % 640 + 64 AS INTEGER) AS width,
        |  CAST(n_chars % 480 + 48 AS INTEGER) AS height,
        |  md5(text) AS checksum,
        |  hex(encode(substring(text, 1, 8))) AS prefix_hex
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_frames" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  CAST(k AS BIGINT) AS frame_idx,
        |  hex(encode(substring(text, CAST(k * greatest(length(text) // 4, 1) + 1 AS INT), 16))) AS frame_hex
        |FROM documents, unnest(generate_series(0, 3)) AS t(k)
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // the mixed-media moment extraction replayed decoder-free: pixel
    // values from the synthesizePng generating formula, sample values
    // from the synthesizeWav formula, the same 5 exact-integer moments
    // per blob (one IEEE division each for mean and energy)
    "mm_decode_features" ->
      """WITH px AS (SELECT doc_id,
        |  (doc_id * 31 + x * 7 + y * 13 + (doc_id % 9 + 1) * x * y) % 256 AS v
        |  FROM documents,
        |    unnest(generate_series(0, CAST(doc_id % 16 + 7 AS INT))) AS tx(x),
        |    unnest(generate_series(0, CAST(doc_id % 12 + 7 AS INT))) AS ty(y)),
        |sm AS (SELECT doc_id,
        |  (doc_id * 37 + i * i * 17 + (doc_id % 13 + 1) * i) % 65536 - 32768 AS v
        |  FROM documents,
        |    unnest(generate_series(0, CAST(doc_id % 400 + 99 AS INT))) AS g(i)),
        |pf AS (SELECT doc_id, 'image/png' AS mime,
        |    CAST(count(*) AS DOUBLE) AS f_n,
        |    CAST(min(v) AS DOUBLE) AS f_min, CAST(max(v) AS DOUBLE) AS f_max,
        |    CAST(sum(v) AS DOUBLE) / count(*) AS f_mean,
        |    CAST(sum(v * v) AS DOUBLE) / count(*) AS f_energy
        |  FROM px GROUP BY doc_id),
        |wf AS (SELECT doc_id, 'audio/wav' AS mime,
        |    CAST(count(*) AS DOUBLE) AS f_n,
        |    CAST(min(v) AS DOUBLE) AS f_min, CAST(max(v) AS DOUBLE) AS f_max,
        |    CAST(sum(v) AS DOUBLE) / count(*) AS f_mean,
        |    CAST(sum(v * v) AS DOUBLE) / count(*) AS f_energy
        |  FROM sm GROUP BY doc_id)
        |SELECT * FROM (SELECT * FROM pf UNION ALL SELECT * FROM wf)
        |ORDER BY doc_id, mime""".stripMargin,
    // replays Multimodal.synthesizePng's generating formula: pixel
    // (x, y) = (doc_id*31 + x*7 + y*13) mod 256 over the per-doc
    // dimensions — no decoder needed oracle-side, which is exactly what
    // makes the real ImageIO decode gate checkable
    "mm_decode_png" ->
      """WITH px AS (SELECT doc_id,
        |  (doc_id * 31 + x * 7 + y * 13 + (doc_id % 9 + 1) * x * y) % 256 AS v
        |  FROM documents,
        |    unnest(generate_series(0, CAST(doc_id % 16 + 7 AS INT))) AS tx(x),
        |    unnest(generate_series(0, CAST(doc_id % 12 + 7 AS INT))) AS ty(y))
        |SELECT doc_id,
        |  CAST(doc_id % 16 + 8 AS BIGINT) AS width,
        |  CAST(doc_id % 12 + 8 AS BIGINT) AS height,
        |  CAST(sum(v) AS DOUBLE) / count(*) AS mean_px,
        |  CAST(min(v) AS BIGINT) AS min_px,
        |  CAST(max(v) AS BIGINT) AS max_px
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // replays the dHash sampled-pixel formula (nearest-neighbor 8×8 grid
    // over the synthesizePng generating formula — exact integer div, no
    // decoder): bit gy*7+gx set iff the grid brightens left-to-right
    "mm_phash" ->
      s"""WITH $phashCtes
        |SELECT doc_id, phash FROM ph ORDER BY doc_id""".stripMargin,
    // banded pair mining replayed on the same codes: 4 × 14-bit band
    // collisions, exact bit_count(xor) Hamming verification at radius 3
    "mm_phash_pairs" ->
      s"""WITH $phashCtes,
        |bands AS (SELECT doc_id, phash, b AS band_idx,
        |    (phash >> CAST(b * 14 AS INT)) & 16383 AS band_val
        |  FROM ph, unnest(generate_series(0, 3)) AS tb(b))
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM bands a JOIN bands b
        |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
        |  AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the cross-modal decision table: FULL OUTER alignment of the image
    // (phash) and caption (simhash) pair sets on the pair key — both
    // modal CTEs are the replayed formulas their own gates prove
    "mm_crossmodal_pairs" ->
      s"""WITH $phashCtes,
         |$simhashCteSql,
         |pbands AS (SELECT doc_id, phash, b AS band_idx,
         |    (phash >> CAST(b * 14 AS INT)) & 16383 AS band_val
         |  FROM ph, unnest(generate_series(0, 3)) AS tb(b)),
         |ip AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS image_hamming
         |  FROM pbands a JOIN pbands b
         |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
         |sbands AS (SELECT doc_id, simhash, band_idx, (simhash >> (band_idx * 8)) & 255 AS band_val
         |  FROM shash, unnest(generate_series(0, 3)) AS t(band_idx)),
         |tcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sbands a JOIN sbands b
         |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
         |tp AS (SELECT doc_a, doc_b,
         |    CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS text_hamming
         |  FROM tcand JOIN shash sa ON sa.doc_id = doc_a JOIN shash sb ON sb.doc_id = doc_b
         |  WHERE bit_count(xor(sa.simhash, sb.simhash)) <= ${Dedup.DefaultMaxHamming})
         |SELECT coalesce(ip.doc_a, tp.doc_a) AS doc_a,
         |  coalesce(ip.doc_b, tp.doc_b) AS doc_b,
         |  ip.image_hamming, tp.text_hamming,
         |  ip.image_hamming IS NOT NULL AND tp.text_hamming IS NOT NULL AS both_modalities
         |FROM ip FULL OUTER JOIN tp ON ip.doc_a = tp.doc_a AND ip.doc_b = tp.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,
    // cross-side banded mining on the replayed codes: stored-corpus side
    // (%3<>0) vs batch side (%3=0), exact Hamming verification — the
    // index changes where the corpus codes come from, not the pairs
    "mm_phash_indexed" -> phashCrossOracleSql,
    "mm_phash_indexed_incr" -> phashCrossOracleSql,
    "mm_phash_purged" ->
      phashCrossOracleSqlWhere("doc_id % 3 <> 0 AND doc_id % 7 <> 3"),
    // replays Multimodal.synthesizeWav's generating formula: sample
    // i = ((doc_id*37 + i²*17 + (doc_id%13+1)*i) mod 65536) - 32768 over
    // doc_id%400+100 samples — PCM is lossless, so the real javax.sound
    // decode must reproduce these statistics exactly
    "mm_decode_wav" ->
      """WITH sm AS (SELECT doc_id,
        |  (doc_id * 37 + i * i * 17 + (doc_id % 13 + 1) * i) % 65536 - 32768 AS v
        |  FROM documents,
        |    unnest(generate_series(0, CAST(doc_id % 400 + 99 AS INT))) AS g(i))
        |SELECT doc_id,
        |  CAST(doc_id % 400 + 100 AS BIGINT) AS n_samples,
        |  CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(sum(v) AS DOUBLE) / count(*) AS mean_s,
        |  CAST(min(v) AS BIGINT) AS min_s,
        |  CAST(max(v) AS BIGINT) AS max_s
        |FROM sm GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "mm_ahash" ->
      s"""WITH $ahashCtes
        |SELECT doc_id, ahash FROM ah ORDER BY doc_id""".stripMargin,
    "mm_ahash_pairs" ->
      s"""WITH $ahashCtes,
        |abands AS (SELECT doc_id, ahash, b AS band_idx,
        |    (ahash >> CAST(b * 8 AS INT)) & 255 AS band_val
        |  FROM ah, unnest(generate_series(0, 3)) AS tb(b))
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
        |FROM abands a JOIN abands b
        |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
        |  AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    // byte_stride mirrored as a char-stride over the ASCII payload
    "mm_downsample" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS ds_len,
        |  hex(encode(array_to_string(list_transform(generate_series(1, length(text), 4),
        |    i -> substring(text, CAST(i AS INT), 1)), ''))) AS ds_hex
        |FROM documents ORDER BY doc_id""".stripMargin,
    // replays the gate's injection with DuckDB string ops, then redacts
    // with DuckDB's RE2 engine — fingerprint equality proves Spark's Java
    // regex and RE2 agree on every replacement
    "ta_pii_redact" ->
      s"""WITH inj AS (SELECT doc_id,
         |  text || repeat(' user' || CAST(doc_id AS VARCHAR) || '@example.org',
         |    CAST(doc_id % 3 AS INT))
         |  || repeat(' 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
         |    || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), CAST(doc_id % 2 AS INT))
         |  || repeat(' 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
         |    || CAST(doc_id * 7 % 256 AS VARCHAR), CAST((doc_id + 1) % 2 AS INT)) AS text
         |  FROM documents),
         |red AS (SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailRe}', 0)) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.PhoneRe}', 0)) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.Ipv4Re}', 0)) AS BIGINT) AS n_ips,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.PhoneRe}', '<PHONE>', 'g'),
         |    '${TextAnalysis.Ipv4Re}', '<IP>', 'g') AS redacted
         |  FROM inj)
         |SELECT doc_id, n_emails, n_phones, n_ips, redacted,
         |  ${h60Sql("redacted")} AS redacted_fp
         |FROM red ORDER BY doc_id""".stripMargin,
    "ta_top_bigrams" ->
      s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '$WS') AS ws FROM documents),
         |sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+1], ' ') AS shingle
         |       FROM toks, unnest(generate_series(1, greatest(len(ws) - 1, 1))) AS t(i))
         |SELECT shingle, count(*) AS n_docs FROM sh
         |GROUP BY 1 ORDER BY n_docs DESC, shingle LIMIT 20""".stripMargin,
    "sample_hash10" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${Sampling.bucket100Sql("doc_id")} < 10 ORDER BY doc_id""".stripMargin,
    "sample_stratified" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${Sampling.bucket100Sql("doc_id")} <
         |  (CASE WHEN lang = 'en' THEN 25 ELSE 100 END)
         |ORDER BY doc_id""".stripMargin,
    "sample_per_stratum" ->
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
         |    ORDER BY ${h32Sql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= 5 ORDER BY doc_id""".stripMargin,
    // canonicalization pipeline replayed step-by-step over the injected
    // URLs (fragment, host case, www., default port, utm params)
    "curation_url_canonical" ->
      s"""WITH $canonicalUrlCtes
         |SELECT doc_id, url_canonical, domain FROM dom ORDER BY doc_id""".stripMargin,
    // the mega-site guard: hash-rank cap at 20 per registrable domain
    "curation_domain_cap" ->
      s"""WITH $canonicalUrlCtes,
         |hh AS (SELECT doc_id, url_canonical, domain,
         |  ${h60Sql("'dom:' || CAST(doc_id AS VARCHAR)")} AS h FROM dom),
         |r AS (SELECT doc_id, url_canonical, domain,
         |  CAST(row_number() OVER (PARTITION BY domain ORDER BY h, doc_id) AS BIGINT) AS rnk
         |  FROM hh)
         |SELECT doc_id, url_canonical, domain, rnk FROM r WHERE rnk <= 20
         |ORDER BY doc_id""".stripMargin,
    // adaptive quality floor: the oracle ranks per source (key desc,
    // doc_id asc) — the histogram+boundary selection must match exactly
    "curation_quality_floor" ->
      s"""WITH c AS (SELECT doc_id, source,
         |  CAST(len(regexp_split_to_array(lower(text), '$WS')) AS BIGINT) AS nt,
         |  CAST(len(list_filter(regexp_split_to_array(lower(text), '$WS'),
         |    t -> regexp_matches(t, '^[a-z0-9]+$$'))) AS BIGINT) AS alnum,
         |  ${markerSql("en")} AS stop
         |FROM documents),
         |q AS (SELECT doc_id, source,
         |  CAST(floor((least(CAST(nt AS DOUBLE) / 100.0, 1.0) * 0.2
         |    + CAST(alnum AS DOUBLE) / nt * 0.5
         |    + least(CAST(stop AS DOUBLE) / nt * 4.0, 1.0) * 0.3) * 1e6) AS BIGINT) AS qkey
         |FROM c),
         |r AS (SELECT doc_id, source, qkey,
         |  row_number() OVER (PARTITION BY source ORDER BY qkey DESC, doc_id) AS rn,
         |  count(*) OVER (PARTITION BY source) AS n FROM q)
         |SELECT doc_id, source, qkey FROM r
         |WHERE rn <= CAST(ceil(n * 0.5) AS BIGINT) ORDER BY doc_id""".stripMargin,
    // systematic PPS: the per-source hash-order token walk, keep a doc iff
    // its token span crosses a multiple of the step — `//` is DuckDB's
    // integer division, matching Spark's `div` on longs exactly
    "sample_pps" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    CAST(len(regexp_split_to_array(lower(text), '$WS')) AS BIGINT) AS n_tokens,
         |    ${Packing.orderHashSql} AS h FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM d)
         |SELECT doc_id, source, n_tokens, cum_before FROM c
         |WHERE (cum_before + n_tokens) // 400 > cum_before // 400
         |ORDER BY doc_id""".stripMargin,
    "sample_split_assign" ->
      s"""SELECT doc_id, lang, ${Sampling.splitAssignSql("doc_id")} AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    // leak-free split: the components oracle's recursive-CTE closure
    // labels, split-bucketed on the LABEL with the same hash rule — every
    // near-dup pair provably shares a split because it shares a label
    "sample_split_leakfree" ->
      s"""WITH lab AS (${componentsOracleSql})
         |SELECT doc_id, label, ${Sampling.splitAssignSql("label")} AS split
         |FROM lab ORDER BY doc_id""".stripMargin,
    // stored-lifecycle twins (r18): the indexed projection and the
    // incremental merge must both land on exactly the one-shot leak-free
    // assignment of the full corpus — the same closure-label oracle
    "sample_split_indexed" ->
      s"""WITH lab AS (${componentsOracleSql})
         |SELECT doc_id, label, ${Sampling.splitAssignSql("label")} AS split
         |FROM lab ORDER BY doc_id""".stripMargin,
    "sample_split_incr" ->
      s"""WITH lab AS (${componentsOracleSql})
         |SELECT doc_id, label, ${Sampling.splitAssignSql("label")} AS split
         |FROM lab ORDER BY doc_id""".stripMargin,
    // forget propagation: the purged components oracle's labels (the
    // dedup_components_purged replay), split-bucketed the same way
    "sample_split_purged" ->
      s"""WITH lab AS (${componentsOracleSqlWhere("doc_id % 7 <> 3")})
         |SELECT doc_id, label, ${Sampling.splitAssignSql("label")} AS split
         |FROM lab ORDER BY doc_id""".stripMargin,
    // split drift: BOTH corpora's closure labels (yesterday = %4!=1,
    // today = all), each split-bucketed on its own label, joined on the
    // common docs → the transition matrix the engine reports
    "sample_split_drift" ->
      s"""WITH la AS (${componentsOracleSqlWhere("doc_id % 4 <> 1")}),
         |lb AS (${componentsOracleSql}),
         |wa AS (SELECT doc_id, ${Sampling.splitAssignSql("label")} AS split_was FROM la),
         |wb AS (SELECT doc_id, ${Sampling.splitAssignSql("label")} AS split_now FROM lb)
         |SELECT split_was, split_now, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM wa JOIN wb USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the stored-lifecycle drift form reports the SAME matrix (yesterday
    // %4!=1 vs merged full corpus) — published-table reads change where
    // the assignments come from, not the transitions
    "sample_split_drift_indexed" ->
      s"""WITH la AS (${componentsOracleSqlWhere("doc_id % 4 <> 1")}),
         |lb AS (${componentsOracleSql}),
         |wa AS (SELECT doc_id, ${Sampling.splitAssignSql("label")} AS split_was FROM la),
         |wb AS (SELECT doc_id, ${Sampling.splitAssignSql("label")} AS split_now FROM lb)
         |SELECT split_was, split_now, CAST(count(*) AS BIGINT) AS n_docs,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM wa JOIN wb USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "sql_correlated" ->
      """WITH per_cust AS (
        |  SELECT c.c_custkey, c.c_nationkey, count(o.o_orderkey) AS n_orders
        |  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |  GROUP BY c.c_custkey, c.c_nationkey)
        |SELECT p.c_custkey, p.n_orders
        |FROM per_cust p
        |WHERE p.n_orders > (
        |  SELECT avg(p2.n_orders) FROM per_cust p2
        |  WHERE p2.c_nationkey = p.c_nationkey)
        |ORDER BY p.c_custkey""".stripMargin,
    "hof_sampler" ->
      s"""WITH t AS (SELECT doc_id, regexp_split_to_array(lower(text), '$WS') AS ws FROM documents)
         |SELECT doc_id,
         |  list_contains(ws, 'spark') AS has_spark,
         |  CAST(len(list_filter(ws, t -> length(t) > 4)) AS BIGINT) AS n_long_tokens,
         |  CAST(list_sum(list_transform(ws, t -> length(t))) AS BIGINT) AS total_len,
         |  ws[1] AS first_tok,
         |  len(list_filter(ws, t -> regexp_matches(t, '^[0-9]+$$'))) > 0 AS has_number
         |FROM t ORDER BY doc_id""".stripMargin,
    "date_arith_sampler" ->
      """SELECT o_orderkey,
        |  o_orderdate + INTERVAL 30 DAY AS due_date,
        |  CAST(date_diff('day', o_orderdate, TIMESTAMP '1998-12-31') AS BIGINT) AS days_to_eoy,
        |  CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end,
        |  CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "stream_windowed_counts" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // rate limiting replayed as the window formula: rank by (ts,
    // event_id) within (user, epoch-aligned 6-hour bucket), keep rank
    // <= 2. DuckDB's time_bucket origin (2000-01-03) is a whole number
    // of 6-hour periods from the epoch, so the buckets equal Spark's
    // floorMod-epoch windows exactly.
    "stream_rate_limit" ->
      """SELECT event_id, user_id, ts, win_start FROM (
        |  SELECT event_id, user_id, ts,
        |    time_bucket(INTERVAL '6 hours', ts) AS win_start,
        |    row_number() OVER (PARTITION BY user_id, time_bucket(INTERVAL '6 hours', ts)
        |      ORDER BY ts, event_id) AS rn
        |  FROM events)
        |WHERE rn <= 2 ORDER BY event_id""".stripMargin,
    // sliding 1h/30min: an event at ts belongs to the two slide-aligned
    // starts in (ts - 1h, ts] — floor30(ts) and floor30(ts) - 30min
    "stream_sliding_counts" ->
      """WITH w AS (SELECT event_type, value,
        |    time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes' AS win_start
        |  FROM events, unnest(generate_series(0, 1)) AS t(k))
        |SELECT win_start, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_sessions_batch" -> sessionsOracleSql,
    "stream_sessions_native" -> sessionsOracleSql,
    "stream_interval_join" ->
      """SELECT l.user_id, l.event_id AS l_id, r.event_id AS r_id,
        |  CAST(CAST(l.value AS DECIMAL(18,2)) AS DOUBLE) AS l_value,
        |  CAST(CAST(r.value AS DECIMAL(18,2)) AS DOUBLE) AS r_value
        |FROM events l JOIN events r
        |  ON r.user_id = l.user_id
        |  AND l.event_type = 'click' AND r.event_type = 'purchase'
        |  AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
        |ORDER BY l_id, r_id""".stripMargin,
    // duplicates injected as identical full rows, so keep-any == keep-first
    "stream_dedup_events" ->
      """SELECT event_id, user_id, event_type, value, ts FROM (
        |  SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY event_id) AS rn FROM (
        |    SELECT event_id, user_id, event_type, value, ts FROM events
        |    UNION ALL
        |    SELECT event_id, user_id, event_type, value, ts FROM events WHERE event_id % 10 = 0))
        |WHERE rn = 1 ORDER BY event_id""".stripMargin,
    // the build manifest's corpus stamp replayed from the source table:
    // count + commutative bit_xor of the h60 id hash (order-invariant on
    // both engines); appends = 0 for the one-shot build, fresh = 1 since
    // the index WAS built from exactly this corpus
    "fmt_index_manifest" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS corpus_n,
         |  CAST(bit_xor(${h60Sql("CAST(vec_id AS VARCHAR)")}) AS BIGINT) AS corpus_fp,
         |  CAST(0 AS BIGINT) AS appends, 1 AS fresh
         |FROM embeddings""".stripMargin,
    // the audit's two sides replayed from the source corpus: the stored
    // index was built from exactly `embeddings`, so manifest and
    // distinct-recount stamps both equal the corpus stamp and the
    // disjointness verdict holds
    "fmt_stamp_audit" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS manifest_n,
         |  CAST(bit_xor(${h60Sql("CAST(vec_id AS VARCHAR)")}) AS BIGINT) AS manifest_fp,
         |  CAST(count(*) AS BIGINT) AS stored_n,
         |  CAST(bit_xor(${h60Sql("CAST(vec_id AS VARCHAR)")}) AS BIGINT) AS stored_fp,
         |  CAST(count(*) * ${graft.ops.Similarity.SigBands} AS BIGINT) AS stored_rows,
         |  TRUE AS disjoint_ok, TRUE AS rows_ok
         |FROM embeddings""".stripMargin,
    // oracle derives both schema generations from the source table: the
    // even half never wrote a balance, so its sum is NULL — equality
    // proves mergeSchema surfaced v1 rows with null, not dropped them
    "fmt_schema_evolution" ->
      """SELECT (c_custkey % 2 <> 0) AS has_bal, count(*) AS n,
        |  CAST(sum(CASE WHEN c_custkey % 2 <> 0
        |    THEN CAST(c_acctbal AS DECIMAL(18,2)) END) AS DOUBLE) AS total_bal
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,
    // oracle reads the PARQUET nation — equality proves the csv sink→scan
    // roundtrip in the Spark query was lossless
    "fmt_csv_roundtrip" ->
      """SELECT n_regionkey, count(*) AS n_nations,
        |  array_to_string(list_sort(list(n_name)), ',') AS nations
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin,
    // the quarantine split: rejected = the injected %13 garbage rows.
    // PERMISSIVE parsing keeps the columns that DID parse (k is the intact
    // order key even on a rejected row; only the bad v is null), so sum_k
    // covers both groups — the quarantine loses nothing
    "fmt_quarantine_kv" ->
      """SELECT o_orderkey % 13 = 0 AS rejected, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_k,
        |  CAST(sum(CASE WHEN o_orderkey % 13 = 0 THEN NULL
        |           ELSE o_orderkey % 5 END) AS BIGINT) AS sum_v
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // mirrors the Spark side's injected-garbage drop: rows where the value
    // token fails to parse as an int simply vanish (reducer.py semantics)
    "fmt_permissive_kv" ->
      """SELECT o_orderkey % 5 AS v, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_k
        |FROM orders WHERE o_orderkey % 13 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "pivot_status" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "unpivot_measures" ->
      """SELECT o_orderkey, measure, value FROM (
        |  SELECT o_orderkey, 'o_totalprice' AS measure, o_totalprice AS value FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'o_year', CAST(year(o_orderdate) AS DOUBLE) FROM orders)
        |ORDER BY o_orderkey, measure""".stripMargin,
    "setops_all_variants" ->
      """SELECT k, count(*) AS multiplicity FROM (
        |  SELECT k FROM (
        |    SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000
        |    EXCEPT ALL
        |    SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING')
        |  INTERSECT ALL
        |  SELECT o_custkey AS k FROM orders)
        |GROUP BY k ORDER BY k""".stripMargin,
    "array_agg_statuses" ->
      """SELECT o_orderpriority,
        |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "string_funcs_sampler" ->
      """SELECT c_custkey,
        |  translate(c_name, '#', '-') AS name_tr,
        |  lpad(c_mktsegment, 12, '.') AS seg_lpad,
        |  rpad(c_mktsegment, 12, '.') AS seg_rpad,
        |  repeat(substring(c_mktsegment, 1, 2), 3) AS seg_rep,
        |  reverse(c_mktsegment) AS seg_rev,
        |  regexp_replace(c_name, '[0-9]+', 'N', 'g') AS name_norm,
        |  CAST(strpos(c_name, '1') AS BIGINT) AS pos_one,
        |  CAST(ascii(c_mktsegment) AS BIGINT) AS seg_ascii
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "percentiles_qty" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.5) AS median,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // per-column profile: one UNION branch per column; the money column
    // renders through DECIMAL on both sides so the string is engine-exact
    "audit_schema_report" -> {
      def branch(c: String, expr: String = ""): String = {
        val e = if (expr.isEmpty) c else expr
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  count(*) - count($e) AS n_nulls,
           |  CAST(count(DISTINCT $e) AS BIGINT) AS n_distinct,
           |  CAST(min($e) AS VARCHAR) AS min_val,
           |  CAST(max($e) AS VARCHAR) AS max_val FROM orders""".stripMargin
      }
      Seq(
        branch("o_orderkey"), branch("o_custkey"), branch("o_orderstatus"),
        branch("o_totalprice", "CAST(o_totalprice AS DECIMAL(18,2))"),
        branch("o_orderdate"), branch("o_orderpriority"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    // join-cardinality report: both key histograms, their join, the exact
    // Σ cntA·cntB total and top contributing keys — HUGEINT under the
    // aggregation mirroring the engine's internal decimal(38,0) widening,
    // but the OUTWARD contrib/total_pairs are BIGINT per the outward-type
    // rule (BASELINE.md): DECIMAL never appears in a gate's final schema
    "audit_join_cardinality" ->
      """WITH hl AS (SELECT CAST(l_partkey AS VARCHAR) AS key_value,
        |    CAST(count(*) AS BIGINT) AS cnt_left FROM lineitem GROUP BY 1),
        |hr AS (SELECT CAST(l_partkey AS VARCHAR) AS key_value,
        |    CAST(count(*) AS BIGINT) AS cnt_right FROM lineitem GROUP BY 1),
        |c AS MATERIALIZED (SELECT key_value, cnt_left, cnt_right,
        |    CAST(cnt_left AS HUGEINT) * cnt_right
        |      AS contrib FROM hl JOIN hr USING (key_value)),
        |t AS (SELECT sum(contrib) AS total_pairs,
        |    CAST(count(*) AS BIGINT) AS n_keys_matched FROM c),
        |rk AS (SELECT *, CAST(row_number() OVER (ORDER BY contrib DESC, key_value)
        |    AS BIGINT) AS rk FROM c)
        |SELECT rk, key_value, cnt_left, cnt_right,
        |  CAST(contrib AS BIGINT) AS contrib,
        |  CAST(contrib * 1000000 // CAST(total_pairs AS HUGEINT)
        |    AS BIGINT) AS ppm,
        |  CAST(total_pairs AS BIGINT) AS total_pairs, n_keys_matched
        |FROM rk CROSS JOIN t WHERE rk <= 5 ORDER BY rk""".stripMargin,
    // key-skew report: one histogram per audited column (from a single
    // UNION'd pair stream, mirroring the engine's one-scan explode), all
    // measures exact integer division
    "audit_skew_report" ->
      """WITH pairs AS (
        |  SELECT 'l_partkey' AS key_col, CAST(l_partkey AS VARCHAR) AS key_value FROM lineitem
        |  UNION ALL SELECT 'l_returnflag', CAST(l_returnflag AS VARCHAR) FROM lineitem
        |  UNION ALL SELECT 'l_suppkey', CAST(l_suppkey AS VARCHAR) FROM lineitem),
        |hist AS MATERIALIZED (SELECT key_col, key_value, CAST(count(*) AS BIGINT) AS cnt
        |  FROM pairs GROUP BY 1, 2),
        |stats AS (SELECT key_col, CAST(sum(cnt) AS BIGINT) AS n_total,
        |  CAST(count(*) AS BIGINT) AS n_distinct FROM hist GROUP BY 1),
        |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY key_col
        |    ORDER BY cnt DESC, key_value) AS BIGINT) AS rk FROM hist)
        |SELECT r.key_col, rk, key_value, cnt,
        |  CAST(CAST(cnt AS HUGEINT) * 1000000 // n_total AS BIGINT) AS ppm,
        |  CAST(CAST(cnt AS HUGEINT) * n_distinct * 100 // n_total AS BIGINT)
        |    AS x_mean_pct,
        |  n_total, n_distinct
        |FROM rk r JOIN stats s USING (key_col)
        |WHERE rk <= 5 ORDER BY key_col, rk""".stripMargin,
    "fmt_schema_drift" -> {
      def branch(c: String, where: String, expr: String = ""): String = {
        val e = if (expr.isEmpty) c else expr
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  count(*) - count($e) AS n_nulls,
           |  CAST(count(DISTINCT $e) AS BIGINT) AS n_distinct,
           |  CAST(min($e) AS VARCHAR) AS min_val,
           |  CAST(max($e) AS VARCHAR) AS max_val FROM orders $where""".stripMargin
      }
      val pw = "WHERE o_orderdate < TIMESTAMP '1997-01-01'"
      val shared = Seq("o_orderkey" -> "", "o_orderstatus" -> "",
        "o_totalprice" -> "CAST(o_totalprice AS DECIMAL(18,2))",
        "o_orderdate" -> "")
      val prev = (shared :+ ("o_custkey" -> ""))
        .map { case (c, e) => branch(c, pw, e) }.mkString("\nUNION ALL\n")
      val next = (shared :+ ("o_orderpriority" -> ""))
        .map { case (c, e) => branch(c, "", e) }.mkString("\nUNION ALL\n")
      s"""WITH p AS ($prev), n AS ($next)
         |SELECT coalesce(p.col_name, n.col_name) AS col_name,
         |  CASE WHEN p.col_name IS NULL THEN 'added'
         |       WHEN n.col_name IS NULL THEN 'removed' ELSE 'kept' END AS status,
         |  p.n_rows AS rows_prev, n.n_rows AS rows_next,
         |  p.n_nulls AS nulls_prev, n.n_nulls AS nulls_next,
         |  p.n_distinct AS distinct_prev, n.n_distinct AS distinct_next,
         |  p.min_val AS min_prev, n.min_val AS min_next,
         |  p.max_val AS max_prev, n.max_val AS max_next,
         |  CASE WHEN p.col_name IS NULL OR n.col_name IS NULL THEN NULL
         |       WHEN p.min_val <> n.min_val OR p.max_val <> n.max_val
         |         OR p.n_distinct <> n.n_distinct THEN 1 ELSE 0 END AS value_drift
         |FROM p FULL OUTER JOIN n ON p.col_name = n.col_name
         |ORDER BY col_name""".stripMargin
    },
    // equi-depth: NTILE over the unique (price, orderkey, linenumber)
    // order — standard ceil-then-floor bucket sizing in both engines
    "agg_equidepth_hist" ->
      """SELECT l_returnflag, bucket, count(*) AS n,
        |  min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
        |FROM (SELECT l_returnflag, l_extendedprice,
        |  CAST(ntile(8) OVER (PARTITION BY l_returnflag
        |    ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS BIGINT) AS bucket
        |  FROM lineitem)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // stored-histogram quantile gates share one oracle: counter addition
    // is exact, so the appended+compacted artifact answers identically
    "agg_hist_quantiles_indexed" -> histQuantilesOracleSql,
    "agg_hist_quantiles_incr" -> histQuantilesOracleSql,
    // sketch quantiles: the Spark side emits |approx − exact| <= eps as
    // 0/1 columns; the oracle asserts the contract holds (literal 1s) plus
    // the exact group counts — deterministic hash pass/fail without
    // comparing engine-specific sketch internals (VERDICT r10 item 8)
    "agg_approx_quantiles" ->
      """SELECT l_returnflag, 1 AS ok25, 1 AS ok50, 1 AS ok75,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "window_navigation" ->
      """SELECT user_id, event_id,
        |  lag(value, 1) OVER w AS prev_value,
        |  lead(value, 1) OVER w AS next_value,
        |  CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS BIGINT) AS value_rank,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,
  )
}
