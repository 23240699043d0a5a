package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.CrossHash
import graft.sources.StoredIndex
import graft.sources.StoredIndex.{Buckets, Family, Part}

/** Deduplication operators for training-data curation at 100 TB
  * (north-star extensions — SURVEY §2c). The reference has no dedup at all;
  * a user would have to hand-roll it as a map/reduce job (emit
  * `(content_key, doc)`, reduce = keep-first), which is exactly the plan
  * shape [[exactDedup]] declares — Spark then gives partial aggregation,
  * spilling, and AQE skew handling for free.
  *
  * Scale notes, per operator:
  *  - exact: one hash-shuffle on the content fingerprint (map-side partial
  *    `min` collapses per-partition duplicates before the exchange).
  *  - MinHash/LSH: explode-shingle → per-doc signature (one shuffle on
  *    doc_id), band explode → self-join on (band_idx, band_hash) — the join
  *    keys are uniformly-distributed hashes, so no skew salting needed;
  *    candidate verification touches only colliding pairs, never the n²
  *    cross product.
  *  - SimHash: pure per-doc aggregation (no pairwise stage here); pair
  *    mining joins on band prefixes of the fingerprint (see
  *    [[simHashPairs]]).
  *  - n-gram Jaccard: inverted-index join on shingles — worst case is a
  *    hot shingle shared by everything, so [[ngramJaccardPairs]] drops
  *    shingles with document-frequency above `maxDf` BY DEFAULT (same
  *    trick as stop-word removal); `None` opts into the exact mode.
  *
  * All hashes are [[CrossHash]] md5-derived so the whole pipeline —
  * signatures, bands, candidate pairs — is bit-reproducible in DuckDB for
  * the oracle gate.
  *
  * Materialization: every intermediate has one owner. A table only the
  * operator's own actions read is persisted and released before it
  * returns. A table the returned plan reads more than once (signatures,
  * shingles, span hashes feeding several branches) is a lazy local
  * checkpoint, whose blocks Spark's ContextCleaner reclaims once that plan
  * is unreachable. A table the returned plan reads once stays lazy. No
  * operator leaves a session-cache entry behind, so a caller has nothing
  * to release.
  */
object Dedup {

  /** Minimal open-addressing long→long hash map backing the driver-tier
    * union-find in [[nearDupComponents]]: two primitive arrays with linear
    * probing and a power-of-two grow at 60% load — 16 B/slot, so ~32 B per
    * resident entry vs ~100 B for a boxed `mutable.HashMap[Long, Long]`
    * entry. That factor is what keeps the 4M-edge driver tier inside a
    * broadcast-join-sized memory budget (~250 MB at the 8M-endpoint worst
    * case). doc_ids are non-negative, so `Long.MinValue` is a free empty
    * sentinel; keys are finalized-hash mixed (byteswap64) before probing
    * so sequential ids don't cluster. */
  private[graft] final class LongLongMap(initialCap: Int = 1 << 20) {
    private final val Empty = Long.MinValue
    private var cap = { var c = 16; while (c < initialCap) c <<= 1; c }
    private var keys = Array.fill(cap)(Empty)
    private var vals = new Array[Long](cap)
    private var n = 0
    def size: Int = n
    private def slot(k: Long, ks: Array[Long]): Int = {
      val mask = ks.length - 1
      var i = (scala.util.hashing.byteswap64(k) & mask).toInt
      while (ks(i) != Empty && ks(i) != k) i = (i + 1) & mask
      i
    }
    def getOrElse(k: Long, dflt: Long): Long = {
      val i = slot(k, keys)
      if (keys(i) == Empty) dflt else vals(i)
    }
    def put(k: Long, v: Long): Unit = {
      val i = slot(k, keys)
      if (keys(i) == Empty) {
        keys(i) = k; vals(i) = v; n += 1
        if (n.toLong * 5 >= cap.toLong * 3) grow()
      } else vals(i) = v
    }
    private def grow(): Unit = {
      val nk = Array.fill(cap << 1)(Empty)
      val nv = new Array[Long](cap << 1)
      var i = 0
      while (i < cap) {
        if (keys(i) != Empty) {
          val j = slot(keys(i), nk); nk(j) = keys(i); nv(j) = vals(i)
        }
        i += 1
      }
      cap <<= 1; keys = nk; vals = nv
    }
    def foreachKey(f: Long => Unit): Unit = {
      var i = 0
      while (i < keys.length) { if (keys(i) != Empty) f(keys(i)); i += 1 }
    }
  }

  /** Word n-gram shingles (lowercased, whitespace-tokenized) as one row
    * per distinct (doc_id, shingle). Shorter-than-n documents contribute
    * their single partial shingle, so no document vanishes.
    *
    * Plan shape matters here: the token array is materialized as a column
    * BEFORE the position explode, so the regex split runs once per
    * document. Slicing inside a `transform` lambda instead would inline
    * the split into the lambda body (CollapseProject) and re-tokenize the
    * document once per shingle position — O(tokens²), measured 7x slower
    * at sf0.1. */
  def shingles(docs: DataFrame, n: Int = ShingleN): DataFrame =
    docs.select(col("doc_id"), SharedCorpus.wsOf(docs).as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), greatest(size(col("ws")) - (n - 1), lit(1)))).as("i"))
      .select(col("doc_id"),
        array_join(slice(col("ws"), col("i"), lit(n)), " ").as("shingle"))
      .distinct()

  /** Exact dedup: keep the lowest doc_id per normalized-content
    * fingerprint. The corpus has no byte-identical texts, so the key is the
    * sorted distinct-token set — "same vocabulary" duplicates — which
    * exercises real collision groups (an operator that finds none would be
    * vacuous).
    * At scale this is one shuffle on a 60-bit key as a plain hash
    * aggregation: `min(doc_id)` partial-aggregates map-side, so each
    * partition sends one row per local key and nothing is ever sorted
    * (the window-row_number form this replaced forced a per-key sort). */
  def exactDedup(docs: DataFrame): DataFrame = {
    val key = CrossHash.h60(
      array_join(array_sort(array_distinct(SharedCorpus.wsOf(docs))), " "))
    docs.select(col("doc_id"), key.as("dup_key"))
      .groupBy(col("dup_key"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("dup_key"))
  }
  // NOTE: this file's pair/stat miners have no final presentational
  // `orderBy`. The driver's correctness gate sorts rows before hashing
  // (mapreduce_wordcount passes with non-ORDER-BY row order), so a sort
  // would only add a range exchange plus
  // a bound-sampling pass that re-executes the final stage (guide §2.4) —
  // and at 100 TB a global sort of a corpus-sized result is a full extra
  // shuffle no downstream consumer of these tables needs.

  val NumHashes = 16
  val BandRows  = 2 // 8 bands x 2 rows: P(candidate) = 1-(1-j^2)^8 — >99.9% at j>=0.8
  def NumBands: Int = NumHashes / BandRows
  /** Tokens per shingle of the MinHash signatures and n-gram miners. */
  val ShingleN = 3
  /** Signature agreement a MinHash candidate pair must reach. */
  val MinSigFrac = 0.5
  /** Largest edge list the component solver resolves on the driver. */
  val MaxDriverEdges = 4_000_000L

  /** Per-document MinHash signature: NumHashes independent min-hashes over
    * the shingle set. One explode + one hash-aggregation; each `min` is
    * partially aggregated map-side, so the shuffle carries one row per
    * (doc, 16 longs) regardless of document length.
    *
    * Hash family: one md5 digest per seed *group* yields four 32-bit
    * components (hex chunks at offsets 0/8/16/24) — 4 digests per shingle
    * instead of 16, which roughly halved this operator's bench time. Each
    * chunk is an independent uniform 32-bit value, and the scheme has an
    * exact DuckDB mirror (substring offsets into the same md5 hex). */
  def minHashSignatures(docs: DataFrame): DataFrame = {
    val withDigests = shingles(docs).select(
      col("doc_id") +: (0 until NumHashes / 4).map(g =>
        md5(concat(lit(s"g$g:"), col("shingle"))).as(s"d$g")): _*)
    withDigests.groupBy("doc_id").agg(
      minChunk(0).as("h0"),
      (1 until NumHashes).map(i => minChunk(i).as(s"h$i")): _*)
  }

  /** Signature component i = 32-bit chunk i%4 of digest group i/4. */
  private def minChunk(i: Int): Column =
    min(conv(substring(col(s"d${i / 4}"), (i % 4) * 8 + 1, 8), 16, 10).cast("long"))

  /** DuckDB mirror of component i's hash expression (oracle authoring). */
  def minHashChunkSql(i: Int): String =
    s"CAST(('0x' || substring(md5('g${i / 4}:' || shingle), ${(i % 4) * 8 + 1}, 8)) AS BIGINT)"

  /** One row per (doc, band): md5 hash of each [[BandRows]]-component
    * signature band — the LSH bucketing key. Shared by the pair miner and
    * the streaming admission twin ([[nearDupAdmit]]). */
  def bandedMinHash(docs: DataFrame): DataFrame =
    bandedFromSignatures(minHashSignatures(docs))

  private def bandedFromSignatures(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until NumBands).map { b =>
      val parts = (0 until BandRows).map(r => col(s"h${b * BandRows + r}").cast("string"))
      md5(concat_ws(",", parts: _*)).as(s"band$b")
    }
    sigs.select(col("doc_id") +: bandCols: _*)
      .select(
        col("doc_id"),
        posexplode(array((0 until NumBands).map(b => col(s"band$b")): _*))
          .as(Seq("band_idx", "band_hash")))
  }

  /** MinHash/LSH near-duplicate pairs: band the signatures, bucket-join on
    * (band index, band hash), verify candidates by signature agreement.
    * `minSigFrac` ≈ estimated Jaccard threshold (E[matching components] =
    * J * NumHashes). Only hash-colliding pairs are ever materialized.
    *
    * Hot-bucket audit: a duplicate-saturated band
    * bucket makes this join's OUTPUT quadratic in the bucket size — that
    * is semantic, not a plan defect (every pair in a saturated bucket IS
    * a near-duplicate pair this miner exists to report; the paired
    * `nearDupComponents`/survivor path is the consumer that collapses
    * them). What must not happen is one quadratic STRAGGLER TASK: this is
    * a plain inner equi-join on uniform md5 band hashes, exactly the
    * shape AQE's `OptimizeSkewedJoin` (on in every [[graft.GraftSession]]
    * entry point) splits at runtime — a skewed shuffle partition is cut
    * into map-range chunks with the matching partition replicated, so the
    * hot bucket's enumeration spreads across tasks. Contrast
    * [[graft.ops.Similarity.semanticDedupIndexed]], whose cosine-scored
    * cell join gets an explicit sub-shard guard because its per-pair work
    * (float dot products) is orders heavier than this join's hash
    * equality. */
  def minHashPairs(docs: DataFrame, minSigFrac: Double = MinSigFrac): DataFrame = {
    // The signature table is tiny (one 16-long row per doc) but feeds three
    // plan branches (banding + both verification sides); without a
    // checkpoint Spark recomputes the shingle explode + md5 aggregation per
    // branch. At production scale this is the "checkpoint signatures before
    // pair mining" step.
    val sigs = minHashSignatures(docs).localCheckpoint(eager = false)
    val bandedLong = bandedFromSignatures(sigs)
    val candidates = bandedLong.as("a")
      .join(bandedLong.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    scoreCandidates(candidates, sigs, sigs, minSigFrac)
  }

  /** Shared verification tail of the MinHash pair miners: join each side's
    * signature table onto the candidate pairs and keep those whose
    * component-agreement estimate clears `minSigFrac`. One scoring rule
    * for the intra- and cross-corpus miners, so they cannot drift. */
  private def scoreCandidates(candidates: DataFrame, sigsA: DataFrame,
      sigsB: DataFrame, minSigFrac: Double): DataFrame = {
    val sa = sigsA.toDF(sigsA.columns.toIndexedSeq.map(c => if (c == "doc_id") "doc_a" else s"a_$c"): _*)
    val sb = sigsB.toDF(sigsB.columns.toIndexedSeq.map(c => if (c == "doc_id") "doc_b" else s"b_$c"): _*)
    val matches = (0 until NumHashes)
      .map(i => when(col(s"a_h$i") === col(s"b_h$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    candidates.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (matches.cast("double") / NumHashes).as("sig_sim"))
      .filter(col("sig_sim") >= minSigFrac)
  }

  /** Cross-corpus MinHash fuzzy join: near-duplicate pairs BETWEEN two
    * datasets (new crawl vs existing corpus, train set vs benchmark
    * paraphrases) — the cross-dataset twin of [[minHashPairs]]. Both sides
    * are banded independently; candidates are band-bucket collisions
    * across the corpora (no intra-corpus pairs, no id-order constraint —
    * the id spaces are unrelated); verification is the same
    * signature-agreement estimate.
    *
    * Scale: identical to [[minHashPairs]] — the join is on uniform band
    * hashes, only cross-corpus collisions materialize, and each side's
    * signature table is one 16-long row per document. When one side is a
    * small benchmark set its banded table broadcasts and the big side
    * never shuffles at all. */
  def crossCorpusNearDups(a: DataFrame, b: DataFrame): DataFrame = {
    val sa = minHashSignatures(a).localCheckpoint(eager = false)
    val sb = minHashSignatures(b).localCheckpoint(eager = false)
    val candidates = bandedFromSignatures(sa).as("x")
      .join(bandedFromSignatures(sb).as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    scoreCandidates(candidates, sa, sb, MinSigFrac)
  }

  /** Build-once half of the MinHash build/query split (the near-dup twin
    * of [[graft.ops.Similarity.buildLshIndex]] /
    * [[graft.ops.TextAnalysis.buildBm25Index]]): the accumulated corpus's
    * banded rows stored bucketed + sorted on `(band_idx, band_hash)` — the
    * probe join key — plus a `<table>_sigs` side table (one 16-long
    * signature row per doc, bucketed on `doc_id`) for candidate
    * verification. At 100 TB the shingle explode + signature aggregation
    * is a corpus-scale job you run once per corpus, not once per new
    * crawl; the stored layout is pre-hashed on the band key, so a new
    * batch's probe shuffles ONLY the batch side (or broadcasts it) and an
    * index⋈index self-mining join plans with zero exchanges. */
  def buildBandIndex(docs: DataFrame, table: String, numBuckets: Int = Buckets): Unit =
    withSignatureRows(minHashSignatures(docs))(
      StoredIndex.build(bandIndex(numBuckets), table, docs))

  /** The band index as a [[StoredIndex]] family: band rows bucketed on the
    * probe key, one signature row per doc in `_sigs` (the id table). */
  private def bandIndex(numBuckets: Int = Buckets) = Family(
    n => s"kind=minhash_bands,buckets=$n", "doc_id", "_sigs",
    Seq(Part("", Seq("band_idx", "band_hash"), numBuckets),
      Part("_sigs", Seq("doc_id"), numBuckets)),
    bootstrap = true)

  /** Hand `write` the band-index rows of signatures `sigs` by part; `sigs`
    * feeds both parts, so it is held for the duration of the write. */
  private def withSignatureRows(sigs0: DataFrame)(write: (String => DataFrame) => Unit): Unit = {
    val sigs = sigs0.persist()
    try write { case "" => bandedFromSignatures(sigs); case "_sigs" => sigs }
    finally sigs.unpersist()
  }

  /** Incremental-ingest half: the NEW batch's band + signature rows
    * appended into the stored layouts. Signatures are per-document
    * independent (no corpus-global state anywhere in the banding), so the
    * existing corpus is neither read nor rewritten — the daily-crawl cost
    * is one signature pass over the batch plus two bucketed appends, and a
    * two-batch index answers bit-identically to a one-shot build of the
    * union (gated under the same oracle as [[nearDupPairsIndexed]]).
    * Batches must be doc-disjoint, same contract as the ANN/BM25 appends. */
  def appendToBandIndex(newDocs: DataFrame, table: String): Unit =
    appendSignaturesToBandIndex(minHashSignatures(newDocs), table,
      graft.sources.Formats.corpusStamp(newDocs, "doc_id"))

  /** [[appendToBandIndex]] for a batch whose [[minHashSignatures]] and
    * corpus stamp the caller already holds — e.g. the signatures its
    * [[probeBandIndex]] ran with — so nothing is re-shingled or re-counted.
    * `stamp` is taken after the data steps, where [[StoredIndex.append]]
    * takes it. */
  def appendSignaturesToBandIndex(sigs: DataFrame, table: String,
      stamp: => (Long, Long)): Unit =
    withSignatureRows(sigs)(
      StoredIndex.appendStamped(bandIndex(), table, sigs.sparkSession, stamp))

  /** Delete propagation — the FORGET half of the band-index lifecycle
    * (build → append xN → purge/compact → probe): every band and
    * signature row of `deleteIds`' documents is physically removed
    * through [[graft.sources.Formats.purgeBucketed]]'s crash-safe
    * rewrite, and the manifest's corpus stamp folds the deleted ids OUT —
    * xor is self-inverse, so `stamp(corpus \ D) = stamp(corpus) XOR
    * stamp(D)` with no corpus reread (the exact mirror of the append-side
    * fold). After a purge, `isStaleFor(filtered corpus)` passes and the
    * index answers bit-identically to one REBUILT from the filtered
    * corpus — table contents AND manifest (PurgeSpec proves both).
    * Stamp, write order and crash contract: [[graft.sources.StoredIndex]]. */
  def purgeFromBandIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      deleteIds: DataFrame): Unit =
    StoredIndex.purge(spark, bandIndex(), table, deleteIds)

  /** The candidate join of [[nearDupPairsIndexed]], exposed pre-scoring so
    * the spec can assert its plan: the index side reads the STORED banded
    * table with no shuffle and no signature recompute. */
  private[graft] def indexedCandidateJoin(spark: org.apache.spark.sql.SparkSession,
      table: String, newBanded: DataFrame): DataFrame =
    spark.table(table).as("x")
      .join(newBanded.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

  /** Query-many half: [[crossCorpusNearDups]] semantics (and the same
    * oracle) with the accumulated-corpus side read from a stored
    * [[buildBandIndex]] table — `doc_a` from the index, `doc_b` from the
    * new batch. Only the NEW batch is shingled and signed; the corpus's
    * bands and signatures are read, not recomputed — so the per-crawl cost
    * is one pass over the batch plus the band-collision join, never a
    * corpus re-band ([[crossCorpusNearDups]]'s cost when called directly).
    * Candidate verification joins the (collision-sized) pair list against
    * the stored `_sigs` table on its bucketed key. */
  def nearDupPairsIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
      newBatch: DataFrame): DataFrame =
    probeBandIndex(spark, table, minHashSignatures(newBatch).localCheckpoint(eager = false))

  /** [[nearDupPairsIndexed]] for a batch already signed: `sigs` is the
    * batch's [[minHashSignatures]] table. It feeds the banding and the
    * verification side, so pass it materialized (a lazy local checkpoint)
    * when its plan is not a cheap read. */
  def probeBandIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      sigs: DataFrame): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, table)
    val candidates = indexedCandidateJoin(spark, table, bandedFromSignatures(sigs))
    scoreCandidates(candidates, spark.table(table + "_sigs"), sigs, MinSigFrac)
  }

  /** Per-document 32-bit SimHash over whitespace tokens (with
    * multiplicity): bit j of the fingerprint is the sign of the sum of
    * ±1 votes from each token's hash bit j. Pure two-level aggregation —
    * no pairwise work — so it is a constant-width shuffle per document. */
  def simHash(docs: DataFrame): DataFrame = {
    val tokens = docs.select(
      col("doc_id"),
      explode(SharedCorpus.wsOf(docs)).as("tok"))
      .withColumn("h", CrossHash.h32(col("tok")))
    val votes = tokens.groupBy("doc_id").agg(
      sum(expr(s"CASE WHEN (h >> 0) & 1 = 1 THEN 1 ELSE -1 END")).as("s0"),
      (1 until 32).map(j =>
        sum(expr(s"CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END")).as(s"s$j")): _*)
    votes.select(
      col("doc_id"),
      (0 until 32)
        .map(j => when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L))
        .reduce(_ + _).as("simhash"))
  }

  /** Default Hamming radius for [[simHashPairs]]: any pair within distance
    * 3 < 4 bands must agree on at least one byte-band (pigeonhole), so the
    * band join is lossless at this radius. */
  val DefaultMaxHamming = 3

  /** SimHash near-duplicate pairs: candidates share one of 4 byte-bands of
    * the fingerprint, then exact bit_count verification. The band join
    * keeps this off the n² cross product at scale. */
  def simHashPairs(docs: DataFrame, maxHamming: Int = DefaultMaxHamming): DataFrame = {
    // one 2-long row per doc; feeds 3 branches
    val sh = simHash(docs).localCheckpoint(eager = false)
    val banded = sh.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 8).bitwiseAND(0xFF).cast("long")): _*))
        .as(Seq("band_idx", "band_val")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Hamming-space top-k retrieval over the SimHash codes — "find the k
    * nearest near-duplicates of each query document", the serving form of
    * the pair miner (a crawler checking an incoming page against the
    * corpus, a reviewer pulling the closest matches of a flagged doc).
    * Queries are the `queryPred` subset of the corpus; for each, the
    * candidates sharing at least one of the 4 fingerprint byte-bands are
    * ranked by exact `bit_count` Hamming distance (ties by neighbor id)
    * and the top `k` within [[DefaultMaxHamming]] are kept.
    *
    * At the default radius 3 < 4 bands the band join is LOSSLESS
    * (pigeonhole — see [[DefaultMaxHamming]]), so the result is exactly
    * the brute-force top-k over the Hamming ball; the oracle exploits
    * that: it scans queries × corpus exhaustively while this plan only
    * touches band collisions. Scale shape: same banded join as
    * [[simHashPairs]] with the query side pre-filtered — candidate volume
    * scales with the query count and band collision rate, never the
    * corpus square; the per-query top-k is one window over the (small)
    * verified-candidate set. */
  def simHashTopK(docs: DataFrame, queryPred: Column, k: Int = 5): DataFrame = {
    // feeds the query and candidate sides
    val sh = simHash(docs).localCheckpoint(eager = false)
    val banded = sh.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 8).bitwiseAND(0xFF).cast("long")): _*))
        .as(Seq("band_idx", "band_val")))
    val queries = banded.filter(queryPred)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("hamming"), col("neighbor_id"))
    queries.as("q")
      .join(banded.as("c"),
        col("q.band_idx") === col("c.band_idx") &&
          col("q.band_val") === col("c.band_val") &&
          col("q.doc_id") =!= col("c.doc_id"))
      .select(col("q.doc_id").as("query_id"), col("c.doc_id").as("neighbor_id"),
        bit_count(col("q.simhash").bitwiseXOR(col("c.simhash"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= DefaultMaxHamming)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** Connected components of the near-duplicate pair graph: one row per
    * document, `label` = the component's lowest doc_id (singletons label
    * themselves). This is the shared resolution step under every survivor
    * policy — [[nearDupSurvivors]] keeps the label itself,
    * [[nearDupSurvivorsBy]] keeps the best-scored member.
    *
    * Hybrid by edge-list size — the pair list is orders of magnitude
    * smaller than the corpus (it is the LSH collisions, not the documents):
    *  - at or below `maxDriverEdges` ([[MaxDriverEdges]] by default),
    *    union-find on the driver and a
    *    broadcast label join. One pass over the edges, no iteration;
    *    edges stream to the driver one partition at a time (never the whole
    *    list at once), so resident driver state is the union-find map — a
    *    primitive open-addressing [[LongLongMap]] (two long arrays,
    *    16 B/slot at ≤60% load), ≲250 MB at the 4M-edge default's 8M-
    *    endpoint worst case — the same small-side-to-driver contract as a
    *    broadcast join (a boxed mutable.HashMap costs ~100 B per entry).
    *  - above it, distributed min-label propagation with pointer jumping
    *    (O(log diameter) rounds, each one hash-shuffle join) — scales with
    *    the edge list, never the corpus square.
    * Both paths produce identical labels (component minimum); DedupSpec
    * runs the distributed path against union-find ground truth.
    *
    * The returned labels are a lazy local checkpoint (reclaimed with the
    * plan that reads them); every internal working table is released
    * before the call returns, so the caller has nothing to release. */
  def nearDupComponents(docs: DataFrame,
      maxDriverEdges: Long = MaxDriverEdges): DataFrame =
    componentsFromEdges(docs.select(col("doc_id")),
      minHashPairs(docs).select("doc_a", "doc_b"), maxDriverEdges)

  /** The graph-resolution core of [[nearDupComponents]], over an EXPLICIT
    * vertex + edge list (extracted so [[mergeComponentsIncr]] can solve
    * its batch-sized delta graph through the identical hybrid machinery):
    * every vertex gets the minimum doc_id reachable through `pairs`
    * (vertices with no edge label themselves). Size-gated exactly as
    * documented on [[nearDupComponents]] — driver union-find at or below
    * `maxDriverEdges`, distributed min-label propagation with pointer
    * jumping above it. */
  private[graft] def componentsFromEdges(vertices: DataFrame, pairs0: DataFrame,
      maxDriverEdges: Long = MaxDriverEdges): DataFrame = {
    // the pair list is read by the size gate and by the solve below; held
    // for this call only
    val pairs = pairs0.persist()
    try {
      if (pairs.count() <= maxDriverEdges) driverComponents(vertices, pairs)
      else distributedComponents(vertices, pairs)
    } finally pairs.unpersist()
  }

  /** Driver tier of [[componentsFromEdges]]: union-find over the streamed
    * edge list, labels joined back by broadcast. */
  private def driverComponents(vertices: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    // union-find with path halving over the collected edge list
    val parent = new LongLongMap()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElse(x, x)
      while (p != x) {
        val gp = parent.getOrElse(p, p)
        parent.put(x, gp) // path halving
        x = gp
        p = parent.getOrElse(x, x)
      }
      x
    }
    // toLocalIterator over a typed Dataset: one partition of primitive
    // pairs resident at a time (the pair list is already persisted, so no
    // recompute per partition), instead of collect()'s full boxed-Row
    // array. Coalesced first: toLocalIterator runs ONE
    // sequential driver job PER PARTITION, and the pair list arrives in
    // shuffle.partitions pieces — 32 tiny round-trips (~1 s of pure
    // scheduling) for an edge list that is orders of magnitude under the
    // corpus. 4 partitions keeps the resident slice bounded at
    // MaxDriverEdges/4 rows while costing 4 round-trips; union-find's
    // min-root-wins outcome is edge-order-independent, so the result is
    // unchanged.
    import scala.jdk.CollectionConverters._
    pairs.as[(Long, Long)].coalesce(4).toLocalIterator().asScala.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { // smaller root wins, so the root IS the component min
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    // snapshot keys first: find() path-halves (mutates values) mid-scan;
    // only edge endpoints are in the map — everything else labels itself
    val endpointKeys = scala.collection.mutable.ArrayBuffer[Long]()
    parent.foreachKey(endpointKeys += _)
    val endpointLabels = endpointKeys.map(d => (d, find(d))).toSeq
    vertices
      .join(broadcast(endpointLabels.toDF("doc_id", "lbl")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("label"))
      .localCheckpoint(eager = false)
  }

  /** Distributed tier of [[componentsFromEdges]]: min-label propagation
    * with pointer jumping. Each round's labels are a lazy local checkpoint
    * that the round's convergence aggregate materializes, so the returned
    * labels no longer read the edge list. */
  private def distributedComponents(vertices: DataFrame, pairs: DataFrame): DataFrame = {
    // the symmetric edge list is read by every round's own action
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    try {
      var labels = vertices.select(col("doc_id"), col("doc_id").as("label"))
        .localCheckpoint(eager = false)
      // Convergence check: labels only ever DECREASE under min-propagation,
      // so the label-sum is strictly monotone and "sum unchanged" ⟺ "no
      // label changed" — one aggregate per round instead of a full
      // old-vs-new join (the aggregate also materializes the round's
      // checkpoint, which cuts its lineage to the previous round).
      def labelSum(df: DataFrame): java.math.BigDecimal =
        df.agg(coalesce(sum(col("label").cast("decimal(38,0)")), // empty corpus: sum is null
          lit(0).cast("decimal(38,0)"))).collect()(0).getDecimal(0)
      var prevSum = labelSum(labels)
      var iterations = 0
      var converged = false
      while (!converged && iterations < 20) {
        val viaNeighbor = edges.join(labels, edges("dst") === labels("doc_id"))
          .select(col("src").as("doc_id"), col("label"))
        // pointer jumping: also adopt the label OF my current label — halves
        // the effective component diameter every round, so convergence takes
        // O(log diameter) joins instead of O(diameter)
        val viaPointer = labels.as("l1")
          .join(labels.as("l2"), col("l1.label") === col("l2.doc_id"))
          .select(col("l1.doc_id").as("doc_id"), col("l2.label").as("label"))
        labels = labels.select("doc_id", "label").union(viaNeighbor).union(viaPointer)
          .groupBy("doc_id").agg(min("label").as("label")).localCheckpoint(eager = false)
        val nextSum = labelSum(labels)
        converged = nextSum.compareTo(prevSum) == 0
        prevSum = nextSum
        iterations += 1
      }
      labels
    } finally edges.unpersist()
  }

  /** Build-once half of the INCREMENTAL clustering lifecycle: the
    * corpus's near-dup component labels ([[nearDupComponents]]) persisted
    * as a `(doc_id, label)` table bucketed on `doc_id`, with a build
    * manifest. Pairs with [[buildBandIndex]] over the SAME corpus —
    * [[mergeComponentsIncr]] consumes both and keeps both in sync. */
  def buildComponentsTable(docs: DataFrame, table: String): Unit =
    StoredIndex.build(componentsTable, table, docs) {
      case "_edges" => minHashPairs(docs).select("doc_a", "doc_b")
      case "" => componentsFromEdges(docs.select(col("doc_id")),
        docs.sparkSession.table(table + "_edges"))
    }

  /** The component table as a [[StoredIndex]] family. The edge list is
    * stored alongside the labels: labels alone cannot answer a DELETE
    * (removing a bridge vertex SPLITS its component — decremental
    * connectivity needs the edges, [[purgeFromComponentsTable]]), and it
    * is LSH-collision-sized, orders of magnitude under the corpus. Edges
    * are written first, so the build solves the labels from the stored
    * edge list instead of mining the pairs twice. */
  private val componentsTable = Family(
    n => s"kind=components,buckets=$n", "doc_id", "",
    Seq(Part("_edges", Seq("doc_a"), Buckets), Part("", Seq("doc_id"), Buckets)))

  /** Incremental near-dup CLUSTERING — fold a new crawl batch into the
    * stored component assignment without re-clustering the corpus. The
    * expensive work (shingling, signatures, band mining) runs over the
    * BATCH only:
    *
    *  1. cross pairs mined against the stored band index
    *     ([[nearDupPairsIndexed]] — the corpus is read pre-banded, never
    *     re-signed) + intra-batch pairs ([[minHashPairs]] over the batch);
    *  2. every cross edge's stored endpoint is CONTRACTED to its stored
    *     component label (one delta-sized join against the bucketed label
    *     table — exchange-free on the stored side), which is lossless
    *     because a stored label IS its component's minimum: the delta
    *     graph (batch docs + touched labels, batch-collision-sized) has
    *     exactly the union graph's connectivity, so
    *     [[componentsFromEdges]] on it yields the union's true minima;
    *  3. ONE crash-safe ping-pong rewrite of the label table applies the
    *     (old label → new label) moves — a broadcast-joined relabel, no
    *     re-mining — and appends the batch's rows; the band index absorbs
    *     the batch ([[appendToBandIndex]]) and both manifests fold the
    *     batch stamp, so the pair stays in sync for the next day.
    *
    * The merged label table is BIT-IDENTICAL to — and the stored edge
    * SET equal to — [[buildComponentsTable]] over the union corpus
    * (PurgeSpec's incremental twin in DedupSpec proves label + edge-set
    * + manifest equality): the incremental edge set — build-time
    * intra-corpus pairs resolved into labels, index-mined cross pairs,
    * intra-batch pairs — is exactly the one-shot miner's pair set, and
    * component minima are invariant under contraction. Requires both
    * stored artifacts to describe the same corpus generation (manifest
    * stamps compared, loud failure). Batches must be doc-disjoint from
    * the corpus — the standard append contract. At 100 TB the per-day
    * cost is one signature pass over the batch, the collision joins, and
    * a rewrite of the 16-byte-per-doc label table; the text corpus is
    * never re-read. */
  def mergeComponentsIncr(spark: org.apache.spark.sql.SparkSession,
      compTable: String, bandTable: String, newBatch: DataFrame): Unit = {
    graft.sources.Formats.requireBuilt(spark, compTable)
    graft.sources.Formats.requireBuilt(spark, bandTable)
    val cMeta = graft.sources.Formats.readBuildMeta(spark, compTable).get
    val bMeta = graft.sources.Formats.readBuildMeta(spark, bandTable).get
    require((cMeta._1, cMeta._2) == ((bMeta._1, bMeta._2)),
      s"component table '$compTable' and band index '$bandTable' describe " +
        "different corpus generations — rebuild or re-sync before merging")
    val batch = newBatch
    // delta edges: stored×batch collisions via the index, plus intra-batch;
    // both are read by the edge append and by the relabel below
    val cross = nearDupPairsIndexed(spark, bandTable, batch)
      .select("doc_a", "doc_b").persist()
    val intra = minHashPairs(batch).select("doc_a", "doc_b").persist()
    try {
      // the REAL (uncontracted) delta edges are appended into the stored
      // edge list first — [[purgeFromComponentsTable]]'s decremental solve
      // needs the true graph, and the append also materializes the two
      // persisted pair caches the contraction below reuses. Cross edges
      // arrive (stored, batch)-oriented; normalize to the one-shot miner's
      // doc_a < doc_b orientation so the stored edge SET —
      // not just its symmetric closure — matches a one-shot build's.
      val crossNorm = cross.select(
        least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      graft.sources.Formats.writeBucketedAppend(
        crossNorm.unionByName(intra), compTable + "_edges")
      val stored = spark.table(compTable)
      val crossL = cross.join(stored, cross("doc_a") === stored("doc_id"))
        .select(col("label").as("doc_a"), cross("doc_b")).distinct()
      val edges = crossL.union(intra)
      val verts = batch.select("doc_id")
        .union(crossL.select(col("doc_a").as("doc_id"))).distinct()
      val delta = componentsFromEdges(verts, edges)
      val batchIds = batch.select("doc_id")
      val batchLabels = delta.join(batchIds, "doc_id").select("doc_id", "label")
      val relabel = delta.join(batchIds, Seq("doc_id"), "left_anti")
        .select(col("doc_id").as("old_label"), col("label").as("new_label"))
        .filter(col("old_label") =!= col("new_label"))
      graft.sources.Formats.rewriteBucketed(spark, compTable) { df =>
        df.join(broadcast(relabel), df("label") === relabel("old_label"), "left")
          .select(df("doc_id"),
            coalesce(col("new_label"), df("label")).as("label"))
          .unionByName(batchLabels)
      }
    } finally { cross.unpersist(); intra.unpersist() }
    StoredIndex.fold(spark, componentsTable, compTable,
      graft.sources.Formats.corpusStamp(batch, "doc_id"))
    appendToBandIndex(batch, bandTable)
  }

  /** DECREMENTAL connectivity — delete propagation for the stored
    * clustering (the forget half of the lifecycle, and the reason
    * [[buildComponentsTable]] persists the edge list): removing a vertex
    * can SPLIT its component (the labels alone cannot answer that), so
    * the purge re-solves connectivity — but only for the AFFECTED
    * components:
    *
    *   1. the deleted docs' labels select their components' member rows
    *      (two broadcast joins against the bucketed label table — the
    *      affected set is forget-request-sized times component size,
    *      never the corpus);
    *   2. the stored edges restricted to surviving affected members feed
    *      [[componentsFromEdges]] — a delta-sized solve;
    *   3. ONE crash-safe rewrite drops the deleted rows and applies the
    *      recomputed labels; the edge table drops every edge touching a
    *      deleted doc; the manifest folds the deleted ids out.
    *
    * The purged table is bit-identical to [[buildComponentsTable]] over
    * the filtered corpus (labels, edges, and manifest — DedupSpec):
    * pair mining is pairwise-local (per-doc signatures, pairwise band
    * collisions), so the filtered corpus's edge set IS the stored set
    * minus deleted-incident edges, and unaffected components cannot
    * change. Stamp, write order and crash contract:
    * [[graft.sources.StoredIndex]]. */
  def purgeFromComponentsTable(spark: org.apache.spark.sql.SparkSession,
      table: String, deleteIds: DataFrame): Unit = {
    graft.sources.Formats.requireBuilt(spark, table)
    val ids = deleteIds.select("doc_id").distinct()
    val stored = spark.table(table)
    val affLabels = stored.join(broadcast(ids), "doc_id").select("label").distinct()
    val survivors = stored.join(broadcast(affLabels), Seq("label"))
      .join(broadcast(ids), Seq("doc_id"), "left_anti")
      .select("doc_id")
    val edges = spark.table(table + "_edges")
    val affEdges = edges
      .join(broadcast(survivors.select(col("doc_id").as("doc_a"))), Seq("doc_a"), "left_semi")
      .join(broadcast(survivors.select(col("doc_id").as("doc_b"))), Seq("doc_b"), "left_semi")
      .select("doc_a", "doc_b")
    val delta = componentsFromEdges(survivors, affEdges)
    val relabel = delta.select(col("doc_id"), col("label").as("new_label"))
    StoredIndex.purge(spark, componentsTable, table, ids, rewrite = {
      case "" => _.join(broadcast(ids), Seq("doc_id"), "left_anti")
        .join(broadcast(relabel), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("new_label"), col("label")).as("label"))
      case "_edges" => _
        .join(broadcast(ids.select(col("doc_id").as("doc_a"))), Seq("doc_a"), "left_anti")
        .join(broadcast(ids.select(col("doc_id").as("doc_b"))), Seq("doc_b"), "left_anti")
        .select("doc_a", "doc_b")
    })
  }

  /** Resolve near-duplicate pairs into a deduplicated corpus: connected
    * components, keep each component's LOWEST doc_id (the id-stable
    * policy). One [[nearDupComponents]] pass plus a free filter — the
    * survivor of a min-labeled component is the label itself. */
  def nearDupSurvivors(docs: DataFrame, maxDriverEdges: Long = MaxDriverEdges): DataFrame = {
    nearDupComponents(docs, maxDriverEdges)
      .filter(col("doc_id") === col("label"))
      .select(col("doc_id"))
  }

  /** Quality-aware survivor policy: keep each component's BEST-scored
    * member (ties to the lower doc_id), not its lowest id — what a real
    * curation pipeline wants (drop the near-dups, keep the cleanest copy;
    * compose with [[graft.ops.TextAnalysis.qualityCol]]). Costs one extra
    * score projection and one argmax aggregation over the labels — the
    * max(struct) form partial-aggregates map-side, so the added shuffle
    * carries one row per document, pre-combined per partition. Returns
    * `(doc_id, score)` of the survivors. */
  def nearDupSurvivorsBy(docs: DataFrame, score: Column,
      maxDriverEdges: Long = MaxDriverEdges): DataFrame = {
    docs.select(col("doc_id"), score.cast("double").as("score"))
      .join(nearDupComponents(docs, maxDriverEdges), Seq("doc_id"))
      .groupBy(col("label"))
      .agg(max(struct(col("score"), (-col("doc_id")).as("nid"))).as("best"))
      .select((-col("best.nid")).cast("long").as("doc_id"),
        col("best.score").as("score"))
  }

  /** Streaming-compatible near-dup admission — the GREEDY one-pass twin of
    * [[nearDupSurvivors]]: a document is admitted iff no smaller-id
    * document shares ANY of its LSH bands. Band-taint, first-wins
    * semantics: a dropped document's bands still taint later arrivals,
    * which is exactly what makes the rule one-pass (no component
    * iteration, no retroactive revival) and therefore streamable with one
    * min-owner state row per band
    * ([[graft.streaming.StreamOps.streamNearDupAdmitted]] is that twin,
    * with watermark-TTL state; StreamOpsSpec proves parity). In batch the
    * rule is two band-keyed shuffles, both partial-aggregated map-side:
    * admit d ⟺ d is the minimum owner of every band it carries. */
  def nearDupAdmit(docs: DataFrame): DataFrame = {
    // the banding (shingle explode + 4 md5 digests per shingle + 16-way
    // min-agg) feeds BOTH the owner aggregation and the join probe side;
    // checkpointed so it computes once (at production scale this is the
    // shared "checkpoint the signatures" step)
    val banded = bandedMinHash(docs).localCheckpoint(eager = false)
    val owners = banded.groupBy("band_idx", "band_hash")
      .agg(min(col("doc_id")).as("owner"))
    banded.join(owners, Seq("band_idx", "band_hash"))
      .groupBy("doc_id")
      .agg(max(when(col("owner") < col("doc_id"), 1L).otherwise(0L)).as("tainted"))
      .filter(col("tainted") === 0L)
      .select("doc_id")
  }

  /** Positional n-token span hashes — the shared scan under every
    * span-level operator ([[duplicateSpans]], [[removeDuplicateSpans]],
    * [[contaminationStats]]): one row per (doc, position) with the span's
    * 60-bit hash, the position, and the doc's token count. Spans keep
    * every occurrence (no distinct); shorter-than-n documents contribute
    * their single partial span. */
  private[graft] def positionalSpans(docs: DataFrame, n: Int,
      carry: Seq[String] = Nil): DataFrame = {
    // `carry` passes extra columns (e.g. the event-time `ts` for the
    // streaming decontamination twin) through the explode untouched, so
    // every caller shares ONE span-hash formula — the cross-engine parity
    // contract with the DuckDB oracles lives here and nowhere else
    val cs = carry.map(col)
    docs.select((col("doc_id") +: cs) :+ SharedCorpus.wsOf(docs).as("ws"): _*)
      .select((col("doc_id") +: cs) ++ Seq(col("ws"),
        explode(sequence(lit(1), greatest(size(col("ws")) - (n - 1), lit(1)))).as("i")): _*)
      .select((col("doc_id") +: cs) ++ Seq(col("i"), size(col("ws")).as("nt"),
        CrossHash.h60(array_join(slice(col("ws"), col("i"), lit(n)), " ")).as("sh")): _*)
  }

  /** Exact repeated-span detection — the "exact substring dedup" signal
    * for training-data curation (boilerplate, licenses, templated text):
    * for each document, how many of its positional n-token spans also
    * occur in at least one OTHER document. Unlike [[shingles]] this keeps
    * every occurrence (no distinct): a span repeated 50 times inside one
    * doc counts 50 spans, but only cross-document repetition marks them
    * duplicated.
    *
    * Scale shape: one explode to 60-bit span hashes, one count-distinct
    * per hash (partial-aggregated map-side, so a corpus-wide hot span
    * costs one row per task), a semi-join back, two per-doc counts. The
    * positional span table feeds three branches, so it is a lazy local
    * checkpoint. */
  def duplicateSpans(docs: DataFrame, n: Int = SpanN): DataFrame = {
    val sp = positionalSpans(docs, n).select("doc_id", "sh").localCheckpoint(eager = false)
    val dupHashes = sp.groupBy("sh")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("sh")
    val flagged = sp.join(dupHashes, Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("dup"))
    sp.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
      .join(flagged, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("dup"), lit(0L)).as("n_dup_spans"),
        (coalesce(col("dup"), lit(0L)).cast("double") / col("n_spans")).as("dup_ratio"))
  }

  /** Tokens per span of the span miners and benchmark scanners. */
  val SpanN = 8

  /** Benchmark decontamination — cross-DATASET exact n-gram overlap, the
    * eval-contamination scan every serious training-data pipeline runs
    * (the GPT-3-style "remove training documents sharing a 13-gram with
    * the benchmarks" rule, here at the span family's n): for each TRAINING
    * document, how many of its positional n-token spans also occur
    * anywhere in the BENCHMARK corpus. Unlike [[duplicateSpans]] the
    * reference set is a second dataset, and one benchmark hit taints a
    * span regardless of training-corpus frequency.
    *
    * Scale shape: the benchmark side reduces to its DISTINCT span-hash set
    * (eval suites are tiny next to a 100 TB corpus — typically
    * broadcastable); the training side is the one [[positionalSpans]]
    * scan, a semi-join against the benchmark hashes, and two per-doc
    * counts, all map-side partial-aggregated. */
  def contaminationStats(train: DataFrame, benchmark: DataFrame, n: Int = SpanN): DataFrame =
    contaminationStatsAgainst(train, benchSpanHashes(benchmark, n), n)

  /** The benchmark side of the decontamination scanners: the DISTINCT
    * n-token span hashes of `benchmark` (one column, `sh`). A caller that
    * scans many training batches against one benchmark reduces it once and
    * passes the set to [[contaminationStatsAgainst]]. */
  def benchSpanHashes(benchmark: DataFrame, n: Int = SpanN): DataFrame =
    positionalSpans(benchmark, n).select("sh").distinct()

  /** [[contaminationStats]] against a benchmark already reduced to its
    * span-hash set ([[benchSpanHashes]] with the same `n`). */
  def contaminationStatsAgainst(train: DataFrame, benchHashes: DataFrame,
      n: Int = SpanN): DataFrame = {
    // feeds both the total count and the contaminated count
    val sp = positionalSpans(train, n).select("doc_id", "sh")
      .localCheckpoint(eager = false)
    contaminationTail(sp, sp.join(benchHashes, Seq("sh"), "left_semi"))
  }

  /** Shared per-doc ratio tail of the contamination scanners: count total
    * and tainted spans per document from the full span table and the
    * (however-obtained) tainted subset. One expression for the direct and
    * Bloom-pruned paths so they cannot drift. */
  private def contaminationTail(sp: DataFrame, tainted: DataFrame): DataFrame = {
    val contam = tainted.groupBy("doc_id").agg(count(lit(1)).as("c"))
    sp.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
      .join(contam, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("c"), lit(0L)).as("n_contam_spans"),
        (coalesce(col("c"), lit(0L)).cast("double") / col("n_spans")).as("contam_ratio"))
  }

  /** False-positive rate of [[contaminationStatsBloom]]'s filter: about
    * 1.2 bytes per benchmark hash, and the survivors it lets through die
    * in the exact semi-join, so it sets cost, never the result. */
  private val BloomFpp = 0.01

  /** [[contaminationStats]] with a scan-side Bloom pre-filter — the plan
    * for when the benchmark span set has outgrown the broadcast-join
    * threshold but its BITS still fit in memory (~1.2 bytes/hash at 1%
    * fpp vs 8+ bytes/hash as join rows). The benchmark hashes are folded
    * into a driver-held [[org.apache.spark.util.sketch.BloomFilter]] via
    * the distributed sketch aggregate; the training span scan keeps only
    * `might_contain` hits — a codegen'd bit probe, no shuffle, no join —
    * and ONLY those survivors reach the exact semi-join. False positives
    * are removed there, false negatives cannot occur, so the result is
    * IDENTICAL to the direct path (they share the dedup_contamination
    * oracle); the semi-join's shuffled input shrinks from every span in
    * the corpus to roughly the truly-tainted ones. */
  def contaminationStatsBloom(train: DataFrame, benchmark: DataFrame,
      n: Int = SpanN): DataFrame = {
    // distinct-hash checkpoint (materialized by the count): feeds the
    // count, the sketch aggregate, and the exactness join — a local
    // checkpoint, not a persist, so no session-cache entry outlives the call
    val benchHashes = benchSpanHashes(benchmark, n).localCheckpoint(eager = false)
    val bloom = benchHashes.stat.bloomFilter(
      "sh", math.max(benchHashes.count(), 1L), BloomFpp)
    val sp = positionalSpans(train, n).select("doc_id", "sh")
      .localCheckpoint(eager = false)
    val tainted = graft.functions.BloomMightContain.filter(sp, bloom, col("sh"))
      .join(benchHashes, Seq("sh"), "left_semi")
    contaminationTail(sp, tainted)
  }

  /** The actionable half of [[contaminationStats]]: the training corpus
    * with contaminated documents dropped. `maxRatio` =
    * [[MaxContamRatio]] (default) is the strict rule — any
    * benchmark-overlapping [[SpanN]]-token span disqualifies the
    * document; a small positive ratio tolerates incidental short-phrase
    * collisions. Returns the surviving rows of `train` unchanged. */
  def decontaminate(train: DataFrame, benchmark: DataFrame,
      maxRatio: Double = MaxContamRatio): DataFrame =
    train.join(
      contaminationStats(train, benchmark)
        .filter(col("contam_ratio") <= maxRatio)
        .select("doc_id"),
      Seq("doc_id"), "left_semi")

  /** The largest contaminated-span fraction a document may keep. */
  val MaxContamRatio = 0.0

  /** [[decontaminate]] over the Bloom-pruned scan — the actionable
    * threshold filter for the broadcast-outgrown regime. Result-identical
    * to [[decontaminate]] (the stats are identical), at the Bloom path's
    * scan cost. */
  def decontaminateBloom(train: DataFrame, benchmark: DataFrame): DataFrame =
    train.join(
      contaminationStatsBloom(train, benchmark)
        .filter(col("contam_ratio") <= MaxContamRatio)
        .select("doc_id"),
      Seq("doc_id"), "left_semi")

  /** Span-level dedup REWRITE — the actionable half of the
    * [[duplicateSpans]] curation signal: produce the *cleaned corpus* with
    * cross-document repeated spans dropped, first occurrence kept. This is
    * the analysis-feeds-a-new-corpus pattern of the reference (mapper →
    * reducer → new output corpus, srics96/SDC_Mapreduce
    * `src/worker/worker.cpp:290-303`) applied to substring dedup.
    *
    * Semantics (declarative, engine-order-independent):
    *  - the text is normalized to its lowercased whitespace token stream
    *    (the same stream every span hash in this file is built from);
    *  - a span (positional n-token window) is *duplicated* iff its hash
    *    occurs in >= 2 distinct documents — same rule as
    *    [[duplicateSpans]];
    *  - the globally first occurrence of each duplicated span hash (minimum
    *    `(doc_id, position)`) is the KEPT occurrence;
    *  - every token covered by at least one non-kept occurrence of a
    *    duplicated span is dropped; the cleaned text is the remaining
    *    tokens in original order. Overlap wart, by design: when a kept
    *    occurrence overlaps a dropped one (self-repeating text such as
    *    "a a a a …"), the shared tokens are dropped — coverage-based
    *    removal trades that edge for a fully declarative, one-pass plan
    *    (greedy left-to-right span selection is inherently sequential and
    *    would force per-document iteration).
    *
    * Scale shape: the span-hash explode is the [[duplicateSpans]] scan; the
    * ownership argmin and the drop-position explode touch only the
    * DUPLICATED subset (bounded by n rows per duplicate occurrence, never
    * the corpus); the rewrite itself is a per-document projection — the
    * drop-position set rides a doc_id-keyed join whose right side is one
    * row per affected document. The span table feeds three branches, so it
    * is a lazy local checkpoint. */
  def removeDuplicateSpans(docs: DataFrame, n: Int = SpanN): DataFrame = {
    val base = docs.select(col("doc_id"), SharedCorpus.wsOf(docs).as("ws"))
    val sp = positionalSpans(docs, n).localCheckpoint(eager = false)
    val dupHashes = sp.groupBy("sh")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("sh")
    // min(struct) argmin — partial-aggregated map-side, one row per
    // duplicated hash crosses the wire
    val owner = sp.join(dupHashes, Seq("sh"), "left_semi")
      .groupBy("sh").agg(min(struct(col("doc_id"), col("i"))).as("o"))
    val occ = sp.join(owner, Seq("sh"))
      .filter(col("doc_id") =!= col("o.doc_id") || col("i") =!= col("o.i"))
      .select("doc_id", "i", "nt")
    exciseOccurrences(base, occ, n)
  }

  /** Shared rewrite tail of the span excision operators: given the corpus
    * token arrays and a set of span OCCURRENCES to remove (`doc_id`, start
    * position `i`, token count `nt`), drop every token covered by at least
    * one occurrence and rebuild the kept token stream in original order.
    * One expression for the duplicate-span and contamination rewrites so
    * the coverage semantics (and the oracle contract) cannot drift.
    *
    * Scale shape: the drop-position explode touches only the occurrence
    * rows (bounded by n positions per occurrence, never the corpus); the
    * rebuild is a per-document projection riding a doc_id-keyed join whose
    * right side is one row per affected document. */
  private def exciseOccurrences(base: DataFrame, occ: DataFrame,
      n: Int): DataFrame = {
    val dropPos = occ
      .select(col("doc_id"),
        explode(sequence(col("i"), least(col("i") + lit(n - 1), col("nt")))).as("pos"))
      .groupBy("doc_id").agg(collect_set(col("pos")).as("drop_pos"))
    base.join(dropPos, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
        filter(col("ws"), (_, i) =>
          not(array_contains(coalesce(col("drop_pos"), typedLit(Seq.empty[Int])), i + 1)))
          .as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  /** Span-level decontamination REWRITE — the surgical alternative to
    * [[decontaminate]]'s document drop: excise every training-corpus token
    * covered by a benchmark-overlapping [[SpanN]]-token span and keep the rest of
    * the document. This is what a pipeline runs when whole-document
    * removal is too lossy (one quoted benchmark sentence inside an
    * otherwise-clean long document): the GPT-3 appendix-C alternative of
    * cutting the contaminated window rather than the document.
    *
    * Semantics: a training span is tainted iff its hash occurs ANYWHERE in
    * the benchmark corpus (same rule as [[contaminationStats]] — one hit
    * taints, training-side frequency is irrelevant); ALL tainted
    * occurrences are excised (there is no "kept owner" — unlike
    * [[removeDuplicateSpans]], the benchmark is the reference, not a
    * member of the corpus). Coverage-based removal shares
    * [[exciseOccurrences]]'s declarative one-pass contract.
    *
    * Scale shape: the benchmark side reduces to its distinct span-hash set
    * (broadcastable — eval suites are tiny next to a 100 TB corpus); the
    * training side is one [[positionalSpans]] scan semi-joined against it;
    * the rewrite tail touches only tainted documents. For a
    * benchmark-outgrown regime, compose the Bloom pre-filter exactly as
    * [[contaminationStatsBloom]] does. */
  def exciseContaminatedSpans(train: DataFrame, benchmark: DataFrame): DataFrame = {
    val base = train.select(col("doc_id"), SharedCorpus.wsOf(train).as("ws"))
    val occ = positionalSpans(train, SpanN)
      .join(benchSpanHashes(benchmark), Seq("sh"), "left_semi")
      .select("doc_id", "i", "nt")
    exciseOccurrences(base, occ, SpanN)
  }

  /** n-gram Jaccard near-duplicate pairs via an inverted-index join:
    * |A∩B| from the shingle-share join, |A∪B| from per-doc cardinalities.
    * Shingles with document frequency above `maxDf` are dropped from the
    * whole computation — ON BY DEFAULT, because it is the scale guard: one
    * corpus-wide hot shingle contributes k² candidate pairs, exactly the
    * skew blow-up that kills the inverted-index join at 100 TB (the same
    * trick as stop-word removal). The Jaccard stays exact over the capped
    * shingle space (cardinalities and intersections both capped, so the
    * ratio is self-consistent); DedupSpec proves a ubiquitous shingle
    * generates zero candidates under the cap. Pass `maxDf = None` for the
    * exact-over-full-shingle-sets mode on bounded corpora. */
  val DefaultMaxDf = 1000

  def ngramJaccardPairs(docs: DataFrame, minJaccard: Double = 0.2,
      n: Int = ShingleN, maxDf: Option[Int] = Some(DefaultMaxDf)): DataFrame = {
    val (inter, card) = intersectionAndCards(docs, n, maxDf)
    val ca = card.toDF("doc_a", "card_a")
    val cb = card.toDF("doc_b", "card_b")
    inter.join(ca, "doc_a").join(cb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast("double") / (col("card_a") + col("card_b") - col("i"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** n-gram CONTAINMENT pairs — the ASYMMETRIC overlap the Jaccard miner
    * can't see: `C(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)|`,
    * which is ~1 when A is quoted inside a much larger B even though
    * their Jaccard is tiny (|B| dominates the union). This is the
    * sub-document duplication detector — quotations, syndicated inserts,
    * a README pasted into a bigger page — the standard complement to
    * symmetric near-dup mining in web curation. Emits both directions'
    * containment for pairs where either reaches [[MinContainment]], over
    * [[ShingleN]]-token shingles capped at [[DefaultMaxDf]].
    *
    * Shares [[intersectionAndCards]] (and so the posting-list df-cap skew
    * guard) with the Jaccard miner — the only new math is the two
    * divisions. Cardinalities and intersections are both computed over
    * the capped shingle space, so each ratio stays self-consistent. */
  def ngramContainmentPairs(docs: DataFrame): DataFrame = {
    val (inter, card) = intersectionAndCards(docs, ShingleN, Some(DefaultMaxDf))
    val ca = card.toDF("doc_a", "card_a")
    val cb = card.toDF("doc_b", "card_b")
    inter.join(ca, "doc_a").join(cb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast("double") / col("card_a")).as("cont_a"),
        (col("i").cast("double") / col("card_b")).as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= MinContainment)
  }

  /** The containment [[ngramContainmentPairs]] reports a pair at. */
  val MinContainment = 0.7

  /** The shared inverted-index stage of the n-gram pair miners: distinct
    * per-doc shingle intersections `(doc_a, doc_b, i)` and per-doc
    * cardinalities `(doc_id, card)` — capped or exact per `maxDf`, see
    * [[ngramJaccardPairs]] for the scale rationale of each path. */
  private def intersectionAndCards(docs: DataFrame, n: Int,
      maxDf: Option[Int]): (DataFrame, DataFrame) = {
    maxDf match {
      case Some(cap) =>
        // Capped (scale) path: materialize the inverted index as POSTING
        // LISTS, then emit candidate pairs by exploding each list map-side.
        // No string-keyed self-join at all: the pair work is co-located with
        // its shingle, per-task work is bounded by cap², and the checkpointed
        // index (one row per distinct shingle) feeds both the pair explode
        // and the per-doc cardinalities. Replacing the df-filter self-join
        // with this cut the sf0.1 bench time 3x.
        //
        // Hot shingles are dropped BEFORE any posting list exists: a
        // count-based document-frequency pass (partially aggregated
        // map-side, so a corpus-wide shingle costs one long per task, not
        // its member list) feeds a semi-join filter, and only surviving
        // shingles reach collect_list. Filtering on size(ds) after the
        // collect would build the hot shingle's full multi-million-entry
        // list in a single aggregation buffer first — an OOM/straggler at
        // scale. The collect_list aggregation reuses the
        // semi-join's hash partitioning on shingle, so the safety pass
        // costs one extra exchange of the shingle table.
        // the shingle table feeds both the df pass and the semi-join
        val sh = shingles(docs, n).localCheckpoint(eager = false)
        val keep = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap)
          .select("shingle")
        val lists = sh.join(keep, Seq("shingle"), "left_semi")
          .groupBy("shingle").agg(collect_list(col("doc_id")).as("ds"))
          .localCheckpoint(eager = false)
        val i = lists
          .select(explode(col("ds")).as("doc_a"), col("ds"))
          .select(col("doc_a"), explode(col("ds")).as("doc_b"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
        val c = lists.select(explode(col("ds")).as("doc_id"))
          .groupBy("doc_id").agg(count(lit(1)).as("card"))
        (i, c)
      case None =>
        // Exact mode (bounded corpora only, by contract): the plain
        // inverted-index self-join — a corpus-wide shingle makes this
        // quadratic, but unlike a posting list it spills instead of
        // OOMing, which is the right failure mode for a verification run.
        val sh = shingles(docs, n).localCheckpoint(eager = false)
        val i = sh.as("a")
          .join(sh.as("b"),
            col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("i"))
        val c = sh.groupBy("doc_id").agg(count(lit(1)).as("card"))
        (i, c)
    }
  }
}
