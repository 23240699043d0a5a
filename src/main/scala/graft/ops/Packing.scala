package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CrossHash
import graft.sources.StoredIndex
import graft.sources.StoredIndex.{Buckets, Family, Part}

/** Training-batch assembly operators: deterministic corpus shuffling,
  * sequence packing into fixed token budgets, and token-budgeted corpus
  * sampling (SURVEY §2c north-star extensions — the step between a curated
  * corpus and a training dataloader).
  *
  * The reference stops at producing sorted reducer output
  * (srics96/SDC_Mapreduce `src/worker/worker.cpp:290-303` writes the final
  * corpus files); these operators cover what a 100 TB pretraining pipeline
  * does next: fix a reproducible global order, concatenate documents into
  * fixed-length training sequences, and cut per-domain token budgets.
  *
  * Scale design: all three are ONE hash shuffle + a per-partition sort —
  * never a global sort. Packing is per-bucket (each bucket packs
  * independently, so 1000 executors pack 1000 buckets with no coordination),
  * which is exactly how production packers shard: a document's (bucket,
  * seq_id, seq_offset) is a pure function of the corpus content, not of the
  * cluster layout (proven in PartitionInvarianceSpec). All outputs are
  * integers — no float drift across engines or partitionings.
  */
object Packing {

  /** Tokens per training sequence. At 100 TB this would be the model's
    * context length (2k–128k); 256 keeps the gate's sequence count
    * meaningful at test scale. */
  val DefaultBudget = 256L

  /** Independent packing shards. Fixed here for oracle determinism; in
    * production this scales with corpus size (e.g. corpus_tokens /
    * (budget * sequences_per_shard)) so a shard stays executor-sized. */
  val DefaultBuckets = 16

  /** Deterministic shuffle key: a salted 60-bit content-independent hash of
    * the document id. Ordering by it is the reproducible "global shuffle"
    * every pretraining run needs (same corpus → same order, any cluster). */
  def orderHash: Column =
    CrossHash.h60(concat(lit("pack:"), col("doc_id").cast("string")))

  /** DuckDB equivalent of [[orderHash]], for oracle authoring. */
  def orderHashSql: String =
    CrossHash.h60Sql("'pack:' || CAST(doc_id AS VARCHAR)")

  /** Whitespace token count of `text` (the reference mapper's tokenizer). */
  private def nTokens: Column =
    size(split(lower(col("text")), "\\s+")).cast("long")

  /** [[nTokens]] from the shared token projection when the input carries
    * it ([[SharedCorpus]]), else the inline split. */
  private def nTokensOf(docs: DataFrame): Column =
    size(SharedCorpus.wsOf(docs)).cast("long")

  /** Pack documents into fixed-token-budget training sequences,
    * GPT-style concat-then-chunk: documents are laid out end-to-end in
    * deterministic shuffle order within each of `buckets` independent
    * shards, and every `budgetTokens` tokens starts a new sequence (a
    * document may straddle a boundary; `seq_offset` says where it starts
    * inside its sequence).
    *
    * Output per document: `bucket` (packing shard), `seq_id` (training
    * sequence within the shard), `seq_offset` (token offset inside that
    * sequence), `n_tokens`.
    *
    * Plan: one projection (token count + hash — no shuffle), one hash
    * partition on `bucket`, one per-bucket sort for the running sum. The
    * running sum window is `ROWS UNBOUNDED PRECEDING TO 1 PRECEDING` over
    * longs — exact integer arithmetic, no float accumulation. */
  def packSequences(docs: DataFrame, budgetTokens: Long = DefaultBudget,
      buckets: Int = DefaultBuckets): DataFrame =
    sequenceWalk(docs.select(col("doc_id"), nTokensOf(docs).as("n_tokens")),
      budgetTokens, buckets)

  /** [[packSequences]] under STORED-BPE token budgets — the concat-chunk
    * sibling of [[packGreedyBpe]] (pretraining's GPT-style layout under
    * real tokenizer counts; the greedy form is the no-split SFT layout).
    * Same plan shape: broadcast vocab join for the counts, one window
    * walk — zero extra exchanges. */
  def packSequencesBpe(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
      bpeTable: String): DataFrame =
    sequenceWalk(bpeTokenCounts(spark, docs, bpeTable), DefaultBpeBudget, DefaultBuckets)

  /** The shared concat-then-chunk layout over a pre-computed per-document
    * token-count table `(doc_id, n_tokens)` — see [[packSequences]]. */
  private def sequenceWalk(counts: DataFrame, budgetTokens: Long,
      buckets: Int): DataFrame = {
    val w = Window.partitionBy("bucket").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    counts.select(col("doc_id"), col("n_tokens"), orderHash.as("h"))
      .withColumn("bucket", (col("h") % buckets).cast("int"))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .select(
        col("doc_id"), col("bucket"),
        floor(col("cum_before") / budgetTokens).cast("long").as("seq_id"),
        (col("cum_before") % budgetTokens).as("seq_offset"),
        col("n_tokens"))
  }

  /** Per-document subword counts under a STORED BPE model — the count
    * table both BPE-budgeted packers walk (zero for documents with no
    * alnum words, kept via `explode_outer`). */
  private def bpeTokenCounts(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, bpeTable: String): DataFrame = {
    val state = Bpe.stateOf(docs, Bpe.storedMerges(spark, bpeTable))
    val vocab = state.select(col("word"),
      size(split(col("s"), Bpe.Sep)).cast("long").as("n_syms"))
    docs
      .select(col("doc_id"), explode_outer(SharedCorpus.alnumOf(docs)).as("word"))
      .join(broadcast(vocab), Seq("word"), "left")
      .groupBy("doc_id")
      .agg(coalesce(sum("n_syms"), lit(0L)).as("n_tokens"))
  }

  /** NO-SPLIT sequence packing (greedy next-fit) — the sample-level twin
    * of [[packSequences]]: documents are walked in deterministic shuffle
    * order within each of `buckets` independent shards and packed into
    * sequences of at most `budgetTokens` tokens, but a document NEVER
    * straddles a sequence boundary (the fine-tuning/packed-SFT contract,
    * where an example must stay contiguous). When the next document does
    * not fit, a new sequence starts; a document longer than the whole
    * budget becomes its own singleton sequence. Output per document:
    * `bucket`, `seq_id` (1-based within the bucket), `seq_offset` (token
    * offset inside its sequence), `n_tokens`.
    *
    * Scale shape: the walk is inherently sequential — each placement
    * depends on the running fill — so the parallelism unit is the BUCKET
    * (the [[tokenBudgetSampleSalted]] discipline: more buckets = more
    * parallelism, same within-bucket layout). One projection, one hash
    * partition on `bucket`, one within-partition sort, then a single
    * `mapPartitions` fold that resets at bucket changes — the sanctioned
    * per-partition imperative shape for a fold no window function
    * expresses (running sum WITH conditional reset). All state is three
    * longs per in-flight bucket; nothing driver-side. The DuckDB oracle
    * replays the walk as a recursive CTE. */
  def packGreedy(docs: DataFrame, budgetTokens: Long = DefaultBudget,
      buckets: Int = DefaultBuckets): DataFrame =
    greedyWalk(docs.select(col("doc_id"), nTokensOf(docs).as("n_tokens")),
      budgetTokens, buckets)

  /** Tokens per training sequence for BPE-counted packing: subword counts
    * run ~3× the whitespace word count after [[Bpe.DefaultRounds]] merges
    * (most words are still near-character-level), so the budget scales the
    * same way to keep sequence counts comparable. */
  val DefaultBpeBudget = 768L

  /** [[packGreedy]] under STORED-BPE token budgets — the composition a
    * pretraining-data user actually runs: training
    * batches are measured in TOKENIZER tokens, not whitespace guesses, so
    * the packer must budget by the published BPE model's subword counts.
    * Per document the count is [[Bpe.tokenizeWithStoredVocab]]'s
    * `n_subwords` (documents with no alnum words count 0 — they still get
    * a packing slot), and the walk is exactly [[packGreedy]]'s.
    *
    * Scale: the stored merge table is `rounds` rows (collected once), the
    * vocab lookup is a broadcast join (no corpus shuffle), the count
    * aggregation is map-side combined on `doc_id`, and the walk is the
    * same one-shuffle per-bucket fold — so BPE budgeting adds zero
    * exchanges over the whitespace packer. */
  def packGreedyBpe(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
      bpeTable: String): DataFrame =
    greedyWalk(bpeTokenCounts(spark, docs, bpeTable), DefaultBpeBudget, DefaultBuckets)

  /** The shared greedy next-fit walk over a pre-computed per-document
    * token-count table `(doc_id, n_tokens)` — see [[packGreedy]] for the
    * plan shape and state contract. */
  private def greedyWalk(counts: DataFrame, budgetTokens: Long,
      buckets: Int): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val base = counts
      .select(col("doc_id"), col("n_tokens"), orderHash.as("h"))
      .withColumn("bucket", (col("h") % buckets).cast("long"))
      // all rows of a bucket must land in ONE partition (the fold is
      // per-bucket); multiple buckets per partition are fine — the walk
      // resets when the bucket changes
      .repartition(col("bucket"))
      .sortWithinPartitions(col("bucket"), col("h"), col("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("bucket"))
      .as[(Long, Long, Long)]
    base.mapPartitions { it =>
      var curBucket = Long.MinValue
      var seqId = 0L
      var fill = 0L
      it.map { case (docId, n, bucket) =>
        if (bucket != curBucket) { curBucket = bucket; seqId = 1L; fill = 0L }
        if (fill > 0 && fill + n > budgetTokens) { seqId += 1L; fill = 0L }
        val offset = fill
        fill += n
        (docId, bucket, seqId, offset, n)
      }
    }.toDF("doc_id", "bucket", "seq_id", "seq_offset", "n_tokens")
  }

  /** Split every document into overlapping fixed-size token windows —
    * RAG/retrieval-style chunking (chunk of `chunkTokens`, hop of
    * `stride`, so consecutive chunks overlap by `chunkTokens - stride`).
    * Emits one row per chunk with its position and a 60-bit content
    * fingerprint (the join key an embedding/index stage would use).
    *
    * Pure per-document projection + explode — no shuffle at all until a
    * consumer aggregates; at 100 TB this is a single map pass whose output
    * is `len/stride` rows per doc. The chunk list is built with one
    * `transform(sequence(...))` over the token array (never a self-join),
    * and `sequence(0, (n-1) div stride)` is non-negative for every
    * document because `split` yields at least one token. */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int = 64,
      stride: Int = 48): DataFrame = {
    require(stride > 0 && chunkTokens >= stride,
      s"need 0 < stride <= chunkTokens, got stride=$stride chunk=$chunkTokens")
    docs.select(col("doc_id"), SharedCorpus.wsOf(docs).as("a"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, CAST(floor((size(a) - 1) / $stride) AS INT)), " +
          s"k -> struct(k AS chunk_id, " +
          s"least($chunkTokens, size(a) - k * $stride) AS n_chunk_tokens, " +
          s"concat_ws(' ', slice(a, k * $stride + 1, $chunkTokens)) AS chunk))")).as("c"))
      .select(
        col("doc_id"),
        col("c.chunk_id").cast("long").as("chunk_id"),
        (col("c.chunk_id") * stride).cast("long").as("start_tok"),
        col("c.n_chunk_tokens").cast("long").as("n_chunk_tokens"),
        CrossHash.h60(col("c.chunk")).as("chunk_fp"))
  }

  /** Epoch-repeat assignment under a per-source token budget — the data
    * recipe for budgets LARGER than a source ("train 2.3 epochs of this
    * domain"): every document of the source repeats `budget div total`
    * times, and the fractional epoch is the deterministic hash-order
    * PREFIX whose members repeat once more (the [[tokenBudgetSample]]
    * walk reused as the remainder rule, so re-ingestion keeps exactly the
    * same extra-repeat set). Output per document: `n_repeats` plus the
    * walk's evidence columns. All arithmetic is exact integer div/mod on
    * longs; at 100 TB this is one projection, one per-source window walk
    * and one broadcast join of the per-source totals — the same plan
    * family as the budget cut. */
  def repeatEpochs(docs: DataFrame, budgetTokens: Long = 30000L): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = docs.select(col("doc_id"), col("source"),
      nTokensOf(docs).as("n_tokens"), orderHash.as("h"))
    val totals = base.groupBy("source").agg(sum("n_tokens").as("total"))
    base
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .join(broadcast(totals), Seq("source"))
      .select(
        col("doc_id"), col("source"), col("n_tokens"),
        (expr(s"$budgetTokens div total") +
          when(col("cum_before") < expr(s"$budgetTokens % total"), 1L)
            .otherwise(0L)).as("n_repeats"))
  }

  /** Cut a fixed token budget per stratum ("2 B tokens of each domain"):
    * walk each `source`'s documents in deterministic shuffle order and keep
    * documents until the budget fills — the kept set is the unique hash-order
    * prefix whose token count stays under `budgetTokens`, so re-running on
    * re-partitioned (or re-ingested) data keeps exactly the same documents.
    *
    * One hash shuffle on `source` + per-source sort. A pathological
    * mega-source makes that sort wide; [[tokenBudgetSampleSalted]] is the
    * production form (salted sub-strata with sub-budgets) — this plain
    * per-source form is the semantics baseline. */
  def tokenBudgetSample(docs: DataFrame, budgetTokens: Long = 800L): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col("doc_id"), col("source"), nTokensOf(docs).as("n_tokens"), orderHash.as("h"))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .where(col("cum_before") < budgetTokens)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_before"))
  }

  /** Production form of [[tokenBudgetSample]] for hot sources: the budget
    * is split evenly across `subStrata` salted sub-strata
    * (`sub = h % subStrata`, a pure function of the document — not of the
    * cluster layout), and each sub-stratum independently keeps its own
    * hash-order prefix under `budgetTokens / subStrata`. A mega-source is
    * no longer one single-task sort: its walk runs as `subStrata` parallel
    * bounded walks, and because the salt is content-deterministic the kept
    * set is still a pure function of the corpus. The cut differs from the
    * unsalted form's by at most one document per sub-stratum boundary —
    * the standard trade for unbounded parallelism on a skewed stratum
    * (the same composition as [[packSequences]]'s independent buckets).
    *
    * Output adds `sub` so a dataloader can address sub-strata directly. */
  /** Temperature-scaled SOURCE MIXING — the data-recipe step between
    * per-domain curation and the dataloader: give each source a token
    * budget proportional to `n_s^alpha` (its token count raised to the
    * mixing temperature; `alpha = 1` keeps natural proportions, `alpha = 0`
    * weights all sources equally, the usual multilingual/domain-rebalance
    * knob sits in between), then cut each source's budget with the same
    * deterministic hash-order walk as [[tokenBudgetSample]].
    *
    * Budgets are derived from ONE tiny per-source aggregate (rows =
    * #sources, broadcast back), so the corpus-side plan is exactly the
    * budget walk: one shuffle on `source`, per-source bounded sort. The
    * float weight math happens per SOURCE, not per document, and the
    * resulting integer budget is quantized (`floor(round(·, 6))`) so the
    * ≤1-ulp cross-engine spread in `pow`/division can never flip a
    * boundary document (same contract as [[graft.ops.TextAnalysis.tfIdf]]'s
    * 6-decimal rounding; a budget would need to sit within 1e-6 of an
    * integer to be at risk — verified absent for the gate corpora).
    *
    * For a pathologically hot source compose with the salted form: the
    * walk here is [[tokenBudgetSample]]'s; swap in
    * [[tokenBudgetSampleSalted]]'s sub-strata window for the production
    * cut of a mega-source. */
  def sourceMixSample(docs: DataFrame, totalTokens: Long = 4000L,
      alpha: Double = 0.5): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
      nTokensOf(docs).as("n_tokens"), orderHash.as("h"))
    val totals = base.groupBy("source").agg(sum("n_tokens").as("src_tokens"))
    // the normalizer is a float sum over per-source pow terms — summed as
    // doubles its value would depend on partial-sum order, which is stable
    // on a handful of sources but not on an off-gate corpus with many.
    // Each term is rounded to fixed scale and summed as
    // DECIMAL: exact integer arithmetic underneath, so z is identical for
    // every partitioning (same trick as the money-math gates).
    val z = totals.agg(
      sum(round(pow(col("src_tokens"), alpha), 6).cast("decimal(38,6)")).as("z"))
    val budgets = totals.crossJoin(broadcast(z))
      .select(col("source"),
        floor(round(lit(totalTokens.toDouble) * pow(col("src_tokens"), alpha)
          / col("z").cast("double"), 6)).cast("long").as("budget"))
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .join(broadcast(budgets), "source")
      .where(col("cum_before") < col("budget"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_before"), col("budget"))
  }

  def tokenBudgetSampleSalted(docs: DataFrame, budgetTokens: Long = 800L,
      subStrata: Int = 8): DataFrame = {
    val subBudget = budgetTokens / subStrata
    val w = Window.partitionBy("source", "sub").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col("doc_id"), col("source"), nTokensOf(docs).as("n_tokens"), orderHash.as("h"))
      .withColumn("sub", pmod(col("h"), lit(subStrata.toLong)))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .where(col("cum_before") < subBudget)
      .select(col("doc_id"), col("source"), col("sub"),
        col("n_tokens"), col("cum_before"))
  }

  /** Seeded shuffle key for [[shardShuffle]]: unlike [[orderHash]] the
    * salt carries an epoch/run seed, so successive epochs get INDEPENDENT
    * permutations of the same corpus — still a pure function of
    * (document, seed), never of the cluster. */
  def shuffleHash(seed: String): Column =
    CrossHash.h60(concat(lit(s"shuf:$seed:"), col("doc_id").cast("string")))

  /** DuckDB equivalent of [[shuffleHash]], for oracle authoring. */
  def shuffleHashSql(seed: String): String =
    CrossHash.h60Sql(s"'shuf:$seed:' || CAST(doc_id AS VARCHAR)")

  /** Training shards, and the epoch seed of the shard shuffles. */
  val DefaultShards = 8
  val DefaultSeed = "epoch0"

  /** Deterministic training-shard shuffle — the dataloader-facing
    * coordinates a pretraining run reads by: every document gets a
    * `(shard, shard_pos)` address where `shard` is one of
    * [[DefaultShards]] seeded hash buckets
    * and `shard_pos` is its 1-based rank in seeded-hash order within the
    * shard. Writing the corpus CLUSTERED BY these coordinates yields
    * globally-shuffled shards any dataloader can stream sequentially; a
    * new `seed` ("epoch1", "epoch2", …) re-shuffles without touching the
    * data — the epoch-reshuffle every training run needs, reproducible
    * across clusters.
    *
    * Scale shape: one hash shuffle on `shard` + a per-shard sort for the
    * rank — never a global sort; shard count scales with the corpus
    * (tokens / shard_size) so each sort stays executor-sized. All outputs
    * are integers. */
  def shardShuffle(docs: DataFrame, seed: String = DefaultSeed): DataFrame = {
    val w = Window.partitionBy("shard").orderBy(col("h"), col("doc_id"))
    docs.select(col("doc_id"), shuffleHash(seed).as("h"))
      .withColumn("shard", (col("h") % DefaultShards).cast("long"))
      .withColumn("shard_pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("shard_pos"))
  }

  /** Build-once half of the epoch-plan lifecycle: PUBLISH the
    * [[shardShuffle]] coordinates as a bucketed table (bucketed + sorted
    * on `shard`, with the engine's standard build manifest) — the
    * "dataset manifest" a training run pins, so every dataloader worker
    * reads its shard's (doc_id, shard_pos) assignments from storage
    * instead of recomputing the corpus-wide shuffle, and the run is
    * reproducible from the published artifact alone. The shuffle is
    * deterministic either way; publishing moves the one corpus pass to
    * build time and makes the plan auditable/immutable. */
  def buildShardPlan(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
      table: String): Unit = {
    StoredIndex.build(Family(
        _ => s"kind=shard_plan,shards=$DefaultShards,seed=$DefaultSeed", "doc_id", "",
        Seq(Part("", Seq("shard"), Buckets))),
      table, docs)(_ => shardShuffle(docs))
  }

  /** Query half: one shard's assignments in stream order — the per-worker
    * read. Bucket pruning keeps the scan to the shard's own files; the
    * only sort is the shard-sized position order. */
  def readShardPlan(spark: org.apache.spark.sql.SparkSession, table: String,
      shard: Long): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, table)
    spark.table(table).filter(col("shard") === shard).orderBy("shard_pos")
  }

  /** Source-INTERLEAVED shard coordinates — [[shardShuffle]] with a
    * round-robin guarantee across sources: within each shard, documents
    * stream in rounds (`round` = the doc's seeded-hash rank within its
    * (shard, source)), so every `#sources`-sized window of the stream
    * touches each source at most once. A plain shuffle only mixes sources
    * in EXPECTATION; a dataloader reading small batches from it still
    * hits same-source runs, which biases gradient batches on skewed
    * mixes — the interleave makes the mixing guarantee structural.
    *
    * Same plan family: one hash shuffle on `shard`, two window ranks
    * (per (shard, source), then per shard). All coordinates are pure
    * functions of (corpus, [[DefaultSeed]]), over [[DefaultShards]]
    * shards. */
  def interleaveShuffle(docs: DataFrame): DataFrame = {
    val wr = Window.partitionBy("shard", "source").orderBy(col("h"), col("doc_id"))
    val wp = Window.partitionBy("shard")
      .orderBy(col("round"), col("h"), col("doc_id"))
    docs.select(col("doc_id"), col("source"), shuffleHash(DefaultSeed).as("h"))
      .withColumn("shard", (col("h") % DefaultShards).cast("long"))
      .withColumn("round", row_number().over(wr).cast("long"))
      .withColumn("shard_pos", row_number().over(wp).cast("long"))
      .select(col("doc_id"), col("source"), col("shard"),
        col("round"), col("shard_pos"))
  }

  /** Curriculum-ordered shard coordinates — [[shardShuffle]] with a
    * quality-tier primary key: documents are bucketed into
    * [[CurriculumTiers]] bands
    * of the engine's quality score and each shard streams its HIGHEST
    * tier first (cleanest data early, the standard curriculum/annealing
    * order), hash-shuffled within a tier so no other bias leaks in. The
    * tier is a pure function of the text (the same fixed-op-order score
    * the `ta_quality` gate hash-proves cross-engine), so the coordinates
    * stay reproducible: same corpus → same curriculum on any cluster.
    *
    * Same plan as [[shardShuffle]] — the tier is one more projected
    * column; one hash shuffle + per-shard sort. */
  def curriculumShuffle(docs: DataFrame): DataFrame = {
    val q = TextAnalysis.qualityColOf(
      SharedCorpus.wsOf(docs), SharedCorpus.alnumOf(docs))
    val w = Window.partitionBy("shard")
      .orderBy(col("tier").desc, col("h"), col("doc_id"))
    docs.select(col("doc_id"), shuffleHash(DefaultSeed).as("h"),
      least(floor(q * CurriculumTiers), lit(CurriculumTiers - 1L)).cast("long").as("tier"))
      .withColumn("shard", (col("h") % DefaultShards).cast("long"))
      .withColumn("shard_pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("tier"), col("shard"), col("shard_pos"))
  }

  /** Quality tiers of [[curriculumShuffle]]. */
  val CurriculumTiers = 4

  /** Packing-efficiency audit over [[packGreedy]]'s layout — the
    * sequence-level ledger a batch-assembly pipeline monitors: per packed
    * sequence, how many documents it holds, how full it is, and how many
    * budget tokens it wastes (padding the trainer will burn). `oversized`
    * marks the longer-than-budget singleton sequences (the packer's
    * documented no-split escape hatch), whose waste is 0 by definition.
    *
    * One aggregate over the packer's output — map-side combined on the
    * (bucket, seq_id) key the walk already computed, so the audit adds a
    * single exchange over the packing plan itself. */
  def packFillStats(docs: DataFrame): DataFrame =
    packGreedy(docs)
      .groupBy("bucket", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("fill_tokens"))
      .select(col("bucket"), col("seq_id"), col("n_docs"), col("fill_tokens"),
        greatest(lit(DefaultBudget) - col("fill_tokens"), lit(0L)).as("waste_tokens"),
        (col("fill_tokens") > DefaultBudget).as("oversized"))
}
