package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.StoredIndex
import graft.sources.StoredIndex.{Buckets, Family, Part}

/** Byte-pair-encoding vocabulary training — the subword tokenizer builder
  * every LLM data pipeline runs before token counting means anything
  * (SURVEY §2c north-star extension; the deterministic-training-loop twin
  * of [[Similarity]]'s k-means IVF: a fixed number of argmax rounds whose
  * every step the DuckDB oracle replays).
  *
  * Classic word-level BPE over the corpus's alnum words: start from
  * characters, repeatedly merge the globally most frequent adjacent symbol
  * pair (count-weighted by word frequency; ties broken lexicographically so
  * training is a pure function of the corpus).
  *
  * Scale design: training runs on the DISTINCT-WORD table (vocab-sized,
  * ~10M rows at 100 TB — millions of times smaller than the corpus), the
  * same reduction real BPE trainers use. Each round is one map-side-combined
  * pair-count aggregation plus a 1-row argmax collect — per-round driver
  * traffic is one pair, the k-means pattern. Symbol sequences live as
  * separator-joined strings so the merge step is two literal `replace`
  * calls (codegen'd) rather than an interpreted array fold.
  *
  * Merge-application correctness (FUZZED cross-engine against a reference
  * greedy implementation, 2000+ random symbol sequences + all run/chain
  * edge cases): boundaries are DOUBLED separators and the pattern
  * `SEP x SEPSEP y SEP` consumes only the inner half of each boundary, so
  * one left-to-right literal `replace` pass IS greedy non-overlapping
  * merging — consecutive occurrences chain (each leaves the outer
  * separator for its neighbor), same-symbol runs resolve left-to-right
  * (`aaaaa → [aa,aa,a]`), and a match can never cross a symbol boundary
  * (`[ax,yb]` never matches `(x,y)`). A naive single-separator padding is
  * NOT greedy: its match consumes the shared boundary separator, which
  * mis-places the odd singleton in runs of length ≥ 5. */
object Bpe {

  /** Symbol separator: U+001F (unit separator) — cannot occur in alnum
    * words, so symbols never contain it and `replace` stays unambiguous. */
  val Sep = "\u001f"

  val DefaultRounds = 8

  /** Distinct alnum words with corpus frequencies — the table BPE trains
    * on. One shuffle, map-side combined. */
  def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word").rlike("^[a-z0-9]+$"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Initial state: every word split into single-character symbols. */
  private def initState(words: DataFrame): DataFrame =
    words.withColumn("s",
      expr(s"array_join(regexp_extract_all(word, '.', 0), '$Sep')"))

  /** One learned merge: `pair` is the two parent symbols space-joined,
    * `merged` the new symbol, `cnt` the weighted pair count that won. */
  final case class Merge(round: Int, pair: String, merged: String, cnt: Long)

  /** Run `rounds` merge rounds; returns the merge table and the final
    * per-word segmentation state (word, cnt, s). Each round's state is a
    * lazy local checkpoint that the next round's best-pair collect
    * materializes, so the returned state holds no session-cache entry and
    * needs no release.
    *
    * Stops early if no adjacent pair remains (every word fully merged) —
    * reachable only when `rounds` approaches the total character count of
    * the vocabulary, far beyond any real configuration; the oracle's
    * fixed-round CTE chain assumes the loop runs to `rounds`, which holds
    * for every gate corpus by construction. */
  def train(docs: DataFrame, rounds: Int = DefaultRounds): (Seq[Merge], DataFrame) = {
    var state = initState(wordCounts(docs)).localCheckpoint(eager = false)
    val merges = Seq.newBuilder[Merge]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val best = state
        .select(col("cnt"), split(col("s"), Sep).as("a"))
        .where(size(col("a")) >= 2)
        .select(col("cnt"), explode(expr(
          s"transform(sequence(0, size(a) - 2), i -> concat(a[i], '$Sep', a[i + 1]))")).as("pair"))
        .groupBy("pair").agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("pair").asc)
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val pair = best(0).getString(0)
        val cnt = best(0).getLong(1)
        val merged = pair.replace(Sep, "")
        merges += Merge(r, pair.replace(Sep, " "), merged, cnt)
        state = applyMerge(state, pair, merged).localCheckpoint(eager = false)
        r += 1
      }
    }
    (merges.result(), state)
  }

  /** One greedy merge applied to the symbol column `s` — the
    * doubled-boundary literal-replace trick from the object scaladoc
    * (expand SEP→SEPSEP, pad, one inner-half replace, collapse, trim).
    * Shared by [[train]] and [[stateOf]] so a rebuilt plan is
    * expression-identical to the one training produced. */
  private def applyMerge(st: DataFrame, sepPair: String, merged: String): DataFrame = {
    val pat = Sep + sepPair.replace(Sep, Sep + Sep) + Sep
    val rep = Sep + merged + Sep
    st.withColumn("s", expr(
      s"trim(BOTH '$Sep' FROM replace(replace(concat('$Sep$Sep', " +
        s"replace(s, '$Sep', '$Sep$Sep'), '$Sep$Sep'), " +
        s"'$pat', '$rep'), '$Sep$Sep', '$Sep'))"))
  }

  /** Rebuild the final segmentation state PLAN from already-learned
    * merges — no action runs at construction, and evaluation replays only
    * the chained literal replaces (never a training collect). This lets a
    * caller memoize plain [[Merge]] rows (which hold no session-bound
    * DataFrame, so session-keyed weak caches can actually evict) and still
    * serve [[segmentsOf]] / [[tokenizeWithVocabOf]]. */
  def stateOf(docs: DataFrame, merges: Seq[Merge]): DataFrame =
    merges.foldLeft(initState(wordCounts(docs))) { (st, m) =>
      applyMerge(st, m.pair.replace(" ", Sep), m.merged)
    }

  /** The learned merge table — gate `ta_bpe_merges`. */
  def mergeTable(docs: DataFrame): DataFrame =
    mergeTableOf(docs.sparkSession, train(docs)._1)

  /** The merge table of an already-trained model. */
  def mergeTableOf(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.toDF("round", "pair", "merged", "cnt").orderBy("round")
  }

  /** Apply the learned vocabulary to the corpus: per document, the word
    * count and the subword-token count under the trained segmentation —
    * the number a data pipeline actually budgets by ("how many TOKENS is
    * this corpus under MY tokenizer", not whitespace guesses). Gate
    * `ta_bpe_tokenize`.
    *
    * Scale: the segmentation lookup table is vocab-sized, so the corpus
    * join is a broadcast hash join (no corpus shuffle); the per-doc
    * aggregation is map-side combined. Training covers every corpus word
    * by construction, so the inner join is lossless. */
  def tokenizeWithVocab(docs: DataFrame, rounds: Int = DefaultRounds): DataFrame =
    tokenizeWithVocabOf(docs, train(docs, rounds)._2)

  /** Build-once half of the BPE train/apply split that PERSISTS across
    * processes (the session memo in SparkEntry shares one training per
    * JVM; this is the artifact a production pipeline publishes): the
    * learned merge table stored with the training corpus's build
    * manifest. The model is tiny ([[DefaultRounds]] rows), the training
    * sweep is the expensive half — exactly the classifier/LM lifecycle. */
  def buildBpeModel(docs: DataFrame, table: String): Unit = {
    val merges = train(docs)._1
    require(merges.size == DefaultRounds,
      s"BPE training exhausted after ${merges.size} of $DefaultRounds rounds — " +
        "a fixed-round replay (the oracle's CTE chain) would diverge")
    StoredIndex.build(Family(
        _ => s"kind=bpe,rounds=$DefaultRounds", "doc_id", "",
        Seq(Part("", Nil, 0))),
      table, docs)(_ => mergeTableOf(docs.sparkSession, merges))
  }

  /** The stored merge sequence, round-ordered. */
  def storedMerges(spark: org.apache.spark.sql.SparkSession,
      table: String): Seq[Merge] = {
    graft.sources.Formats.requireBuilt(spark, table)
    spark.table(table).orderBy("round").collect()
      .map(r => Merge(r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
  }

  /** Apply the STORED vocabulary: rebuild the segmentation state for
    * `docs`' words from the published merges (plan construction only —
    * the merges are embedded literal replaces, no training action) and
    * tokenize. Same oracle as the train-per-call twin. */
  def tokenizeWithStoredVocab(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, table: String): DataFrame =
    tokenizeWithVocabOf(docs, stateOf(docs, storedMerges(spark, table)))

  /** [[tokenizeWithVocab]] against an already-trained segmentation state
    * (the build-once / apply-many split, like the persisted ANN indexes). */
  def tokenizeWithVocabOf(docs: DataFrame, state: DataFrame): DataFrame = {
    val vocab = state.select(col("word"),
      size(split(col("s"), Sep)).cast("long").as("n_syms"))
    docs.select(col("doc_id"), explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word").rlike("^[a-z0-9]+$"))
      .join(broadcast(vocab), Seq("word"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_words"),
        sum("n_syms").as("n_subwords"))
  }

  /** Final segmentations of the `k` most frequent words — gate
    * `ta_bpe_segments` (deterministic: frequency then word tiebreak). */
  def segments(docs: DataFrame, k: Int = 100): DataFrame =
    segmentsOf(train(docs)._2, k)

  /** [[segments]] against an already-trained segmentation state. The
    * learned merges are embedded literals in the state plan, so evaluating
    * it never re-runs a training action. */
  def segmentsOf(state: DataFrame, k: Int = 100): DataFrame =
    state
      .select(col("word"), col("cnt"),
        expr(s"replace(s, '$Sep', ' ')").as("seg"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(k)
}
