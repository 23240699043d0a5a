package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.CrossHash
import graft.sources.StoredIndex
import graft.sources.StoredIndex.{Buckets, Family, Part}

/** Deterministic sampling for training-data pipelines — hash-based, not
  * `rand()`-based: a hash of a stable key gives the same sample on every
  * run, every retry, every engine (reproducibility is a correctness
  * requirement for dataset curation, and `rand()` breaks it under task
  * retry and partition reordering). All three operators are pure
  * projections/filters over the key hash — no shuffle except the explicit
  * per-stratum top-k — and all are oracle-checkable because [[CrossHash]]
  * has an exact DuckDB mirror.
  */
object Sampling {

  /** Uniform `pct`% sample: keep rows whose key-hash bucket (0..99) falls
    * below `pct`. Deterministic, stable under repartitioning, and
    * composable (different `salt` values give independent samples). */
  def hashSample(df: DataFrame, keyCol: String, pct: Int, salt: String = ""): DataFrame =
    df.filter(bucket100(keyCol, salt) < pct)

  private def bucket100(keyCol: String, salt: String): Column =
    pmod(CrossHash.h32(concat(lit(salt), col(keyCol).cast("string"))), lit(100L))

  /** DuckDB mirror of the sampling predicate (oracle authoring). */
  def bucket100Sql(keyExpr: String, salt: String = ""): String =
    s"${CrossHash.h32Sql(s"'$salt' || CAST($keyExpr AS VARCHAR)")} % 100"

  /** Stratified sample: per-stratum percentage rates (e.g. downsample the
    * dominant language, keep the rest) — the class-rebalancing primitive.
    * Unlisted strata are kept whole. */
  def stratifiedHashSample(df: DataFrame, keyCol: String, strataCol: String,
      rates: Map[String, Int]): DataFrame = {
    val rate = rates.foldLeft(lit(100).cast("long")) { case (acc, (k, v)) =>
      when(col(strataCol) === k, v.toLong).otherwise(acc)
    }
    df.filter(bucket100(keyCol, "") < rate)
  }

  /** Exactly `n` pseudo-random rows per stratum: rank by key hash within
    * each stratum, keep the first n. Deterministic "reservoir" — one
    * shuffle on the stratum key. */
  def perStratumSample(df: DataFrame, keyCol: String, strataCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(CrossHash.h32(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= n)
      .drop("rn")
  }

  /** Deterministic train/validation/test split assignment: each row's
    * key-hash bucket (0..99) lands in exactly one of the cumulative
    * percentage ranges, so the assignment is (a) DISJOINT and EXHAUSTIVE
    * by construction, (b) stable under re-partitioning, re-ingestion and
    * engine choice (the reproducibility contract an eval split must
    * carry — a `randomSplit` re-deals the corpus on every retry), and
    * (c) pure projection: no shuffle, no state. `splits` maps name →
    * percentage and must sum to 100 (fail loudly — a silent 95% split
    * would leak 5% of documents out of every split). Buckets are hashed
    * with [[SplitSalt]]. */
  def splitAssign(df: DataFrame, keyCol: String,
      splits: Seq[(String, Int)] = DefaultSplits): DataFrame = {
    require(splits.map(_._2).sum == 100,
      s"split percentages must sum to 100: $splits")
    val edges = splits.scanLeft(0) { case (acc, (_, p)) => acc + p }
    val b = bucket100(keyCol, SplitSalt)
    val assign = splits.zip(edges).foldLeft(lit(null).cast("string")) {
      case (acc, ((name, _), lo)) => when(b >= lo, name).otherwise(acc)
    }
    df.withColumn("split", assign)
  }

  /** The train/val/test percentages and the hash salt of the splits. */
  val DefaultSplits = Seq("train" -> 80, "val" -> 10, "test" -> 10)
  val SplitSalt = "split"

  /** DuckDB mirror of [[splitAssign]]'s rule at its defaults, for oracle
    * authoring. */
  def splitAssignSql(keyExpr: String): String = {
    val edges = DefaultSplits.scanLeft(0) { case (acc, (_, p)) => acc + p }
    val b = bucket100Sql(keyExpr, SplitSalt)
    val cases = DefaultSplits.zip(edges).reverse.map { case ((name, _), lo) =>
      s"WHEN $b >= $lo THEN '$name'"
    }.mkString(" ")
    s"CASE $cases END"
  }

  /** LEAKAGE-FREE train/val/test split — [[splitAssign]] lifted from
    * documents to NEAR-DUP COMPONENTS: a plain per-document hash split
    * routinely places a document in train and its near-duplicate in test,
    * silently turning the eval set into memorization credit (the classic
    * contamination-through-splitting failure every LLM data pipeline must
    * close). Here the unit of assignment is the whole near-dup component:
    * resolve components exactly as [[Dedup.nearDupComponents]] (MinHash
    * band collisions → hybrid union-find / min-label propagation), then
    * hash-split on the component LABEL, so every member of a component —
    * and therefore every near-dup pair — lands in the SAME split by
    * construction. Singletons (label == doc_id) degrade to the plain
    * per-document split.
    *
    * Scale shape: the component resolution is the already-bounded hybrid
    * (banded pair list, never all-pairs; ≤4M-edge driver union-find or
    * distributed pointer jumping), and the split itself stays a pure
    * projection over the label — deterministic, disjoint + exhaustive,
    * stable under repartitioning, engine-replayable (the oracle computes
    * the same labels via recursive-CTE closure and the same bucket rule).
    * Returns `(doc_id, label, split)`, UNSORTED — a 100 TB caller never
    * needs the global sort (the gate adds its own `orderBy` for the
    * deterministic dump). The result is a projection over the component
    * labels' lazy local checkpoint, so nothing is left for the caller to
    * release. */
  def splitAssignLeakFree(docs: DataFrame): DataFrame =
    splitAssign(Dedup.nearDupComponents(docs), "label")
      .select(col("doc_id"), col("label"), col("split"))

  /** SPLIT-STABILITY audit for [[splitAssignLeakFree]] under corpus
    * growth — the operational question the component-keyed split raises
    * that the plain per-doc split never does: a new document can BRIDGE
    * two components, merging them under a new (smaller) minimum label,
    * and every member of the absorbed component flips split. A training
    * pipeline must SEE that before it happens silently (an eval doc
    * flipping into train invalidates history; train flipping into test
    * leaks memorized data into eval). This report computes the leak-free
    * assignment over yesterday's corpus and today's, joins on the common
    * documents, and returns the split TRANSITION MATRIX — one row per
    * (split_was, split_now) with the doc count and the id range, so the
    * off-diagonal mass (the flips) is one glance and the flipped ids are
    * range-boundable for a follow-up listing. The diagonal-only matrix
    * is the stability certificate a release pipeline gates on.
    *
    * Scale shape: two component resolutions (each the bounded hybrid)
    * plus one equi-join on doc_id and a ≤|splits|² aggregation — nothing
    * new shuffles beyond what the assignments themselves cost. This is
    * the FROM-SCRATCH form (both corpora re-clustered per call) — its
    * oracle anchor; a daily pipeline uses the stored-lifecycle twin
    * [[splitDriftReportIndexed]], which reads yesterday's PUBLISHED
    * assignment and folds today's batch as a delta. The ≤|splits|²-row
    * matrix is collected and rebuilt as a local frame. */
  def splitDriftReport(docsOld: DataFrame, docsNew: DataFrame): DataFrame =
    transitionMatrix(
      splitAssignLeakFree(docsOld)
        .select(col("doc_id"), col("split").as("split_was")),
      splitAssignLeakFree(docsNew)
        .select(col("doc_id"), col("split").as("split_now")))

  /** The distributed half of [[transitionMatrix]] as a PLAN (package-
    * visible so SamplingSpec can assert the stored-lifecycle form joins
    * the two bucketed tables without an exchange on either input). */
  private[graft] def transitionPlan(was: DataFrame, now: DataFrame): DataFrame =
    was.join(now, Seq("doc_id"))
      .groupBy("split_was", "split_now")
      .agg(count(lit(1)).as("n_docs"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))

  /** The split transition matrix of two `(doc_id, split)` assignments
    * joined on their common documents — shared by both drift forms. The
    * result is at most |splits|² rows, so it is collected and returned as
    * a LOCAL frame: no persisted state survives the call. */
  private def transitionMatrix(was: DataFrame, now: DataFrame): DataFrame = {
    val spark = was.sparkSession
    import spark.implicits._
    val rows = transitionPlan(was, now)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2))
      .toSeq
    rows.toDF("split_was", "split_now", "n_docs", "min_doc", "max_doc")
  }

  /** STORED-LIFECYCLE form of [[splitAssignLeakFree]]: a pure projection
    * over the PUBLISHED components table that
    * [[Dedup.buildComponentsTable]] / [[Dedup.mergeComponentsIncr]] /
    * [[Dedup.purgeFromComponentsTable]] maintain — the corpus is never
    * re-shingled, re-signed, or re-banded here. Because a stored label IS its
    * component's minimum and the incremental merge keeps the table
    * bit-identical to a one-shot clustering of the union corpus, this
    * projection equals [[splitAssignLeakFree]] over that corpus exactly —
    * the `sample_split_indexed`/`sample_split_incr` gates share its
    * oracle. Unsorted, unpersisted, shuffle-free: at 100 TB the daily
    * cost of the leak-free split is reading a 16-byte-per-doc table. */
  def splitAssignIndexed(spark: org.apache.spark.sql.SparkSession,
      compTable: String): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, compTable)
    splitAssign(spark.table(compTable), "label")
      .select(col("doc_id"), col("label"), col("split"))
  }

  /** Publish the leak-free assignment as its own bucketed table (the
    * artifact downstream training jobs and tomorrow's drift audit read):
    * `(doc_id, label, split)` bucketed on `doc_id` with the standard
    * build manifest, stamped with the COMPONENT table's corpus stamp so a
    * reader can verify which corpus generation the assignment describes
    * (the same generation-alignment contract [[Dedup.mergeComponentsIncr]]
    * enforces between its two artifacts). */
  def publishSplitAssignment(spark: org.apache.spark.sql.SparkSession,
      compTable: String, splitTable: String): Unit = {
    StoredIndex.buildStamped(splitAssignment, splitTable, spark,
      graft.sources.Formats.readBuildMeta(spark, compTable)
        .map(m => (m._1, m._2))
        .getOrElse(throw new IllegalStateException(
          s"components table '$compTable' has no build manifest — publish " +
            "from a table built by buildComponentsTable"))
    )(_ => splitAssignIndexed(spark, compTable))
  }

  /** The published assignment as a [[StoredIndex]] family:
    * one `(doc_id, label, split)` row per document, bucketed on `doc_id`. */
  private val splitAssignment = Family(
    n => s"kind=split,salt=$SplitSalt,buckets=$n", "doc_id", "",
    Seq(Part("", Seq("doc_id"), Buckets)))

  /** STORED-LIFECYCLE drift audit — [[splitDriftReport]]'s production
    * twin, O(batch + flips) instead of two corpus re-clusterings:
    * yesterday's assignment is READ from its published table
    * (`prevSplitTable`, written by [[publishSplitAssignment]] before
    * today's ingest), today's is a pure projection of the components
    * table AFTER [[Dedup.mergeComponentsIncr]] folded the day's batch
    * (batch-delta cost, corpus never re-read), and the transition matrix
    * is one doc_id equi-join of two tables bucketed the same way —
    * zero-exchange on both sides (SamplingSpec asserts the plan) — plus
    * a ≤|splits|² aggregation returned as a local frame. The daily
    * pipeline order is: publish → merge batch → drift-audit → republish.
    *
    * Both inputs are published artifacts, so the audit is also REPLAYABLE
    * after the fact (yesterday's table is immutable until republished) —
    * the from-scratch form loses that the moment the corpus grows. */
  def splitDriftReportIndexed(spark: org.apache.spark.sql.SparkSession,
      prevSplitTable: String, compTable: String): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, prevSplitTable)
    transitionMatrix(
      spark.table(prevSplitTable)
        .select(col("doc_id"), col("split").as("split_was")),
      splitAssignIndexed(spark, compTable)
        .select(col("doc_id"), col("split").as("split_now")))
  }

  /** Systematic probability-proportional-to-size document sampling: walk
    * each `source`'s documents in deterministic hash order accumulating
    * token counts, and keep a document iff its token span crosses a
    * multiple of `stepTokens` — so inclusion probability is proportional
    * to document LENGTH (one kept doc per `stepTokens` corpus tokens).
    * This is the size-weighted sample a curation pipeline audits with
    * (inspect documents in proportion to the tokens they contribute, so
    * the review covers the corpus by token mass, not by document count);
    * docs longer than `stepTokens` are always kept.
    *
    * The hash-order token walk is [[graft.ops.Packing.tokenBudgetSample]]'s
    * plan (one shuffle on `source`, per-source window sum) with the prefix
    * predicate swapped for the boundary-crossing rule; all arithmetic is
    * exact integer `div` on longs, so the kept set is a pure function of
    * the corpus — no float drift, no `rand()`. For a pathologically hot
    * source, salt into sub-strata exactly as
    * [[graft.ops.Packing.tokenBudgetSampleSalted]] does. */
  def ppsSample(docs: DataFrame, stepTokens: Long = 400L): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.select(col("doc_id"), col("source"),
      size(SharedCorpus.wsOf(docs)).cast("long").as("n_tokens"),
      Packing.orderHash.as("h"))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .where(expr(s"(cum_before + n_tokens) div $stepTokens") >
        expr(s"cum_before div $stepTokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_before"))
  }
}
