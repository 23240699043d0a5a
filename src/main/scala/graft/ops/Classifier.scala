package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.StoredIndex
import graft.sources.StoredIndex.{Family, Part}

/** Trained quality classification — the learned curation filter every
  * large-scale pretraining pipeline runs (the GPT-3/WebText pattern: fit a
  * simple classifier on quality labels, score the whole corpus with it).
  * Here: full-batch gradient-descent logistic regression over exact
  * per-document text features, trained INSIDE the engine, with the label
  * derived from [[TextAnalysis.qualityCol]]'s rule — so the model
  * demonstrably learns to approximate the hand-written filter from data
  * (ClassifierSpec measures the accuracy).
  *
  * This is the engine's fourth deterministic training loop (k-means, BPE,
  * TextRank) and its determinism scheme composes both previous tricks:
  *
  *  - per-example gradient contributions are one double expression
  *    `Scale * (sigmoid(z) - y) * x_j` ROUNDED TO A LONG before the
  *    global sum, so gradient aggregation is order-free exact integer
  *    addition (the TextRank rule);
  *  - weights are fixed-point longs updated on the DRIVER from those
  *    exact sums (`w -= round(lr * g / n)`, half-away-from-zero on all
  *    three engines' round), then re-embedded as literals — per-round
  *    driver traffic is ONE row of k gradient sums (the k-means/BPE
  *    rule).
  *
  * The DuckDB oracle replays every training round as chained CTEs and
  * must land on bit-identical weights, probabilities, and predictions.
  *
  * Scale shape: features are one corpus projection (cached across the
  * loop); each round is one map-side-combined 4-column integer aggregation
  * — no shuffle of anything document-sized, state is k longs. At 100 TB
  * this is exactly a production full-batch trainer's plan (minibatching
  * would change the sampling predicate, not the shape). */
object Classifier {

  /** Fixed-point scale for gradients AND weights. 1e6 keeps the rounded
    * per-example contribution far from the half-integer boundary relative
    * to the ≤1-ulp cross-engine spread of `exp` (≈1e-10 at this scale), so
    * a libm difference can never flip an integer — the same
    * quantize-before-sum reasoning as [[TextAnalysis.textRank]]. */
  val Scale = 1e6

  val DefaultIters = 32
  val DefaultLr = 4.0

  /** Label threshold on [[TextAnalysis.qualityCol]]: 0.7 splits the gate
    * corpora ~45/55, so the trained boundary is a real discrimination,
    * not the majority class. */
  val LabelThreshold = 0.7

  /** Half-away-from-zero to a long — matches Spark's round() and DuckDB's
    * round() for both signs (math.round would differ on negative halves). */
  private def halfUp(x: Double): Long =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Exact per-document features + label, all derivable identically in
    * DuckDB: bias, bounded length score, alnum ratio, en-stopword ratio;
    * y = 1 iff the quality rule clears [[LabelThreshold]]. `carry` passes
    * extra columns (e.g. a stream's event-time `ts`) through untouched —
    * the expressions are [[TextAnalysis.qualityScore]]'s own column
    * builders, so the feature values are identical with or without it. */
  def features(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val (ws, alnum) = (SharedCorpus.wsOf(docs), SharedCorpus.alnumOf(docs))
    val nTok = TextAnalysis.nTokensCol(ws)
    docs.select((col("doc_id") +: carry.map(col)) ++ Seq(
      lit(1.0).as("x0"),
      least(nTok.cast("double") / 100.0, lit(1.0)).as("x1"),
      (TextAnalysis.nAlnumCol(alnum).cast("double") / nTok).as("x2"),
      (TextAnalysis.markerHits("en", ws).cast("double") / nTok).as("x3"),
      when(TextAnalysis.qualityColOf(ws, alnum) >= LabelThreshold, 1.0)
        .otherwise(0.0).as("y")): _*)
  }

  private val FeatureCols = Seq("x0", "x1", "x2", "x3")

  /** z = (Σ w_j·x_j) / Scale with the weights embedded as literals, in a
    * FIXED left-associated order mirrored by the oracle SQL. */
  private def zCol(w: Seq[Long]): Column =
    FeatureCols.zipWithIndex
      .map { case (c, j) => lit(w(j)) * col(c) }
      .reduceLeft(_ + _) / lit(Scale)

  private def pCol(w: Seq[Long]): Column = lit(1.0) / (lit(1.0) + exp(-zCol(w)))

  /** Run `iters` full-batch GD rounds from zero weights; returns the
    * per-round fixed-point weight vectors (driver-sized: k longs each). */
  def train(docs: DataFrame, iters: Int = DefaultIters,
      lr: Double = DefaultLr): Seq[Seq[Long]] = {
    val f = features(docs).persist()
    val n = f.count()
    var w: Seq[Long] = Seq.fill(FeatureCols.size)(0L)
    val hist = Seq.newBuilder[Seq[Long]]
    for (_ <- 1 to iters) {
      val err = pCol(w) - col("y")
      val g = f.select(FeatureCols.map(c =>
        sum(round(lit(Scale) * err * col(c)).cast("long")).as(s"g_$c")): _*)
        .collect()(0)
      w = w.indices.map(j => w(j) - halfUp(lr * g.getLong(j) / n.toDouble))
      hist += w
    }
    f.unpersist()
    hist.result()
  }

  /** Stream-safe scoring projection under literal weights — the
    * probability (6-decimal quantized, the cross-engine float contract),
    * the 0.5 decision, and the rule label, with no ordering (a streaming
    * plan cannot sort). [[scores]] is this plus the batch gate's
    * deterministic order; [[graft.streaming.StreamOps.streamQualityScored]]
    * is this over an event-timed stream. */
  def scoredFrame(docs: DataFrame, w: Seq[Long], carry: Seq[String] = Nil): DataFrame =
    features(docs, carry).select((col("doc_id") +: carry.map(col)) ++ Seq(
      round(pCol(w), 6).as("p"),
      when(pCol(w) >= 0.5, 1L).otherwise(0L).as("pred"),
      col("y").cast("long").as("label")): _*)

  /** Score the corpus under trained weights — gate form. */
  def scores(docs: DataFrame, w: Seq[Long]): DataFrame =
    scoredFrame(docs, w)

  /** Train-then-score in one call — gate `ta_quality_classifier`. */
  def qualityClassifier(docs: DataFrame, iters: Int = DefaultIters,
      lr: Double = DefaultLr): DataFrame =
    scores(docs, train(docs, iters, lr).last)

  /** Build-once half of the classifier train/score split — the LM/BM25/
    * ANN lifecycle applied to the last trained-model family that lacked
    * it: the 32-round GD sweep runs once and the final fixed-point weight
    * vector persists as a one-row model table (k longs — the smallest
    * model artifact in the engine), stamped with the training corpus's
    * build manifest. At 100 TB training is a 32-pass corpus job you
    * schedule, not something a scorer re-runs; every downstream scorer
    * (batch or the streaming twin) then reads the published artifact. */
  def buildClassifierModel(docs: DataFrame, table: String,
      iters: Int = DefaultIters, lr: Double = DefaultLr): Unit = {
    val w = train(docs, iters, lr).last
    val spark = docs.sparkSession
    import spark.implicits._
    StoredIndex.build(Family(
        _ => s"kind=clf,iters=$iters,lr=$lr", "doc_id", "",
        Seq(Part("", Nil, 0))),
      table, docs)(_ => w.zipWithIndex.map { case (v, j) => (j, v) }.toDF("j", "w"))
  }

  /** Read the stored weight vector (index-ordered). */
  def storedWeights(spark: org.apache.spark.sql.SparkSession, table: String): Seq[Long] = {
    graft.sources.Formats.requireBuilt(spark, table)
    spark.table(table).orderBy("j").collect().map(_.getLong(1)).toSeq
  }

  /** Score half: [[scores]] semantics (same oracle) under the STORED
    * model — training is read (one k-row collect), never re-run; the
    * scored docs' feature projection is the only corpus-scale pass. */
  def scoresIndexed(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
      table: String): DataFrame =
    scores(docs, storedWeights(spark, table))
}
