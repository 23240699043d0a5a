package graft

import org.apache.spark.sql.functions._

import graft.ops.Sampling
import graft.sources.Tables

class SamplingSpec extends SparkTestBase {

  private def docs = Tables.documents(spark, sfDir)

  test("hashSample is deterministic, approximately sized, and repartition-stable") {
    val a = Sampling.hashSample(docs, "doc_id", 10).select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.hashSample(docs.repartition(7), "doc_id", 10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a === b, "sample must not depend on partitioning")
    val frac = a.size.toDouble / docs.count()
    assert(frac > 0.04 && frac < 0.2, s"10% sample landed at $frac")
    // independent samples under different salts
    val salted = Sampling.hashSample(docs, "doc_id", 10, salt = "x")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(salted !== a)
  }

  test("stratifiedHashSample downsamples only the targeted stratum") {
    val out = Sampling.stratifiedHashSample(docs, "doc_id", "lang", Map("en" -> 25)).cache()
    val enFrac = out.filter(col("lang") === "en").count().toDouble /
      docs.filter(col("lang") === "en").count()
    assert(enFrac > 0.1 && enFrac < 0.45, s"en fraction $enFrac")
    // untargeted strata kept whole
    assert(out.filter(col("lang") =!= "en").count() ===
      docs.filter(col("lang") =!= "en").count())
  }

  test("perStratumSample returns exactly n per stratum, deterministically") {
    val out = Sampling.perStratumSample(docs, "doc_id", "lang", 3)
    val counts = out.groupBy("lang").count().collect().map(_.getLong(1))
    assert(counts.forall(_ === 3L))
    val again = Sampling.perStratumSample(docs, "doc_id", "lang", 3)
    assert(out.select("doc_id").collect().toSeq === again.select("doc_id").collect().toSeq)
  }

  test("ppsSample: exact boundary accounting, over-step docs always kept, reshard-stable") {
    val step = 400L
    val out = Sampling.ppsSample(docs, step).cache()
    assert(out.count() > 0)
    // telescoping identity: non-kept docs cross zero boundaries, so the
    // kept docs' crossings sum to total_tokens div step per source exactly
    val crossings = out
      .withColumn("x", expr(s"(cum_before + n_tokens) div $step - cum_before div $step"))
      .groupBy("source").agg(sum("x").as("sx"))
    val totals = docs
      .select(col("source"), size(split(lower(col("text")), "\\s+")).cast("long").as("n"))
      .groupBy("source").agg(expr(s"sum(n) div $step").as("tx"))
    assert(crossings.join(totals, "source").filter(col("sx") =!= col("tx")).count() === 0)
    // a document spanning a whole step is always selected (p = 1 in PPS)
    val big = docs.filter(size(split(lower(col("text")), "\\s+")) >= step)
    assert(big.join(out, Seq("doc_id"), "left_anti").count() === 0)
    // pure function of the corpus, not the partitioning
    val again = Sampling.ppsSample(docs.repartition(7), step)
    assert(out.exceptAll(again).count() === 0 && again.exceptAll(out).count() === 0)
  }

  test("splitAssign is disjoint, exhaustive, repartition-stable, and " +
      "refuses percentages that do not cover the corpus") {
    val docs = Tables.documents(spark, sfDir)
    val out = Sampling.splitAssign(docs, "doc_id")
    // exhaustive: every row lands in exactly one named split
    assert(out.filter(col("split").isNull).count() === 0)
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet === Set("train", "val", "test"))
    assert(counts.values.sum === docs.count())
    // the 80/10/10 shape holds to hash tolerance
    val n = docs.count().toDouble
    assert(counts("train") / n > 0.7 && counts("train") / n < 0.9)
    // stable under repartitioning (the randomSplit failure mode)
    val again = Sampling.splitAssign(docs.repartition(7), "doc_id")
      .select("doc_id", "split")
    assert(out.select("doc_id", "split").exceptAll(again).count() === 0)
    // an under-covering split spec fails loudly instead of leaking rows
    intercept[IllegalArgumentException] {
      Sampling.splitAssign(docs, "doc_id", Seq("train" -> 80, "val" -> 15))
    }
  }

  test("splitDriftReport: identical corpora certify a diagonal-only " +
      "matrix; growth accounts every old doc and matches direct compute") {
    val docs = Tables.documents(spark, sfDir)
    // self-vs-self: the stability certificate - zero off-diagonal mass
    val same = Sampling.splitDriftReport(docs, docs)
    assert(same.filter(col("split_was") =!= col("split_now")).count() === 0)
    assert(same.agg(sum("n_docs")).head().getLong(0) === docs.count())
    // growth: every yesterday-doc appears exactly once in the matrix
    val old = docs.filter(col("doc_id") % 4 =!= 1)
    val drift = Sampling.splitDriftReport(old, docs)
    assert(drift.agg(sum("n_docs")).head().getLong(0) === old.count())
    // and the matrix equals the directly computed transition counts
    val a = Sampling.splitAssignLeakFree(old)
    val b = Sampling.splitAssignLeakFree(docs)
    val direct = a.select(col("doc_id"), col("split").as("w"))
      .join(b.select(col("doc_id"), col("split").as("n")), Seq("doc_id"))
      .groupBy("w", "n").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = drift.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === direct)
  }

  test("stored-lifecycle split: indexed projection == from-scratch, the " +
      "probe never re-bands the corpus, and the drift join is exchange-free") {
    val docs = Tables.documents(spark, sfDir)
    val old = docs.filter(col("doc_id") % 4 =!= 1)
    // one day of the pipeline: cluster yesterday, publish, fold the batch
    graft.ops.Dedup.buildBandIndex(old, "t_split_band")
    graft.ops.Dedup.buildComponentsTable(old, "t_split_comp")
    Sampling.publishSplitAssignment(spark, "t_split_comp", "t_split_assign")
    graft.ops.Dedup.mergeComponentsIncr(spark, "t_split_comp", "t_split_band",
      docs.filter(col("doc_id") % 4 === 1))
    // the merged table's projection equals the from-scratch leak-free
    // split of the full corpus, row for row
    val indexed = Sampling.splitAssignIndexed(spark, "t_split_comp")
    val scratch = Sampling.splitAssignLeakFree(docs)
    assert(indexed.exceptAll(scratch).count() === 0 &&
      scratch.exceptAll(indexed).count() === 0)
    // published yesterday-assignment equals the from-scratch split of old
    val pubWas = spark.table("t_split_assign")
    val scratchOld = Sampling.splitAssignLeakFree(old)
    assert(pubWas.exceptAll(scratchOld).count() === 0 &&
      scratchOld.exceptAll(pubWas).count() === 0)
    // THE lifecycle contract: the serving projection reads only the
    // stored label table — no shingling, no signatures, no band mining
    val probePlan = indexed.queryExecution.executedPlan.toString
    assert(probePlan.contains("t_split_comp"),
      s"probe must read the stored components table:\n$probePlan")
    // (md5 is NOT in the banned list: the split-bucket hash itself is an
    // md5 over the stored label — corpus re-derivation shows up as the
    // tokenize/shingle/band machinery below, or a documents scan)
    Seq("Explode", "RegExpReplace", "documents.parquet").foreach(bad =>
      assert(!probePlan.contains(bad),
        s"stored-split probe re-derives the corpus ('$bad' in plan):\n$probePlan"))
    // drift = one join of two doc_id-bucketed tables: with broadcast off
    // (at 100 TB both sides are corpus-sized — the sort-merge form is the
    // scale plan), neither join input may shuffle; the only exchange is
    // the tiny matrix aggregation's on (split_was, split_now)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Sampling.transitionPlan(
        spark.table("t_split_assign").select(col("doc_id"), col("split").as("split_was")),
        Sampling.splitAssignIndexed(spark, "t_split_comp")
          .select(col("doc_id"), col("split").as("split_now")))
      val driftPlan = joined.queryExecution.executedPlan.toString
      assert(!driftPlan.contains("Exchange hashpartitioning(doc_id"),
        s"drift join shuffled a bucketed input:\n$driftPlan")
      assert(driftPlan.contains("SortMergeJoin"),
        s"expected the bucketed sort-merge form:\n$driftPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    // and the indexed drift report equals the from-scratch one
    val viaIndex = Sampling.splitDriftReportIndexed(spark, "t_split_assign", "t_split_comp")
    val viaScratch = Sampling.splitDriftReport(old, docs)
    assert(viaIndex.collect().map(_.toString).sorted.toSeq === viaScratch.collect().map(_.toString).sorted.toSeq)
  }

  test("splitAssignLeakFree: no near-dup pair straddles a split, " +
      "exhaustive, and singletons degrade to the per-label hash split") {
    val docs = Tables.documents(spark, sfDir)
    val out = Sampling.splitAssignLeakFree(docs)
    // exhaustive and one row per document
    assert(out.count() === docs.count())
    assert(out.filter(col("split").isNull).count() === 0)
    // THE leakage contract: every MinHash near-dup pair shares a split
    val pairs = graft.ops.Dedup.minHashPairs(docs).select("doc_a", "doc_b")
    val a = out.select(col("doc_id").as("doc_a"), col("split").as("split_a"))
    val b = out.select(col("doc_id").as("doc_b"), col("split").as("split_b"))
    val straddle = pairs.join(a, "doc_a").join(b, "doc_b")
      .filter(col("split_a") =!= col("split_b"))
    assert(pairs.count() > 0, "corpus must carry near-dup pairs to test on")
    assert(straddle.count() === 0,
      "a near-dup pair crossed train/val/test - the leak this op closes")
    // every member of a component shares its label's split (label-pure)
    assert(out.groupBy("label").agg(countDistinct("split").as("k"))
      .filter(col("k") > 1).count() === 0)
    // singleton labels (label == doc_id, no near-dup) match splitAssign
    // on the label key directly - the degenerate per-doc split
    val singles = out.filter(col("label") === col("doc_id"))
    val plain = Sampling.splitAssign(
      out.select("doc_id", "label"), "label").select("doc_id", "split")
    assert(singles.select("doc_id", "split").exceptAll(plain).count() === 0)
  }
}
