package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec

/** Whole-surface physical-plan audit, run over every driver gate at the
  * smallest scale factor:
  *
  *  - every gate must PLAN — a wiring typo (bad column, missing table,
  *    unresolvable expression) surfaces here in seconds instead of at
  *    Verify time;
  *  - no gate may plan a `CartesianProduct` — the one join shape that
  *    cannot survive a 100 TB input. The engine's intentional one-row
  *    scalar joins (`crossJoin(broadcast(stats))`) plan as
  *    BroadcastNestedLoopJoin with a single-row build side, which is the
  *    correct scalable form and passes this audit.
  *
  * Gates with eager side effects (index builds, format sink→scan round
  * trips, BPE/k-means/TextRank training) run those effects here at
  * sf0.001, so the audit stays cheap while still exercising the real
  * code path of all queries. */
class PlanAuditSpec extends SparkTestBase {

  test("every gate plans, and no gate plans a CartesianProduct") {
    val d = "/root/testdata/sf0.001"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan =
        try fn(spark, d).queryExecution.executedPlan.toString
        catch { case e: Throwable =>
          fail(s"gate $name failed to plan: ${e.getMessage}")
        }
      assert(!plan.contains("CartesianProduct"),
        s"gate $name plans a CartesianProduct:\n$plan")
    }
  }

  test("second TPC-H wave plans the join shapes the queries are about") {
    val d = "/root/testdata/sf0.001"
    import graft.ops.Relational
    // Q4's EXISTS must be a semi join (no row multiplication), Q22's NOT
    // EXISTS an anti join, Q13's zero bucket an outer join — the shapes
    // are the point of the queries, so a regression to inner/exists-agg
    // forms is a correctness smell even if small-SF results still match
    val q4 = Relational.q4OrderPriority(spark, d).queryExecution.executedPlan.toString
    assert(q4.contains("LeftSemi"), s"Q4 EXISTS must plan a semi join:\n$q4")
    val q22 = Relational.q22IdleCustomers(spark, d).queryExecution.executedPlan.toString
    assert(q22.contains("LeftAnti"), s"Q22 NOT EXISTS must plan an anti join:\n$q22")
    val q13 = Relational.q13OrderDistribution(spark, d).queryExecution.executedPlan.toString
    assert(q13.contains("LeftOuter"), s"Q13 must keep the outer join:\n$q13")
    // the dimension sides of the report queries broadcast — the fact
    // table is the only shuffled input
    val q10 = Relational.q10ReturnedItems(spark, d).queryExecution.executedPlan.toString
    assert(q10.contains("BroadcastHashJoin"), s"Q10 dimensions must broadcast:\n$q10")
    val q7 = Relational.q7VolumeShipping(spark, d).queryExecution.executedPlan.toString
    assert(q7.contains("BroadcastHashJoin"), s"Q7 dimensions must broadcast:\n$q7")
  }

  test("third TPC-H wave plans the join shapes the queries are about") {
    val d = "/root/testdata/sf0.001"
    import graft.ops.Relational
    // Q21's two existence probes are the point: EXISTS-another-supplier
    // must be a semi join and NOT-EXISTS-another-late-supplier an anti
    // join — both against fact-scale inputs, neither multiplying rows
    val q21 = Relational.q21WaitingSuppliers(spark, d).queryExecution.executedPlan.toString
    assert(q21.contains("LeftSemi"), s"Q21 EXISTS must plan a semi join:\n$q21")
    assert(q21.contains("LeftAnti"), s"Q21 NOT EXISTS must plan an anti join:\n$q21")
    // Q2's correlated min decorrelates to aggregate + equality join, with
    // the supplier dimension chain broadcast
    val q2 = Relational.q2MinCostSupplier(spark, d).queryExecution.executedPlan.toString
    assert(q2.contains("BroadcastHashJoin"), s"Q2 dimensions must broadcast:\n$q2")
    // Q11/Q15's global scalar (total / max over the grouped view) joins
    // back as a single-row broadcast, never a shuffled join
    val q11 = Relational.q11ImportantParts(spark, d).queryExecution.executedPlan.toString
    assert(q11.contains("BroadcastNestedLoopJoin"),
      s"Q11's one-row totals must broadcast:\n$q11")
    // Catalyst turns Q15's cross-then-equality into an equi hash join on
    // the revenue; either broadcast form is the correct one-row-side plan
    val q15 = Relational.q15TopSupplier(spark, d).queryExecution.executedPlan.toString
    assert(q15.contains("BroadcastHashJoin") || q15.contains("BroadcastNestedLoopJoin"),
      s"Q15's one-row max must broadcast:\n$q15")
  }

  test("round-10 pipeline operators plan their intended shapes") {
    val d = "/root/testdata/sf0.001"
    // packGreedy: exactly ONE exchange (the bucket repartition) — the
    // within-partition sort and the fold must not add shuffles
    val pg = graft.ops.Packing.packGreedy(graft.sources.Tables.documents(spark, d))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(pg.split("== Initial Plan ==").head).length
    // the final orderBy adds a range exchange; the walk itself gets one
    assert(exchanges <= 2, s"packGreedy must shuffle once for the walk:\n$pg")
    // semanticDedup: candidate generation must be an equi-join on the
    // stored cell key, never a cartesian/BNLJ pair product
    try {
      graft.ops.Similarity.buildIvfIndex(graft.sources.Tables.embeddings(spark, d), "graft_sem_audit")
      val sd = graft.ops.Similarity.semanticDedupIndexed(spark, "graft_sem_audit")
        .queryExecution.executedPlan.toString
      assert(sd.contains("graft_sem_audit"), s"must read the stored index:\n$sd")
      assert(!sd.contains("CartesianProduct") &&
        "BroadcastNestedLoopJoin".r.findAllIn(sd).isEmpty,
        s"within-cell candidates must ride an equi join on cell:\n$sd")
    } finally {
      Seq("graft_sem_audit", "graft_sem_audit_pivots")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
    // drift: the two one-row totals must broadcast into the vocab join
    val docs = graft.sources.Tables.documents(spark, d)
    val dr = graft.ops.TextAnalysis.distributionDrift(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0),
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 =!= 0))
      .queryExecution.executedPlan.toString
    assert(dr.contains("BroadcastNestedLoopJoin") || dr.contains("BroadcastExchange"),
      s"drift totals must broadcast:\n$dr")
  }

  test("round-15 diagnostics and sketch probes plan their intended shapes") {
    val d = "/root/testdata/sf0.001"
    // join-cardinality: the top-k must be a distributed TakeOrdered, not
    // a single-task global sort of the key histogram
    val li = graft.sources.Tables.lineitem(spark, d)
    val jc = graft.ops.Skew.joinCardinalityReport(li, "l_partkey", li, "l_partkey")
      .queryExecution.executedPlan.toString
    assert(jc.contains("TakeOrderedAndProject"),
      s"histogram top-k must plan as TakeOrdered:\n$jc")
    // skew report: ONE scan feeds all audited columns (the explode fans
    // out of a single projection — a per-column rescan would Union), and
    // the top-k/stats branches over the shared histogram dedupe at
    // runtime via exchange reuse — so the EXECUTED plan either kept one
    // scan or replaced the second branch with a ReusedExchange
    val skDf = graft.ops.Skew.keySkewReport(li, Seq("l_suppkey", "l_returnflag"))
    skDf.collect()
    val sk = skDf.queryExecution.executedPlan.toString
    val scans = "FileScan".r.findAllIn(sk).length
    val reused = "ReusedExchange".r.findAllIn(sk).length
    assert(scans == 1 || reused >= 1,
      s"keySkewReport re-scanned the table ($scans scans, $reused reuses):\n$sk")
    // CMS probe: the folded sketch (bounded at depth*width rows) must be
    // the BROADCAST side, and the probe must not touch the corpus
    SparkEntry.queries("ta_heavy_hitters_indexed")(spark, d) // ensure built
    import spark.implicits._
    val cp = graft.ops.TextAnalysis.cmsEstimates(spark, "graft_cms_idx",
      Seq("alpha", "beta").toDF("word")).queryExecution.executedPlan.toString
    assert(cp.contains("BroadcastHashJoin") || cp.contains("BroadcastExchange"),
      s"CMS probe must broadcast the folded sketch:\n$cp")
    assert(!cp.contains("documents.parquet"),
      s"CMS probe must not rescan the corpus:\n$cp")
    // hist quantile probe: reads ONLY the stored counter relation — no
    // lineitem access at probe time
    SparkEntry.queries("agg_hist_quantiles_indexed")(spark, d) // ensure built
    val hq = graft.ops.Relational.histQuantiles(spark, "graft_hist_idx")
      .queryExecution.executedPlan.toString
    assert(hq.contains("graft_hist_idx") && !hq.contains("lineitem"),
      s"hist probe must read only the stored artifact:\n$hq")
  }

  test("shared-projection mode keeps the broadcasts raw mode gets") {
    // VERDICT r11 item 1: the r11 row-RDD pin had no stats, so every
    // auto-broadcast in the MinHash family silently degraded to a
    // sort-merge join under the tokenize-once serving mode (2-20x slower
    // than raw). The r12 columnar snapshot must plan the SAME join shapes:
    // at least as many broadcast joins, no extra sort-merge joins.
    val d = "/root/testdata/sf0.001"
    import graft.ops.{Dedup, SharedCorpus}
    import org.apache.spark.sql.functions.col
    def shapes(shared: Boolean): (Int, Int) = SharedCorpus.withMode(shared) {
      val all = SharedCorpus.docsTok(spark, d)
      val plan = Dedup.crossCorpusNearDups(
        all.filter(col("doc_id") % 3 =!= 0), all.filter(col("doc_id") % 3 === 0))
        .queryExecution.executedPlan.toString
      ("BroadcastHashJoin".r.findAllIn(plan).length,
        "SortMergeJoin".r.findAllIn(plan).length)
    }
    SharedCorpus.pin(spark, d)
    try {
      val (rawB, rawS) = shapes(shared = false)
      val (shB, shS) = shapes(shared = true)
      assert(shB >= rawB,
        s"shared mode lost broadcasts: raw=$rawB shared=$shB")
      assert(shS <= rawS,
        s"shared mode grew sort-merge joins: raw=$rawS shared=$shS")
      // and the snapshot scan must column-prune: the miner names only
      // doc_id+ws, so the pinned scan must not read `text`/`toks_alnum`.
      // The scan sits in the signature plan, which the pair miner
      // checkpoints (its own plan reads the checkpoint, not the scan).
      val sharedPlan = SharedCorpus.withMode(true) {
        Dedup.minHashSignatures(SharedCorpus.docsTok(spark, d))
          .queryExecution.executedPlan.toString
      }
      val scanSchemas = "ReadSchema: [^\n]+".r.findAllIn(sharedPlan).toList
        .filter(_.contains("toks_ws"))
      assert(scanSchemas.nonEmpty, s"no snapshot scan found:\n$sharedPlan")
      scanSchemas.foreach { rs =>
        assert(!rs.contains("text") && !rs.contains("toks_alnum"),
          s"pinned scan reads unpruned columns: $rs")
      }
    } finally SharedCorpus.unpin(spark, d)
  }

  test("fourth TPC-H wave plans the join shapes the queries are about") {
    val d = "/root/testdata/sf0.001"
    import graft.ops.Relational
    // Q8's whole dimension chain broadcasts — the orders⋈lineitem fact
    // join is the only exchange-scale join in the plan
    val q8 = Relational.q8MarketShare(spark, d).queryExecution.executedPlan.toString
    assert(q8.contains("BroadcastHashJoin"), s"Q8 dimensions must broadcast:\n$q8")
    // Q16's NOT IN must decorrelate to an anti join against the
    // blacklisted-supplier set, never a per-row subquery
    val q16 = Relational.q16SupplierCount(spark, d).queryExecution.executedPlan.toString
    assert(q16.contains("LeftAnti"), s"Q16 NOT IN must plan an anti join:\n$q16")
    // Q20's nested IN must be a semi join against the qualifying pairs
    val q20 = Relational.q20ExcessShare(spark, d).queryExecution.executedPlan.toString
    assert(q20.contains("LeftSemi"), s"Q20 IN must plan a semi join:\n$q20")
  }

  test("pareto ranks a top-k, never the whole parts aggregate in one window") {
    import graft.ops.Relational
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.WindowExec
    val h = new AdaptiveSparkPlanHelper {}
    val df = Relational.paretoParts(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan
    def topK(p: org.apache.spark.sql.execution.SparkPlan) =
      h.find(p)(_.isInstanceOf[TakeOrderedAndProjectExec]).isDefined
    assert(topK(plan), s"pareto must take its top-N as a top-k:\n$plan")
    val windows = h.collect(plan) { case w: WindowExec => w }
    assert(windows.nonEmpty, s"pareto ranks with a window:\n$plan")
    windows.foreach(w => assert(topK(w),
      s"a pareto window reads the full parts aggregate:\n$plan"))
  }

  private val planHelper =
    new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}

  /** What each single-partition window of `df`'s executed plan reads:
    * the operator under its stacked windows, sorts, exchanges (reused
    * ones included), projections and stage wrappers. Runs `df` first, so
    * AQE's final plan is the one inspected. */
  private def globalWindowInputs(df: DataFrame): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    @scala.annotation.tailrec
    def input(p: SparkPlan): SparkPlan = p match {
      case w: WindowExec => input(w.child)
      case s: SortExec => input(s.child)
      case pr: ProjectExec => input(pr.child)
      case e: ShuffleExchangeExec => input(e.child)
      case e: ReusedExchangeExec => input(e.child)
      case r: AQEShuffleReadExec => input(r.child)
      case q: QueryStageExec => input(q.plan)
      case c: WholeStageCodegenExec => input(c.child)
      case i: InputAdapter => input(i.child)
      case other => other
    }
    df.collect()
    val ws = planHelper.collect(df.queryExecution.executedPlan) {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(ws.nonEmpty, s"expected a single-partition window:\n${df.queryExecution.executedPlan}")
    ws.map(w => input(w.child))
  }

  /** An IVF index over the sf0.001 embeddings for the nprobe cases. */
  private def withIvfIndex(body: String => Unit): Unit = {
    val t = "graft_np_audit"
    try {
      graft.ops.Similarity.buildIvfIndex(
        graft.sources.Tables.embeddings(spark, sfDir), t)
      body(t)
    } finally Seq(t, s"${t}_pivots", s"${t}_meta")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("nprobePlanIndexed windows only the per-cell histogram") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    withIvfIndex { t =>
      val df = graft.ops.Similarity.nprobePlanIndexed(spark, t, Seq(0.5, 0.9))
      globalWindowInputs(df).foreach {
        case a: BaseAggregateExec =>
          assert(a.groupingExpressions.map(_.references.map(_.name).mkString) === Seq("cell"),
            s"the window must read the histogram keyed on cell:\n$a")
        case other => fail(s"the window reads more than the per-cell histogram:\n$other")
      }
    }
  }

  test("nprobeCalibration windows only the sample's (query, neighbor) pairs") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    withIvfIndex { t =>
      val df = graft.ops.Similarity.nprobeCalibration(spark, t,
        org.apache.spark.sql.functions.col("vec_id") < 20, Seq(0.5, 0.9), k = 5)
      globalWindowInputs(df).foreach {
        // the pairs are the sample's exact top-k joined to its cell ranks:
        // one side must be cut to k neighbors per query
        case j: BaseJoinExec =>
          val topK = j.children.exists(c => planHelper.find(c) {
            case f: FilterExec => f.condition.references.exists(_.name == "rn")
            case _ => false
          }.isDefined)
          assert(topK, s"the pairs must be cut to the top-k per sample query:\n$j")
        case other => fail(s"the window reads more than the (query, neighbor) pairs:\n$other")
      }
    }
  }

  test("hybridSearch ranks only the limited BM25 candidate list in one window") {
    import org.apache.spark.sql.execution.{GlobalLimitExec, TakeOrderedAndProjectExec}
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val df = graft.ops.TextAnalysis.hybridSearch(docs, Seq("data", "model"), candidates = 50)
    globalWindowInputs(df).foreach {
      case l: TakeOrderedAndProjectExec => assert(l.limit === 50, s"$l")
      case l: GlobalLimitExec => assert(l.limit === 50, s"$l")
      case other => fail(s"the sparse rank window reads more than the candidate list:\n$other")
    }
  }
}
