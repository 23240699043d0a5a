package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.StoredIndex
import graft.sources.StoredIndex.{Buckets, Family, Part}

/** Similarity search over an embedding column (`ARRAY<FLOAT>`) — north-star
  * extension (SURVEY §2c). The reference has nothing comparable; this is
  * the approximate-nearest-neighbor surface a training-data pipeline needs
  * for near-dup mining and retrieval curation.
  *
  * Two tiers, same results contract:
  *  - [[bruteForceTopK]]: exact cosine top-k. The query side is tiny and
  *    broadcast, so the plan is one narrow pass over the corpus — no
  *    shuffle of the big side at all until the final per-query top-k
  *    (which AQE plans as a cheap partial top-k). Right answer for
  *    |queries| × |corpus| up to ~10⁹ pairs.
  *  - [[lshTopK]]: random-hyperplane LSH. Corpus and queries are bucketed
  *    by sign-pattern bands of their projections; candidates are pairs
  *    sharing a band bucket, then exact cosine re-ranks. At 100 TB the
  *    bucket join replaces the cross product with a hash-shuffle on
  *    uniformly distributed band keys; recall tunes with bands × bits.
  *
  * All dot products run as codegen'd higher-order functions
  * (`zip_with` + `aggregate`) over doubles in array order — bit-identical
  * to DuckDB's `list_cosine_similarity`, which the oracle gate exploits.
  * Hyperplane weights are md5-derived (deterministic, seedless), so LSH
  * results are reproducible across engines and runs.
  */
object Similarity {

  /** Sequential-fold dot product of two float-array columns in double
    * precision — the same accumulation order DuckDB uses, so scores are
    * bit-reproducible for the oracle. Backed by the native codegen'd
    * [[graft.functions.FloatDot]] expression; the equivalent composable
    * form (`aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0D,
    * (s,v) -> s+v)`) computes the same bits ~20x slower (interpreted
    * lambdas + an intermediate array per row), which dominated the bench. */
  def dot(a: String, b: String): Column = expr(s"float_dot($a, $b)")

  /** Cosine as dot / (sqrt(na) * sqrt(nb)) — this exact association is what
    * DuckDB's `list_cosine_similarity` produces (verified bit-equal over
    * the full pair set), so precomputed per-side norms keep the oracle
    * match while doing each self-dot once per vector, not once per pair. */
  def cosine(a: String, b: String): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Exact top-k neighbors by cosine for each query vector (queries =
    * `queryPred` subset of the corpus; self-pairs excluded). The query set
    * is broadcast; ties break on neighbor id for determinism. Norms are
    * computed once per side before the join. */
  def bruteForceTopK(emb: DataFrame, queryPred: Column, k: Int = 5): DataFrame = {
    val q = emb.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        sqrt(dot("embedding", "embedding")).as("qnorm"))
    val n = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
      sqrt(dot("embedding", "embedding")).as("nnorm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(q).join(n, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot("qv", "nv") / (col("qnorm") * col("nnorm")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "rn", "cos")
  }

  /** Token vectors per MaxSim document: the stored-index probe groups
    * `vec_id div MaxSimGroupSize`. */
  val MaxSimGroupSize = 8

  /** LATE-INTERACTION (ColBERT-style MaxSim) retrieval — multi-vector
    * scoring for the serving stack: a "document" is a GROUP of token
    * vectors (here `vec_id div groupSize` over the embeddings table — the
    * plumbing a real corpus feeds with per-token encoder outputs), and
    * `score(q, d) = Σ_{t ∈ q} max_{u ∈ d} cos(t, u)` — each query token
    * finds its best-matching document token, so a long document can't
    * dilute a strong local match the way single-vector pooling does.
    *
    * Scale shape: the query panel's tokens broadcast against ONE corpus
    * token scan (the [[bruteForceTopK]] form); the per-(query, doc,
    * q-token) max and the per-(query, doc) sum are ordinary partial-
    * aggregating shuffles on bounded keys. Exactness: `max` is
    * order-independent, and the token-sum is taken over fixed-point
    * `floor(cos · 2^24)` LONGs ([[QuantScale]] — exact, associative,
    * engine-replayable) rather than floats, so the score and its ranking
    * are bit-stable across partition layouts AND engines (a double sum
    * would depend on Spark's reduce order and could never be
    * oracle-replayed). Output `score` is the quantized long (BIGINT
    * outward per the outward-type rule); ties break on neighbor id. */
  def maxSimTopK(emb: DataFrame, queryPred: Column, groupSize: Int = MaxSimGroupSize,
      k: Int = 5): DataFrame =
    maxSimTopKTokens(
      emb.select(expr(s"vec_id div $groupSize").as("dkey"),
        col("vec_id").as("tok_id"), col("embedding")),
      queryPred, k)

  /** Hard bound on the exact tier's broadcast query panel, in TOKEN rows.
    * The panel rides a [[broadcast]] hint into a nested-loop join (the
    * only join shape the non-equi `query_doc =!= neighbor_doc` predicate
    * admits without an index), so a corpus-scale panel would hit the 8 GB
    * broadcast cap / driver memory long before the join even starts
    * 1M rows × ~(4·dim + 24) B ≈ 150 MB at dim=32 —
    * comfortably broadcastable; anything larger is a workload for
    * [[maxSimTopKIndexed]], whose per-token cell probes are equi-joins
    * that never broadcast the corpus side. Enforced loudly (the
    * guardedLong discipline): a silent fallback would be a
    * CartesianProduct — the one plan shape this engine bans. */
  val MaxSimExactPanelRows: Long = 1_000_000L

  private def requireBroadcastablePanel(q: DataFrame, op: String): Unit = {
    val qn = q.count()
    require(qn <= MaxSimExactPanelRows,
      s"$op query panel has $qn token rows — the exact MaxSim tier " +
        s"broadcasts the panel into a nested-loop join and is bounded at " +
        s"$MaxSimExactPanelRows rows; route corpus-scale panels through " +
        "maxSimTopKIndexed (cell-probed equi-joins, no panel broadcast)")
  }

  /** [[maxSimTopK]] over an EXPLICIT token table `(dkey, tok_id,
    * embedding)` — the form a real late-interaction corpus feeds (per-token
    * encoder outputs keyed by their document), extracted so the text
    * composition path ([[graft.ops.TextAnalysis.hashEmbedWindows]] →
    * MaxSim) runs the identical scoring plan as the synthetic-group gate.
    * Same exactness contract: fixed-point `floor(cos·2^24)` LONG sums,
    * ties on neighbor id. */
  def maxSimTopKTokens(toks: DataFrame, queryPred: Column, k: Int = 5): DataFrame = {
    val q = toks.filter(queryPred)
      .select(col("dkey").as("query_doc"), col("tok_id").as("qtok"),
        col("embedding").as("qv"), sqrt(dot("embedding", "embedding")).as("qnorm"))
    val c = toks.select(col("dkey").as("neighbor_doc"), col("embedding").as("nv"),
      sqrt(dot("embedding", "embedding")).as("nnorm"))
    requireBroadcastablePanel(q, "maxSimTopKTokens")
    val best = broadcast(q).join(c, col("query_doc") =!= col("neighbor_doc"))
      .withColumn("cos", dot("qv", "nv") / (col("qnorm") * col("nnorm")))
      .groupBy("query_doc", "neighbor_doc", "qtok")
      .agg(max("cos").as("m"))
    val w = Window.partitionBy(col("query_doc"))
      .orderBy(col("score").desc, col("neighbor_doc"))
    best
      .groupBy("query_doc", "neighbor_doc")
      .agg(sum(floor(col("m") * lit(QuantScale.toDouble)).cast("long")).as("score"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("query_doc", "neighbor_doc", "rn", "score")
  }

  /** Stored-index serving twin of [[maxSimTopK]] — two-stage
    * late-interaction retrieval over the SAME stored artifacts the
    * single-vector tiers use (nothing multi-vector-specific has to be
    * built or maintained):
    *
    *  - stage 1 (shortlist): each query TOKEN probes its `nprobe`
    *    nearest IVF cells (stored pivots, broadcast) and scores a
    *    PARTIAL MaxSim against only the token vectors in probed cells —
    *    cell-bucketed index side, so the scan is bucket-pruned exactly
    *    like [[ivfTopKIndexed]]; per query doc the top `shortlist`
    *    candidate docs survive;
    *  - stage 2 (exact): a candidate doc's token ids are ARITHMETIC
    *    (`dkey·MaxSimGroupSize + 0..MaxSimGroupSize−1` — the group
    *    layout is a key range, not a lookup), so the exact re-rank
    *    fetches exactly those rows from the id-bucketed full-precision
    *    vector store
    *    ([[buildVectorStore]] — the same store the IVF×PQ refine tier
    *    reads; store side never shuffles) and recomputes [[maxSimTopK]]'s
    *    fixed-point score over ALL the candidate's tokens. Approximation
    *    affects WHICH docs make the shortlist, never their final order
    *    or score — the refine-after-compress contract.
    *
    * Both stages quantize per-token maxima to `floor(cos·2^24)` longs
    * before summing, so shortlist and final ranking are bit-stable
    * across partition layouts and engines. */
  def maxSimTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      ivfTable: String, vecTable: String, queryPred: Column,
      k: Int = 5, nprobe: Int = 2, shortlist: Int = 20): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, ivfTable)
    graft.sources.Formats.requireBuilt(spark, vecTable)
    val piv = spark.table(s"${ivfTable}_pivots")
    val toks = spark.table(ivfTable)
      .select(expr(s"vec_id div $MaxSimGroupSize").as("dkey"), col("vec_id"),
        col("embedding"), col("cell"))
    def quantSum(m: Column): Column =
      sum(floor(m * lit(QuantScale.toDouble)).cast("long"))
    val q = toks.filter(queryPred)
      .select(col("dkey").as("query_doc"), col("vec_id").as("qtok"),
        col("embedding").as("qv"))
    // the probe panel (q × nprobe rows) broadcasts too — same loud bound
    // as the exact tier; unlike there, the corpus side here
    // is equi-joined on cell, so only the panel size is at stake
    requireBroadcastablePanel(q, "maxSimTopKIndexed")
    // per-token probed cells off the stored pivots
    val wProbe = Window.partitionBy(col("qtok"))
      .orderBy(col("pcos").desc, col("pid"))
    val qprobe = q.crossJoin(broadcast(piv))
      .withColumn("pcos", cosine("qv", "pv"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("query_doc"), col("qtok"), col("qv"),
        col("pid").cast("long").as("cell"))
    // stage 1: partial MaxSim over probed cells only, then the shortlist
    val cells = toks.select(col("dkey").as("neighbor_doc"),
      col("embedding").as("nv"), col("cell"))
    val wShort = Window.partitionBy(col("query_doc"))
      .orderBy(col("partial").desc, col("neighbor_doc"))
    val cand = broadcast(qprobe).join(cells, Seq("cell"))
      .filter(col("query_doc") =!= col("neighbor_doc"))
      .select("query_doc", "qtok", "qv", "neighbor_doc", "nv")
      .distinct() // a (q-token, token) pair reachable via 2 cells scores once
      .withColumn("cos", cosine("qv", "nv"))
      .groupBy("query_doc", "neighbor_doc", "qtok").agg(max("cos").as("m"))
      .groupBy("query_doc", "neighbor_doc").agg(quantSum(col("m")).as("partial"))
      .withColumn("srn", row_number().over(wShort))
      .filter(col("srn") <= shortlist)
      .select("query_doc", "neighbor_doc")
    // stage 2: exact fixed-point MaxSim over the candidates' FULL token
    // sets, fetched by arithmetic id range from the bucketed store
    val candToks = cand
      .withColumn("i", explode(sequence(lit(0), lit(MaxSimGroupSize - 1))))
      .select(col("query_doc"), col("neighbor_doc"),
        (col("neighbor_doc") * MaxSimGroupSize + col("i")).as("vec_id"))
    val store = spark.table(vecTable)
      .select(col("vec_id"), col("embedding").as("nv"))
    val w = Window.partitionBy(col("query_doc"))
      .orderBy(col("score").desc, col("neighbor_doc"))
    candToks.join(store, Seq("vec_id"))
      .join(broadcast(q), Seq("query_doc"))
      .withColumn("cos", cosine("qv", "nv"))
      .groupBy("query_doc", "neighbor_doc", "qtok").agg(max("cos").as("m"))
      .groupBy("query_doc", "neighbor_doc").agg(quantSum(col("m")).as("score"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("query_doc", "neighbor_doc", "rn", "score")
  }

  /** Default (nprobe × shortlist) grid for [[maxSimProbeCalibration]]:
    * covers the cheap corner (1,5) through 4× the serving defaults on
    * both axes — wide enough that the pick is a real optimum, small
    * enough that calibration stays a handful of sample-sized probes. */
  val DefaultMaxSimGrid: Seq[(Int, Int)] =
    Seq((1, 5), (1, 10), (1, 20), (2, 5), (2, 10), (2, 20), (4, 10), (4, 20))

  /** Recall surface of the per-token probe ([[maxSimTopKIndexed]]) over
    * an (nprobe × shortlist) grid, against the exact MaxSim tier on the
    * SAME stored corpus — the late-interaction analogue of
    * [[nprobeCalibration]]. The per-token probe's
    * recall behaves structurally unlike single-vector IVF, so the
    * single-axis monitors don't transfer: a document reaches the
    * shortlist if ANY of its tokens lands a strong partial hit in a
    * probed cell, and widening `shortlist` recovers docs whose partial
    * score under-ranks their exact score — a failure mode `nprobe` alone
    * cannot buy back. The two axes must be swept TOGETHER; returns one
    * row per grid point of [[DefaultMaxSimGrid]]
    * `(nprobe, shortlist, sample_recall)` with the mean per-query
    * recall@k over the sample, at [[maxSimTopK]]'s default group size
    * and k.
    *
    * Scale shape: the expensive exact ground truth runs ONCE over the
    * sample (the deployment pattern — recall audits run on a query
    * sample, not the workload) and each grid point is one bucket-pruned
    * probe; per-point driver traffic is a single averaged double. */
  def maxSimProbeCalibration(spark: org.apache.spark.sql.SparkSession,
      ivfTable: String, vecTable: String, samplePred: Column): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, ivfTable)
    import spark.implicits._
    def asQn(df: DataFrame): DataFrame = df
      .withColumnRenamed("query_doc", "query_id")
      .withColumnRenamed("neighbor_doc", "neighbor_id")
    val emb = spark.table(ivfTable).select(col("vec_id"), col("embedding"))
    val exact = asQn(maxSimTopK(emb, samplePred)).persist()
    // loud empty-sample contract, same cause-naming as calibrateNprobe
    // — an empty grid sweep must not read as zero recall
    require(exact.count() > 0,
      s"MaxSim calibration sample for '$ivfTable' is empty (predicate " +
        "selected no query docs with neighbors) — widen samplePred")
    val rows = DefaultMaxSimGrid.map { case (np, sl) =>
      val approx = asQn(maxSimTopKIndexed(spark, ivfTable, vecTable,
        samplePred, nprobe = np, shortlist = sl))
      val rec = recallAtK(approx, exact)
        .agg(avg("recall")).head().getDouble(0)
      (np, sl, rec)
    }
    exact.unpersist()
    rows.toDF("nprobe", "shortlist", "sample_recall")
  }

  /** Scalar pick over [[maxSimProbeCalibration]]'s surface: the CHEAPEST
    * grid point of [[DefaultMaxSimGrid]] whose sample recall clears
    * `recallTarget` + [[RecallMargin]] (the margin cushions the sample
    * estimate's binomial error exactly as [[calibrateNprobe]] documents).
    * Cost order is `nprobe · shortlist` first (stage-1 probed-cell volume
    * × stage-2 exact re-rank fetches —
    * the two terms a serving deployment pays), then the narrower probe.
    * Loud when even the widest grid point misses the adjusted target on
    * the sample: that is an index-build/grid problem, not a default to
    * silently under-serve. */
  def calibrateMaxSimProbe(spark: org.apache.spark.sql.SparkSession,
      ivfTable: String, vecTable: String, samplePred: Column,
      recallTarget: Double): (Int, Int) = {
    val adjusted = math.min(recallTarget + RecallMargin, 1.0)
    val surface = maxSimProbeCalibration(spark, ivfTable, vecTable, samplePred)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val met = surface.filter(_._3 >= adjusted)
    require(met.nonEmpty,
      s"no (nprobe, shortlist) in grid ${DefaultMaxSimGrid.mkString(",")} reaches " +
        s"margin-adjusted recall $adjusted (target $recallTarget + margin " +
        s"$RecallMargin) on the sample for '$ivfTable' — best was " +
        f"${surface.map(_._3).max}%.3f; widen the grid or retrain the index")
    val (np, sl, _) = met.minBy { case (n, s, _) => (n.toLong * s, n, s) }
    (np, sl)
  }

  /** HARD-NEGATIVE mining — the contrastive-training data op: for each
    * query, the top-k corpus vectors most similar to it that are NOT the
    * query and NOT among its known positives. These "closest wrong
    * answers" are the negatives that actually teach an embedding model —
    * random negatives are trivially separable and contribute ~nothing to
    * the loss (the in-batch/ANCE mining setup). `positives` is a
    * `(query_id, pos_id)` pair table, broadcast into an anti-join BEFORE
    * the rank, so an excluded positive never displaces a real negative
    * out of the top-k. Scale shape: identical to [[bruteForceTopK]]
    * (broadcast query panel × one corpus scan — exact, the right form
    * for a sampled query panel); a corpus-scale mining run swaps the
    * shortlist side for any indexed tier and keeps this exact form as
    * its recall oracle. */
  def hardNegatives(emb: DataFrame, queryPred: Column, positives: DataFrame,
      k: Int = 5): DataFrame = {
    val q = emb.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        sqrt(dot("embedding", "embedding")).as("qnorm"))
    val n = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
      sqrt(dot("embedding", "embedding")).as("nnorm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(q).join(n, col("query_id") =!= col("neighbor_id"))
      .join(broadcast(positives.select(col("query_id"),
        col("pos_id").as("neighbor_id"))),
        Seq("query_id", "neighbor_id"), "left_anti")
      .withColumn("cos", dot("qv", "nv") / (col("qnorm") * col("nnorm")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "rn", "cos")
  }

  /** MMR (maximal marginal relevance) DIVERSIFIED retrieval — the
    * redundancy killer for RAG context windows and dedup-aware search:
    * greedily build a k-list where each pick maximizes
    * `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)` — relevance traded
    * against similarity to what is ALREADY picked, so near-duplicate
    * hits can't crowd the list. Two-stage like every serving op here:
    * an exact `shortlist`-sized cosine stage bounds the problem (TWO
    * cluster jobs: the corpus scan for the shortlist, one
    * members-sized join for the pairwise sims), then the greedy loop
    * runs on the DRIVER over the collected shortlist — queries×shortlist
    * relevances plus queries×shortlist² sims, a few thousand doubles:
    * exactly the driver-bounded model-state discipline of the k-means
    * grams and BPE merge tables. (A first cut chained the k argmax
    * stages lazily into the plan; each stage referenced the previous
    * selection three times, so Spark re-executed the corpus-scan
    * shortlist ~3^k times — 11 s at sf0.1 vs 0.5 s collected.) Every
    * argmax tie breaks on `vec_id`; the first pick's penalty is an empty
    * max = 0, i.e. pure relevance. λ defaults to 0.75 so both λ and 1−λ
    * are EXACT binary doubles — an oracle replaying `0.3` against
    * Scala's `1.0 - 0.7 = 0.30000000000000004` would hash-diverge. */
  def mmrTopK(emb: DataFrame, queryPred: Column, k: Int = 5,
      shortlist: Int = 20, lam: Double = 0.75): DataFrame = {
    val top = bruteForceTopK(emb, queryPred, shortlist)
      .select(col("query_id"), col("neighbor_id").as("cand"), col("cos").as("rel"))
    val vecs = emb.select(col("vec_id"), col("embedding"),
      sqrt(dot("embedding", "embedding")).as("nrm"))
    val withVec = top.join(vecs, col("cand") === col("vec_id"))
      .select(col("query_id"), col("cand"), col("rel"),
        col("embedding").as("cv"), col("nrm").as("cn"))
    val simRows = withVec.as("a").join(withVec.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.cand") =!= col("b.cand"))
      .select(col("a.query_id").as("query_id"), col("a.cand").as("ca"),
        col("b.cand").as("cb"),
        (dot("a.cv", "b.cv") / (col("a.cn") * col("b.cn"))).as("sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
      .toMap
    val rels = top.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val out = rels.groupBy(_._1).toSeq.flatMap { case (q, cs) =>
      val cands = cs.map { case (_, c, rel) => (c, rel) }.sortBy(_._1)
      var selected = Vector.empty[(Long, Double)] // (vec_id, mmr)
      // a shortlist smaller than k (tiny corpus, isolated vector) emits
      // the partial selection — the fewer-than-k contract every top-k
      // operator here shares — instead of maxBy on an empty set
      var exhausted = false
      for (_ <- 1 to k if !exhausted) {
        val picked = selected.map(_._1).toSet
        val remaining = cands.filter(c => !picked(c._1))
        if (remaining.isEmpty) exhausted = true
        else {
          val best = remaining.map { case (c, rel) =>
            val pen =
              if (selected.isEmpty) 0.0
              else selected.map(s => simRows((q, c, s._1))).max
            (c, lam * rel - (1.0 - lam) * pen)
          }.maxBy { case (c, m) => (m, -c) } // mmr desc, vec_id asc
          selected = selected :+ best
        }
      }
      selected.zipWithIndex.map { case ((c, m), i) => (q, (i + 1).toLong, c, m) }
    }
    emb.sparkSession.createDataFrame(out.sortBy(r => (r._1, r._2)))
      .toDF("query_id", "step", "vec_id", "mmr_score")
  }

  /** [[prefixRefineTopK]]'s prefix length, of [[Dim]] components. */
  val PrefDim = 16

  /** Matryoshka-style PREFIX retrieval — dimension truncation as the
    * compression lever (MRL-trained embeddings concentrate information
    * in the leading components): stage 1 shortlists `candidates`
    * neighbors by cosine over only the first [[PrefDim]] components
    * (scanning 16 of 64 dims reads ¼ of the float bytes, the same
    * bytes-per-row lever PQ pulls with codes), stage 2 re-ranks the
    * shortlist by exact full-dimension cosine — the
    * [[ivfPqRefineTopKIndexed]] two-stage discipline, so truncation
    * error affects which candidates make the shortlist, never their
    * final order. Deterministic throughout: prefix ties break on
    * neighbor_id, the re-rank on exact cosine then neighbor_id. */
  def prefixRefineTopK(emb: DataFrame, queryPred: Column,
      candidates: Int = 20, k: Int = 5): DataFrame = {
    val pref = slice(col("embedding"), 1, PrefDim)
    val q = emb.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        pref.as("qp"))
    val n = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
      pref.as("np"))
    val wP = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("neighbor_id"))
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(q).join(n, col("query_id") =!= col("neighbor_id"))
      .withColumn("pcos", dot("qp", "np") /
        (sqrt(dot("qp", "qp")) * sqrt(dot("np", "np"))))
      .withColumn("rp", row_number().over(wP))
      .filter(col("rp") <= candidates)
      .withColumn("cos", dot("qv", "nv") /
        (sqrt(dot("qv", "qv")) * sqrt(dot("nv", "nv"))))
      .withColumn("rn", row_number().over(wF).cast("long"))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "rn", "cos")
  }

  /** Index-quality monitor: per-query recall@k of an approximate
    * retrieval result against the exact one — the number every production
    * ANN deployment tracks to decide when an index needs re-training or a
    * wider probe (nprobe/band budget). Both inputs are `(query_id,
    * neighbor_id, …)` top-k tables (any tier: LSH, IVF, PQ, the refine
    * path); the hit count is one semi-join, the ratio a single division
    * of exact integers.
    *
    * Scale shape: both sides are top-k outputs (k rows per query — tiny
    * next to the corpus), so the audit joins two query-keyed small tables;
    * the expensive exact side is the ground-truth job a deployment runs
    * on a SAMPLE of queries, which is exactly how the gate wires it. */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val hits = approx.select("query_id", "neighbor_id")
      .join(exact.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("n_exact"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / col("n_exact"))
          .as("recall"))
  }

  /** All near-duplicate pairs with cosine ≥ `minCos` — EXACT tier
    * (symmetric cross join, a < b), which is O(n²) by construction. This
    * is a verification utility for bounded corpora: SimilaritySpec uses it
    * as the ground truth that measures [[embeddingNearDupPairsLSH]]'s
    * recall. The gated/benched near-dup miner is the LSH twin — at scale
    * the band join is the only viable plan, and keeping the cross product
    * out of the production path is the point. */
  def embeddingNearDupPairs(emb: DataFrame, minCos: Double = 0.4): DataFrame = {
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      sqrt(dot("embedding", "embedding")).as("na"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      sqrt(dot("embedding", "embedding")).as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", dot("va", "vb") / (col("na") * col("nb")))
      .filter(col("cos") >= minCos)
      .select("id_a", "id_b", "cos")
  }

  /** Per-vector int8 scalar quantization: `code_i = round(x_i * 127 /
    * max|x|)` — 4x smaller than FLOAT (the difference between a
    * memory-bandwidth-bound scan fitting in cache-page budget or not at
    * 100 TB), and cosine over the codes needs no dequantization at all:
    * the per-vector scale cancels in `dot / (|q| |n|)`. The all-zero
    * vector keeps all-zero codes (its cosine is undefined either way).
    * Two-step select so the max-abs scale computes once per row — it is
    * referenced twice (guard + lambda), which keeps CollapseProject from
    * inlining it into the per-element lambda. */
  def quantizeInt8(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), col("embedding"),
        expr("CAST(array_max(transform(embedding, e -> abs(e))) AS DOUBLE)").as("ma"))
      .select(col("vec_id"),
        when(col("ma") === 0.0, expr("transform(embedding, e -> CAST(0 AS TINYINT))"))
          .otherwise(expr(
            "transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 127.0 / ma) AS TINYINT))"))
          .as("codes"))

  /** Scalar-quantized brute-force top-k — [[bruteForceTopK]]'s plan shape
    * over int8 codes: the corpus pass reads 1 byte/dim instead of 4 and
    * every dot is a primitive integer loop ([[graft.functions.ByteDot]]).
    * This tier's ranking is the QUANTIZED cosine (deterministic, its own
    * oracle — exact integer dots, one IEEE division), not the float
    * ranking; SimilaritySpec measures its recall against the exact tier.
    * The scale story composes with the others: SQ is the in-memory
    * compression lever, LSH/IVF are the candidate-pruning levers. */
  def sqTopK(emb: DataFrame, queryPred: Column, k: Int = 5): DataFrame = {
    rankSq(quantizeInt8(emb), queryPred, k)
  }

  /** Build-once half of the SQ build/query split: materialize the int8
    * codes as a stored table. Unlike the LSH/IVF indexes there is no
    * probe key to bucket on — the SQ tier's scan IS a full pass by design
    * (its lever is bytes-per-row, not rows-touched) — so the "index" is
    * the quantization pass run once instead of per query: every probe
    * reads 1-byte codes off disk and never touches the float corpus. */
  def buildSqCodes(emb: DataFrame, table: String): Unit =
    StoredIndex.build(sqCodes, table, emb)(_ => quantizeInt8(emb))

  /** Per-doc-independent codes → append-only ingest, same contract as the
    * other index appends: a two-batch build answers bit-identically to a
    * one-shot build of the union. */
  def appendToSqCodes(newEmb: DataFrame, table: String): Unit =
    StoredIndex.append(sqCodes, table, newEmb)(_ => quantizeInt8(newEmb))

  /** The SQ codes as a [[StoredIndex]] family: one plain code table. */
  private val sqCodes = Family(_ => "kind=sq", "vec_id", "",
    Seq(Part("", Nil, 0)), bootstrap = true)

  /** Query-many half: [[sqTopK]] semantics (same oracle) over the STORED
    * codes — the quantization pass is read, not recomputed. */
  def sqTopKIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
      queryPred: Column, k: Int = 5): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, table)
    rankSq(spark.table(table), queryPred, k)
  }

  /** Shared ranking tail of the direct and indexed SQ paths. */
  private def rankSq(codes: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val q = codes.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("codes").as("qc"),
        sqrt(expr("byte_dot(codes, codes)").cast("double")).as("qnorm"))
    val n = codes
      .select(col("vec_id").as("neighbor_id"), col("codes").as("nc"),
        sqrt(expr("byte_dot(codes, codes)").cast("double")).as("nnorm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_q").desc, col("neighbor_id"))
    broadcast(q).join(n, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_q",
        expr("byte_dot(qc, nc)").cast("double") / (col("qnorm") * col("nnorm")))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "rn", "cos_q")
  }

  val NumPlanes = 16
  val Dim       = 64
  val SigBands  = 4 // 4 bands x 4 bits; a pair collides if any 4-bit band agrees

  /** Deterministic ±1 hyperplane weights: plane m, dimension j gets
    * sign(parity of md5("m:j")). Computed once on the driver — tiny — and
    * inlined as array literals, so executors evaluate pure codegen
    * expressions (no closure capture, no randomness). */
  lazy val planes: Array[Array[Double]] = {
    val mdf = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(NumPlanes, Dim) { (m, j) =>
      val d = mdf.digest(s"$m:$j".getBytes("UTF-8"))
      if ((d(0) & 1) == 0) 1.0 else -1.0
    }
  }

  private def sigBits(vecCol: String): Column = {
    // bit m = (v · plane_m) >= 0; planes are ±1 (exact in FLOAT, so the
    // cast to ARRAY<FLOAT> for the native dot loses nothing).
    val bits = (0 until NumPlanes).map { m =>
      val weights = planes(m).mkString("array(", "D,", "D)")
      val proj = expr(s"float_dot($vecCol, CAST($weights AS ARRAY<FLOAT>))")
      when(proj >= 0, lit(1L << m)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** One row per (vector, signature band): the LSH index table both ANN
    * entry points bucket-join on. */
  private def bandedSignatures(emb: DataFrame): DataFrame = {
    val signed = emb.select(col("vec_id"), col("embedding"),
      sigBits("embedding").as("sig"))
    signed.select(
      col("vec_id"), col("embedding"),
      posexplode(array((0 until SigBands).map(b =>
        shiftright(col("sig"), b * 4).bitwiseAND(0xF).cast("long")): _*))
        .as(Seq("band_idx", "band_val")))
  }

  /** Broadcast the (tiny) query band rows against a neighbor band table:
    * candidates share at least one signature band. Pre-distinct — the
    * band-collision dedup belongs to [[rankCandidates]]. */
  private def probeJoin(q: DataFrame, n: DataFrame): DataFrame =
    broadcast(q)
      .join(n, col("band_idx") === col("n_band_idx") &&
        col("band_val") === col("n_band_val") &&
        col("query_id") =!= col("neighbor_id"))
      .select("query_id", "qv", "neighbor_id", "nv")

  /** Dedup band collisions, exact-cosine re-rank, top-k per query. */
  private def rankCandidates(candidates: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    candidates
      .distinct()
      .withColumn("cos", cosine("qv", "nv"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "rn", "cos")
  }

  private def queryBands(banded: DataFrame, queryPred: Column): DataFrame =
    banded.filter(queryPred).select(
      col("vec_id").as("query_id"), col("embedding").as("qv"),
      col("band_idx"), col("band_val"))

  private def neighborBands(banded: DataFrame): DataFrame =
    banded.select(
      col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
      col("band_idx").as("n_band_idx"), col("band_val").as("n_band_val"))

  /** ANN top-k via random-hyperplane LSH: candidates share at least one
    * 4-bit band of the 16-bit signature, exact cosine re-ranks, top-k per
    * query. Recall vs [[bruteForceTopK]] is checked in SimilaritySpec. */
  def lshTopK(emb: DataFrame, queryPred: Column, k: Int = 5): DataFrame = {
    val banded = bandedSignatures(emb)
    rankCandidates(probeJoin(queryBands(banded, queryPred), neighborBands(banded)), k)
  }

  /** Build-once half of the build/query split: materialize the banded
    * signature table as a parquet table bucketed (and sorted) on
    * `(band_idx, band_val)`. At 100 TB the signature computation — 16
    * hyperplane dots per vector — is a corpus-scale job you run once, not
    * per query; the stored layout is pre-hashed on the probe key, so
    * non-broadcast probes (or index⋈index self-mining) can shuffle ONLY
    * the query side, and broadcast probes read the index with no exchange
    * at all (asserted in SimilaritySpec). */
  def buildLshIndex(emb: DataFrame, table: String): Unit = {
    StoredIndex.build(lshIndex, table, emb)(_ => bandedSignatures(emb))
  }

  /** The LSH index as a [[StoredIndex]] family: one band table bucketed
    * on the probe key, [[SigBands]] band rows per vector. */
  private val lshIndex = Family(
    n => s"kind=lsh,buckets=$n", "vec_id", "",
    Seq(Part("", Seq("band_idx", "band_val"), Buckets)), bootstrap = true,
    rowsPerId = Some(SigBands))

  /** Incremental-ingest half of the LSH build/query split: band the NEW
    * batch's signatures and append them into the stored index layout.
    * Signatures are per-vector independent, so the existing corpus is
    * neither read nor rewritten — the daily-ingest cost is one pass over
    * the new batch (16 hyperplane dots per vector) plus one bucketed
    * append; a two-batch build is bit-identical to a one-shot build of the
    * union (gated under the same oracle as [[lshTopKIndexed]]). */
  def appendToLshIndex(newEmb: DataFrame, table: String): Unit = {
    StoredIndex.append(lshIndex, table, newEmb)(_ => bandedSignatures(newEmb))
  }

  /** Delete propagation for the stored LSH index — the embedding twin of
    * [[graft.ops.Dedup.purgeFromBandIndex]]: the deleted vectors' band
    * rows are physically removed through the crash-safe rewrite and the
    * manifest folds the deleted ids out (xor is self-inverse). Signatures
    * are per-vector independent, so a purged index is BIT-IDENTICAL to
    * one rebuilt from the surviving vectors, manifest included
    * (PurgeSpec). Stamp, write order and crash contract:
    * [[graft.sources.StoredIndex]]. */
  def purgeFromLshIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      deleteIds: DataFrame): Unit =
    StoredIndex.purge(spark, lshIndex, table, deleteIds)

  /** Delete propagation for the stored IVF index: the deleted vectors'
    * cell-assignment rows are removed and the manifest folds their ids
    * out; the TRAINED PIVOTS STAY — the forget contract for a
    * model-backed index is "the stored model applied to the filtered
    * corpus" (retraining on every takedown would churn the whole
    * assignment; periodic retrain is the drift story, exactly as on the
    * append side — see [[buildIvfPivots]]). A purged index therefore
    * answers bit-identically to [[assignCells]] of the surviving vectors
    * against the stored pivots (PurgeSpec), and its oracle replays
    * training on the BUILD corpus with the probe restricted to
    * survivors. Same contracts as [[purgeFromLshIndex]] otherwise. */
  def purgeFromIvfIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      deleteIds: DataFrame): Unit =
    StoredIndex.purge(spark, ivfIndex(), table, deleteIds)

  /** Delete propagation for the composed IVF×PQ index — same model-kept
    * contract as [[purgeFromIvfIndex]] (pivots AND codebooks stay; the
    * deleted vectors' (cell, codes) rows go, the manifest folds their
    * ids out). */
  def purgeFromIvfPqIndex(spark: org.apache.spark.sql.SparkSession, table: String,
      deleteIds: DataFrame): Unit =
    StoredIndex.purge(spark, ivfPqIndex(), table, deleteIds)

  /** Delete propagation for the id-keyed full-precision vector store —
    * the refine tier's half of a takedown (a forgotten vector must leave
    * BOTH the compressed index and the re-rank store). */
  def purgeFromVectorStore(spark: org.apache.spark.sql.SparkSession, table: String,
      deleteIds: DataFrame): Unit =
    StoredIndex.purge(spark, vectorStore, table, deleteIds)

  /** The probe join of [[lshTopKIndexed]], exposed pre-rank so the spec
    * can assert its plan: both sides read the STORED index (no signature
    * recompute), and the index side plans with zero shuffle. */
  private[graft] def indexedProbeJoin(spark: org.apache.spark.sql.SparkSession,
      table: String, queryPred: Column): DataFrame = {
    val idx = spark.table(table)
    probeJoin(queryBands(idx, queryPred), neighborBands(idx))
  }

  /** Query-many half of the build/query split: [[lshTopK]] semantics (and
    * the same oracle) against a stored [[buildLshIndex]] table. Signatures
    * are read, not recomputed — the query-path cost is one index scan +
    * the broadcast probe join + the top-k shuffle. */
  def lshTopKIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
      queryPred: Column, k: Int = 5): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, table)
    rankCandidates(indexedProbeJoin(spark, table, queryPred), k)
  }

  val NumPivots = 16
  /** Cells an IVF query probes. */
  val IvfNprobe = 2

  /** IVF-style ANN: the corpus is coarsely partitioned into [[NumPivots]]
    * cells (each vector lives in the cell of its nearest pivot), and a
    * query searches only its [[IvfNprobe]] nearest cells — the classic
    * inverted-file index, with cells as the unit of pruning. Pivots here
    * are the deterministic `vec_id < NumPivots` sample — the zero-training
    * baseline; [[ivfTopKKmeans]] feeds the same plan k-means-trained
    * pivots, which only changes WHERE the pivots sit, not the plan. */
  def ivfTopK(emb: DataFrame, queryPred: Column, k: Int = 5): DataFrame =
    ivfTopKWith(emb,
      emb.filter(col("vec_id") < NumPivots)
        .select(col("vec_id").as("pid"), col("embedding").as("pv")),
      queryPred, k)

  /** IVF ANN over k-means-trained pivots: [[trainPivots]] then the same
    * probe plan as [[ivfTopK]]. Trained cells track the corpus's actual
    * density (a Lloyd's centroid is its cell's mean), so for a fixed
    * nprobe the probed region holds more of each query's true neighbors —
    * SimilaritySpec measures the recall lift over the id-pivot baseline. */
  def ivfTopKKmeans(emb: DataFrame, queryPred: Column, k: Int = 5): DataFrame =
    ivfTopKWith(emb, trainPivots(emb), queryPred, k)

  /** The IVF probe plan over a caller-supplied pivot table `piv`
    * (`pid: LONG`, `pv: ARRAY<FLOAT>`). Pivots are tiny and broadcast, so
    * cell assignment is one narrow map-side pass over the corpus — the
    * pivot fan-out collapses in the map-side partial aggregate before any
    * shuffle, and the only shuffles are one per-vector argmax
    * (combine-heavy) and the probe⋈cell candidate join on cell ids. Unlike
    * the LSH tier, recall loss is geometric (a true neighbor in an
    * unprobed cell), measured in SimilaritySpec against
    * [[bruteForceTopK]]. */
  def ivfTopKWith(emb: DataFrame, piv: DataFrame, queryPred: Column,
      k: Int = 5, nprobe: Int = IvfNprobe): DataFrame = {
    // per-side norms hoisted out of the pivot fan-out (bit-identical:
    // same sqrt(self-dot) values, computed once per row/pivot instead of
    // once per (row, pivot) candidate — the bruteForceTopK discipline)
    val scored = emb
      .withColumn("enorm", sqrt(dot("embedding", "embedding")))
      .crossJoin(broadcast(piv.withColumn("pnorm", sqrt(dot("pv", "pv")))))
      .withColumn("pcos", dot("embedding", "pv") / (col("enorm") * col("pnorm")))
    // nearest pivot per vector: max of (pcos, -pid) orders ties to the
    // smaller pid; first(embedding) is value-deterministic (identical
    // across a vector's 16 pivot rows). groupBy, not a window — partial
    // aggregation collapses the fan-out map-side.
    val cells = scored.groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("nv"),
        max(struct(col("pcos"), (-col("pid")).as("npid"))).as("best"))
      .select(col("vec_id").as("neighbor_id"), col("nv"),
        (-col("best.npid")).cast("long").as("cell"))
    // nprobe nearest cells per query: the query set is tiny, so the
    // row_number window is over |queries| × NumPivots rows only
    val wProbe = Window.partitionBy(col("vec_id")).orderBy(col("pcos").desc, col("pid"))
    val probes = scored.filter(queryPred)
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("pid").cast("long").as("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(probes).join(cells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "qv", "neighbor_id", "nv")
      .distinct()
      .withColumn("cos", cosine("qv", "nv"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "rn", "cos")
  }

  /** Every vector's nearest-pivot cell as a storable table
    * (`vec_id, embedding, cell`) — the corpus-scale half of an IVF index.
    * Same broadcast-argmax plan as [[ivfTopKWith]]'s cell stage. */
  def assignCells(emb: DataFrame, piv: DataFrame): DataFrame = {
    emb.withColumn("enorm", sqrt(dot("embedding", "embedding")))
      .crossJoin(broadcast(piv.withColumn("pnorm", sqrt(dot("pv", "pv")))))
      .withColumn("pcos", dot("embedding", "pv") / (col("enorm") * col("pnorm")))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"),
        max(struct(col("pcos"), (-col("pid")).as("npid"))).as("best"))
      .select(col("vec_id"), col("embedding"),
        (-col("best.npid")).cast("long").as("cell"))
  }

  /** SemDeDup-style cluster-balanced sampling — the semantic-diversity
    * counterpart of [[graft.ops.Sampling]]'s hash samplers: train k-means
    * cells on the embeddings, then cap every cell at `perCell` vectors,
    * keeping the deterministic salted-hash-order prefix. Dense semantic
    * regions (near-duplicate clusters, boilerplate) are down-weighted to
    * the cap while sparse regions survive whole — the mixing step between
    * embedding-level dedup and training-set assembly.
    *
    * Scale: training + assignment are the proven IVF pieces (broadcast
    * pivots, map-side argmax); the cap is a two-level deterministic
    * prefix so no task ever sorts a whole cell — dense cells are the very
    * thing this operator exists to down-weight, so a per-cell global sort
    * would put the biggest partition on the hottest key. Level 1 salts
    * each cell into `subCells` sub-cells (k×j-way parallelism) and keeps
    * each sub-cell's first `perCell` rows in (h, vec_id) order — a
    * bounded sort, and a guaranteed superset of the per-cell prefix
    * (any row of the true prefix has sub-cell rank ≤ its cell rank).
    * Level 2 merges the ≤ j×perCell survivors per cell with one exact
    * window; within that superset the survivor rank of every true-prefix
    * row equals its full-cell rank (everything ahead of it survived), so
    * the kept set and ranks are identical to the single-window form —
    * SimilaritySpec proves the prefix-equivalence. Output is integers
    * only, and the kept set is a pure function of the corpus (same
    * hash-prefix determinism as the token-budget sampler). */
  def clusterBalancedSample(emb: DataFrame, perCell: Int = SamplePerCell,
      subCells: Int = SampleSubCells): DataFrame =
    sampleCells(assignCells(emb, trainPivots(emb)), perCell, subCells)

  /** [[clusterBalancedSample]] semantics (same oracle) over a STORED
    * [[buildIvfIndex]] assignment table: the sampler is a pure function of
    * (vec_id, cell), both already on disk, so the training sweep and the
    * corpus-wide argmax are read, not recomputed — and selecting only
    * those two columns prunes the float embedding column out of the scan
    * entirely. Curation-by-sampling becomes one more consumer of the same
    * index the ANN probes use. */
  def clusterBalancedSampleIndexed(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, table)
    sampleCells(spark.table(table).select("vec_id", "cell"), SamplePerCell, SampleSubCells)
  }

  /** The cluster-balanced sample's size per cell, and the hash sub-cells
    * a cell is ranked in. */
  val SamplePerCell = 10
  val SampleSubCells = 32

  /** SemDeDup semantic deduplication (Abbas et al. 2023) off the stored
    * IVF index: within each coarse cell, drop every vector that has a
    * LOWER-id cell-mate with cosine >= `tau` — the "keep one
    * representative of each semantic duplicate pair" rule, with the
    * deterministic first-wins tiebreak the MinHash admission twin
    * ([[graft.ops.Dedup.nearDupAdmit]]) uses. Returns the surviving
    * (vec_id, cell).
    *
    * Scale shape — the whole point of running this off the index: the
    * candidate pairs are the WITHIN-CELL pairs only (one equi-join on the
    * stored cell key, never an all-pairs product), so the cost is
    * Σ|cell|², bounded by the k-means granularity, exactly the SemDeDup
    * paper's approximation. Training and assignment are READ from the
    * index; the only compute is the pruned pair cosines. Cross-cell
    * near-duplicates are invisible by construction — the documented
    * recall trade every IVF-bucketed miner in this engine makes.
    *
    * Hot-cell guard: Σ|cell|² is the right TOTAL
    * cost, but a duplicate-saturated crawl can put a large fraction of
    * the corpus into ONE cell — and a plain cell-key self-join would hand
    * that whole cell's quadratic pair enumeration to a single task. Each
    * cell is therefore hash-split into `nsub = ceil(|cell| /
    * MaxCellShard)` sub-shards and the within-cell pairs are enumerated
    * block-by-block over unordered shard pairs {i, j}: both sides
    * replicate each row to its nsub blocks (`(min(sub,t), max(sub,t))`
    * for every t), the join runs on `(cell, blo, bhi)`, and the
    * same-shard orientation filter keeps diagonal pairs only in their own
    * {s, s} block so every pair is enumerated EXACTLY once. Per-task pair
    * count is bounded by (2·MaxCellShard)² regardless of cell size — the
    * pathological cell becomes nsub·(nsub+1)/2 bounded tasks instead of
    * one quadratic straggler — while the replication overhead
    * (×nsub rows shuffled) is a 1/MaxCellShard fraction of the pair work
    * it unlocks. Cell sizes come from a k-row aggregate broadcast onto
    * the scan; for ordinary cells nsub = 1 and the plan degenerates to
    * the plain cell join. The kept set is a pure function of the corpus
    * — identical under any sharding (SimilaritySpec proves both the
    * bound and the equivalence). */
  def semanticDedupIndexed(spark: org.apache.spark.sql.SparkSession,
      table: String, tau: Double = 0.4): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, table)
    val idx = spark.table(table).select(col("vec_id"), col("embedding"), col("cell"))
    idx.select("vec_id", "cell")
      .join(semanticDominated(idx, tau, MaxCellShard), Seq("vec_id"), "left_anti")
  }

  /** The largest cell sub-shard [[semanticDedupIndexed]] enumerates pairs
    * in. */
  val MaxCellShard = 4096

  /** The dominated set of [[semanticDedupIndexed]] — every vec_id with a
    * lower-id cell-mate at cosine >= tau — via the sub-sharded block
    * join. Exposed package-private so the spec can assert the per-block
    * pair bound directly. */
  private[graft] def semanticDominated(idx: DataFrame, tau: Double,
      maxCellShard: Int): DataFrame =
    semanticBlockPairs(idx, maxCellShard)
      .filter(cosine("av", "bv") >= tau)
      .select(col("b_id").as("vec_id"))
      .distinct()

  /** Within-cell candidate pairs (a_id < b_id), enumerated exactly once
    * each, sub-sharded so no block exceeds ~2·maxCellShard rows per
    * side. Keeps `cell`/`blo`/`bhi` so callers can audit per-block
    * sizes. */
  private[graft] def semanticBlockPairs(idx: DataFrame,
      maxCellShard: Int): DataFrame = {
    val sizes = idx.groupBy("cell").agg(count(lit(1)).as("cell_n"))
      .select(col("cell"),
        ceil(col("cell_n").cast("double") / maxCellShard).cast("int").as("nsub"))
    val sharded = idx.join(broadcast(sizes), Seq("cell"))
      .withColumn("sub", pmod(graft.functions.CrossHash.h60(
        concat(lit("sdd:"), col("vec_id").cast("string"))),
        col("nsub").cast("long")).cast("int"))
    def side(idCol: String, vecCol: String, subCol: String) =
      sharded.select(col("cell"), col("vec_id").as(idCol),
          col("embedding").as(vecCol), col("sub").as(subCol),
          explode(sequence(lit(0), col("nsub") - 1)).as("t"))
        .select(col("cell"), col(idCol), col(vecCol), col(subCol),
          least(col(subCol), col("t")).as("blo"),
          greatest(col(subCol), col("t")).as("bhi"))
    side("a_id", "av", "a_sub")
      .join(side("b_id", "bv", "b_sub"), Seq("cell", "blo", "bhi"))
      // same-shard pairs appear in every block both rows emitted; keep
      // them ONLY in their own diagonal block so each pair is scored once
      .filter(col("a_sub") =!= col("b_sub") ||
        (col("blo") === col("a_sub") && col("bhi") === col("a_sub")))
      .filter(col("a_id") < col("b_id"))
  }

  /** Shared sampling policy of the direct and indexed paths: the per-cell
    * deterministic hash-order prefix, two-level so no single task sorts a
    * whole cell. */
  private def sampleCells(assigned: DataFrame, perCell: Int,
      subCells: Int): DataFrame = {
    val h = graft.functions.CrossHash.h60(
      concat(lit("cbs:"), col("vec_id").cast("string")))
    val wSub = Window.partitionBy("cell", "sub").orderBy(col("h"), col("vec_id"))
    val wCell = Window.partitionBy("cell").orderBy(col("h"), col("vec_id"))
    assigned.select(col("vec_id"), col("cell"), h.as("h"))
      .withColumn("sub", pmod(col("h"), lit(subCells.toLong)))
      .withColumn("srn", row_number().over(wSub))
      .where(col("srn") <= perCell)
      .withColumn("rn", row_number().over(wCell).cast("long"))
      .where(col("rn") <= perCell)
      .select(col("vec_id"), col("cell"), (col("rn") - 1).as("rank_in_cell"))
  }

  /** Build-once half of the IVF build/query split: train pivots, assign
    * every vector to its cell, and store BOTH halves — `<table>` =
    * (vec_id, embedding, cell) bucketed on `cell` (so probe joins and
    * cell-local scans are pre-hashed on disk) and `<table>_pivots` =
    * (pid, pv) (tiny, read whole at query time). At 100 TB the training
    * sweep and the corpus-wide argmax assignment run once here; a query
    * then touches only its nprobe cells. The assignment pass after
    * training is NOT redundant with the last Lloyd's iteration: that
    * iteration's assignment predates the final centroid update, and the
    * stored cells must be argmax against the FINAL centroids (the
    * contract the oracle replays) — one extra corpus pass per index
    * build, the standard IVF build cost. */
  def buildIvfIndex(emb: DataFrame, table: String, kClusters: Int = NumPivots): Unit = {
    val piv = trainPivots(emb, kClusters)
    StoredIndex.build(ivfIndex(s",k=$kClusters,iters=$KmeansIters"), table, emb,
      graft.sources.Formats.writeBucketed(piv, s"${table}_pivots", Seq("pid"), 1)
    )(_ => assignCells(emb, piv))
  }

  /** The IVF index as a [[StoredIndex]] family: the cell assignment
    * bucketed on `cell`. The `_pivots` model table is the family's own
    * side table. `training` carries the build's `k`/`iters` fields into
    * the manifest; appends and purges do not restate them. */
  private def ivfIndex(training: String = "") = Family(
    n => s"kind=ivf$training,buckets=$n", "vec_id", "",
    Seq(Part("", Seq("cell"), Buckets)))

  /** Train and store ONLY the pivot half of the IVF index — the starting
    * point of the incremental-build path: pivots are trained once over the
    * (historical) corpus, then batches are assigned against the STORED
    * pivots as they arrive ([[appendToIvfIndex]]) without retraining.
    * Pivot drift under sustained ingest is handled by periodic retrain +
    * reassign (a fresh [[buildIvfIndex]]) — the standard IVF maintenance
    * contract, out of scope for the per-batch path. */
  def buildIvfPivots(emb: DataFrame, table: String): Unit = {
    graft.sources.Formats.writeBucketed(trainPivots(emb), s"${table}_pivots", Seq("pid"), 1)
    // models-only start of the incremental path: nothing indexed yet, so
    // the stamp is (0, 0) and every appended batch folds in from there
    graft.sources.Formats.writeBuildMeta(emb.sparkSession, table,
      s"kind=ivf,k=$NumPivots,iters=$KmeansIters", 0L, 0L)
  }

  /** Assign a NEW batch against the STORED pivots: reads `<table>_pivots`
    * (tiny, broadcast) and argmaxes only the batch — the existing
    * assignment table is not touched, so the plan scales with the batch,
    * never the corpus (asserted in SimilaritySpec). */
  def assignCellsIndexed(spark: org.apache.spark.sql.SparkSession, newEmb: DataFrame,
      table: String): DataFrame =
    assignCells(newEmb, spark.table(s"${table}_pivots"))

  /** Incremental-ingest half of the IVF build/query split: assign the new
    * batch against the stored pivots and append into the bucketed cell
    * layout. Cell assignment is per-vector independent given fixed pivots,
    * so N appended batches equal one bulk [[assignCells]] of their union —
    * which is why the two-batch gate shares [[ivfTopKIndexed]]'s oracle. */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession, newEmb: DataFrame,
      table: String): Unit =
    StoredIndex.append(ivfIndex(), table, newEmb)(_ => assignCellsIndexed(spark, newEmb, table))

  /** Query-many half: [[ivfTopKKmeans]] semantics (same oracle) against a
    * stored [[buildIvfIndex]] table pair. Only the query rows' pivot
    * scores are recomputed (|queries| × k dots); the corpus-wide argmax
    * is read, not recomputed, and the candidate join streams the bucketed
    * index side with no shuffle. */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
      queryPred: Column, k: Int = 5, nprobe: Int = IvfNprobe): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, table)
    val piv = spark.table(s"${table}_pivots")
    val idx = spark.table(table)
    val wProbe = Window.partitionBy(col("vec_id")).orderBy(col("pcos").desc, col("pid"))
    val probes = idx.filter(queryPred)
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(piv))
      .withColumn("pcos", cosine("embedding", "pv"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("pid").cast("long").as("cell"))
    val cells = idx.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("nv"), col("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(probes).join(cells, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "qv", "neighbor_id", "nv")
      .distinct()
      .withColumn("cos", cosine("qv", "nv"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "rn", "cos")
  }

  val KmeansIters = 2

  val PqSubspaces = 16
  val PqSubDim: Int = Dim / PqSubspaces

  /** Centroids per PQ subspace — 64 (was 16): the recall
    * sweep (BASELINE.md, recall-vs-cost curve) measured the raw IVF×PQ
    * tier at 0.34→0.46 avg recall@5 for the 16→64 step at nprobe=4 with
    * ZERO stored-byte cost (codes stay [[PqSubspaces]] bytes/row; only
    * the broadcast codebook table grows 4×, still ~16 KB) and a ~4×
    * train/encode argmin join that remains one corpus pass. */
  val PqCodes = 64
  val PqIters = 2

  /** Serving defaults for the composed IVF×PQ probes, tuned against the
    * recall ladder on the shipped RANDOM-vector corpus — the
    * documented worst case for cell pruning: iid vectors have no cluster
    * structure, so neighbor coverage grows ~linearly with
    * nprobe/kClusters (measured curve in BASELINE.md) instead of
    * saturating at small nprobe the way clustered production embeddings
    * do. The compressed tier keeps an aggressive nprobe (it exists to
    * bound bytes read; its monitor gate prices the recall honestly at
    * ~0.46 avg) while the REFINE tier — the serving path — defaults to
    * the measured ≥0.8-avg point (nprobe=10, shortlist=100 → 0.84 avg /
    * 0.60 min recall@5 here; a clustered corpus reaches that at
    * nprobe 2–4, and the shortlist width is near-free either way). */
  val IvfPqNprobe = 4
  val RefineNprobe = 10
  val RefineShortlist = 100

  /** Squared L2 distance via the dot expansion `x·x - 2 x·c + c·c` — the
    * SAME association on both engines (three sequential-fold dots, two
    * subtractions left to right), so PQ assignment ties break identically
    * in the DuckDB replay. `list_distance`'s sqrt-of-squared-diffs fold
    * would NOT be bit-equal to any Spark-side expression. */
  private def sqDist(x: String, c: String): Column =
    expr(s"float_dot($x, $x)") - lit(2.0) * expr(s"float_dot($x, $c)") +
      expr(s"float_dot($c, $c)")

  /** One row per (vector, subspace): the [[PqSubDim]]-wide sub-vector. */
  private def subVectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      posexplode(array((0 until PqSubspaces).map(m =>
        slice(col("embedding"), m * PqSubDim + 1, PqSubDim)): _*))
        .as(Seq("m", "sv")))

  /** Product-quantization codebooks: per subspace, [[PqCodes]] centroids
    * trained by deterministic Lloyd's under SQUARED-L2 assignment (the PQ
    * objective is reconstruction, so magnitude matters — unlike the IVF
    * tier's cosine cells). All [[PqSubspaces]] codebooks train together:
    * each round is ONE distributed job — sub-vector × broadcast-codebook
    * argmin keyed on (vector, subspace), then [[QuantScale]] fixed-point
    * LONG sums per (subspace, cell, dim) — whose M×k×subdim gram (not the
    * corpus) is collected, the [[trainPivots]] shape widened by the
    * subspace key. Init per subspace: the sub-vectors of the k
    * hash-smallest vec_ids (same seeded sample as [[trainPivots]]).
    * Returns `(m, pid, cv: ARRAY<FLOAT>)`. */
  def trainPqCodebooks(emb: DataFrame): DataFrame =
    trainPqCodebooksOn(emb, subVectors(emb).localCheckpoint(eager = false))

  /** [[trainPqCodebooks]] against a caller-materialized sub-vector table —
    * the train/encode composition point: every Lloyd's
    * round AND the corpus encode consume the same `(vec_id, m, sv)`
    * projection, which as a plan re-derived the scan + 16-way slice
    * explode per job. Callers that both train and encode (pqTopK,
    * buildPqIndex, the IVF×PQ build) checkpoint it once and thread it
    * through; the checkpoint is ContextCleaner-reclaimed (no session
    * CacheManager entry). */
  private def trainPqCodebooksOn(emb: DataFrame, subs: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val init: Array[Seq[Float]] = emb
      .withColumn("hk", graft.functions.CrossHash.h32(col("vec_id").cast("string")))
      .orderBy(col("hk"), col("vec_id"))
      .limit(PqCodes)
      .select(col("embedding")).as[Seq[Float]]
      .collect()
    // codebooks(m)(pid) = centroid of subspace m, cell pid
    var books: Array[Array[Seq[Float]]] = Array.tabulate(PqSubspaces, PqCodes) {
      (m, pid) => init(pid).slice(m * PqSubDim, (m + 1) * PqSubDim)
    }
    for (_ <- 1 to PqIters) {
      val assigned = argminCell(subs, codebookTable(spark, books))
        .select(col("m"), col("pid").as("cell"), col("sv"))
      val sums = assigned
        .select(col("m"), col("cell"), posexplode(col("sv")).as(Seq("pos", "x")))
        .select(col("m"), col("cell"), col("pos"),
          floor(col("x").cast("double") * QuantScale).as("q"))
        .groupBy("m", "cell", "pos")
        .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
        .as[(Int, Long, Int, Long, Long)]
        .collect()
      val next = books.map(_.map(_.toArray))
      sums.foreach { case (m, cell, pos, s, n) =>
        next(m)(cell.toInt)(pos) = (s.toDouble / (n.toDouble * QuantScale)).toFloat
      }
      books = next.map(_.map(_.toSeq))
    }
    codebookTable(spark, books)
  }

  private def codebookTable(spark: org.apache.spark.sql.SparkSession,
      books: Array[Array[Seq[Float]]]): DataFrame =
    spark.createDataFrame(for {
      (cells, m) <- books.toSeq.zipWithIndex
      (cv, pid) <- cells.toSeq.zipWithIndex
    } yield (m, pid.toLong, cv)).toDF("m", "pid", "cv")

  /** Per-(vector, subspace) argmin-d2 cell against a broadcast codebook —
    * shared by training assignment and encoding. `min(struct(d2, pid))`
    * is lexicographic, i.e. exactly the `(d2 ASC, pid ASC)` winner a
    * row_number window would pick, but as a partial-aggregatable groupBy:
    * the argmin combines map-side and never shuffle-sorts the N×k
    * candidate rows (the window form shuffled + sorted them every Lloyd's
    * round). The sub-vector rides along via `first` (it is functionally
    * dependent on the group key, so `first` is deterministic). */
  private def argminCell(subs: DataFrame, codebooks: DataFrame): DataFrame =
    // self-dots hoisted out of the k-way candidate fan-out:
    // float_dot(sv,sv) is per (vector, subspace) and float_dot(cv,cv) per
    // centroid; inside the join they re-evaluated per CANDIDATE (k=64x).
    // The hoisted columns hold IDENTICAL values and d2 keeps sqDist's
    // association ((xx - 2*x·c) + cc), so every distance and tie is
    // bit-unchanged. sf0.1 timing is noise-bound (the PQ gates' spread is
    // driver-side Lloyd's roundtrips), but per-candidate work drops 3x->1x
    // dot products — the term that scales with corpus size.
    subs.withColumn("xx", dot("sv", "sv"))
      .join(broadcast(codebooks.withColumn("cc", dot("cv", "cv"))), Seq("m"))
      .withColumn("d2",
        col("xx") - lit(2.0) * dot("sv", "cv") + col("cc"))
      .groupBy(col("vec_id"), col("m"))
      .agg(first(col("sv")).as("sv"),
        min(struct(col("d2"), col("pid"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.pid").as("pid"), col("sv"))

  /** Encode the corpus against trained codebooks: per (vector, subspace)
    * the argmin-d2 cell, assembled in subspace order into a PqSubspaces-byte code
    * array — 16x smaller than the 256-byte float vector at the default 16 subspaces. */
  def pqEncode(emb: DataFrame, codebooks: DataFrame): DataFrame =
    pqEncodeOn(subVectors(emb), codebooks)

  private def pqEncodeOn(subs: DataFrame, codebooks: DataFrame): DataFrame = {
    argminCell(subs, codebooks)
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(m, pid))), s -> CAST(s.pid AS TINYINT))")
        .as("codes"))
  }

  /** PQ ANN top-k by asymmetric distance: queries stay full-precision
    * floats, neighbors are their per-subspace codes reconstructed through the
    * broadcast codebooks (`ĉ_n` = the concatenation of each subspace's
    * coded centroid), ranked by `cosine(q, ĉ_n)` — the same
    * sequential-fold cosine as every other tier, so the whole pipeline
    * (training, encoding, ranking) replays bit-for-bit in DuckDB. At
    * 100 TB this is the memory-residency lever taken further than int8:
    * the corpus scan reads PqSubspaces bytes per vector (16x at the default), the codebooks are a
    * broadcast literal, and only the tiny query set touches floats.
    * Recall vs the exact tier is measured in SimilaritySpec. */
  def pqTopK(emb: DataFrame, queryPred: Column, k: Int = 5): DataFrame = {
    // sub-vector projection materialized ONCE: training's Lloyd's
    // rounds and the corpus encode all consume it — as a plan it
    // re-derived the scan + slice explode per job
    val subs = subVectors(emb).localCheckpoint(eager = false)
    val books = trainPqCodebooksOn(emb, subs)
    rankPq(
      emb.filter(queryPred)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      pqEncodeOn(subs, books), books, k)
  }

  /** Decode each code array back to its reconstructed vector `ĉ_n` (the
    * concatenation of the coded centroid per subspace) — shared by the
    * direct and indexed PQ paths. */
  private def pqReconstruct(codes: DataFrame, books: DataFrame): DataFrame =
    codes
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("cm", "code")))
      // equi-join on BOTH keys: a subspace-only join would fan every code
      // row out to all k centroids of its subspace and filter k-1 of them
      // away — a k× row blow-up on the
      // corpus-scale code table. pid is unique per subspace, so the
      // two-key hash join emits exactly the same single match per row.
      .join(broadcast(books.select(
          col("m").as("bm"), col("pid").as("cpid"), col("cv"))),
        col("cm") === col("bm") && col("code").cast("long") === col("cpid"))
      .groupBy(col("vec_id"))
      .agg(flatten(expr("transform(array_sort(collect_list(struct(cm, cv))), s -> s.cv)"))
        .as("rv"))

  /** Shared asymmetric-distance ranking tail of the direct and indexed PQ
    * paths: float queries against code-reconstructed neighbors. */
  private def rankPq(queries: DataFrame, codes: DataFrame, books: DataFrame,
      k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_pq").desc, col("neighbor_id"))
    broadcast(queries)
      .join(pqReconstruct(codes, books)
          .select(col("vec_id").as("neighbor_id"), col("rv")),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_pq", cosine("qv", "rv"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "rn", "cos_pq")
  }

  /** Train and store ONLY the codebooks — the starting point of the PQ
    * incremental-ingest path, mirroring [[buildIvfPivots]]: books are
    * trained once over the (historical) corpus, then batches are encoded
    * against the STORED books as they arrive ([[appendToPqIndex]]) without
    * retraining. Codebook drift under sustained ingest is handled by
    * periodic retrain + re-encode (a fresh [[buildPqIndex]]). */
  def buildPqBooks(emb: DataFrame, table: String): Unit = {
    graft.sources.Formats.writeBucketed(trainPqCodebooks(emb), s"${table}_books", Seq("m"), 1)
    graft.sources.Formats.writeBuildMeta(emb.sparkSession, table,
      s"kind=pq,k=$PqCodes,iters=$PqIters", 0L, 0L)
  }

  /** Build-once half of the PQ build/query split: train the codebooks and
    * encode the whole corpus, storing `<table>` = (vec_id, codes:
    * ARRAY<TINYINT>) and `<table>_books` = the tiny codebook table. Like
    * the SQ tier there is no probe key to bucket the codes on — the PQ
    * scan is a full pass whose lever is bytes-per-row (PqSubspaces bytes
    * instead of 4×Dim) — so the build's job is paying the training sweep
    * and the corpus-wide encode exactly once. At 100 TB a query then reads
    * 16-byte codes off disk and never touches the float corpus. */
  def buildPqIndex(emb: DataFrame, table: String): Unit = {
    val subs = subVectors(emb).localCheckpoint(eager = false)
    val books = trainPqCodebooksOn(emb, subs)
    graft.sources.Formats.writeBucketed(books, s"${table}_books", Seq("m"), 1)
    StoredIndex.build(pqIndex(s",k=$PqCodes,iters=$PqIters"), table, emb)(
      _ => pqEncodeOn(subs, books))
  }

  /** The PQ index as a [[StoredIndex]] family: one plain code table (no
    * probe key to bucket on). The `_books` model table is the family's
    * own; `training` as for [[ivfIndex]]. */
  private def pqIndex(training: String = "") = Family(
    _ => s"kind=pq$training", "vec_id", "", Seq(Part("", Nil, 0)))

  /** Incremental-ingest half: encode the new batch against the STORED
    * books and append. Encoding is per-vector independent given fixed
    * books, so N appended batches equal one bulk encode of their union —
    * which is why the two-batch gate shares [[pqTopK]]'s oracle. */
  def appendToPqIndex(spark: org.apache.spark.sql.SparkSession, newEmb: DataFrame,
      table: String): Unit =
    StoredIndex.append(pqIndex(), table, newEmb)(
      _ => pqEncode(newEmb, spark.table(s"${table}_books")))

  /** Query-many half: [[pqTopK]] semantics (same oracle) against a stored
    * [[buildPqIndex]] table pair. The caller supplies the query vectors in
    * full precision (at serving time the query's floats are in hand);
    * training and the corpus encode are read, not recomputed, so the
    * probe's corpus side scans only the 16-byte codes. */
  def pqTopKIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
      queries: DataFrame, k: Int = 5): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, table)
    rankPq(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      spark.table(table), spark.table(s"${table}_books"), k)
  }

  /** Build-once half of the composed IVF×PQ index — the production ANN
    * layout at 100 TB, composing the two trained tiers that already exist
    * separately: IVF's coarse cells bound WHICH rows a query reads, PQ's
    * codes bound the BYTES per row read. Stores three tables:
    * `<table>` = (vec_id, cell, codes: ARRAY<TINYINT>) bucketed on `cell`
    * (a probe's cell join is pre-hashed on disk and each row is ~32 bytes
    * instead of the 256-byte float vector — the embedding column is not
    * stored at all), plus the tiny `<table>_pivots` (pid, pv) and
    * `<table>_books` (m, pid, cv) model tables. Training pays one k-means
    * sweep per tier plus one corpus-wide assignment + encode — the
    * standard IVF-PQ build cost, run exactly once here. */
  def buildIvfPqIndex(emb: DataFrame, table: String): Unit = {
    val piv = trainPivots(emb)
    val subs = subVectors(emb).localCheckpoint(eager = false)
    val books = trainPqCodebooksOn(emb, subs)
    graft.sources.Formats.writeBucketed(piv, s"${table}_pivots", Seq("pid"), 1)
    graft.sources.Formats.writeBucketed(books, s"${table}_books", Seq("m"), 1)
    StoredIndex.build(ivfPqIndex(s",k=$NumPivots,iters=$KmeansIters"), table, emb)(
      _ => assignCells(emb, piv).select(col("vec_id"), col("cell"))
        .join(pqEncodeOn(subs, books), Seq("vec_id"))
        .select(col("vec_id"), col("cell"), col("codes")))
  }

  /** The IVF×PQ index as a [[StoredIndex]] family: the (cell, codes) table
    * directory-partitioned on `cell`, so its task count lives in the
    * manifest's `buckets` field. `_pivots` and `_books` are the family's
    * own model tables; `training` as for [[ivfIndex]]. */
  private def ivfPqIndex(training: String = "") = Family(
    n => s"kind=ivfpq$training,buckets=$n", "vec_id", "",
    Seq(Part("", Seq("cell"), Buckets, partitioned = true)))

  /** Train and store ONLY the two model tables of the IVF×PQ index — the
    * starting point of its incremental-ingest path, mirroring
    * [[buildIvfPivots]]/[[buildPqBooks]]: pivots and codebooks are trained
    * once over the (historical) corpus, then batches are assigned AND
    * encoded against the stored models as they arrive
    * ([[appendToIvfPqIndex]]) without retraining either tier. Model drift
    * under sustained ingest is handled by periodic retrain + rebuild (a
    * fresh [[buildIvfPqIndex]]). */
  def buildIvfPqModels(emb: DataFrame, table: String): Unit = {
    graft.sources.Formats.writeBucketed(trainPivots(emb), s"${table}_pivots", Seq("pid"), 1)
    graft.sources.Formats.writeBucketed(
      trainPqCodebooks(emb), s"${table}_books", Seq("m"), 1)
    graft.sources.Formats.writeBuildMeta(emb.sparkSession, table,
      s"kind=ivfpq,k=$NumPivots,iters=$KmeansIters", 0L, 0L)
  }

  /** Incremental-ingest half of the composed index: the new batch is
    * argmax-assigned against the STORED pivots and encoded against the
    * STORED books, then appended into the bucketed cell layout. Both
    * derivations are per-vector independent given fixed models, so N
    * appended batches equal one bulk build over their union — the
    * two-batch gate shares [[ivfPqTopKIndexed]]'s oracle. The plan reads
    * only the batch and the two tiny model tables (broadcast); the
    * accumulated code table is never rewritten. */
  def appendToIvfPqIndex(spark: org.apache.spark.sql.SparkSession, newEmb: DataFrame,
      table: String): Unit = {
    val piv = spark.table(s"${table}_pivots")
    val books = spark.table(s"${table}_books")
    StoredIndex.append(ivfPqIndex(), table, newEmb)(
      _ => assignCells(newEmb, piv).select(col("vec_id"), col("cell"))
        .join(pqEncode(newEmb, books), Seq("vec_id"))
        .select(col("vec_id"), col("cell"), col("codes")))
  }

  /** Query half of the IVF×PQ index: nprobe coarse-cell prune, then
    * asymmetric PQ scoring over ONLY the probed cells' stored codes.
    * The probe recomputes pivot cosines for the |queries|×k probe ranking
    * alone; the corpus-wide argmax and the corpus encode are READ.
    *
    * The code table is stored DIRECTORY-PARTITIONED on `cell`
    * ([[graft.sources.Formats.writePartitionedTable]]), so the probe is
    * ONE plan with no driver round-trip (no collect of the probed cell
    * ids into an `isin` literal for bucket pruning): the broadcast candidate join on `cell` triggers DYNAMIC
    * PARTITION PRUNING, and unprobed cells are never read off disk —
    * SimilaritySpec asserts the scan's partition filter is the runtime
    * `dynamicpruning` expression. This is therefore the query-MANY
    * serving plan with no per-workload planning cost (the
    * `hybridSearchManyIndexed` discipline): N queries share one pruned
    * cell scan and one broadcast probe join — gate `ann_ivfpq_many` runs
    * a 4x workload through it against per-query-replayed oracles. Each surviving
    * candidate's code array is reconstructed once through the broadcast
    * codebooks (carrying its cell), and the candidate join broadcasts the
    * tiny probe set against the pruned reconstruction. Per-query top-k
    * ranks by the same `cosine(q, ĉ_n)` as [[pqTopK]], so the composed
    * oracle replays cell assignment and PQ ranking end to end. At 100 TB
    * a query therefore reads `nprobe/kClusters` of the corpus at
    * `PqSubspaces` bytes per row — both pruning levers at once, which is
    * why this is the layout production ANN systems run. */
  def ivfPqTopKIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
      queries: DataFrame, k: Int = 5, nprobe: Int = IvfPqNprobe): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, table)
    val piv = spark.table(s"${table}_pivots")
    val books = spark.table(s"${table}_books")
    val idx = spark.table(table)
    val wProbe = Window.partitionBy(col("vec_id")).orderBy(col("pcos").desc, col("pid"))
    val probes = queries.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(piv))
      .withColumn("pcos", cosine("embedding", "pv"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("pid").cast("long").as("cell"))
    // no cell-id collect: the broadcast join below carries the prune to
    // the partitioned scan via dynamic partition pruning
    val pruned = idx
    // MAP-SIDE reconstruction: the codebooks total
    // PqCodes×Dim floats (~4 KB) — the same driver-bounded k×dim gram
    // scale as the trainers — so they fold into the plan as a nested
    // ARRAY literal and each candidate's code array rebuilds via two
    // codegen'd element_at lookups per subspace, fully inside the scan's
    // projection. A posexplode → codebook join → groupBy(collect_list)
    // form would shuffle the pruned candidates once just to reassemble
    // them.
    val bookRows = books.select(col("m").cast("int"), col("pid").cast("int"), col("cv"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Float](2))).toMap
    val mMax = bookRows.keys.map(_._1).max + 1
    val kMax = bookRows.keys.map(_._2).max + 1
    val booksLit = typedlit(
      (0 until mMax).map(m => (0 until kMax).map(p =>
        bookRows.getOrElse((m, p), Seq.empty[Float]).toSeq)))
    val rec = pruned.select(
      col("vec_id").as("neighbor_id"), col("cell"),
      flatten(transform(col("codes"), (c, i) =>
        element_at(element_at(booksLit, i + 1), c.cast("int") + 1))).as("rv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_pq").desc, col("neighbor_id"))
    broadcast(probes).join(rec, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_pq", cosine("qv", "rv"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "rn", "cos_pq")
  }

  /** Publish the full-precision vector corpus bucketed on `vec_id` — the
    * ID-KEYED vector store every two-stage retrieval serving layer keeps
    * next to its compressed index: approximate candidates come back as
    * ids, and the exact re-rank fetches just those ids' float vectors.
    * Bucketing on the fetch key makes the candidate join bucket-local on
    * the store side (the big side never shuffles — only the
    * candidate-list side moves). */
  def buildVectorStore(emb: DataFrame, table: String): Unit =
    StoredIndex.build(vectorStore, table, emb)(
      _ => emb.select(col("vec_id"), col("embedding")))

  /** The vector store as a [[StoredIndex]] family: bucketed on its own
    * fetch key. */
  private val vectorStore = Family(
    n => s"kind=vecstore,buckets=$n", "vec_id", "",
    Seq(Part("", Seq("vec_id"), Buckets)))

  /** Two-stage retrieval — the production serving shape for compressed
    * indexes: stage 1 ranks [[RefineShortlist]] approximate neighbors per query
    * through the composed IVF×PQ probe ([[ivfPqTopKIndexed]] — both
    * pruning levers, 16-byte codes); stage 2 fetches ONLY those
    * candidates' full vectors from the id-bucketed store and re-ranks by
    * EXACT cosine, returning the refined top `k`. PQ quantization error
    * then affects only which candidates make the shortlist, not their
    * final order — recall at k is bounded below by the PQ-only probe's
    * (SimilaritySpec asserts it against exact ground truth).
    *
    * Scale: stage 2's joins carry |queries|×shortlist rows against the
    * bucketed store (store side shuffle-free) and a broadcast query set —
    * at 100 TB the full-precision corpus is read only at
    * `shortlist/corpus` selectivity, which is the whole point of
    * refine-after-compress. */
  def ivfPqRefineTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      pqTable: String, vecTable: String, queries: DataFrame, k: Int = 5,
      recallTarget: Option[Double] = None): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, vecTable)
    val np = recallTarget.map(pickNprobe(spark, pqTable, _)).getOrElse(RefineNprobe)
    val cand = ivfPqTopKIndexed(spark, pqTable, queries, RefineShortlist, np)
      .select(col("query_id"), col("neighbor_id"))
    val vecs = spark.table(vecTable)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_exact").desc, col("neighbor_id"))
    cand.join(vecs, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos_exact", cosine("qv", "nv"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "rn", "cos_exact")
  }

  /** RECALL-TARGET-driven probe width: the
    * recall-vs-cost curve showed IVF cell COVERAGE is the binding
    * constraint of the refine tier — so instead of a fixed default, pick
    * nprobe from the STORED index's own cell-occupancy stats. Model: a
    * query's nprobe cells are its nearest by pivot cosine, which is
    * independent of cell SIZE, so the guaranteed coverage of any probe is
    * the total occupancy of the nprobe SMALLEST cells; on the iid-random
    * corpus (the documented worst case, where recall ≈ coverage because
    * neighbors have no cell affinity) that lower bound transfers to
    * recall, while clustered corpora concentrate true neighbors in the
    * probed (nearest) cells and land ABOVE it — both measured in
    * BASELINE.md's recall-target table. Returns one row per requested target:
    * (recall_target, nprobe, coverage_lb), where nprobe is the smallest
    * width whose worst-case coverage meets the target and coverage_lb is
    * that width's guaranteed fraction.
    *
    * Cost: ONE single-column aggregation of the code table to cell
    * granularity (the corpus scan every occupancy stat needs), then
    * windows over the ≤kClusters histogram rows — nothing corpus-sized
    * crosses anything, and the unpartitioned window is bounded by the
    * cell count, not the corpus. */
  def nprobePlanIndexed(spark: org.apache.spark.sql.SparkSession, table: String,
      targets: Seq[Double]): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, table)
    import spark.implicits._
    val occ = spark.table(table).groupBy("cell").agg(count(lit(1)).as("c"))
    val wCum = Window.orderBy(col("c"), col("cell"))
    val cum = occ
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("j", row_number().over(wCum))
      .withColumn("total", sum("c").over(Window.partitionBy()))
      .select(col("j"), (col("cum").cast("double") / col("total")).as("cov"))
    val t = targets.toDF("recall_target")
    broadcast(t).join(cum, col("cov") >= col("recall_target"))
      .groupBy("recall_target")
      .agg(min("j").as("nj"))
      .join(cum, col("nj") === col("j"))
      .select(col("recall_target"), col("nj").cast("long").as("nprobe"),
        col("cov").as("coverage_lb"))
      .orderBy("recall_target")
  }

  /** The scalar form [[ivfPqRefineTopKIndexed]]'s `recallTarget` mode
    * consumes: the chosen nprobe for ONE target (a cell-count-bounded
    * driver read of [[nprobePlanIndexed]]'s row). A target no probe
    * width can guarantee (unreachable above 1.0) fails loudly. */
  def pickNprobe(spark: org.apache.spark.sql.SparkSession, table: String,
      recallTarget: Double): Int = {
    val rows = nprobePlanIndexed(spark, table, Seq(recallTarget)).collect()
    require(rows.nonEmpty,
      s"no probe width of '$table' guarantees recall target $recallTarget")
    rows.head.getLong(1).toInt
  }

  /** OCCUPANCY-AWARE refinement of [[nprobePlanIndexed]]: the conservative coverage model guarantees its
    * target against ANY query, but it cannot prune a balanced many-cell
    * index — reaching 0.9 coverage from the SMALLEST cells up needs
    * ~90% of a balanced index's cells, however many there are (measured
    * on the 256-cell index: 232/256, BASELINE.md). Real queries
    * probe their NEAREST cells and true neighbors concentrate exactly
    * there, so the scalable estimator is EMPIRICAL: for a calibration
    * SAMPLE of indexed queries, find each exact top-`k` neighbor's cell
    * and that cell's rank in the query's pivot-cosine order; the sample
    * recall of probe width `j` is the fraction of (query, neighbor)
    * pairs whose cell rank is ≤ j, and the calibrated nprobe is the
    * smallest width whose SAMPLE recall meets each target.
    *
    * One row per target: (recall_target, nprobe, sample_recall). The
    * estimate is exact-on-sample, not a guarantee — deployments pair it
    * with the standing recall monitors ([[recallAtK]] gates), the same
    * discipline every approximate tier here ships with.
    *
    * Cost at 100 TB: the exact top-k runs for the |sample| queries only
    * (a broadcast-nested-loop of a few hundred rows against one corpus
    * scan — the price every recall AUDIT already pays), the cell-rank
    * join fans |sample| × kClusters pivot cosines, and the curve is a
    * window over ≤ |sample|·k pairs. Nothing corpus-sized shuffles. */
  def nprobeCalibration(spark: org.apache.spark.sql.SparkSession, table: String,
      samplePred: Column, targets: Seq[Double], k: Int = 5): DataFrame = {
    graft.sources.Formats.requireBuilt(spark, table)
    import spark.implicits._
    val idx = spark.table(table)
    val piv = spark.table(s"${table}_pivots")
    val q = idx.filter(samplePred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    // exact top-k of the sample against the indexed corpus (the index
    // rows carry the vectors — no corpus re-read); sample side broadcast
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val truth = broadcast(q)
      .join(idx.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv"), col("cell").as("ncell")), lit(true))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine("qv", "nv"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= k)
      .select("query_id", "neighbor_id", "ncell")
    // each query's pivot-cosine cell ranking (|sample| × kClusters rows)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("pid"))
    val cellRank = broadcast(q).crossJoin(broadcast(piv))
      .withColumn("pcos", cosine("qv", "pv"))
      .withColumn("prn", row_number().over(wProbe))
      .select(col("query_id"), col("pid").cast("long").as("ncell"),
        col("prn").cast("long").as("cell_rank"))
    // sample recall curve over the ≤ |sample|·k (query, neighbor) pairs:
    // recall(j) = pairs with cell_rank <= j / all pairs
    val ranked = truth.join(cellRank, Seq("query_id", "ncell"))
    val wCurve = Window.orderBy(col("cell_rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = ranked
      .withColumn("n_pairs", count(lit(1)).over(Window.partitionBy()))
      .withColumn("covered", count(lit(1)).over(wCurve))
      .groupBy(col("cell_rank").as("j"))
      .agg((max("covered").cast("double") / max("n_pairs")).as("rec"))
    val t = targets.toDF("recall_target")
    broadcast(t).join(curve, col("rec") >= col("recall_target"))
      .groupBy("recall_target")
      .agg(min("j").as("nj"))
      .join(curve, col("nj") === col("j"))
      .select(col("recall_target"), col("nj").cast("long").as("nprobe"),
        col("rec").as("sample_recall"))
      .orderBy("recall_target")
  }

  /** Scalar form of [[nprobeCalibration]] for one target; loud when even
    * probing every cell misses the target on the sample (an nprobe the
    * index cannot serve is a build problem, not a probe default).
    *
    * `margin` cushions the SAMPLING error of the estimate: the sample
    * recall of |sample|·k pairs has binomial std ≈ √(t(1−t)/pairs)
    * (~0.02 at t=0.8 over 320 pairs), so held-out queries from the same
    * distribution can land that far below the sample curve; calibrating
    * to `t + margin` ([[RecallMargin]], ≈2σ for a 64-query sample) buys the
    * transfer back (measured in BASELINE.md's CELLS256 table).
    * Pass margin = 0 for the exact-on-sample minimal width. */
  def calibrateNprobe(spark: org.apache.spark.sql.SparkSession, table: String,
      samplePred: Column, recallTarget: Double,
      margin: Double = RecallMargin): Int = {
    val adjusted = math.min(recallTarget + margin, 1.0)
    val rows = nprobeCalibration(spark, table, samplePred, Seq(adjusted)).collect()
    // the sample curve always reaches 1.0 at full width and the target is
    // capped at 1.0, so an empty result means an empty calibration SAMPLE
    // (the predicate selected no queries, or they have no true neighbors)
    // — name that cause, not a phantom recall shortfall
    require(rows.nonEmpty,
      s"calibration sample for '$table' is empty (predicate selected no " +
        s"queries with neighbors) — cannot calibrate nprobe to " +
        s"margin-adjusted recall $adjusted (target $recallTarget + margin " +
        s"$margin); widen samplePred")
    rows.head.getLong(1).toInt
  }

  /** The recall a probe calibration adds to its target, against the
    * sample estimate's error. */
  val RecallMargin = 0.05

  /** Fixed-point grid for centroid accumulation: component sums are taken
    * over `floor(x * 2^24)` LONGs, not doubles. Long addition is exact and
    * associative, so the trained centroids are bit-identical across
    * partition layouts, retries, AND engines — a double sum would depend
    * on Spark's partition order and could never be oracle-replayed. 2^24
    * is a pure exponent shift of the FLOAT mantissa (the multiply and
    * floor are exact in double for any |x| < 2^39), so quantization costs
    * at most one float ulp of centroid precision. */
  val QuantScale: Long = 1L << 24

  /** Lloyd's k-means ([[KmeansIters]] rounds) over the embedding corpus,
    * returning a trained pivot table (`pid: LONG`, `pv: ARRAY<FLOAT>`) for
    * [[ivfTopKWith]].
    *
    * Deterministic by construction, so the full training loop replays
    * bit-for-bit in the DuckDB oracle:
    *  - init: the k vectors with the smallest `(CrossHash.h32(vec_id),
    *    vec_id)` — a seeded uniform sample, engine-independent;
    *  - assign: broadcast-argmax of exact cosine (ties to the smaller
    *    pid), the same one-pass plan [[ivfTopKWith]] uses for cells;
    *  - update: per-dimension [[QuantScale]] fixed-point LONG sums →
    *    `sum / (n * 2^24)` in double → FLOAT centroid component; an empty
    *    cell keeps its previous centroid.
    *
    * Each round is ONE distributed job (assignment argmax feeding a
    * (cell, dim) partial-aggregated sum) whose k×dim result — not the
    * corpus — is collected; at 100 TB that is the textbook scalable
    * k-means shape (broadcast centroids down, k×dim grams up). */
  def trainPivots(emb: DataFrame, k: Int = NumPivots): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val init: Array[Seq[Float]] = emb
      .select(col("vec_id"), col("embedding"))
      .withColumn("hk", graft.functions.CrossHash.h32(col("vec_id").cast("string")))
      .orderBy(col("hk"), col("vec_id"))
      .limit(k)
      .select(col("embedding")).as[Seq[Float]]
      .collect()
    var centroids: Array[Seq[Float]] = init
    for (_ <- 1 to KmeansIters) {
      val scored = emb
        .withColumn("enorm", sqrt(dot("embedding", "embedding")))
        .crossJoin(broadcast(
          pivotTable(spark, centroids).withColumn("pnorm", sqrt(dot("pv", "pv")))))
        .withColumn("pcos", dot("embedding", "pv") / (col("enorm") * col("pnorm")))
      val assigned = scored.groupBy(col("vec_id"))
        .agg(first(col("embedding")).as("v"),
          max(struct(col("pcos"), (-col("pid")).as("npid"))).as("best"))
        .select((-col("best.npid")).cast("int").as("cell"), col("v"))
      val sums = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .select(col("cell"), col("pos"),
          floor(col("x").cast("double") * QuantScale).as("q"))
        .groupBy("cell", "pos")
        .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
        .as[(Int, Int, Long, Long)]
        .collect()
      val next = centroids.map(_.toArray)
      sums.foreach { case (cell, pos, s, n) =>
        next(cell)(pos) = (s.toDouble / (n.toDouble * QuantScale)).toFloat
      }
      centroids = next.map(_.toSeq)
    }
    pivotTable(spark, centroids)
  }

  private def pivotTable(spark: org.apache.spark.sql.SparkSession,
      centroids: Array[Seq[Float]]): DataFrame =
    spark.createDataFrame(centroids.toSeq.zipWithIndex.map { case (c, i) => (i.toLong, c) })
      .toDF("pid", "pv")

  /** Scale path for [[embeddingNearDupPairs]]: LSH band join generates
    * candidates (hash-shuffle on uniformly distributed band keys instead
    * of the n² cross product), exact cosine verifies. Every returned pair
    * genuinely clears `minCos` (precision 1.0); recall is the band-collision
    * probability at the threshold angle — SimilaritySpec measures it
    * against the exact variant.
    *
    * Hot-bucket audit: a band bucket saturated by
    * near-identical vectors makes the candidate set quadratic in the
    * bucket — semantically required output (those pairs all clear
    * `minCos`), and the per-task skew of enumerating it is handled by
    * AQE's `OptimizeSkewedJoin` splitting this inner equi-join's skewed
    * partitions at runtime (see the fuller audit note on
    * [[graft.ops.Dedup.minHashPairs]]). The cosine-verification cost per
    * candidate is one codegen'd float dot — cheap enough that the
    * explicit sub-shard guard [[semanticDedupIndexed]] carries for its
    * cell joins is not warranted here. */
  def embeddingNearDupPairsLSH(emb: DataFrame, minCos: Double = 0.4): DataFrame = {
    val banded = bandedSignatures(emb)
    val a = banded.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      col("band_idx"), col("band_val"))
    val b = banded.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      col("band_idx").as("b_band_idx"), col("band_val").as("b_band_val"))
    a.join(b, col("band_idx") === col("b_band_idx") &&
        col("band_val") === col("b_band_val") && col("id_a") < col("id_b"))
      .select("id_a", "va", "id_b", "vb")
      .distinct()
      .withColumn("cos", cosine("va", "vb"))
      .filter(col("cos") >= minCos)
      .select("id_a", "id_b", "cos")
  }
}
