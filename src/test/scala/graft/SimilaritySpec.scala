package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Similarity
import graft.sources.Tables

class SimilaritySpec extends SparkTestBase {

  private def emb = Tables.embeddings(spark, sfDir)

  private def mkVecs(rows: Seq[(Long, Seq[Float])]) = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) => Row(id, v) }),
      schema)
  }

  test("cosine on known vectors") {
    val df = mkVecs(Seq(
      1L -> Seq(1f, 0f, 0f),
      2L -> Seq(0f, 1f, 0f),
      3L -> Seq(2f, 0f, 0f)))
    val out = Similarity.bruteForceTopK(df, col("vec_id") === 1, k = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(3)))
    // neighbor 3 is colinear (cos 1), neighbor 2 orthogonal (cos 0)
    assert(out.toSeq === Seq((3L, 1.0), (2L, 0.0)))
  }

  test("maxSimTopK: per-token best-match sum replayed exactly, " +
      "long document cannot dilute a strong local match, layout-invariant") {
    // 4 docs x 2 tokens (groupSize 2). Query doc 0's tokens point at x and
    // y. Doc 1 has ONE perfect x-match plus a token orthogonal to both
    // query tokens; doc 2's tokens are uniformly mediocre (cos 1/sqrt(34)
    // to each query token, so even SUMMED over both they total ~0.34);
    // doc 3 is orthogonal to everything. Mean-pooling doc 1 would halve
    // its match toward doc 2's level; MaxSim must keep doc 1 first - the
    // strong local match survives the unrelated second token.
    val df = mkVecs(Seq(
      0L -> Seq(1f, 0f, 0f, 0f), 1L -> Seq(0f, 1f, 0f, 0f), // query doc 0
      2L -> Seq(1f, 0f, 0f, 0f), 3L -> Seq(0f, 0f, 1f, 0f), // doc 1
      4L -> Seq(1f, 1f, 4f, 4f), 5L -> Seq(1f, 1f, 4f, 4f), // doc 2
      6L -> Seq(0f, 0f, 0f, 1f), 7L -> Seq(0f, 0f, 0f, 1f)  // doc 3
    ))
    val out = Similarity.maxSimTopK(df, expr("dkey = 0"), groupSize = 2, k = 3)
      .collect()
    assert(out.map(_.getLong(0)).distinct.toSeq === Seq(0L))
    assert(out.map(r => (r.getLong(2), r.getLong(1))).toSeq ===
      Seq((1L, 1L), (2L, 2L), (3L, 3L)))
    // exact expected scores: sum over the 2 query tokens of
    // floor(best cosine * 2^24); doc1 = floor(1*2^24) + 0 (orthogonal to
    // both q tokens... token (0,0,1,0) gives 0 to qx and qy; token
    // (1,0,0,0) gives 1 to qx, 0 to qy) => qx best 1, qy best 0
    val q = Similarity.QuantScale
    val s1 = out.find(_.getLong(1) == 1L).get.getLong(3)
    assert(s1 === q) // qx: floor(1.0*2^24) = 2^24; qy: floor(0.0) = 0
    val s2 = out.find(_.getLong(1) == 2L).get.getLong(3)
    // both q tokens best-match cos = 1/sqrt(34) against (1,1,4,4); allow
    // one quantum of float-association slack per token
    val exp2 = 2L * math.floor(q.toDouble / math.sqrt(34.0)).toLong
    assert(math.abs(s2 - exp2) <= 2L, s"s2=$s2 expected~$exp2")
    assert(out.find(_.getLong(1) == 3L).get.getLong(3) === 0L)
    // layout invariance: fixed-point sums are associative, so the result
    // is a pure function of the data, not the partitioning
    val again = Similarity.maxSimTopK(df.repartition(7), expr("dkey = 0"),
      groupSize = 2, k = 3).collect()
    assert(again.map(_.toSeq).toSeq === out.map(_.toSeq).toSeq)
    // and on the real corpus: k rows per query, self-group excluded
    val real = Similarity.maxSimTopK(emb, expr("dkey % 10 = 0"), 8, 5)
    assert(real.filter(col("query_doc") === col("neighbor_doc")).count() === 0)
    assert(real.groupBy("query_doc").count().filter(col("count") > 5).count() === 0)
  }

  test("maxSimTopKIndexed: exact re-rank (shared scores == brute), " +
      "shortlist recall, and the store fetch is id-range arithmetic") {
    try {
      Similarity.buildIvfIndex(emb, "graft_ms_ivf")
      Similarity.buildVectorStore(emb, "graft_ms_vec")
      val idx = Similarity.maxSimTopKIndexed(spark, "graft_ms_ivf",
        "graft_ms_vec", expr("dkey % 10 = 0"))
      val got = idx.collect()
      val brute = Similarity.maxSimTopK(emb, expr("dkey % 10 = 0")).collect()
      assert(got.nonEmpty && brute.nonEmpty)
      // EXACTNESS of stage 2: any (query, neighbor) pair served by both
      // paths carries the IDENTICAL fixed-point score - approximation
      // may only affect which docs make the shortlist, never a score
      val bm = brute.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
      val shared = got.flatMap(r =>
        bm.get((r.getLong(0), r.getLong(1))).map(_ == r.getLong(3)))
      assert(shared.nonEmpty && shared.forall(identity),
        "an indexed score diverged from the exact brute-force score")
      // recall@5 against the exact twin - nprobe=2/16 cells on the random
      // corpus is the documented worst case; the shortlist re-rank must
      // still recover a solid fraction
      val truth = brute.groupBy(_.getLong(0))
      val served = got.groupBy(_.getLong(0))
      val recalls = truth.map { case (q, rows) =>
        val t = rows.map(_.getLong(1)).toSet
        val g = served.getOrElse(q, Array.empty).map(_.getLong(1)).toSet
        t.intersect(g).size.toDouble / t.size
      }
      val avg = recalls.sum / recalls.size
      assert(avg >= 0.4, s"avg recall@5 $avg below floor")
      // no corpus-wide argmax recompute: the probe reads the STORED index
      val plan = idx.queryExecution.executedPlan.toString
      assert(plan.contains("graft_ms_ivf["),
        s"stage 1 must scan the stored index:\n$plan")
      assert(plan.contains("graft_ms_vec["),
        s"stage 2 must fetch from the id-bucketed store:\n$plan")
    } finally {
      Seq("graft_ms_ivf", "graft_ms_ivf_pivots", "graft_ms_vec")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("maxSim probe calibration: shortlist axis is monotone, the pick is " +
      "the cheapest grid point meeting the adjusted target, empty sample is loud") {
    try {
      Similarity.buildIvfIndex(emb, "graft_msc_ivf")
      Similarity.buildVectorStore(emb, "graft_msc_vec")
      val surface = Similarity.maxSimProbeCalibration(spark, "graft_msc_ivf",
        "graft_msc_vec", expr("dkey % 10 = 0")).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      assert(surface.length === Similarity.DefaultMaxSimGrid.length)
      // at fixed nprobe a wider shortlist re-ranks a SUPERSET of
      // candidates exactly, so recall along that axis cannot drop (the
      // nprobe axis carries no such guarantee: partial scores shift
      // non-uniformly as cells are added, which is exactly why the two
      // axes are calibrated together)
      for {
        (n1, s1, r1) <- surface
        (n2, s2, r2) <- surface if n2 == n1 && s2 > s1
      } assert(r2 >= r1 - 1e-12,
        s"shortlist widening lost recall: ($n1,$s1)=$r1 -> ($n2,$s2)=$r2")
      // the pick: cheapest (nprobe*shortlist) point clearing target+margin
      val best = surface.map(_._3).max
      assert(best > 0.3, s"grid never exceeds recall 0.3 — surface $best")
      val target = best - 0.051 // margin 0.05 keeps the target reachable
      val (np, sl) = Similarity.calibrateMaxSimProbe(spark, "graft_msc_ivf",
        "graft_msc_vec", expr("dkey % 10 = 0"), target)
      val met = surface.filter(_._3 >= math.min(target + 0.05, 1.0))
      val cheapest = met.minBy { case (n, s, _) => (n.toLong * s, n, s) }
      assert((np, sl) === ((cheapest._1, cheapest._2)))
      assert(surface.find(p => p._1 == np && p._2 == sl).get._3 >= target)
      // an empty calibration sample names its cause instead of reading
      // as zero recall (the calibrateNprobe contract)
      val e = intercept[IllegalArgumentException] {
        Similarity.maxSimProbeCalibration(spark, "graft_msc_ivf",
          "graft_msc_vec", lit(false))
      }
      assert(e.getMessage.contains("sample"), e.getMessage)
    } finally {
      Seq("graft_msc_ivf", "graft_msc_ivf_pivots", "graft_msc_vec")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("bruteForceTopK contract: k rows per query, ranked, no self-pairs") {
    val out = Similarity.bruteForceTopK(emb, col("vec_id") < 5, k = 5).cache()
    assert(out.count() === 25)
    assert(out.filter(col("query_id") === col("neighbor_id")).count() === 0)
    val ranks = out.groupBy("query_id").agg(collect_list("rn").as("rns"))
      .collect().map(_.getSeq[Long](1).sorted)
    assert(ranks.forall(_ == Seq(1L, 2L, 3L, 4L, 5L)))
    assert(out.filter(col("cos") < -1.0 || col("cos") > 1.0).count() === 0)
  }

  test("sqTopK: int8 codes bounded, near-exact recall, layout-invariant, codegen dot") {
    // codes live in [-127, 127]; the max-abs dimension maps to exactly +-127
    val codes = Similarity.quantizeInt8(emb).cache()
    val flat = codes.select(explode(col("codes")).as("c"))
    assert(flat.filter(col("c") > 127 || col("c") < -127).count() === 0)
    assert(flat.filter(abs(col("c")) === 127).count() > 0)
    // the all-zero vector quantizes to all-zero codes, not NULLs/NaN traps
    val z = Similarity.quantizeInt8(mkVecs(Seq(1L -> Seq(0f, 0f, 0f))))
      .collect()(0).getSeq[Byte](1)
    assert(z === Seq[Byte](0, 0, 0))
    // int8 quantization of 64-dim vectors barely perturbs the cosine
    // ranking: top-5 recall vs the exact float tier must be near-perfect
    // (measured 0.97+ on the gate corpus; the 0.85 floor leaves room for
    // genuine boundary flips only)
    val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 20, k = 5)
      .select("query_id", "neighbor_id")
    val sq = Similarity.sqTopK(emb, col("vec_id") < 20, k = 5)
    val hit = exact.join(sq.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(hit.toDouble / exact.count() >= 0.85,
      s"sq recall ${hit.toDouble / exact.count()} below floor")
    // deterministic under resharding (the quantizer and ranking are pure
    // per-row functions + an exact-integer dot)
    val a = sq.collect().toSeq
    val b = Similarity.sqTopK(emb.repartition(13), col("vec_id") < 20, k = 5).collect().toSeq
    assert(a === b)
    // the dot is the native codegen byte_dot, not an interpreted lambda
    val plan = sq.queryExecution.executedPlan.toString
    assert(plan.contains("byte_dot"), s"plan must carry the native byte dot:\n$plan")
  }

  test("a GraftSession session resolves byte_dot with no register call; register keeps it") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("byte_dot")
    val injected = registry.lookupFunctionBuilder(id)
    assert(injected.isDefined, "GraftExtensions must inject byte_dot")
    assert(s.sql("SELECT byte_dot(array(1Y, 2Y), array(3Y, 4Y))").head().getLong(0) === 11L)
    graft.functions.ByteDot.register(s)
    assert(registry.lookupFunctionBuilder(id).get eq injected.get,
      "register replaced the injected byte_dot")
  }

  test("pqTopK: 16-byte codes, trained codebooks layout-invariant, recall beats chance hard") {
    // codes: one TINYINT per subspace, each in [0, PqCodes)
    val books = Similarity.trainPqCodebooks(emb)
    val codes = Similarity.pqEncode(emb, books).cache()
    assert(codes.count() === emb.count())
    val flat = codes.select(explode(col("codes")).as("c"))
    assert(codes.filter(size(col("codes")) =!= Similarity.PqSubspaces).count() === 0)
    assert(flat.filter(col("c") < 0 || col("c") >= Similarity.PqCodes).count() === 0)
    // training is a pure function of content: bit-identical books under
    // resharding (the property the DuckDB replay depends on)
    val b1 = books.collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2))).sortBy(t => (t._1, t._2))
    val b2 = Similarity.trainPqCodebooks(emb.repartition(13)).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2))).sortBy(t => (t._1, t._2))
    assert(b1 === b2)
    // recall vs the exact tier: the corpus is random 64-dim vectors (true
    // neighbors at cos ~0.4 — adversarial for any quantizer, same story
    // as the LSH floor above); 16x-compressed codes measured 0.36, floor
    // asserts a large multiple of the 1% random-5-of-500 baseline
    val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 20, k = 5)
      .select("query_id", "neighbor_id")
    val pq = Similarity.pqTopK(emb, col("vec_id") < 20, k = 5)
    val hit = exact.join(pq.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id"), "left_semi").count()
    assert(hit.toDouble / exact.count() >= 0.2,
      s"pq recall ${hit.toDouble / exact.count()} below floor")
  }

  test("lshTopK recall vs brute force") {
    val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 20, k = 5)
      .select("query_id", "neighbor_id")
    val approx = Similarity.lshTopK(emb, col("vec_id") < 20, k = 5)
      .select("query_id", "neighbor_id")
    val hit = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi").count()
    val recall = hit.toDouble / exact.count()
    // Deterministic given the fixed corpus + md5-derived planes; measured 0.41
    // on sf0.001. The corpus is random vectors, so true top-5 neighbors sit at
    // cosine ~0.4 (P(plane bit agrees) ~ 0.63) — hard for LSH by construction;
    // a 4x4-bit banding still prunes ~77% of candidates. The floor asserts the
    // bucketing keeps finding a large multiple of the 2.3% a random 23%-size
    // candidate set would hit.
    assert(recall >= 0.35, s"recall $recall below floor")
  }

  test("lshTopK ranks candidates by exact cosine") {
    val out = Similarity.lshTopK(emb, col("vec_id") < 5, k = 5).cache()
    // within each query, cos must be non-increasing in rn
    val viol = out.as("x").join(out.as("y"),
        col("x.query_id") === col("y.query_id") && col("x.rn") < col("y.rn") &&
          col("x.cos") < col("y.cos"))
      .count()
    assert(viol === 0)
  }

  test("ivfTopK contract and recall vs brute force") {
    val out = Similarity.ivfTopK(emb, col("vec_id") < 20, k = 5).cache()
    // contract: <= k ranked rows per query, no self-pairs, valid cosines
    assert(out.filter(col("query_id") === col("neighbor_id")).count() === 0)
    assert(out.filter(col("cos") < -1.0 || col("cos") > 1.0).count() === 0)
    val maxRn = out.groupBy("query_id").agg(max("rn").as("m"))
      .filter(col("m") > 5).count()
    assert(maxRn === 0)
    val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 20, k = 5)
      .select("query_id", "neighbor_id")
    val hit = exact.join(out.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id"), "left_semi").count()
    val recall = hit.toDouble / exact.count()
    // deterministic given the fixed corpus + vec_id<16 pivots; probing 2 of
    // 16 cells scans ~12.5% of the corpus, so the floor asserts the cell
    // geometry concentrates true neighbors well above that random-scan rate
    assert(recall >= 0.2, s"recall $recall below floor")
  }

  private def recallVs(exact: org.apache.spark.sql.DataFrame)(
      df: org.apache.spark.sql.DataFrame): Double =
    exact.join(df.select("query_id", "neighbor_id"),
      Seq("query_id", "neighbor_id"), "left_semi").count().toDouble / exact.count()

  test("k-means-trained pivots beat id pivots on a clustered corpus") {
    // IVF training pays exactly when the corpus HAS cell structure: build a
    // deterministic 8-cluster corpus (fixed-seed jitter around 8 centers,
    // ids shuffled so id-pivots don't accidentally align with clusters).
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian().toFloat * 3f))
    val vecs = for (c <- centers; _ <- 0 until 25) yield
      c.map(x => x + rnd.nextGaussian().toFloat * 0.5f).toSeq
    val ids = rnd.shuffle((0 until vecs.length).toList)
    val df = mkVecs(ids.zip(vecs).map { case (id, v) => (id.toLong, v) })
    val queries = col("vec_id").between(50, 79)
    val exact = Similarity.bruteForceTopK(df, queries, k = 5)
      .select("query_id", "neighbor_id").cache()
    val recall = recallVs(exact) _
    val idPiv = df.filter(col("vec_id") < 8)
      .select(col("vec_id").as("pid"), col("embedding").as("pv"))
    val base = recall(Similarity.ivfTopKWith(df, idPiv, queries, k = 5, nprobe = 1))
    val trained = recall(Similarity.ivfTopKWith(df,
      Similarity.trainPivots(df, k = 8), queries, k = 5, nprobe = 1))
    assert(trained >= base,
      s"trained recall $trained below id-pivot baseline $base")
    assert(trained >= 0.9, s"trained recall $trained should recover clusters")
  }

  test("k-means pivots hold the id-pivot baseline on the isotropic corpus") {
    // The driver corpus is isotropic random (measured mean best-neighbor
    // cos ≈ 0.37, no cluster structure), so NO pivot choice can beat any
    // other by much — this asserts training costs nothing there. Queries
    // are 100–119: disjoint from the id pivots (0–15), because a query
    // that IS a pivot gets a cell centered on itself, which inflates the
    // baseline in a way no trained centroid could (or should) reproduce.
    val queries = col("vec_id").between(100, 119)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id").cache()
    val recall = recallVs(exact) _
    val base = recall(Similarity.ivfTopK(emb, queries, k = 5))
    val trained = recall(Similarity.ivfTopKKmeans(emb, queries, k = 5))
    assert(trained >= base - 0.05,
      s"trained recall $trained fell below isotropic parity band of baseline $base")
  }

  test("trainPivots and IVF survive corpora smaller than k") {
    val tiny = mkVecs(Seq(
      1L -> Seq(1f, 0f, 0f),
      2L -> Seq(0f, 1f, 0f),
      3L -> Seq(0.9f, 0.1f, 0f)))
    val piv = Similarity.trainPivots(tiny, k = 8)
    assert(piv.count() === 3, "init truncates to the corpus size")
    val out = Similarity.ivfTopKWith(tiny, piv, col("vec_id") === 1, k = 2, nprobe = 3)
    // with every cell probed this degenerates to exact search: both other
    // vectors rank, the near-parallel one first
    assert(out.collect().map(_.getLong(1)).toSeq === Seq(3L, 2L))
  }

  test("trainPivots is deterministic and returns k full-width centroids") {
    val p1 = Similarity.trainPivots(emb).collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val p2 = Similarity.trainPivots(emb.repartition(13)).collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    assert(p1.length === Similarity.NumPivots)
    assert(p1.forall(_._2.length == Similarity.Dim))
    // bit-identical across input layouts: the fixed-point LONG sums make
    // centroid training independent of partitioning (the property the
    // DuckDB oracle replay depends on)
    assert(p1 === p2)
  }

  test("stored LSH index: probe matches fresh path, zero shuffle on index side") {
    try {
      Similarity.buildLshIndex(emb, "graft_lsh_idx_spec")
      // result parity: the index changes where signatures come from, not
      // the answer
      val indexed = Similarity.lshTopKIndexed(spark, "graft_lsh_idx_spec", col("vec_id") < 5)
      val fresh = Similarity.lshTopK(emb, col("vec_id") < 5)
      assert(indexed.collect().map(_.toString).sorted.toSeq === fresh.collect().map(_.toString).sorted.toSeq)
      // plan: the probe join reads the STORED bucketed table on both sides
      // and needs no shuffle anywhere — the only exchange is the broadcast
      // of the filtered query rows (the top-k stage after this subplan is
      // where the one legitimate shuffle lives)
      val probe = Similarity.indexedProbeJoin(spark, "graft_lsh_idx_spec", col("vec_id") < 5)
      val plan = probe.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange"),
        s"index probe must not shuffle the index side:\n$plan")
      assert(plan.contains("float_dot") === false,
        s"probe must read stored signatures, not recompute them:\n$plan")
      // the bucketed layout's distribution pays off where it is REQUIRED:
      // an index⋈index self-mining join on the band key (the all-pairs
      // shape) plans with zero exchanges of any kind — both sides are
      // pre-hashed and pre-sorted on (band_idx, band_val) on disk
      val priorThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val a = spark.table("graft_lsh_idx_spec")
          .select(col("vec_id").as("id_a"), col("band_idx"), col("band_val"))
        val b = spark.table("graft_lsh_idx_spec")
          .select(col("vec_id").as("id_b"), col("band_idx"), col("band_val"))
        val self = a.join(b, Seq("band_idx", "band_val"))
        val selfPlan = self.queryExecution.executedPlan.toString
        assert(!selfPlan.contains("Exchange"),
          s"bucketed self-mining join must not shuffle:\n$selfPlan")
        assert(selfPlan.contains("Bucketed: true"),
          s"self-mining join must use the bucketed layout:\n$selfPlan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorThreshold)
    } finally spark.sql("DROP TABLE IF EXISTS graft_lsh_idx_spec")
  }

  test("stored IVF index: probe matches the fresh trained path, streams the index") {
    try {
      Similarity.buildIvfIndex(emb, "graft_ivf_idx_spec")
      val indexed = Similarity.ivfTopKIndexed(spark, "graft_ivf_idx_spec", col("vec_id") < 5)
      val fresh = Similarity.ivfTopKKmeans(emb, col("vec_id") < 5)
      assert(indexed.collect().map(_.toString).sorted.toSeq === fresh.collect().map(_.toString).sorted.toSeq)
      // the candidate join must be a broadcast HASH join on the cell key
      // (probes broadcast, bucketed cells table streamed with no shuffle —
      // inherent to the broadcast-join shape) reading the STORED index, not
      // recomputing the corpus-wide argmax. Plan inspected as a string:
      // AQE query stages are leaf nodes to tree traversal.
      val probe = Similarity.ivfTopKIndexed(spark, "graft_ivf_idx_spec", col("vec_id") < 5)
      probe.collect()
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin [cell"),
        s"candidate join must be a broadcast hash join on cell:\n$plan")
      assert(plan.contains("graft_ivf_idx_spec["),
        s"probe must scan the stored index table:\n$plan")
      // the corpus-wide cell assignment (a groupBy over vec_id of the
      // emb×pivots product) must NOT appear — only the |queries|×k probe
      // ranking recomputes pivot cosines
      assert(!plan.contains("partial_min") || !plan.contains("npid"),
        s"probe must read stored cells, not recompute the argmax:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_ivf_idx_spec")
      spark.sql("DROP TABLE IF EXISTS graft_ivf_idx_spec_pivots")
    }
  }

  test("stored IVF×PQ index: cell prune + stored-code scoring, no retrain, no corpus pass") {
    try {
      Similarity.buildIvfPqIndex(emb, "graft_ivfpq_spec")
      val out = Similarity.ivfPqTopKIndexed(spark, "graft_ivfpq_spec",
        emb.filter(col("vec_id") < 5))
      val rows = out.collect()
      // contract: ≤k ranked rows per query, no self-pairs, cos in range
      assert(rows.groupBy(_.getLong(0)).forall { case (_, rs) =>
        rs.map(_.getLong(2)).sorted.sameElements(1L to rs.length) })
      assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
      // recall floor vs the exact float tier: the composition stacks IVF's
      // geometric loss on PQ's quantization loss, so the floor sits under
      // both tiers' individual floors but far above chance (5/999 ≈ 0.005)
      val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 5)
        .select("query_id", "neighbor_id")
      val recall = recallVs(exact)(out)
      assert(recall >= 0.15, s"ivf-pq recall $recall below floor")
      // plan: candidate join is a broadcast hash join on the cell key
      // reading the STORED composed index (cells + codes in one table)
      val full = out.queryExecution.executedPlan.toString
      val plan = full.split("== Initial Plan ==").head // AQE prints both
      assert(plan.contains("BroadcastHashJoin [cell"),
        s"candidate join must broadcast probes against stored cells:\n$plan")
      assert(plan.contains("graft_ivfpq_spec["),
        s"probe must scan the stored composed index:\n$plan")
      // stored-cells prune (r14, VERDICT r13 item 5): no driver-collected
      // cell literal anywhere — the cell-partitioned code-table scan
      // carries a RUNTIME partition filter fed by the broadcast probe
      // side (dynamic partition pruning), so unprobed cells are never
      // read off disk and the probe is one plan with no collect
      assert(plan.contains("dynamicpruning"),
        s"code-table scan must be dynamically partition-pruned to the probed cells:\n$plan")
      // no retrain / no corpus pass: the ONLY scan of the raw embeddings
      // parquet is the query side — cells and codes both come off disk
      // (the corpus-wide argmax would show as a second embeddings scan)
      val embScans = "embeddings\\.parquet".r.findAllIn(plan).length
      assert(embScans == 1,
        s"probe must read raw embeddings only for the queries ($embScans scans):\n$plan")
      // map-side reconstruction (r10 item 4): candidates rebuild via the
      // literal codebook lookup inside the scan's projection — no
      // posexplode/collect_list reassembly aggregation, and no join
      // against the books table in the probe plan at all
      assert(!plan.contains("collect_list") && !plan.contains("posexplode"),
        s"reconstruction must be the literal-lookup projection:\n$plan")
      assert(!plan.contains("graft_ivfpq_spec_books["),
        s"probe plan must not join the stored books (folded as a literal):\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_ivfpq_spec")
      spark.sql("DROP TABLE IF EXISTS graft_ivfpq_spec_pivots")
      spark.sql("DROP TABLE IF EXISTS graft_ivfpq_spec_books")
    }
  }

  test("semanticDedupIndexed: drop rule exact against a driver-side replay") {
    try {
      Similarity.buildIvfIndex(emb, "graft_sem_spec")
      val tau = 0.4
      val out = Similarity.semanticDedupIndexed(spark, "graft_sem_spec", tau)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // replay: read the stored assignment, compute all within-cell pair
      // cosines on the driver, apply the lower-id-survives rule
      val asg = spark.table("graft_sem_spec")
        .select("vec_id", "cell", "embedding").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2).toArray))
      def cos(x: Array[Float], y: Array[Float]): Double = {
        var (d, nx, ny, i) = (0.0, 0.0, 0.0, 0)
        while (i < x.length) {
          d += x(i).toDouble * y(i); nx += x(i).toDouble * x(i)
          ny += y(i).toDouble * y(i); i += 1
        }
        d / (math.sqrt(nx) * math.sqrt(ny))
      }
      val dominated = (for {
        a <- asg; b <- asg
        if a._2 == b._2 && a._1 < b._1 && cos(a._3, b._3) >= tau
      } yield b._1).toSet
      val expect = asg.filterNot(t => dominated(t._1)).map(t => (t._1, t._2)).sortBy(_._1)
      assert(out.sortBy(_._1).toSeq === expect.toSeq)
      // the rule must actually bind on this corpus — some vector dropped
      assert(dominated.nonEmpty, "tau never binds: dedup_semantic is vacuous")
    } finally {
      Seq("graft_sem_spec", "graft_sem_spec_pivots")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("hot-cell guard: sub-sharded pair enumeration is exact and bounded") {
    graft.functions.FloatDot.register(spark)
    // a duplicate-saturated corpus shape: one pathological cell holding
    // almost everything (the corner VERDICT r10 flagged), plus a normal one
    val rnd = new scala.util.Random(7)
    def vec() = Seq.fill(8)(rnd.nextFloat() - 0.5f)
    val rows = (0L until 300L).map(i => (i, 0L, vec())) ++
      (300L until 305L).map(i => (i, 1L, vec()))
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("cell", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val idx = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, c, v) => Row(id, c, v) }),
      schema)
    val cap = 16
    val pairs = Similarity.semanticBlockPairs(idx, cap).cache()
    try {
      // every within-cell (a < b) pair exactly once — the block
      // decomposition with the diagonal orientation filter must neither
      // drop nor double-enumerate
      val total = pairs.count()
      assert(total === 300L * 299 / 2 + 5L * 4 / 2)
      assert(pairs.select("a_id", "b_id").distinct().count() === total)
      // bounded: no single block (= one task's join group) exceeds the
      // (2·cap)² pair bound, however large the hot cell is
      val maxBlock = pairs.groupBy("cell", "blo", "bhi").count()
        .agg(max("count")).head().getLong(0)
      assert(maxBlock <= 4L * cap * cap,
        s"block pair count $maxBlock exceeds ${4L * cap * cap}")
      // the hot cell really did split across many blocks
      val hotBlocks = pairs.filter(col("cell") === 0L)
        .select("blo", "bhi").distinct().count()
      assert(hotBlocks > 10, s"hot cell only produced $hotBlocks blocks")
      // and the kept set is sharding-invariant: sub-sharded vs single-shard
      val tau = 0.2
      val sharded = Similarity.semanticDominated(idx, tau, cap)
        .collect().map(_.getLong(0)).toSet
      val plain = Similarity.semanticDominated(idx, tau, Int.MaxValue)
        .collect().map(_.getLong(0)).toSet
      assert(sharded.nonEmpty, "tau never binds: equivalence check is vacuous")
      assert(sharded === plain)
    } finally pairs.unpersist()
  }

  test("hot-cell block decomposition is exact-once across random shapes") {
    // the guard must hold for ANY (cell sizes, cap) shape, not just the
    // crafted hot cell: cells of size 0/1/cap-boundary/cap+1, caps that
    // divide and don't divide, single-shard degenerate cells
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("cell", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val rnd = new scala.util.Random(13)
    for ((sizes, cap) <- Seq(
        (Seq(1, 2, 3), 2), (Seq(17, 4, 1), 4), (Seq(33, 32, 31), 16),
        (Seq(64), 8), (Seq(5, 5, 5, 5), 100))) {
      var id = 0L
      val rows = sizes.zipWithIndex.flatMap { case (n, c) =>
        (0 until n).map { _ => id += 1; Row(id, c.toLong, Seq.fill(4)(rnd.nextFloat())) }
      }
      val idx = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      val pairs = Similarity.semanticBlockPairs(idx, cap)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      val expect = sizes.map(n => n.toLong * (n - 1) / 2).sum
      assert(pairs.length.toLong === expect,
        s"sizes=$sizes cap=$cap: ${pairs.length} pairs, expected $expect")
      assert(pairs.distinct.length === pairs.length,
        s"sizes=$sizes cap=$cap: duplicate pair enumerated")
      assert(pairs.forall { case (a, b) => a < b })
    }
  }

  test("incremental IVF×PQ index: two model-stored appends equal the one-shot build") {
    try {
      Similarity.buildIvfPqIndex(emb, "graft_ivfpq_one")
      Similarity.buildIvfPqModels(emb, "graft_ivfpq_two")
      Similarity.appendToIvfPqIndex(spark, emb.filter(col("vec_id") % 2 === 0),
        "graft_ivfpq_two")
      Similarity.appendToIvfPqIndex(spark, emb.filter(col("vec_id") % 2 =!= 0),
        "graft_ivfpq_two")
      // assignment and encoding are per-vector given fixed models, so the
      // accumulated two-batch table must be ROW-identical to the one-shot
      // corpus pass, and the probe answers must match bit-for-bit
      val one = spark.table("graft_ivfpq_one").orderBy("vec_id").collect().toSeq
      val two = spark.table("graft_ivfpq_two").orderBy("vec_id").collect().toSeq
      assert(one === two)
      val qa = Similarity.ivfPqTopKIndexed(spark, "graft_ivfpq_one",
        emb.filter(col("vec_id") < 5)).collect().toSeq
      val qb = Similarity.ivfPqTopKIndexed(spark, "graft_ivfpq_two",
        emb.filter(col("vec_id") < 5)).collect().toSeq
      assert(qa === qb)
    } finally {
      Seq("graft_ivfpq_one", "graft_ivfpq_one_pivots", "graft_ivfpq_one_books",
        "graft_ivfpq_two", "graft_ivfpq_two_pivots", "graft_ivfpq_two_books")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("incremental LSH index: append equals one-shot build, touches only the new batch") {
    try {
      val oldBatch = emb.filter(col("vec_id") % 2 === 0)
      val newBatch = emb.filter(col("vec_id") % 2 =!= 0)
      Similarity.buildLshIndex(oldBatch, "graft_lsh_incr_spec")
      val rowsBefore = spark.table("graft_lsh_incr_spec").count()
      Similarity.appendToLshIndex(newBatch, "graft_lsh_incr_spec")
      // the append wrote EXACTLY the new batch's band rows (SigBands per
      // vector) — nothing of the existing index was rewritten or duplicated
      val rowsAfter = spark.table("graft_lsh_incr_spec").count()
      assert(rowsBefore === oldBatch.count() * Similarity.SigBands)
      assert(rowsAfter - rowsBefore === newBatch.count() * Similarity.SigBands)
      // two-batch index answers identically to the fresh full-corpus path
      val indexed = Similarity.lshTopKIndexed(spark, "graft_lsh_incr_spec", col("vec_id") < 5)
      val fresh = Similarity.lshTopK(emb, col("vec_id") < 5)
      assert(indexed.collect().map(_.toString).sorted.toSeq === fresh.collect().map(_.toString).sorted.toSeq)
      // the appended layout still supports the exchange-free probe: the
      // index side of the probe join plans with no shuffle
      val probe = Similarity.indexedProbeJoin(spark, "graft_lsh_incr_spec", col("vec_id") < 5)
      val plan = probe.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange"),
        s"index probe over appended layout must not shuffle:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS graft_lsh_incr_spec")
  }

  test("incremental IVF index: stored-pivot assignment scales with the batch, not the corpus") {
    try {
      Similarity.buildIvfPivots(emb, "graft_ivf_incr_spec")
      val batch1 = emb.filter(col("vec_id") % 2 === 0)
      val batch2 = emb.filter(col("vec_id") % 2 =!= 0)
      // the new-batch assignment reads ONLY the stored pivots + the batch:
      // no scan of the assignment table, no retraining
      val assignPlan = Similarity.assignCellsIndexed(spark, batch2, "graft_ivf_incr_spec")
        .queryExecution.optimizedPlan.toString
        .replace("graft_ivf_incr_spec_pivots", "PIVOTS")
      assert(!assignPlan.contains("graft_ivf_incr_spec"),
        s"batch assignment must not scan the assignment table:\n$assignPlan")
      assert(assignPlan.contains("PIVOTS"), "assignment must read the stored pivots")
      assert(Similarity.assignCellsIndexed(spark, batch2, "graft_ivf_incr_spec").count()
        === batch2.count())
      Similarity.appendToIvfIndex(spark, batch1, "graft_ivf_incr_spec")
      Similarity.appendToIvfIndex(spark, batch2, "graft_ivf_incr_spec")
      // per-vector assignment against fixed pivots: two appended batches ==
      // the one-shot trained path
      val indexed = Similarity.ivfTopKIndexed(spark, "graft_ivf_incr_spec", col("vec_id") < 5)
      val fresh = Similarity.ivfTopKKmeans(emb, col("vec_id") < 5)
      assert(indexed.collect().map(_.toString).sorted.toSeq === fresh.collect().map(_.toString).sorted.toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_ivf_incr_spec")
      spark.sql("DROP TABLE IF EXISTS graft_ivf_incr_spec_pivots")
    }
  }

  test("ivfTopK ranks candidates by exact cosine") {
    val out = Similarity.ivfTopK(emb, col("vec_id") < 5, k = 5).cache()
    val viol = out.as("x").join(out.as("y"),
        col("x.query_id") === col("y.query_id") && col("x.rn") < col("y.rn") &&
          col("x.cos") < col("y.cos"))
      .count()
    assert(viol === 0)
  }

  test("embeddingNearDupPairs: symmetric-free, threshold respected") {
    val out = Similarity.embeddingNearDupPairs(emb, minCos = 0.4).cache()
    assert(out.filter(col("id_a") >= col("id_b") || col("cos") < 0.4).count() === 0)
    assert(out.count() > 0, "corpus has pairs above threshold")
  }

  test("embeddingNearDupPairsLSH: perfect precision, measured recall vs exact") {
    val exact = Similarity.embeddingNearDupPairs(emb, minCos = 0.4)
      .select("id_a", "id_b").cache()
    val lsh = Similarity.embeddingNearDupPairsLSH(emb, minCos = 0.4)
      .select("id_a", "id_b").cache()
    // precision 1.0: every LSH pair is a true pair (exact cosine verify)
    assert(lsh.join(exact, Seq("id_a", "id_b"), "left_anti").count() === 0)
    val recall = lsh.count().toDouble / exact.count()
    // deterministic; threshold-angle band-collision probability ~0.5 for
    // cos in [0.4, 0.51] — floor asserts the bucketing does real work
    assert(recall >= 0.3, s"recall $recall below floor")
  }

  test("clusterBalancedSample keeps exactly the per-cell hash-order prefix") {
    import org.apache.spark.sql.functions._
    val perCell = 4
    val kept = Similarity.clusterBalancedSample(emb, perCell)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    // reconstruct independently from the same trained assignment
    val assigned = Similarity.assignCells(emb, Similarity.trainPivots(emb))
      .select(col("vec_id"), col("cell"),
        graft.functions.CrossHash.h60(
          concat(lit("cbs:"), col("vec_id").cast("string"))).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = assigned.groupBy(_._2).toSeq.flatMap { case (cell, rows) =>
      rows.sortBy(r => (r._3, r._1)).take(perCell).zipWithIndex
        .map { case (r, i) => (r._1, cell, i.toLong) }
    }.toSet
    assert(kept.toSet === expected)

    // every cell respects the cap, and dense cells are actually cut
    val perCellCounts = kept.groupBy(_._2).view.mapValues(_.length)
    assert(perCellCounts.values.forall(_ <= perCell))
    assert(kept.length < emb.count(), "the cap must bind on dense cells")
  }

  test("clusterBalancedSample never sorts a whole cell in one task") {
    // the two-level cap's plan must pre-filter on salted (cell, sub)
    // windows before the per-cell merge window — a single window
    // partitioned only by cell would be a full-cell single-task sort
    val plan = Similarity.clusterBalancedSample(emb, 4)
      .queryExecution.optimizedPlan.toString
    val windowSpecs = "windowspecdefinition\\(([^)]*?) ASC".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(windowSpecs.nonEmpty, s"no window specs found in:\n$plan")
    val saltedFirst = windowSpecs.exists(s => s.contains("cell") && s.contains("sub"))
    assert(saltedFirst, s"no salted (cell, sub) pre-cap window in:\n$windowSpecs")
    // and the salted prefix really is a strict pre-filter: with subCells=1
    // the two levels collapse to the single-window form — same kept set
    val collapsed = Similarity.clusterBalancedSample(emb, 4, subCells = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val twoLevel = Similarity.clusterBalancedSample(emb, 4, subCells = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(collapsed === twoLevel, "two-level cap must equal single-window prefix")
  }

  test("stored PQ index: probe matches the one-shot path, corpus side reads 16-byte codes") {
    try {
      Similarity.buildPqIndex(emb, "graft_pq_spec")
      // the stored codes really are the compressed representation: one
      // TINYINT per subspace, nothing else
      val codesSchema = spark.table("graft_pq_spec").schema
      assert(codesSchema.fieldNames.toSeq === Seq("vec_id", "codes"))
      assert(spark.table("graft_pq_spec")
        .filter(size(col("codes")) =!= Similarity.PqSubspaces).count() === 0)
      val indexed = Similarity.pqTopKIndexed(spark, "graft_pq_spec",
        emb.filter(col("vec_id") < 5))
      val fresh = Similarity.pqTopK(emb, col("vec_id") < 5)
      assert(indexed.collect().map(_.toString).sorted.toSeq === fresh.collect().map(_.toString).sorted.toSeq)
      // probe plan reads the stored codes + books; the corpus float column
      // appears only on the (tiny) query side, never under the index scan
      val plan = indexed.queryExecution.executedPlan.toString
      assert(plan.contains("graft_pq_spec["),
        s"probe must scan the stored codes table:\n$plan")
      assert(plan.contains("graft_pq_spec_books["),
        s"probe must read the stored codebooks:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_pq_spec")
      spark.sql("DROP TABLE IF EXISTS graft_pq_spec_books")
    }
  }

  test("incremental PQ index: stored-books encode, append equals one-shot ranking") {
    try {
      Similarity.buildPqBooks(emb, "graft_pq_incr_spec")
      val batch1 = emb.filter(col("vec_id") % 2 === 0)
      val batch2 = emb.filter(col("vec_id") % 2 =!= 0)
      Similarity.appendToPqIndex(spark, batch1, "graft_pq_incr_spec")
      // the append wrote exactly the batch's codes — nothing rewritten
      assert(spark.table("graft_pq_incr_spec").count() === batch1.count())
      Similarity.appendToPqIndex(spark, batch2, "graft_pq_incr_spec")
      assert(spark.table("graft_pq_incr_spec").count() === emb.count())
      // encoding is per-vector under fixed books: two appended batches
      // answer identically to the one-shot trained path
      val indexed = Similarity.pqTopKIndexed(spark, "graft_pq_incr_spec",
        emb.filter(col("vec_id") < 5))
      val fresh = Similarity.pqTopK(emb, col("vec_id") < 5)
      assert(indexed.collect().map(_.toString).sorted.toSeq === fresh.collect().map(_.toString).sorted.toSeq)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_pq_incr_spec")
      spark.sql("DROP TABLE IF EXISTS graft_pq_incr_spec_books")
    }
  }

  test("clusterBalancedSampleIndexed: equals the direct sampler, prunes the float column") {
    try {
      Similarity.buildIvfIndex(emb, "graft_cbs_spec")
      val indexed = Similarity.clusterBalancedSampleIndexed(spark, "graft_cbs_spec")
      val direct = Similarity.clusterBalancedSample(emb)
      assert(indexed.collect().map(_.toString).sorted.toSeq === direct.collect().map(_.toString).sorted.toSeq)
      // the sampler needs only (vec_id, cell): the stored index's float
      // embedding column must be pruned out of the scan entirely
      val plan = indexed.queryExecution.executedPlan.toString
      assert(plan.contains("graft_cbs_spec["),
        s"indexed sampler must scan the stored assignment:\n$plan")
      assert(!plan.contains("embedding"),
        s"embedding column must be pruned from the sampling scan:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_cbs_spec")
      spark.sql("DROP TABLE IF EXISTS graft_cbs_spec_pivots")
    }
  }

  test("refine tier: exact re-rank of the PQ shortlist; recall >= PQ-only vs exact") {
    val tables = Seq("graft_rf_pq", "graft_rf_pq_pivots", "graft_rf_pq_books",
      "graft_rf_vecs")
    try {
      Similarity.buildIvfPqIndex(emb, "graft_rf_pq")
      Similarity.buildVectorStore(emb, "graft_rf_vecs")
      val queries = emb.filter(col("vec_id") < 10)
      val refined = Similarity.ivfPqRefineTopKIndexed(
        spark, "graft_rf_pq", "graft_rf_vecs", queries).cache()
      // the refined list is exactly the exact-cosine re-rank of the
      // PQ shortlist at the serving defaults (independent driver-side
      // reconstruction at the SAME width and probe depth)
      val shortlist = Similarity.ivfPqTopKIndexed(
          spark, "graft_rf_pq", queries,
          k = Similarity.RefineShortlist, nprobe = Similarity.RefineNprobe)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val vecs = emb.collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
      def cos(a: Seq[Double], b: Seq[Double]): Double = {
        val d = a.zip(b).map { case (x, y) => x * y }.sum
        d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      }
      val expected = shortlist.groupBy(_._1).toSeq.flatMap { case (q, cands) =>
        cands.map { case (_, n) => (q, n, cos(vecs(q), vecs(n))) }
          .sortBy { case (_, n, c) => (-c, n) }.take(5).zipWithIndex
          .map { case ((_, n, _), i) => (q, n, i + 1L) }
      }.toSet
      val got = refined.select("query_id", "neighbor_id", "rn")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === expected, "refine must be the exact re-rank of the shortlist")
      // recall vs exact ground truth: refine can only help (quantization
      // error now affects the shortlist, never the final order)
      val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 10, k = 5)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val pqOnly = Similarity.ivfPqTopKIndexed(spark, "graft_rf_pq", queries, k = 5)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val refinedSet = refined.select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert((refinedSet & exact).size >= (pqOnly & exact).size,
        s"refine recall ${(refinedSet & exact).size} must be >= PQ-only ${(pqOnly & exact).size}")
      refined.unpersist()
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS ${t}"))
  }

  test("recallAtK: exact-vs-itself is 1.0, counts are honest on a crafted subset") {
    import spark.implicits._
    val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 10).cache()
    // the ground truth against itself scores a perfect 1.0 everywhere
    val self = Similarity.recallAtK(exact, exact).cache()
    assert(self.count() === 10)
    assert(self.filter(col("recall") =!= 1.0 || col("n_hits") =!= col("n_exact")).count() === 0)
    // a crafted approx: queries 0/1 keep only their top-2 true neighbors,
    // the rest get disjoint junk -> recall is exactly 2/5 and 0
    val top2 = exact.filter(col("query_id") < 2 && col("rn") <= 2)
      .select("query_id", "neighbor_id")
    val junk = Seq((2L, -1L), (2L, -2L)).toDF("query_id", "neighbor_id")
    val crafted = Similarity.recallAtK(top2.unionAll(junk), exact)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(crafted(0L) === ((2L, 0.4)) && crafted(1L) === ((2L, 0.4)))
    assert(crafted(2L) === ((0L, 0.0)), "junk neighbors never count as hits")
    // the real LSH tier: one row per query, recall in [0,1], and at least
    // as good as the spec's historical recall floor for this corpus
    val lsh = Similarity.recallAtK(
      Similarity.lshTopK(emb, col("vec_id") < 10), exact).cache()
    assert(lsh.count() === 10)
    assert(lsh.filter(col("recall") < 0 || col("recall") > 1).count() === 0)
    assert(lsh.agg(sum("n_hits")).first().getLong(0) >=
      lsh.agg(sum("n_exact")).first().getLong(0) / 2,
      "LSH recall collapsed below 50% on the gate corpus")
  }

  test("hardNegatives: known positives are excluded BEFORE the rank, displacing none of the negatives") {
    // positives = each query's brute-force top-1 neighbor, so exclusion
    // is GUARANTEED to bite: the miner's top-5 must equal the exact
    // top-6 minus that positive, re-ranked — not the top-5 with a hole
    val top1 = Similarity.bruteForceTopK(emb, col("vec_id") < 10, k = 1)
      .select(col("query_id"), col("neighbor_id").as("pos_id"))
    val mined = Similarity.hardNegatives(emb, col("vec_id") < 10, top1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val posSet = top1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mined.forall { case (q, n, _) => !posSet((q, n)) },
      "a known positive leaked into the negatives")
    val expected = Similarity.bruteForceTopK(emb, col("vec_id") < 10, k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filterNot(posSet)
      .groupBy(_._1).toSeq.flatMap { case (q, ns) =>
        ns.take(5).zipWithIndex.map { case ((_, n), i) => (q, n, i + 1L) }.toSeq }
      .toSet
    assert(mined.toSet === expected,
      "mining must equal exact top-6 minus the positive, re-ranked")
    assert(mined.size === 50, "every query must still get k full negatives")
  }

  test("prefixRefineTopK: re-rank is exact, and a corpus-wide shortlist recovers brute force") {
    // two-stage contract: quantization (here truncation) affects WHICH
    // candidates shortlist, never their final ORDER — every returned cos
    // is the exact full-dim cosine
    val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    val nVecs = emb.count().toInt
    val wide = Similarity.prefixRefineTopK(emb, col("vec_id") < 10,
      candidates = nVecs - 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // with the shortlist covering the whole corpus the truncation stage
    // prunes nothing, so the refined result IS brute force
    val bf = Similarity.bruteForceTopK(emb, col("vec_id") < 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(wide.toSeq.sorted === bf.toSeq.sorted)
    // at the gate's 20-candidate budget, every returned score is still
    // the exact cosine (the re-rank never serves a truncated number)
    val narrow = Similarity.prefixRefineTopK(emb, col("vec_id") < 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3)))
    val full = Similarity.bruteForceTopK(emb, col("vec_id") < 10, k = nVecs - 1)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
    narrow.foreach { case (k2, cos) =>
      assert(full(k2) === cos, s"served score for $k2 is not the exact cosine")
    }
  }

  test("mmrTopK: an exact duplicate is displaced by a diverse equal-relevance hit") {
    // q=[1,0,0,0]; ids 1 and 2 are EXACT duplicates [1,1,0,0] (pairwise
    // sim 1.0), id 3 = [1,0,1,0] has the SAME relevance (1/√2) but only
    // 0.5 sim to them. Plain top-3 would serve 1,2,3 by id; MMR at λ=0.5
    // must interleave: pick 1 (tiebreak), then 3 (the duplicate's
    // penalty 0.5·0.707−0.5·1 < 0.5·0.707−0.5·0.5), duplicate last.
    val vecs = mkVecs(Seq(
      0L -> Seq(1f, 0f, 0f, 0f),
      1L -> Seq(1f, 1f, 0f, 0f),
      2L -> Seq(1f, 1f, 0f, 0f),
      3L -> Seq(1f, 0f, 1f, 0f)))
    val got = Similarity.mmrTopK(vecs, col("vec_id") === 0, k = 3,
        shortlist = 3, lam = 0.5)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((1L, 1L), (2L, 3L), (3L, 2L)), s"MMR order wrong: $got")
  }

  test("nprobeCalibration: exact-on-sample and minimal on any corpus; " +
      "prunes hard where neighbors have cell affinity") {
    val cells = 64
    val sample = col("vec_id") >= 10 && col("vec_id") < 42
    // clustered synthetic (the shape production embeddings have): vectors
    // mixed 9:1 toward one of 8 anchor directions — neighbors share cells
    val anchors = emb.filter(col("vec_id") < 8)
      .orderBy("vec_id").select("embedding")
      .collect().map(_.getSeq[Float](0))
    val anchorLit = typedlit(anchors.map(_.toSeq).toSeq)
    val clustered = emb.select(col("vec_id"),
      zip_with(
        element_at(anchorLit, (col("vec_id") % 8).cast("int") + 1),
        col("embedding"),
        (a, x) => (a * lit(0.9f) + x * lit(0.1f)).cast("float")).as("embedding"))
    for ((shape, corpus, tbl) <- Seq(
        ("random", emb, "graft_cal_ivf_r"),
        ("clustered", clustered, "graft_cal_ivf_c"))) {
      Similarity.buildIvfIndex(corpus, tbl, kClusters = cells)
      for (t <- Seq(0.8, 0.9)) {
        val cons = Similarity.pickNprobe(spark, tbl, t)
        // margin 0: the exact-on-sample minimal width (the minimality
        // assertion below is the margin-free contract)
        val cal = Similarity.calibrateNprobe(spark, tbl, sample, t, margin = 0.0)
        // neighbors concentrate in near cells, so the empirical width can
        // never exceed the any-cells worst-case width
        assert(cal <= cons, s"$shape t=$t: calibrated $cal > conservative $cons")
        // exact-on-sample: the calibrated width's served recall over the
        // calibration queries IS the sample recall the pick met...
        val truth = Similarity.bruteForceTopK(corpus, sample)
        val rec = Similarity.recallAtK(
            Similarity.ivfTopKIndexed(spark, tbl, sample, nprobe = cal), truth)
          .agg(avg("recall")).head().getDouble(0)
        assert(rec >= t, s"$shape t=$t: calibrated nprobe=$cal serves recall $rec")
        // ...and one cell narrower must MISS on the sample (minimality —
        // the pick is the smallest sufficient width, not merely one)
        if (cal > 1) {
          val recNarrow = Similarity.recallAtK(
            Similarity.ivfTopKIndexed(spark, tbl, sample, nprobe = cal - 1),
            truth).agg(avg("recall")).head().getDouble(0)
          assert(recNarrow < t,
            s"$shape t=$t: nprobe=${cal - 1} already serves $recNarrow — not minimal")
        }
        // where affinity exists the calibration must PRUNE — the property
        // the conservative model structurally cannot deliver (it needs
        // ~t of the mass from the smallest cells up, so ~t*cells here)
        if (shape == "clustered")
          assert(cal < cells / 2,
            s"clustered t=$t: no pruning power ($cal of $cells cells)")
      }
      // recall-target mode: the refine tier served with recallTarget = t
      // meets t against the exact scan on this corpus shape
      val (pq, vecs) = (tbl + "_pq", tbl + "_vecs")
      try {
        Similarity.buildIvfPqIndex(corpus, pq)
        Similarity.buildVectorStore(corpus, vecs)
        val queries = col("vec_id") < 10
        val truth = Similarity.bruteForceTopK(corpus, queries)
        for (t <- Seq(0.8, 0.9)) {
          val rec = Similarity.recallAtK(
              Similarity.ivfPqRefineTopKIndexed(spark, pq, vecs,
                corpus.filter(queries), recallTarget = Some(t)), truth)
            .agg(avg("recall")).head().getDouble(0)
          assert(rec >= t, s"$shape: refine at recallTarget=$t serves recall $rec")
        }
      } finally
        Seq(pq, pq + "_pivots", pq + "_books", vecs)
          .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    }
  }

  test("mmrTopK: first pick is the relevance argmax; selections distinct") {
    val got = Similarity.mmrTopK(emb, col("vec_id") < 10).collect()
    assert(got.length === 50)
    val top1 = Similarity.bruteForceTopK(emb, col("vec_id") < 10, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.filter(_.getLong(1) == 1L).foreach { r =>
      assert(top1(r.getLong(0)) === r.getLong(2),
        s"query ${r.getLong(0)}: first MMR pick is not the top-1")
    }
    val perQuery = got.groupBy(_.getLong(0))
    assert(perQuery.values.forall(rs => rs.map(_.getLong(2)).distinct.length == 5),
      "a vector was selected twice")
  }
}
