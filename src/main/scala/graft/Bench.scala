package graft

object Bench {

  /** Round to millisecond resolution: keeps the JSON artifact compact
    * (81 queries × 3 maps) without losing anything a wall-clock benchmark
    * can legitimately claim. */
  private def round3(x: Double): Double = math.round(x * 1000.0) / 1000.0

  /** Steady-state per-query map of a prior committed artifact — the
    * cross-round swing baseline. A prior measured at a DIFFERENT scale is
    * not a baseline: comparing an sf0.1 sweep against a committed sf0.001
    * smoke would flag every query as a phantom 10-100x swing, so a
    * mismatched `sf` field drops the whole map; artifacts without one
    * (pre-contract) are kept. Values parse under a per-entry Try — one
    * malformed number skips that entry only, it must not throw away the
    * rest — with a char class covering the full JSON double
    * surface incl. negative exponents (e.g. 1.5E-3). */
  private[graft] def parsePrior(txt: String, sfDir: String): Map[String, Double] = {
    val qs = txt.indexOf("\"queries\":{")
    val sfOk = "\"sf\":\"([^\"]*)\"".r.findFirstMatchIn(txt)
      .forall(_.group(1) == sfDir)
    if (qs < 0 || !sfOk) Map.empty
    else {
      val body = txt.substring(qs + 11, txt.indexOf("}", qs))
      "\"([a-z0-9_]+)\":(-?[0-9.eE+-]+)".r.findAllMatchIn(body)
        .flatMap(m => scala.util.Try(m.group(1) -> m.group(2).toDouble).toOption)
        .filter(_._2 > 0.0) // -1 marks a prior failure, not a timing
        .toMap
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/bench_last.json")
    val spark = GraftSession.local(cpus.toInt, "graft-bench")
    // pin state for the shared-projection runs; a pin failure must be
    // VISIBLE (a silent skip would flip the shared map's semantics with no
    // diagnostic), so it gets its own try/catch below
    var pinOk = false
    // Warm up the JVM/codegen/parquet-footer paths once so the first timed
    // query doesn't absorb session start-up cost (measured ~6 s of one-time
    // Jackson/from_json + legacy-nanos-read initialization otherwise).
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").count()
      // .collect(), not .count() — count() would let Catalyst prune the
      // from_json away and skip the Jackson init this exists to absorb
      graft.sources.Tables.events(spark, sfDir)
        .limit(16).selectExpr("from_json(props, 'k INT') AS j").collect()
      // warm the md5/conv/shingle codegen + band-join + signature-verify
      // paths on a 64-row synthetic corpus: the MinHash family's first
      // query otherwise absorbs ~10 s of one-time JIT that belongs to the
      // JVM, not to that query (measured: dedup_minhash_pairs cold 15.7 s
      // vs 0.48 s steady)
      graft.ops.Dedup.minHashPairs(
        spark.range(64).selectExpr("id AS doc_id",
          "concat('w', CAST(id % 7 AS STRING), ' a b c d e f') AS text")).collect()
      // warm the JVM's media-codec registries: javax.imageio and
      // javax.sound scan their provider registries on first use (~1-3 s
      // of one-time classloading that would otherwise land in
      // mm_decode_png's cold time) — one 1-row synthesize→decode per codec absorbs it
      val oneDoc = spark.range(1).selectExpr("id AS doc_id",
        "'w' AS text", "'en' AS lang", "'s' AS source", "1 AS n_chars")
      graft.ops.Multimodal.decodePng(graft.ops.Multimodal.synthesizePng(oneDoc)).collect()
      graft.ops.Multimodal.decodeWav(graft.ops.Multimodal.synthesizeWav(oneDoc)).collect()
      // drop the warmup's persisted signature table before timing starts
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
    } catch { case _: Throwable => () }
    // materialize + pin the shared token projection (SharedCorpus) now,
    // UNTIMED: the deployment mode it models tokenizes the corpus once for
    // the whole suite, so its one-time cost belongs to the session, not to
    // whichever ta_/dedup_ gate happens to run first. Its OWN try/catch:
    // a warmup failure above must not silently skip the pin
    // and quietly turn every "shared" measurement into a raw re-run.
    try { graft.ops.SharedCorpus.pin(spark, sfDir); pinOk = true }
    catch { case e: Throwable =>
      System.err.println(s"[bench] SharedCorpus.pin FAILED - shared map omitted: ${e.getMessage}")
    }
    // stable alphabetical order so per-query timings compare across rounds;
    // each query runs SPARK_GRAFT_BENCH_RUNS times (default 3: with min AND
    // median reported, 3 runs is the cheapest config where the two can
    // disagree and flag ambient machine load — a single min once reported
    // phantom 11x regressions it could not self-diagnose).
    // min = steady-state throughput; first run preserved under "cold".
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // true median: average of the two middle elements for even run counts
    // (the upper-middle pick would report the MAX of 2 runs as "median",
    // inflating total_median and the noisy spread)
    def medianOf(sorted: Seq[Double]): Double =
      if (sorted.size % 2 == 1) sorted(sorted.size / 2)
      else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0
    def isNoisy(mn: Double, md: Double): Boolean = md > 2.0 * mn + 0.25
    // Run semantics: ALL numbered runs execute the RAW recompute path
    // (SharedCorpus.withMode(false)), so "cold" (run 1) and the steady
    // min/median are raw-mode numbers, comparable across artifacts. The
    // tokenize-once
    // deployment mode is measured SEPARATELY: one extra pinned-projection
    // run per gate that actually consults docsTok (the touched probe —
    // relational gates never do, and re-timing their identical plan would
    // be noise), reported in its own "shared" map, never mixed into
    // cold/steady. Returns (raw runs, optional shared-mode run).
    def timeOne(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        shared: Boolean): (Double, Boolean) = {
      val t0 = System.nanoTime()
      // toRdd.count() executes the FULL physical plan (final projections,
      // sorts, formatting included); a DataFrame count() would let
      // Catalyst prune output-side work and under-measure the query
      val ok = graft.ops.SharedCorpus.withMode(shared) {
        try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
        catch { case _: Throwable => false }
      }
      ((System.nanoTime() - t0) / 1e9, ok)
    }
    def timeRuns(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame,
        n: Int, withShared: Boolean = true): (Seq[(Double, Boolean)], Option[(Double, Boolean)]) = {
      graft.ops.SharedCorpus.resetTouched()
      val ts = (1 to n).map(_ => timeOne(fn, shared = false))
      // shared map = STEADY-STATE of the tokenize-once mode, min of 2 runs
      // — symmetric with the raw steady's min-of-n semantics. No operator
      // leaves a session-cache entry behind (an intermediate is released by
      // the function that persisted it, or is a local checkpoint of that
      // run's own plan), so raw runs 2..n recompute every intermediate;
      // what they may reuse from run 1 is per-session memoized training,
      // tables a gate builds once, and warm JVM/file caches.
      val sharedRun =
        if (withShared && pinOk && graft.ops.SharedCorpus.wasTouched) {
          val runs2 = (1 to 2).map(_ => timeOne(fn, shared = true))
          Some((runs2.map(_._1).min, runs2.forall(_._2)))
        }
        else None
      // drop this query's persisted intermediates before the next query:
      // without this, ~30 queries of cached dedup/similarity tables pile up
      // and later queries' timings become order- and memory-pressure-
      // sensitive. BLOCKING unpersist of the backing RDDs first
      // (clearCache's async eviction can overlap the next query's first timed
      // run), then clearCache() to drop the now-empty plan-cache entries.
      // The pinned SharedCorpus projection needs no exemption: it is a
      // parquet snapshot on disk (columnar, real stats), not executor
      // block-manager state — neither sweep below can touch it.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      (ts, sharedRun)
    }
    // Previous committed artifact's steady-state per-query map, read BEFORE
    // this run overwrites the file (q1/q14 once swung 2-4x on untouched
    // code and only a manual git-log audit cleared them). Queries
    // whose fresh min exceeds 2x their prior committed time get the same
    // end-of-sweep re-measurement as the noisy ones, so a cross-round swing
    // is either reproduced or cleared inside one artifact.
    val prior: Map[String, Double] = try {
      val src = scala.io.Source.fromFile(outFile, "UTF-8")
      val txt = try src.mkString finally src.close()
      parsePrior(txt, sfDir)
    } catch { case _: Throwable => Map.empty }
    // same guard shape as isNoisy: the +0.25 s floor keeps sub-second
    // queries' scheduling jitter from flagging phantom swings
    def isSwung(name: String, mn: Double): Boolean =
      prior.get(name).exists(p => mn > 2.0 * p + 0.25)
    // optional gate filter (comma-separated names) for targeted sweeps —
    // e.g. the sf1 scaling run times headline gates only; unknown names
    // fail loudly like Verify's targeted mode
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val firstPass = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .sortBy(_._1).map { case (name, fn) =>
        val (ts, sharedRun) = timeRuns(fn, runs)
        (name, fn, ts, sharedRun)
      }
    // every numbered run is raw-mode, so steady min/median draw from ALL
    // `runs` samples: 3 raw samples by default, and "cold" (run 1) is
    // cross-round comparable.
    // Adaptive re-run: a min ≪ median spread means some runs
    // were inflated by ambient machine load. The harness can't avoid shared
    // load, but it can re-measure: flagged queries get `runs` more attempts
    // at the END of the sweep (a different moment in time), and the merged
    // stats keep the flag only if the spread REPRODUCES — transient load
    // self-clears from the artifact instead of demanding a manual re-run.
    // Cross-round swings (vs the prior committed artifact) re-run the same
    // way.
    val rerun = firstPass.collect {
      case (name, fn, ts, _) if ts.forall(_._2) && {
          val s = ts.map(_._1).sorted
          isNoisy(s.head, medianOf(s)) || isSwung(name, s.head)
        } =>
        name -> timeRuns(fn, runs, withShared = false)._1
    }.toMap
    val results = firstPass.map { case (name, _, ts, sharedRun) =>
      val all = ts ++ rerun.getOrElse(name, Nil)
      val ok = (ts ++ rerun.getOrElse(name, Nil)).forall(_._2)
      val sorted = all.map(_._1).sorted
      // cold stays the very first run of the sweep (build/JIT costs land there)
      (name, sorted.head, medianOf(sorted), ts.head._1, ok, sharedRun)
    }
    // failed queries are reported as -1 (a failure's elapsed time is not a
    // timing — recording it would masquerade as a speedup) and listed in
    // "errors" so regressions are loud in round-over-round comparison
    def jmap(f: ((String, Double, Double, Double, Boolean, Option[(Double, Boolean)])) => Double): String =
      results.map { case r @ (k, _, _, _, ok, _) => s"\"" + k + "\":" + (if (ok) round3(f(r)) else -1.0) }
        .mkString("{", ",", "}")
    // still-noisy AFTER the adaptive re-run: the spread reproduced across
    // two separated measurement windows — read those numbers with suspicion
    val noisy = results.collect {
      case (k, mn, md, _, true, _) if isNoisy(mn, md) => s"\"" + k + "\""
    }.mkString("[", ",", "]")
    // still >2x the prior committed artifact AFTER the merged re-run: a
    // reproduced cross-round regression (or a real plan change) — the list
    // a round-over-round reader should audit first
    val swung = results.collect {
      case (k, mn, _, _, true, _) if isSwung(k, mn) => s"\"" + k + "\""
    }.mkString("[", ",", "]")
    val rerunList = rerun.keys.toSeq.sorted.map(k => s"\"" + k + "\"")
      .mkString("[", ",", "]")
    val total = round3(results.collect { case (_, v, _, _, true, _) => v }.sum)
    val totalMedian = round3(results.collect { case (_, _, m, _, true, _) => m }.sum)
    // "value" is the steady-state total (min of N runs per query); the
    // explicit "total_cold" keeps the first-run map from being misread as
    // the steady number
    val totalCold = round3(results.collect { case (_, _, _, c, true, _) => c }.sum)
    // the tokenize-once deployment mode's numbers live in their OWN map:
    // one pinned-projection run per corpus-consuming gate (warm — it runs
    // after the raw runs), so cold/steady semantics stay raw and
    // cross-round comparable while the shared mode is still measured
    val sharedMap = results.collect {
      case (k, _, _, _, _, Some((t, sok))) =>
        s"\"" + k + "\":" + (if (sok) round3(t) else -1.0)
    }.mkString("{", ",", "}")
    val totalShared = round3(results.collect {
      case (_, _, _, _, _, Some((t, true))) => t }.sum)
    // deployment-path PROBE timings: the
    // oracle-companion gates' serving cost without the exact twin, in
    // their own map — min of `runs` raw-mode runs, measured AFTER the
    // main sweep so the index builds are already amortized (buildOnce)
    val probeResults = SparkEntry.probeOnly.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .sortBy(_._1).map { case (name, fn) =>
        val ts = timeRuns(fn, runs, withShared = false)._1
        (name, ts.map(_._1).min, ts.forall(_._2))
      }
    val probeMap = probeResults.map { case (k, t, ok) =>
      s"\"" + k + "\":" + (if (ok) round3(t) else -1.0)
    }.mkString("{", ",", "}")
    val totalProbe = round3(probeResults.collect { case (_, t, true) => t }.sum)
    // failed PROBE runs fold into the headline errors list too: a -1
    // buried in the probe map alone would slip past an errors==0 artifact
    // check and hide a broken deployment-path timing
    val errors = (results.collect { case (k, _, _, _, false, _) => "\"" + k + "\"" } ++
      probeResults.collect { case (k, _, false) => "\"probe:" + k + "\"" })
      .mkString("[", ",", "]")
    // in-sweep CALIBRATION probe: a fixed synthetic CPU+shuffle job over
    // GENERATED data — no I/O, no data dependence, no per-round code path —
    // timed at the end of every sweep. Cross-round ledger rows divide
    // per-gate ratios by the calib ratio to separate the ambient machine
    // level (1.13x and 1.2x median swings have been seen on untouched code)
    // from real plan changes, mechanically instead of by hand.
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 8000000L, 1L, 32)
        .selectExpr("md5(CAST(id AS STRING)) AS h")
        .selectExpr("pmod(hash(h), 1024) AS k", "length(h) AS n")
        .groupBy("k").agg(Map("n" -> "sum", "k" -> "count"))
        .queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    val calib = round3((1 to runs).map(_ => calibOnce()).min)
    // totals FIRST within the line, so even a head-truncated capture of the
    // full artifact still reads the headline numbers. cold_mode records the
    // run-1 semantics ("raw") so a cold comparison against a pinned-mode
    // artifact can't be misread.
    val totals = s""""metric":"total","value":$total,"unit":"sec","total_median":$totalMedian,"total_cold":$totalCold,"cold_mode":"raw","total_shared":$totalShared,"total_probe":$totalProbe,"calib":$calib,"runs":$runs,"noisy":$noisy,"swung":$swung,"rerun":$rerunList,"errors":$errors,"sf":"$sfDir""""
    val full = s"""{$totals,"queries":${jmap(_._2)},"median":${jmap(_._3)},"cold":${jmap(_._4)},"shared":$sharedMap,"probe":$probeMap}"""
    // the full artifact also goes to a FILE — a stdout capture once kept
    // only a 2 KB tail with the per-query map lost; a file cannot be
    // truncated by a log capture
    try {
      val w = new java.io.PrintWriter(outFile, "UTF-8")
      try w.println(full) finally w.close()
    } catch { case _: Throwable => () }
    println(full)
    // ...and a compact totals-only line LAST, so a tail-truncated capture
    // still parses the headline numbers
    println(s"""{$totals,"bench_file":"$outFile"}""")
    graft.ops.SharedCorpus.unpinAll(spark)
    spark.stop()
  }
}
