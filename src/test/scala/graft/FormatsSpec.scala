package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{Formats, Tables}

class FormatsSpec extends SparkTestBase {

  private def tmp(name: String) =
    Files.createTempDirectory(s"graft-$name").resolve("out").toString

  test("csv round-trip preserves rows and schema") {
    val src = Tables.nation(spark, sfDir)
    val path = tmp("csv")
    Formats.writeCsv(src, path)
    val back = Formats.readCsv(spark, src.schema, path)
    assert(back.schema === src.schema)
    assert(back.orderBy("n_nationkey").collect().toSeq ===
      src.orderBy("n_nationkey").collect().toSeq)
  }

  test("DROPMALFORMED drops exactly the malformed lines (reference reducer parity)") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val path = tmp("kv")
    val lines = (1L to 100L).map(k => if (k % 13 == 0) s"$k oops" else s"$k ${k % 5}")
    lines.toDF("value").write.mode("overwrite").text(path)
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    val parsed = Formats.readCsvDropMalformed(spark, schema, " ", path).cache()
    val expectedDropped = (1 to 100).count(_ % 13 == 0)
    assert(parsed.count() === 100 - expectedDropped, "non-int values drop their whole row")
    assert(parsed.filter(col("v").isNull || col("k").isNull).count() === 0,
      "surviving rows are fully parsed")
  }

  test("compactParquet merges small files without losing rows") {
    val small = tmp("small")
    val compacted = tmp("compacted")
    val src = Tables.orders(spark, sfDir)
    src.repartition(32).write.mode("overwrite").parquet(small) // the small-files problem
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles(small) === 32)
    // a large target → everything folds into one file
    val n = Formats.compactParquet(spark, small, compacted, targetFileBytes = 1L << 30)
    assert(n === 1 && parquetFiles(compacted) === 1)
    assert(spark.read.parquet(compacted).count() === src.count())
  }

  test("registerAll exposes the whole corpus to spark.sql") {
    Tables.registerAll(spark, sfDir)
    val n = spark.sql(
      "SELECT count(*) AS n FROM orders JOIN customer ON o_custkey = c_custkey")
      .collect()(0).getLong(0)
    assert(n === Tables.orders(spark, sfDir).count())
    // events view carries the corrected timestamp type
    assert(spark.sql("SELECT ts FROM events").schema("ts").dataType.typeName === "timestamp")
  }

  test("quarantine parse keeps malformed lines in _corrupt_record") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val path = tmp("quarantine")
    val lines = (1L to 100L).map(k => if (k % 13 == 0) s"$k oops" else s"$k ${k % 5}")
    lines.toDF("value").write.mode("overwrite").text(path)
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    val parsed = Formats.readCsvQuarantine(spark, schema, " ", path).cache()
    val nBad = (1 to 100).count(_ % 13 == 0)
    assert(parsed.count() === 100, "no row is lost")
    assert(parsed.filter(col("_corrupt_record").isNotNull).count() === nBad)
    // quarantined rows carry the original line for debugging
    assert(parsed.filter(col("_corrupt_record") === "13 oops").count() === 1)
    assert(parsed.filter(col("_corrupt_record").isNull && col("v").isNull).count() === 0)
  }

  test("json round-trip preserves rows") {
    val src = Tables.region(spark, sfDir)
    val path = tmp("json")
    Formats.writeJson(src, path)
    val back = Formats.readJson(spark, src.schema, path)
    assert(back.orderBy("r_regionkey").collect().toSeq ===
      src.orderBy("r_regionkey").collect().toSeq)
  }

  test("orc round-trip preserves rows and pushes filters to the ORC scan") {
    val src = Tables.nation(spark, sfDir)
    val path = tmp("orc")
    Formats.writeOrc(src, path)
    val back = Formats.readOrc(spark, src.schema, path)
    assert(back.orderBy("n_nationkey").collect().toSeq ===
      src.orderBy("n_nationkey").collect().toSeq)
    // predicate pushdown parity with parquet: the filter must reach the
    // vectorized ORC reader, not run post-scan
    val plan = back.filter(col("n_regionkey") === 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("n_regionkey"),
      s"ORC scan must carry pushed filters:\n$plan")
  }

  test("partitioned write enables partition pruning (PartitionFilters in scan)") {
    val src = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    val path = tmp("part")
    Formats.writePartitioned(src, path, "lang")
    val pruned = spark.read.parquet(path).filter(col("lang") === "en")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "scan must carry partition filters")
    assert(plan.contains("lang"), "lang must appear as a partition filter")
    assert(pruned.count() ===
      Tables.documents(spark, sfDir).filter(col("lang") === "en").count())
    // pruned scan must only touch the lang=en directory
    val files = pruned.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.toString.split("\n"))
      .filter(_.contains("Location"))
    assert(files.nonEmpty)
  }

  test("footer-statistics aggregate pushes COUNT/MIN/MAX into the scan") {
    val path = s"$sfDir/lineitem.parquet"
    val agg = graft.sources.Formats.aggregateFromFooters(spark, path, "l_orderkey")
    // the V2 scan must carry the pushed aggregates — the row groups are
    // never read, only the file footers
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation"),
      s"aggregate must be pushed into the parquet scan:\n$plan")
    // and the metadata answer equals the full-scan answer
    val full = spark.read.parquet(path)
      .agg(org.apache.spark.sql.functions.count(lit(1)),
        org.apache.spark.sql.functions.min(col("l_orderkey")),
        org.apache.spark.sql.functions.max(col("l_orderkey"))).collect()(0)
    val meta = agg.collect()(0)
    assert((meta.getLong(0), meta.getLong(1), meta.getLong(2)) ===
      ((full.getLong(0), full.getLong(1), full.getLong(2))))
    // the scoped V2 flip restored the session default (V1 everywhere else)
    assert(spark.conf.get("spark.sql.sources.useV1SourceList").contains("parquet"),
      "useV1SourceList must be restored after the scoped V2 read")
  }

  test("compactBucketed: appends accumulate files, compaction yields one per bucket, data identical") {
    val o = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    try {
      // build + three appends: each batch writes its own per-bucket files
      Formats.writeBucketed(o.filter(col("o_orderkey") % 4 === 0), "orders_cpt", Seq("o_custkey"), 8)
      (1 to 3).foreach(i =>
        Formats.writeBucketedAppend(o.filter(col("o_orderkey") % 4 === i), "orders_cpt"))
      val before = Formats.bucketedFileCount(spark, "orders_cpt")
      assert(before > 8, s"appends must accumulate files past one per bucket: $before")
      val rows = spark.table("orders_cpt").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      val after = Formats.compactBucketed(spark, "orders_cpt")
      // exactly one file per non-empty bucket, and the helper agrees with
      // the filesystem
      assert(after <= 8, s"compaction must yield at most one file per bucket: $after")
      assert(after === Formats.bucketedFileCount(spark, "orders_cpt"))
      // nothing lost, nothing duplicated
      val rowsAfter = spark.table("orders_cpt").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      assert(rowsAfter === rows)
      // the compacted layout still carries the bucket contract: a join on
      // the bucket key plans with zero exchanges on the compacted side
      val priorThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val c = Tables.customer(spark, sfDir).select("c_custkey", "c_mktsegment")
        Formats.writeBucketed(c, "customer_cpt", Seq("c_custkey"), 8)
        val joined = spark.table("orders_cpt")
          .join(spark.table("customer_cpt"), col("o_custkey") === col("c_custkey"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"compacted bucketed join must not shuffle:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", priorThreshold)
    } finally {
      Seq("orders_cpt", "orders_cpt__compacting", "customer_cpt")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("compactBucketed: a concurrent reader never observes a missing table") {
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    try {
      Formats.writeBucketed(o.filter(col("o_orderkey") % 2 === 0), "orders_swp", Seq("o_custkey"), 4)
      Formats.writeBucketedAppend(o.filter(col("o_orderkey") % 2 === 1), "orders_swp")
      val expected = o.count()
      // hammer the table by NAME from another thread for the whole swap:
      // every resolution must find a complete table (the old drop→rename
      // sequence had a window where the name resolved to nothing)
      @volatile var stop = false
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val reads = new java.util.concurrent.atomic.AtomicInteger(0)
      val reader = new Thread(() => {
        while (!stop) {
          try {
            val n = spark.table("orders_swp").count()
            reads.incrementAndGet()
            if (n != expected) failures.add(s"saw $n rows, expected $expected")
          } catch {
            // a scan that resolved OLD file paths just before the cleanup
            // delete is the documented in-flight caveat, not the bug under
            // test (the name failing to resolve at all): Spark surfaces
            // the race as FILE_NOT_EXIST or, when the delete lands
            // mid-read, as the generic FAILED_READ_FILE wrapper
            case e: Throwable if e.toString.contains("FileNotFoundException")
              || e.toString.contains("FILE_NOT_EXIST")
              || e.toString.contains("FAILED_READ_FILE") => ()
            case e: Throwable => failures.add(e.toString)
          }
        }
      })
      reader.start()
      try Formats.compactBucketed(spark, "orders_swp")
      finally { stop = true; reader.join(30000) }
      assert(failures.isEmpty, s"concurrent reader failed: ${failures.peek()}")
      assert(reads.get() > 0, "reader must have resolved the table during the swap")
      assert(spark.table("orders_swp").count() === expected)
    } finally {
      Seq("orders_swp", "orders_swp__compacting")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("compactBucketed: repeated compactions never touch live data (ping-pong)") {
    // regression for the data-loss bug the failure-injection work found:
    // after one compaction the live table sits at the staging-named
    // location, and the OLD scheme's next run deleted that directory
    // before reading it
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    try {
      Formats.writeBucketed(o.filter(col("o_orderkey") % 2 === 0), "orders_rpt", Seq("o_custkey"), 4)
      Formats.writeBucketedAppend(o.filter(col("o_orderkey") % 2 === 1), "orders_rpt")
      val rows = spark.table("orders_rpt").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      (1 to 3).foreach { i =>
        val files = Formats.compactBucketed(spark, "orders_rpt")
        assert(files <= 4, s"round $i: $files files")
        val now = spark.table("orders_rpt").collect()
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
        assert(now === rows, s"round $i lost or duplicated rows")
      }
    } finally {
      Seq("orders_rpt", "orders_rpt__compacting")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("compactBucketed: crash windows recover by re-running (failpoints)") {
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey")
    def rowsOf = spark.table("orders_fip").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    try {
      Formats.writeBucketed(o.filter(col("o_orderkey") % 2 === 0), "orders_fip", Seq("o_custkey"), 4)
      Formats.writeBucketedAppend(o.filter(col("o_orderkey") % 2 === 1), "orders_fip")
      val expected = rowsOf

      // window 1: die AFTER the rewrite, BEFORE the visibility swap —
      // the live table must still serve the old complete generation
      Formats.failpoint = "compact.after_stage"
      intercept[RuntimeException](
        Formats.compactBucketed(spark, "orders_fip"))
      Formats.failpoint = ""
      assert(rowsOf === expected, "pre-swap crash must leave live data untouched")
      // ...and a plain re-run converges to the compacted layout
      assert(Formats.compactBucketed(spark, "orders_fip") <= 4)
      assert(rowsOf === expected)

      // window 2: die AFTER the swap, BEFORE cleanup — the live table is
      // already complete at the new location; the old generation is the
      // documented orphan
      Formats.writeBucketedAppend(o.limit(0), "orders_fip")
      Formats.failpoint = "compact.after_swap"
      intercept[RuntimeException](
        Formats.compactBucketed(spark, "orders_fip"))
      Formats.failpoint = ""
      assert(rowsOf === expected, "post-swap crash must leave the table complete")
      assert(spark.catalog.tableExists("orders_fip__compacting"),
        "post-swap crash leaves the staging entry (recovered on re-run)")
      // the re-run reclaims the orphan and converges; afterwards exactly
      // ONE of the ping-pong directories exists (no leaked generation)
      assert(Formats.compactBucketed(spark, "orders_fip") <= 4)
      assert(rowsOf === expected)
      assert(!spark.catalog.tableExists("orders_fip__compacting"))
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val gens = Seq("orders_fip", "orders_fip__pong")
        .map(d => new org.apache.hadoop.fs.Path(wh, d))
        .count(fs.exists)
      assert(gens === 1, s"exactly one generation directory must remain, found $gens")
    } finally {
      Formats.failpoint = ""
      Seq("orders_fip", "orders_fip__compacting")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("bucketed tables join with zero exchanges") {
    val wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey", "o_totalprice")
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_mktsegment")
    Formats.writeBucketed(o, "orders_b", Seq("o_custkey"), 8)
    Formats.writeBucketed(c, "customer_b", Seq("c_custkey"), 8)
    try {
      // disable broadcast so only bucketing can avoid the shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"),
          col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() === o.join(c, col("o_custkey") === col("c_custkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("params compatibility: only restated fields may conflict") {
    assert(Formats.paramsCompatible("kind=ivf,k=16,iters=8,buckets=8", "kind=ivf,buckets=8"))
    assert(Formats.paramsCompatible("kind=sq", "kind=sq"))
    // a field only ONE side declares cannot conflict (models-only builds
    // don't record layout params; appends don't know training params)
    assert(Formats.paramsCompatible("kind=ivfpq,k=16,iters=2", "kind=ivfpq,buckets=8"))
    assert(Formats.paramsCompatible("kind=lsh,buckets=8", "kind=lsh,extra=1"))
    // ...but any restated field that differs is the corruption case
    assert(!Formats.paramsCompatible("kind=ivf,buckets=8", "kind=ivf,buckets=4"))
    assert(!Formats.paramsCompatible("kind=lsh,buckets=8", "kind=ivf"))
  }

  test("build manifest lifecycle: stamp, fold on append, gates, staleness") {
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, sfDir)
    val half = emb.filter(col("vec_id") % 2 === 0)
    val rest = emb.filter(col("vec_id") % 2 =!= 0)
    try {
      Similarity.buildLshIndex(half, "t_meta_spec")
      // build wrote the stamp of exactly the indexed rows + its params
      val Some((n0, fp0, params0, a0)) = Formats.readBuildMeta(spark, "t_meta_spec")
      assert(n0 === half.count())
      assert(params0 === "kind=lsh,buckets=8")
      assert(a0 === 0L)
      // generation check: current for the built half, stale for the union
      assert(!Formats.isStaleFor(spark, "t_meta_spec", half, "vec_id"))
      assert(Formats.isStaleFor(spark, "t_meta_spec", emb, "vec_id"))
      // append folds the batch stamp WITHOUT rereading the corpus: the
      // folded stamp equals a one-shot stamp of the union (disjoint xor)
      Similarity.appendToLshIndex(rest, "t_meta_spec")
      val Some((n1, fp1, _, a1)) = Formats.readBuildMeta(spark, "t_meta_spec")
      assert(n1 === emb.count())
      assert((n1, fp1) === Formats.corpusStamp(emb, "vec_id"))
      assert(a1 === 1L)
      assert(!Formats.isStaleFor(spark, "t_meta_spec", emb, "vec_id"))
      // the manifest gate covers the specs the catalog CANNOT see (model
      // params, index kind): declaring a different kind fails loudly
      val ex = intercept[IllegalArgumentException] {
        Formats.foldBuildMeta(spark, "t_meta_spec", "kind=ivf", 1L, 1L)
      }
      assert(ex.getMessage.contains("incompatible"))
      // probe gate: fine with the manifest, loud without it
      Similarity.lshTopKIndexed(spark, "t_meta_spec", col("vec_id") < 4)
      spark.sql("DROP TABLE t_meta_spec_meta")
      val ex2 = intercept[IllegalArgumentException] {
        Similarity.lshTopKIndexed(spark, "t_meta_spec", col("vec_id") < 4)
      }
      assert(ex2.getMessage.contains("manifest"))
      // manifest missing NEXT TO an existing table: appends fail loudly too
      // (only a genuinely fresh family may bootstrap via append)
      intercept[IllegalStateException] {
        Similarity.appendToLshIndex(rest, "t_meta_spec")
      }
    } finally {
      Seq("t_meta_spec", "t_meta_spec_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("stored-index lifecycle keeps the build's bucket layout through append, purge and compact") {
    import graft.ops.{Dedup, TextAnalysis}
    import org.apache.spark.sql.execution.datasources.BucketingUtils
    val docs = Tables.documents(spark, sfDir)
    val probe = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val forget = corpus.filter(col("doc_id") % 7 === 3).select("doc_id")
    val terms = Seq("spark", "window", "join")
    val tables = Seq("t_lay_band", "t_lay_band_sigs", "t_lay_bm25")
    def sorted(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    try {
      Dedup.buildBandIndex(corpus.filter(col("doc_id") % 2 === 0), "t_lay_band", numBuckets = 4)
      TextAnalysis.buildBm25Index(corpus.filter(col("doc_id") % 2 === 0), "t_lay_bm25",
        numBuckets = 4)
      val built = tables.map(t => t -> Formats.bucketSpec(spark, t).get).toMap
      assert(built.values.forall(_.numBuckets == 4), s"build must write 4 buckets: $built")
      // after every step: the catalog spec is the build's, every file sits
      // in one of its 4 buckets, and probes equal a one-shot 4-bucket
      // build of the rows the index now holds
      def check(step: String, rows: org.apache.spark.sql.DataFrame): Unit = {
        tables.foreach { t =>
          assert(Formats.bucketSpec(spark, t).get === built(t), s"$step changed $t's spec")
          val ids = spark.table(t).inputFiles.toSeq
            .map(f => BucketingUtils.getBucketId(new org.apache.hadoop.fs.Path(f).getName))
          assert(ids.nonEmpty && ids.forall(_.exists(_ < 4)),
            s"$step left files outside 4 buckets in $t: $ids")
        }
        Dedup.buildBandIndex(rows, "t_lay_ref_band", numBuckets = 4)
        TextAnalysis.buildBm25Index(rows, "t_lay_ref_bm25", numBuckets = 4)
        assert(sorted(Dedup.nearDupPairsIndexed(spark, "t_lay_band", probe)) ===
          sorted(Dedup.nearDupPairsIndexed(spark, "t_lay_ref_band", probe)), step)
        assert(sorted(TextAnalysis.bm25SearchIndexed(spark, "t_lay_bm25", terms)) ===
          sorted(TextAnalysis.bm25SearchIndexed(spark, "t_lay_ref_bm25", terms)), step)
      }
      check("build", corpus.filter(col("doc_id") % 2 === 0))
      Dedup.appendToBandIndex(corpus.filter(col("doc_id") % 2 =!= 0), "t_lay_band")
      TextAnalysis.appendToBm25Index(corpus.filter(col("doc_id") % 2 =!= 0), "t_lay_bm25")
      check("append", corpus)
      val kept = corpus.join(forget, Seq("doc_id"), "left_anti")
      Dedup.purgeFromBandIndex(spark, "t_lay_band", forget)
      TextAnalysis.purgeFromBm25Index(spark, "t_lay_bm25", forget)
      check("purge", kept)
      tables.foreach(t => Formats.compactBucketed(spark, t))
      check("compact", kept)
    } finally {
      Seq("t_lay_band", "t_lay_bm25", "t_lay_ref_band", "t_lay_ref_bm25")
        .flatMap(t => Seq(t, t + "_sigs", t + "_stats", t + "_meta"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("rebuildIfStale: no-op when current, rebuilds when the corpus moved") {
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, sfDir)
    val half = emb.filter(col("vec_id") % 2 === 0)
    try {
      var builds = 0
      def build(corpus: org.apache.spark.sql.DataFrame): Unit = {
        builds += 1; Similarity.buildLshIndex(corpus, "t_meta_fresh")
      }
      // first call: no index at all -> builds
      assert(Formats.rebuildIfStale(spark, "t_meta_fresh", half, "vec_id")(build(half)))
      assert(builds === 1)
      // same corpus: fresh -> no-op (one stamp scan, no build)
      assert(!Formats.rebuildIfStale(spark, "t_meta_fresh", half, "vec_id")(build(half)))
      assert(builds === 1)
      // the corpus moved: stale -> rebuilds against the new generation
      assert(Formats.rebuildIfStale(spark, "t_meta_fresh", emb, "vec_id")(build(emb)))
      assert(builds === 2)
      assert(!Formats.isStaleFor(spark, "t_meta_fresh", emb, "vec_id"))
    } finally {
      Seq("t_meta_fresh", "t_meta_fresh_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("corpusStamp: overlapping batches self-cancel — disjointness is a precondition") {
    // ADVICE r11: xor is self-cancelling, so folding a batch that OVERLAPS
    // the indexed corpus cancels the duplicate ids out of the fingerprint
    // — this spec pins the hazard the corpusStamp doc warns about, so the
    // disjointness precondition can never be silently dropped
    val emb = Tables.embeddings(spark, sfDir)
    val half = emb.filter(col("vec_id") % 2 === 0)
    val (nH, fpH) = Formats.corpusStamp(half, "vec_id")
    val (nA, fpA) = Formats.corpusStamp(emb, "vec_id")
    // folding the SAME half twice onto the full stamp cancels it away:
    // the count moves but the fingerprint returns to the disjoint value
    assert((fpA ^ fpH ^ fpH) === fpA)
    // and folding an overlapping "batch" (the full set onto the half)
    // yields the stamp of the SYMMETRIC DIFFERENCE, not the union —
    // exactly the other half here, i.e. a smaller corpus vouched for
    val rest = emb.filter(col("vec_id") % 2 =!= 0)
    val (nR, fpR) = Formats.corpusStamp(rest, "vec_id")
    assert((fpH ^ fpA) === fpR)
    assert(nH + nA !== nR) // the count component DOES flag this overlap
  }

  test("stampAudit detects an overlapping append; concurrent folds never lose a stamp") {
    import spark.implicits._
    import graft.sources.StoredIndex
    // one plain id table, one row per id; the second declaration records
    // no fixed count, so its folds leave rows_ok vacuous
    val fixed = StoredIndex.Family(_ => "kind=test", "vec_id", "",
      Seq(StoredIndex.Part("", Nil, 0)))
    val varying = fixed.copy(rowsPerId = None)
    val ids = (1L to 100L).toDF("vec_id")
    val batch = (101L to 150L).toDF("vec_id")
    val overlap = (140L to 160L).toDF("vec_id") // 11 ids already stored
    try {
      // build + disjoint append: manifest equals the distinct-id recount
      StoredIndex.build(fixed, "t_audit_spec", ids)(_ => ids)
      StoredIndex.append(fixed, "t_audit_spec", batch)(_ => batch)
      val ok = Formats.stampAudit(spark, "t_audit_spec").head()
      assert(ok.getBoolean(5), s"disjoint appends must audit clean: $ok")
      assert(ok.getBoolean(6), s"1-row-per-id layout must pass rows_ok: $ok")
      // the crash window the DISTINCT recount cannot see: an append whose
      // data committed twice (pre-stamp replay after a crash between data
      // append and meta fold) while the manifest folded once — every
      // physical row of the batch duplicated, distinct ids and fps
      // unchanged. Only the non-distinct row-count cross-check trips.
      Formats.writeManaged(
        ids.unionByName(batch).unionByName(batch), "t_audit_spec")
      val dup = Formats.stampAudit(spark, "t_audit_spec").head()
      assert(dup.getBoolean(5),
        "the distinct recount is blind to duplicated physical rows by design")
      assert(!dup.getBoolean(6),
        "rows_ok must catch the duplicated-data / single-fold crash window")
      assert(dup.getLong(4) === dup.getLong(0) + 50,
        "stored_rows must expose exactly the duplicated batch")
      // contract-violating OVERLAPPING append: rows appended, stamp folded
      // — xor cancels the 11 duplicate ids, count double-counts them, and
      // the audit catches BOTH divergences
      Formats.writeManaged(
        ids.unionByName(batch).unionByName(overlap), "t_audit_spec")
      StoredIndex.fold(spark, varying, "t_audit_spec", Formats.corpusStamp(overlap, "vec_id"))
      val bad = Formats.stampAudit(spark, "t_audit_spec").head()
      assert(!bad.getBoolean(5), "an overlapping append must fail the audit")
      assert(bad.getBoolean(6), "rows_ok is vacuous when no constant is declared")
      assert(bad.getLong(0) === bad.getLong(2) + 11,
        "manifest count double-counts exactly the overlap")
      assert(bad.getLong(1) !== bad.getLong(3),
        "cancelled ids must surface as a fingerprint divergence")
    } finally {
      Seq("t_audit_spec", "t_audit_spec_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
    // concurrent same-JVM folds: without the per-table lock the one-row
    // read-modify-write loses stamps under interleaving; the manifest
    // must end at the exact sum/xor of every batch
    try {
      Formats.writeBuildMeta(spark, "t_lock_spec", "kind=test", 0L, 0L)
      val batches = (1 to 8).map(i => (i.toLong, 1L << i))
      val threads = batches.map { case (bn2, bfp2) =>
        new Thread(() =>
          Formats.foldBuildMeta(spark, "t_lock_spec", "kind=test", bn2, bfp2))
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val Some((n, fp, _, appends)) = Formats.readBuildMeta(spark, "t_lock_spec")
      assert(n === batches.map(_._1).sum, s"lost stamp count: $n")
      assert(fp === batches.map(_._2).reduce(_ ^ _), s"lost stamp fp: $fp")
      assert(appends === 8L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS t_lock_spec_meta")
    }
  }

  test("build manifest: fresh stateless family bootstraps via append") {
    import graft.ops.Similarity
    val emb = Tables.embeddings(spark, sfDir)
    try {
      Similarity.appendToSqCodes(emb, "t_meta_boot")
      val Some((n, fp, params, _)) = Formats.readBuildMeta(spark, "t_meta_boot")
      assert((n, fp) === Formats.corpusStamp(emb, "vec_id"))
      assert(params === "kind=sq")
    } finally {
      Seq("t_meta_boot", "t_meta_boot_meta")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("each manifest names its id layout; the audit scope is what the catalog holds") {
    import graft.ops.{Similarity, TextAnalysis}
    val emb = Tables.embeddings(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
    try {
      Similarity.buildLshIndex(emb.filter(col("vec_id") % 2 === 0), "t_layout_lsh")
      Similarity.appendToLshIndex(emb.filter(col("vec_id") % 2 =!= 0), "t_layout_lsh")
      TextAnalysis.buildBm25Index(docs, "t_layout_bm25")
      TextAnalysis.buildHllIndex(docs, "t_layout_hll")
      assert(Formats.idLayout(spark, "t_layout_lsh") ===
        Some(Formats.IdLayout("vec_id", "", Some(Similarity.SigBands))))
      assert(Formats.idLayout(spark, "t_layout_bm25") ===
        Some(Formats.IdLayout("doc_id", "", None)))
      // the sketch stores per-source aggregates: its table has no id
      // column, so the catalog scan leaves it out
      val scope = Formats.auditableFamilies(spark).toSet
      assert(scope("t_layout_lsh") && scope("t_layout_bm25"), s"audit scope: $scope")
      assert(!scope("t_layout_hll"), s"a sketch family is not auditable: $scope")
      val r = Formats.stampAudit(spark, "t_layout_lsh").head()
      assert(r.getBoolean(5) && r.getBoolean(6), s"appended LSH index audits clean: $r")
      assert(r.getLong(4) === r.getLong(0) * Similarity.SigBands)
    } finally {
      Seq("t_layout_lsh", "t_layout_bm25", "t_layout_bm25_stats", "t_layout_hll")
        .flatMap(t => Seq(t, t + "_meta"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("zOrderKey interleaves bits; writeZOrdered makes a 2-D box skip most of the scan") {
    import spark.implicits._
    // the Morton key on crafted points: (a=0b11, b=0b00) -> 0b0101 = 5,
    // (a=0b00, b=0b11) -> 0b1010 = 10, (a=0b11, b=0b11) -> 15
    val z = Seq((3L, 0L), (0L, 3L), (3L, 3L), (5L, 2L)).toDF("a", "b")
      .select(Formats.zOrderKey(col("a"), col("b"), 4).as("z"))
      .collect().map(_.getLong(0))
    // (5,2): a bits {0,2} -> z bits {0,4}, b bit {1} -> z bit {3} => 1+16+8
    assert(z.toSeq === Seq(5L, 10L, 15L, 25L))
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    try {
      Formats.writeZOrdered(li, "graft_z_t", "l_partkey", "l_suppkey", numFiles = 8)
      // scattered twin: same content, hash-random layout — every file
      // covers the full key range, so footer stats can never skip
      li.repartition(8).write.format("parquet").saveAsTable("graft_z_r")
      def rowsScanned(t: String): Long = {
        val df = spark.table(t).filter(
          col("l_partkey").between(16, 47) && col("l_suppkey").between(2, 5))
        df.collect()
        df.queryExecution.executedPlan.collectLeaves()
          .head.metrics("numOutputRows").value
      }
      // identical content under both layouts
      assert(spark.table("graft_z_t").exceptAll(spark.table("graft_z_r")).count() === 0)
      assert(spark.table("graft_z_r").exceptAll(spark.table("graft_z_t")).count() === 0)
      val (zRows, rRows) = (rowsScanned("graft_z_t"), rowsScanned("graft_z_r"))
      assert(zRows * 2 <= rRows,
        s"z-ordered scan read $zRows rows vs scattered $rRows — no skipping happened")
    } finally {
      Seq("graft_z_t", "graft_z_r").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("z-order lifecycle: append decays skipping, rezorder restores it, crashes recover") {
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    // Judged by each data file's key ranges, which its contents fix, not
    // by a query's scanned rows, which move with the range partitioner's
    // sampled file boundaries (seeded by RDD id, so by test order).
    // `boxFiles`: the files a (16..47, 2..5) box query cannot skip — their
    // l_partkey AND l_suppkey ranges both overlap the box.
    def boxFiles(t: String): Set[String] =
      spark.table(t).groupBy(input_file_name().as("f"))
        .agg(min("l_partkey").as("p0"), max("l_partkey").as("p1"),
          min("l_suppkey").as("s0"), max("l_suppkey").as("s1"))
        .filter(col("p0") <= 47 && col("p1") >= 16 && col("s0") <= 5 && col("s1") >= 2)
        .collect().map(_.getString(0)).toSet
    // one clustered generation: no two files' Z-key ranges overlap, so a
    // box reads only the files its own Z span crosses
    def zDisjoint(t: String): Boolean =
      spark.table(t)
        .select(input_file_name().as("f"),
          Formats.zOrderKey(col("l_partkey").cast("long"), col("l_suppkey").cast("long")).as("z"))
        .groupBy("f").agg(min("z").as("z0"), max("z").as("z1"))
        .orderBy("z0").collect().map(r => (r.getLong(1), r.getLong(2)))
        .sliding(2).forall { case Array(a, b) => a._2 < b._1; case _ => true }
    try {
      // one-generation reference layout over the SAME content
      Formats.writeZOrdered(li, "graft_zl_ref", "l_partkey", "l_suppkey")
      assert(zDisjoint("graft_zl_ref"), "a fresh Z-ordered write is one generation")
      // build two-thirds, append the rest as its own mini-generation
      Formats.writeZOrdered(
        li.filter(col("l_orderkey") % 3 =!= 0), "graft_zl", "l_partkey", "l_suppkey")
      val built = boxFiles("graft_zl")
      Formats.appendZOrdered(
        li.filter(col("l_orderkey") % 3 === 0), "graft_zl", "l_partkey", "l_suppkey")
      val appended = boxFiles("graft_zl")
      assert(spark.table("graft_zl").exceptAll(spark.table("graft_zl_ref")).count() === 0,
        "append must not change content")
      // decay: the built files are all still read, plus appended ones whose
      // ranges overlap the old generation's
      assert(built.subsetOf(appended) && appended.size > built.size,
        s"the box reads ${appended.size} files after the append, ${built.size} before — " +
          "decay not visible")
      assert(!zDisjoint("graft_zl"), "the appended generation overlaps the built one")
      // crash in BOTH rewrite windows: each re-run restores a working table
      for (window <- Seq("compact.after_stage", "compact.after_swap")) {
        Formats.failpoint = window
        intercept[RuntimeException] {
          Formats.rezorderTable(spark, "graft_zl", "l_partkey", "l_suppkey")
        }
        Formats.failpoint = ""
        Formats.rezorderTable(spark, "graft_zl", "l_partkey", "l_suppkey")
        assert(spark.table("graft_zl").exceptAll(spark.table("graft_zl_ref")).count() === 0,
          s"content diverged after crash in $window")
      }
      // and the re-clustered table is one generation again, like the
      // reference, with none of the files the append left behind
      assert(zDisjoint("graft_zl"), "rezorder must restore one clustered generation")
      assert(boxFiles("graft_zl").intersect(appended).isEmpty,
        "rezorder must rewrite every file the box read")
    } finally {
      Formats.failpoint = ""
      Seq("graft_zl", "graft_zl_ref", "graft_zl__compacting")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
