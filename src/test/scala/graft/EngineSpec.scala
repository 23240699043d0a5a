package graft

import java.nio.file.Files

import graft.ops.Engine
import graft.ops.Engine.JobSpec

class EngineSpec extends SparkTestBase {

  test("submitWordCount: text in -> reducerCount sorted 'word count' text files out") {
    val in = Files.createTempDirectory("graft_in")
    val out = Files.createTempDirectory("graft_out").resolve("job1")
    Files.writeString(in.resolve("a.txt"), "the quick fox\nthe fox\n")
    Files.writeString(in.resolve("b.txt"), "quick quick fox!\n")

    val spec = JobSpec(files = Seq(in.resolve("a.txt").toString, in.resolve("b.txt").toString),
      reducerCount = 2, shardSize = 16L)
    val distinct = Engine.submitWordCount(spark, spec, out.toString)

    val expected = Map("the" -> 2L, "quick" -> 3L, "fox" -> 2L) // "fox!" dropped (alnum filter)
    assert(distinct === expected.size)

    // K1 contract: R text part-files, `word count` lines, each file key-sorted
    val parts = Files.list(out).toArray.map(_.toString).filter(_.matches(".*part-.*\\.txt$")).sorted
    assert(parts.length == 2)
    val lines = parts.flatMap(p => scala.io.Source.fromFile(p).getLines().toSeq.map((p, _)))
    val parsed = lines.map { case (p, l) => val Array(w, c) = l.split(" "); (p, w, c.toLong) }
    assert(parsed.map(t => (t._2, t._3)).toMap == expected)
    parsed.groupBy(_._1).values.foreach { ws =>
      val keys = ws.map(_._2).toSeq
      assert(keys == keys.sorted)
    }
  }

  test("jobSession honors shardSize as input-split size and leaves the caller's conf alone") {
    val in = Files.createTempDirectory("graft_shard")
    Files.writeString(in.resolve("big.txt"), ("x" * 50 + "\n") * 100) // ~5.1 KB
    val spec = JobSpec(Seq(in.resolve("big.txt").toString), shardSize = 1024L)
    val key = "spark.sql.files.maxPartitionBytes"
    val callerSplit = spark.conf.get(key)
    val df = Engine.readText(Engine.jobSession(spark, spec), spec)
    assert(df.rdd.getNumPartitions >= 4) // ~5 KB / 1 KB shards
    assert(df.count() == 100)
    assert(Engine.submitWordCount(spark, spec, Files.createTempDirectory("graft_shard_out")
      .resolve("j").toString) === 1) // "xxx…x"
    assert(spark.conf.get(key) === callerSplit)
  }

  test("runQueue processes jobs in order, isolates failures (C1/C2 lifecycle)") {
    // the sequential queue is runQueueConcurrent with one slot
    val in = Files.createTempDirectory("graft_queue")
    Files.writeString(in.resolve("a.txt"), "alpha beta alpha\n")
    val okOut = Files.createTempDirectory("graft_qout").resolve("ok").toString
    val badOut = Files.createTempDirectory("graft_qout").resolve("bad").toString
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val results = Engine.runQueueConcurrent(spark, Seq(
      JobSpec(Seq(in.resolve("a.txt").toString)) -> okOut,
      JobSpec(Seq(in.resolve("missing.txt").toString)) -> badOut,
      JobSpec(Seq(in.resolve("a.txt").toString), reducerCount = 2) -> (okOut + "2")),
      maxParallel = 1)
    assert(results.map(_.status) === Seq("COMPLETED", "FAILED", "COMPLETED"))
    assert(results(0).distinctKeys === 2) // alpha, beta
    assert(results(1).error.nonEmpty)
    assert(results(2).jobId === 2, "queue preserves submission order")
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore).isEmpty,
      "a job must not leave cached RDDs behind")
  }

  test("runQueueConcurrent: parallel jobs, ordered results, isolated failures") {
    val in = Files.createTempDirectory("graft_cq")
    Files.writeString(in.resolve("a.txt"), "alpha beta alpha\n")
    Files.writeString(in.resolve("b.txt"), "gamma gamma\n")
    val outRoot = Files.createTempDirectory("graft_cqout")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val results = Engine.runQueueConcurrent(spark, Seq(
      JobSpec(Seq(in.resolve("a.txt").toString)) -> outRoot.resolve("j0").toString,
      JobSpec(Seq(in.resolve("missing.txt").toString)) -> outRoot.resolve("j1").toString,
      JobSpec(Seq(in.resolve("b.txt").toString)) -> outRoot.resolve("j2").toString,
      JobSpec(Seq(in.resolve("a.txt").toString, in.resolve("b.txt").toString))
        -> outRoot.resolve("j3").toString), maxParallel = 3)
    assert(results.map(_.status) === Seq("COMPLETED", "FAILED", "COMPLETED", "COMPLETED"))
    assert(results.map(_.jobId) === Seq(0, 1, 2, 3), "results in submission order")
    assert(results(0).distinctKeys === 2) // alpha beta
    assert(results(1).error.nonEmpty)
    assert(results(2).distinctKeys === 1) // gamma
    assert(results(3).distinctKeys === 3) // alpha beta gamma
    assert((spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore).isEmpty,
      "a job must not leave cached RDDs behind")
  }

  test("JobQueue.submit: pollable CREATED->RUNNING->COMPLETED lifecycle (C2 poll-while-running)") {
    val in = Files.createTempDirectory("graft_async")
    Files.writeString(in.resolve("a.txt"), "alpha beta alpha\n")
    val out = Files.createTempDirectory("graft_async_out")
    val queue = new Engine.JobQueue(spark, maxParallel = 1)
    try {
      val h = queue.submit(JobSpec(Seq(in.resolve("a.txt").toString)), out.resolve("ok").toString,
        jobId = 7)
      val res = h.await()
      assert(res.status === "COMPLETED")
      assert(res.distinctKeys === 2) // alpha, beta
      assert(h.status === "COMPLETED")
      assert(h.transitions === Seq("CREATED", "RUNNING", "COMPLETED"),
        "every lifecycle state observable in order, like the reference's status znode")

      val hBad = queue.submit(JobSpec(Seq(in.resolve("missing.txt").toString)),
        out.resolve("bad").toString, jobId = 8)
      assert(hBad.await().status === "FAILED")
      assert(hBad.transitions === Seq("CREATED", "RUNNING", "FAILED"))
    } finally queue.shutdown()
  }

  test("progress is strictly increasing (deduped) and ends at exactly 1.0") {
    // The hard invariants (monotone samples, strictly increasing change
    // points, terminal 1.0 pin) hold on EVERY attempt. Observing an
    // intermediate (0,1) sample additionally needs the status tracker to
    // see a task complete while the poll loop is still running — true in
    // practice, but a loaded machine can deliver every event after
    // COMPLETED — so that one assertion retries with a larger input
    // instead of failing on scheduling luck.
    def attempt(tag: Int, lines: Int): Boolean = {
      val in = Files.createTempDirectory(s"graft_prog$tag")
      // enough input shards (512-byte shards) that the job runs many stages
      // over several seconds of poll iterations
      Files.writeString(in.resolve("a.txt"),
        (1 to lines).map(i => s"alpha beta gamma delta w$i").mkString("\n"))
      val out = Files.createTempDirectory(s"graft_prog_out$tag")
      val queue = new Engine.JobQueue(spark, maxParallel = 1)
      val h = queue.submit(JobSpec(Seq(in.resolve("a.txt").toString), shardSize = 512L),
        out.resolve("p").toString, jobId = 9)
      queue.shutdown()
      val seen = scala.collection.mutable.ArrayBuffer[Double]()
      while (h.status == "CREATED" || h.status == "RUNNING") {
        seen += h.progress
        Thread.sleep(2)
      }
      assert(h.await().status === "COMPLETED")
      seen += h.progress
      // raw samples never decrease (the CAS max in advanceProgress)...
      assert(seen.sliding(2).forall(p => p.size < 2 || p(0) <= p(1)),
        s"progress must be monotone: $seen")
      // ...so the change points form a strictly increasing sequence ending
      // at the terminal 1.0 pin
      val changes = seen.foldLeft(List.empty[Double]) { (acc, v) =>
        if (acc.headOption.contains(v)) acc else v :: acc
      }.reverse
      assert(changes.last === 1.0)
      assert(changes === changes.sorted && changes.distinct === changes)
      changes.exists(p => p > 0.0 && p < 1.0)
    }
    val observed = (1 to 3).exists(i => attempt(i, 2000 * i))
    assert(observed,
      "no attempt observed intermediate stage-level progress from the poll loop")
  }
}
