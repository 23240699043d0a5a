package graft.ops

import java.util.concurrent.{CopyOnWriteArrayList, CountDownLatch, Executors}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Job-control surface of the reference, as a library facade (SURVEY C1/C2).
  *
  * The reference submits jobs as `{reducer_count, shard_size, files[]}` over
  * HTTP into a ZooKeeper queue (`src/webclient/webclient.cpp:17-55`,
  * `clientsdk/job_details.py:3-6`); a polling master shards the files by byte
  * ranges (`src/master/sharding.h:27-83`) and drives map/reduce workers. All of
  * that control plane is Spark itself; what remains meaningful to a user is the
  * job spec and the text-in/sorted-text-out contract, which this keeps.
  *
  * Every job goes through one [[JobQueue]]: a fixed pool of `maxParallel`
  * threads that takes jobs in submission order, the reference's single
  * master poll loop (`src/master/master.cpp:300-336`). [[runQueueConcurrent]]
  * and [[JobServer]] both submit there.
  *
  * `shardSize` maps to `spark.sql.files.maxPartitionBytes` — Spark's input-split
  * planner is the reference's shard planner (greedy byte bin-packing across
  * files, record-aligned boundaries, `src/worker/worker.cpp:124-182`).
  * `reducerCount` maps to the output partitioning (one sorted text file per
  * reducer, `final_<task>.txt` shape, `src/worker/worker.cpp:298-303`).
  */
object Engine {

  private val groupSeq = new AtomicLong(0L)

  /** Reference job payload (FIXTURES.md §A.4), defaults from
    * `clientsdk/job_details.py:3-6`. A spec Spark cannot run as asked is
    * rejected here: a shard size below 1 byte reaches the split planner as
    * a non-positive split size, which reads no rows at all. */
  final case class JobSpec(
      files: Seq[String],
      reducerCount: Int = 3,
      shardSize: Long = 50000L) {
    require(files.nonEmpty, "files must be non-empty")
    require(reducerCount >= 1, s"reducerCount must be >= 1, got $reducerCount")
    require(shardSize >= 1, s"shardSize must be >= 1, got $shardSize")
  }

  /** Terminal record of a queued job — the engine-side equivalent of the
    * reference's `/jobs/job_<seq>` znode lifecycle (`status=CREATED` →
    * `COMPLETED`, `src/master/master.cpp:300-336,374-381`). */
  final case class JobResult(
      jobId: Int,
      spec: JobSpec,
      status: String, // COMPLETED | FAILED | CANCELLED
      distinctKeys: Long,
      outDir: String,
      error: Option[String] = None)

  /** Async handle to a queued job — the engine-side equivalent of the
    * reference's poll-while-running status surface (a client polls
    * `/jobs/job_<seq>/status` mid-run, `src/master/master.cpp:300-336`,
    * `src/webclient/webclient.cpp:42-51`). [[status]] transitions
    * CREATED → RUNNING → COMPLETED|FAILED|CANCELLED and can be polled from
    * any thread; [[await]] blocks for the terminal [[JobResult]];
    * [[cancel]] drops a queued job or aborts a running one's Spark stages
    * via its job group, and the job terminates CANCELLED. */
  final class JobHandle private[Engine] (
      val jobId: Int,
      val spec: JobSpec,
      val outDir: String,
      spark: SparkSession) {
    private val state = new AtomicReference[String]("CREATED")
    private val transitionLog = new CopyOnWriteArrayList[String](java.util.List.of("CREATED"))
    private val done = new CountDownLatch(1)
    @volatile private var terminal: JobResult = _
    @volatile private var cancelRequested = false

    private val prog = new AtomicLong(java.lang.Double.doubleToLongBits(0.0))

    // process-unique, not just per-jobId: cancelJobGroupAndFutureJobs
    // poisons a group id permanently, and callers (runQueueConcurrent, a
    // restarted JobServer) legitimately reuse small integer job ids
    private[Engine] val group = s"graft-job-$jobId-${groupSeq.incrementAndGet()}"

    /** One state change; the CAS decides races between the runner and
      * [[cancel]], so exactly one of them moves a CREATED job on. */
    private def move(from: String, to: String): Boolean =
      state.compareAndSet(from, to) && transitionLog.add(to)

    /** CREATED → RUNNING; false when the job was cancelled while queued. */
    private[Engine] def start(): Boolean = move("CREATED", "RUNNING")

    private[Engine] def finish(from: String, r: JobResult): Boolean = {
      val moved = move(from, r.status)
      if (moved) { terminal = r; done.countDown() }
      moved
    }

    /** Monotone CAS update: concurrent readers race, and the denominator
      * grows as the job's later actions submit stages, but observed
      * progress must never decrease. */
    private def advanceProgress(p: Double): Unit = {
      val clamped = math.min(p, 1.0)
      var cur = prog.get
      while (java.lang.Double.longBitsToDouble(cur) < clamped &&
        !prog.compareAndSet(cur, java.lang.Double.doubleToLongBits(clamped))) {
        cur = prog.get
      }
    }

    /** Tasks completed over tasks of the stages submitted so far under this
      * job's group, as Spark's status tracker reports them now. */
    private def taskFraction: Double = {
      val st = spark.sparkContext.statusTracker
      val stages = st.getJobIdsForGroup(group).toSeq.flatMap(st.getJobInfo)
        .flatMap(_.stageIds).distinct.flatMap(st.getStageInfo).filter(_.submissionTime > 0)
      val total = stages.map(_.numTasks.toLong).sum
      if (total == 0) 0.0
      else stages.map(s => math.min(s.numCompletedTasks, s.numTasks).toLong).sum.toDouble / total
    }

    /** Current lifecycle state (poll-safe, like the reference's status znode). */
    def status: String = state.get
    /** Task-level progress fraction in [0, 1] — the engine-side
      * equivalent of the reference's per-task state map that a polling
      * client reduced to "how far along is my job"
      * (`src/master/master.cpp:300-336`). Read on demand from Spark's
      * status tracker for this job's group, and capped at 0.95 until the
      * job COMPLETEs, when it reads exactly 1.0: Spark only learns a job's
      * total work as each of its actions plans, so between two actions
      * every submitted task can be done while later work remains. */
    def progress: Double = {
      state.get match {
        case "COMPLETED" => advanceProgress(1.0)
        case "RUNNING"   => advanceProgress(0.95 * taskFraction)
        case _           =>
      }
      java.lang.Double.longBitsToDouble(prog.get)
    }
    /** Every state this job has passed through, in order. */
    def transitions: Seq[String] = transitionLog.asScala.toSeq
    /** Block until the job reaches a terminal state. */
    def await(): JobResult = { done.await(); terminal }
    /** True once [[cancel]] was called — the runner uses it to classify
      * the resulting stage abort as CANCELLED rather than FAILED. */
    def cancelled: Boolean = cancelRequested
    /** Cancel. A queued job ends CREATED → CANCELLED at once and never
      * runs — the reference master dropping a queued job znode. A running
      * job has its group's stages aborted, and any action it submits
      * afterwards fails too (`cancelJobGroupAndFutureJobs` — plain
      * `cancelJobGroup` would no-op in the window BETWEEN a multi-action
      * job's actions); its runner observes the abort and completes
      * CANCELLED. */
    def cancel(): Unit = {
      cancelRequested = true
      if (!finish("CREATED", JobResult(jobId, spec, "CANCELLED", -1L, outDir)))
        spark.sparkContext.cancelJobGroupAndFutureJobs(group, s"job $jobId cancelled")
    }
  }

  /** The one admission path: a fixed pool of `maxParallel` daemon threads
    * that runs word-count jobs in submission order. A straggler holds one
    * thread while the others keep taking jobs, so the queue keeps
    * `maxParallel` jobs in flight. Each job runs under its own Spark job
    * group, so [[JobHandle.cancel]] maps to Spark's native stage abort. */
  final class JobQueue(spark: SparkSession, maxParallel: Int) {
    private val pool = Executors.newFixedThreadPool(maxParallel, r => {
      val t = new Thread(r, "graft-job-runner"); t.setDaemon(true); t
    })

    /** Enqueue a job; returns its CREATED, pollable handle at once
      * (reference C2's async contract — submit returns a job id, status is
      * observed by polling). */
    def submit(spec: JobSpec, outDir: String, jobId: Int = 0): JobHandle = {
      val h = new JobHandle(jobId, spec, outDir, spark)
      pool.execute(() => run(h))
      h
    }

    /** Take no more jobs; queued and running ones still finish. */
    def shutdown(): Unit = pool.shutdown()

    private def run(h: JobHandle): Unit = if (h.start()) {
      val sc = spark.sparkContext
      try {
        // setJobGroup is thread-local: it must run on the thread that fires
        // the Spark actions, making every stage of this job cancellable as a
        // group (interruptOnCancel stops straggling tasks too)
        sc.setJobGroup(h.group, s"graft job ${h.jobId}", interruptOnCancel = true)
        val keys = submitWordCount(spark, h.spec, h.outDir)
        h.finish("RUNNING", JobResult(h.jobId, h.spec, "COMPLETED", keys, h.outDir))
      } catch {
        case e: Throwable =>
          // a cancel()-induced stage abort surfaces here as an exception;
          // classify it by the requested-cancel flag so a deliberate stop
          // is not recorded as a failure
          val status = if (h.cancelled) "CANCELLED" else "FAILED"
          h.finish("RUNNING",
            JobResult(h.jobId, h.spec, status, -1L, h.outDir, Some(String.valueOf(e.getMessage))))
      } finally sc.clearJobGroup()
    }
  }

  /** Run `jobs` on a [[JobQueue]] of `maxParallel` threads and return their
    * results in submission order. A failed job does not block the queue,
    * matching the reference's per-job isolation. */
  def runQueueConcurrent(spark: SparkSession, jobs: Seq[(JobSpec, String)],
      maxParallel: Int = 4): Seq[JobResult] = {
    val queue = new JobQueue(spark, maxParallel)
    try jobs.zipWithIndex.map { case ((spec, outDir), id) => queue.submit(spec, outDir, id) }
      .map(_.await())
    finally queue.shutdown()
  }

  /** A session of the job's own whose input-split target is the job's
    * shard size. Spark reads `spark.sql.files.maxPartitionBytes` when the
    * scan is planned, so concurrent jobs must not share the conf. */
  def jobSession(spark: SparkSession, spec: JobSpec): SparkSession = {
    val job = spark.newSession()
    job.conf.set("spark.sql.files.maxPartitionBytes", spec.shardSize)
    job
  }

  /** Read the job's text files: one `value: string` row per line. */
  def readText(spark: SparkSession, spec: JobSpec): DataFrame =
    spark.read.text(spec.files: _*)

  /** The reference's canonical job: word count over text files, written as
    * `reducerCount` key-sorted `word count` text files (no global merge —
    * per-partition sort, exactly the reference's output contract). Runs in
    * a [[jobSession]] as one query; the distinct-key count it returns is
    * observed on the written plan, not counted by a second query. */
  def submitWordCount(spark: SparkSession, spec: JobSpec, outDir: String): Long = {
    val job = jobSession(spark, spec)
    val keys = Observation()
    TextOps.wordCount(readText(job, spec).withColumnRenamed("value", "text"))
      .observe(keys, count(lit(1)).as("n"))
      .repartition(spec.reducerCount, col("word"))
      .sortWithinPartitions("word")
      .select(concat_ws(" ", col("word"), col("cnt")))
      .write.mode(SaveMode.Overwrite).text(outDir)
    keys.get("n").asInstanceOf[Long]
  }
}
