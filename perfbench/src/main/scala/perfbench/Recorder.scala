package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import Main.om

/** Tracing for the per-layer run: listeners that observe Spark jobs,
  * stages, tasks, SQL executions and streaming progress (with
  * [[PlanListener]] for Catalyst phases), plus spans the workloads record
  * around their own calls into the program. Everything is kept in memory
  * and written out when the run ends.
  *
  * Spark work is attributed to an operation (a job or a
  * micro-batch) by the local properties Spark copies onto each job: the engine's
  * `graft-job-<id>-` job group, the micro-batch id streaming sets, or the
  * `perfbench.op` property the benchmark sets on the threads it drives. */
final class Recorder(spark: SparkSession) {
  import Recorder._

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageRec]()
  private val sqls = new java.util.concurrent.ConcurrentHashMap[Long, SqlRec]()
  val progress = new ConcurrentLinkedQueue[ProgressRec]()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextSpan = new java.util.concurrent.atomic.AtomicInteger(1)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sqlId = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, new JobRec(e.jobId, opKey(e.properties), e.time.toDouble, sqlId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = e.stageInfo
      stages.putIfAbsent((s.stageId, s.attemptNumber()),
        new StageRec(s.stageId, opKey(e.properties)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get((e.stageId, e.stageAttemptId))).foreach { s =>
        val m = e.taskMetrics
        if (m != null) s.synchronized {
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.inputBytes += m.inputMetrics.bytesRead
          s.outputBytes += m.outputMetrics.bytesWritten
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          s.maxTaskShuffleReadRecords =
            math.max(s.maxTaskShuffleReadRecords, m.shuffleReadMetrics.recordsRead)
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqls.put(s.executionId,
          new SqlRec(s.executionId, s.time.toDouble, s.description, s.physicalPlanDescription))
      case s: SparkListenerSQLExecutionEnd =>
        Option(sqls.get(s.executionId)).foreach(_.end = s.time.toDouble)
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue.toDouble }
      progress.add(ProgressRec(d.getOrElse("triggerExecution", 0.0), d.getOrElse("addBatch", 0.0),
        p.numInputRows))
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Detach after the listener bus has had time to deliver the window's
    * last events (it runs asynchronously to the jobs it reports). */
  def stop(): Unit = {
    Thread.sleep(1000)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  /** Record a span; returns its id for use as a parent. */
  def span(op: String, layer: String, name: String, start: Double, end: Double, parent: Int): Int = {
    val id = nextSpan.getAndIncrement()
    spans.add(Span(id, parent, op, layer, name, start, end))
    id
  }

  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq
  def sql(id: Long): Option[SqlRec] = Option(sqls.get(id))
  def allStages: Seq[StageRec] = stages.values.asScala.toSeq

  /** Turn the recorded SQL executions and Spark jobs of the kept ops into
    * spans: each under its op's root span, a job under its SQL execution
    * when it has one. */
  def attachSpark(keep: String => Boolean): Unit = {
    val roots = spans.asScala.filter(s => s.layer == "op" && s.parent == 0)
      .map(s => s.op -> s.id).toMap
    val jobsOfSql = allJobs.groupBy(_.sqlId)
    val sqlSpan = sqls.values.asScala.toSeq.flatMap { q =>
      jobsOfSql.get(q.id).flatMap(_.headOption).map(_.op).filter(keep).flatMap(op =>
        roots.get(op).filter(_ => q.end > 0).map(root =>
          q.id -> span(op, "sql", q.description.take(80), q.start, q.end, root)))
    }.toMap
    allJobs.filter(j => keep(j.op) && j.end > 0).foreach { j =>
      roots.get(j.op).foreach { root =>
        span(j.op, "spark", s"job ${j.jobId}", j.start, j.end, sqlSpan.getOrElse(j.sqlId, root))
      }
    }
  }

  /** Spark work per op: job, stage and task counts and the stages. */
  def perOp(ops: Set[String]): Map[String, OpStats] = {
    val js = allJobs.filter(j => ops(j.op)).groupBy(_.op)
    val ss = allStages.filter(s => ops(s.op)).groupBy(_.op)
    ops.map { op =>
      val j = js.getOrElse(op, Nil).filter(_.end > 0)
      val s = ss.getOrElse(op, Nil)
      op -> OpStats(j, s)
    }.toMap
  }

  /** Layer figures every workload reports: executor busy fraction over the
    * window, Catalyst phase time per op, SQL executions per op, and each
    * span layer's self time per op (its spans minus what their children
    * cover). */
  def common(out: Main.Outcome, windowStart: Double, windowEnd: Double, nOps: Int): Unit = {
    val L = out.layers
    val cores = spark.sparkContext.defaultParallelism
    L("executor.busy_frac") = allStages.map(_.runMs).sum / ((windowEnd - windowStart) * cores)
    val ps = PlanListener.plans.asScala.toSeq
      .filter(p => p.start >= windowStart - 1 && p.start <= windowEnd)
    L("catalyst.analysis_ms") = ps.map(_.analysisMs).sum / nOps
    L("catalyst.optimization_ms") = ps.map(_.optimizationMs).sum / nOps
    L("catalyst.planning_ms") = ps.map(_.planningMs).sum / nOps
    L("catalyst.queries_per_op") = ps.size.toDouble / nOps
    selfTimes().foreach { case (layer, s) => L(s"self.${layer}_s") = s / nOps }
  }

  /** Self time per span layer, summed over all spans. */
  def selfTimes(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    val self = all.map { s =>
      val cover = unionLength(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.layer -> math.max(0.0, (s.end - s.start) - cover) / 1000.0
    }
    Seq("op", "jobserver", "sql", "spark").map(l =>
      l -> self.filter(_._1 == l).map(_._2).sum).toMap
  }

  def writeSpans(file: String): Unit = {
    val arr = om.createArrayNode()
    spans.asScala.toSeq.sortBy(_.id).foreach { s =>
      val n = arr.addObject()
      n.put("id", s.id); n.put("parent", s.parent); n.put("op", s.op)
      n.put("layer", s.layer); n.put("name", s.name)
      n.put("start_ms", s.start); n.put("end_ms", s.end)
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(file), om.writeValueAsBytes(arr))
  }
}

object Recorder {
  final case class Span(id: Int, parent: Int, op: String, layer: String, name: String,
      start: Double, end: Double)

  final class JobRec(val jobId: Int, val op: String, val start: Double, val sqlId: Long) {
    @volatile var end: Double = -1
  }

  final class SqlRec(val id: Long, val start: Double, val description: String,
      val plan: String) {
    @volatile var end: Double = -1
  }

  final class StageRec(val stageId: Int, val op: String) {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    var outputBytes = 0L
    var shuffleWriteBytes = 0L
    var shuffleWriteRecords = 0L
    var maxTaskShuffleReadRecords = 0L
  }

  final case class PlanRec(start: Double, analysisMs: Double, optimizationMs: Double,
      planningMs: Double)

  final case class ProgressRec(triggerMs: Double, addBatchMs: Double, inputRows: Long)

  final case class OpStats(jobList: Seq[JobRec], stageList: Seq[StageRec]) {
    def jobs: Int = jobList.size
    def stages: Int = stageList.size
    def tasks: Long = stageList.map(_.tasks).sum
    def firstJobStart: Double = jobList.map(_.start).min
    def lastJobEnd: Double = jobList.map(_.end).max
    /** Seconds of [a, b] covered by at least one of the op's Spark jobs. */
    def jobCoverS(a: Double, b: Double): Double =
      unionLength(jobList.map(j => (math.max(j.start, a), math.min(j.end, b)))) / 1000.0
  }

  /** Which operation a Spark job or stage belongs to, from the local
    * properties it was submitted with. */
  def opKey(p: Properties): String =
    if (p == null) "none"
    else {
      val group = p.getProperty("spark.jobGroup.id")
      val batch = p.getProperty("streaming.sql.batchId")
      val op = p.getProperty("perfbench.op")
      if (group != null && group.startsWith("graft-job-"))
        "job:" + group.stripPrefix("graft-job-").takeWhile(_ != '-')
      else if (batch != null) "batch:" + batch
      else if (op != null) op
      else "none"
    }

  /** Total length of a set of intervals, overlaps counted once. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NegativeInfinity
    var curE = Double.NegativeInfinity
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Catalyst phase times (`QueryPlanningTracker`) of every query. The traced
  * run registers it through `spark.sql.queryExecutionListeners`, so every
  * session loads it: the engine runs each job in a `newSession()` of its
  * own, which a listener registered on one session would not see. */
final class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L).toDouble
    PlanListener.plans.add(
      Recorder.PlanRec(start, ms("analysis"), ms("optimization"), ms("planning")))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object PlanListener {
  val plans = new ConcurrentLinkedQueue[Recorder.PlanRec]()
}
