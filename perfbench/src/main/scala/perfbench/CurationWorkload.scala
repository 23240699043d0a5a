package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.{Curation, Dedup, Snapshot}
import graft.sources.Formats
import Main.{median, nowMs}

/** `curation_stream`: the program's streaming daily curation pipeline
  * (`Curation.startStreamDailyPipeline`) over staged files, one non-empty
  * file per micro-batch (`maxFilesPerTrigger` 1, `Trigger.AvailableNow`),
  * with snapshot retention on. Set-up builds the base corpus's band index
  * and its first snapshot, then runs the pipeline once over one staged file
  * (the warm-up op, batch 0). The measured window stages the run's files
  * and starts the pipeline again on the same checkpoint, as a daily run
  * would: every batch decides its documents against the index, appends the
  * survivors, writes the next snapshot, folds the ledgers and applies
  * retention, so committed state grows batch by batch. */
final class CurationWorkload(cfg: JsonNode) extends Workload {
  private val c = cfg.get("curation")
  private val work = cfg.get("work_dir").asText
  private val retain = c.get("retain").asInt
  private val staged = c.get("batches").asInt
  private val stagedDocs = c.get("staged_docs").asLong
  private val Band = "pb_band"
  private val Snap0 = "pb_snap0"
  private val Prefix = "pb_s"
  private val stageDir = s"$work/stage"
  private def ledgerDir = s"$work/stream/decisions"
  private var bench: DataFrame = _
  private var baseStamp = (0L, 0L)
  private var stagedFiles = 0

  private case class Batch(id: Long, start: Double, triggerS: Double, addBatchS: Double)
  private var batches = Seq.empty[Batch]
  private var windowStart = 0.0
  private var windowEnd = 0.0
  private var streamError: Option[String] = None

  private val schema =
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  private def stream(spark: SparkSession) =
    Curation.startStreamDailyPipeline(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1L).parquet(stageDir),
      bench, Band, ledgerDir, Snap0, Prefix, s"$work/stream/checkpoint",
      retainSnapshots = Some(retain))

  /** Copy generated batch files into the stage directory, each stamped one
    * second after the previous: the file source takes the oldest first. */
  private def stage(dir: String): Unit = {
    val t0 = System.currentTimeMillis()
    new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach { f =>
        val to = new File(stageDir, f"batch_$stagedFiles%04d.parquet")
        java.nio.file.Files.copy(f.toPath, to.toPath)
        to.setLastModified(t0 + stagedFiles * 1000L)
        stagedFiles += 1
      }
  }

  def setup(spark: SparkSession): Unit = {
    val t0 = System.nanoTime()
    val all = spark.read.parquet(c.get("documents").asText)
    val corpus = Curation.corpusOf(all)
    bench = Curation.benchOf(all)
    Dedup.buildBandIndex(corpus, Band)
    Formats.writeManaged(
      Snapshot.baseSnapshot(corpus).select(col("doc_id"), col("version"), col("fp")), Snap0)
    baseStamp = Formats.corpusStamp(corpus, "doc_id")
    val t1 = System.nanoTime()
    new File(stageDir).mkdirs()
    stage(c.get("warmup_stage").asText)
    stream(spark).awaitTermination()
    setupParts("base_state_s") = (t1 - t0) / 1e9
    setupParts("warm_batch_s") = (System.nanoTime() - t1) / 1e9
  }

  def run(spark: SparkSession, out: Main.Outcome): Unit = {
    windowStart = nowMs()
    stage(c.get("stage").asText)
    val q = stream(spark)
    try {
      if (!q.awaitTermination(150000L)) {
        streamError = Some("stream still running after 150 s")
        q.stop()
      }
    } catch {
      case e: StreamingQueryException => streamError = Some(String.valueOf(e.getMessage))
    }
    windowEnd = nowMs()
    batches = q.recentProgress.toSeq.filter(_.numInputRows > 0).map { p =>
      val d = p.durationMs
      def s(k: String) = Option(d.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
      Batch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        s("triggerExecution"), s("addBatch"))
    }.sortBy(_.id)

    out.attempted = staged
    streamError.foreach(e => out.failures += Main.Failure("stream", e))
    (batches.size until staged).foreach(i =>
      out.failures += Main.Failure(s"batch ${i + 1}", "never committed"))
    val trig = batches.map(_.triggerS) ++ Seq.fill(staged - batches.size)(Double.PositiveInfinity)
    val wall = (windowEnd - windowStart) / 1000.0
    // throughput over the whole daily run: staging, query start, the
    // batches and the gaps between them
    out.metrics("op_p50_s") = median(trig)
    out.metrics("ops_per_s") = batches.size / wall
    out.report("batch_p50_s") = (median(trig), "s")
    out.report("batches_per_s") = (batches.size / wall, "1/s")
    out.report("docs_per_s") = (batches.size.toDouble / staged * stagedDocs / wall, "1/s")
    out.report("batches") = (batches.size.toDouble, "count")
    out.report("stream_wall_s") = (wall, "s")
  }

  private def survivors(spark: SparkSession): DataFrame =
    spark.read.parquet(ledgerDir).filter(col("survived")).select("doc_id")

  /** The committed state, once every staged batch committed (a stream that
    * did not is already counted as failed). */
  def check(spark: SparkSession, out: Main.Outcome): Unit = if (batches.size == staged) {
    def fail(why: String): Unit = out.failures += Main.Failure("state", why)
    val last = staged.toLong
    val wm = spark.table(s"${Prefix}_ledger").agg(org.apache.spark.sql.functions.max("batch_id"))
      .head().get(0)
    if (wm != last) fail(s"commit-ledger watermark $wm, want last batch id $last")
    val snaps = spark.catalog.listTables().collect().map(_.name)
      .count(_.matches(s"${Prefix}_b\\d+"))
    if (snaps > retain) fail(s"$snaps snapshot tables kept, retention is $retain")
    val (sn, sfp) = Formats.corpusStamp(survivors(spark), "doc_id")
    val want = (baseStamp._1 + sn, baseStamp._2 ^ sfp)
    val got = Formats.readBuildMeta(spark, Band).map(m => (m._1, m._2))
    if (!got.contains(want)) fail(s"band-index stamp $got, want $want (base corpus + survivors)")
  }

  /** The curation step of each Spark job of one batch. The stream runs
    * every batch under the call site of the query's start, so call sites
    * cannot tell the steps apart; what each SQL execution writes can. In
    * the order the batch runs them: a write to the decision ledger is
    * `decide` (the decision plan runs inside it), to the band index
    * `index_append`, to a `_b<N>` snapshot `snapshot`, to the commit, index
    * and intent ledgers `ledger`; everything after the commit-ledger row is
    * `retention`. Work that writes nothing (reads, checks, eager sub-jobs)
    * belongs to the step of the next write. */
  private def steps(batchJobs: Seq[Recorder.JobRec], rec: Recorder): Map[Int, String] = {
    val snapshot = s"${Prefix}_b\\d+".r
    def target(plan: String): Option[String] = {
      val lines = plan.linesIterator.toIndexedSeq
      val i = lines.indexWhere(_.matches("""\(\d+\) Execute .*"""))
      if (i < 0) None else lines.drop(i + 1).find(_.startsWith("Arguments:")).orElse(Some(lines(i)))
    }
    val units = batchJobs.groupBy(j => if (j.sqlId >= 0) Left(j.sqlId) else Right(j.jobId))
      .values.toSeq.sortBy(_.map(_.start).min)
    var committed = false
    var pending = Seq.empty[Recorder.JobRec]
    val out = scala.collection.mutable.Map.empty[Int, String]
    units.foreach { js =>
      val t = if (committed) None else rec.sql(js.head.sqlId).flatMap(q => target(q.plan))
      val step =
        if (committed) Some("retention")
        else t.map { w =>
          if (w.contains("/decisions/")) "decide"
          else if (w.contains(Band)) "index_append"
          else if (snapshot.findFirstIn(w).isDefined) "snapshot"
          else {
            committed = w.contains(s"${Prefix}_ledger")
            "ledger"
          }
        }
      step match {
        case Some(s) => (pending ++ js).foreach(j => out(j.jobId) = s); pending = Nil
        case None => pending ++= js
      }
    }
    pending.foreach(j => out(j.jobId) = "retention")
    out.toMap
  }

  def layers(spark: SparkSession, rec: Recorder, out: Main.Outcome): Unit = {
    val L = out.layers
    val n = math.max(batches.size, 1).toDouble
    val ops = batches.map(b => s"batch:${b.id}").toSet
    batches.foreach(b => rec.span(s"batch:${b.id}", "op", "micro-batch", b.start,
      b.start + b.triggerS * 1000, 0))
    rec.attachSpark(ops)
    val perOp = rec.perOp(ops)
    // the stream layer as the benchmark's StreamingQueryListener saw it
    val prog = rec.progress.asScala.toSeq.filter(_.inputRows > 0)
    L("stream.trigger_s") = median(prog.map(_.triggerMs / 1000.0))
    L("stream.add_batch_s") = median(prog.map(_.addBatchMs / 1000.0))
    L("stream.overhead_s") = median(prog.map(p => (p.triggerMs - p.addBatchMs) / 1000.0))
    L("stream.source_reads_per_row") = prog.map(_.inputRows).sum.toDouble / stagedDocs
    val jobs = perOp.values.flatMap(_.jobList).toSeq
    val stepOf = perOp.values.flatMap(o => steps(o.jobList, rec)).toMap
    val bySte = jobs.groupBy(j => stepOf(j.jobId))
    Seq("decide", "index_append", "snapshot", "ledger", "retention").foreach { s =>
      L(s"curation.${s}_s") = bySte.getOrElse(s, Nil).map(j => (j.end - j.start) / 1000.0).sum / n
    }
    L("curation.driver_gap_s") = median(batches.map { b =>
      val o = perOp(s"batch:${b.id}")
      b.addBatchS - (if (o.jobs > 0) o.jobCoverS(b.start, b.start + b.triggerS * 1000) else 0.0)
    })
    L("curation.spark_jobs_per_batch") = jobs.size / n
    L("curation.bytes_written_per_batch") =
      perOp.values.flatMap(_.stageList).map(_.outputBytes).sum / n
    L("curation.survivor_frac") =
      survivors(spark).count().toDouble / spark.read.parquet(ledgerDir).count()
    L("curation.state_mb_end") = Seq(
      new File(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")),
      new File(s"$work/stream")).map(du).sum / 1e6
    val third = math.max(1, batches.size / 3)
    val ts = batches.map(_.triggerS)
    L("curation.batch_slope") =
      if (ts.size < 2) 1.0 else (ts.takeRight(third).sum / third) / (ts.take(third).sum / third)
    rec.common(out, windowStart, windowEnd, batches.size max 1)
  }

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L) else f.length()

  override def extra(res: ObjectNode): Unit = {
    val arr = res.putArray("batch_trigger_s")
    batches.foreach(b => arr.add(b.triggerS))
  }
}
