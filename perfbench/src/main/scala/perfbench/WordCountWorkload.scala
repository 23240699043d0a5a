package perfbench

import java.io.File
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.ops.JobServer
import Main.{median, nowMs, om, quantile}

/** `wc_small`: word-count jobs submitted to `JobServer` over
  * HTTP by a closed loop of clients. Each client POSTs a job, polls
  * `GET /jobs/<id>` every `poll_ms` until it is terminal, then submits its
  * next job. Every job reads files no other job of the run reads: the
  * engine keeps each job's counts cached, and a job whose plan equals an
  * earlier one would be answered from that cache. */
final class WordCountWorkload(cfg: JsonNode) extends Workload {
  private val wc = cfg.get("wc")
  private val clients = wc.get("clients").asInt
  private val perClient = wc.get("jobs_per_client").asInt
  private val pollMs = wc.get("poll_ms").asLong
  private val jobs = wc.get("jobs").elements().asScala.toIndexedSeq
  private val work = cfg.get("work_dir").asText

  private val outRoot = s"$work/jobs"
  private var server: JobServer = _
  private var port = 0

  /** One job as the client saw it. Times are epoch milliseconds. */
  final class JobRun(val spec: JsonNode, val client: Int) {
    var serverId = -1
    var postStart = 0.0
    var postEnd = 0.0
    var done = 0.0
    var firstRunning = Double.NaN
    var status = "NOT_SUBMITTED"
    var error = ""
    val polls = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    def latencyS: Double = (done - postStart) / 1000.0
    def ok: Boolean = status == "COMPLETED"
  }

  private val runs = new java.util.concurrent.ConcurrentLinkedQueue[JobRun]()
  private var windowStart = 0.0
  private var windowEnd = 0.0

  private def http(method: String, path: String, body: String = null): (Int, JsonNode) = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    try {
      c.setRequestMethod(method)
      c.setConnectTimeout(10000)
      c.setReadTimeout(60000)
      if (body != null) {
        c.setDoOutput(true)
        c.setRequestProperty("Content-Type", "application/json")
        val os = c.getOutputStream
        try os.write(body.getBytes(UTF_8)) finally os.close()
      }
      val code = c.getResponseCode
      val is = if (code >= 400) c.getErrorStream else c.getInputStream
      val bytes = try is.readAllBytes() finally is.close()
      (code, om.readTree(bytes))
    } finally c.disconnect()
  }

  /** Submit one job and poll it to a terminal state. Any HTTP error, a
    * FAILED or CANCELLED job, or a job still running after `limitS`
    * seconds ends the job as not completed. */
  private def runJob(r: JobRun, limitS: Double = 150.0): JobRun = {
    val body = om.createObjectNode()
    val files = body.putArray("files")
    r.spec.get("files").elements().asScala.foreach(f => files.add(f.asText))
    body.put("reducer_count", r.spec.get("reducer_count").asInt)
    body.put("shard_size", r.spec.get("shard_size").asLong)
    r.postStart = nowMs()
    try {
      val (code, resp) = http("POST", "/jobs", om.writeValueAsString(body))
      r.postEnd = nowMs()
      if (code != 200) { r.status = s"HTTP_$code"; r.error = resp.toString; r.done = r.postEnd; return r }
      r.serverId = resp.get("job_id").asInt
      var terminal = false
      while (!terminal) {
        Thread.sleep(pollMs)
        val p0 = nowMs()
        val (pc, st) = http("GET", s"/jobs/${r.serverId}")
        val p1 = nowMs()
        r.polls += ((p0, p1))
        if (pc != 200) { r.status = s"HTTP_$pc"; r.error = st.toString; r.done = p1; terminal = true }
        else {
          val s = st.get("status").asText
          if (s != "CREATED" && r.firstRunning.isNaN) r.firstRunning = p1
          if (s == "COMPLETED" || s == "FAILED" || s == "CANCELLED") {
            r.status = s; r.done = p1; terminal = true
            Option(st.get("error")).foreach(e => r.error = e.asText)
          } else if ((p1 - r.postStart) / 1000.0 > limitS) {
            r.status = "TIMEOUT"; r.done = p1; terminal = true
          }
        }
      }
    } catch {
      case e: Exception =>
        r.status = "HTTP_ERROR"; r.error = String.valueOf(e); r.done = nowMs()
    }
    r
  }

  def setup(spark: SparkSession): Unit = {
    server = new JobServer(spark, outRoot)
    port = server.start()
    val warm = runJob(new JobRun(wc.get("warmup"), -1))
    setupParts("warm_job_s") = warm.latencyS
    require(warm.ok, s"warm-up job ended ${warm.status}: ${warm.error}")
    val bad = checkJob(warm)
    require(bad.isEmpty, s"warm-up job output is wrong: ${bad.get}")
  }

  override def teardown(): Unit = if (server != null) { server.stop(); server = null }

  /** Every client runs the same number of jobs, sized from the run length,
    * so a run's job count, and the heap its jobs leave behind, does not
    * depend on how fast the host is. */
  def run(spark: SparkSession, out: Main.Outcome): Unit = {
    val next = new AtomicInteger(0)
    windowStart = nowMs()
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        (0 until perClient).foreach(_ => runs.add(runJob(new JobRun(jobs(next.getAndIncrement()), c))))
      }, s"perfbench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    windowEnd = nowMs()

    val all = runs.asScala.toSeq
    out.attempted = all.size
    all.filterNot(_.ok).foreach(r =>
      out.failures += Main.Failure(s"job ${r.serverId}", s"${r.status} ${r.error}"))
    // a failed job counts as never finishing
    val lat = all.map(r => if (r.ok) r.latencyS else Double.PositiveInfinity)
    val okRuns = all.filter(_.ok)
    // closed-loop throughput: each client is sequential, so its rate is its
    // completed jobs over the time it spent on jobs; the clients add up
    val rate = all.groupBy(_.client).values.map { rs =>
      val busy = rs.map(r => (r.done - r.postStart) / 1000.0).sum
      if (busy > 0) rs.count(_.ok) / busy else 0.0
    }.sum
    out.metrics("op_p50_s") = median(lat)
    out.metrics("ops_per_s") = rate
    out.report("job_p50_s") = (median(lat), "s")
    out.report("job_p90_s") = (quantile(lat, 0.9), "s")
    out.report("jobs_per_s") = (rate, "1/s")
    out.report("jobs") = (all.size.toDouble, "count")
    out.report("window_s") = ((windowEnd - windowStart) / 1000.0, "s")
  }

  /** The output contract of one job: exactly `reducer_count` part files,
    * each sorted by word, and together holding each word once with the
    * count the generator put into the job's input. Returns what is wrong. */
  private def checkJob(r: JobRun): Option[String] = {
    val exp = r.spec.get("expect")
    val dir = new File(s"$outRoot/job_${r.serverId}")
    val parts = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val want = r.spec.get("reducer_count").asInt
    if (parts.length != want) return Some(s"${parts.length} part files, want $want")
    var distinct = 0L
    var tokens = 0L
    var crcSum = 0L
    var crcXor = 0L
    val crc = new java.util.zip.CRC32()
    for (p <- parts) {
      var prev: String = null
      val it = java.nio.file.Files.lines(p.toPath, UTF_8).iterator().asScala
      for (line <- it) {
        val sp = line.lastIndexOf(' ')
        if (sp <= 0) return Some(s"malformed line '$line' in ${p.getName}")
        val w = line.substring(0, sp)
        if (prev != null && prev.compareTo(w) >= 0)
          return Some(s"${p.getName} not sorted by word at '$w'")
        prev = w
        crc.reset(); crc.update(line.getBytes(UTF_8))
        crcSum += crc.getValue; crcXor ^= crc.getValue
        distinct += 1
        tokens += line.substring(sp + 1).toLong
      }
    }
    val got = (distinct, tokens, crcSum, crcXor)
    val expect = (exp.get("distinct").asLong, exp.get("tokens").asLong,
      exp.get("crc_sum").asLong, exp.get("crc_xor").asLong)
    if (got != expect) Some(s"(distinct, tokens, crc_sum, crc_xor) = $got, want $expect")
    else None
  }

  def check(spark: SparkSession, out: Main.Outcome): Unit =
    runs.asScala.filter(_.ok).foreach { r =>
      checkJob(r).foreach(why => out.failures += Main.Failure(s"job ${r.serverId}", why))
    }

  def layers(spark: SparkSession, rec: Recorder, out: Main.Outcome): Unit = {
    val all = runs.asScala.toSeq
    val ok = all.filter(_.ok)
    val L = out.layers
    L("jobserver.post_ms") = median(all.map(r => r.postEnd - r.postStart))
    L("jobserver.poll_ms") = median(all.flatMap(_.polls.map { case (a, b) => b - a }))
    L("jobserver.admit_wait_s") =
      median(all.filterNot(_.firstRunning.isNaN).map(r => (r.firstRunning - r.postStart) / 1000.0))
    L("jobserver.registry_jobs_end") = http("GET", "/jobs")._2.size.toDouble
    L("engine.cached_rdds_end") = spark.sparkContext.getPersistentRDDs.size.toDouble
    L("engine.cached_mb_end") = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6

    // op spans: one per job, POST to the poll that saw it terminal; its
    // children are the HTTP calls and the Spark work of its job group
    val opOf = all.filter(_.serverId >= 0).map(r => s"job:${r.serverId}" -> r).toMap
    all.filter(_.serverId >= 0).foreach { r =>
      val op = s"job:${r.serverId}"
      val id = rec.span(op, "op", "wc.job", r.postStart, r.done, 0)
      rec.span(op, "jobserver", "POST /jobs", r.postStart, r.postEnd, id)
      r.polls.foreach { case (a, b) => rec.span(op, "jobserver", "GET /jobs/<id>", a, b, id) }
    }
    rec.attachSpark(op => opOf.contains(op))
    val perOp = rec.perOp(opOf.keySet)
    val engineRun = perOp.values.filter(_.jobs > 0).map(o => (o.lastJobEnd - o.firstJobStart) / 1000.0)
    L("engine.run_s") = median(engineRun.toSeq)
    L("engine.spark_jobs_per_job") = mean(perOp.values.map(_.jobs.toDouble))
    L("engine.stages_per_job") = mean(perOp.values.map(_.stages.toDouble))
    L("engine.tasks_per_job") = mean(perOp.values.map(_.tasks.toDouble))
    L("engine.driver_gap_s") = median(ok.map { r =>
      val o = perOp.get(s"job:${r.serverId}")
      (r.done - r.postStart) / 1000.0 - o.map(_.jobCoverS(r.postStart, r.done)).getOrElse(0.0)
    })

    val n = math.max(ok.size, 1).toDouble
    val stages = perOp.values.flatMap(_.stageList).toSeq
    val scan = stages.filter(s => s.inputBytes > 0)
    val reduce = stages.filter(s => s.inputBytes == 0)
    val tokens = ok.map(_.spec.get("expect").get("tokens").asDouble).sum
    L("wc.scan_mb") = scan.map(_.inputBytes).sum / 1e6 / n
    L("wc.scan_tasks") = scan.map(_.tasks).sum / n
    L("wc.map_cpu_s") = scan.map(_.cpuNs).sum / 1e9 / n
    L("wc.shuffle_write_mb") = stages.map(_.shuffleWriteBytes).sum / 1e6 / n
    L("wc.shuffle_records") = stages.map(_.shuffleWriteRecords).sum / n
    L("wc.combine_ratio") = if (tokens > 0) scan.map(_.shuffleWriteRecords).sum / tokens else 0.0
    L("wc.reduce_cpu_s") = reduce.map(_.cpuNs).sum / 1e9 / n
    L("wc.max_task_input_records") =
      if (stages.isEmpty) 0.0 else stages.map(_.maxTaskShuffleReadRecords).max.toDouble
    L("wc.spill_mb") = stages.map(_.spillBytes).sum / 1e6 / n
    L("wc.gc_s") = stages.map(_.gcMs).sum / 1000.0 / n
    L("wc.output_mb") = stages.map(_.outputBytes).sum / 1e6 / n
    rec.common(out, windowStart, windowEnd, math.max(all.size, 1))
  }

  private def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
