package graft.ops

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

/** Thin HTTP submit facade over [[Engine]] — the reference's ONE
  * user-facing network entry point, re-expressed at the API level
  * (srics96/SDC_Mapreduce `src/webclient/webclient.cpp:17-55` accepts
  * `{reducer_count, shard_size, files[]}` and enqueues a `/jobs/job_<seq>`
  * znode; `clientsdk/submit_map_reduce.py:13-34` is the client). Every POST
  * goes onto one [[Engine.JobQueue]] of `maxParallel` threads, and the
  * registry maps job ids to the queue's handles — Spark's driver IS the
  * master, so no ZooKeeper — and the HTTP surface only translates:
  *
  *  - `POST /jobs` with `{"reducer_count": R, "shard_size": S,
  *    "files": [...]}` → `{"job_id": n, "status": "CREATED"}` (the
  *    reference returns the created job id the same way); a spec
  *    [[Engine.JobSpec]] rejects is a 400;
  *  - `GET /jobs/<id>` → `{"job_id", "status", "progress",
  *    "transitions", ...}` — the poll-while-running surface (reference
  *    clients poll `/jobs/job_<seq>/status`); terminal jobs add
  *    `distinct_keys` / `out_dir` / `error`;
  *  - `GET /jobs` → summary list of every submitted job;
  *  - `DELETE /jobs/<id>` → cancel: a queued job ends CANCELLED without
  *    ever running, a running one gets its Spark job group aborted (the
  *    reference master's queued-znode removal,
  *    `src/master/master.cpp:300-336`, plus a running-stage abort the
  *    reference lacks). Terminal jobs are left untouched.
  *
  * A POST beyond `maxParallel` running jobs still returns at once with a
  * pollable CREATED job that waits in the queue — the reference's jobs
  * likewise sit `CREATED` in the ZooKeeper queue until the master frees up.
  * Built on the JDK's `com.sun.net.httpserver` (no extra dependency; every
  * request is answered on its dispatcher thread, as no handler blocks) with
  * Jackson (already on Spark's classpath) for JSON. This facade binds
  * loopback only: it is a library/test surface, not a hardened public
  * endpoint. */
final class JobServer(spark: SparkSession, outRoot: String, maxParallel: Int = 4) {

  private val om = new ObjectMapper()
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Engine.JobHandle]()
  private val queue = new Engine.JobQueue(spark, maxParallel)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/jobs", (ex: HttpExchange) => handle(ex))

  /** Start listening; returns the bound (ephemeral) port. */
  def start(): Int = { server.start(); server.getAddress.getPort }

  /** Stop listening and take no more jobs; queued and running jobs finish. */
  def stop(): Unit = { server.stop(0); queue.shutdown() }

  private def respond(ex: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    try ex.getResponseBody.write(bytes) finally ex.close()
  }

  private def statusJson(id: Int, h: Engine.JobHandle): String = {
    val node = om.createObjectNode()
    node.put("job_id", id)
    val status = h.status
    node.put("status", status)
    node.put("progress", h.progress)
    val tr = node.putArray("transitions")
    h.transitions.foreach(tr.add)
    if (status == "COMPLETED" || status == "FAILED" || status == "CANCELLED") {
      val r = h.await()
      node.put("distinct_keys", r.distinctKeys)
      node.put("out_dir", r.outDir)
      r.error.foreach(er => node.put("error", er))
    }
    om.writeValueAsString(node)
  }

  private def err(msg: String): String = {
    val node = om.createObjectNode()
    node.put("error", msg)
    om.writeValueAsString(node)
  }

  private def handle(ex: HttpExchange): Unit =
    try {
      val path = ex.getRequestURI.getPath.stripSuffix("/")
      (ex.getRequestMethod, path) match {
        case ("POST", "/jobs") => submit(ex)
        case ("GET", "/jobs") =>
          val arr = om.createArrayNode()
          jobs.asScala.toSeq.sortBy(_._1).foreach { case (id, h) =>
            val n = arr.addObject()
            n.put("job_id", id)
            n.put("status", h.status)
          }
          respond(ex, 200, om.writeValueAsString(arr))
        case ("GET", p) if p.startsWith("/jobs/") =>
          p.stripPrefix("/jobs/").toIntOption.flatMap(id =>
            Option(jobs.get(id)).map(id -> _)) match {
            case Some((id, h)) => respond(ex, 200, statusJson(id, h))
            case None          => respond(ex, 404, err("no such job"))
          }
        case ("DELETE", p) if p.startsWith("/jobs/") =>
          p.stripPrefix("/jobs/").toIntOption.flatMap(id =>
            Option(jobs.get(id)).map(id -> _)) match {
            case Some((id, h)) =>
              h.cancel()
              respond(ex, 200, statusJson(id, h))
            case None => respond(ex, 404, err("no such job"))
          }
        case ("POST" | "GET" | "DELETE", _) => respond(ex, 404, err("unknown path"))
        case _                   => respond(ex, 405, err("method not allowed"))
      }
    } catch {
      // a handler throw must answer the client, not kill the dispatcher
      case t: Throwable =>
        try respond(ex, 500, err(String.valueOf(t.getMessage)))
        catch { case _: Throwable => () }
    }

  private def submit(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val parsed =
      try {
        val node = om.readTree(body)
        val filesNode = node.get("files")
        if (filesNode == null || !filesNode.isArray) None
        else Some(Engine.JobSpec(
          files = filesNode.elements().asScala.map(_.asText).toSeq,
          reducerCount = Option(node.get("reducer_count")).map(_.asInt).getOrElse(3),
          shardSize = Option(node.get("shard_size")).map(_.asLong).getOrElse(50000L)))
      } catch { case _: Exception => None }
    parsed match {
      case None => respond(ex, 400,
        err("body must be {reducer_count? >= 1, shard_size? >= 1, files[] non-empty}"))
      case Some(spec) =>
        val id = ids.getAndIncrement()
        jobs.put(id, queue.submit(spec, s"$outRoot/job_$id", id))
        val node = om.createObjectNode()
        node.put("job_id", id)
        node.put("status", "CREATED")
        respond(ex, 200, om.writeValueAsString(node))
    }
  }
}
