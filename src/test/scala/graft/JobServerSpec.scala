package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import graft.ops.JobServer

/** Drives the HTTP submit facade end to end through a real HTTP client —
  * the reference's webclient/clientsdk workflow (POST a job spec, poll the
  * job id to COMPLETED, read the output files). */
class JobServerSpec extends SparkTestBase {

  private def get(client: HttpClient, url: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(client: HttpClient, url: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("POST /jobs then poll GET /jobs/<id> to COMPLETED (webclient parity)") {
    val in = Files.createTempDirectory("graft_http_in")
    Files.writeString(in.resolve("a.txt"), "alpha beta alpha\nbeta beta gamma")
    val outRoot = Files.createTempDirectory("graft_http_out").toString
    val srv = new JobServer(spark, outRoot)
    val port = srv.start()
    val base = s"http://127.0.0.1:$port"
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    try {
      val client = HttpClient.newHttpClient()
      val spec =
        s"""{"reducer_count": 2, "shard_size": 1024,
           | "files": ["${in.resolve("a.txt")}"]}""".stripMargin
      val created = post(client, s"$base/jobs", spec)
      assert(created.statusCode() === 200)
      assert(created.body().contains("\"job_id\":0"))
      assert(created.body().contains("\"status\":\"CREATED\""))
      // poll the status surface until terminal, like the reference client
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var status = ""
      while (!Set("COMPLETED", "FAILED").contains(status) && System.nanoTime() < deadline) {
        val r = get(client, s"$base/jobs/0")
        assert(r.statusCode() === 200)
        status = "\"status\":\"(\\w+)\"".r.findFirstMatchIn(r.body()).map(_.group(1)).getOrElse("")
        Thread.sleep(20)
      }
      assert(status === "COMPLETED")
      val fin = get(client, s"$base/jobs/0").body()
      // alpha, beta, gamma
      assert(fin.contains("\"distinct_keys\":3"))
      assert(fin.contains("\"progress\":1.0"))
      assert("\"transitions\":\\[\"CREATED\",\"RUNNING\",\"COMPLETED\"\\]".r
        .findFirstIn(fin).isDefined, s"lifecycle must be observable: $fin")
      // the job really ran: reducerCount sorted text files with the counts
      val outDf = spark.read.text(s"$outRoot/job_0")
      val counts = outDf.collect().map(_.getString(0)).sorted
      assert(counts.toSeq === Seq("alpha 2", "beta 3", "gamma 1"))
      // list surface sees the job as terminal
      assert(get(client, s"$base/jobs").body().contains("\"status\":\"COMPLETED\""))
      assert((spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore).isEmpty,
        "a job must not leave cached RDDs behind")
    } finally srv.stop()
  }

  private def delete(client: HttpClient, url: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(url)).DELETE().build(),
      HttpResponse.BodyHandlers.ofString())

  private def statusOf(body: String): String =
    "\"status\":\"(\\w+)\"".r.findFirstMatchIn(body).map(_.group(1)).getOrElse("")

  test("DELETE /jobs/<id>: queued jobs drop without a slot, running jobs abort to CANCELLED") {
    val in = Files.createTempDirectory("graft_http_in3")
    // big enough that the slot-holding job is genuinely mid-flight while
    // the queued-job cancel lands (~300k lines, several shuffle stages)
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon")
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < 300000) { sb.append(words(i % 5)).append(' ').append(words((i / 5) % 5)).append('\n'); i += 1 }
    Files.writeString(in.resolve("big.txt"), sb.toString)
    Files.writeString(in.resolve("small.txt"), "one two one")
    val outRoot = Files.createTempDirectory("graft_http_out3").toString
    val srv = new JobServer(spark, outRoot, maxParallel = 1)
    val port = srv.start()
    val base = s"http://127.0.0.1:$port"
    try {
      val client = HttpClient.newHttpClient()
      def submit(file: String): Int = {
        val r = post(client, s"$base/jobs",
          s"""{"reducer_count": 2, "shard_size": 4096, "files": ["$file"]}""")
        assert(r.statusCode() === 200)
        "\"job_id\":(\\d+)".r.findFirstMatchIn(r.body()).get.group(1).toInt
      }
      val running = submit(s"$in/big.txt")   // takes the only slot
      val queued = submit(s"$in/small.txt")  // waits behind it
      // cancel the QUEUED job immediately: it must drop to CANCELLED
      // without ever taking the slot or writing output — the reference
      // master's removal of a still-queued znode
      assert(delete(client, s"$base/jobs/$queued").statusCode() === 200)
      assert(statusOf(get(client, s"$base/jobs/$queued").body()) === "CANCELLED")
      // cancel the RUNNING job. If the DELETE observed a pre-terminal
      // state, the job MUST terminate CANCELLED (cancelJobGroupAndFuture-
      // Jobs covers the between-actions window); if the tiny corpus raced
      // it to COMPLETED first, the DELETE is a visible no-op — assert
      // whichever contract applies, so the test cannot flake.
      val delBody = delete(client, s"$base/jobs/$running").body()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var st = ""
      while (!Set("COMPLETED", "FAILED", "CANCELLED").contains(st) && System.nanoTime() < deadline) {
        st = statusOf(get(client, s"$base/jobs/$running").body())
        Thread.sleep(20)
      }
      if (statusOf(delBody) != "COMPLETED") assert(st === "CANCELLED")
      else assert(st === "COMPLETED")
      // the queued job never produced an output directory
      assert(!new java.io.File(s"$outRoot/job_$queued").exists())
      // slots were released on both cancel paths: a fresh job completes
      val after = submit(s"$in/small.txt")
      var st2 = ""
      while (!Set("COMPLETED", "FAILED", "CANCELLED").contains(st2) && System.nanoTime() < deadline) {
        st2 = statusOf(get(client, s"$base/jobs/$after").body())
        Thread.sleep(20)
      }
      assert(st2 === "COMPLETED", "server must stay serviceable after cancels")
      // cancel of an unknown id is a 404; cancel of a terminal job is a
      // visible no-op
      assert(delete(client, s"$base/jobs/99").statusCode() === 404)
      assert(statusOf(delete(client, s"$base/jobs/$after").body()) === "COMPLETED")
    } finally srv.stop()
  }

  test("a status poll is answered at once, not after a delayed-ACK stall") {
    val in = Files.createTempDirectory("graft_http_in4")
    Files.writeString(in.resolve("a.txt"), "alpha beta")
    val srv = new JobServer(spark, Files.createTempDirectory("graft_http_out4").toString)
    val base = s"http://127.0.0.1:${srv.start()}"
    try {
      val client = HttpClient.newHttpClient()
      assert(post(client, s"$base/jobs", s"""{"files": ["${in.resolve("a.txt")}"]}""")
        .statusCode() === 200)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (statusOf(get(client, s"$base/jobs/0").body()) != "COMPLETED" &&
          System.nanoTime() < deadline) Thread.sleep(20)
      // 20 round trips on one kept-alive connection; Nagle plus the
      // client's delayed ACK would hold each body back ~40 ms
      val ms = (0 until 20).map { _ =>
        val t0 = System.nanoTime()
        assert(get(client, s"$base/jobs/0").statusCode() === 200)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      assert(ms(10) < 20.0, s"median GET round trip ${ms(10)} ms: ${ms.mkString(", ")}")
    } finally srv.stop()
  }

  test("the job registry stays bounded: 200 fail-fast submissions keep the newest terminal jobs") {
    val cap = 128
    val srv = new JobServer(spark, Files.createTempDirectory("graft_http_out5").toString)
    val base = s"http://127.0.0.1:${srv.start()}"
    try {
      val client = HttpClient.newHttpClient()
      // a missing input fails each job at planning, so the soak runs no
      // Spark job and the registry fills with terminal entries
      val ids = (0 until 200).map { _ =>
        val r = post(client, s"$base/jobs", """{"files": ["/nonexistent/soak.txt"]}""")
        assert(r.statusCode() === 200)
        "\"job_id\":(\\d+)".r.findFirstMatchIn(r.body()).get.group(1).toInt
      }
      val newest = ids.last
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (statusOf(get(client, s"$base/jobs/$newest").body()) != "FAILED" &&
          System.nanoTime() < deadline) Thread.sleep(20)
      val listed = "\"status\":\"(\\w+)\"".r
        .findAllMatchIn(get(client, s"$base/jobs").body()).map(_.group(1)).toSeq
      val inFlight = listed.count(st => st == "CREATED" || st == "RUNNING")
      assert(listed.size <= cap + inFlight,
        s"registry holds ${listed.size} jobs, $inFlight in flight")
      val last = get(client, s"$base/jobs/$newest")
      assert(last.statusCode() === 200 && statusOf(last.body()) === "FAILED",
        s"the newest job must stay pollable: ${last.body()}")
      assert(get(client, s"$base/jobs/${ids.head}").statusCode() === 404,
        "the oldest terminal job must be evicted")
    } finally srv.stop()
  }

  test("facade rejects malformed submissions and unknown ids") {
    val outRoot = Files.createTempDirectory("graft_http_out2").toString
    val srv = new JobServer(spark, outRoot)
    val port = srv.start()
    val base = s"http://127.0.0.1:$port"
    try {
      val client = HttpClient.newHttpClient()
      assert(post(client, s"$base/jobs", "{not json").statusCode() === 400)
      assert(post(client, s"$base/jobs", """{"files": []}""").statusCode() === 400)
      assert(post(client, s"$base/jobs", """{"reducer_count": 2}""").statusCode() === 400)
      // out-of-range sizes would reach Spark as a non-positive split size or
      // partition count: a negative split reads no rows and "completes"
      for (bad <- Seq(""""shard_size": -1""", """"shard_size": 0""",
          """"reducer_count": 0""", """"reducer_count": -2"""))
        assert(post(client, s"$base/jobs", s"""{$bad, "files": ["/tmp/x.txt"]}""")
          .statusCode() === 400, bad)
      assert(get(client, s"$base/jobs").body() === "[]", "rejected specs are never queued")
      assert(get(client, s"$base/jobs/99").statusCode() === 404)
      assert(get(client, s"$base/nope").statusCode() === 404)
      // a FAILED job is isolated and reported, not thrown (missing input)
      val bad = post(client, s"$base/jobs", """{"files": ["/nonexistent/x.txt"]}""")
      assert(bad.statusCode() === 200)
      val id = "\"job_id\":(\\d+)".r.findFirstMatchIn(bad.body()).get.group(1)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var status = ""
      while (!Set("COMPLETED", "FAILED").contains(status) && System.nanoTime() < deadline) {
        status = "\"status\":\"(\\w+)\"".r
          .findFirstMatchIn(get(client, s"$base/jobs/$id").body()).map(_.group(1)).getOrElse("")
        Thread.sleep(20)
      }
      assert(status === "FAILED")
      assert(get(client, s"$base/jobs/$id").body().contains("\"error\""))
    } finally srv.stop()
  }
}
