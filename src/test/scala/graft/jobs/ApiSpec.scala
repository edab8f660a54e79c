package graft.jobs

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSuite

/** HTTP control-plane spec: submit + poll a job through a real socket
  * (reference: pkg/test/devstack/submit_test.go + publicapi client tests).
  * The client and server share nothing but the TCP connection. */
class ApiSpec extends AnyFunSuite with SparkSuite {

  private var server: ApiServer = _
  private var client: ApiClient = _
  private var dir: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    dir = Files.createTempDirectory("graft-api").toString
    Files.writeString(Paths.get(s"$dir/fruit.txt"),
      Seq("apple", "kiwi", "cherry", "kiwi is delicious")
        .mkString("", "\n", "\n"))
    server = new ApiServer(spark, dir)
    server.start()
    client = new ApiClient(server.uri)
  }

  override def afterAll(): Unit = {
    server.stop()
    super.afterAll()
  }

  private def grepSpec(concurrency: Int, resources: String = ""): String =
    s"""{"engine_name": "docker", "verifier_name": "ipfs",
       |  "job_spec_docker": {"image": "ubuntu",
       |    "entrypoint": ["grep", "kiwi", "/data/file.txt"]},
       |  "inputs": [{"engine_name": "ipfs", "name": "in",
       |    "cid": "$dir/fruit.txt", "path": "/data/file.txt"}],
       |  $resources
       |  "deal": {"concurrency": $concurrency}}""".stripMargin

  test("health and version endpoints answer") {
    val http = java.net.http.HttpClient.newHttpClient()
    def get(path: String): String = http.send(
      java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"${server.uri}$path")).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString()).body()
    assert(get("/healthz").contains("OK"))
    assert(get("/livez").contains("OK"))
    assert(get("/version").contains("gitversion"))
    assert(get("/version").contains(graft.jobs.GraftVersion.GitVersion))
    assert(get("/id").contains("spark-local"))
  }

  test("submit over the socket, poll states to Complete, fetch events") {
    val jobId = client.submit(grepSpec(2))
    assert(jobId.matches("[0-9a-f-]{36}"))
    assert(client.waitForJob(jobId), "job did not reach a terminal state")
    val states = client.states(jobId)
    assert(states.size === 2) // one per replica
    assert(states.forall(_._2 === Lifecycle.State.Complete))
    assert(states.map(_._3).distinct.size === 1) // replicas hash-agree
    val evts = client.events(jobId)
    assert(evts.head === Lifecycle.EventType.Created)
    assert(evts.count(_ == Lifecycle.EventType.Completed) === 2)
    // results written under the server's state dir
    val parquet = spark.read.parquet(s"$dir/results/$jobId/r0")
    assert(parquet.collect().map(_.getString(0)).sorted.toSeq ===
      Seq("kiwi", "kiwi is delicious"))
  }

  // every replica bids before any replica runs, so a poll can never see
  // the replicas that have bid all terminal while another has not bid yet
  test("an all-terminal /states answer always lists every replica") {
    val terminal = Set(Lifecycle.State.Complete, Lifecycle.State.Error,
      Lifecycle.State.Cancelled, Lifecycle.State.BidRejected)
    val jobId = client.submit(grepSpec(3))
    val deadline = System.currentTimeMillis() + 60000
    var last = Seq.empty[(String, String, String)]
    while ((last.isEmpty || !last.forall(s => terminal.contains(s._2))) &&
           System.currentTimeMillis() < deadline) {
      Thread.sleep(2)
      last = client.states(jobId)
    }
    assert(last.size === 3, s"all-terminal states listed $last")
    assert(last.forall(_._2 === Lifecycle.State.Complete), last)
  }

  /** Submit the jobs `submit` returns the ids of, wait for them all, and
    * give each job's Spark job intervals (start, end) in ms, found by the
    * `graft-job-<id>` tag its replicas carry. */
  private def taggedIntervals(submit: => Seq[String])
      : (Seq[String], Map[String, Seq[(Long, Long)]]) = {
    import org.apache.spark.scheduler._
    import scala.jdk.CollectionConverters._
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Set[String])]
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(e.jobId, (e.time, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags")))
          .map(_.split(",").toSet).getOrElse(Set.empty)))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ends.put(e.jobId, e.time)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val ids =
      try {
        val ids = submit
        ids.foreach(id => assert(client.waitForJob(id), s"job $id not terminal"))
        // the listener bus is asynchronous: wait until every job seen has ended
        val deadline = System.currentTimeMillis() + 10000
        while (System.currentTimeMillis() < deadline &&
               !starts.keySet.asScala.forall(ends.containsKey)) Thread.sleep(20)
        ids
      } finally sc.removeSparkListener(listener)
    ids.foreach(id => assert(client.states(id).forall(_._2 == Lifecycle.State.Complete)))
    (ids, ids.map { id =>
      id -> starts.asScala.toSeq.collect {
        case (j, (t, tags)) if tags(s"graft-job-$id") => (t, ends.get(j))
      }
    }.toMap)
  }

  private def overlaps(a: (Long, Long), b: (Long, Long)): Boolean =
    a._1 < b._2 && b._1 < a._2

  // admission by projected CPU: three default jobs (0.1 core per replica)
  // fit the node together, so they run at the same time, and the single
  // dispatcher accepts their bids in submission order
  test("jobs that fit the node together run concurrently, bids in submission order") {
    val (ids, intervals) = taggedIntervals(Seq.fill(3)(client.submit(grepSpec(3))))
    val spans = ids.map { id =>
      val iv = intervals(id)
      assert(iv.nonEmpty, s"no tagged Spark jobs for $id")
      (iv.map(_._1).min, iv.map(_._2).max)
    }
    spans.combinations(2).foreach { case Seq(a, b) =>
      assert(overlaps(a, b), s"jobs ran one after another: $spans")
    }
    val all = server.events.all
    val firstAccepted = ids.map(id => all.indexWhere(e =>
      e.jobId == id && e.eventName == Lifecycle.EventType.BidAccepted))
    assert(firstAccepted.forall(_ >= 0), firstAccepted)
    assert(firstAccepted === firstAccepted.sorted, "bids accepted out of order")
  }

  test("a job that needs every core of the node runs alone") {
    val cores = spark.sparkContext.defaultParallelism
    val whole = grepSpec(1,
      s""""resources": {"cpu": "$cores", "memory": "", "disk": "", "gpu": ""},""")
    val (ids, intervals) = taggedIntervals(Seq(client.submit(grepSpec(2)),
      client.submit(whole), client.submit(grepSpec(2))))
    val alone = intervals(ids(1))
    assert(alone.nonEmpty)
    for (other <- Seq(ids(0), ids(2)); a <- alone; b <- intervals(other))
      assert(!overlaps(a, b), s"job $other ran beside the whole-node job")
  }

  // concurrent jobs resolve and compile in their own sessions, so the temp
  // views that name their mounted volumes never meet
  test("concurrent SQL jobs mounting different files at one path read their own") {
    val files = Seq("a", "b").map { tag =>
      val p = Paths.get(s"$dir/points-$tag.csv")
      Files.writeString(p, (0 until 40).map(i => s"$i,$tag$i")
        .mkString("id,label\n", "\n", "\n"))
      p.toString
    }
    def spec(file: String) =
      s"""{"engine_name": "language", "verifier_name": "ipfs",
         |  "job_spec_language": {"language": "sql",
         |    "command": "SELECT * FROM inputs_points_csv"},
         |  "inputs": [{"engine_name": "ipfs", "name": "in",
         |    "cid": "$file", "path": "/inputs/points.csv"}],
         |  "deal": {"concurrency": 4}}""".stripMargin
    val want = files.map(f => ResultPublisher.contentId(spark.read
      .option("header", "true").option("inferSchema", "true").csv(f)))
    assert(want.distinct.size === 2)
    (1 to 3).foreach { round =>
      val ids = files.map(f => client.submit(spec(f)))
      ids.zip(want).foreach { case (id, cid) =>
        assert(client.waitForJob(id))
        val st = client.states(id)
        assert(st.size === 4 && st.forall(_._2 == Lifecycle.State.Complete), st)
        assert(st.map(_._3).toSet === Set(cid),
          s"round $round: a job published another job's input")
      }
    }
    assert(!spark.catalog.tableExists("inputs_points_csv"),
      "a job's temp view landed on the server's session")
  }

  // sun.net.httpserver.nodelay: without it each response's body waits
  // for the client's delayed ACK, a floor of about 40 ms per request
  test("/states on an idle server answers well under the delayed-ACK floor") {
    val jobId = client.submit("""{"engine_name": "noop", "verifier_name": "noop"}""")
    assert(client.waitForJob(jobId))
    val ms = (0 until 20).map { _ =>
      val t0 = System.nanoTime()
      client.states(jobId)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    assert(ms(10) < 20, s"median /states ${ms(10)} ms; all: $ms")
  }

  test("client id-prefix semantics match the reference (dash-stripped)") {
    val spec =
      """{"engine_name": "noop", "verifier_name": "noop"}"""
    val jobId = client.submit(spec)
    // prefix with dashes stripped, mixed case
    val prefix = jobId.replace("-", "").take(12).toUpperCase
    assert(client.get(prefix) === Some(jobId))
    assert(client.get("zzzzzzzz") === None)
  }

  test("bad submissions get a 400 with an error body, not a hang") {
    val ex = intercept[RuntimeException] {
      client.submit("""{"engine_name": "wasm"}""")
    }
    assert(ex.getMessage.contains("unknown engine_name"))
    val ex2 = intercept[RuntimeException] {
      client.submit("""{"engine_name": "docker"}""")
    }
    assert(ex2.getMessage.contains("docker engine without docker spec"))
  }

  // the deal's concurrency sizes the runner's replica thread pool, so it
  // is bounded at admission, not clamped
  test("out-of-range deal concurrency is a 400") {
    def submit(conc: String) = intercept[RuntimeException] {
      client.submit(s"""{"engine_name": "noop", "verifier_name": "noop",
                       |  "deal": {"concurrency": $conc}}""".stripMargin)
    }.getMessage
    Seq("0", "-1", "-18446744073709551617").foreach { c =>
      val msg = submit(c)
      assert(msg.contains("400") && msg.contains("concurrency must be >= 1"), msg)
    }
    Seq("100000", "18446744073709551617").foreach { c =>
      val msg = submit(c)
      assert(msg.contains("400") &&
        msg.contains(s"concurrency must be <= ${JobDeal.MaxConcurrency}"), msg)
    }
    // a deal built in code is held to the same bounds
    Seq(0, JobDeal.MaxConcurrency + 1).foreach { c =>
      intercept[IllegalArgumentException](JobDeal(c))
    }
  }

  // ---- submit-payload signing (reference verifySubmitRequest,
  // pkg/publicapi/server.go:411-444): unsigned, impersonated and tampered
  // submits are all 400s; the signed path is every other test in this suite.
  test("unsigned, impersonated, and tampered submits are rejected") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val http = java.net.http.HttpClient.newHttpClient()
    def post(body: String): (Int, String) = {
      val resp = http.send(java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"${server.uri}/submit"))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    val keyDir = Files.createTempDirectory("graft-keys-a")
    val id = ClientKeys.loadOrCreate(keyDir)
    val spec = """{"engine_name": "noop", "verifier_name": "noop"}"""
    val data = mapper.readTree(spec)
    val dataBytes = mapper.writeValueAsBytes(data)
    def envelope(clientId: String, sig: String, pub: String): String = {
      val n = mapper.createObjectNode()
      n.put("client_id", clientId)
      n.set[com.fasterxml.jackson.databind.JsonNode]("data", mapper.readTree(spec))
      if (sig.nonEmpty) n.put("signature", sig)
      if (pub.nonEmpty) n.put("client_public_key", pub)
      mapper.writeValueAsString(n)
    }
    // no signature at all
    val (c1, b1) = post(envelope(id.clientId, "", id.publicKeyB64))
    assert(c1 === 400 && b1.contains("signature is required"))
    // valid signature from key A, but claiming key B's client id
    val other = ClientKeys.loadOrCreate(Files.createTempDirectory("graft-keys-b"))
    val (c2, b2) = post(envelope(other.clientId,
      ClientKeys.sign(id, dataBytes), id.publicKeyB64))
    assert(c2 === 400 && b2.contains("does not match client ID"))
    // correct key/id binding, but the signed bytes differ from the payload
    val tampered = mapper.writeValueAsBytes(
      mapper.readTree("""{"engine_name": "docker", "verifier_name": "noop"}"""))
    val (c3, b3) = post(envelope(id.clientId,
      ClientKeys.sign(id, tampered), id.publicKeyB64))
    assert(c3 === 400 && b3.contains("signature is invalid"))
    // the well-signed version of the same envelope is accepted
    val (c4, b4) = post(envelope(id.clientId,
      ClientKeys.sign(id, dataBytes), id.publicKeyB64))
    assert(c4 === 200 && b4.contains("\"job\""), b4)
  }

  test("client identity is stable across reloads and binds to its id") {
    val keyDir = Files.createTempDirectory("graft-keys-c")
    val a = ClientKeys.loadOrCreate(keyDir)
    val b = ClientKeys.loadOrCreate(keyDir) // reload from PEM
    assert(a.clientId === b.clientId)
    assert(a.clientId.matches("[0-9a-f]{64}"))
    assert(ClientKeys.publicKeyMatchesId(a.publicKeyB64, a.clientId))
    val msg = "payload".getBytes("UTF-8")
    assert(ClientKeys.verify(msg, ClientKeys.sign(b, msg), a.publicKeyB64))
    assert(!ClientKeys.verify("other".getBytes("UTF-8"),
      ClientKeys.sign(b, msg), a.publicKeyB64))
  }

  test("server version envelope reaches the client") {
    val v = client.version()
    assert(v.get("gitversion").asText() === GraftVersion.GitVersion)
    assert(v.get("major").asText() === GraftVersion.Major)
  }

  test("unresolvable inputs reach a terminal Error state, not a silent hang") {
    val spec =
      """{"engine_name": "docker", "verifier_name": "ipfs",
        |  "job_spec_docker": {"image": "ubuntu",
        |    "entrypoint": ["cat", "/data/file.txt"]},
        |  "inputs": [{"engine_name": "ipfs", "name": "in",
        |    "cid": "/no/such/fixture-path", "path": "/data/file.txt"}]}"""
        .stripMargin
    val jobId = client.submit(spec)
    assert(client.waitForJob(jobId, timeoutMs = 20000),
      "job with a bad input never reached a terminal state")
    val evts = client.events(jobId)
    assert(evts.contains(Lifecycle.EventType.Error))
  }

  test("results download over the socket; traversal rejected") {
    val jobId = client.submit(grepSpec(1))
    assert(client.waitForJob(jobId))
    val out = Files.createTempDirectory("graft-fetch").toString
    val files = client.getResults(jobId, out)
    assert(files.nonEmpty, "no result files downloaded")
    val parquet = spark.read.parquet(s"$out/$jobId/r0")
    assert(parquet.collect().map(_.getString(0)).sorted.toSeq ===
      Seq("kiwi", "kiwi is delicious"))
    // traversal attempts are 400s, never file reads outside the replica
    val http = java.net.http.HttpClient.newHttpClient()
    for (bad <- Seq(
        s"job_id=$jobId&replica=r0&path=..%2F..%2F..%2Fevents.jsonl",
        s"job_id=..&replica=r0&path=x",
        s"job_id=$jobId&replica=..%2F..&path=x")) {
      val resp = http.send(java.net.http.HttpRequest.newBuilder()
        .uri(java.net.URI.create(s"${server.uri}/results/file?$bad"))
        .GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() === 400, s"$bad -> ${resp.statusCode()}")
    }
    // the LISTING endpoint applies the same gate — "../.." must not walk
    // (and disclose) trees outside the results dir
    val listResp = http.send(java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"${server.uri}/results"))
      .header("Content-Type", "application/json")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
        """{"job_id": "../.."}""")).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    assert(listResp.statusCode() === 400, listResp.body())
  }

  test("admission-rejected jobs reach a terminal state promptly") {
    // cpu beyond the runner ceiling → BidRejected; waitForJob must treat
    // that as terminal instead of polling out the whole timeout
    val jobId = client.submit(
      """{"engine_name": "noop", "verifier_name": "noop",
        |  "resources": {"cpu": "1000", "memory": "", "disk": "", "gpu": ""}}"""
        .stripMargin)
    val t0 = System.currentTimeMillis()
    assert(client.waitForJob(jobId, timeoutMs = 20000),
      "rejected job never reached a terminal state")
    assert(System.currentTimeMillis() - t0 < 15000, "terminality was slow")
    assert(client.states(jobId).map(_._2)
      .contains(Lifecycle.State.BidRejected))
  }

  test("list over the socket sees all submitted jobs") {
    val before = client.list().size
    client.submit("""{"engine_name": "noop", "verifier_name": "noop"}""")
    assert(client.list().size === before + 1)
  }
}
