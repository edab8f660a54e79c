package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** CLI session spec: apply → list → describe → get across invocations
  * sharing only the on-disk state dir (the reference's
  * submit-then-read-path session, SURVEY §3.1 step 9 / §3.3). */
class CliSpec extends AnyFunSuite with SparkSuite {

  test("apply/list/describe/get round-trip through the persisted log") {
    val dir = Files.createTempDirectory("graft-cli").toString
    val state = s"$dir/state"
    Files.writeString(Paths.get(s"$dir/fruit.txt"),
      Seq("apple", "kiwi", "cherry", "kiwi is delicious")
        .mkString("", "\n", "\n"))
    val spec =
      s"""{"apiVersion": "v1alpha1", "engine_name": "docker",
         |  "verifier_name": "ipfs",
         |  "job_spec_docker": {"image": "ubuntu",
         |    "entrypoint": ["grep", "kiwi", "/data/file.txt"]},
         |  "inputs": [{"engine_name": "ipfs", "name": "in",
         |    "cid": "$dir/fruit.txt", "path": "/data/file.txt"}],
         |  "deal": {"concurrency": 2}}""".stripMargin
    Files.writeString(Paths.get(s"$dir/job.json"), spec)

    assert(Cli.run(Seq("apply", "-f", s"$dir/job.json",
      "--state-dir", state), spark) === 0)
    // separate invocation: state reloaded from disk
    assert(Cli.run(Seq("list", "--state-dir", state), spark) === 0)
    val log = Cli.loadEvents(state)
    val jobId = log.all.head.jobId
    assert(log.currentJobState(jobId).get.state === jobs.Lifecycle.State.Complete)
    assert(Cli.run(Seq("describe", jobId.take(8), "--state-dir", state),
      spark) === 0)
    // describe --json is machine-parseable with per-node states
    val (dc, dj) = captureOut(Cli.run(Seq("describe", jobId.take(8),
      "--json", "--state-dir", state), spark))
    assert(dc === 0)
    val dn = new com.fasterxml.jackson.databind.ObjectMapper().readTree(dj)
    assert(dn.get("id").asText() === jobId)
    assert(dn.get("state").asText() === "Complete")
    assert(dn.get("nodes").size() === 2) // concurrency=2 replicas
    assert(Cli.run(Seq("get", jobId.take(8), s"$dir/fetched",
      "--state-dir", state), spark) === 0)
    val fetched = spark.read.parquet(s"$dir/fetched/$jobId/r0")
    assert(fetched.collect().map(_.getString(0)).sorted.toSeq ===
      Seq("kiwi", "kiwi is delicious"))
    // unknown id and bad usage fail with nonzero codes
    assert(Cli.run(Seq("describe", "zzzzzz", "--state-dir", state), spark) === 1)
    assert(Cli.run(Seq("bogus"), spark) === 2)
  }

  private def captureOut(body: => Int): (Int, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val code = Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(body)
    (code, buf.toString("UTF-8"))
  }

  // `run docker` — the reference's primary entry point, from argv to
  // fetched results (docker_run.go:405-516; scenario B3 from the CLI)
  test("run docker: grep scenario end-to-end from argv") {
    val dir = Files.createTempDirectory("graft-rund").toString
    val state = s"$dir/state"
    Files.writeString(Paths.get(s"$dir/fruit.txt"),
      Seq("apple", "kiwi", "cherry", "kiwi is delicious")
        .mkString("", "\n", "\n"))
    val (code, out) = captureOut(Cli.run(Seq(
      "run", "docker", "ubuntu",
      "-i", s"$dir/fruit.txt:/data/file.txt",
      "--concurrency", "2",
      "--state-dir", state,
      "--", "grep", "kiwi", "/data/file.txt"), spark))
    assert(code === 0)
    val jobId = out.linesIterator.next().trim
    assert(jobId.matches("[0-9a-f-]{36}")) // prints job id first
    assert(out.contains("verified=true") && out.contains("replicas=2"))
    val got = spark.read.parquet(s"$state/results/$jobId/r0")
      .collect().map(_.getString(0)).sorted
    assert(got.toSeq === Seq("kiwi", "kiwi is delicious"))
  }

  // B5 awk scenario from argv: `--` protects entrypoint flags like -F,
  test("run docker: awk theta scenario from argv with -- separator") {
    val dir = Files.createTempDirectory("graft-runa").toString
    val rows = (0 until 10).map { k =>
      val (lat, lon) = if (k < 4) (38.71 + k * 0.001, -9.14) else (45.0, -3.0)
      f"2021-01-01 00:$k%02d:00,G,$lat%.4f,$lon%.4f,${15.0 + k}%.1f,${k * 1.1}%.2f"
    }
    Files.writeString(Paths.get(s"$dir/sensor.csv"),
      ("sensor_time,sensor_group,lat,long,temperature,distance" +: rows)
        .mkString("", "\n", "\n"))
    val (code, out) = captureOut(Cli.run(Seq(
      "run", "docker", "ubuntu",
      "-i", s"$dir/sensor.csv:/data/file.csv",
      "--state-dir", s"$dir/state",
      "--", "awk", "-F,",
      "{x=38.7077507-$3; y=-9.1365919-$4; if(x^2+y^2<0.3^2) print $0}",
      "/data/file.csv"), spark))
    assert(code === 0)
    val jobId = out.linesIterator.next().trim
    assert(spark.read.parquet(s"$dir/state/results/$jobId/r0").count() === 4)
  }

  test("run docker: pre-submit syntax check rejects broken entrypoints") {
    val dir = Files.createTempDirectory("graft-runbad").toString
    assert(Cli.run(Seq("run", "docker", "ubuntu",
      "--state-dir", s"$dir/state",
      "--", "sh", "-c", "echo 'unterminated"), spark) === 1)
    // and invalid output volumes are rejected at construction
    assert(Cli.run(Seq("run", "docker", "ubuntu",
      "-o", "JUST_A_NAME", "--state-dir", s"$dir/state",
      "--", "echo", "hi"), spark) === 1)
  }

  test("bad numeric flags and bad inputs exit cleanly, not via stack trace") {
    val dir = Files.createTempDirectory("graft-badflag").toString
    val state = s"$dir/state"
    // trailing value-less --concurrency parses as "true" → usage error 2
    assert(Cli.run(Seq("run", "docker", "ubuntu", "--state-dir", state,
      "--concurrency"), spark) === 2)
    assert(Cli.run(Seq("list", "-n", "abc", "--state-dir", state), spark) === 2)
    // unresolvable input volume: exit 1 with the job persisted as Error
    val (code, out) = captureOut(Cli.run(Seq("run", "docker", "ubuntu",
      "-i", "/no/such/file:/d", "--state-dir", state,
      "--", "cat", "/d"), spark))
    assert(code === 1)
    val jobId = out.linesIterator.next().trim
    val log = Cli.loadEvents(state)
    assert(log.currentJobState(jobId).get.state === jobs.Lifecycle.State.Error)
  }

  // `run python` — expression mode with the determinism gate
  test("run python: SQL over a mounted parquet table; rand() rejected") {
    val dir = Files.createTempDirectory("graft-runp").toString
    val state = s"$dir/state"
    val (code, out) = captureOut(Cli.run(Seq(
      "run", "python",
      "-c", "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1",
      "-i", "/root/testdata/sf0.001/lineitem.parquet:/lineitem",
      "--state-dir", state), spark))
    assert(code === 0)
    val jobId = out.linesIterator.next().trim
    assert(spark.read.parquet(s"$state/results/$jobId/r0").count() === 3)
    // nondeterministic expression fails the gate at run, exit nonzero
    assert(Cli.run(Seq("run", "python", "-c", "SELECT rand() AS r FROM lineitem",
      "-i", "/root/testdata/sf0.001/lineitem.parquet:/lineitem",
      "--state-dir", state), spark) === 1)
    // determinism=false rejected outright (run_python.go:89-92)
    assert(Cli.run(Seq("run", "python", "-c", "SELECT 1",
      "--deterministic=false", "--state-dir", state), spark) === 1)
  }

  // `serve` — the requester-node daemon from the CLI (serve.go analog)
  test("serve: submit through the CLI-started HTTP API") {
    val dir = Files.createTempDirectory("graft-srv").toString
    val sock = new java.net.ServerSocket(0)
    val port = sock.getLocalPort
    sock.close()
    val t = new Thread(() => Cli.run(Seq("serve",
      "--api-port", port.toString, "--serve-ms", "20000",
      "--state-dir", dir), spark): Unit)
    t.setDaemon(true)
    t.start()
    val client = new jobs.ApiClient(s"http://127.0.0.1:$port")
    // poll until the socket answers
    var up = false
    val deadline = System.currentTimeMillis() + 10000
    while (!up && System.currentTimeMillis() < deadline) {
      try { client.list(); up = true }
      catch { case _: Exception => Thread.sleep(100) }
    }
    assert(up, "serve did not come up")
    val jobId = client.submit(
      """{"engine_name": "noop", "verifier_name": "noop"}""")
    assert(client.waitForJob(jobId))
    assert(client.list().contains(jobId))

    // `get --api`: fetch results over the daemon socket (get.go semantics)
    Files.writeString(java.nio.file.Paths.get(s"$dir/fruit.txt"),
      "apple\nkiwi\ncherry\n")
    val realJob = client.submit(
      s"""{"engine_name": "docker", "verifier_name": "ipfs",
         |  "job_spec_docker": {"image": "ubuntu",
         |    "entrypoint": ["grep", "kiwi", "/data/file.txt"]},
         |  "inputs": [{"engine_name": "ipfs", "name": "in",
         |    "cid": "$dir/fruit.txt", "path": "/data/file.txt"}]}"""
        .stripMargin)
    assert(client.waitForJob(realJob))
    val (gc, gout) = captureOut(Cli.run(Seq("get", realJob.take(8),
      s"$dir/fetched", "--api", s"http://127.0.0.1:$port"), spark))
    assert(gc === 0 && gout.contains("fetched"), gout)
    assert(spark.read.parquet(s"$dir/fetched/$realJob/r0")
      .collect().map(_.getString(0)).toSeq === Seq("kiwi"))

    // `describe --api`: composed from the daemon's /states + /events
    val (dc2, dout2) = captureOut(Cli.run(Seq("describe", realJob.take(8),
      "--api", s"http://127.0.0.1:$port"), spark))
    assert(dc2 === 0 && dout2.contains(s"job: $realJob") &&
      dout2.contains("Complete") && dout2.contains("event Created"), dout2)

    // `version` against the live daemon (version.go Run: client + server
    // lines; --client skips the round-trip; --output json parses)
    val (vc, vout) = captureOut(Cli.run(Seq("version",
      "--api", s"http://127.0.0.1:$port"), spark))
    assert(vc === 0)
    assert(vout.contains(s"Client Version: ${jobs.GraftVersion.GitVersion}"))
    assert(vout.contains(s"Server Version: ${jobs.GraftVersion.GitVersion}"))
    val (vc2, vout2) = captureOut(Cli.run(Seq("version", "--client"), spark))
    assert(vc2 === 0 && vout2.contains("Client Version") &&
      !vout2.contains("Server Version"))
    val (vc3, vj) = captureOut(Cli.run(Seq("version", "--output", "json",
      "--api", s"http://127.0.0.1:$port"), spark))
    assert(vc3 === 0)
    val vn = new com.fasterxml.jackson.databind.ObjectMapper().readTree(vj)
    assert(vn.get("clientVersion").get("gitversion").asText() ===
      jobs.GraftVersion.GitVersion)
    assert(vn.get("serverVersion").get("gitversion").asText() ===
      jobs.GraftVersion.GitVersion)
    // bad --output is a usage error, like the reference's validation
    assert(Cli.run(Seq("version", "--output", "yamlish"), spark) === 1)
  }

  // list flags (list.go:100-211): --id-filter, --sort-by, --json, --wide
  test("list flags: id-filter, sort-by validation, json and wide output") {
    val dir = Files.createTempDirectory("graft-lsf").toString
    val state = s"$dir/state"
    val ids = (1 to 2).map { _ =>
      val (code, out) = captureOut(Cli.run(Seq("run", "python",
        "-c", "SELECT 1 AS one", "--state-dir", state), spark))
      assert(code === 0)
      out.linesIterator.next().trim
    }
    // --id-filter by full id and by 8-char short id
    val (c1, full) = captureOut(
      Cli.run(Seq("list", "--id-filter", ids.head, "--wide",
        "--state-dir", state), spark))
    assert(c1 === 0 && full.contains(ids.head) && !full.contains(ids(1)))
    val (c2, short) = captureOut(
      Cli.run(Seq("list", "--id-filter", ids(1).take(8),
        "--state-dir", state), spark))
    assert(c2 === 0 && short.contains(ids(1).take(8)))
    // --json emits a parseable array with state
    val (c3, js) = captureOut(
      Cli.run(Seq("list", "--json", "--state-dir", state), spark))
    assert(c3 === 0)
    val arr = new com.fasterxml.jackson.databind.ObjectMapper().readTree(js)
    assert(arr.isArray && arr.size() === 2)
    assert(arr.get(0).get("state").asText() === "Complete")
    // --sort-by validation mirrors the reference's error
    assert(Cli.run(Seq("list", "--sort-by", "bogus",
      "--state-dir", state), spark) === 1)
    // --sort-by id ascending; --reverse flips
    val (_, byId) = captureOut(Cli.run(Seq("list", "--sort-by", "id", "--wide",
      "--state-dir", state), spark))
    val printed = byId.linesIterator.map(_.split("\\s+").head).toSeq
    assert(printed === ids.sorted)
  }
}
