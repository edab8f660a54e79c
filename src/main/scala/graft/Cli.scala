package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import graft.jobs._

/** CLI front-end — the reference's user surface over the Spark-native
  * control plane:
  *
  *   - `run docker IMAGE [--] ENTRYPOINT…` — the reference's PRIMARY entry
  *     point (cmd/bacalhau/docker_run.go:405-516): builds a JobSpec from
  *     argv via [[graft.jobs.JobSpecBuilder]] and submits it
  *   - `run python -c EXPR` — expression-mode jobs with the determinism
  *     gate (cmd/bacalhau/run_python.go:83-265)
  *   - `apply -f spec.{json,yaml}` (cmd/bacalhau/apply.go)
  *   - `list` with `--id-filter/--sort-by/--reverse/--json/--wide/-n`
  *     (cmd/bacalhau/list.go:100-211)
  *   - `describe <idPrefix>`, `get <idPrefix> <outDir>`
  *
  * State persists across invocations in a JSONL event log + job catalog
  * under `--state-dir` (default `/tmp/graft-state`), replacing the
  * reference's requester-node datastore (pkg/localdb/inmemory) with an
  * append-only file — same event-sourced semantics, state is always
  * re-derived by folding the log.
  */
object Cli {

  private val mapper = new ObjectMapper()

  /** Flags that never consume a following value. */
  private val boolFlags = Set("json", "wide", "reverse", "deterministic",
    "skip-syntax-checking", "hide-header", "client", "no-compute")

  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.envCores, logLevel = "ERROR")
    val code = run(args.toSeq, spark)
    spark.stop()
    if (code != 0) sys.exit(code)
  }

  /** Testable entry: returns an exit code instead of exiting. */
  def run(args: Seq[String], spark: SparkSession): Int = {
    val (flags, pos) = parseFlags(args)
    val stateDir = flag1(flags, "state-dir").getOrElse("/tmp/graft-state")
    Files.createDirectories(Paths.get(stateDir))
    try dispatch(spark, flags, pos, stateDir)
    catch { case FlagError(msg) => System.err.println(s"error: $msg"); 2 }
  }

  private def dispatch(spark: SparkSession, flags: Map[String, Seq[String]],
                       pos: List[String], stateDir: String): Int = {
    pos match {
      case "run" :: "docker" :: image :: entrypoint =>
        runDocker(spark, flags, image, entrypoint, stateDir)
      case "run" :: "python" :: Nil =>
        runExpression(spark, flags, stateDir)
      case "apply" :: Nil if flags.contains("f") =>
        apply(spark, flags("f").head, stateDir)
      case "serve" :: Nil => serve(spark, flags, stateDir)
      case "version" :: Nil => version(flags)
      case "list" :: Nil => list(stateDir, flags)
      case "describe" :: id :: Nil =>
        flag1(flags, "api") match {
          case Some(api) => describeRemote(api, id)
          case None      => describe(stateDir, id, flags.contains("json"))
        }
      case "get" :: id :: out :: Nil =>
        flag1(flags, "api") match {
          case Some(api) => getRemote(api, id, out)
          case None      => get(stateDir, id, out)
        }
      case _ =>
        System.err.println(
          "usage: run docker [-i cid[:path]] [-u url:path] [-o name:path] " +
            "[--env K=V] [--concurrency N] IMAGE [--] ENTRYPOINT… | " +
            "run python -c EXPR [-i cid:path] | apply -f spec.json | " +
            "list [-n N] [--id-filter ID] [--sort-by id|created_at] " +
            "[--reverse] [--json] [--wide] | describe <id> | get <id> <outDir>" +
            " | version [--client] [--api URI] [--output json]")
        2
    }
  }

  /** argv → (repeatable flags, positionals). `--` ends flag parsing (so
    * entrypoints may carry their own dashes); `--flag=v` and `--flag v`
    * both work; boolean flags never consume the next token. */
  private[graft] def parseFlags(args: Seq[String])
      : (Map[String, Seq[String]], List[String]) = {
    var flags = Map.empty[String, Seq[String]].withDefaultValue(Nil)
    var pos = List.empty[String]
    var i = 0
    var raw = false
    def add(k: String, v: String): Unit = flags += (k -> (flags(k) :+ v))
    while (i < args.length) {
      val a = args(i)
      if (raw || !a.startsWith("-") || a == "-") { pos :+= a; i += 1 }
      else if (a == "--") { raw = true; i += 1 }
      else {
        val name0 = if (a.startsWith("--")) a.drop(2) else a.drop(1)
        val eq = name0.indexOf('=')
        if (eq >= 0) { add(name0.take(eq), name0.drop(eq + 1)); i += 1 }
        else if (boolFlags.contains(name0)) { add(name0, "true"); i += 1 }
        else if (i + 1 < args.length) { add(name0, args(i + 1)); i += 2 }
        else { add(name0, "true"); i += 1 } // trailing lone flag = boolean
      }
    }
    (flags, pos)
  }

  private def flag1(flags: Map[String, Seq[String]], k: String): Option[String] =
    flags.get(k).flatMap(_.lastOption)

  /** Numeric flag parse as a usage error, not an uncaught
    * NumberFormatException (a trailing value-less flag parses as "true"). */
  private final case class FlagError(msg: String) extends Exception(msg)
  private def intFlag(flags: Map[String, Seq[String]], k: String,
                      default: Int): Int =
    flag1(flags, k) match {
      case None => default
      case Some(v) => v.toIntOption.getOrElse(
        throw FlagError(s"--$k needs an integer, got '$v'"))
    }

  // ---- persistence: JSONL event log + job catalog -------------------

  private def eventToJson(e: JobEvent): String =
    mapper.writeValueAsString(mapper.createObjectNode()
      .put("jobId", e.jobId).put("clientId", e.clientId)
      .put("sourceNodeId", e.sourceNodeId).put("targetNodeId", e.targetNodeId)
      .put("eventName", e.eventName).put("status", e.status)
      .put("resultsId", e.resultsId).put("eventTimeUs", e.eventTimeUs))

  private def appendLines(path: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  /** Rebuild the event log by replaying the JSONL file (state is derived,
    * never stored — reference controller semantics). */
  def loadEvents(stateDir: String): EventLog = {
    val log = new EventLog
    val p = Paths.get(s"$stateDir/events.jsonl")
    if (Files.exists(p)) {
      Files.readAllLines(p).asScala.filter(_.nonEmpty).foreach { line =>
        val n = mapper.readTree(line)
        log.append(JobEvent(
          jobId = n.get("jobId").asText(),
          clientId = n.get("clientId").asText(),
          sourceNodeId = n.get("sourceNodeId").asText(),
          targetNodeId = n.get("targetNodeId").asText(),
          eventName = n.get("eventName").asText(),
          status = n.get("status").asText(),
          resultsId = n.get("resultsId").asText(),
          eventTimeUs = n.get("eventTimeUs").asLong()))
      }
    }
    log
  }

  private final case class CatalogRow(id: String, engine: String,
                                      createdAtMs: Long)

  private def loadJobs(stateDir: String): Seq[CatalogRow] = {
    val p = Paths.get(s"$stateDir/jobs.jsonl")
    if (!Files.exists(p)) Nil
    else Files.readAllLines(p).asScala.filter(_.nonEmpty).map { line =>
      val n = mapper.readTree(line)
      CatalogRow(n.get("id").asText(), n.get("engine").asText(),
        n.get("createdAtMs").asLong())
    }.toSeq
  }

  private def resolveJobId(stateDir: String, idPrefix: String): Option[String] = {
    val norm = idPrefix.replace("-", "").toLowerCase
    loadJobs(stateDir).map(_.id)
      .find(_.replace("-", "").toLowerCase.startsWith(norm))
  }

  // ---- submit paths -------------------------------------------------

  /** Shared submit→run→persist tail for every submit verb (the §3.1
    * steps 3-9 trace). Prints the job id first — reference CLI contract
    * (docker_run.go:484: `cmd.Printf("%s\n", job.ID)`). */
  private def execute(spark: SparkSession, spec: JobSpec, deal: JobDeal,
                      stateDir: String): Int = {
    val runner = new Runner(spark)
    runner.submit(spec, deal) match {
      case Left(err) => System.err.println(s"submit: $err"); 1
      case Right(job) =>
        println(job.id)
        val outDir = s"$stateDir/results"
        // resolve failures (missing path, disabled URL) take the same
        // clean error path as run failures — and still persist the job +
        // an Error event so `list`/`describe` see the printed id
        val code = (try Right(spec.inputs.map(v =>
            v.path -> SourceResolver.resolve(spark, v)).toMap)
          catch { case e: Exception =>
            runner.events.append(JobEvent(jobId = job.id,
              sourceNodeId = "spark-local", targetNodeId = "spark-local",
              eventName = Lifecycle.EventType.Error,
              status = s"input resolve failed: ${e.getMessage}"))
            Left(e.getMessage)
          }).flatMap(inputs => runner.run(job, inputs, outDir)) match {
          case Right(res) =>
            println(s"${job.id} verified=${res.verified} " +
              s"replicas=${res.cids.size} cid=${res.cids.head.take(16)}")
            0
          case Left(err) =>
            System.err.println(s"run: $err"); 1
        }
        appendLines(s"$stateDir/jobs.jsonl", Seq(
          mapper.writeValueAsString(mapper.createObjectNode()
            .put("id", job.id).put("engine", spec.engine)
            .put("createdAtMs", job.createdAt.toEpochMilli))))
        appendLines(s"$stateDir/events.jsonl",
          runner.events.all.map(eventToJson))
        code
    }
  }

  /** `run docker` (reference docker_run.go:405-516 → job.go:18-142). */
  private def runDocker(spark: SparkSession, flags: Map[String, Seq[String]],
                        image: String, entrypoint: List[String],
                        stateDir: String): Int =
    JobSpecBuilder.constructDockerJob(
      image = image,
      entrypoint = entrypoint,
      cpu = flag1(flags, "cpu").getOrElse(""),
      memory = flag1(flags, "memory").getOrElse(""),
      gpu = flag1(flags, "gpu").getOrElse(""),
      inputUrls = flags("u") ++ flags("input-urls"),
      inputVolumes = flags("i") ++ flags("v") ++ flags("input-volumes"),
      outputVolumes = flags("o") ++ flags("output-volumes"),
      env = flags("env"),
      concurrency = intFlag(flags, "concurrency", 1),
      annotations = flags("l") ++ flags("labels"),
      workingDir = flag1(flags, "w")
        .orElse(flag1(flags, "workdir")).getOrElse(""),
      verifier = flag1(flags, "verifier").getOrElse("hash"),
      skipSyntaxCheck = flags.contains("skip-syntax-checking")) match {
      case Left(err) => System.err.println(s"run docker: $err"); 1
      case Right(built) =>
        built.warnings.foreach(w => System.err.println(s"warning: $w"))
        execute(spark, built.spec, built.deal, stateDir)
    }

  /** `run python` — expression-mode submit (reference run_python.go:83-265;
    * deterministic=false is rejected exactly like the reference). */
  private def runExpression(spark: SparkSession,
                            flags: Map[String, Seq[String]],
                            stateDir: String): Int = {
    val deterministic =
      flag1(flags, "deterministic").forall(_.toBoolean)
    if (!deterministic) {
      System.err.println("run python: determinism=false not supported " +
        "(expression jobs run through the determinism gate)")
      return 1
    }
    flag1(flags, "c").orElse(flag1(flags, "command")) match {
      case None => System.err.println("run python: must specify -c COMMAND"); 1
      case Some(cmd) =>
        JobSpecBuilder.constructLanguageJob(
          command = cmd,
          deterministic = deterministic,
          inputVolumes = flags("i") ++ flags("v"),
          outputVolumes = flags("o"),
          concurrency = intFlag(flags, "concurrency", 1),
          verifier = flag1(flags, "verifier").getOrElse("hash")) match {
          case Left(err) => System.err.println(s"run python: $err"); 1
          case Right(built) => execute(spark, built.spec, built.deal, stateDir)
        }
    }
  }

  /** `serve` — start the HTTP control-plane API (reference:
    * cmd/bacalhau/serve.go; the requester-node daemon). Blocks until
    * interrupted; `--serve-ms N` exits after N ms (test hook). */
  private def serve(spark: SparkSession, flags: Map[String, Seq[String]],
                    stateDir: String): Int = {
    val host = flag1(flags, "host").getOrElse("127.0.0.1")
    val port =
      if (flags.contains("api-port")) intFlag(flags, "api-port", 0)
      else intFlag(flags, "port", 0)
    // validate BEFORE binding the port — a FlagError after start() would
    // leak the listener and worker threads
    val serveMs = flag1(flags, "serve-ms").map(ms =>
      ms.toLongOption.getOrElse(
        throw FlagError(s"--serve-ms needs an integer, got '$ms'")))
    // --node-slots N: bidding slots beyond each deal's concurrency get
    // cancelled, the devstack multi-node shape (concurrency_test.go)
    // --cluster-dir PATH [--node-id NAME]: join a multi-PROCESS devstack —
    // N serve processes sharing the dir bid/accept/execute over the file
    // bus (jobs.Devstack; reference pkg/devstack/devstack.go)
    // --stale-ms N: requester marks accepted replicas with no progress
    // for N ms as failed and re-bids a waiting node (0 = off)
    // --heartbeat-ms N: executing replicas beacon liveness every N ms so
    // --stale-ms measures process death, not event silence (0 = off)
    // --requester-stale-ms N: requester-role failover — the holder
    // lease-beacons every N/4 ms; peers elect a new requester for a job
    // whose holder has been silent N ms (0 = creator-for-life)
    // --no-compute: requester-only node — submits/decides/elects, never
    // bids or executes (the reference's requester/compute split)
    val node = flag1(flags, "cluster-dir").map { cd =>
      new graft.jobs.DevstackNode(spark,
        flag1(flags, "node-id").getOrElse(
          s"node-${java.util.UUID.randomUUID().toString.take(8)}"), cd,
        staleMs = intFlag(flags, "stale-ms", 0).toLong,
        heartbeatMs = intFlag(flags, "heartbeat-ms", 0).toLong,
        requesterStaleMs = intFlag(flags, "requester-stale-ms", 0).toLong,
        computeDisabled = flags.contains("no-compute"))
    }
    val srv = new ApiServer(spark, stateDir, host, port,
      nodeSlots = intFlag(flags, "node-slots", 0), cluster = node)
    node.foreach(_.start())
    srv.start()
    println(s"listening on ${srv.uri}")
    serveMs match {
      case Some(ms) => Thread.sleep(ms); srv.stop(); node.foreach(_.stop())
      case None     => Thread.currentThread().join()
    }
    0
  }

  /** `version` — client (+ optionally server) version envelope (reference
    * cmd/bacalhau/version.go: `--client` skips the server round-trip;
    * default output is the two `X Version:` lines; `--output json` prints
    * the Versions struct). The server half queries `/version` on `--api`. */
  private def version(flags: Map[String, Seq[String]]): Int = {
    val clientOnly = flags.contains("client") || !flags.contains("api")
    val client = GraftVersion.node(mapper)
    val server: Option[com.fasterxml.jackson.databind.JsonNode] =
      if (clientOnly) None
      else {
        try Some(new ApiClient(flag1(flags, "api").get).version())
        catch { case e: Exception =>
          System.err.println(s"version: could not get server version: " +
            s"${e.getMessage}")
          return 1
        }
      }
    flag1(flags, "output") match {
      case Some("json") =>
        val root = mapper.createObjectNode()
        root.set[com.fasterxml.jackson.databind.JsonNode]("clientVersion", client)
        server.foreach(
          root.set[com.fasterxml.jackson.databind.JsonNode]("serverVersion", _))
        println(mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root))
      case Some(other) =>
        System.err.println(s"version: --output must be 'json', got '$other'")
        return 1
      case None =>
        println(s"Client Version: ${GraftVersion.GitVersion}")
        server.foreach(s =>
          println(s"Server Version: ${s.get("gitversion").asText()}"))
    }
    0
  }

  private def apply(spark: SparkSession, specFile: String,
                    stateDir: String): Int =
    JobSpecLoader.fromFile(specFile) match {
      case Left(err) => System.err.println(s"apply: $err"); 1
      case Right((spec, deal)) => execute(spark, spec, deal, stateDir)
    }

  // ---- read path ----------------------------------------------------

  /** `list` (reference cmd/bacalhau/list.go:100-211): --id-filter matches
    * the full or 8-char short id; --sort-by id|created_at; --reverse flips
    * to oldest-first (default newest-first); --json and --wide outputs. */
  private def list(stateDir: String, flags: Map[String, Seq[String]]): Int = {
    val n = if (flags.contains("n")) intFlag(flags, "n", 10)
            else intFlag(flags, "number", 10)
    val sortBy = flag1(flags, "sort-by").getOrElse("created_at")
    if (sortBy != "id" && sortBy != "created_at") {
      System.err.println("""list: --sort-by must be one of "id", or "created_at"""")
      return 1
    }
    val log = loadEvents(stateDir)
    val all = loadJobs(stateDir)
    val filtered = flag1(flags, "id-filter") match {
      case Some(f) => all.filter(r => r.id == f || r.id.take(8) == f)
      case None    => all
    }
    val sorted = sortBy match {
      case "id"         => filtered.sortBy(_.id)
      case "created_at" => filtered.sortBy(-_.createdAtMs)
    }
    val rows = (if (flags.contains("reverse")) sorted.reverse else sorted)
      .take(n)
    // ONE fold over the event log for every printed row (per-row
    // currentJobState would refold the whole log each call)
    val allStates = log.states.values.toSeq
    val summarized = EventLog.summarize(allStates)
    def stateOf(id: String): String =
      summarized.get(id).map(_.state).getOrElse("Unknown")
    if (flags.contains("json")) {
      val arr = mapper.createArrayNode()
      rows.foreach { r =>
        arr.add(mapper.createObjectNode()
          .put("id", r.id).put("engine", r.engine)
          .put("createdAtMs", r.createdAtMs).put("state", stateOf(r.id)))
      }
      println(mapper.writerWithDefaultPrettyPrinter().writeValueAsString(arr))
    } else {
      val wide = flags.contains("wide")
      rows.foreach { r =>
        val id = if (wide) r.id else r.id.take(8)
        val base = s"$id  ${r.engine}  ${stateOf(r.id)}  " +
          s"${java.time.Instant.ofEpochMilli(r.createdAtMs)}"
        val extra = if (wide) {
          val res = allStates
            .filter(s => s.jobId == r.id && s.resultsId.nonEmpty)
            .map(_.resultsId.take(16)).sorted.headOption.getOrElse("")
          s"  $res"
        } else ""
        println(base + extra)
      }
    }
    0
  }

  private def describe(stateDir: String, idPrefix: String,
                       asJson: Boolean = false): Int =
    resolveJobId(stateDir, idPrefix) match {
      case None => System.err.println(s"describe: no job $idPrefix"); 1
      case Some(id) if asJson =>
        val log = loadEvents(stateDir)
        val root = mapper.createObjectNode()
        root.put("id", id)
        root.put("state",
          log.currentJobState(id).map(_.state).getOrElse("Unknown"))
        val nodes = mapper.createArrayNode()
        log.states.values.filter(_.jobId == id).toSeq.sortBy(_.nodeId)
          .foreach(s => nodes.add(mapper.createObjectNode()
            .put("node_id", s.nodeId).put("state", s.state)
            .put("results_id", s.resultsId)))
        root.set[com.fasterxml.jackson.databind.JsonNode]("nodes", nodes)
        val evts = mapper.createArrayNode()
        log.forJob(id).foreach(e => evts.add(mapper.createObjectNode()
          .put("event_name", e.eventName).put("status", e.status)
          .put("event_time_us", e.eventTimeUs)))
        root.set[com.fasterxml.jackson.databind.JsonNode]("events", evts)
        println(mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root))
        0
      case Some(id) =>
        val log = loadEvents(stateDir)
        println(s"job: $id")
        println(s"state: ${log.currentJobState(id).map(_.state).getOrElse("Unknown")}")
        log.states.values.filter(_.jobId == id).toSeq.sortBy(_.nodeId)
          .foreach(s => println(
            s"  node ${s.nodeId}: ${s.state} results=${s.resultsId.take(16)}"))
        log.forJob(id).foreach(e =>
          println(s"  event ${e.eventTimeUs} ${e.eventName} ${e.status}"))
        0
    }

  /** `get --api URI` — fetch results over the daemon socket instead of the
    * shared state dir (reference get.go pulls from IPFS; here the API is
    * the transport). Id-prefix resolves through the daemon's job list. */
  private def getRemote(api: String, idPrefix: String, outDir: String): Int = {
    val client = new ApiClient(api)
    client.get(idPrefix) match {
      case None => System.err.println(s"get: no job $idPrefix"); 1
      case Some(id) =>
        val files = client.getResults(id, outDir)
        if (files.isEmpty) { System.err.println("get: no results"); 1 }
        else {
          println(s"fetched ${files.size} files -> $outDir/$id")
          0
        }
    }
  }

  /** `describe --api URI` — compose the job description from the daemon's
    * /states + /events instead of the local log (reference describe.go
    * builds the same view from API reads). */
  private def describeRemote(api: String, idPrefix: String): Int = {
    val client = new ApiClient(api)
    client.get(idPrefix) match {
      case None => System.err.println(s"describe: no job $idPrefix"); 1
      case Some(id) =>
        println(s"job: $id")
        val states = client.states(id)
        states.sortBy(_._1).foreach { case (node, state, results) =>
          println(s"  node $node: $state results=${results.take(16)}")
        }
        client.events(id).foreach(e => println(s"  event $e"))
        0
    }
  }

  private def get(stateDir: String, idPrefix: String, outDir: String): Int =
    resolveJobId(stateDir, idPrefix) match {
      case None => System.err.println(s"get: no job $idPrefix"); 1
      case Some(id) =>
        val src = Paths.get(s"$stateDir/results/$id")
        if (!Files.exists(src)) { System.err.println("get: no results"); 1 }
        else {
          val dst = Paths.get(outDir, id)
          Files.walk(src).iterator().asScala.foreach { p =>
            val t = dst.resolve(src.relativize(p))
            if (Files.isDirectory(p)) Files.createDirectories(t)
            else { Files.createDirectories(t.getParent); Files.copy(p, t) }
          }
          println(s"fetched ${src} -> ${dst}")
          0
        }
    }
}
