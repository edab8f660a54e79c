package graft.jobs

import java.time.Instant

/** The job model — a Scala ADT mirroring the reference's declarative job
  * spec (SURVEY.md §1.1; reference: pkg/executor/types.go:35-180).
  *
  * A JobSpec is *data*: the OpCompiler turns it into a DataFrame logical
  * plan, Catalyst optimizes it, and the Runner executes it with
  * event-sourced lifecycle tracking — the Spark-native re-expression of the
  * reference's container-per-job execution.
  */

/** Input/output volume (reference: pkg/storage/types.go:23-42).
  * `engine` ∈ {file, urldownload}: content-addressed ("cid") and plain
  * paths both resolve through `file`; `url` keeps the reference's
  * URL-download source shape. */
final case class StorageSpec(
    engine: String,
    name: String = "",
    cid: String = "",
    url: String = "",
    path: String)

/** Docker-engine payload (reference: pkg/executor/types.go:90-99). The
  * entrypoint is compiled to native ops (OpCompiler), never executed. */
final case class JobSpecDocker(
    image: String = "",
    entrypoint: Seq[String] = Nil,
    env: Seq[String] = Nil,
    workingDir: String = "")

/** Language-engine payload (reference: pkg/executor/types.go:102-115):
  * an expression-mode job — `command` is a SQL/Column expression string
  * compiled through Catalyst; `deterministic=true` arms the determinism
  * gate (reference: pkg/executor/language/executor.go:47-62). */
final case class JobSpecLanguage(
    language: String = "sql",
    languageVersion: String = "ansi",
    deterministic: Boolean = true,
    command: String = "")

/** Resource requirements (reference: pkg/capacitymanager/types.go:5-26);
  * parsed from k8s-style strings by [[Resources]]. */
final case class ResourceUsage(
    cpuCores: Double = 0.0,
    memoryBytes: Long = 0L,
    diskBytes: Long = 0L,
    gpus: Int = 0)

/** Full spec (reference: pkg/executor/types.go:57-87). */
final case class JobSpec(
    engine: String, // "docker" | "language" | "noop"
    verifier: String = "hash", // "noop" | "hash" (ipfs-CID analog)
    docker: Option[JobSpecDocker] = None,
    language: Option[JobSpecLanguage] = None,
    resources: ResourceUsage = ResourceUsage(),
    inputs: Seq[StorageSpec] = Nil,
    outputs: Seq[StorageSpec] = Nil,
    annotations: Seq[String] = Nil) {

  /** Front-end validation (reference: pkg/job/job.go:220-230,
    * cmd/bacalhau/apply.go:93-105 invalid cases). */
  def validate(): Either[String, JobSpec] = {
    // NOTE: no separate "no source" case for file volumes — `path` doubles
    // as the source when `cid` is empty (SourceResolver.resolvePath falls
    // back to it), so a volume with a mount path always has a source. A
    // prior unreachable branch here implied otherwise (r4 review).
    def badVolume(v: StorageSpec): Option[String] =
      if (v.path.isEmpty) Some(s"volume '${v.name}': empty mount path")
      else if (v.engine == "urldownload" && v.url.isEmpty)
        Some(s"volume '${v.name}': urldownload without url")
      else None
    val volErr = (inputs ++ outputs).flatMap(badVolume(_)).headOption
    volErr match {
      case Some(e) => Left(e)
      case None if engine == "docker" && docker.isEmpty =>
        Left("docker engine without docker spec")
      case None if engine == "language" && language.isEmpty =>
        Left("language engine without language spec")
      case None => Right(this)
    }
  }
}

/** Replication factor (reference: pkg/executor/types.go:138-142). */
final case class JobDeal(concurrency: Int = 1) {
  JobDeal.problem(concurrency).foreach(p => throw new IllegalArgumentException(p))
}

object JobDeal {
  /** Ceiling on a deal's concurrency: `Runner` runs each replica on a
    * thread of its own, so a client must not choose the thread count. */
  final val MaxConcurrency = 64

  private def problem(concurrency: Long): Option[String] =
    if (concurrency < 1) Some("concurrency must be >= 1")
    else if (concurrency > MaxConcurrency)
      Some(s"concurrency must be <= $MaxConcurrency")
    else None

  /** Admission check shared by every front-end that takes a deal; the
    * constructor throws on the same bounds. */
  def of(concurrency: Long): Either[String, JobDeal] =
    problem(concurrency).toLeft(JobDeal(concurrency.toInt))
}

final case class Job(
    id: String,
    clientId: String = "local",
    spec: JobSpec,
    deal: JobDeal = JobDeal(),
    createdAt: Instant = Instant.EPOCH)

/** k8s-style resource string parsing (reference:
  * pkg/capacitymanager/utils.go:42-84 — CPU "500m" → 0.5 cores, memory
  * "2Gb"/"2Gi" → bytes). Public formats only: m-suffix millicores, decimal
  * SI (kB/MB/GB) and binary (Ki/Mi/Gi) byte units. */
object Resources {
  def parseCpu(s: String): Double = {
    val t = s.trim.toLowerCase
    if (t.isEmpty) 0.0
    else if (t.endsWith("m")) t.dropRight(1).toDouble / 1000.0
    else t.toDouble
  }

  private val units: Map[String, Long] = Map(
    "b" -> 1L,
    "kb" -> 1000L, "mb" -> 1000L * 1000, "gb" -> 1000L * 1000 * 1000,
    "tb" -> 1000L * 1000 * 1000 * 1000,
    "k" -> 1000L, "m" -> 1000L * 1000, "g" -> 1000L * 1000 * 1000,
    "t" -> 1000L * 1000 * 1000 * 1000,
    "ki" -> 1024L, "mi" -> 1024L * 1024, "gi" -> 1024L * 1024 * 1024,
    "ti" -> 1024L * 1024 * 1024 * 1024,
    "kib" -> 1024L, "mib" -> 1024L * 1024, "gib" -> 1024L * 1024 * 1024,
    "tib" -> 1024L * 1024 * 1024 * 1024)

  def parseMemory(s: String): Long = {
    val t = s.trim.toLowerCase
    if (t.isEmpty) return 0L
    val idx = t.indexWhere(c => !c.isDigit && c != '.')
    if (idx < 0) t.toDouble.toLong
    else {
      val (num, unit) = t.splitAt(idx)
      val mult = units.getOrElse(unit.trim,
        throw new IllegalArgumentException(s"unknown byte unit: '$unit'"))
      (num.toDouble * mult).toLong
    }
  }

  def parse(cpu: String, memory: String, disk: String = "", gpu: String = ""): ResourceUsage =
    ResourceUsage(
      cpuCores = parseCpu(cpu),
      memoryBytes = parseMemory(memory),
      diskBytes = if (disk.isEmpty) 0L else parseMemory(disk),
      gpus = if (gpu.isEmpty) 0 else gpu.trim.toInt)

  /** Defaults applied when a job declares nothing (reference:
    * pkg/capacitymanager/capacitymanager.go defaults CPU=100m, mem=100Mb). */
  val defaults: ResourceUsage = ResourceUsage(0.1, 100L * 1000 * 1000)

  def withDefaults(r: ResourceUsage): ResourceUsage = ResourceUsage(
    if (r.cpuCores <= 0) defaults.cpuCores else r.cpuCores,
    if (r.memoryBytes <= 0) defaults.memoryBytes else r.memoryBytes,
    r.diskBytes, r.gpus)
}

/** Job lifecycle events and states (reference:
  * pkg/executor/constants.go:44-170) with the event→state fold
  * (`GetStateFromEvent`, constants.go:211-251). */
object Lifecycle {
  object EventType {
    val Created = "Created"
    val DealUpdated = "DealUpdated"
    val Bid = "Bid"
    val BidAccepted = "BidAccepted"
    val BidRejected = "BidRejected"
    val BidCancelled = "BidCancelled"
    val Running = "Running"
    val Completed = "Completed"
    val Error = "Error"
    val ResultsAccepted = "ResultsAccepted"
    val ResultsRejected = "ResultsRejected"
    /** Liveness-only beacon an EXECUTING node emits on an interval
      * (Devstack heartbeatMs). Deliberately absent from
      * [[stateFromEvent]]: a heartbeat proves the process is alive, not
      * that the work progressed, so it refreshes the requester's
      * staleness clock (which keys off last-event time) without touching
      * the folded node state — the reference's liveness/progress split. */
    val Heartbeat = "Heartbeat"
    /** Requester-lease renewal: the node currently holding a job's
      * requester role beacons it on an interval (Devstack
      * requesterStaleMs/4) while the job is open. Like [[Heartbeat]],
      * liveness-only — absent from [[stateFromEvent]]. */
    val RequesterLease = "RequesterLease"
    /** Requester takeover claim: appended by a node observing the
      * holder's lease expired. The LAST elect in bus order wins (the
      * Lamport-ordered bus is the arbiter); the job's requester is
      * always the source of the last {Created, RequesterElect} event.
      * Also liveness-class — never touches folded node state. */
    val RequesterElect = "RequesterElect"
  }

  object State {
    val Bidding = "Bidding"
    val BidRejected = "BidRejected"
    val Waiting = "Waiting"
    val Cancelled = "Cancelled"
    val Running = "Running"
    val Complete = "Complete"
    val Error = "Error"
  }

  /** Event → per-node state, exactly the reference's mapping. */
  def stateFromEvent(eventType: String): Option[String] = eventType match {
    case EventType.Bid           => Some(State.Bidding)
    case EventType.BidAccepted   => Some(State.Waiting)
    case EventType.BidRejected   => Some(State.BidRejected)
    case EventType.BidCancelled  => Some(State.Cancelled)
    case EventType.Running       => Some(State.Running)
    case EventType.Completed     => Some(State.Complete)
    case EventType.Error         => Some(State.Error)
    case _                       => None // Created/DealUpdated… don't touch node state
  }

  /** "Furthest along" ranking for job-state summarization (reference:
    * pkg/job/job.go:233-263). */
  def progressRank(state: String): Int = state match {
    case State.Bidding  => 1
    case State.Waiting  => 2
    case State.Running  => 3
    case State.Error    => 4
    case State.Complete => 5
    case _              => 0
  }
}

/** Network event record (reference: pkg/executor/types.go:146-163). */
final case class JobEvent(
    jobId: String,
    clientId: String = "",
    sourceNodeId: String = "",
    targetNodeId: String = "",
    eventName: String,
    status: String = "",
    resultsId: String = "",
    eventTimeUs: Long = 0L)

/** Folded per-(job,node) state (reference: pkg/executor/types.go:121-125). */
final case class JobNodeState(
    jobId: String,
    nodeId: String,
    state: String,
    status: String = "",
    resultsId: String = "")
