package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.time.Instant
import java.util.UUID
import java.util.concurrent.{Callable, ExecutionException, Executors}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Job lifecycle runner — the Spark-native control plane (SURVEY §3.1's
  * 9-step trace collapsed onto a single scheduler):
  *
  *  submit → Created → [admission A13] → Bid/BidAccepted per replica →
  *  Running → execute compiled plan → publish (hash "CID") → Completed →
  *  cross-replica verification (A12; an upgrade on the reference, which
  *  intends majority-vote but v0 never compares — DESIGN.md:95-99).
  *
  * Replication runs the same deterministic plan `concurrency` times and
  * compares canonical content ids; Spark's scheduler replaces the bidding
  * marketplace (capacity/locality are its job — SURVEY §4), so "nodes" here
  * are replica slots, and admission keeps only the semantic checks:
  * executor/verifier installed, resource ceiling, locality probe.
  *
  * All bids are accepted first; then the replicas run at the same time,
  * one thread each, as the reference's accepted bids each run on their own
  * compute node (requesternode.go:78-144). Each replica compiles its own
  * plan and publishes its own `r<i>` directory; their Spark jobs share the
  * scheduler and carry the tag `graft-job-<job id>`. `run` takes one job
  * through admission, acceptance and execution on the caller's thread;
  * [[ApiServer]] calls the steps itself, so that it admits jobs by node
  * capacity and runs several at once, each compiled in its own session.
  */
/** @param nodeSlots total bidding slots ("nodes" in the reference
  *   devstack sense); 0 means one slot per requested replica. When more
  *   slots exist than the deal's concurrency, the surplus slots bid and
  *   are then cancelled — Concurrency=2 over 3 slots ends {2 Complete,
  *   1 Cancelled} exactly like the reference devstack proves
  *   (pkg/test/devstack/concurrency_test.go:46-105). */
final class Runner(spark: SparkSession,
                   maxJobResources: ResourceUsage = ResourceUsage(32, 128L << 30),
                   selectionPolicy: JobSpec => Boolean = _ => true,
                   nodeSlots: Int = 0) {

  val events = new EventLog
  private val jobs = mutable.LinkedHashMap.empty[String, Job]
  private val nodeId = "spark-local"

  /** Admission checks (reference: pkg/computenode/computenode.go:348-405 +
    * job_selection.go — executor installed, verifier installed, resources
    * within per-job ceiling, probe hook). */
  def selectJob(spec: JobSpec): Either[String, Unit] = {
    val r = Resources.withDefaults(spec.resources)
    if (!Set("docker", "language", "noop").contains(spec.engine))
      Left(s"no executor for engine '${spec.engine}'")
    else if (!Set("noop", "hash").contains(spec.verifier))
      Left(s"no verifier '${spec.verifier}'")
    else if (r.cpuCores > maxJobResources.cpuCores ||
             r.memoryBytes > maxJobResources.memoryBytes)
      Left("resource requirements exceed per-job limit")
    else if (!selectionPolicy(spec)) Left("rejected by selection policy")
    else Right(())
  }

  /** Submit (reference: controller.SubmitJob —
    * pkg/controller/controller.go:127-158). */
  def submit(spec: JobSpec, deal: JobDeal = JobDeal(1),
             clientId: String = "local"): Either[String, Job] =
    spec.validate().map { valid =>
      val job = Job(UUID.randomUUID().toString, clientId, valid, deal,
        Instant.now())
      synchronized { jobs(job.id) = job }
      events.append(JobEvent(jobId = job.id, clientId = clientId,
        sourceNodeId = nodeId, eventName = Lifecycle.EventType.Created))
      job
    }

  /** Admit, accept and execute one submitted job in the runner's session;
    * returns the content ids in replica order and the verification
    * outcome. */
  def run(job: Job, inputs: Map[String, DataFrame], outDir: String)
      : Either[String, RunResult] =
    selectJob(job.spec) match {
      case Left(reason) => reject(job, reason); Left(reason)
      case Right(()) => accept(job); execute(job, spark, inputs, outDir)
    }

  /** The node declines the job at admission: its bid is rejected. */
  def reject(job: Job, reason: String): Unit =
    events.append(JobEvent(jobId = job.id, sourceNodeId = nodeId,
      targetNodeId = nodeId, eventName = Lifecycle.EventType.BidRejected,
      status = reason))

  /** The requester accepts every replica's bid before any replica runs,
    * so a poll of the folded states never sees all listed replicas
    * terminal while another has yet to bid. */
  def accept(job: Job): Unit = {
    val replicas = job.deal.concurrency
    (0 until replicas).foreach { replica =>
      val rep = s"$nodeId-r$replica"
      events.append(JobEvent(jobId = job.id, sourceNodeId = rep,
        targetNodeId = rep, eventName = Lifecycle.EventType.Bid))
      events.append(JobEvent(jobId = job.id, sourceNodeId = nodeId,
        targetNodeId = rep, eventName = Lifecycle.EventType.BidAccepted))
    }
    // surplus bidding slots beyond the deal's concurrency: bid, then
    // cancelled once enough bids are accepted (the reference requester
    // cancels surplus bids — executor constants.go JobEventBidCancelled;
    // devstack asserts the {Complete², Cancelled} multiset)
    (replicas until nodeSlots).foreach { extra =>
      val rep = s"$nodeId-r$extra"
      events.append(JobEvent(jobId = job.id, sourceNodeId = rep,
        targetNodeId = rep, eventName = Lifecycle.EventType.Bid))
      events.append(JobEvent(jobId = job.id, sourceNodeId = nodeId,
        targetNodeId = rep, eventName = Lifecycle.EventType.BidCancelled,
        status = "concurrency limit reached"))
    }
  }

  /** An accepted job that cannot start, such as one whose inputs do not
    * resolve: every accepted replica ends in Error, so the job's folded
    * states all reach a terminal state. */
  def abort(job: Job, reason: String): Unit =
    (0 until job.deal.concurrency).foreach { replica =>
      val rep = s"$nodeId-r$replica"
      events.append(JobEvent(jobId = job.id, sourceNodeId = rep,
        targetNodeId = rep, eventName = Lifecycle.EventType.Error,
        status = reason))
    }

  /** Execute all replicas of an accepted job concurrently, compiling in
    * `session` (the session its `inputs` were resolved in); returns the
    * content ids in replica order and the verification outcome. */
  def execute(job: Job, session: SparkSession,
              inputs: Map[String, DataFrame], outDir: String)
      : Either[String, RunResult] = {
    val publisher: ResultPublisher.Publisher =
      if (job.spec.verifier == "hash") ResultPublisher.Hash
      else ResultPublisher.Noop
    val replicas = job.deal.concurrency
    // one thread per accepted replica, as each replica runs on its own
    // compute node in the reference. The pool lives for this call only:
    // its threads are created here, so they inherit the caller's Spark
    // local properties (job group, tags, scheduler pool) as they are now,
    // and blocking Spark actions never starve a shared pool.
    val pool = Executors.newFixedThreadPool(replicas, r => {
      val t = new Thread(r, s"graft-replica-${job.id.take(8)}")
      t.setDaemon(true); t
    })
    val cids =
      try pool.invokeAll((0 until replicas).map { replica =>
          (() => runReplica(job, session, inputs, publisher, replica, outDir))
            : Callable[Either[String, String]]
        }.asJava).asScala.toSeq.map { f =>
          try f.get() catch { case e: ExecutionException => throw e.getCause }
        }
      finally pool.shutdown()
    // cache hygiene: a long-lived serve session must not accumulate cached
    // subtrees registered by whatever plan just ran. The drain is global
    // although jobs run concurrently: no control-plane plan registers
    // frames, and a frame of another job unpersisted early only costs that
    // job a recomputation.
    graft.CacheScope.drain()
    val oks = cids.collect { case Right(c) => c }
    if (oks.isEmpty) Left(cids.collectFirst { case Left(e) => e }.get)
    else Right(RunResult(job.id, oks, verified = oks.distinct.size == 1))
  }

  /** One replica: compile its own plan and publish to its own `r<i>`
    * directory. Its Spark jobs carry the tag `graft-job-<job id>`, the
    * handle for finding or cancelling a job's work at the Spark level. */
  private def runReplica(job: Job, session: SparkSession,
                         inputs: Map[String, DataFrame],
                         publisher: ResultPublisher.Publisher, replica: Int,
                         outDir: String): Either[String, String] = {
    val rep = s"$nodeId-r$replica"
    val tag = s"graft-job-${job.id}"
    spark.sparkContext.addJobTag(tag)
    try {
      events.append(JobEvent(jobId = job.id, sourceNodeId = rep,
        targetNodeId = rep, eventName = Lifecycle.EventType.Running))
      val df = OpCompiler.compile(session, job.spec, inputs)
      val cid = publisher.publish(df, s"$outDir/${job.id}/r$replica")
      events.append(JobEvent(jobId = job.id, sourceNodeId = rep,
        targetNodeId = rep, eventName = Lifecycle.EventType.Completed,
        resultsId = cid))
      Right(cid)
    } catch {
      case e: Exception =>
        events.append(JobEvent(jobId = job.id, sourceNodeId = rep,
          targetNodeId = rep, eventName = Lifecycle.EventType.Error,
          status = e.getMessage))
        Left(e.getMessage)
    } finally spark.sparkContext.removeJobTag(tag)
  }

  // ---- read path ----------------------------------------------------

  /** A17: catalog select — by normalized id prefix (reference:
    * pkg/publicapi/client.go:79-99 dash-stripped lowercase prefix match). */
  def getJobs(idPrefix: String = ""): Seq[Job] = synchronized {
    val norm = idPrefix.replace("-", "").toLowerCase
    jobs.values.filter(j =>
      norm.isEmpty || j.id.replace("-", "").toLowerCase.startsWith(norm)).toSeq
  }

  /** A18: list = sort + limit (reference: cmd/bacalhau/list.go:100-211).
    * Time sort is numeric on epoch millis (a stringified sort breaks for
    * timestamps with differing digit counts, e.g. the Instant.EPOCH
    * default). */
  def list(maxJobs: Int = 10, sortByTime: Boolean = true,
           reverse: Boolean = true): Seq[Job] = {
    val s =
      if (sortByTime) getJobs().sortBy(_.createdAt.toEpochMilli)
      else getJobs().sortBy(_.id)
    (if (reverse) s.reverse else s).take(maxJobs)
  }

  /** A21: context pinning — submit with an auxiliary payload directory.
    * The reference tars the client's context, pins it to IPFS and
    * auto-appends an input volume at `/job`
    * (pkg/publicapi/server.go:348-388, requesternode.go:146-150); here the
    * directory is copied into a content-addressed scratch (idempotent: the
    * digest is the "CID", re-submitting identical context reuses the pin —
    * same dedupe the IPFS pin gives the reference) and exposed as a `/job`
    * input volume resolvable by SourceResolver. */
  def submitWithContext(spec: JobSpec, contextDir: String,
                        deal: JobDeal = JobDeal(1),
                        scratchDir: String =
                          sys.props("java.io.tmpdir") + "/graft-context")
      : Either[String, Job] = {
    val src = java.nio.file.Paths.get(contextDir)
    if (!java.nio.file.Files.isDirectory(src))
      Left(s"context '$contextDir' is not a directory")
    else {
      val cid = ResultPublisher.directoryId(contextDir)
      val pinned = java.nio.file.Paths.get(scratchDir, cid)
      if (!java.nio.file.Files.exists(pinned)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(src).iterator().asScala.foreach { p =>
          val t = pinned.resolve(src.relativize(p))
          if (java.nio.file.Files.isDirectory(p))
            java.nio.file.Files.createDirectories(t)
          else {
            java.nio.file.Files.createDirectories(t.getParent)
            java.nio.file.Files.copy(p, t)
          }
        }
      }
      submit(spec.copy(inputs = spec.inputs :+ StorageSpec(
        engine = "file", name = "job-context", cid = pinned.toString,
        path = "/job")), deal)
    }
  }

  /** A19: describe = job + events + folded states (reference:
    * cmd/bacalhau/describe.go:17-176). */
  def describe(jobId: String): Option[JobDescription] =
    synchronized(jobs.get(jobId)).map { j =>
      JobDescription(j, events.forJob(jobId),
        events.states.collect { case ((id, _), st) if id == jobId => st }.toSeq,
        events.currentJobState(jobId).map(_.state).getOrElse(""))
    }
}

final case class RunResult(jobId: String, cids: Seq[String], verified: Boolean)

final case class JobDescription(job: Job, events: Seq[JobEvent],
                                states: Seq[JobNodeState], currentState: String)
