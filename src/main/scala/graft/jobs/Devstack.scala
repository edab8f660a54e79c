package graft.jobs

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.Instant
import java.util.UUID
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Multi-process devstack (reference: pkg/devstack/devstack.go:54-258 —
  * N in-process nodes wired over libp2p pubsub; here N `Cli serve`
  * PROCESSES wired over a shared `--cluster-dir`).
  *
  * The transport is a filesystem event bus: every lifecycle event is one
  * JSON file in `events/`, atomically published (tmp + rename) so readers
  * never see partial writes — the append-only-log shape §2.A15 already
  * gives the single-node plane, made multi-writer. Job specs land in
  * `jobs/` the same way. This is the degenerate-but-honest pubsub for
  * processes sharing a disk; the protocol on top is exactly the
  * reference's requester/compute split:
  *
  *  - any node may receive a submit (it becomes the job's REQUESTER and
  *    appends Created);
  *  - every node that can serve the spec bids on it (admission gate
  *    first — unservable specs draw BidRejected, reference
  *    pkg/computenode/computenode.go:348-405);
  *  - the requester accepts the first `concurrency` bids in bus order and
  *    cancels the surplus (reference requester_node.go bid handling;
  *    devstack's concurrency_test.go:46-105 asserts the resulting
  *    {Complete×2, Cancelled} multiset over 3 nodes);
  *  - each accepted node runs the compiled plan on its OWN SparkSession
  *    and publishes under `results/<job>/<node>`, so replica digests come
  *    from genuinely separate executions and /states exposes them for
  *    cross-replica verification (A12).
  *
  * Ordering: bus timestamps are Lamport-style — an append is stamped
  * `max(wall-clock µs, last-seen + 1)`, and every node reads the bus
  * before reacting, so an accept/cancel always sorts after the bid it
  * answers even when both land in the same millisecond. The state fold is
  * the same `EventLog.foldLocal` the single-node plane uses.
  */
final class FileBus(dir: Path) {
  private val mapper = new ObjectMapper()
  private val eventsDir = dir.resolve("events")
  private val jobsDir = dir.resolve("jobs")
  Files.createDirectories(eventsDir)
  Files.createDirectories(jobsDir)

  private val seq = new AtomicLong()
  private val lastSeenUs = new AtomicLong()

  private def nextUs(): Long = {
    val now = System.currentTimeMillis() * 1000L
    lastSeenUs.updateAndGet(prev => math.max(now, prev + 1))
  }

  /** Publish one event: write-to-temp, atomic rename. The filename is the
    * sort key: (lamport µs, node, local seq). */
  def append(e: JobEvent, nodeId: String): JobEvent = {
    val stamped =
      if (e.eventTimeUs == 0) e.copy(eventTimeUs = nextUs()) else e
    val n = seq.incrementAndGet()
    val name = f"${stamped.eventTimeUs}%020d-$nodeId-$n%06d.json"
    val node = mapper.createObjectNode()
      .put("job_id", stamped.jobId).put("client_id", stamped.clientId)
      .put("source_node_id", stamped.sourceNodeId)
      .put("target_node_id", stamped.targetNodeId)
      .put("event_name", stamped.eventName).put("status", stamped.status)
      .put("results_id", stamped.resultsId)
      .put("event_time_us", stamped.eventTimeUs)
    val tmp = eventsDir.resolve(s".tmp-$name")
    Files.writeString(tmp, mapper.writeValueAsString(node))
    Files.move(tmp, eventsDir.resolve(name),
      StandardCopyOption.ATOMIC_MOVE)
    stamped
  }

  /** All events in bus order. Also advances the Lamport floor, so
    * anything appended after a read sorts after everything read. */
  def events(): Seq[JobEvent] = {
    val names = scala.util.Using.resource(Files.list(eventsDir)) { st =>
      st.iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toVector
    }.sorted
    val evs = names.map { name =>
      val n = mapper.readTree(Files.readString(eventsDir.resolve(name)))
      JobEvent(
        jobId = n.get("job_id").asText(),
        clientId = n.get("client_id").asText(),
        sourceNodeId = n.get("source_node_id").asText(),
        targetNodeId = n.get("target_node_id").asText(),
        eventName = n.get("event_name").asText(),
        status = n.get("status").asText(),
        resultsId = n.get("results_id").asText(),
        eventTimeUs = n.get("event_time_us").asLong())
    }
    evs.lastOption.foreach(last =>
      lastSeenUs.updateAndGet(math.max(_, last.eventTimeUs)))
    evs
  }

  /** Register a job: the raw submit payload persists verbatim, so every
    * node parses the spec through the same `apply -f` loader. */
  def putJob(job: Job, dataJson: String): Unit = {
    val node = mapper.createObjectNode()
      .put("id", job.id).put("client_id", job.clientId)
      .put("created_at_ms", job.createdAt.toEpochMilli)
    node.set[com.fasterxml.jackson.databind.JsonNode]("data",
      mapper.readTree(dataJson))
    val tmp = jobsDir.resolve(s".tmp-${job.id}.json")
    Files.writeString(tmp, mapper.writeValueAsString(node))
    Files.move(tmp, jobsDir.resolve(s"${job.id}.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** All registered jobs, oldest first. */
  def jobs(): Seq[Job] = {
    val files = scala.util.Using.resource(Files.list(jobsDir)) { st =>
      st.iterator().asScala
        .filterNot(_.getFileName.toString.startsWith(".")).toVector
    }
    files.flatMap { p =>
      val n = mapper.readTree(Files.readString(p))
      JobSpecLoader.fromJson(mapper.writeValueAsString(n.get("data")))
        .toOption.map { case (spec, deal) =>
          Job(n.get("id").asText(), n.get("client_id").asText(), spec, deal,
            Instant.ofEpochMilli(n.get("created_at_ms").asLong()))
        }
    }.sortBy(j => (j.createdAt.toEpochMilli, j.id))
  }
}

/** One devstack node: a poll loop owning this process's side of the
  * protocol. Execution runs inline in the loop thread — the FIFO compute
  * loop of the reference compute node (computenode.go:111-187).
  *
  * @param staleMs requester-side liveness bound: an accepted replica
  *   whose last event (BidAccepted/Running) is older than this without a
  *   terminal event is presumed dead — its process crashed or its disk
  *   went away. The requester appends Error on its behalf (the analog of
  *   the reference's heartbeat-timeout state transition) and, if an
  *   undecided bidder is still Waiting in line, accepts it as the
  *   replacement so the deal's concurrency is still met. 0 disables.
  * @param heartbeatMs executing-node liveness beacon interval: while a
  *   replica executes, a daemon thread appends Heartbeat events so the
  *   requester's staleness clock measures process death, not event
  *   silence — without it, any legitimate no-event stretch (a long
  *   pipe, a cold first Spark job) longer than staleMs reads as death
  *   (the FiveProcessSpec cascade; SCALING.md "Devstack at N=5").
  *   Heartbeats never touch folded state (Lifecycle.stateFromEvent
  *   ignores them). 0 disables; when on, choose heartbeatMs well under
  *   the requester's staleMs (the spec uses 6×).
  * @param requesterStaleMs requester-FAILOVER bound: the requester role
  *   is a bus lease, not an identity. The job's current holder (source
  *   of the last {Created, RequesterElect} event) renews with
  *   RequesterLease beacons every requesterStaleMs/4 while the job is
  *   open; any node observing the holder silent past requesterStaleMs
  *   appends a RequesterElect claim, and the LAST claim in bus order
  *   holds the lease from the next poll on (concurrent claimants
  *   re-read the bus and exactly one sees itself last — Lamport
  *   ordering arbitrates; a one-poll overlap is benign because the
  *   decision function is deterministic in the bus prefix, so duplicate
  *   holders append identical, fold-idempotent decisions). Takeover is
  *   total because the requester half is STATELESS — everything it
  *   decides derives from the bus, so the new holder resumes bid
  *   decisions AND the staleMs replica-replacement duty mid-job. The
  *   next liveness rung after heartbeats (reference ROADMAP.md's
  *   requester/compute split made crash-tolerant). 0 disables: the
  *   creator stays sole requester for life, the pre-failover protocol.
  * @param computeDisabled requester-only node (the reference's
  *   requester_node.go vs computenode.go split): never bids or
  *   executes, but submits, decides, and can win requester elections
  *   for jobs it observes. */
final class DevstackNode(spark: SparkSession, val nodeId: String,
                         val clusterDir: String, pollMs: Long = 100,
                         staleMs: Long = 0, heartbeatMs: Long = 0,
                         requesterStaleMs: Long = 0,
                         computeDisabled: Boolean = false) {

  val bus = new FileBus(Paths.get(clusterDir))
  def resultsRoot: String = s"$clusterDir/results"

  // admission shares the single-node gate (engine/verifier/resources)
  private val admission = new Runner(spark)
  private val bidSent = mutable.Set.empty[String]
  private val started = mutable.Set.empty[String]
  @volatile private var stopped = false
  private val thread = new Thread(() => loop(), s"devstack-$nodeId")
  thread.setDaemon(true)

  def start(): Unit = thread.start()
  def stop(): Unit = { stopped = true; thread.interrupt() }

  /** Requester-side submit: register the job, announce Created. The
    * protocol loop takes it from there on every node, this one included. */
  def submitRaw(dataJson: String, clientId: String): Either[String, Job] =
    JobSpecLoader.fromJson(dataJson).flatMap { case (spec, deal) =>
      spec.validate().map { valid =>
        val job = Job(UUID.randomUUID().toString, clientId, valid, deal,
          Instant.now())
        bus.putJob(job, dataJson)
        bus.append(JobEvent(jobId = job.id, clientId = clientId,
          sourceNodeId = nodeId, eventName = Lifecycle.EventType.Created),
          nodeId)
        job
      }
    }

  private def loop(): Unit =
    while (!stopped) {
      try step()
      catch {
        case _: InterruptedException => // stop()
        case e: Exception =>
          System.err.println(s"devstack[$nodeId]: ${e.getMessage}")
      }
      try Thread.sleep(pollMs)
      catch { case _: InterruptedException => () }
    }

  /** One protocol round: bid on new jobs, decide bids we requested,
    * execute our accepted work. Visible for deterministic tests. */
  private[jobs] def step(): Unit = {
    val evs = bus.events()
    val states = EventLog.foldLocal(evs)
    for (job <- bus.jobs()) {
      val jevs = evs.filter(_.jobId == job.id)
      val myState = states.get((job.id, nodeId))

      // --- compute-node half: bid exactly once per job. The local
      // dedup mark is set only AFTER the bus append succeeds: if the
      // append throws (transient filesystem error) the job stays
      // unmarked and the admission decision — deterministic for a given
      // spec — is safely retried next poll. Marking first would leave
      // the node permanently silent on that job.
      if (!computeDisabled && myState.isEmpty && !bidSent(job.id)) {
        admission.selectJob(job.spec) match {
          case Right(()) =>
            bus.append(JobEvent(jobId = job.id, sourceNodeId = nodeId,
              targetNodeId = nodeId,
              eventName = Lifecycle.EventType.Bid), nodeId)
          case Left(reason) =>
            bus.append(JobEvent(jobId = job.id, sourceNodeId = nodeId,
              targetNodeId = nodeId,
              eventName = Lifecycle.EventType.BidRejected,
              status = reason), nodeId)
        }
        bidSent += job.id
      }

      // --- requester half: accept the first `concurrency` bids in bus
      // order, cancel the rest. Exactly one decider per job: the holder
      // of the requester lease — the source of the last
      // {Created, RequesterElect} event in bus order (just the creator
      // until a failover election, see requesterStaleMs).
      val holder = jevs
        .filter(e => e.eventName == Lifecycle.EventType.Created ||
          e.eventName == Lifecycle.EventType.RequesterElect)
        .lastOption.map(_.sourceNodeId)
      // the job still needs a requester while any accepted replica is
      // live or any bid awaits a decision — afterwards the lease lapses
      // harmlessly (nothing left to decide)
      def jobOpen: Boolean = {
        val acceptedSet = jevs
          .filter(_.eventName == Lifecycle.EventType.BidAccepted)
          .map(_.targetNodeId).toSet
        val live = Set(Lifecycle.State.Waiting, Lifecycle.State.Running)
        val liveAccepted = states.exists { case ((jid, n), st) =>
          jid == job.id && acceptedSet(n) && live(st.state) }
        val undecided = jevs
          .filter(_.eventName == Lifecycle.EventType.Bid)
          .map(_.targetNodeId).toSet --
          jevs.filter(e =>
              e.eventName == Lifecycle.EventType.BidAccepted ||
              e.eventName == Lifecycle.EventType.BidCancelled)
            .map(_.targetNodeId).toSet
        liveAccepted || undecided.nonEmpty
      }
      if (requesterStaleMs > 0 && holder.nonEmpty) {
        val nowUs = System.currentTimeMillis() * 1000L
        // the lease clock: newest lease-class OR heartbeat event from
        // the holder (a holder blocked executing its own replica still
        // beacons heartbeats — provably alive, so no spurious takeover)
        val leaseUs = jevs.filter(e =>
            e.sourceNodeId == holder.get &&
              (e.eventName == Lifecycle.EventType.Created ||
               e.eventName == Lifecycle.EventType.RequesterElect ||
               e.eventName == Lifecycle.EventType.RequesterLease ||
               e.eventName == Lifecycle.EventType.Heartbeat))
          .map(_.eventTimeUs).max
        if (holder.contains(nodeId)) {
          // renew well under the expiry bound (4× margin)
          if (jobOpen && nowUs - leaseUs > requesterStaleMs * 250L)
            bus.append(JobEvent(jobId = job.id, sourceNodeId = nodeId,
              targetNodeId = nodeId,
              eventName = Lifecycle.EventType.RequesterLease), nodeId)
        } else if (jobOpen && nowUs - leaseUs > requesterStaleMs * 1000L) {
          // holder presumed dead: claim the lease. Takes effect at the
          // next poll's bus read — the last claim in bus order wins.
          bus.append(JobEvent(jobId = job.id, sourceNodeId = nodeId,
            targetNodeId = nodeId,
            eventName = Lifecycle.EventType.RequesterElect,
            status = s"requester lease expired after ${requesterStaleMs}ms"),
            nodeId)
        }
      }
      if (holder.contains(nodeId)) {
        val conc = job.deal.concurrency
        val decided =
          jevs.filter(e => e.eventName == Lifecycle.EventType.BidAccepted ||
              e.eventName == Lifecycle.EventType.BidCancelled)
            .map(_.targetNodeId).toSet
        // Count DISTINCT accepted bidders, not raw BidAccepted events:
        // during the documented one-poll overlap of two lease holders a
        // bidder can be accepted twice, and counting events would make a
        // concurrency-2 deal look full with one real replica (the deal
        // would then under-fill permanently). Sets make the duplicate
        // decisions genuinely fold-idempotent here, matching `decided`.
        var accepted = jevs
          .filter(_.eventName == Lifecycle.EventType.BidAccepted)
          .map(_.targetNodeId).distinct.size
        jevs.filter(_.eventName == Lifecycle.EventType.Bid)
          .map(_.targetNodeId).distinct.filterNot(decided)
          .foreach { bidder =>
            if (accepted < conc) {
              accepted += 1
              bus.append(JobEvent(jobId = job.id, sourceNodeId = nodeId,
                targetNodeId = bidder,
                eventName = Lifecycle.EventType.BidAccepted), nodeId)
            } else
              bus.append(JobEvent(jobId = job.id, sourceNodeId = nodeId,
                targetNodeId = bidder,
                eventName = Lifecycle.EventType.BidCancelled,
                status = "concurrency limit reached"), nodeId)
          }

        // liveness: an accepted replica stuck in Waiting/Running past
        // the staleness bound gets an Error on its behalf (heartbeat-
        // timeout analog), and the first bidder still waiting in line —
        // if any — is accepted as the replacement. One-shot per node:
        // after the Error its folded state is terminal, so this branch
        // cannot re-fire for it.
        if (staleMs > 0) {
          val nowUs = System.currentTimeMillis() * 1000L
          val live = Set(Lifecycle.State.Waiting, Lifecycle.State.Running)
          val stale = states.collect {
            case ((jid, node), st)
                if jid == job.id && node != nodeId && live(st.state) &&
                  jevs.filter(_.targetNodeId == node)
                    .map(_.eventTimeUs).maxOption
                    .exists(nowUs - _ > staleMs * 1000L) => node
          }.toSeq.sorted
          // replacement pool: bidders never accepted — including ones
          // cancelled as surplus earlier (they bid; re-accepting flips
          // their folded state back to Waiting and their loop executes),
          // excluding the dead and anything already terminal-failed
          val acceptedSet = jevs
            .filter(_.eventName == Lifecycle.EventType.BidAccepted)
            .map(_.targetNodeId).toSet
          val unusable = scala.collection.mutable.Set.empty[String] ++
            acceptedSet ++ stale ++
            states.collect { case ((jid, node), st)
                if jid == job.id &&
                  (st.state == Lifecycle.State.Error ||
                   st.state == Lifecycle.State.BidRejected) => node }
          stale.foreach { dead =>
            bus.append(JobEvent(jobId = job.id, sourceNodeId = nodeId,
              targetNodeId = dead, eventName = Lifecycle.EventType.Error,
              status = s"node presumed dead after ${staleMs}ms without " +
                "progress"), nodeId)
            jevs.filter(_.eventName == Lifecycle.EventType.Bid)
              .map(_.targetNodeId).distinct
              .filterNot(unusable)
              .headOption.foreach { next =>
                unusable += next
                bus.append(JobEvent(jobId = job.id, sourceNodeId = nodeId,
                  targetNodeId = next,
                  eventName = Lifecycle.EventType.BidAccepted,
                  status = "replacing stale replica"), nodeId)
              }
          }
        }
      }

      // --- execute once our bid is accepted
      if (myState.exists(_.state == Lifecycle.State.Waiting) &&
          !started(job.id)) {
        started += job.id
        execute(job)
      }
    }
  }

  private def execute(job: Job): Unit = {
    bus.append(JobEvent(jobId = job.id, sourceNodeId = nodeId,
      targetNodeId = nodeId, eventName = Lifecycle.EventType.Running), nodeId)
    // liveness beacon for the whole execution window — the loop thread
    // may block arbitrarily long inside the Spark job (a gated pipe, a
    // cold session), and without events the requester's staleness clock
    // would read that as death
    val hbStop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hb: Option[Thread] =
      if (heartbeatMs <= 0) None
      else {
        val t = new Thread(() => {
          while (!hbStop.get()) {
            try Thread.sleep(heartbeatMs)
            catch { case _: InterruptedException => () }
            if (!hbStop.get())
              try bus.append(JobEvent(jobId = job.id, sourceNodeId = nodeId,
                targetNodeId = nodeId,
                eventName = Lifecycle.EventType.Heartbeat), nodeId)
              catch { case _: Exception => () } // transient fs error: next beat retries
          }
        }, s"devstack-$nodeId-heartbeat")
        t.setDaemon(true)
        t.start()
        Some(t)
      }
    try {
      val inputs = job.spec.inputs
        .map(v => v.path -> SourceResolver.resolve(spark, v)).toMap
      val df = OpCompiler.compile(spark, job.spec, inputs)
      val publisher: ResultPublisher.Publisher =
        if (job.spec.verifier == "hash") ResultPublisher.Hash
        else ResultPublisher.Noop
      val cid = publisher.publish(df, s"$resultsRoot/${job.id}/$nodeId")
      graft.CacheScope.drain()
      bus.append(JobEvent(jobId = job.id, sourceNodeId = nodeId,
        targetNodeId = nodeId, eventName = Lifecycle.EventType.Completed,
        resultsId = cid), nodeId)
    } catch {
      case e: Exception =>
        bus.append(JobEvent(jobId = job.id, sourceNodeId = nodeId,
          targetNodeId = nodeId, eventName = Lifecycle.EventType.Error,
          status = String.valueOf(e.getMessage)), nodeId)
    } finally {
      hbStop.set(true)
      hb.foreach(_.interrupt())
    }
  }
}
