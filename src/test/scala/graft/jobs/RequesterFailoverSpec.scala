package graft.jobs

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Requester failover via bus-lease election (NEXT r7 #5 — the liveness
  * rung above heartbeats): the reference's requester node is singular per
  * job, so a requester crash mid-job strands every undecided bid and
  * disables replica replacement forever. Here the requester role is a
  * LEASE on the event bus: the holder beacons RequesterLease every
  * requesterStaleMs/4, and any node observing the holder silent past
  * requesterStaleMs appends a RequesterElect claim — last claim in bus
  * order holds the lease from the next poll (Devstack.scala,
  * Model.EventType.RequesterLease/RequesterElect).
  *
  * The scenario needs BOTH recovery paths at once to prove takeover is
  * total: FOUR real `Cli serve` JVMs — node-a requester-only
  * (`--no-compute`, the reference's requester/compute split), b/c/d
  * compute, Concurrency=2. After the accept race settles (2 Running
  * gate-blocked + 1 Cancelled), the test kills node-a (the requester)
  * AND one running replica in the same breath. A survivor must first win
  * the requester election (its claim is on the bus, sourced by a
  * non-creator), then — wearing the lease — run the inherited staleMs
  * replica-replacement duty: declare the dead replica Error and promote
  * the Cancelled bidder, whose execution completes. The closing
  * assertion is two-way digest agreement between a replica accepted by
  * the ORIGINAL requester and one accepted by the ELECTED one.
  */
class RequesterFailoverSpec extends AnyFunSuite {

  private def spawnServe(dir: String, clusterDir: String, nodeId: String,
                         noCompute: Boolean): Process = {
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = (Seq(
      sys.props("java.home") + "/bin/java",
      "-Xmx2g", "-cp", sys.props("java.class.path")) ++ addOpens ++ Seq(
      "graft.Cli", "serve",
      "--api-port", "0",
      "--serve-ms", "240000",
      "--cluster-dir", clusterDir,
      "--node-id", nodeId,
      "--stale-ms", "12000",
      "--heartbeat-ms", "2000",
      "--requester-stale-ms", "9000") ++
      (if (noCompute) Seq("--no-compute") else Nil) ++ Seq(
      "--state-dir", s"$dir/state-$nodeId")).toArray
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    pb.environment().put("GRAFT_TEST_GATE", s"$dir/gate-$nodeId")
    pb.redirectErrorStream(true)
    pb.redirectOutput(new java.io.File(s"$dir/serve-$nodeId.log"))
    pb.start()
  }

  private def portFromLog(dir: String, nodeId: String, proc: Process,
                          deadline: Long): Int = {
    val log = Paths.get(s"$dir/serve-$nodeId.log")
    val re = raw"listening on http://[^:]+:(\d+)".r
    while (System.currentTimeMillis() < deadline) {
      val text = if (Files.exists(log)) Files.readString(log) else ""
      re.findFirstMatchIn(text) match {
        case Some(m) => return m.group(1).toInt
        case None =>
          assert(proc.isAlive, s"serve $nodeId died: ${text.takeRight(2000)}")
          Thread.sleep(250)
      }
    }
    fail(s"serve $nodeId never reported its port")
  }

  test("killed requester: a survivor wins the lease election and completes " +
       "the inherited replica replacement; digests agree across requesters") {
    val t0 = System.currentTimeMillis()
    val dir = Files.createTempDirectory("graft-rf").toString
    val cluster = s"$dir/cluster"
    val nodes = Seq("node-a", "node-b", "node-c", "node-d")
    val procs = nodes.map(id =>
      spawnServe(dir, cluster, id, noCompute = id == "node-a"))
    val byNode = nodes.zip(procs).toMap
    try {
      val deadline = System.currentTimeMillis() + 180000
      val ports = nodes.zip(procs).map { case (id, p) =>
        portFromLog(dir, id, p, deadline)
      }
      val clients = ports.map(p => new ApiClient(s"http://127.0.0.1:$p"))
      for ((c, i) <- clients.zipWithIndex) {
        var up = false
        while (!up && System.currentTimeMillis() < deadline) {
          try { c.list(); up = true }
          catch {
            case _: Exception =>
              assert(procs(i).isAlive, s"serve ${nodes(i)} died: " +
                Files.readString(Paths.get(s"$dir/serve-${nodes(i)}.log"))
                  .takeRight(2000))
              Thread.sleep(250)
          }
        }
        assert(up, s"serve ${nodes(i)} never came up")
      }

      Files.writeString(Paths.get(s"$dir/fruit.txt"), "apple\nkiwi\ncherry\n")
      val jobId = clients.head.submit(
        s"""{"engine_name": "docker", "verifier_name": "ipfs",
           |  "job_spec_docker": {"image": "ubuntu",
           |    "entrypoint": ["bash", "-c",
           |      "while [ ! -f $$GRAFT_TEST_GATE ]; do sleep 0.1; done; cat"]},
           |  "inputs": [{"engine_name": "ipfs", "name": "in",
           |    "cid": "$dir/fruit.txt", "path": "/data/file.txt"}],
           |  "annotations": ["raw-exec"],
           |  "deal": {"concurrency": 2}}""".stripMargin)

      // phase 1: requester-only node-a never bids, so the race settles as
      // exactly 2 Running + 1 Cancelled over {b, c, d} — and node-a has
      // NO state row at all (the --no-compute contract)
      def snap(): Seq[(String, String, String)] = clients(1).states(jobId)
      val d2 = System.currentTimeMillis() + 120000
      def phase1(s: Seq[(String, String, String)]): Boolean =
        s.count(_._2 == Lifecycle.State.Running) == 2 &&
          s.count(_._2 == Lifecycle.State.Cancelled) == 1
      while (!phase1(snap()) && System.currentTimeMillis() < d2)
        Thread.sleep(150)
      val settled = snap()
      assert(phase1(settled), s"accept race never settled: $settled")
      assert(!settled.exists(_._1 == "node-a"),
        s"a --no-compute node must never appear in job state: $settled")
      // the original requester lease-beacons within requesterStaleMs/4
      // of its Created stamp — wait for the first one before killing it
      val bus = new FileBus(Paths.get(cluster))
      def leased(): Boolean = bus.events().exists(e => e.jobId == jobId &&
        e.sourceNodeId == "node-a" &&
        e.eventName == Lifecycle.EventType.RequesterLease)
      val dLease = System.currentTimeMillis() + 30000
      while (!leased() && System.currentTimeMillis() < dLease)
        Thread.sleep(150)
      assert(leased(),
        "expected RequesterLease beacons from the creator before the kill")
      val running = settled.collect {
        case (n, st, _) if st == Lifecycle.State.Running => n }
      val pool = settled.collect {
        case (n, st, _) if st == Lifecycle.State.Cancelled => n }
      val victim = running.min
      val survivorReplica = (running.toSet - victim).head
      // poll the rest of the run through a node that is never killed
      val safeClient = clients(nodes.indexOf(pool.head))
      def snapSafe(): Seq[(String, String, String)] = safeClient.states(jobId)

      // phase 2: kill the requester AND one running replica together;
      // open the survivors' gates so their replicas can finish while the
      // cluster re-elects
      byNode("node-a").destroyForcibly()
      byNode(victim).destroyForcibly()
      nodes.filterNot(_ == victim).foreach { n =>
        Files.writeString(Paths.get(s"$dir/gate-$n"), "go\n")
      }

      // phase 3: a survivor elects itself requester (9 s lease expiry),
      // then — as the new holder — declares the victim dead (12 s
      // staleness) and promotes the cancelled bidder
      val d3 = System.currentTimeMillis() + 120000
      def done(s: Seq[(String, String, String)]): Boolean =
        s.count(_._2 == Lifecycle.State.Complete) == 2 &&
          s.exists(t => t._1 == victim && t._2 == Lifecycle.State.Error)
      while (!done(snapSafe()) && System.currentTimeMillis() < d3)
        Thread.sleep(300)

      val states = snapSafe()
      assert(states.size === 3, s"expected 3 node states, got $states")
      assert(done(states), s"failover never converged: $states")
      assert(states.exists(t => t._1 == pool.head &&
        t._2 == Lifecycle.State.Complete),
        s"cancelled bidder ${pool.head} must be promoted to Complete: $states")

      // the bus tells the whole story, with the right actors
      val jevs = bus.events().filter(_.jobId == jobId)
      val elects = jevs.filter(_.eventName == Lifecycle.EventType.RequesterElect)
      assert(elects.nonEmpty, "expected a RequesterElect claim on the bus")
      assert(elects.forall(_.sourceNodeId != "node-a"),
        s"the dead creator cannot elect itself: $elects")
      val newHolder = elects.last.sourceNodeId
      // the replacement decisions must come from an ELECTED requester
      // (usually the final holder; during the benign one-poll claim
      // overlap, possibly an earlier claimant — same deterministic
      // decision either way), never from the dead creator
      val electors = elects.map(_.sourceNodeId).toSet
      val deadDecl = jevs.filter(e => e.targetNodeId == victim &&
        e.eventName == Lifecycle.EventType.Error &&
        e.status.contains("presumed dead"))
      assert(deadDecl.nonEmpty && deadDecl.forall(e =>
        electors(e.sourceNodeId)),
        s"an elected requester must declare the victim dead: $deadDecl")
      val promo = jevs.filter(e => e.targetNodeId == pool.head &&
        e.eventName == Lifecycle.EventType.BidAccepted &&
        e.status.contains("replacing stale replica"))
      assert(promo.nonEmpty && promo.forall(e => electors(e.sourceNodeId)),
        s"an elected requester must promote the cancelled bidder: $promo")
      // the survivor was accepted by node-a, the promoted node by the
      // elected holder — their digests must still agree (A12 across a
      // requester handoff)
      val cids = states.filter(_._2 == Lifecycle.State.Complete).map(_._3)
      assert(cids.forall(_.nonEmpty) && cids.distinct.size === 1,
        s"replica digests disagree across the failover: $cids")
      info(s"requester failover converged in " +
        s"${System.currentTimeMillis() - t0} ms (victim=$victim, " +
        s"elected=$newHolder, promoted=${pool.head}, " +
        s"survivor=$survivorReplica)")
    } finally {
      procs.foreach(_.destroyForcibly())
      nodes.foreach(n => Files.writeString(Paths.get(s"$dir/gate-$n"), "go\n"))
    }
  }

  test("two-deep replacement pool at Concurrency=3: killing the requester " +
       "AND two accepted replicas promotes BOTH cancelled bidders") {
    // VERDICT r7 #3, one rung past the single-replacement case: six real
    // JVMs — node-a requester-only, b..f compute — Concurrency=3 so the
    // accept race leaves 3 Running + 2 Cancelled. The kill takes the
    // requester and TWO of the three accepted replicas in the same
    // breath; the elected holder must then run the inherited staleness
    // duty twice in one poll (the stale set has two members), promoting
    // BOTH pool bidders. Convergence = 3 Complete (1 survivor + 2
    // promoted) + 2 Error, with three-way digest agreement spanning
    // decisions by the original requester and the elected one.
    val t0 = System.currentTimeMillis()
    val dir = Files.createTempDirectory("graft-rf3").toString
    val cluster = s"$dir/cluster"
    val nodes = Seq("node-a", "node-b", "node-c", "node-d", "node-e",
      "node-f")
    val procs = nodes.map(id =>
      spawnServe(dir, cluster, id, noCompute = id == "node-a"))
    val byNode = nodes.zip(procs).toMap
    try {
      val deadline = System.currentTimeMillis() + 240000
      val ports = nodes.zip(procs).map { case (id, p) =>
        portFromLog(dir, id, p, deadline)
      }
      val clients = ports.map(p => new ApiClient(s"http://127.0.0.1:$p"))
      for ((c, i) <- clients.zipWithIndex) {
        var up = false
        while (!up && System.currentTimeMillis() < deadline) {
          try { c.list(); up = true }
          catch { case _: Exception =>
            assert(procs(i).isAlive, s"serve ${nodes(i)} died: " +
              Files.readString(Paths.get(s"$dir/serve-${nodes(i)}.log"))
                .takeRight(2000))
            Thread.sleep(250)
          }
        }
        assert(up, s"serve ${nodes(i)} never came up")
      }

      Files.writeString(Paths.get(s"$dir/fruit.txt"),
        "mango\npapaya\nguava\n")
      val jobId = clients.head.submit(
        s"""{"engine_name": "docker", "verifier_name": "ipfs",
           |  "job_spec_docker": {"image": "ubuntu",
           |    "entrypoint": ["bash", "-c",
           |      "while [ ! -f $$GRAFT_TEST_GATE ]; do sleep 0.1; done; cat"]},
           |  "inputs": [{"engine_name": "ipfs", "name": "in",
           |    "cid": "$dir/fruit.txt", "path": "/data/file.txt"}],
           |  "annotations": ["raw-exec"],
           |  "deal": {"concurrency": 3}}""".stripMargin)

      // phase 1: 3 Running + 2 Cancelled over {b..f}; node-a stateless
      def snap(): Seq[(String, String, String)] = clients(1).states(jobId)
      val d2 = System.currentTimeMillis() + 120000
      def phase1(s: Seq[(String, String, String)]): Boolean =
        s.count(_._2 == Lifecycle.State.Running) == 3 &&
          s.count(_._2 == Lifecycle.State.Cancelled) == 2
      while (!phase1(snap()) && System.currentTimeMillis() < d2)
        Thread.sleep(150)
      val settled = snap()
      assert(phase1(settled), s"accept race never settled: $settled")
      assert(!settled.exists(_._1 == "node-a"),
        s"a --no-compute node must never appear in job state: $settled")
      val bus = new FileBus(Paths.get(cluster))
      def leased(): Boolean = bus.events().exists(e => e.jobId == jobId &&
        e.sourceNodeId == "node-a" &&
        e.eventName == Lifecycle.EventType.RequesterLease)
      val dLease = System.currentTimeMillis() + 30000
      while (!leased() && System.currentTimeMillis() < dLease)
        Thread.sleep(150)
      assert(leased(),
        "expected RequesterLease beacons from the creator before the kill")

      val running = settled.collect {
        case (n, st, _) if st == Lifecycle.State.Running => n }.sorted
      val pool = settled.collect {
        case (n, st, _) if st == Lifecycle.State.Cancelled => n }.sorted
      val victims = running.take(2)
      val survivorReplica = running.last
      val safeClient = clients(nodes.indexOf(pool.head))
      def snapSafe(): Seq[(String, String, String)] = safeClient.states(jobId)

      // phase 2: kill the requester and two accepted replicas together;
      // open every survivor's gate
      byNode("node-a").destroyForcibly()
      victims.foreach(v => byNode(v).destroyForcibly())
      nodes.filterNot(victims.contains).foreach { n =>
        Files.writeString(Paths.get(s"$dir/gate-$n"), "go\n")
      }

      // phase 3: election (9 s), then double replacement (12 s stale)
      val d3 = System.currentTimeMillis() + 180000
      def done(s: Seq[(String, String, String)]): Boolean =
        s.count(_._2 == Lifecycle.State.Complete) == 3 &&
          victims.forall(v => s.exists(t => t._1 == v &&
            t._2 == Lifecycle.State.Error))
      while (!done(snapSafe()) && System.currentTimeMillis() < d3)
        Thread.sleep(300)
      val states = snapSafe()
      assert(states.size === 5, s"expected 5 node states, got $states")
      assert(done(states), s"two-deep failover never converged: $states")
      pool.foreach { p =>
        assert(states.exists(t => t._1 == p &&
          t._2 == Lifecycle.State.Complete),
          s"cancelled bidder $p must be promoted to Complete: $states")
      }
      assert(states.exists(t => t._1 == survivorReplica &&
        t._2 == Lifecycle.State.Complete),
        s"the surviving original replica must finish: $states")

      // the bus: a non-creator won the lease; every death declaration
      // and BOTH promotions came from elected holders
      val jevs = bus.events().filter(_.jobId == jobId)
      val elects = jevs
        .filter(_.eventName == Lifecycle.EventType.RequesterElect)
      assert(elects.nonEmpty, "expected a RequesterElect claim on the bus")
      assert(elects.forall(_.sourceNodeId != "node-a"))
      val electors = elects.map(_.sourceNodeId).toSet
      victims.foreach { v =>
        val decl = jevs.filter(e => e.targetNodeId == v &&
          e.eventName == Lifecycle.EventType.Error &&
          e.status.contains("presumed dead"))
        assert(decl.nonEmpty && decl.forall(e => electors(e.sourceNodeId)),
          s"an elected requester must declare $v dead: $decl")
      }
      pool.foreach { p =>
        val promo = jevs.filter(e => e.targetNodeId == p &&
          e.eventName == Lifecycle.EventType.BidAccepted &&
          e.status.contains("replacing stale replica"))
        assert(promo.nonEmpty && promo.forall(e => electors(e.sourceNodeId)),
          s"an elected requester must promote $p: $promo")
      }
      val cids = states.filter(_._2 == Lifecycle.State.Complete).map(_._3)
      assert(cids.size === 3 && cids.forall(_.nonEmpty) &&
        cids.distinct.size === 1,
        s"three-way digest agreement must span the handoff: $cids")
      info(s"two-deep failover converged in " +
        s"${System.currentTimeMillis() - t0} ms (victims=$victims, " +
        s"elected=${elects.last.sourceNodeId}, promoted=$pool)")
    } finally {
      procs.foreach(_.destroyForcibly())
      nodes.foreach(n => Files.writeString(Paths.get(s"$dir/gate-$n"), "go\n"))
    }
  }

  test("requester that is ALSO a compute bidder: killing it mid-job still " +
       "elects a successor and the deal completes (both accept branches)") {
    // NEXT r7 #3: the composition case — no --no-compute isolation, the
    // creator bids like everyone else, so it dies either as
    // requester+replica (accept race put it in the Running set) or as
    // requester+cancelled-bidder. Both branches must end with a
    // non-creator RequesterElect on the bus and the full Concurrency=2
    // worth of agreeing digests; the replica branch must ALSO replace
    // the dead replica via the elected holder. Gates stay closed until
    // the election is observed, so the handoff provably happens while
    // the job is open.
    val t0 = System.currentTimeMillis()
    val dir = Files.createTempDirectory("graft-rf2").toString
    val cluster = s"$dir/cluster"
    val nodes = Seq("node-a", "node-b", "node-c", "node-d")
    val procs = nodes.map(id =>
      spawnServe(dir, cluster, id, noCompute = false))
    val byNode = nodes.zip(procs).toMap
    try {
      val deadline = System.currentTimeMillis() + 180000
      val ports = nodes.zip(procs).map { case (id, p) =>
        portFromLog(dir, id, p, deadline)
      }
      val clients = ports.map(p => new ApiClient(s"http://127.0.0.1:$p"))
      for ((c, i) <- clients.zipWithIndex) {
        var up = false
        while (!up && System.currentTimeMillis() < deadline) {
          try { c.list(); up = true }
          catch { case _: Exception =>
            assert(procs(i).isAlive, s"serve ${nodes(i)} died")
            Thread.sleep(250)
          }
        }
        assert(up, s"serve ${nodes(i)} never came up")
      }
      Files.writeString(Paths.get(s"$dir/fruit.txt"), "plum\nfig\n")
      val jobId = clients.head.submit(
        s"""{"engine_name": "docker", "verifier_name": "ipfs",
           |  "job_spec_docker": {"image": "ubuntu",
           |    "entrypoint": ["bash", "-c",
           |      "while [ ! -f $$GRAFT_TEST_GATE ]; do sleep 0.1; done; cat"]},
           |  "inputs": [{"engine_name": "ipfs", "name": "in",
           |    "cid": "$dir/fruit.txt", "path": "/data/file.txt"}],
           |  "annotations": ["raw-exec"],
           |  "deal": {"concurrency": 2}}""".stripMargin)

      // phase 1: 2 Running + 2 Cancelled over all four bidders (the
      // creator bids too — no requester-only carve-out here)
      def snapB(): Seq[(String, String, String)] = clients(1).states(jobId)
      val d2 = System.currentTimeMillis() + 120000
      def phase1(s: Seq[(String, String, String)]): Boolean =
        s.count(_._2 == Lifecycle.State.Running) == 2 &&
          s.count(_._2 == Lifecycle.State.Cancelled) == 2
      while (!phase1(snapB()) && System.currentTimeMillis() < d2)
        Thread.sleep(150)
      val settled = snapB()
      assert(phase1(settled), s"accept race never settled: $settled")
      val aWasRunning = settled
        .exists(t => t._1 == "node-a" && t._2 == Lifecycle.State.Running)
      // node-b is polled below and must survive: if node-b created
      // neither the job nor is it the victim, this is safe — node-a is
      // always both creator and victim here
      byNode("node-a").destroyForcibly()

      // phase 2: with every gate still closed, the cluster must elect a
      // successor (node-a's heartbeats and leases died with it)
      val bus = new FileBus(Paths.get(cluster))
      def elects() = bus.events().filter(e => e.jobId == jobId &&
        e.eventName == Lifecycle.EventType.RequesterElect)
      val dE = System.currentTimeMillis() + 60000
      while (elects().isEmpty && System.currentTimeMillis() < dE)
        Thread.sleep(200)
      assert(elects().nonEmpty, "no RequesterElect after the creator died")
      assert(elects().forall(_.sourceNodeId != "node-a"))

      // phase 3: open the survivors' gates; the deal must complete at
      // full concurrency on either branch
      nodes.filterNot(_ == "node-a").foreach { n =>
        Files.writeString(Paths.get(s"$dir/gate-$n"), "go\n")
      }
      val d3 = System.currentTimeMillis() + 120000
      def done(s: Seq[(String, String, String)]): Boolean =
        s.count(_._2 == Lifecycle.State.Complete) == 2 &&
          (!aWasRunning || s.exists(t => t._1 == "node-a" &&
            t._2 == Lifecycle.State.Error))
      while (!done(snapB()) && System.currentTimeMillis() < d3)
        Thread.sleep(300)
      val states = snapB()
      assert(done(states), s"failover never converged " +
        s"(aWasRunning=$aWasRunning): $states")
      if (aWasRunning) {
        // the elected holder must have replaced the dead replica
        val jevs = bus.events().filter(_.jobId == jobId)
        assert(jevs.exists(e => e.targetNodeId == "node-a" &&
          e.eventName == Lifecycle.EventType.Error &&
          e.status.contains("presumed dead")),
          "dead requester-replica must be declared dead by the successor")
        assert(jevs.exists(e => e.sourceNodeId != "node-a" &&
          e.eventName == Lifecycle.EventType.BidAccepted &&
          e.status.contains("replacing stale replica")),
          "a pool bidder must be promoted by the successor")
      }
      val cids = states.filter(_._2 == Lifecycle.State.Complete).map(_._3)
      assert(cids.forall(_.nonEmpty) && cids.distinct.size === 1,
        s"replica digests disagree: $cids")
      info(s"composed failover converged in " +
        s"${System.currentTimeMillis() - t0} ms " +
        s"(creator was ${if (aWasRunning) "a Running replica"
          else "a cancelled bidder"}; elected=${elects().last.sourceNodeId})")
    } finally {
      procs.foreach(_.destroyForcibly())
      nodes.foreach(n => Files.writeString(Paths.get(s"$dir/gate-$n"), "go\n"))
    }
  }
}
