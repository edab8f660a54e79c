package graft.jobs

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Devstack at N=5 with an injected fault AND failover (VERDICT r6
  * stretch #8): the reference roadmap's scale story is node-count first
  * (reference ROADMAP.md:15-17), and its devstack proof ladder stops at
  * three nodes (pkg/test/devstack/concurrency_test.go:46-105). This spec
  * climbs the next rung with FIVE real `Cli serve` JVMs and a
  * Concurrency=3 deal — which is also the first shape where the
  * requester's replacement pool (Devstack.scala staleness branch) is
  * non-empty: with 5 bidders and 3 accepts, killing an accepted replica
  * mid-execution must both declare it dead (heartbeat-timeout analog)
  * and RE-ACCEPT one of the surplus-cancelled bidders, whose execution
  * then completes. ThreeProcessSpec/FaultInjectionSpec cannot exercise
  * this: at N=3/Concurrency=3 every bidder is already accepted, so the
  * dead replica has no stand-in.
  *
  * Determinism without sleeps-and-hope: every node's replica blocks on
  * its OWN gate file (the path rides the serve process environment as
  * GRAFT_TEST_GATE; PipeOps children inherit it). The test observes
  * which 3 nodes are Running, picks a victim among them (never node-a —
  * the job's creator is the only requester, it must survive to run the
  * staleness branch), releases every other gate, and only then kills
  * the victim's JVM. Survivors and the promoted replacement run the
  * SAME deterministic plan, so the closing assertion is three-way
  * cross-process digest agreement (A12) spanning the failover.
  */
class FiveProcessSpec extends AnyFunSuite {

  private def spawnServe(dir: String, clusterDir: String, nodeId: String): Process = {
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

  test("5-node devstack, Concurrency=3: killed replica is replaced from the " +
       "cancelled pool; 3 digests agree across the failover") {
    val t0 = System.currentTimeMillis()
    val dir = Files.createTempDirectory("graft-5p").toString
    val cluster = s"$dir/cluster"
    val nodes = Seq("node-a", "node-b", "node-c", "node-d", "node-e")
    val procs = nodes.map(id => spawnServe(dir, cluster, id))
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
      // `while`-gated shell → raw-exec → PipeOps, which inherits each
      // serve process's GRAFT_TEST_GATE: the replica blocks until THIS
      // test creates that node's gate file, then emits the payload (the
      // escape hatch streams the input volume on STDIN — hence `cat`,
      // not a /data path)
      val jobId = clients.head.submit(
        s"""{"engine_name": "docker", "verifier_name": "ipfs",
           |  "job_spec_docker": {"image": "ubuntu",
           |    "entrypoint": ["bash", "-c",
           |      "while [ ! -f $$GRAFT_TEST_GATE ]; do sleep 0.1; done; cat"]},
           |  "inputs": [{"engine_name": "ipfs", "name": "in",
           |    "cid": "$dir/fruit.txt", "path": "/data/file.txt"}],
           |  "annotations": ["raw-exec"],
           |  "deal": {"concurrency": 3}}""".stripMargin)

      // phase 1: the accept race must settle as 3 Running + 2 Cancelled
      // (every replica is gate-blocked, so nothing can complete yet).
      // Gate-blocked replicas emit no PROGRESS events, but their 2 s
      // heartbeats keep the requester's 12 s staleness clock fresh — so
      // the staleness bound measures process death, not how long five
      // cold JVMs take to settle. (Without heartbeats this exact run
      // cascades every live replica into presumed-dead unless staleMs
      // is inflated past the worst silent window; SCALING.md records
      // both readings.)
      def snap(): Seq[(String, String, String)] = clients.head.states(jobId)
      val d2 = System.currentTimeMillis() + 120000
      def phase1(s: Seq[(String, String, String)]): Boolean =
        s.count(_._2 == Lifecycle.State.Running) == 3 &&
          s.count(_._2 == Lifecycle.State.Cancelled) == 2
      while (!phase1(snap()) && System.currentTimeMillis() < d2)
        Thread.sleep(150)
      val settled = snap()
      assert(phase1(settled), s"accept race never settled: $settled")
      val running = settled.collect {
        case (n, st, _) if st == Lifecycle.State.Running => n }
      val pool = settled.collect {
        case (n, st, _) if st == Lifecycle.State.Cancelled => n }

      // phase 2: victim = any Running node except the requester (node-a
      // created the job; Devstack's requester half — acceptance,
      // staleness, replacement — runs only on the creator). Release
      // every OTHER node's gate first, then kill the victim's JVM while
      // its replica is provably mid-execution (gate still closed).
      val victim = running.filter(_ != "node-a").min
      nodes.filterNot(_ == victim).foreach { n =>
        Files.writeString(Paths.get(s"$dir/gate-$n"), "go\n")
      }
      byNode(victim).destroyForcibly()

      // phase 3: survivors complete on their own clocks; the requester's
      // wall-clock staleness declares the victim dead and promotes the
      // first still-usable bidder from the cancelled pool, whose gate is
      // already open — it must run to Complete.
      val d3 = System.currentTimeMillis() + 120000
      def done(s: Seq[(String, String, String)]): Boolean =
        s.count(_._2 == Lifecycle.State.Complete) == 3 &&
          s.exists(t => t._1 == victim && t._2 == Lifecycle.State.Error)
      while (!done(snap()) && System.currentTimeMillis() < d3)
        Thread.sleep(300)

      val states = snap()
      assert(states.size === 5, s"expected 5 node states, got $states")
      assert(done(states), s"failover never converged: $states")
      // exactly one pool node was promoted; the other stays Cancelled
      val promoted = states.collect {
        case (n, st, _) if pool.contains(n) &&
          st == Lifecycle.State.Complete => n }
      assert(promoted.size === 1,
        s"expected exactly 1 promoted replacement from $pool: $states")
      assert(states.count(_._2 == Lifecycle.State.Cancelled) === 1,
        s"expected the non-promoted pool node to stay Cancelled: $states")
      // three-way cross-process digest agreement across the failover
      val cids = states.filter(_._2 == Lifecycle.State.Complete).map(_._3)
      assert(cids.forall(_.nonEmpty) && cids.distinct.size === 1,
        s"replica digests disagree: $cids")
      // the bus carries both halves of the failover decision
      val bus = new FileBus(Paths.get(cluster))
      val jevs = bus.events().filter(_.jobId == jobId)
      assert(jevs.exists(e => e.targetNodeId == victim &&
        e.eventName == Lifecycle.EventType.Error &&
        e.status.contains("presumed dead")),
        "expected a presumed-dead Error event for the victim")
      assert(jevs.exists(e => e.targetNodeId == promoted.head &&
        e.eventName == Lifecycle.EventType.BidAccepted &&
        e.status.contains("replacing stale replica")),
        "expected a replacing-stale-replica BidAccepted for the promotion")
      info(s"5-node failover converged in ${System.currentTimeMillis() - t0} ms " +
        s"(victim=$victim, promoted=${promoted.head})")
    } finally {
      procs.foreach(_.destroyForcibly())
      // the victim's bash gate-loop outlives its JVM; open every gate so
      // no orphan keeps polling after the test
      nodes.foreach(n => Files.writeString(Paths.get(s"$dir/gate-$n"), "go\n"))
    }
  }
}
