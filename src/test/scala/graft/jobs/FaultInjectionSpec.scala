package graft.jobs

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Devstack fault injection END TO END (NEXT.md #4): kill a serve
  * PROCESS while its replica is mid-execution and watch the requester's
  * wall-clock staleness path declare it dead — the live-JVM counterpart
  * of DevstackSpec's deterministic stepped failover (reference analog:
  * the heartbeat-timeout transition the devstack tests exercise,
  * pkg/devstack/devstack.go:54-258).
  *
  * Determinism without sleeps-and-hope: the job is a raw-exec
  * `sleep $GRAFT_TEST_HANG` and the HANG value rides each serve
  * process's ENVIRONMENT (PipeOps children inherit it) — 0 on node-a
  * and node-c, 300 s on node-b. With Concurrency=3 every node is
  * accepted regardless of bid order, a and c complete instantly, and b
  * is GUARANTEED to still be executing whenever the kill lands.
  */
class FaultInjectionSpec extends AnyFunSuite {

  private def spawnServe(dir: String, clusterDir: String, nodeId: String,
                         hangSecs: Int): Process = {
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
      "--serve-ms", "180000",
      "--cluster-dir", clusterDir,
      "--node-id", nodeId,
      "--stale-ms", "5000",
      "--state-dir", s"$dir/state-$nodeId")).toArray
    val pb = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    pb.environment().put("GRAFT_TEST_HANG", hangSecs.toString)
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

  test("killed mid-execution replica is staled dead; survivors complete") {
    val dir = Files.createTempDirectory("graft-fi").toString
    val cluster = s"$dir/cluster"
    // node-b's raw-exec children sleep 300 s — mid-execution forever on
    // the test's clock; a and c run the same command with HANG=0
    val hang = Map("node-a" -> 0, "node-b" -> 300, "node-c" -> 0)
    val nodes = Seq("node-a", "node-b", "node-c")
    val procs = nodes.map(id => spawnServe(dir, cluster, id, hang(id)))
    val byNode = nodes.zip(procs).toMap
    try {
      val deadline = System.currentTimeMillis() + 150000
      val ports = nodes.zip(procs).map { case (id, p) =>
        portFromLog(dir, id, p, deadline)
      }
      val clients = ports.map(p => new ApiClient(s"http://127.0.0.1:$p"))
      for ((c, i) <- clients.zipWithIndex) {
        var up = false
        while (!up && System.currentTimeMillis() < deadline) {
          try { c.list(); up = true }
          catch { case _: Exception => Thread.sleep(250) }
        }
        assert(up, s"serve ${nodes(i)} never came up")
      }

      // `;`-chained shell → not native-compilable → raw-exec → PipeOps,
      // which inherits each serve process's GRAFT_TEST_HANG (the escape
      // hatch needs an input volume to stream — any file does)
      Files.writeString(Paths.get(s"$dir/fruit.txt"), "apple\n")
      val jobId = clients.head.submit(
        s"""{"engine_name": "docker", "verifier_name": "ipfs",
           |  "job_spec_docker": {"image": "ubuntu",
           |    "entrypoint": ["bash", "-c",
           |      "echo grape; echo kiwi; sleep $$GRAFT_TEST_HANG"]},
           |  "inputs": [{"engine_name": "ipfs", "name": "in",
           |    "cid": "$dir/fruit.txt", "path": "/data/file.txt"}],
           |  "annotations": ["raw-exec"],
           |  "deal": {"concurrency": 3}}""".stripMargin)

      // wait for b's Running ONLY — the 5 s staleness clock starts at
      // that event (b emits nothing while it sleeps), so the kill must
      // not queue behind the survivors' completions
      val d2 = System.currentTimeMillis() + 120000
      def stateOf(n: String): Option[String] =
        clients.head.states(jobId).collectFirst { case (`n`, st, _) => st }
      while (stateOf("node-b") != Some(Lifecycle.State.Running) &&
             System.currentTimeMillis() < d2)
        Thread.sleep(200)
      assert(stateOf("node-b") === Some(Lifecycle.State.Running),
        s"node-b never reached mid-execution: ${clients.head.states(jobId)}")

      // the fault: kill node-b's whole JVM while its replica executes
      byNode("node-b").destroyForcibly()

      // requester's wall-clock staleness (5 s) must declare it dead; no
      // replacement exists (every node already bid and was accepted).
      // The survivors complete on their own clock.
      val d3 = System.currentTimeMillis() + 60000
      while ((stateOf("node-b") != Some(Lifecycle.State.Error) ||
              stateOf("node-a") != Some(Lifecycle.State.Complete) ||
              stateOf("node-c") != Some(Lifecycle.State.Complete)) &&
             System.currentTimeMillis() < d3)
        Thread.sleep(300)

      val states = clients.head.states(jobId)
      assert(states.count(_._2 == Lifecycle.State.Complete) === 2,
        s"expected the 2 survivors Complete in $states")
      val bRow = states.collectFirst {
        case ("node-b", st, _) => st }
      assert(bRow === Some(Lifecycle.State.Error),
        s"killed replica must be presumed dead: $states")
      // survivors' independent executions published identical digests
      val cids = states.filter(_._2 == Lifecycle.State.Complete).map(_._3)
      assert(cids.forall(_.nonEmpty) && cids.distinct.size === 1,
        s"replica digests disagree: $cids")
      // the bus carries the post-mortem reason
      val bus = new FileBus(Paths.get(cluster))
      assert(bus.events().exists(e =>
        e.jobId == jobId && e.targetNodeId == "node-b" &&
          e.eventName == Lifecycle.EventType.Error &&
          e.status.contains("presumed dead")),
        "expected a presumed-dead Error event for node-b")
    } finally procs.foreach(_.destroyForcibly())
  }
}
