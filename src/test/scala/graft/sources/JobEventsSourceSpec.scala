package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.jobs.{FileBus, JobEvent}
import graft.SparkSuite

class JobEventsSourceSpec extends AnyFunSuite with SparkSuite {

  private def mkBus(): (FileBus, String, Seq[JobEvent]) = {
    val dir = Files.createTempDirectory("graft-jobevents")
    val bus = new FileBus(dir)
    val evs = (1 to 40).map { i =>
      bus.append(JobEvent(jobId = s"job-${i % 4}", clientId = "c",
        sourceNodeId = s"n${i % 3}", targetNodeId = "",
        eventName = if (i % 5 == 0) "Running" else "Created",
        status = s"s$i", resultsId = "", eventTimeUs = i * 1000L),
        nodeId = s"n${i % 3}")
    }
    (bus, dir.toString, evs)
  }

  test("reads the bus verbatim: same rows as FileBus.events()") {
    val (bus, dir, _) = mkBus()
    val df = spark.read.format("graft-jobevents").load(dir)
    val got = df.orderBy("event_time_us")
      .collect().map(r => (r.getString(0), r.getString(4), r.getString(5),
        r.getLong(7)))
    val want = bus.events()
      .map(e => (e.jobId, e.eventName, e.status, e.eventTimeUs))
    assert(got.toSeq === want)
  }

  test("column pruning reaches the scan (select one field parses one field)") {
    val (_, dir, _) = mkBus()
    val df = spark.read.format("graft-jobevents").load(dir)
      .select("job_id")
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b }
    assert(scans.nonEmpty, "expected a BatchScanExec")
    assert(scans.head.scan.readSchema().fieldNames.toSeq === Seq("job_id"),
      scans.head.scan.description())
    assert(df.distinct().count() === 4)
  }

  test("event_time_us predicates prune FILES and leave no residual Filter") {
    val (_, dir, _) = mkBus()
    val df = spark.read.format("graft-jobevents").load(dir)
      .filter(col("event_time_us") >= 30000L &&
        col("event_time_us") <= 35000L)
    // correctness: stamps 30..35 inclusive
    assert(df.count() === 6)
    val plan = df.queryExecution.executedPlan
    val scan = plan.collect { case b: BatchScanExec => b }.head.scan
    assert(scan.description().contains("pushedTimeRange=[30000,35000]"),
      scan.description())
    // file-level pruning is exact: only the 6 in-range files are planned
    val files = scan.toBatch.planInputPartitions()
      .map(_.asInstanceOf[JobEventsPartition].files.length).sum
    assert(files === 6, s"expected 6 files planned, got $files")
    // fully pushed → no post-scan Filter node re-evaluates the range
    val filters = plan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f }
    assert(filters.isEmpty, plan.toString)
  }

  test("non-time predicates stay residual and still evaluate correctly") {
    val (_, dir, _) = mkBus()
    val df = spark.read.format("graft-jobevents").load(dir)
      .filter(col("event_name") === "Running")
    assert(df.count() === 8)
    val scan = df.queryExecution.executedPlan
      .collect { case b: BatchScanExec => b }.head.scan
    assert(scan.description().contains(
      s"pushedTimeRange=[${Long.MinValue},${Long.MaxValue}]"),
      scan.description())
  }

  test("micro-batch stream tails the bus incrementally across restarts") {
    import org.apache.spark.sql.streaming.Trigger
    val (bus, dir, _) = mkBus()
    val ckpt = Files.createTempDirectory("graft-jobevents-ckpt").toString
    val out = Files.createTempDirectory("graft-jobevents-out").toString
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-jobevents").load(dir)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(out).count() === 40)
    // new appends after the checkpointed offset: ONLY they arrive (a
    // re-read of the first 40 would double them in the append sink)
    (41 to 45).foreach { i =>
      bus.append(graft.jobs.JobEvent(jobId = "job-x", clientId = "c",
        sourceNodeId = "n0", targetNodeId = "", eventName = "Created",
        status = s"s$i", resultsId = "", eventTimeUs = i * 1000L),
        nodeId = "n0")
    }
    runOnce()
    val all = spark.read.parquet(out)
    assert(all.count() === 45)
    assert(all.filter(col("job_id") === "job-x").count() === 5)
  }

  test("serve verbs in cluster mode read through the connector " +
       "(/states + /events against a live ApiServer)") {
    import graft.jobs.{ApiClient, ApiServer, DevstackNode}
    val dir = Files.createTempDirectory("graft-serve-v2").toString
    // a devstack node whose poll loop is never started: the bus dir is
    // the fixture; anything the serve verbs answer can only have come
    // from reading that dir — which cluster-mode routes through the
    // graft-jobevents DataSource V2 table
    val node = new DevstackNode(spark, "nA", dir)
    val lifecycle = Seq("Created", "Bid", "BidAccepted", "Running",
      "Completed")
    lifecycle.zipWithIndex.foreach { case (ev, i) =>
      node.bus.append(JobEvent(jobId = "job-v2", clientId = "c",
        sourceNodeId = "nA", targetNodeId = "nB", eventName = ev,
        status = if (ev == "Completed") "done" else "",
        resultsId = if (ev == "Completed") "res-1" else "",
        eventTimeUs = (i + 1) * 1000L), nodeId = "nA")
    }
    val server = new ApiServer(spark, dir, cluster = Some(node))
    server.start()
    try {
      val client = new ApiClient(server.uri,
        Files.createTempDirectory("graft-serve-keys"))
      // /states: the distributed fold over the V2 table — one folded row
      // for the executing node, furthest-along state, results backfilled
      assert(client.states("job-v2") ===
        Seq(("nB", "Complete", "res-1")))
      // /events: the V2 scan ordered by the Lamport stamp
      assert(client.events("job-v2") === lifecycle)
      // an unknown job folds to nothing (predicate reaches the scan)
      assert(client.states("no-such-job").isEmpty)
    } finally server.stop()
  }

  test("the fold over the connector equals the driver-local fold (A16)") {
    val (bus, dir, _) = mkBus()
    val df = spark.read.format("graft-jobevents").load(dir)
    // furthest-along event per (job, node) — same keyed-fold shape as
    // EventLog.foldStates, here composed directly over the DSv2 table
    val folded = df.groupBy("job_id", "source_node_id")
      .agg(max(struct(col("event_time_us"), col("event_name"))).as("m"))
      .select(col("job_id"), col("source_node_id"),
        col("m.event_name").as("event_name"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    val want = bus.events().groupBy(e => (e.jobId, e.sourceNodeId))
      .view.mapValues(_.maxBy(_.eventTimeUs).eventName).toMap
    assert(folded === want)
  }
}
