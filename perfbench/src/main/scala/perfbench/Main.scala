package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Everything one run measured and checked. */
final class Report {
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]
  /** The end-to-end metrics every workload reports (BENCHMARK.json). */
  val endToEnd = ArrayBuffer.empty[Metric]
  /** This workload's own named metrics, printed as bare lines. */
  val named = ArrayBuffer.empty[Metric]
  val layers = ArrayBuffer.empty[Metric]
  val details: ObjectNode = Stats.obj()

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }
}

/** Benchmark entry point:
  * `--workload W --seed N --seconds S --trace 0|1 --cores C --data DIR
  * --work DIR --goldens FILE [--record 1]`.
  *
  * Prints bare JSON lines: run details, each named metric with its unit and
  * sample count, in a traced run the per-layer table, and last the result
  * object. `--record 1` rewrites this workload's goldens from this run. */
object Main {
  val Workloads = Seq("catalog_small", "catalog_heavy", "cp_mixed")

  /** catalog_small's sample: keys whose salted name hash is 0 modulo this.
    * The hash depends only on the key's name, so adding or removing other
    * keys leaves the sample alone; `--seed` only orders it. */
  val SampleSalt = "perfbench:"
  val SampleModulus = 40

  /** Whole timed passes over the catalog keys, at the least. */
  val MinPasses = 2

  /** catalog_heavy: driver-side iterative loops, then executor-CPU-bound
    * ANN and scoring keys. */
  val Heavy = Seq("q_kcore", "q_label_prop", "q_wl_colors", "q_pagerank",
    "q_hits", "q_textrank", "q_bradley_terry", "q_ndcg", "q_pq_sweep",
    "q_ivfpq_recall", "q_ir_metrics", "q_naive_bayes", "q_lof")

  def sampled(key: String): Boolean = {
    val h = MessageDigest.getInstance("SHA-256")
      .digest((SampleSalt + key).getBytes("UTF-8"))
    val top = h.take(4).foldLeft(0L)((a, b) => (a << 8) | (b & 0xff))
    top % SampleModulus == 0
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = Files.createDirectories(Paths.get(opt("work")))
    val goldensPath = Paths.get(opt("goldens"))
    val record = opt.get("record").contains("1")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val rep = new Report
    rep.details.put("workload", workload).put("seed", seed).put("seconds", seconds)
      .put("trace", trace).put("nproc", cores)
    rep.details.putPOJO("loadavg_start", Stats.loadavg().asJava)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // The listeners are the traced run's instruments; the untraced run
    // measures the end-to-end metrics without them.
    val tap = new SparkTap
    if (trace) {
      spark.listenerManager.register(tap.queryListener)
      spark.sparkContext.addSparkListener(tap)
    }
    val tracer = new Tracer(trace)
    rep.details.put("session_s", (System.currentTimeMillis() - jvmStartMs) / 1e3)
    val goldens = Stats.mapper.readTree(goldensPath.toFile).asInstanceOf[ObjectNode]

    val run = new Run(spark, workload, seed, seconds, trace, cores, work,
      opt("data"), goldens, record, jvmStartMs, tap, tracer, rep)
    try run.go()
    finally spark.stop()

    if (record)
      Files.writeString(goldensPath,
        Stats.mapper.writerWithDefaultPrettyPrinter().writeValueAsString(goldens) + "\n")
    rep.details.putPOJO("loadavg_end", Stats.loadavg().asJava)
    rep.named += Metric("fail_ratio", rep.failed.toDouble / math.max(1, rep.attempted),
      "ratio", rep.attempted)
    val fl = rep.details.putArray("failures")
    rep.failures.foreach(fl.add)
    // Also on stderr, whose tail survives where only the result line is kept.
    rep.failures.foreach(f => System.err.println(s"perfbench: failed check: $f"))
    println(Stats.mapper.writeValueAsString(Stats.obj().set[JsonNode]("run", rep.details)))
    rep.named.foreach(m => println(Stats.metricLine(m)))
    if (trace) {
      val file = work.resolve("trace").resolve(s"$workload-seed$seed.json")
      Files.createDirectories(file.getParent)
      run.writeTrace(file)
      println(Stats.mapper.writeValueAsString(Stats.obj().put("trace_file", file.toString)))
    }
    val out = Stats.obj().put("correct", rep.failed == 0)
      .put("attempted", rep.attempted).put("failed", rep.failed)
    val ms = out.putObject("metrics")
    (if (trace) rep.layers else rep.endToEnd).foreach { m =>
      ms.putObject(m.name).put("value", m.value).put("unit", m.unit)
    }
    println(Stats.mapper.writeValueAsString(out))
  }
}

/** One workload run on one session. */
final class Run(spark: SparkSession, workload: String, seed: Long,
    seconds: Int, trace: Boolean, cores: Int, work: Path, dataDir: String,
    goldens: ObjectNode, record: Boolean, jvmStartMs: Long, tap: SparkTap,
    tracer: Tracer, rep: Report) {

  private val msToNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private var setupS = 0.0

  private def endSetup(): Unit =
    setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

  private def layer(name: String, value: Double, unit: String, n: Int): Unit =
    rep.layers += Metric(name, value, unit, n)

  def go(): Unit = workload match {
    case "cp_mixed" => controlPlane()
    case "catalog_heavy" => catalog(_ => Main.Heavy, "catalog_heavy")
    case _ => catalog(_.keys.toSeq.sorted.filter(Main.sampled), "catalog_small")
  }

  // ---- catalog ------------------------------------------------------

  private def catalog(choose: Catalog => Seq[String], section: String): Unit = {
    val cat = new Catalog(spark, dataDir, tap, tracer)
    val keys = choose(cat)
    val order = new scala.util.Random(seed).shuffle(keys)
    val keyList = rep.details.putArray("keys")
    order.foreach(keyList.add)
    val gold = Option(goldens.get(section)).map(_.asInstanceOf[ObjectNode])
      .getOrElse(goldens.putObject(section))
    val mism = rep.details.putArray("known_oracle_mismatches")
    Option(goldens.get("oracle_mismatch")).foreach(_.fieldNames().asScala
      .filter(keys.contains).foreach(mism.add))

    // Set-up: one untimed pass over the same keys, digest-checked.
    val w0 = System.nanoTime()
    order.foreach { k =>
      val got = if (cat.keys(k)) cat.warm(k) else Left("not in the catalog")
      got match {
        case Right((rows, dig)) if record =>
          gold.putObject(k).put("rows", rows).put("digest", dig)
        case Right((rows, dig)) =>
          val g = Option(gold.get(k))
          rep.check(g.exists(n => n.get("rows").asLong == rows &&
            n.get("digest").asText == dig), s"$k: digest or rows differ from golden")
        case Left(err) => rep.check(false, s"$k warm-up: $err")
      }
    }
    rep.details.put("warm_s", Stats.secs(System.nanoTime() - w0))
    endSetup()

    // Timed: whole cold passes over the keys in the seeded order, at least
    // two and then as many more as fit in `seconds` at the last pass's
    // pace, so that every key runs the same number of times. Each key
    // reports its fastest run, as the program's own bench does:
    // interference only ever adds time.
    val ticks0 = Stats.cpuTicks()
    val t0 = System.nanoTime()
    val runs = ArrayBuffer.empty[KeyRun]
    var passes = 0
    var passNs = 0L
    while (passes < Main.MinPasses ||
        System.nanoTime() - t0 + passNs <= seconds * 1000000000L) {
      val p0 = System.nanoTime()
      order.foreach(k => runs += cat.run(k))
      passNs = System.nanoTime() - p0
      passes += 1
    }
    val t1 = System.nanoTime()
    rep.details.put("steal_share", Stats.stealShare(ticks0, Stats.cpuTicks()))
    runs.foreach { r =>
      val want = Option(gold.get(r.key)).map(_.get("rows").asLong)
      val got = r.rows
      rep.check(r.error.isEmpty && want.contains(got),
        r.error.map(e => s"${r.key}: $e")
          .getOrElse(s"${r.key}: saved $got rows, golden ${want.getOrElse("none")}"))
    }

    val byKey = runs.groupBy(_.key).toSeq.sortBy(_._1)
      .map { case (k, rs) => k -> rs.map(r => Stats.secs(r.totalNs)).min }
    val perKeyNode = rep.details.putObject("per_key_s")
    byKey.foreach { case (k, v) => perKeyNode.put(k, v) }
    val perKey = byKey.map(_._2)
    val n = perKey.size
    val catalogS = perKey.sum[Double]
    val cpuPerKey = runs.groupBy(_.key).values
      .map(rs => rs.map(r => Stats.secs(r.cpuNs)).min).toSeq
    rep.details.put("passes", passes).put("key_runs", runs.size)
      .put("timed_s", Stats.secs(t1 - t0))
    rep.endToEnd ++= Seq(
      Metric("setup_s", setupS, "s", 1),
      Metric("op_wall_s", catalogS / n, "s", n),
      Metric("op_cpu_s", cpuPerKey.sum / n, "s", n))
    rep.named ++= Seq(
      Metric("setup_s", setupS, "s", 1),
      Metric("catalog_s", catalogS, "s", n),
      Metric("query_p50_s", Stats.median(perKey), "s", n),
      Metric("query_p80_s", Stats.pct(perKey, 80), "s", n),
      Metric("query_cpu_s", cpuPerKey.sum / n, "s", n))

    if (trace) {
      tap.await(runs.last.req, "pb-save")
      tap.awaitIdle()
      val timed = tap.jobsWhere(_.tags("pb-timed"))
      val build = timed.filter(_.tags("pb-build"))
      val sqls = tap.sqlsWhere(_.tags("pb-timed"))
      sparkLayers(timed, timed.filter(_.tags("pb-save")), sqls, runs.size)
      layer("queries.build_s", runs.map(r => Stats.secs(r.buildNs)).sum / runs.size, "s", runs.size)
      layer("queries.eager_jobs", build.size.toDouble / runs.size, "count", runs.size)
      layer("queries.eager_job_s", wallS(build) / runs.size, "s", runs.size)
      layer("cachescope.drain_s", runs.map(r => Stats.secs(r.drainNs)).sum / runs.size, "s", runs.size)
      layer("cachescope.leaked_rdds", runs.map(_.leaked).max.toDouble, "count", runs.size)
      jobsLayersAbsent()
      runs.foreach { r =>
        tap.jobsWhere(_.tags(r.req)).foreach { j =>
          tracer.record("job", "spark.job", r.key,
            if (j.tags("pb-build")) r.buildSpan else r.saveSpan,
            j.startMs * 1000000L + msToNs, j.endMs * 1000000L + msToNs)
        }
        tap.sqlsWhere(s => s.tags(r.req) && s.tags("pb-save")).foreach { s =>
          tracer.record("plan", "spark.plan", r.key, r.saveSpan,
            r.saveStartNs, r.saveStartNs + (s.planS * 1e9).toLong)
        }
      }
    }
  }

  // ---- layers shared by both planes ---------------------------------

  private def wallS(js: Seq[JobRec]): Double =
    js.map(j => (j.endMs - j.startMs) / 1e3).sum

  private def unionS(js: Seq[JobRec]): Double =
    Tracer.union(js.map(j => (j.startMs, j.endMs))) / 1e3

  /** Spark scheduling and data-work figures per operation. */
  private def sparkLayers(all: Seq[JobRec], exec: Seq[JobRec], sqls: Seq[SqlRec],
      ops: Int): Unit = {
    val tasks = all.map(_.tasks).sum
    val per = (x: Double) => x / ops
    layer("tables.jobs", all.count(_.callFile == "Tables.scala").toDouble, "count", all.size)
    layer("spark.plan_s", per(sqls.map(_.planS).sum), "s", sqls.size)
    layer("spark.plan_nodes", per(sqls.map(_.nodes).sum), "count", sqls.size)
    layer("spark.exchanges", per(sqls.map(_.exchanges).sum), "count", sqls.size)
    layer("spark.exec_s", per(wallS(exec)), "s", exec.size)
    layer("spark.jobs", per(all.size), "count", ops)
    layer("spark.stages", per(all.map(_.stages).sum), "count", ops)
    layer("spark.tasks", per(tasks), "count", ops)
    layer("spark.task_overhead_s",
      per(all.map(j => j.taskWallMs - j.runMs).sum / 1e3), "s", tasks)
    layer("spark.empty_task_ratio",
      all.map(_.emptyTasks).sum.toDouble / math.max(1, tasks), "ratio", tasks)
    layer("spark.slot_util",
      all.map(_.runMs).sum / 1e3 / math.max(1e-9, unionS(all) * cores), "ratio", tasks)
    layer("spark.task_cpu_s", per(all.map(_.cpuNs).sum / 1e9), "s", tasks)
    layer("spark.gc_s", per(all.map(_.gcMs).sum / 1e3), "s", tasks)
    layer("spark.shuffle_write_mb", per(all.map(_.shuffleWrite).sum / 1e6), "MB", tasks)
    layer("spark.shuffle_read_mb", per(all.map(_.shuffleRead).sum / 1e6), "MB", tasks)
    layer("spark.spill_mb", per(all.map(_.spill).sum / 1e6), "MB", tasks)
  }

  /** The control-plane layers a catalog run does not exercise. */
  private def jobsLayersAbsent(): Unit = {
    ControlPlaneLayers.foreach { case (name, unit) => layer(name, 0.0, unit, 0) }
  }

  private val ApiOps = Seq("submit", "states", "events", "get", "list")

  private lazy val ControlPlaneLayers: Seq[(String, String)] =
    ApiOps.flatMap(op => Seq(s"jobs.api.${op}_ms_p50", s"jobs.api.${op}_ms_p99"))
      .map(_ -> "ms") ++ Seq(
      "jobs.api.late_ms_p50" -> "ms", "jobs.api.late_ms_p99" -> "ms",
      "jobs.runner.busy_ratio" -> "ratio", "jobs.runner.service_s" -> "s",
      "jobs.resolver.jobs" -> "count", "jobs.resolver.s" -> "s",
      "jobs.publisher.jobs" -> "count", "jobs.publisher.s" -> "s",
      "jobs.publisher.write_mb" -> "MB",
      "jobs.eventlog.events" -> "count", "jobs.eventlog.fold_ms" -> "ms")

  // ---- control plane ------------------------------------------------

  private def controlPlane(): Unit = {
    val cp = new ControlPlane(spark, work, seed, tracer)
    try {
      val gold = Option(goldens.get("cp_mixed")).map(_.asInstanceOf[ObjectNode])
        .getOrElse(goldens.putObject("cp_mixed"))
      val p0 = System.nanoTime()
      val history = cp.populate(ControlPlane.HistoryJobs)
      rep.details.put("populate_s", Stats.secs(System.nanoTime() - p0))
      val warmed = rep.details.putObject("warm_job_s")
      cp.warm().foreach { r =>
        warmed.put(r.kind, Stats.secs(r.latencyNs))
        rep.check(r.ok, s"warm-up ${r.kind}: ${r.why}")
      }
      rep.details.putPOJO("job_kinds", ControlPlane.Kinds.keys.toSeq.sorted.asJava)
      cp.calls.clear()
      if (trace) tap.awaitIdle()
      endSetup()

      val golden = gold.fieldNames().asScala.map(k => k -> gold.get(k).asText).toMap
      val ticks0 = Stats.cpuTicks()
      val cpu0 = Stats.cpuNs()
      val (runs, blocks, t0) = cp.timedPhase(seconds, if (record) None else Some(golden),
        history)
      rep.details.put("steal_share", Stats.stealShare(ticks0, Stats.cpuTicks()))
      if (record) runs.filter(_.ok).foreach(r => gold.put(r.kind, r.cid))
      if (trace) tap.awaitIdle()
      runs.foreach(r => rep.check(r.ok, s"${r.kind} ${r.id}: ${r.why}"))
      val calls = cp.calls.asScala.toSeq
      val reads = calls.filter(c => Set("list", "events", "get")(c.op))
      reads.foreach(c => rep.check(c.ok, s"${c.op} returned a malformed or wrong body"))

      // Every job taken is in a whole block, so every run measures the same
      // mix of kinds; with one FIFO worker the time and CPU from the start
      // to the last of them are spent on exactly those jobs.
      val done = runs.filter(_.ok)
      val cid = done.map(r => Stats.secs(r.latencyNs))
      val last = runs.maxBy(_.doneNs)
      val windowS = Stats.secs(last.doneNs - t0)
      val jobsPerS = done.size / windowS
      val cpuPerJob = Stats.secs(last.cpuNs - cpu0) / runs.size
      def ms(op: String) = calls.filter(c => c.op == op && c.ok).map(c => Stats.ms(c.latencyNs))
      def p(xs: Seq[Double], q: Double) = if (xs.isEmpty) 0.0 else Stats.pct(xs, q)
      val polls = ms("states")
      val lists = ms("list")
      rep.details.put("jobs", runs.size).put("blocks", blocks)
        .put("timed_s", windowS).put("reads", reads.size)
      val perJob = rep.details.putArray("per_job_s")
      runs.foreach(r => perJob.addArray().add(r.index).add(r.kind)
        .add(Stats.secs(r.latencyNs)))
      rep.endToEnd ++= Seq(
        Metric("setup_s", setupS, "s", 1),
        Metric("op_wall_s", p(cid, 50), "s", cid.size),
        Metric("op_cpu_s", cpuPerJob, "s", runs.size))
      rep.named ++= Seq(
        Metric("setup_s", setupS, "s", 1),
        Metric("jobs_per_s", jobsPerS, "1/s", done.size),
        Metric("job_cpu_s", cpuPerJob, "s", runs.size),
        Metric("cid_p50_s", p(cid, 50), "s", cid.size),
        Metric("cid_p80_s", p(cid, 80), "s", cid.size),
        Metric("poll_p50_ms", p(polls, 50), "ms", polls.size),
        Metric("poll_p99_ms", p(polls, 99), "ms", polls.size),
        Metric("list_p50_ms", p(lists, 50), "ms", lists.size),
        Metric("list_p99_ms", p(lists, 99), "ms", lists.size))

      if (trace) {
        val t0Ms = (t0 - msToNs) / 1000000L
        val endMs = (last.doneNs - msToNs) / 1000000L
        val js = tap.jobsWhere(j => j.startMs >= t0Ms && j.startMs <= endMs)
        val sqls = tap.sqlsWhere(s => s.startMs >= t0Ms && s.startMs <= endMs)
        val ops = runs.size
        sparkLayers(js, js, sqls, ops)
        Seq("queries.build_s" -> "s", "queries.eager_jobs" -> "count",
          "queries.eager_job_s" -> "s", "cachescope.drain_s" -> "s")
          .foreach { case (nm, u) => layer(nm, 0.0, u, 0) }
        layer("cachescope.leaked_rdds", spark.sparkContext.getPersistentRDDs.size.toDouble,
          "count", 1)
        ApiOps.foreach { op =>
          val xs = ms(op)
          layer(s"jobs.api.${op}_ms_p50", p(xs, 50), "ms", xs.size)
          layer(s"jobs.api.${op}_ms_p99", p(xs, 99), "ms", xs.size)
        }
        val late = calls.filter(c => Set("list", "events", "get")(c.op))
          .map(c => Stats.ms(c.lateNs))
        layer("jobs.api.late_ms_p50", p(late, 50), "ms", late.size)
        layer("jobs.api.late_ms_p99", p(late, 99), "ms", late.size)
        val busy = unionS(js)
        layer("jobs.runner.busy_ratio", busy / windowS, "ratio", js.size)
        layer("jobs.runner.service_s", busy / ops, "s", ops)
        val resolver = js.filter(_.callFile == "SourceResolver.scala")
        layer("jobs.resolver.jobs", resolver.size.toDouble / ops, "count", ops)
        layer("jobs.resolver.s", wallS(resolver) / ops, "s", ops)
        val publisher = js.filter(_.callFile == "ResultPublisher.scala")
        layer("jobs.publisher.jobs", publisher.size.toDouble / ops, "count", ops)
        layer("jobs.publisher.s", wallS(publisher) / ops, "s", ops)
        layer("jobs.publisher.write_mb", publisher.map(_.bytesWritten).sum / 1e6 / ops,
          "MB", ops)
        layer("jobs.eventlog.events", cp.eventCount.toDouble, "count", 1)
        layer("jobs.eventlog.fold_ms", cp.foldMs(), "ms", 5)
        js.foreach { j =>
          val l = j.callFile match {
            case "SourceResolver.scala" => "jobs.resolver"
            case "ResultPublisher.scala" => "jobs.publisher"
            case _ => "jobs.runner"
          }
          tracer.record("job " + j.callSite, l, "-", -1,
            j.startMs * 1000000L + msToNs, j.endMs * 1000000L + msToNs)
        }
      }
    } finally cp.stop()
  }

  // ---- trace output -------------------------------------------------

  /** Spans plus the per-layer self-time table and the jobs grouped by
    * call-site file; the table is also printed, one line per layer. */
  def writeTrace(file: Path): Unit = {
    val root = Stats.obj()
    val spans = root.putArray("spans")
    val base = tracer.all.map(_.startNs).minOption.getOrElse(0L)
    tracer.all.foreach { s =>
      spans.addObject().put("id", s.id).put("name", s.name).put("layer", s.layer)
        .put("request", s.request).put("parent", s.parent)
        .put("start_us", (s.startNs - base) / 1000).put("end_us", (s.endNs - base) / 1000)
    }
    val table = root.putArray("self_time_by_layer")
    println(f"${"layer"}%-16s ${"spans"}%7s ${"total_s"}%9s ${"self_s"}%9s")
    tracer.selfByLayer.foreach { case (l, n, total, self) =>
      table.addObject().put("layer", l).put("spans", n).put("total_s", total)
        .put("self_s", self)
      println(f"$l%-16s $n%7d $total%9.3f $self%9.3f")
    }
    val sites = root.putArray("jobs_by_call_site_file")
    tap.jobsWhere(_ => true).groupBy(_.callFile).toSeq
      .map { case (f, js) => (f, js.size, wallS(js)) }.sortBy(-_._3).foreach {
        case (f, n, s) => sites.addObject().put("file", f).put("jobs", n).put("s", s)
      }
    val ls = root.putArray("layer_metrics")
    rep.layers.foreach(m => ls.addObject().put("metric", m.name).put("value", m.value)
      .put("unit", m.unit).put("n", m.n))
    Files.writeString(file, Stats.mapper.writeValueAsString(root))
    rep.layers.foreach(m => println(Stats.metricLine(m, "layer_metric")))
  }
}
