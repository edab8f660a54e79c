package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession
import graft.jobs.{ApiClient, ApiServer, EventLog, Lifecycle}

/** One submitted job as its submitter saw it; `cpuNs` is this process's
  * CPU time when the job was seen done. */
final case class JobRun(kind: String, id: String, submitNs: Long,
    latencyNs: Long, cpuNs: Long, cid: String, ok: Boolean, why: String,
    index: Int = -1) {
  def doneNs: Long = submitNs + latencyNs
}

/** One client call: `late` is how far behind its schedule it started. */
final case class Call(op: String, latencyNs: Long, lateNs: Long, ok: Boolean)

/** The control-plane workload: an `ApiServer` on a real socket, driven by
  * closed-loop submitters and one open-loop reader in this process. */
final class ControlPlane(spark: SparkSession, work: Path, seed: Long,
    tracer: Tracer) {
  import ControlPlane._

  private val dir = Files.createDirectories(work.resolve("cp"))
  private val csv = dir.resolve("gps.csv")
  private val txt = dir.resolve("gps.txt")
  writeInputs(CsvRows, csv, txt)
  private val server = new ApiServer(spark, dir.resolve("state").toString)
  server.start()
  private val keyDir = Files.createDirectories(dir.resolve("keys"))
  private def client() = new ApiClient(server.uri, keyDir)
  val calls = new ConcurrentLinkedQueue[Call]()

  /** The GPS-schema input of the reference's sed/awk scenarios, from a
    * fixed data seed so that each job kind has one golden CID. */
  private def writeInputs(rows: Int, csv: Path, txt: Path): Unit = {
    val rnd = new java.util.SplittableRandom(DataSeed)
    val t0 = java.time.LocalDateTime.of(2021, 1, 1, 0, 0)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val sb = new StringBuilder("sensor_time,sensor_group,lat,long,temperature,distance\n")
    (0 until rows).foreach { i =>
      val (city, lat, lon) = Cities(rnd.nextInt(Cities.size))
      val dLat = rnd.nextDouble(-0.4, 0.4)
      val dLon = rnd.nextDouble(-0.4, 0.4)
      sb ++= t0.plusMinutes(i.toLong).format(fmt) += ',' ++= city
      Seq(lat + dLat, lon + dLon, rnd.nextDouble(-10, 35),
        math.hypot(dLat, dLon) * 111).foreach(v =>
        sb += ',' ++= "%.4f".formatLocal(java.util.Locale.ROOT, v))
      sb += '\n'
    }
    Files.createDirectories(csv.getParent)
    Files.writeString(csv, sb.result())
    Files.writeString(txt, sb.result())
  }

  private def volume(file: Path): ObjectNode = Stats.obj()
    .put("engine_name", "ipfs").put("name", "gps")
    .put("cid", file.toAbsolutePath.toString)
    .put("path", "/inputs/" + file.getFileName)

  private def spec(kind: String): String = {
    val (engine, body, input) = Kinds(kind)
    val n = Stats.obj().put("engine_name", engine).put("verifier_name", "ipfs")
    if (engine == "docker") {
      val ep = n.putObject("job_spec_docker").put("image", "ubuntu")
        .putArray("entrypoint")
      body.foreach(ep.add)
    } else
      n.putObject("job_spec_language").put("language", "sql")
        .put("command", body.head)
    n.putArray("inputs").add(volume(if (input == "csv") csv else txt))
    n.putObject("deal").put("concurrency", Replicas)
    Stats.mapper.writeValueAsString(n)
  }

  private def timed[T](op: String, job: String, due: Long = -1L)(body: => T): T = {
    val t0 = System.nanoTime()
    var ok = false
    try { val r = tracer.span(op, "jobs.api", job)(_ => body); ok = true; r }
    finally {
      val start = if (due < 0) t0 else due
      calls.add(Call(op, System.nanoTime() - start,
        if (due < 0) 0L else t0 - due, ok))
    }
  }

  /** Submit one job and poll `/states` until every replica is terminal,
    * then check it: all replicas Complete with one CID, the golden one.
    * The runner runs the replicas one after another and a replica has no
    * state before its bid, so between one replica's completion and the
    * next one's bid `/states` shows only terminal replicas: the job is
    * done when all `Replicas` are terminal, or when one is terminal
    * without completing (the job has failed). */
  def runJob(c: ApiClient, kind: String, golden: Option[String]): JobRun = {
    val t0 = System.nanoTime()
    try {
      val id = timed("submit", kind)(c.submit(spec(kind)))
      var st = Seq.empty[(String, String, String)]
      var done = false
      while (!done && System.nanoTime() - t0 < BudgetNs) {
        st = timed("states", id)(c.states(id))
        done = st.nonEmpty && st.forall(s => Terminal(s._2)) &&
          (st.size >= Replicas || st.exists(_._2 != Lifecycle.State.Complete))
        if (!done) Thread.sleep(PollMs)
      }
      val dt = System.nanoTime() - t0
      val cids = st.map(_._3).distinct
      val why =
        if (!done) "not terminal within 30 s"
        else if (st.size != Replicas) s"${st.size} replicas"
        else if (!st.forall(_._2 == Lifecycle.State.Complete))
          "states " + st.map(_._2).mkString(",")
        else if (cids.size != 1) "replicas disagree on the hash"
        else if (golden.exists(_ != cids.head)) s"CID ${cids.head} is not golden"
        else ""
      JobRun(kind, id, t0, dt, Stats.cpuNs(), cids.headOption.getOrElse(""),
        why.isEmpty, why)
    } catch {
      case e: Exception => JobRun(kind, "", t0, System.nanoTime() - t0, 0L, "", false,
        String.valueOf(e.getMessage).take(160))
    }
  }

  /** Fill the job history with noop jobs, so that reads fold a log of a
    * realistic length. Returns their ids. */
  def populate(n: Int): Seq[String] = {
    val ids = new ConcurrentLinkedQueue[String]()
    val threads = (0 until Submitters).map { _ =>
      val c = client()
      new Thread(() => (0 until n / Submitters).foreach(_ =>
        ids.add(c.submit("""{"engine_name": "noop", "verifier_name": "noop"}"""))))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val all = ids.asScala.toSeq
    val c = client()
    require(all.size == n / Submitters * Submitters &&
      all.forall(c.waitForJob(_, BudgetNs / 1000000)), "history did not settle")
    all.sorted
  }

  /** Set-up: one job of each kind on the timed phase's input, so that the
    * timed phase starts warm. The timed jobs are the golden-checked ones. */
  def warm(): Seq[JobRun] = {
    val c = client()
    Kinds.keys.toSeq.sorted.map(k => runJob(c, k, None))
  }

  /** The timed phase: `Submitters` closed loops take jobs from a seeded
    * sequence of blocks, each block a shuffle of all kinds. They take
    * `MinBlocks` blocks, and then finish a block begun before `seconds`
    * have passed and begin none after, so every job taken is in a whole
    * block. One open-loop reader issues list / events / id-prefix get
    * every `ReadPeriodMs` until the submitters stop. Each job's CID must
    * equal its kind's golden unless `goldens` is None. Returns the runs,
    * the number of blocks and the start time. */
  def timedPhase(seconds: Int, goldens: Option[Map[String, String]],
      history: Seq[String]): (Seq[JobRun], Int, Long) = {
    val rnd = new scala.util.Random(seed)
    val order = Iterator.continually(rnd.shuffle(Kinds.keys.toSeq.sorted)).flatten
      .take(10000).toIndexedSeq
    val k = Kinds.size
    val next = new AtomicInteger()
    // The first index drawn after the deadline fixes the end: the end of
    // its block, or the index itself if it begins one, but no earlier than
    // the end of the first `MinBlocks` blocks.
    val limit = new AtomicInteger(Int.MaxValue)
    val runs = new ConcurrentLinkedQueue[JobRun]()
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    def take(): Int = {
      val i = next.getAndIncrement()
      if (System.nanoTime() >= deadline)
        limit.compareAndSet(Int.MaxValue, math.max(MinBlocks * k, (i + k - 1) / k * k))
      i
    }
    val submitters = (0 until Submitters).map { _ =>
      val c = client()
      new Thread(() => {
        var i = take()
        while (i < limit.get) {
          val kind = order(i)
          runs.add(runJob(c, kind, goldens.map(_.getOrElse(kind, "none recorded")))
            .copy(index = i))
          i = take()
        }
      })
    }
    val readRnd = new scala.util.Random(seed ^ 0x5eed)
    val reader = new Thread(() => {
      val c = client()
      var n = 0
      var due = t0
      while (submitters.exists(_.isAlive)) {
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        val id = history(readRnd.nextInt(history.size))
        try (n % 3) match {
          case 0 => timed("list", "-", due) {
            val ls = c.list(); require(ls.contains(id), "list misses a job")
          }
          case 1 => timed("events", id, due) {
            val es = c.events(id)
            require(es.headOption.contains(Lifecycle.EventType.Created),
              "events do not start with Created")
          }
          case _ => timed("get", id, due) {
            require(c.get(id.take(8)).exists(_.startsWith(id.take(8))),
              "id-prefix get found nothing")
          }
        } catch { case _: Exception => () }
        n += 1
        due = t0 + n * ReadPeriodMs * 1000000L
      }
    })
    (submitters :+ reader).foreach(_.start())
    (submitters :+ reader).foreach(_.join())
    (runs.asScala.toSeq.sortBy(_.index), limit.get / k, t0)
  }

  def eventCount: Int = server.events.all.size

  /** Median of five timed folds of the whole in-process event log. */
  def foldMs(): Double = Stats.median((0 until 5).map { _ =>
    val evs = server.events.all
    val t0 = System.nanoTime()
    EventLog.foldLocal(evs)
    Stats.ms(System.nanoTime() - t0)
  })

  def stop(): Unit = server.stop()
}

object ControlPlane {
  val DataSeed = 20210101L
  val CsvRows = 20000
  val Replicas = 3
  val Submitters = 3
  /** Whole blocks of all kinds in the timed phase, at the least. */
  val MinBlocks = 2
  val PollMs = 50L
  val ReadPeriodMs = 100L
  val HistoryJobs = 45
  /** The reference's per-submit budget (`explode.sh`). */
  val BudgetNs = 30L * 1000000000L
  val Terminal = Set(Lifecycle.State.Complete, Lifecycle.State.Error,
    Lifecycle.State.Cancelled, Lifecycle.State.BidRejected)
  val Cities = IndexedSeq(("LISBON", 38.7077, -9.1366),
    ("NEW_YORK", 40.7128, -74.006), ("LONDON", 51.5072, -0.1276),
    ("TOKYO", 35.6762, 139.6503), ("NAIROBI", -1.2921, 36.8219))

  /** Job kind -> (engine, entrypoint or SQL, input file). The entrypoints
    * are shapes `OpCompiler` compiles: the reference's scenarios plus one
    * pipe and one SQL job. */
  val Kinds: Map[String, (String, Seq[String], String)] = Map(
    "cat" -> ("docker", Seq("cat", "/inputs/gps.csv"), "csv"),
    "grep" -> ("docker", Seq("grep", "LISBON", "/inputs/gps.txt"), "txt"),
    "sed" -> ("docker",
      Seq("sed", "-n", "/38.7[2-4]..,-9.1[3-7]../p", "/inputs/gps.txt"), "txt"),
    "awk" -> ("docker", Seq("awk", "-F,",
      "{x=38.7077507-$3;y=-9.1365919-$4;if(x^2+y^2<0.3^2) print}",
      "/inputs/gps.csv"), "csv"),
    "wc" -> ("docker", Seq("wc", "-l", "/inputs/gps.txt"), "txt"),
    "pipe" -> ("docker", Seq("bash", "-c",
      "grep -v LISBON /inputs/gps.txt | cut -d, -f2 | sort | uniq -c"), "txt"),
    "sql" -> ("language", Seq("SELECT sensor_group, count(*) AS n, " +
      "min(temperature) AS t_min, max(temperature) AS t_max " +
      "FROM inputs_gps_csv GROUP BY sensor_group"), "csv"))
}
