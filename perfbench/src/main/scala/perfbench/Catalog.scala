package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import graft.{CacheScope, SparkEntry}

/** One cold run of one key: builder call, `noop` save, cache drain. */
final case class KeyRun(key: String, req: String, buildNs: Long, saveNs: Long,
    drainNs: Long, cpuNs: Long, leaked: Int, rows: Long, error: Option[String],
    buildSpan: Int, saveSpan: Int, saveStartNs: Long) {
  def totalNs: Long = buildNs + saveNs + drainNs
}

/** The catalog workloads: keys of `SparkEntry.queries ++ benchForm` run one
  * after another, each cold. Every call into the program carries a request
  * tag and a phase tag, so the listener can tell builder jobs from save
  * jobs and one key from the next. */
final class Catalog(spark: SparkSession, dataDir: String, tap: SparkTap,
    tracer: Tracer) {
  private val sc = spark.sparkContext
  private val entries = SparkEntry.queries ++ SparkEntry.benchForm
  private var reqs = 0

  def keys: Set[String] = entries.keySet

  private def tagged[T](tags: String*)(body: => T): T = {
    tags.foreach(sc.addJobTag)
    try body finally tags.foreach(sc.removeJobTag)
  }

  private def message(t: Throwable): String =
    t.getClass.getSimpleName + ": " +
      Option(t.getMessage).getOrElse("").replaceAll("\\s+", " ").take(160)

  /** Row count and SHA-256 of the sorted rendered rows plus the schema:
    * the benchmark's own digest, independent of the program's hashing. */
  def digest(df: DataFrame): (Long, String) = {
    val rows = df.collect()
    val md = MessageDigest.getInstance("SHA-256")
    md.update(df.schema.simpleString.getBytes(UTF_8))
    rows.iterator.map(_.toString).toSeq.sorted.foreach { l =>
      md.update('\n'.toByte); md.update(l.getBytes(UTF_8))
    }
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  /** `CacheScope.drain`, timed; returns its time and the persisted RDDs
    * it left behind. */
  private def drain(key: String): (Long, Int) = {
    val t0 = System.nanoTime()
    tracer.span("drain", "cachescope", key)(_ => CacheScope.drain())
    (System.nanoTime() - t0, sc.getPersistentRDDs.size)
  }

  /** Drop whatever the drain left, so the next key starts cold. Runs
    * outside the timed window. */
  private def clear(key: String): Unit =
    tracer.span("clearCache", "spark.clear", key)(_ => spark.catalog.clearCache())

  /** Untimed pass: build each key and digest its full result. */
  def warm(key: String): Either[String, (Long, String)] =
    tracer.span("warm", "bench", key) { _ =>
      val out =
        try Right(tagged("pb-warm")(digest(entries(key)(spark, dataDir))))
        catch { case t: Throwable => Left(message(t)) }
      drain(key)
      clear(key)
      out
    }

  /** Timed cold run: the builder call and the `noop` save are timed
    * separately. The save counts its rows through an `Observation`, since
    * `noop` reports no output metrics. */
  def run(key: String): KeyRun = {
    reqs += 1
    val req = s"pb-r$reqs"
    tracer.span("key", "bench", key) { _ =>
      val cpu0 = Stats.cpuNs()
      var buildNs = 0L
      var saveNs = 0L
      var buildSpan = -1
      var saveSpan = -1
      var t1 = 0L
      var rows = -1L
      val err =
        try {
          val t0 = System.nanoTime()
          val df = tracer.span("build", "queries", key) { id =>
            buildSpan = id
            tagged(req, "pb-timed", "pb-build")(entries(key)(spark, dataDir))
          }
          t1 = System.nanoTime()
          buildNs = t1 - t0
          val seen = Observation()
          tracer.span("save", "spark.exec", key) { id =>
            saveSpan = id
            tagged(req, "pb-timed", "pb-save") {
              df.observe(seen, count(lit(1)).as("rows"))
                .write.format("noop").mode("overwrite").save()
            }
          }
          saveNs = System.nanoTime() - t1
          rows = seen.get("rows").asInstanceOf[Long]
          None
        } catch { case t: Throwable => Some(message(t)) }
      val (drainNs, leaked) = drain(key)
      val cpuNs = Stats.cpuNs() - cpu0
      clear(key)
      KeyRun(key, req, buildNs, saveNs, drainNs, cpuNs, leaked, rows,
        err, buildSpan, saveSpan, t1)
    }
  }
}
