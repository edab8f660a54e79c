package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary; `parent` is -1 for a root span.
  * `request` is the query key or the control-plane job id. */
final case class Span(id: Int, name: String, layer: String, request: String,
    parent: Int, startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, it only runs the body, so the
  * untraced run pays nothing for it. Spans are written out at exit. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicInteger()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[Int] { override def initialValue(): Int = -1 }

  /** Time `body` as a child of the span open on this thread. */
  def span[T](name: String, layer: String, request: String)(body: Int => T): T =
    if (!enabled) body(-1)
    else {
      val id = ids.getAndIncrement()
      val parent = open.get
      open.set(id)
      val t0 = System.nanoTime()
      try body(id)
      finally {
        spans.add(Span(id, name, layer, request, parent, t0, System.nanoTime()))
        open.set(parent)
      }
    }

  /** Record an interval measured elsewhere, such as a listener's job. */
  def record(name: String, layer: String, request: String, parent: Int,
      startNs: Long, endNs: Long): Unit =
    if (enabled)
      spans.add(Span(ids.getAndIncrement(), name, layer, request, parent,
        startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Self time per layer: each span's duration minus the part of its
    * interval that its children cover, summed by layer. */
  def selfByLayer: Seq[(String, Int, Double, Double)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).toSeq.map { case (layer, xs) =>
      val total = xs.map(s => s.endNs - s.startNs).sum
      val self = xs.map { s =>
        val covered = Tracer.union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter(iv => iv._2 > iv._1))
        (s.endNs - s.startNs) - covered
      }.sum
      (layer, xs.size, Stats.secs(total), Stats.secs(self))
    }.sortBy(-_._4)
  }
}

object Tracer {
  /** Total length of the union of intervals. */
  def union(ivs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = Long.MinValue
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }
}

/** What the listener saw of one Spark job. Task figures are summed. */
final class JobRec(val id: Int, val startMs: Long, val tags: Set[String],
    val callSite: String) {
  var endMs = -1L
  var stages = 0
  var tasks = 0
  var emptyTasks = 0
  var runMs = 0L
  var taskWallMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var recordsWritten = 0L
  var bytesWritten = 0L
  /** The source file of the call site, e.g. `ResultPublisher.scala`. */
  def callFile: String = {
    val at = callSite.lastIndexOf(" at ")
    val f = if (at < 0) callSite else callSite.substring(at + 4)
    f.takeWhile(_ != ':')
  }
}

/** One SQL execution: its tags and the shape of its final plan. */
final class SqlRec(val id: Long, val startMs: Long, val tags: Set[String]) {
  var ended = false
  var planS = 0.0
  var nodes = 0
  var exchanges = 0
}

/** The benchmark's own `SparkListener`: jobs, stages, tasks and SQL
  * executions, keyed by the job tags the harness puts on its calls. Its
  * `queryListener` reads each execution's planning phases and final
  * adaptive plan. */
final class SparkTap extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val sqls = mutable.LinkedHashMap.empty[Long, SqlRec]
  /** The figures of the execution whose end event is being delivered. */
  private var pending: Option[(Double, Int, Int)] = None

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val tags = p.flatMap(x => Option(x.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty[String])
    // The result stage is created last, so it has the highest id; its
    // name is the job's call site, such as `parquet at Foo.scala:67`.
    val site = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
    val rec = new JobRec(e.jobId, e.time, tags, site)
    jobs(e.jobId) = rec
    e.stageIds.foreach(stageJob(_) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (rec <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      rec.tasks += 1
      if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
        rec.emptyTasks += 1
      rec.runMs += m.executorRunTime
      rec.taskWallMs += e.taskInfo.duration
      rec.cpuNs += m.executorCpuTime
      rec.gcMs += m.jvmGCTime
      rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      rec.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      rec.spill += m.diskBytesSpilled
      rec.recordsWritten += m.outputMetrics.recordsWritten
      rec.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqls(s.executionId) = new SqlRec(s.executionId, s.time, s.jobTags)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      sqls.get(s.executionId).foreach { r =>
        r.ended = true
        pending.foreach(fill(r, _))
      }
      pending = None
    }
    case _ => ()
  }

  private def fill(r: SqlRec, f: (Double, Int, Int)): Unit = {
    r.planS = f._1; r.nodes = f._2; r.exchanges = f._3
  }

  /** Reads planning time and the final plan's shape. Spark calls it while
    * it delivers an execution's end event to the listener bus it registered
    * first, so register it before this listener: the figures are then
    * pending when this listener receives the same end event. */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum
      val (n, x) = SparkTap.shape(qe.executedPlan)
      val f = (planMs / 1e3, n, x)
      SparkTap.this.synchronized { pending = Some(f) }
    }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def jobsWhere(p: JobRec => Boolean): Seq[JobRec] =
    synchronized(jobs.values.filter(p).toSeq)

  def sqlsWhere(p: SqlRec => Boolean): Seq[SqlRec] =
    synchronized(sqls.values.filter(p).toSeq)

  /** Wait until every job and SQL execution carrying `tag` has ended and
    * at least one execution carrying `last` has been seen. Events for a
    * call are queued before the call returns, so this ends promptly. */
  def await(tag: String, last: String, timeoutMs: Long = 10000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = synchronized {
      sqls.values.exists(s => s.tags(last) && s.tags(tag)) &&
        sqls.values.forall(s => !s.tags(tag) || s.ended) &&
        jobs.values.forall(j => !j.tags(tag) || j.endMs >= 0)
    }
    while (!done) {
      if (System.currentTimeMillis() > deadline) return false
      Thread.sleep(1)
    }
    true
  }

  /** Wait until every job that has started has ended. */
  def awaitIdle(timeoutMs: Long = 10000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobs.values.exists(_.endMs < 0))) {
      if (System.currentTimeMillis() > deadline) return false
      Thread.sleep(5)
    }
    true
  }
}

object SparkTap {
  /** Node and exchange counts of a physical plan, looking through adaptive
    * wrappers and query stages to the plan that actually ran. */
  def shape(p: SparkPlan): (Int, Int) = p match {
    case a: AdaptiveSparkPlanExec => shape(a.executedPlan)
    case q: QueryStageExec => shape(q.plan)
    case other =>
      val own = if (other.isInstanceOf[Exchange]) 1 else 0
      (other.children ++ other.subqueries).map(shape)
        .foldLeft((1, own)) { case ((n, x), (cn, cx)) => (n + cn, x + cx) }
  }
}
