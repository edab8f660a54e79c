package graft
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Local measurement harness for the optimization rounds (guide §1):
  * per query, split the cold wall into
  *   build  — DataFrame construction (builder closures, expression trees)
  *   plan   — analysis + optimization + physical planning
  *            (`queryExecution.executedPlan` forced, nothing run)
  *   exec   — first noop-sink execution (includes AQE re-planning,
  *            codegen, shuffle, tasks)
  * plus a second fully-cold repeat (the number Bench would report) and
  * job/stage/task counts + exchange count of the physical plan, so the
  * time can be attributed to driver planning vs round-trip count vs
  * actual data work. NOT part of the driver contract; emits one JSON
  * line per query to stdout (grep ^PROBE).
  */
object PlanProbe {
  private final class Counters extends SparkListener {
    val jobs = new AtomicLong(0); val stages = new AtomicLong(0)
    val tasks = new AtomicLong(0)
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.envCores)
    val ctr = new Counters
    spark.sparkContext.addSparkListener(ctr)
    Tables.all.foreach { t =>
      try Tables.load(spark, sfDir, t).limit(1).count()
      catch { case _: Throwable => () }
    }
    try SparkEntry.queries("q1_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val catalog = SparkEntry.queries ++ SparkEntry.benchForm
    def r3(v: Double): Double = math.round(v * 1000) / 1000.0
    catalog.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          var t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val buildS = (System.nanoTime() - t0) / 1e9
          t0 = System.nanoTime()
          val plan = df.queryExecution.executedPlan
          val planS = (System.nanoTime() - t0) / 1e9
          sys.env.get("SPARK_GRAFT_EXPLAIN_DIR").foreach { dir =>
            new java.io.File(dir).mkdirs()
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$dir/$name.txt"),
              df.queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode))
          }
          val planStr = plan.toString
          val nEx = "Exchange".r.findAllIn(planStr).size
          val j0 = ctr.jobs.get(); val s0 = ctr.stages.get(); val k0 = ctr.tasks.get()
          t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          val execS = (System.nanoTime() - t0) / 1e9
          Thread.sleep(100)
          val jobs = ctr.jobs.get() - j0; val stages = ctr.stages.get() - s0
          val tasks = ctr.tasks.get() - k0
          CacheScope.drain(); spark.catalog.clearCache()
          t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val cold2 = (System.nanoTime() - t0) / 1e9
          CacheScope.drain(); spark.catalog.clearCache()
          println(s"""PROBE {"q":"$name","build":${r3(buildS)},"plan":${r3(planS)},"exec":${r3(execS)},"cold2":${r3(cold2)},"jobs":$jobs,"stages":$stages,"tasks":$tasks,"exchanges":$nEx}""")
        } catch {
          case t: Throwable =>
            println(s"""PROBE {"q":"$name","err":"${t.getClass.getSimpleName}"}""")
            CacheScope.drain(); spark.catalog.clearCache()
        }
      }
    spark.stop()
  }
}
