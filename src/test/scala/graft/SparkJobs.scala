package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of code starts. The listener bus delivers
  * events asynchronously but in order, so after the block a marker job
  * runs and is awaited: once it has ended, every job the block started
  * has been delivered. */
object SparkJobs {
  def during[T](spark: SparkSession)(body: => T)
      : (T, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val marker = "graft-jobs-marker"
    @volatile var markerJob = -1
    @volatile var markerEnded = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
              _.getProperty("spark.job.description") == marker))
          markerJob = e.jobId
        else jobs.add(e)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) markerEnded = true
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 10000
      while (!markerEnded && System.currentTimeMillis() < deadline)
        Thread.sleep(5)
      if (!markerEnded)
        throw new IllegalStateException("marker job was never delivered")
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
