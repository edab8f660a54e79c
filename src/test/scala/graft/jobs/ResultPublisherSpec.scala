package graft.jobs

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.SparkSuite

/** Content ids and manifests of [[ResultPublisher]]. The pinned ids are
  * the published CIDs replicas compare (A12): any change to the digest
  * that moves them breaks hash agreement with results published before. */
class ResultPublisherSpec extends AnyFunSuite with SparkSuite {

  private val mapper = new ObjectMapper()

  /** Three rows with a null, a non-ASCII string and a negative zero. */
  private def mixed: DataFrame = {
    import spark.implicits._
    Seq[(Long, Option[String], Double)](
      (1L, Some("kiwi"), -0.0),
      (2L, None, 2.5),
      (3L, Some("a\"b é"), 1e-3)).toDF("k", "s", "d")
  }

  private def empty: DataFrame =
    spark.range(10).where("id < 0").selectExpr("id AS k", "CAST(id AS STRING) AS s")

  // four partitions under local[4]: the partial digests are combined
  private def ranged: DataFrame =
    spark.range(1000).selectExpr("id", "id * id % 97 AS m")

  test("content ids are pinned") {
    assert(ResultPublisher.contentId(mixed) ===
      "226f4dac6ad6e7f1af811ff7be707f6ba18c868fb0a04d70969968bc4663b7cb")
    assert(ResultPublisher.contentIdWithCount(empty) ===
      ("f7463562d5703242b83981565bd49800836ada138453b44ebfc02d3efbd99cf7", 0L))
    assert(ResultPublisher.contentIdWithCount(ranged) ===
      ("a412875292461e609479910e0b3cd8f99883d6c71bb3c5a7a292467b295f66fe", 1000L))
  }

  // a sum is carried in units of 2^63, so rows past any long range stay
  // exact, in one partition and across partials
  test("lane sums stay exact past the long range") {
    val near = Long.MaxValue - 5
    def fold = {
      val f = new ResultPublisher.LaneFold
      f.n = 1
      java.util.Arrays.fill(f.low, near)
      f
    }
    val a = fold
    a.add(Array.fill[Byte](32)(-1)) // every lane 2^32 - 1
    val one = BigInt(near) + 0xffffffffL
    assert((0 until 8).forall(a.sum(_) == one), a.summary)
    val both = a.merge(fold)
    assert(both.n === 3)
    assert((0 until 8).forall(both.sum(_) == one + near), both.summary)
    assert(both.xor.forall(_ == 0xffffffffL))
  }

  test("Hash.publish CID and manifest are pinned") {
    val out = Files.createTempDirectory("graft-pin").toString
    val cid = ResultPublisher.Hash.publish(mixed, out)
    assert(cid === "226f4dac6ad6e7f1af811ff7be707f6ba18c868fb0a04d70969968bc4663b7cb")
    assert(Files.readString(Paths.get(out, "_manifest.json")) ===
      "{\"rows\": 3, \"schema\": \"struct<k:bigint,s:string,d:double>\", " +
      s"\"cid\": \"$cid\"}")
  }

  test("the manifest is valid JSON for any column name") {
    val out = Files.createTempDirectory("graft-quote").toString
    val df = spark.sql("SELECT 1 AS `a\"b`, 'x\\\\y' AS `c\\\\d`")
    val cid = ResultPublisher.Hash.publish(df, out)
    val m = mapper.readTree(Files.readString(Paths.get(out, "_manifest.json")))
    assert(m.get("rows").asLong === 1)
    assert(m.get("schema").asText ===
      spark.read.parquet(out).schema.simpleString)
    assert(m.get("schema").asText.contains("a\"b"))
    assert(m.get("cid").asText === cid)
  }

  // the write and one digest scan: no schema-inference job on the
  // read-back, no shuffle for the summary
  test("Hash.publish of a scan-only frame runs two Spark jobs, no exchange") {
    val src = Files.createTempDirectory("graft-scan").resolve("src").toString
    spark.range(200).selectExpr("id", "id % 7 AS m").write.parquet(src)
    val df = spark.read.parquet(src)
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val plans = new ConcurrentLinkedQueue[SparkPlanInfo]
    val marker = "graft-publish-marker"
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
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.sparkPlanInfo)
        case _ => ()
      }
    }
    val out = Files.createTempDirectory("graft-jobs").toString
    sc.addSparkListener(listener)
    try {
      ResultPublisher.Hash.publish(df, out)
      // the listener bus delivers in order: once the marker job has ended,
      // every event of the publish has been delivered
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 10000
      while (!markerEnded && System.currentTimeMillis() < deadline)
        Thread.sleep(5)
    } finally sc.removeSparkListener(listener)
    assert(markerEnded)
    def names(p: SparkPlanInfo): Seq[String] =
      p.nodeName +: p.children.flatMap(names)
    val js = jobs.asScala.toSeq
    assert(js.size === 2, js.map(_.stageInfos.map(_.name)))
    assert(js.forall(_.stageInfos.size == 1), js.map(_.stageInfos.map(_.name)))
    val nodes = plans.asScala.toSeq.flatMap(names)
    assert(!nodes.exists(_.contains("Exchange")), nodes)
  }
}
