package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One `Session.local` session per suite, stopped after the suite. A
  * suite that starts while another suite's session is still live fails
  * at once: `getOrCreate` would hand it that session with its core count
  * and static confs. */
trait SparkSuite extends BeforeAndAfterAll { this: Suite =>

  protected def cores: Int = 4

  /** Static confs a suite needs on top of the shared policy. */
  protected def conf: Map[String, String] = Map.empty

  lazy val spark: SparkSession = Session.local(cores, conf = conf)

  override def beforeAll(): Unit = {
    assert(SparkSession.getDefaultSession.isEmpty,
      "a Spark session from an earlier suite is still live")
    super.beforeAll()
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally SparkSession.getDefaultSession.foreach(_.stop())
}
