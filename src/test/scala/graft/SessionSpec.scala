package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.scalatest.funsuite.AnyFunSuite

/** The one session policy: `Session.local(n)` runs on n cores with n
  * shuffle partitions, in UTC, with no UI, and with WindowExec's
  * single-partition warning silenced. */
class SessionSpec extends AnyFunSuite with SparkSuite {

  override protected def cores: Int = 3

  test("Session.local(3) has 3 cores, 3 shuffle partitions, UTC and no UI") {
    assert(spark.sparkContext.defaultParallelism === 3)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "3")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(LogManager.getLogger(
      "org.apache.spark.sql.execution.window.WindowExec").getLevel === Level.ERROR)
  }
}
