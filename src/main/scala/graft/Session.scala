package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one session policy: every main and every test suite gets its
  * Spark session here. */
object Session {

  /** Cores for the mains: `SPARK_GRAFT_CPUS`, else every processor. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A session on `local[cores]` (or on the `spark.master` a launcher
    * already set) with `cores` shuffle partitions, UTC, no UI, and
    * `conf` on top for static settings a caller needs. The global
    * `Window.orderBy` windows in the catalog are deliberate, so
    * WindowExec's per-plan "No Partition Defined" warning is silenced. */
  def local(cores: Int, logLevel: String = "WARN",
      conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.props.getOrElse("spark.master", s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    spark
  }
}
