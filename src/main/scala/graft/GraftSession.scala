package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the program's mains and the test suite:
  * `local[cpus]` with one shuffle partition per core, UTC session time
  * and no UI. Everything else, adaptive execution included, is left
  * at Spark's default. */
object GraftSession {

  /** Cores from SPARK_GRAFT_CPUS, else every core the JVM sees. */
  private def cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cores: Int = cpus, logLevel: String = "WARN"): SparkSession = {
    require(cores > 0, s"core count must be positive (check SPARK_GRAFT_CPUS), got $cores")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
