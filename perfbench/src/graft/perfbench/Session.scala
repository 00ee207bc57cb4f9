package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's session, with `graft.Bench`'s settings: local[nproc],
  * shuffle partitions = nproc, AQE on, UTC, UI off. Scratch, warehouse
  * and checkpoint space live under the run's own work directory. */
object Session {

  val cores: Int = Runtime.getRuntime.availableProcessors()

  def build(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Resident-set high-water mark of this JVM, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Milliseconds since this JVM started. */
  def sinceJvmStartMs(): Long =
    System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
}
