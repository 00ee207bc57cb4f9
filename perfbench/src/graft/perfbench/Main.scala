package graft.perfbench

/** JVM side of the benchmark: runs one workload on inputs that already
  * exist on disk and writes `result.json` (plus `spans.jsonl` when traced)
  * into `--out`. `perfbench/run.py` generates the inputs, starts this
  * program, checks its outputs and prints the metrics.
  *
  *   --workload clickstream_reports|corpus_build|adclick_realtime
  *   --work DIR --out DIR --seconds N --trace 0|1 --setups N
  *   batch:  --data DIR --warm DIR (small copy of the inputs, for warm-up)
  *   stream: --src DIR --go FILE --backlog-rows N --total-rows N
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val tr = new Tracer(a("trace") == "1")
    try {
      val result = workload match {
        case "adclick_realtime" => stream(a, tr)
        case w if Batch.jobs.contains(w) => batch(w, a, tr)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (tr.enabled) tr.writeJsonl(s"${a("out")}/spans.jsonl", workload)
      Json.write(s"${a("out")}/result.json",
        result ++ Map("peak_rss_mb" -> Session.peakRssMb(), "cores" -> Session.cores))
      sys.exit(0)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Set-up after the first (cold, from JVM start) repeated warm: the
    * session stopped and built again, `setups` times in all. */
  private def batch(w: String, a: Map[String, String], tr: Tracer): Map[String, Any] = {
    val (work, data) = (a("work"), a("data"))
    val spark = Batch.setup(s"$work/s0", data, w)
    val cold = Session.sinceJvmStartMs() / 1000.0
    val r = Batch.run(spark, tr, w, data, a("warm"), a("out"), a("seconds").toInt)
    spark.stop()
    val warm = (1 until a("setups").toInt).map { i =>
      val (s, sec) = timed(Batch.setup(s"$work/s$i", data, w))
      s.stop()
      sec
    }
    r ++ Map("setup_s" -> (cold +: warm))
  }

  private def stream(a: Map[String, String], tr: Tracer): Map[String, Any] = {
    val work = a("work")
    val (spark, topo) = AdClick.setup(s"$work/s0", a("src"), tr)
    val cold = Session.sinceJvmStartMs() / 1000.0
    val r = AdClick.run(topo, tr, a("out"), a("go"),
      a("backlog-rows").toLong, a("total-rows").toLong, a("seconds").toInt)
    tr.detach()
    spark.stop()
    val warm = (1 until a("setups").toInt).map { i =>
      val empty = new java.io.File(s"$work/s$i/src")
      empty.mkdirs()
      val ((s, t), sec) = timed(AdClick.setup(s"$work/s$i", empty.getPath, new Tracer(false)))
      t.stop()
      s.stop()
      sec
    }
    r ++ Map("setup_s" -> (cold +: warm))
  }
}
