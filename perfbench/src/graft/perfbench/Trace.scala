package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch microseconds;
  * `parent` is the span that caused this one (0 = a root). */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      startUs: Long, endUs: Long,
                      attrs: Map[String, Double] = Map.empty) {
  def seconds: Double = (endUs - startUs) / 1e6
}

/** Spans kept in memory and written out when the run ends. Nothing is
  * recorded and no listener is registered unless `enabled` and between
  * [[attach]] and [[detach]], so an untraced run pays nothing for it.
  *
  * Driver-side spans come from [[span]] around each call into a layer.
  * Spark jobs become `exec` spans whose parent is the driver span that
  * was open on the submitting thread (carried as a job local property);
  * each job span carries its tasks' metrics. Catalyst phase times come
  * from a QueryExecutionListener; a StreamingQueryListener turns each
  * micro-batch's progress into a `streaming` span, parent of the sink
  * calls its foreachBatch made (see [[inBatch]]). */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  @volatile private var sc: SparkContext = _
  private val listeners = mutable.ArrayBuffer.empty[() => Unit]

  /** Per executed query: (start ms, Catalyst phase -> ms, plus the
    * `scan_rows` and `scan_bytes` of its file scans). */
  val phases = new ConcurrentLinkedQueue[(Long, Map[String, Double])]()
  /** Span id of each (query name, batch id) micro-batch, taken by the
    * first of its sink calls or its progress event. */
  private val batchIds = new java.util.concurrent.ConcurrentHashMap[(String, Long), java.lang.Long]()
  private def batchId(query: String, batch: Long): Long =
    batchIds.computeIfAbsent((query, batch), _ => java.lang.Long.valueOf(nextId()))

  def nextId(): Long = ids.getAndIncrement()

  def add(s: Span): Unit = spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Runs `f` (a foreachBatch body) as a child of the micro-batch span
    * that the progress event of (`query`, `batch`) will record. */
  def inBatch[T](query: String, batch: Long)(f: => T): T = {
    if (sc == null) f
    else {
      val parent: Long = current.get
      current.set(batchId(query, batch))
      try f finally current.set(parent)
    }
  }

  def span[T](name: String, layer: String)(f: => T): T = {
    val ctx = sc
    if (ctx == null) f
    else {
      val id = nextId()
      val parent: Long = current.get
      val prevProp = ctx.getLocalProperty(SpanKey)
      current.set(id)
      ctx.setLocalProperty(SpanKey, id.toString)
      val t0 = nowUs()
      try f
      finally {
        spans.add(Span(id, parent, name, layer, t0, nowUs()))
        current.set(parent)
        ctx.setLocalProperty(SpanKey, prevProp)
      }
    }
  }

  /** Register the listeners on `spark`; a no-op when disabled. */
  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = spark.sparkContext
    val jl = new JobListener(this)
    sc.addSparkListener(jl)
    val ql = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        record(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
    }
    spark.listenerManager.register(ql)
    val sl = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
        val ms = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
        add(Span(batchId(p.name, p.batchId), 0L, s"micro-batch ${p.name} ${p.batchId}",
          "streaming", start, start + (ms.getOrElse("triggerExecution", 0.0) * 1000).toLong,
          ms + ("input_rows" -> p.numInputRows.toDouble)))
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(sl)
    val ctx = sc
    listeners += { () =>
      ctx.removeSparkListener(jl)
      spark.listenerManager.unregister(ql)
      spark.streams.removeListener(sl)
    }
  }

  /** Unregister every listener (before the session stops). */
  def detach(): Unit = {
    drain()
    listeners.foreach(_())
    listeners.clear()
    sc = null
  }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = {
    val ctx = sc
    if (ctx != null) org.apache.spark.PerfbenchBridge.drainListeners(ctx)
  }

  /** Records the query's Catalyst phase times and what its parquet scans
    * read (rows out of the scans, bytes of the files they opened). */
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) {
      val start = ph.values.map(_.startTimeMs).min
      val scans = fileScans(qe.executedPlan)
      def metric(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value.toDouble).sum
      phases.add((start, ph.map { case (k, v) => k -> v.durationMs.toDouble } ++
        Map("scan_rows" -> metric("numOutputRows"), "scan_bytes" -> metric("filesSize"))))
    }
  }

  private def fileScans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case r: ReusedExchangeExec => fileScans(r.child)
    case f: FileSourceScanExec => Seq(f)
    case _ => p.children.flatMap(fileScans) ++ p.subqueries.flatMap(fileScans)
  }

  def writeJsonl(path: String, run: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startUs).foreach { s =>
      w.println(Json(Map("run" -> run, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_us" -> s.startUs,
        "end_us" -> s.endUs, "attrs" -> s.attrs)))
    } finally w.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  private val baseEpochUs = System.currentTimeMillis() * 1000L
  private val baseNano = System.nanoTime()
  def nowUs(): Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** Nearest-rank percentile, `p` in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(math.min(s.size - 1, (p * s.size).toInt)) }

  /** `exec` metrics over job spans: totals divided by `per` (the
    * number of passes, or seconds of a live phase); busy share against
    * `wallS` seconds of all cores; task skew as the median over the
    * heavier half of the jobs that ran a stage of several tasks. */
  def execLayer(jobs: Seq[Span], per: Double, wallS: Double): Map[String, Double] = {
    def total(k: String) = jobs.map(_.attrs.getOrElse(k, 0.0)).sum
    val p = math.max(per, 1e-9)
    val multi = jobs.filter(_.attrs.contains("task_skew"))
    val runs = multi.map(_.attrs("run_ms"))
    val heavy = multi.filter(_.attrs("run_ms") >= median(runs))
    Map(
      "exec.stages" -> total("stages") / p,
      "exec.tasks" -> total("tasks") / p,
      "exec.task_cpu_s" -> total("cpu_ns") / 1e9 / p,
      "exec.gc_s" -> total("gc_ms") / 1e3 / p,
      "exec.busy_share" -> (if (wallS > 0) total("run_ms") / 1e3 / (wallS * cores) else 0.0),
      "exec.task_skew" -> (if (heavy.isEmpty) 1.0 else median(heavy.map(_.attrs("task_skew")))),
      "exec.shuffle_write_mb" -> total("shuffle_write_b") / 1e6 / p,
      "exec.shuffle_read_mb" -> total("shuffle_read_b") / 1e6 / p,
      "exec.spill_mb" -> total("spill_b") / 1e6 / p)
  }

  private def cores = Session.cores

  /** Task metrics summed over one Spark job. */
  final class JobAcc {
    var tasks = 0; var runMs = 0.0; var cpuNs = 0.0; var gcMs = 0.0
    var shuffleW = 0.0; var shuffleR = 0.0; var spill = 0.0
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
  }
}

/** Turns Spark jobs into `exec` spans carrying their tasks' metrics. */
private final class JobListener(t: Tracer) extends SparkListener {
  import Tracer.JobAcc
  private case class Open(parent: Long, startMs: Long, acc: JobAcc)
  private val open = mutable.Map.empty[Int, Open]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Tracer.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    open(e.jobId) = Open(p, e.time, new JobAcc)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); o <- open.get(j); m <- Option(e.taskMetrics)) {
      val a = o.acc
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleW += m.shuffleWriteMetrics.bytesWritten
      a.shuffleR += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration.toDouble
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { o =>
      val a = o.acc
      // skew of the job's heaviest stage of several tasks: slowest task
      // over the mean task
      val skew = a.stageTaskMs.values.filter(_.size > 1).maxByOption(_.sum).map { ts =>
        "task_skew" -> ts.max / math.max(1.0, ts.sum / ts.size)
      }
      t.add(Span(t.nextId(), o.parent, s"job ${e.jobId}", "exec",
        o.startMs * 1000L, e.time * 1000L,
        Map("stages" -> a.stageTaskMs.size.toDouble, "tasks" -> a.tasks.toDouble,
          "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
          "shuffle_write_b" -> a.shuffleW, "shuffle_read_b" -> a.shuffleR,
          "spill_b" -> a.spill) ++ skew))
      stageJob.filterInPlace((_, j) => j != e.jobId)
    }
  }
}
