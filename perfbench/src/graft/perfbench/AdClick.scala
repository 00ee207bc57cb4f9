package graft.perfbench

import java.sql.DriverManager
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import graft.sources.JdbcUpsertSink
import graft.sources.JdbcUpsertSink.{AnsiDialect, InsertIfAbsent, Overwrite}
import graft.streaming.AdStream

/** The real-time ad-click job, wired as the reference's topology from
  * `AdStream` and `JdbcUpsertSink` into embedded Derby:
  *
  *   file source (reference line format)
  *     -> feeder: daily (user, ad) counts -> `ad_user_click_count` + `blacklist`
  *     -> stats:  blacklist-filtered running totals -> `ad_stat`, then the
  *                per-batch province top-3 -> `ad_province_top3`
  *     -> trend:  blacklist-filtered sliding window -> `ad_click_trend`
  *
  * Queries run with the default trigger (next micro-batch as soon as the
  * previous one ends). A query that dies is restarted from its checkpoint,
  * as the reference's driver HA does; its failed attempts are counted. */
final class AdClick(spark: SparkSession, tr: Tracer, src: String, val url: String) {
  import AdClick._

  val attempts = new ConcurrentLinkedQueue[Attempt]()
  val errors = new ConcurrentLinkedQueue[String]()
  private val instances = mutable.Map.empty[String, mutable.ArrayBuffer[StreamingQuery]]
  var restarts = 0

  private def clicks(): DataFrame =
    AdStream.parse(spark.readStream.text(src).select(col("value").cast("string")))

  // Derby upper-cases unquoted names; "date" is reserved, so it is dt there
  private def blacklistTable(): DataFrame =
    spark.read.format("jdbc").option("url", url).option("dbtable", "blacklist").load()
      .select(col("USER_ID").as("user_id"))

  /** Runs one foreachBatch body, timing each sink call and recording the
    * attempt whether it succeeds or throws. */
  private def attempt(q: String, batch: Long)(body: (String => (=> Unit) => Unit) => Unit): Unit = {
    val start = System.currentTimeMillis()
    val commits = mutable.Map.empty[String, Long]
    val sinkMs = mutable.Map.empty[String, Double]
    def sink(table: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      tr.span(s"sink $table", "sources")(f)
      sinkMs(table) = (System.nanoTime() - t0) / 1e6
      commits(table) = System.currentTimeMillis()
    }
    try {
      tr.inBatch(q, batch)(body(sink))
      attempts.add(Attempt(q, batch, start, ok = true, commits.toMap, sinkMs.toMap))
    } catch {
      case e: Throwable =>
        attempts.add(Attempt(q, batch, start, ok = false, commits.toMap, sinkMs.toMap))
        errors.add(s"$q batch $batch: ${rootCause(e)}".take(400))
        throw e
    }
  }

  private def startFeeder(): StreamingQuery =
    AdStream.sinkPerBatch(
      AdStream.dailyUserAdCounts(clicks()), "feeder",
      (df: DataFrame, id: Long) => attempt("feeder", id) { sink =>
        val counts = df.withColumnRenamed("date", "dt")
        sink("ad_user_click_count")(JdbcUpsertSink.upsert(counts, url,
          "ad_user_click_count", Seq("dt", "user_id", "ad_id"), Seq("click_count"),
          Overwrite, AnsiDialect))
        sink("blacklist")(JdbcUpsertSink.upsert(
          counts.where(col("click_count") >= Threshold).select("user_id").distinct(),
          url, "blacklist", Seq("user_id"), Nil, InsertIfAbsent, AnsiDialect))
      })

  private def startStats(): StreamingQuery =
    AdStream.sinkPerBatch(
      AdStream.runningStats(AdStream.filterBlacklisted(clicks(), blacklistTable())), "stats",
      (df: DataFrame, id: Long) => attempt("stats", id) { sink =>
        sink("ad_stat")(JdbcUpsertSink.upsert(df.withColumnRenamed("date", "dt"), url,
          "ad_stat", Seq("dt", "province", "city", "ad_id"), Seq("click_count"),
          Overwrite, AnsiDialect))
        sink("ad_province_top3")(replaceTop3(df.sparkSession))
      })

  private def startTrend(): StreamingQuery =
    AdStream.sinkPerBatch(
      AdStream.clickTrend(AdStream.filterBlacklisted(clicks(), blacklistTable())), "trend",
      (df: DataFrame, id: Long) => attempt("trend", id) { sink =>
        sink("ad_click_trend")(JdbcUpsertSink.upsert(df, url, "ad_click_trend",
          Seq("window_start", "window_end", "ad_id"), Seq("click_count"),
          Overwrite, AnsiDialect))
      })

  /** Per-batch top-3 over the whole `ad_stat` table, replacing each
    * (dt, province) group: the reference's delete-then-insert. */
  private def replaceTop3(sess: SparkSession): Unit = {
    val stat = sess.read.format("jdbc").option("url", url).option("dbtable", "ad_stat").load()
      .select(col("DT").as("date"), col("PROVINCE").as("province"), col("CITY").as("city"),
        col("AD_ID").as("ad_id"), col("CLICK_COUNT").as("click_count"))
    val top3 = AdStream.provinceTop3(stat)
      .select(col("date").as("dt"), col("province"), col("ad_id"),
        col("click_count"), col("rank").as("rnk"))
    val keys = top3.select("dt", "province").distinct().collect()
    val c = DriverManager.getConnection(url)
    try {
      val del = c.prepareStatement(
        JdbcUpsertSink.deleteSql("ad_province_top3", Seq("dt", "province")))
      keys.foreach { k =>
        del.setObject(1, k.get(0)); del.setObject(2, k.get(1)); del.executeUpdate()
      }
    } finally c.close()
    JdbcUpsertSink.insert(top3, url, "ad_province_top3",
      Seq("dt", "province", "ad_id", "click_count", "rnk"))
  }

  private val starters: Seq[(String, () => StreamingQuery)] =
    Seq("feeder" -> (() => startFeeder()), "stats" -> (() => startStats()),
      "trend" -> (() => startTrend()))

  def start(): Unit = starters.foreach { case (n, f) =>
    instances.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += f()
  }

  /** Restart every query that died, from its checkpoint, once the dead
    * run's Spark jobs have ended: the reference's driver HA restarts a
    * new driver, which no task of the old one outlives. */
  def supervise(): Unit = starters.foreach { case (n, f) =>
    val q = instances(n).last
    if (!q.isActive) {
      restarts += 1
      q.exception.foreach(e => errors.add(s"$n terminated: ${rootCause(e)}".take(400)))
      val st = spark.sparkContext.statusTracker
      def running = st.getJobIdsForGroup(q.runId.toString).exists(id =>
        st.getJobInfo(id).exists(_.status == org.apache.spark.JobExecutionStatus.RUNNING))
      val end = System.currentTimeMillis() + 30000L
      while (running && System.currentTimeMillis() < end) Thread.sleep(5)
      instances(n) += f()
    }
  }

  def stop(): Unit = instances.values.foreach(_.foreach(q => if (q.isActive) q.stop()))

  /** Completed-batch progress of every instance of `q`, last report per batch. */
  def progress(q: String): Seq[StreamingQueryProgress] =
    instances.getOrElse(q, Nil).flatMap(_.recentProgress).groupBy(_.batchId)
      .values.map(_.last).toSeq.sortBy(_.batchId)

  def processedRows(q: String): Long = progress(q).map(_.numInputRows).sum

  def names: Seq[String] = starters.map(_._1)
}

object AdClick {
  val Threshold = 3L

  /** One micro-batch attempt of one query. `commits` maps a table to the
    * epoch ms at which its upsert returned. */
  final case class Attempt(query: String, batch: Long, startMs: Long, ok: Boolean,
                           commits: Map[String, Long], sinkMs: Map[String, Double])

  val Ddl: Seq[String] = Seq(
    """CREATE TABLE ad_user_click_count (dt DATE NOT NULL, user_id BIGINT NOT NULL,
      |ad_id BIGINT NOT NULL, click_count BIGINT, PRIMARY KEY (dt, user_id, ad_id))""".stripMargin,
    "CREATE TABLE blacklist (user_id BIGINT PRIMARY KEY)",
    """CREATE TABLE ad_stat (dt DATE NOT NULL, province VARCHAR(32) NOT NULL,
      |city VARCHAR(32) NOT NULL, ad_id BIGINT NOT NULL, click_count BIGINT,
      |PRIMARY KEY (dt, province, city, ad_id))""".stripMargin,
    """CREATE TABLE ad_province_top3 (dt DATE NOT NULL, province VARCHAR(32) NOT NULL,
      |ad_id BIGINT NOT NULL, click_count BIGINT, rnk BIGINT)""".stripMargin,
    """CREATE TABLE ad_click_trend (window_start TIMESTAMP NOT NULL,
      |window_end TIMESTAMP NOT NULL, ad_id BIGINT NOT NULL, click_count BIGINT,
      |PRIMARY KEY (window_start, window_end, ad_id))""".stripMargin)

  val TableNames: Seq[String] =
    Seq("ad_user_click_count", "blacklist", "ad_stat", "ad_province_top3", "ad_click_trend")

  def rootCause(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    s"${c.getClass.getName}: ${c.getMessage}"
  }

  private var dbSeq = 0

  /** Set-up: session, a fresh Derby database with the five tables, and
    * the three queries started on `src`, checkpointing under `work`. */
  def setup(work: String, src: String, tr: Tracer): (SparkSession, AdClick) = {
    val spark = Session.build(work)
    // each query checkpoints to <this>/<query name>
    spark.conf.set("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
    tr.attach(spark)
    dbSeq += 1
    val url = s"jdbc:derby:memory:perfbench$dbSeq;create=true"
    val c = DriverManager.getConnection(url)
    try Ddl.foreach(c.createStatement().execute) finally c.close()
    val topo = new AdClick(spark, tr, src, url)
    topo.start()
    (spark, topo)
  }

  /** Writes each Derby table as CSV with a header row. */
  def dump(url: String, dir: String): Unit = {
    new java.io.File(dir).mkdirs()
    val c = DriverManager.getConnection(url)
    try TableNames.foreach { t =>
      val rs = c.createStatement().executeQuery(s"SELECT * FROM $t")
      val md = rs.getMetaData
      val n = md.getColumnCount
      val w = new java.io.PrintWriter(s"$dir/$t.csv", "UTF-8")
      try {
        w.println((1 to n).map(i => md.getColumnName(i).toLowerCase).mkString(","))
        while (rs.next()) w.println((1 to n).map(i => String.valueOf(rs.getObject(i))).mkString(","))
      } finally w.close()
    } finally c.close()
  }

  private def waitUntil(topo: AdClick, timeoutMs: Long)(done: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!done && System.currentTimeMillis() < end) {
      topo.supervise()
      Thread.sleep(10)
    }
    done
  }

  /** Drains the backlog, opens the live phase by writing `goFile`, waits
    * until every query has consumed `totalRows` lines, then stops. */
  def run(topo: AdClick, tr: Tracer, out: String, goFile: String,
          backlogRows: Long, totalRows: Long, seconds: Int): Map[String, Any] = {
    val t0 = System.currentTimeMillis()
    val drained = waitUntil(topo, 60000L)(topo.names.forall(topo.processedRows(_) >= backlogRows))
    val catchupMs = System.currentTimeMillis() - t0
    val goMs = System.currentTimeMillis()
    java.nio.file.Files.write(java.nio.file.Paths.get(goFile + ".tmp"), goMs.toString.getBytes)
    java.nio.file.Files.move(java.nio.file.Paths.get(goFile + ".tmp"),
      java.nio.file.Paths.get(goFile), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val finished = drained && waitUntil(topo, seconds * 1000L + 40000L)(
      topo.names.forall(topo.processedRows(_) >= totalRows))
    topo.stop()
    tr.drain()

    // a transaction left open by a failed upsert can hold its locks past
    // the end of the run; report that instead of the tables
    val dumpError = try { dump(topo.url, s"$out/tables"); None }
      catch { case e: java.sql.SQLException => Some(rootCause(e)) }
    val atts = topo.attempts.asScala.toSeq
    Json.write(s"$out/attempts.json", atts.map(a => Map(
      "query" -> a.query, "batch" -> a.batch, "start_ms" -> a.startMs, "ok" -> a.ok,
      "commits" -> a.commits, "sink_ms" -> a.sinkMs)))
    val base: Map[String, Any] = Map(
      "drained" -> drained, "finished" -> finished, "dump_error" -> dumpError,
      "catchup_ms" -> catchupMs, "go_ms" -> goMs,
      "processed" -> topo.names.map(n => n -> topo.processedRows(n)).toMap,
      "attempts" -> atts.size, "failed_attempts" -> atts.count(!_.ok),
      "restarts" -> topo.restarts, "errors" -> topo.errors.asScala.toSeq.take(20))
    if (!tr.enabled) base
    else base ++ Map("layers" -> layers(topo, tr, atts, goMs, seconds))
  }

  import Tracer.{median, pct}

  /** Per-layer metrics of the live phase. */
  private def layers(topo: AdClick, tr: Tracer, atts: Seq[Attempt], goMs: Long,
                     seconds: Int): Map[String, Double] = {
    val live = (p: StreamingQueryProgress) =>
      java.time.Instant.parse(p.timestamp).toEpochMilli >= goMs
    val perQuery = topo.names.flatMap { q =>
      val all = topo.progress(q)
      val ps = all.filter(live)
      def d(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
      val ops = ps.flatMap(_.stateOperators)
      val lastOps = all.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
      Seq(
        s"streaming.batch_p50_ms.$q" -> median(d("triggerExecution")),
        s"streaming.batch_p99_ms.$q" -> pct(d("triggerExecution"), 0.99),
        s"streaming.add_batch_ms.$q" -> median(d("addBatch")),
        s"streaming.query_planning_ms.$q" -> median(d("queryPlanning")),
        s"streaming.wal_commit_ms.$q" -> median(d("walCommit")),
        s"streaming.commit_offsets_ms.$q" -> median(d("commitOffsets")),
        s"streaming.latest_offset_ms.$q" -> median(d("latestOffset")),
        s"streaming.batches.$q" -> ps.size.toDouble,
        s"streaming.rows_per_batch.$q" -> median(ps.map(_.numInputRows.toDouble)),
        s"streaming.state_rows.$q" -> lastOps.map(_.numRowsTotal.toDouble).sum,
        s"streaming.state_mb.$q" -> lastOps.map(_.memoryUsedBytes.toDouble).sum / 1e6,
        s"streaming.state_commit_ms.$q" -> median(ops.map(_.commitTimeMs.toDouble)),
        s"streaming.late_rows_dropped.$q" -> all.flatMap(_.stateOperators)
          .map(_.numRowsDroppedByWatermark.toDouble).sum)
    }.toMap
    val updated = (q: String) => topo.progress(q).flatMap(_.stateOperators)
      .map(_.numRowsUpdated.toDouble).sum
    val liveAtts = atts.filter(_.startMs >= goMs)
    val sinks = TableNames.flatMap { t =>
      val ms = liveAtts.flatMap(_.sinkMs.get(t))
      Seq(s"sources.jdbc_upsert_p50_ms.$t" -> median(ms),
        s"sources.jdbc_upsert_p99_ms.$t" -> pct(ms, 0.99))
    }.toMap
    val rows = Map(
      "sources.jdbc_rows.ad_user_click_count" -> updated("feeder"),
      "sources.jdbc_rows.ad_stat" -> updated("stats"),
      "sources.jdbc_rows.ad_click_trend" -> updated("trend"),
      "sources.jdbc_rows.blacklist" -> tableRows(topo.url, "blacklist"),
      "sources.jdbc_rows.ad_province_top3" -> tableRows(topo.url, "ad_province_top3"))
    val jobs = tr.all.filter(s => s.layer == "exec" && s.startUs >= goMs * 1000L)
    perQuery ++ sinks ++ rows ++ Tracer.execLayer(jobs, seconds.toDouble, seconds.toDouble) ++ Map(
      "sources.jdbc_failed" -> atts.count(!_.ok).toDouble,
      "streaming.attempts" -> atts.size.toDouble,
      "streaming.failed_attempts" -> atts.count(!_.ok).toDouble,
      "streaming.restarts" -> topo.restarts.toDouble)
  }

  private def tableRows(url: String, t: String): Double = {
    val c = DriverManager.getConnection(url)
    try { val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $t"); rs.next(); rs.getLong(1).toDouble }
    finally c.close()
  }
}
