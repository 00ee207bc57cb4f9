package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.SparkEntry
import graft.functions._
import graft.operators.{AreaTop3, Pipeline, Sessions, TextAnalysis}

/** The two closed-loop batch workloads: one caller runs the workload's
  * three jobs in a fixed order (a pass), each from its public entry point
  * to the collected result, until the run's seconds are spent. */
object Batch {
  import Tracer.median

  final case class Job(name: String, oracle: String,
                       run: (SparkSession, String) => DataFrame)

  val jobs: Map[String, Seq[Job]] = Map(
    "clickstream_reports" -> Seq(
      Job("session_report", "q_session_stats", Sessions.qSessionStats),
      Job("page_convert", "q_page_convert_rate", Sessions.qPageConvertRate),
      Job("area_top3", "q_area_top3", AreaTop3.qAreaTop3)),
    "corpus_build" -> Seq(
      Job("corpus_build", "pipeline_pretrain_corpus", Pipeline.qPretrainCorpus),
      Job("corpus_model", "pipeline_pretrain_model", Pipeline.qPretrainCorpusModel),
      Job("chunked_pretrain", "pipeline_chunked_pretrain", Pipeline.qChunkedPretrain)))

  val tables: Map[String, Seq[String]] = Map(
    "clickstream_reports" -> Seq("events", "region", "nation", "supplier", "part", "lineitem"),
    "corpus_build" -> Seq("documents"))

  /** Set-up: the session plus every input table opened (schema read). */
  def setup(work: String, data: String, workload: String): SparkSession = {
    val spark = Session.build(work)
    tables(workload).foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)
    spark
  }

  private val MinPasses = 3

  final case class Rep(job: String, seconds: Double, traced: Boolean)

  def run(spark: SparkSession, tr: Tracer, workload: String, data: String,
          warm: String, out: String, seconds: Int): Map[String, Any] = {
    val js = jobs(workload)
    val last = mutable.Map.empty[String, (Array[Row], StructType)]
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]

    def reset(): Unit = { spark.catalog.clearCache(); System.gc() }

    /** One call from entry point to collected rows; None when it threw. */
    def rep(j: Job, data: String): Option[Double] = {
      val t0 = System.nanoTime()
      val res = try {
        val (rows, schema) = tr.span(s"rep ${j.name}", "rep") {
          val df = tr.span("build", "operators")(j.run(spark, data))
          tr.span("plan", "plans")(df.queryExecution.executedPlan)
          (tr.span("collect", "exec")(df.collect()), df.schema)
        }
        val sec = (System.nanoTime() - t0) / 1e9
        last(j.name) = (rows, schema)
        Some(sec)
      } catch {
        case e: Exception =>
          errors += s"${j.name}: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          None
      }
      reset()
      res
    }

    // untimed warm-up pass over a small copy of the inputs: class loading,
    // JIT and codegen, none of which a long-running session pays per call
    js.foreach(j => rep(j, warm))
    errors.clear()
    last.clear()

    val builds0 = graft.core.ModelCache.builds.get()
    val reps = mutable.ArrayBuffer.empty[Rep]
    val passes = mutable.ArrayBuffer.empty[(Boolean, Double)]
    val deadline = System.nanoTime() + seconds * 1000000000L
    var i = 0
    // a traced run alternates untraced and traced passes, so the tracing
    // overhead is measured inside one run; its first pass, still warming
    // up, is untraced and left out of that comparison
    val minPasses = if (tr.enabled) MinPasses + 2 else MinPasses
    while (System.nanoTime() < deadline || passes.size < minPasses) {
      val traced = tr.enabled && i % 2 == 1
      if (traced) tr.attach(spark)
      var passSec = 0.0
      js.foreach { j =>
        attempted += 1
        rep(j, data) match {
          case Some(s) => passSec += s; reps += Rep(j.name, s, traced)
          case None => failed += 1
        }
      }
      if (traced) tr.detach()
      passes += ((traced, passSec))
      i += 1
    }

    // outputs of each job's last call, for the oracle check
    js.foreach { j =>
      last.get(j.name).foreach { case (rows, schema) =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/results/${j.name}")
      }
    }
    Json.write(s"$out/oracle_sql.json",
      js.map(j => j.name -> SparkEntry.oracleSql(j.oracle)).toMap)

    val untracedPasses = passes.filter(!_._1).map(_._2).toSeq
    val base: Map[String, Any] = Map(
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "pass_s" -> untracedPasses,
      "job_s" -> js.map(j => j.name -> reps.filter(r => r.job == j.name && !r.traced)
        .map(_.seconds).toSeq).toMap)
    if (!tr.enabled) base
    else {
      val tracedPasses = passes.filter(_._1).map(_._2).toSeq
      val builds = (graft.core.ModelCache.builds.get() - builds0).toDouble / passes.size
      base ++ Map(
        "traced_pass_s" -> tracedPasses,
        "layers" -> (layers(tr, js, tracedPasses.size) ++
          Map("core.model_builds" -> builds) ++
          kernels(spark, tr, workload, data)))
    }
  }

  /** Per-layer metrics from the traced passes' spans. */
  private def layers(tr: Tracer, js: Seq[Job], nPasses: Int): Map[String, Double] = {
    val spans = tr.all
    val byParent = spans.groupBy(_.parent)
    val repSpans = spans.filter(_.layer == "rep")
    def kids(s: Span, name: String) = byParent.getOrElse(s.id, Nil).filter(_.name == name)
    def jobsUnder(id: Long): Seq[Span] = byParent.getOrElse(id, Nil).flatMap { c =>
      (if (c.layer == "exec" && c.name.startsWith("job ")) Seq(c) else Nil) ++ jobsUnder(c.id)
    }
    val perJob = js.flatMap { j =>
      val rs = repSpans.filter(_.name == s"rep ${j.name}")
      val builds = rs.flatMap(kids(_, "build"))
      Seq(
        s"operators.build_s.${j.name}" -> median(builds.map(_.seconds)),
        s"operators.build_jobs.${j.name}" -> median(builds.map(b => jobsUnder(b.id).size.toDouble)),
        s"exec.run_s.${j.name}" -> median(rs.flatMap(kids(_, "collect")).map(_.seconds)))
    }.toMap
    val allJobs = repSpans.flatMap(r => jobsUnder(r.id))
    val inReps = (ms: Long) => repSpans.exists(r => ms * 1000L >= r.startUs && ms * 1000L <= r.endUs)
    val ph = tr.phases.asScala.toSeq.filter { case (start, _) => inReps(start) }
    val p = math.max(1, nPasses).toDouble
    def perPass(k: String) = ph.map(_._2.getOrElse(k, 0.0)).sum / p
    perJob ++ Tracer.execLayer(allJobs, p, repSpans.map(_.seconds).sum) ++ Map(
      "plans.analysis_s" -> perPass("analysis") / 1e3,
      "plans.optimization_s" -> perPass("optimization") / 1e3,
      "plans.planning_s" -> perPass("planning") / 1e3,
      "sources.scan_rows" -> perPass("scan_rows"),
      "sources.scan_mb" -> perPass("scan_bytes") / 1e6)
  }

  /** Each kernel's entry point timed alone over the workload's own input
    * column, cached beforehand; median of three calls. */
  private def kernels(spark: SparkSession, tr: Tracer, workload: String,
                      data: String): Map[String, Double] = {
    def timeK(name: String, in: DataFrame, k: Column): (String, Double) = {
      val q = in.select(k.as("k")).agg(max(xxhash64(col("k"))))
      q.collect()
      tr.attach(spark)
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        tr.span(s"kernel $name", "functions")(q.collect())
        (System.nanoTime() - t0) / 1e9
      }
      tr.detach()
      s"functions.${name}_s" -> median(ts)
    }
    workload match {
      case "corpus_build" =>
        val docs = spark.read.parquet(s"$data/documents.parquet")
          .select(col("text"), Text.tokens(col("text")).as("toks"),
            Text.shingles3(col("text")).as("sh3"))
          .withColumn("h", (size(col("toks")) / 2).cast("int") + 1)
          .withColumn("ivs", array(
            struct(lit(1).as("s"), lit(8).as("e")),
            struct(col("h").as("s"), (col("h") + 7).as("e"))))
          .cache()
        docs.count()
        val r = Map(
          timeK("quality_score", docs, QualityScore(col("text"))),
          timeK("minhash", docs, MinHashes.minhash8(col("sh3"))),
          timeK("shingles", docs, ShinglesW(col("text"), 4)),
          timeK("classifier", docs, ClassifierMeanWKernel.classifierMeanW(col("toks"), None)),
          timeK("bpe_count", docs, TextAnalysis.bpeTokenCount(col("text"))),
          timeK("remove_intervals", docs,
            RemoveIntervals.removeIntervals(col("toks"), col("ivs"))))
        docs.unpersist()
        r
      case "clickstream_reports" =>
        def t(n: String) = spark.read.parquet(s"$data/$n.parquet")
        val fact = t("lineitem").join(t("supplier"), col("l_suppkey") === col("s_suppkey"))
          .join(t("nation"), col("s_nationkey") === col("n_nationkey"))
          .join(t("region"), col("n_regionkey") === col("r_regionkey"))
          .select("r_name", "l_partkey", "n_name").cache()
        fact.count()
        val q = fact.groupBy("r_name", "l_partkey")
          .agg(GroupConcatDistinct(col("n_name")).as("k"))
        val r = Map(timeK("group_concat_distinct", q, col("k")))
        fact.unpersist()
        r
      case _ => Map.empty
    }
  }
}
