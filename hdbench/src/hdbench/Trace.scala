package hdbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.hotdog.{Corpus, Pipeline, Router, SyslogParseTokens, exprs}

/** In-memory trace of one run, fed from outside the program: spans the
  * benchmark records around its calls into each layer, plus a
  * `SparkListener` (jobs, stages, tasks, SQL executions), a
  * `QueryExecutionListener` (executed-plan metrics of each write) and a
  * `StreamingQueryListener` (micro-batch progress). Written out once, at
  * the end of the run. */
final class Tracer(val runId: String) {
  import Tracer._
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  /** epoch milliseconds of a `System.nanoTime` reading */
  def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  val spans = ArrayBuffer.empty[Span]
  val tasks = ArrayBuffer.empty[TaskRec]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val execs = mutable.HashMap.empty[Long, (Long, Long)]
  private val execOfQe = new java.util.IdentityHashMap[QueryExecution, Long]()
  private val writesByQe = ArrayBuffer.empty[(QueryExecution, WriteRec)]
  val progress = ArrayBuffer.empty[StreamingQueryProgress]
  private var nJobs = 0
  private var nDrains = 0

  def span(id: String, name: String, start: Double, end: Double, parent: String): Unit =
    synchronized { spans += Span(id, name, start, end, parent) }

  /** spans of one `Main`-shaped job: plan building, `writeBatch` (its
    * sink part is the `kafka.producer.sent` wall it returns; the rest is
    * the audit), then the `/stats` rendering */
  def jobSpans(t0: Long, t1: Long, t2: Long, t3: Long, sentMicros: Long): Unit = {
    nJobs += 1
    val job = s"job$nJobs"
    span(job, "job", ms(t0), ms(t3), "")
    span(s"$job/plan", "plan", ms(t0), ms(t1), job)
    span(s"$job/writeBatch", "writeBatch", ms(t1), ms(t2), job)
    span(s"$job/writeBatch/sink", "sink", ms(t1), ms(t1) + sentMicros / 1e3, s"$job/writeBatch")
    span(s"$job/stats", "stats", ms(t2), ms(t3), job)
  }

  def drainSpan(t0: Long, t1: Long): Unit = {
    nDrains += 1
    span(s"drain$nDrains", "drain", ms(t0), ms(t1), "")
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(e.stageId,
        m.executorRunTime, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart => execs(s.executionId) = (s.time, -1L)
        case x: SparkListenerSQLExecutionEnd =>
          execs.get(x.executionId).foreach(v => execs(x.executionId) = (v._1, x.time))
          val qe = org.apache.spark.sql.HdBenchSql.queryExecution(x)
          if (qe != null) execOfQe.put(qe, x.executionId)
        case _ =>
      }
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan: SparkPlan = qe.executedPlan
      collectFirst(plan) { case d: DataWritingCommandExec => d }.foreach { d =>
        val path = d.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
          case _ => ""
        }
        def metric(n: String) = d.metrics.get(n).map(_.value).getOrElse(0L)
        def sumOf(name: String)(pf: PartialFunction[SparkPlan, SparkPlan]) =
          collect(plan)(pf).map(_.metrics.get(name).map(_.value).getOrElse(0L)).sum
        val broadcast = sumOf("dataSize") { case b: BroadcastExchangeExec => b }
        val scanned = sumOf("filesSize") { case f: FileSourceScanExec => f }
        Tracer.this.synchronized {
          writesByQe += qe -> WriteRec(-1L, path, metric("numFiles"),
            metric("numOutputBytes"), broadcast, scanned)
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(spark: SparkSession): Unit = {
    org.apache.spark.HdBenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  // ---- queries over the recorded events (call after uninstall) ----

  /** sink and audit writes, with the SQL execution id of each */
  lazy val writes: Seq[WriteRec] = writesByQe.toSeq.flatMap { case (qe, w) =>
    Option(execOfQe.get(qe)).map(id => w.copy(execId = id))
  }

  def jobsIn(a: Double, b: Double): Seq[JobRec] =
    jobs.values.filter(j => j.start >= a && j.start <= b).toSeq

  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = {
    val stages = js.flatMap(_.stages).toSet
    tasks.filter(t => stages(t.stage)).toSeq
  }

  /** the write executions (sink or audit) that started inside [a, b] */
  def writesIn(a: Double, b: Double, suffix: String): Seq[(WriteRec, Long, Long)] =
    writes.filter(_.path.endsWith(suffix)).flatMap { w =>
      execs.get(w.execId).collect { case (s, e) if s >= a && s <= b => (w, s, e) }
    }.sortBy(_._2)

  /** spans, Spark jobs and SQL executions as JSON lines */
  def writeTo(path: String): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def line(m: Map[String, Any]) = om.writeValueAsString(m.asJava)
    val all = spans.map(s => line(Map("run" -> runId, "kind" -> "span", "id" -> s.id,
      "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end, "parent" -> s.parent))) ++
      jobs.values.map(j => line(Map("run" -> runId, "kind" -> "spark_job",
        "id" -> s"sparkjob${j.id}", "name" -> "spark_job", "start_ms" -> j.start,
        "end_ms" -> j.end, "parent" -> enclosing(j.start.toDouble)))) ++
      writes.flatMap(w => execs.get(w.execId).map { case (s, e) =>
        line(Map("run" -> runId, "kind" -> "write", "id" -> s"exec${w.execId}",
          "name" -> w.path.split('/').last, "start_ms" -> s, "end_ms" -> e,
          "parent" -> enclosing(s.toDouble), "files" -> w.files, "bytes" -> w.bytes,
          "broadcast_bytes" -> w.broadcastBytes))
      })
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), (all.mkString("\n") + "\n").getBytes(UTF_8))
  }

  /** innermost benchmark span containing time t */
  private def enclosing(t: Double): String =
    spans.filter(s => s.start <= t && t <= s.end).sortBy(s => s.end - s.start)
      .headOption.map(_.id).getOrElse("")
}

object Tracer {
  final case class Span(id: String, name: String, start: Double, end: Double, parent: String)
  final case class TaskRec(stage: Int, runMs: Long, recordsRead: Long,
      shuffleWrite: Long, spill: Long, bytesWritten: Long)
  final case class JobRec(id: Int, start: Long, end: Long, stages: Seq[Int])
  final case class WriteRec(execId: Long, path: String, files: Long, bytes: Long,
      broadcastBytes: Long, scanBytes: Long)
}

/** The traced run: per-layer numbers for one workload. */
object Trace {
  /** layers a workload does not run; their metrics print as absent */
  def absent(spec: Spec): Set[String] =
    if (spec.stream) Set("stats.self_s", "stats.jobs", "stats.rows_rescanned",
      "enrich.self_s", "enrich.broadcast_bytes")
    else Set("stream.batches", "stream.add_batch_s_p50", "stream.wal_commit_s_p50",
      "stream.commit_offsets_s_p50", "stream.planning_s_p50", "stream.trigger_gap_s")

  def run(o: Opts, spec: Spec, inDir: String, s: Bench.Setup,
      out: java.util.LinkedHashMap[String, Any]): Unit = {
    val spark = s.spark
    val main = s"$inDir/main"
    val exp = Check.load(s"$inDir/expected.json")
    val work = s"${o.root}/work/${spec.name}-trace"
    val tally = new Tally
    def checked(tr: Option[Tracer]): Option[JobOut] =
      Bench.checkedJob(spark, spec, main, s.cfg, work, exp, tr, tamper = false, tally).map(_._1)
    Bench.checkCold(o, s, spec, tally)
    for (_ <- 0 until spec.warmJobs) checked(None)
    val gc0 = Jvm.gcS; val jit0 = Jvm.jitS
    // untraced and traced jobs in ABBA order, so neither side runs on a
    // systematically warmer JVM
    val tr = new Tracer(s"${spec.name}-s${o.seed}-${System.currentTimeMillis()}")
    def tracedJob(): Option[JobOut] = {
      tr.install(spark)
      try checked(Some(tr)) finally tr.uninstall(spark)
    }
    val u1 = checked(None); val t1 = tracedJob(); val t2 = tracedJob(); val u2 = checked(None)
    val untraced = (u1 ++ u2).toSeq
    val traced = (t1 ++ t2).toSeq
    tr.install(spark)
    val rungs = try ladder(spark, spec, main, s.cfg, 5, tr) finally tr.uninstall(spark)
    val charsOut = Router.decoded(spark.read.parquet(main))
      .agg(sum(length(col("line")))).head().getLong(0)
    val tracePath = s"${o.root}/trace/${tr.runId}.jsonl"
    tr.writeTo(tracePath)

    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(n: String, v: Double, unit: String): Unit = m(n) = (v, unit)
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stat.median(xs)

    val scan = rungs("scan"); val decode = rungs("decode"); val parse = rungs("parse")
    val route = rungs("route")
    put("scan.self_s", scan, "s")
    put("decode.self_s", decode - scan, "s")
    put("decode.chars_out", charsOut.toDouble, "count")
    put("parse.self_s", parse - decode, "s")
    put("route.self_s", route - parse, "s")
    put("enrich.self_s", rungs.get("enrich").map(_ - route).getOrElse(0.0), "s")

    val stats = if (spec.stream) exp.batchStats
      else traced.headOption.map(r => Check.statsMap(r.statsJson)).getOrElse(Map.empty)
    def st(k: String) = stats.getOrElse(k, 0L).toDouble
    put("parse.ok_ratio", st("lines") / exp.lines, "ratio")
    put("route.emitted_ratio", st("kafka.submitted") / math.max(1.0, st("lines")), "ratio")
    put("route.topics", stats.keys.count(_.startsWith("kafka.submitted.")).toDouble, "count")
    put("route.err_merge_invalid_json", st("error.merge_of_invalid_json"), "count")
    put("route.err_merge_target_not_json", st("error.merge_target_not_json"), "count")
    put("route.err_topic_parse_failed", st("error.topic_parse_failed"), "count")

    // one record per traced job (batch) or micro-batch (stream)
    final case class Sample(wall: Double, sink: Double, sinkJobs: Seq[Tracer.JobRec],
        sinkWrite: Option[Tracer.WriteRec], audit: Double, auditJobs: Seq[Tracer.JobRec],
        stats: Double, statsJobs: Seq[Tracer.JobRec], allJobs: Seq[Tracer.JobRec],
        unattributed: Double)
    val samples: Seq[Sample] =
      if (!spec.stream) tr.spans.filter(_.name == "job").toSeq.map { j =>
        def child(n: String) = tr.spans.find(_.id == s"${j.id}/$n").get
        val wb = child("writeBatch"); val sink = child("writeBatch/sink")
        val stSpan = child("stats")
        Sample(j.end - j.start, sink.end - sink.start, tr.jobsIn(sink.start, sink.end),
          tr.writesIn(wb.start, wb.end, "/routed").headOption.map(_._1),
          (wb.end - wb.start) - (sink.end - sink.start), tr.jobsIn(sink.end, wb.end),
          stSpan.end - stSpan.start, tr.jobsIn(stSpan.start, stSpan.end),
          tr.jobsIn(j.start, j.end),
          (j.end - j.start) - (wb.end - wb.start) - (stSpan.end - stSpan.start))
      }
      else tr.progress.toSeq.map { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.withDefaultValue(0.0)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val end = start + d("triggerExecution")
        val sinkW = tr.writesIn(start, end, "/routed").headOption
        val (sinkMs, sinkEnd) = sinkW.map { case (_, a, b) => ((b - a).toDouble, b.toDouble) }
          .getOrElse((0.0, start))
        val known = Seq("addBatch", "walCommit", "commitOffsets", "queryPlanning",
          "latestOffset", "getBatch").map(d).sum
        Sample(d("triggerExecution"), sinkMs,
          sinkW.map { case (_, a, b) => tr.jobsIn(a.toDouble, b.toDouble) }.getOrElse(Nil),
          sinkW.map(_._1), d("addBatch") - sinkMs, tr.jobsIn(sinkEnd, end),
          0.0, Nil, tr.jobsIn(start, end), d("triggerExecution") - known)
      }
    def perUnit(f: Sample => Double): Double = med(samples.map(f))
    val sec = 1e3
    put("scan.bytes_read", perUnit(_.sinkWrite.map(_.scanBytes).getOrElse(0L).toDouble), "B")
    put("enrich.broadcast_bytes", perUnit(_.sinkWrite.map(_.broadcastBytes).getOrElse(0L).toDouble), "B")
    put("sink.wall_s", perUnit(_.sink) / sec, "s")
    put("sink.shuffle_bytes", perUnit(u => tr.tasksOf(u.sinkJobs).map(_.shuffleWrite).sum.toDouble), "B")
    put("sink.spill_bytes", perUnit(u => tr.tasksOf(u.sinkJobs).map(_.spill).sum.toDouble), "B")
    put("sink.files", perUnit(_.sinkWrite.map(_.files).getOrElse(0L).toDouble), "count")
    put("sink.bytes_written", perUnit(_.sinkWrite.map(_.bytes).getOrElse(0L).toDouble), "B")
    put("sink.task_skew", perUnit { u =>
      val w = tr.tasksOf(u.sinkJobs).filter(_.bytesWritten > 0).map(_.runMs.toDouble)
      if (w.isEmpty) 0.0 else w.max / math.max(1.0, Stat.median(w))
    }, "ratio")
    put("audit.self_s", perUnit(_.audit) / sec, "s")
    put("audit.jobs", perUnit(_.auditJobs.size.toDouble), "count")
    put("audit.recompute_fallbacks",
      samples.count(u => tr.tasksOf(u.auditJobs).exists(_.recordsRead > 0)).toDouble, "count")
    put("stats.self_s", perUnit(_.stats) / sec, "s")
    put("stats.jobs", perUnit(_.statsJobs.size.toDouble), "count")
    put("stats.rows_rescanned", perUnit(u => tr.tasksOf(u.statsJobs).map(_.recordsRead).sum.toDouble), "count")
    put("job.spark_jobs", perUnit(_.allJobs.size.toDouble), "count")
    put("job.core_busy_ratio", perUnit(u =>
      tr.tasksOf(u.allJobs).map(_.runMs).sum / (math.max(1.0, u.wall) * Bench.Cores)), "ratio")
    put("job.unattributed_s", perUnit(_.unattributed) / sec, "s")

    val drains = tr.spans.filter(_.name == "drain").toSeq
    def durs(k: String) = tr.progress.toSeq.map(_.durationMs.asScala.get(k).map(_.toDouble / sec).getOrElse(0.0))
    put("stream.batches", if (spec.stream) tr.progress.size.toDouble / math.max(1, drains.size) else 0.0, "count")
    put("stream.add_batch_s_p50", med(durs("addBatch")), "s")
    put("stream.wal_commit_s_p50", med(durs("walCommit")), "s")
    put("stream.commit_offsets_s_p50", med(durs("commitOffsets")), "s")
    put("stream.planning_s_p50", med(durs("queryPlanning")), "s")
    put("stream.trigger_gap_s", med(drains.map { d =>
      val inDrain = tr.progress.filter { p =>
        val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        t >= d.start && t <= d.end
      }
      ((d.end - d.start) - inDrain.map(_.durationMs.get("triggerExecution").toDouble).sum) / sec
    }), "s")

    put("config.compile_s", s.compileS, "s")
    put("jvm.gc_s", Jvm.gcS - gc0, "s")
    put("jvm.jit_s", Jvm.jitS - jit0, "s")
    val lps = (rs: Seq[JobOut]) => med(rs.map(r => exp.lines / r.wallS))
    put("trace.overhead_ratio",
      if (traced.isEmpty) 0.0 else lps(untraced) / lps(traced), "ratio")

    val absentHere = absent(spec)
    val metrics = new java.util.LinkedHashMap[String, Any]()
    m.foreach { case (k, (v, unit)) =>
      metrics.put(k, Map[String, Any]("value" -> (if (absentHere(k)) 0.0 else v), "unit" -> unit).asJava)
    }
    out.put("metrics", metrics)
    tally.report(out)
    out.put("absent", absentHere.toSeq.sorted.asJava)
    out.put("info", Map[String, Any](
      "trace_file" -> tracePath,
      "spans" -> tr.spans.size,
      "spark_jobs" -> tr.jobs.size,
      "untraced_lines_per_s" -> lps(untraced),
      "traced_lines_per_s" -> lps(traced),
      "ladder_s" -> rungs.map { case (k, v) => f"$k=$v%.3f" }.mkString(" ")).asJava)
  }

  /** Prefix ladder of `noop` materializations of the run's input (the
    * stream's whole backlog as one batch), each rung adding one layer:
    * scan → +decode → +parse → +route → +enrich (batch only). The median
    * of each rung over `reps`; a layer's self time is the difference of
    * adjacent rungs. */
  private def ladder(spark: SparkSession, spec: Spec, main: String,
      cfg: graft.hotdog.config.HotdogConfig, reps: Int, tr: Tracer): Map[String, Double] = {
    val in = spark.read.parquet(main)
    val rungs: Seq[(String, () => DataFrame)] = Seq(
      "scan" -> (() => in),
      "decode" -> (() => Router.decoded(in)),
      // parse the way `Router.route` does (from tokens, not from `line`)
      "parse" -> (() => Router.decoded(in)
        .withColumn("p", exprs.col(SyslogParseTokens(exprs.expr(col("tokens")))))),
      "route" -> (() => Router.route(in, cfg))) ++
      (if (spec.stream) Nil
       else Seq("enrich" -> (() => Pipeline.run(in, cfg, dim = Some(Corpus.sourceDim(spark))).routed)))
    val times = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    for (rep <- 0 until reps; (name, df) <- rungs) {
      val t0 = System.nanoTime()
      df().write.format("noop").mode("overwrite").save()
      val t1 = System.nanoTime()
      tr.span(s"ladder$rep/$name", s"ladder.$name", tr.ms(t0), tr.ms(t1), "")
      times.getOrElseUpdate(name, ArrayBuffer.empty) += (t1 - t0) / 1e9
    }
    times.map { case (k, v) => k -> Stat.median(v.toSeq) }.toMap
  }
}
