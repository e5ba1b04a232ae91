package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession, graftshim}
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Layer-by-layer trace of the driver queries:
  * `Trace <sfDir> [query,...]` prints one JSON line per `SparkEntry.queries`
  * entry (all of them when none is named), in Bench's order:
  *  - `rows`, `count_s`: `fn(spark, dir).count()`, timed as Bench times it
  *    (min of 2);
  *  - `full_s`: the same for a `write.format("noop")` of every column, the
  *    work a caller that reads the output pays;
  *  and, from the last full run:
  *  - `jobs`: Spark jobs started;
  *  - `stages`: per stage, tasks, wall and summed task run time, and the
  *    non-zero ones of GC time, input, shuffle and spill bytes;
  *  - `plans`: per executed action, its operators with their SQL metrics
  *    (codegen pipeline time, rows out, shuffle bytes and records, spill,
  *    peak memory, each operator's own timers), `pipeline` naming the
  *    whole-stage-codegen stage an operator runs in (0: none);
  *  - `batches`: per streaming micro-batch, its `durationMs` and state
  *    store commits.
  * The numbers come from one [[Recorder]] per session, whose listeners
  * [[install]] registers once; `graft.scaling.Runner` prints its STAGE
  * lines from the same recorder. */
object Trace {
  private val Trials = 2

  final case class Stage(id: Int, name: String, tasks: Int, wallMs: Long,
      runMs: Long, gcMs: Long, inputBytes: Long, shuffleWriteBytes: Long,
      shuffleReadBytes: Long, spillMemBytes: Long, spillDiskBytes: Long) {
    /** the scaling runner's per-stage log line */
    def line: String =
      f"STAGE $id%4d tasks=$tasks%4d wall=${wallMs / 1000.0}%7.1fs " +
        f"run=${runMs / 1000.0}%8.1fs gc=${gcMs / 1000.0}%7.1fs " +
        f"spillMem=${spillMemBytes >> 20}%6dMB spillDisk=${spillDiskBytes >> 20}%6dMB " +
        f"shufW=${shuffleWriteBytes >> 20}%6dMB shufR=${shuffleReadBytes >> 20}%6dMB " +
        name.take(60)
  }
  final case class Operator(name: String, pipeline: Int, metrics: Seq[(String, Long)])
  final case class Plan(action: String, operators: Seq[Operator])
  final case class Batch(id: Long, rows: Long, durationMs: Seq[(String, Long)],
      stateCommitMs: Seq[Long])
  /** What a session ran between two [[Recorder.take]] calls. */
  final case class Window(jobs: Int, stages: Seq[Stage], plans: Seq[Plan], batches: Seq[Batch])

  /** Jobs, stages, executed plans and micro-batches of one session. */
  final class Recorder {
    private var jobs = 0
    private val stages = ArrayBuffer.empty[Stage]
    private val plans = ArrayBuffer.empty[Plan]
    private val batches = ArrayBuffer.empty[Batch]

    /** everything recorded since the last call, once every event posted so
      * far has been delivered */
    def take(spark: SparkSession): Window = {
      graftshim.drainListenerBus(spark)
      synchronized {
        val w = Window(jobs, stages.toSeq, plans.toSeq, batches.toSeq)
        jobs = 0; stages.clear(); plans.clear(); batches.clear()
        w
      }
    }

    private[Trace] val jobListener: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Recorder.this.synchronized { jobs += 1 }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val s = Stage(i.stageId, i.name.takeWhile(_ != '\n'), i.numTasks,
          i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
          m.executorRunTime, m.jvmGCTime, m.inputMetrics.bytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled, m.diskBytesSpilled)
        Recorder.this.synchronized { stages += s }
      }
    }

    private[Trace] val planListener: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, durationNs: Long): Unit = {
        val p = Plan(action, Operators.of(qe.executedPlan))
        Recorder.this.synchronized { plans += p }
      }
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }

    private[Trace] val batchListener: StreamingQueryListener = new BatchListener(this)

    private[Trace] def record(b: Batch): Unit = synchronized { batches += b }
  }

  private final class BatchListener(val recorder: Recorder) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      recorder.record(Batch(p.batchId, p.numInputRows,
        p.durationMs.asScala.toSeq.sortBy(_._1).map { case (k, v) => k -> v.longValue },
        p.stateOperators.toSeq.map(_.commitTimeMs)))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** The session's recorder, its three listeners registered once: a
    * listener already registered is not registered again (the
    * check-then-register of a session extension), so a second call
    * records nothing twice. */
  def install(spark: SparkSession): Recorder = spark.synchronized {
    val r = spark.streams.listListeners().collectFirst { case b: BatchListener => b.recorder }
      .getOrElse(new Recorder)
    if (!graftshim.sparkListeners(spark).contains(r.jobListener))
      spark.sparkContext.addSparkListener(r.jobListener)
    if (!graftshim.executionListeners(spark).contains(r.planListener))
      spark.listenerManager.register(r.planListener)
    if (!spark.streams.listListeners().contains(r.batchListener))
      spark.streams.addListener(r.batchListener)
    r
  }

  /** Unregister the session's recorder, if any. */
  def uninstall(spark: SparkSession): Unit = spark.synchronized {
    spark.streams.listListeners().collectFirst { case b: BatchListener => b.recorder }
      .foreach { r =>
        spark.sparkContext.removeSparkListener(r.jobListener)
        spark.listenerManager.unregister(r.planListener)
        spark.streams.removeListener(r.batchListener)
      }
  }

  /** The operators of an executed plan, adaptive stages and subqueries
    * included, with their non-zero SQL metrics: row, byte and memory
    * counts, and every timer in milliseconds (`<name>_ms`). */
  private object Operators extends AdaptiveSparkPlanHelper {
    private val Counts = Set("numOutputRows", "dataSize", "shuffleBytesWritten",
      "shuffleRecordsWritten", "spillSize", "peakMemory")

    def of(plan: SparkPlan): Seq[Operator] = {
      val out = ArrayBuffer.empty[Operator]
      def walk(p: SparkPlan, pipeline: Int): Unit = p match {
        case _: AdaptiveSparkPlanExec | _: QueryStageExec | _: InputAdapter =>
          allChildren(p).foreach(walk(_, 0))
        case w: WholeStageCodegenExec =>
          out += operator(w, w.codegenStageId)
          walk(w.child, w.codegenStageId)
        case _ =>
          out += operator(p, pipeline)
          p.children.foreach(walk(_, pipeline))
          p.subqueries.foreach(walk(_, 0))
      }
      walk(plan, 0)
      out.toSeq
    }

    private def operator(p: SparkPlan, pipeline: Int): Operator =
      Operator(p.nodeName, pipeline, p.metrics.toSeq.sortBy(_._1).flatMap { case (k, m) =>
        m.metricType match {
          case "timing" => Some(s"${k}_ms" -> m.value)
          case "nsTiming" => Some(s"${k}_ms" -> m.value / 1000000L)
          case _ if Counts(k) => Some(k -> m.value)
          case _ => None
        }
      }.filter(_._2 != 0L))
  }

  /** One query's trace as one JSON line. */
  def query(spark: SparkSession, dir: String, name: String, fn: Bench.Query): String = {
    val rec = install(spark)
    def timed(action: DataFrame => Unit): (Double, Window) = {
      val runs = (1 to Trials).map { _ =>
        rec.take(spark)
        val t0 = System.nanoTime()
        action(fn(spark, dir))
        ((System.nanoTime() - t0) / 1e9, rec.take(spark))
      }
      (runs.map(_._1).min, runs.last._2)
    }
    val line = new java.util.LinkedHashMap[String, Any]
    line.put("query", name)
    try {
      var rows = 0L
      line.put("count_s", timed(df => rows = df.count())._1)
      line.put("rows", rows)
      val (fullS, w) = timed(_.write.format("noop").mode("overwrite").save())
      line.put("full_s", fullS)
      line.put("jobs", w.jobs)
      line.put("stages", w.stages.map(s => obj(Seq("id" -> s.id, "name" -> s.name,
        "tasks" -> s.tasks, "wall_ms" -> s.wallMs, "run_ms" -> s.runMs) ++ Seq(
        "gc_ms" -> s.gcMs, "input_bytes" -> s.inputBytes,
        "shuffle_write_bytes" -> s.shuffleWriteBytes, "shuffle_read_bytes" -> s.shuffleReadBytes,
        "spill_bytes" -> (s.spillMemBytes + s.spillDiskBytes)).filter(_._2 != 0L): _*)).asJava)
      line.put("plans", w.plans.map(p => obj("action" -> p.action,
        "operators" -> p.operators.map(o =>
          obj(Seq("op" -> o.name, "pipeline" -> o.pipeline) ++ o.metrics: _*)).asJava)).asJava)
      line.put("batches", w.batches.map(b => obj("batch" -> b.id, "rows" -> b.rows,
        "durationMs" -> obj(b.durationMs: _*),
        "state_commit_ms" -> b.stateCommitMs.asJava)).asJava)
    } catch { case e: Exception => line.put("error", String.valueOf(e.getMessage)) }
    Json.writeValueAsString(line)
  }

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper()
  private def obj(kvs: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]
    kvs.foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** Trace the queries named in `only` (all when None) in Bench's order,
    * handing each line to `emit` as it is done. */
  def run(spark: SparkSession, dir: String, only: Option[Set[String]])(emit: String => Unit): Unit =
    Bench.ordered(only, "Trace").foreach { case (name, fn) => emit(query(spark, dir, name, fn)) }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Trace <sfDir> [query,...]")
    val only = Option(args.drop(1).flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    val spark = Bench.session()
    run(spark, args(0), only)(println)
    spark.stop()
  }
}
