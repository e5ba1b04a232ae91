package hdbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.hotdog.{Configs, Corpus, Pipeline, Stats, Streaming, config}
import graft.hotdog.config.HotdogConfig

/** One workload: its rule config and input sizes. Batch workloads run
  * `Main`-shaped jobs over `lines` input lines in `files` files; the
  * stream drains those files, `perTrigger` per micro-batch. Each run
  * warms up with `warmJobs` checked, untimed jobs (or drains), then times
  * at least `minJobs`. The set-up's cold job reads `coldLines` lines in
  * `coldFiles` files.
  *
  * The JIT is still compiling during the first jobs of a JVM. On flagship
  * at 200k lines, after two or three warm-up jobs the timed jobs often
  * still got faster from first to last (2.7 s → 2.2 s); after five or six
  * they are flat. The stream's drains are longer and were flat after
  * three. */
final case class Spec(name: String, yaml: String, lines: Long, files: Int,
    perTrigger: Int, warmJobs: Int, minJobs: Int, coldLines: Long, coldFiles: Int) {
  def stream: Boolean = perTrigger > 0
}

object Spec {
  val Names: Seq[String] = Seq("flagship_batch", "stream_backlog")

  def apply(name: String, size: String): Spec = {
    val tiny = size == "tiny"
    require(tiny || size == "full", s"unknown size `$size`")
    name match {
      case "flagship_batch" =>
        Spec(name, Configs.hotdogYml, if (tiny) 20000 else 200000, 4, 0, 5, 4,
          if (tiny) 5000 else 40000, 4)
      case "stream_backlog" =>
        Spec(name, Configs.hotdogYml, if (tiny) 16000 else 128000, if (tiny) 8 else 16, 4, 3, 2,
          if (tiny) 8000 else 32000, 4)
      case other =>
        throw new IllegalArgumentException(
          s"unknown workload `$other` (one of ${Names.mkString(", ")})")
    }
  }
}

final case class Opts(mode: String, workload: String, seed: Long,
    seconds: Double, trace: Boolean, root: String, input: String, cold: String,
    size: String, tamper: Boolean, result: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, "arguments come in --key value pairs")
    val m = args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad argument `$k`"); k.drop(2) -> v
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("mode"), get("workload"), get("seed").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      get("root"), get("input"), get("cold"), m.getOrElse("size", "full"),
      m.getOrElse("tamper", "0") == "1", m.getOrElse("result", ""))
  }
}

/** What one job or drain returned. */
final case class JobOut(wallS: Double, statsJson: String, microbatchS: Seq[Double],
    progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])

/** Jobs attempted and failed in a run, with the reasons of the failures. */
final class Tally {
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]

  def record(problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) { failed += 1; failures ++= problems }
  }

  def report(out: java.util.Map[String, Any]): Unit = {
    out.put("attempted", attempted)
    out.put("failed", failed)
    out.put("failures", failures.take(20).asJava)
  }
}

/** The benchmark JVM. Modes:
  *  - `stage`: generate the inputs that are not cached yet: the one every
  *    run's cold job reads (`--cold`, seed 0) and the run's own (`--input`,
  *    from `--seed`). Its own JVM, so the measuring JVM does the same work
  *    whether or not the inputs were cached;
  *  - `run`: set-up (ending with the cold job), `warmJobs` warm-up jobs,
  *    then timed and checked jobs for `--seconds`; with `--trace 1` the
  *    per-layer run instead.
  * Writes a JSON result to `--result`. */
object Bench {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    Jvm.watchGc()
    val o = Opts.parse(args)
    val spec = Spec(o.workload, o.size)
    val out = new java.util.LinkedHashMap[String, Any]()
    o.mode match {
      case "stage" =>
        val spark = session(o.root)
        Inputs.ensure(spark, spec, 0L, o.cold, spec.coldLines, spec.coldFiles)
        Inputs.ensure(spark, spec, o.seed, o.input, spec.lines, spec.files)
      case "run" =>
        require(Files.exists(Paths.get(o.input, "_SUCCESS")), s"input not staged: ${o.input}")
        val s = setup(o, spec)
        if (o.trace) Trace.run(o, spec, o.input, s, out) else timed(o, spec, o.input, s, out)
      case other => throw new IllegalArgumentException(s"unknown mode `$other`")
    }
    writeJson(o.result, out)
    SparkSession.getActiveSession.foreach(_.stop())
  }

  def session(root: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("hdbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/shuffle")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  final case class Setup(spark: SparkSession, cfg: HotdogConfig, setupS: Double,
      sessionS: Double, compileS: Double, cold: JobOut, coldDir: String)

  /** JVM start → session ready, rules compiled, input registered, one
    * cold job done: what each spark-submit of `Main` pays. The cold job
    * reads a fixed, smaller input of the workload's shape (seed 0), so
    * set-up does the same work in every run whatever the seed. */
  def setup(o: Opts, spec: Spec): Setup = {
    require(Files.exists(Paths.get(o.cold, "_SUCCESS")), s"cold input not staged: ${o.cold}")
    val spark = session(o.root)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val c0 = System.nanoTime()
    val cfg = config.fromYamlString(spec.yaml, Map.empty)
    val compileS = (System.nanoTime() - c0) / 1e9
    spark.read.parquet(s"${o.cold}/main").schema
    val work = s"${o.root}/work/${spec.name}-setup"
    delete(work)
    val cold = runOne(spark, spec, s"${o.cold}/main", cfg, work, 0L, None)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    Setup(spark, cfg, setupS, sessionS, compileS, cold, work)
  }

  /** The public calls `Main.main` makes, timed from input read to the
    * rendered `/stats` JSON. */
  def fullJob(spark: SparkSession, input: String, cfg: HotdogConfig,
      out: String, batchId: Long, tr: Option[Tracer] = None): JobOut = {
    val t0 = System.nanoTime()
    val sequences = spark.read.parquet(input)
    val dim = Corpus.sourceDim(spark)
    val result = Pipeline.run(sequences, cfg, dim = Some(dim))
    val t1 = System.nanoTime()
    val sentMicros =
      Pipeline.writeBatch(result.routed, s"$out/routed", s"$out/audit", batchId)
    val t2 = System.nanoTime()
    val json = Stats.formatJson(Stats.withSentTimer(result.stats, sentMicros))
    val t3 = System.nanoTime()
    tr.foreach(_.jobSpans(t0, t1, t2, t3, sentMicros))
    JobOut((t3 - t0) / 1e9, json, Seq((t3 - t0) / 1e9), Nil)
  }

  /** Closed-loop drain of a staged backlog through `routeStream`
    * (`Trigger.AvailableNow`): each micro-batch starts when the previous
    * one has committed. */
  def drain(spark: SparkSession, input: String, cfg: HotdogConfig,
      out: String, perTrigger: Int, tr: Option[Tracer] = None): JobOut = {
    val t0 = System.nanoTime()
    val q = Streaming.routeStream(spark, input, cfg, s"$out/routed",
      s"$out/checkpoint", perTrigger)
    q.awaitTermination()
    val t1 = System.nanoTime()
    q.exception.foreach(e => throw e)
    val progress = q.recentProgress.toSeq
    tr.foreach(_.drainSpan(t0, t1))
    JobOut((t1 - t0) / 1e9, "", progress.map(_.batchDuration / 1e3), progress)
  }

  /** The untraced run: after the cold job's checks and the warm-up
    * jobs, timed jobs (or drains), each checked, until `--seconds` have
    * passed and at least `minJobs` ran. */
  def timed(o: Opts, spec: Spec, inDir: String, s: Setup,
      out: java.util.LinkedHashMap[String, Any]): Unit = {
    val spark = s.spark
    val main = s"$inDir/main"
    val exp = Check.load(s"$inDir/expected.json")
    val work = s"${o.root}/work/${spec.name}"
    val tally = new Tally
    def next(tamper: Boolean): Option[(JobOut, Double)] =
      checkedJob(spark, spec, main, s.cfg, work, exp, None, tamper, tally)
    checkCold(o, s, spec, tally)
    for (_ <- 0 until spec.warmJobs) next(tamper = false)
    val gc0 = Jvm.gcS; val jit0 = Jvm.jitS
    val done = ArrayBuffer.empty[(JobOut, Double)]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var timedJobs = 0
    while (timedJobs < spec.minJobs || elapsed < o.seconds) {
      done ++= next(tamper = o.tamper && timedJobs == 0)
      timedJobs += 1
    }
    val walls = done.map(_._1.wallS)
    val lps = walls.map(exp.lines / _)
    val batches = done.flatMap(_._1.microbatchS)
    val bytesPerLine = done.map(_._2)
    val gcS = Jvm.gcS - gc0
    val jitS = Jvm.jitS - jit0
    val metrics = new java.util.LinkedHashMap[String, Any]()
    def m(name: String, v: Double, unit: String): Unit =
      metrics.put(name, Map("value" -> v, "unit" -> unit).asJava)
    if (walls.nonEmpty) {
      m("lines_per_s", Stat.median(lps.toSeq), "lines/s")
      m("microbatch_s_p50", Stat.quantile(batches.toSeq, 0.5), "s")
      m("microbatch_s_p90", Stat.quantile(batches.toSeq, 0.9), "s")
      m("sink_bytes_per_line", Stat.median(bytesPerLine.toSeq), "B")
    }
    m("peak_mem_mb", Jvm.peakMemMb, "MB")
    m("setup_s", s.setupS, "s")
    out.put("metrics", metrics)
    tally.report(out)
    out.put("info", Map[String, Any](
      "jobs_timed" -> walls.size,
      "microbatches" -> batches.size,
      "input_lines" -> exp.lines,
      "measured_s" -> elapsed,
      "job_wall_s" -> walls.map(w => f"$w%.3f").mkString(" "),
      "jvm.gc_s" -> gcS,
      "jvm.jit_s" -> jitS,
      "jvm.peak_rss_mb" -> Jvm.peakRssMb,
      "setup.session_s" -> s.sessionS,
      "config.compile_s" -> s.compileS).asJava)
  }

  /** The cold job's output checks, run after `setup_s` is taken. */
  def checkCold(o: Opts, s: Setup, spec: Spec, tally: Tally): Unit =
    tally.record(
      try Check.job(s.spark, spec, s.coldDir, 0L, s.cold, Check.load(s"${o.cold}/expected.json"))
      catch { case e: Exception => Seq(s"cold job check threw: $e") }
      finally delete(s.coldDir))

  /** One job into a fresh directory, then its output checks, recorded in
    * `tally`. Returns the job and its sink bytes per input line if it
    * passed. */
  def checkedJob(spark: SparkSession, spec: Spec, input: String, cfg: HotdogConfig,
      work: String, exp: Check.Expected, tr: Option[Tracer], tamper: Boolean,
      tally: Tally): Option[(JobOut, Double)] = {
    val id = tally.attempted
    val dir = s"$work/j$id"
    delete(dir)
    val (problems, passed) =
      try {
        val r = runOne(spark, spec, input, cfg, dir, id.toLong, tr)
        if (tamper) Check.tamper(s"$dir/routed")
        val p = Check.job(spark, spec, dir, id.toLong, r, exp)
        (p, Some((r, Check.parquetBytes(s"$dir/routed")._2.toDouble / exp.lines)).filter(_ => p.isEmpty))
      } catch {
        case e: Exception => (Seq(s"job $id threw: $e"), None)
      } finally delete(dir)
    tally.record(problems)
    passed
  }

  def runOne(spark: SparkSession, spec: Spec, input: String, cfg: HotdogConfig,
      out: String, batchId: Long, tr: Option[Tracer]): JobOut =
    if (spec.stream) drain(spark, input, cfg, out, spec.perTrigger, tr)
    else fullJob(spark, input, cfg, out, batchId, tr)

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally all.close()
    }
  }

  def writeJson(path: String, m: java.util.Map[String, Any]): Unit = {
    val s = new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(m)
    if (path.isEmpty) println(s)
    else Files.write(Paths.get(path), s.getBytes(UTF_8))
  }
}

object Jvm {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var heapAfterGcPeak = 0L

  /** From now on, track the peak heap in use right after a GC. */
  def watchGc(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            .getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, use) if heapPools(pool) => use.getUsed }.sum
          synchronized { heapAfterGcPeak = math.max(heapAfterGcPeak, after) }
        }, null, null)
    case _ =>
  }

  /** The memory the program needed, in MB: the peak heap in use right
    * after a GC (what the GC could not free) plus the peak non-heap in use
    * (metaspace, code cache). Unlike the resident set, it does not follow
    * the heap size the JVM was given. */
  def peakMemMb: Double = {
    val nonHeap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum
    (heapAfterGcPeak + nonHeap) / (1024.0 * 1024.0)
  }

  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  /** peak resident set of this JVM (VmHWM), in MB */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Stat {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** linear-interpolated quantile (numpy's default) */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Seeded inputs, staged once per (workload, seed, size) and reused: the
  * program only ever sees the staged parquet. */
object Inputs {
  def ensure(spark: SparkSession, spec: Spec, seed: Long, dir: String,
      n: Long, files: Int): Unit = {
    if (Files.exists(Paths.get(dir, "_SUCCESS"))) return
    Bench.delete(dir)
    write(Corpus.sequences(spark, n, seed), files, s"$dir/main")
    Check.save(Check.expect(spark, s"$dir/main", spec,
      config.fromYamlString(spec.yaml, Map.empty), seed), s"$dir/expected.json")
    Files.write(Paths.get(dir, "_SUCCESS"), Array.emptyByteArray)
  }

  /** rows are assigned to files by doc_id hash, so file contents are a
    * function of the seed alone */
  private def write(df: DataFrame, files: Int, path: String): Unit =
    df.repartition(files, col("doc_id")).write.parquet(path)
}
