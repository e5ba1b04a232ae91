package graft.scaling

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** A materialized corpus: the campaign's named tables under `dir`. */
final case class Input(dir: String, size: Long) {
  def table(s: SparkSession, name: String): DataFrame =
    s.read.parquet(s"$dir/$name")
}

/** Outcome of a campaign's untimed verification pass: report lines (each a
  * markdown bullet or paragraph) and whether every check held. */
final case class Verification(lines: Seq[String], ok: Boolean)

/** One two-level scaling campaign: only what is its own. The [[Runner]]
  * owns the session, the corpus cache, the warm-up/trial protocol, the
  * fragments, the cross-level equality check and the shared report. */
trait Campaign {
  /** command-line name; also names the corpus and scratch directories */
  def name: String
  /** corpus size of the warm-up runs (the runner caps it at the timed size) */
  def warmSize: Long
  /** session confs beyond the runner's shared ones */
  def conf: Seq[(String, String)] = Nil
  /** the timed jobs; each gets the whole protocol in turn (ANN times two) */
  def jobs: Seq[String] = Seq(name)
  /** the corpus tables of `size` units, by name */
  def corpus(s: SparkSession, size: Long): Seq[(String, DataFrame)]
  /** one execution of `job`, writing any output under `out` (emptied
    * before each run). Only the call is timed: the returned thunk reads the
    * run's counters after the clock stops. */
  def run(s: SparkSession, job: String, in: Input, out: String): () => Map[String, Long]
  /** units one run processes, by rate-column label (reported per second) */
  def units(size: Long, c: Map[String, Long]): Seq[(String, Double)]
  /** the report's heading and job description */
  def header(size: Long, c: Map[String, Long]): String
  /** the untimed verification/audit pass over the corpus */
  def verify(s: SparkSession, in: Input, c: Map[String, Long]): Verification
}

/** Warm-up and trial timings of one job at one level. */
final case class Timing(job: String, warmups: Seq[Double], trials: Seq[Double]) {
  def best: Double = trials.min
  def median: Double = trials.sorted.apply(trials.length / 2)
  def spreadPct: Double = Protocol.spread(trials.sorted.take(Protocol.MinTrials)) * 100.0
}

/** What one level run leaves for `combine`. */
final case class Fragment(campaign: String, size: Long, cores: Int,
    timings: Seq[Timing], counters: Map[String, Long])

/** The one timing protocol every campaign is measured under:
  *  1. warm-ups on the small warm corpus (identical plan shape, so the
  *     JVM-global codegen cache and the C2 JIT reach steady state) until two
  *     consecutive runs agree within [[SteadyBound]], at most [[MaxWarmups]];
  *  2. one untimed full-size run (the full-size plan compiles its own
  *     codegen classes and reaches the full-size shuffle/GC regime);
  *  3. timed trials, at least [[MinTrials]], extended while the spread
  *     (max/min − 1) of the best [[MinTrials]] is at or over [[SpreadBound]],
  *     at most [[MaxTrials]].
  * The minimum trial is the capability (host noise only ever adds time);
  * the median is reported beside it. */
object Protocol {
  val SteadyBound = 0.10
  val MaxWarmups = 12
  val MinTrials = 3
  val MaxTrials = 6
  val SpreadBound = 0.15

  def spread(ts: Seq[Double]): Double = ts.max / ts.min - 1.0

  /** Run the protocol; `warm` and `full` each execute one job and return
    * its wall seconds. Returns (warm-ups incl. the untimed full-size run,
    * trials). */
  def measure(warm: () => Double, full: () => Double): (Seq[Double], Seq[Double]) = {
    val warmups = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (warmups.length < 2 || (warmups.length < MaxWarmups &&
        spread(warmups.takeRight(2).toSeq) >= SteadyBound))
      warmups += warm()
    warmups += full()
    val trials = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (trials.length < MinTrials || (trials.length < MaxTrials &&
        spread(trials.sorted.take(MinTrials).toSeq) >= SpreadBound))
      trials += full()
    (warmups.toSeq, trials.toSeq)
  }
}

/** Two-cluster-size scaling evidence for any [[Campaign]]: the same job on
  * the same corpus at N and 4N cores, each level in its own JVM with
  * `-XX:ActiveProcessorCount` matched (so the small level cannot borrow
  * idle cores for GC/JIT), throughput scaling efficiency
  * eff = wall@N / (4 × wall@4N), target ≥ 0.8. `BENCH/run_scaling.sh`
  * drives the modes, each in a JVM of its own:
  *
  *   gen     CAMPAIGN SIZE                  corpus + warm corpus on /dev/shm
  *   level   CAMPAIGN SIZE CORES OUT.json   the protocol at one level
  *   combine CAMPAIGN SIZE N.json 4N.json OUT.md
  *                                          equality check, verification, report
  *   audit   CAMPAIGN SIZE OUT.md           one run + verification, appended
  *
  * A JVM never starts a second SparkSession: a stopped context's executor
  * heartbeat thread System.exits the JVM minutes later, hence `gen` apart.
  * Shuffle partitions are a constant 256 at both levels, well above the
  * larger level's cores: partitions equal to the core count make every
  * shuffle stage ONE task wave, whose wall is its slowest task, and the
  * efficiency collapses to the task-balance ratio (measured 0.44 on ANN
  * LSH and 0.65 on the stream at 32 partitions on local[32]).
  */
object Runner {
  val ShufflePartitions = 256
  val Campaigns: Seq[Campaign] =
    Seq(FlagshipCampaign, StreamCampaign, DedupCampaign, TokCampaign,
      AnnCampaign, EvCampaign, BatchCampaign)

  def campaign(name: String): Campaign = Campaigns.find(_.name == name)
    .getOrElse(sys.error(s"unknown campaign '$name'; one of ${Campaigns.map(_.name).mkString(", ")}"))

  // corpus, shuffle and scratch on tmpfs: the one virtio disk sporadically
  // degrades to ~1 MB/s and bills 300 s cold reads to random trials
  private def corpusDir(c: Campaign, size: Long) = s"/dev/shm/graft-${c.name}-$size"
  private def warmSizeOf(c: Campaign, size: Long) = math.min(c.warmSize, size)
  private def committed(dir: String) = Files.exists(Paths.get(dir, "_SUCCESS"))
  private def delete(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  private def session(c: Campaign, cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scaling-${c.name}-$cores")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
    c.conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Trace.install(s)
    s
  }

  // per-stage wall/cpu/gc/spill/shuffle of the work since the last call, so
  // a slow trial can be pinned to a stage from the log alone
  private def printStages(s: SparkSession): Unit =
    graft.Trace.install(s).take(s).stages.foreach(st => println(st.line))

  private def corpusOf(c: Campaign, size: Long): Input = {
    val dir = corpusDir(c, size)
    require(committed(dir), s"no committed corpus at $dir: run `gen ${c.name} $size` first (in its own JVM)")
    Input(dir, size)
  }

  /** write the timed and the warm corpus once; `_SUCCESS` marks a whole one */
  private def gen(c: Campaign, size: Long): Unit = {
    val s = session(c, Runtime.getRuntime.availableProcessors)
    for (n <- Seq(size, warmSizeOf(c, size)).distinct; dir = corpusDir(c, n)
         if !committed(dir)) {
      delete(dir)
      c.corpus(s, n).foreach { case (t, df) =>
        df.write.mode("overwrite").parquet(s"$dir/$t") }
      Files.createFile(Paths.get(dir, "_SUCCESS"))
      printStages(s)
    }
    s.stop()
  }

  private def level(c: Campaign, size: Long, cores: Int): Fragment = {
    val full = corpusOf(c, size)
    val warm = corpusOf(c, warmSizeOf(c, size))
    val s = session(c, cores)
    val out = s"/dev/shm/graft-scaling-out-${c.name}-$cores"
    var counters = Map.empty[String, Long]
    val timings = c.jobs.map { job =>
      var seen: Option[Map[String, Long]] = None
      def once(in: Input, record: Boolean): Double = {
        delete(out)
        val t0 = System.nanoTime()
        val read = c.run(s, job, in, out)
        val t = (System.nanoTime() - t0) / 1e9
        printStages(s)
        println(f"RUN ${c.name}/$job size=${in.size} cores=$cores wall=$t%.2fs")
        if (record) {
          val got = read()
          // every full-size run of a level must produce the same counters
          seen.foreach(prev => require(prev == got, diff(s"$job runs at $cores cores", prev, got)))
          seen = Some(got)
        }
        System.gc() // let the ContextCleaner free the old shuffle files
        t
      }
      val (warmups, trials) =
        Protocol.measure(() => once(warm, record = false), () => once(full, record = true))
      counters ++= seen.get
      Timing(job, warmups, trials)
    }
    delete(out)
    s.stop()
    Fragment(c.name, size, cores, timings, counters)
  }

  private def diff(what: String, a: Map[String, Long], b: Map[String, Long]): String = {
    val keys = (a.keySet ++ b.keySet).toSeq.sorted.filter(k => a.get(k) != b.get(k))
    s"$what disagree on ${keys.map(k => s"$k: ${a.get(k).fold("-")(_.toString)} vs ${b.get(k).fold("-")(_.toString)}").mkString(", ")}"
  }

  /** the cross-level equality check: the same campaign and size at N and
    * 4N cores, and equal counters — anything else fails loudly */
  def checkLevels(small: Fragment, big: Fragment): Unit = {
    require(small.campaign == big.campaign && small.size == big.size,
      s"fragments of different runs: ${small.campaign}@${small.size} vs ${big.campaign}@${big.size}")
    require(big.cores == 4 * small.cores,
      s"levels must be N and 4N cores, got ${small.cores}/${big.cores}")
    require(small.counters == big.counters,
      diff(s"levels ${small.cores} and ${big.cores}", small.counters, big.counters))
  }

  // ---- fragment JSON ----

  private def arr(ts: Seq[Double]) = ts.map(t => f"$t%.4f").mkString("[", ",", "]")

  def toJson(f: Fragment): String = {
    val ts = f.timings.map(t =>
      s"""{"job":"${t.job}","warmups":${arr(t.warmups)},"trials":${arr(t.trials)}}""")
    val cs = f.counters.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }
    s"""{"campaign":"${f.campaign}","size":${f.size},"cores":${f.cores},"timings":${ts.mkString("[", ",", "]")},"counters":${cs.mkString("{", ",", "}")}}"""
  }

  def fromJson(json: String): Fragment = {
    val n = graft.hotdog.HotdogJson.parseOrNull(json)
    require(n != null && n.isObject, s"bad fragment: $json")
    def darr(a: com.fasterxml.jackson.databind.JsonNode): Seq[Double] =
      (0 until a.size()).map(a.get(_).doubleValue())
    val ts = n.get("timings")
    val timings = (0 until ts.size()).map(ts.get).map(t =>
      Timing(t.get("job").textValue(), darr(t.get("warmups")), darr(t.get("trials"))))
    val c = n.get("counters")
    val counters = c.fieldNames().asScala.map(k => k -> c.get(k).longValue()).toMap
    Fragment(n.get("campaign").textValue(), n.get("size").longValue(),
      n.get("cores").intValue(), timings, counters)
  }

  // ---- report ----

  private def secs(ts: Seq[Double]) = ts.map(t => f"$t%.1f").mkString(", ")

  /** the shared report parts of one job: run table, protocol lines, efficiency */
  private def jobSection(c: Campaign, job: String, a: Fragment, b: Fragment): (String, Double, Double) = {
    val (ta, tb) = (a.timings.find(_.job == job).get, b.timings.find(_.job == job).get)
    val units = c.units(a.size, a.counters)
    val eff = ta.best / (4.0 * tb.best)
    val effMedian = ta.median / (4.0 * tb.median)
    def row(tag: String, f: Fragment, t: Timing) =
      (Seq(tag, s"local[${f.cores}]", f"${t.best}%.1f", f"${t.median}%.1f") ++
        units.map { case (_, u) => f"${u / t.best}%.0f" } :+ f"${t.spreadPct}%.1f%%")
        .mkString("| ", " | ", " |")
    val cols = Seq("run", "master", "wall min (s)", "wall median (s)") ++
      units.map(_._1) :+ s"best-${Protocol.MinTrials} spread"
    val title = if (c.jobs.size > 1) s"### $job\n\n" else ""
    val md = title +
      f"""|${cols.mkString("| ", " | ", " |")}
         ||${cols.map(_ => "---").mkString("|")}|
         |${row("N ", a, ta)}
         |${row("4N", b, tb)}
         |
         |**Scaling efficiency** = wall@${a.cores}%d / (4 × wall@${b.cores}%d) =
         |**$eff%.3f** from min-of-trials, **$effMedian%.3f** from medians
         |(target ≥ 0.8).
         |
         |warmups (s) — local[${a.cores}%d]: ${secs(ta.warmups)};
         |local[${b.cores}%d]: ${secs(tb.warmups)}.
         |timed trials (s) — local[${a.cores}%d]: ${secs(ta.trials)};
         |local[${b.cores}%d]: ${secs(tb.trials)}.
         |""".stripMargin
    (md, eff, effMedian)
  }

  private val ProtocolNote =
    f"""Protocol (`graft.scaling.Runner`): each level in its own JVM with
       |`-XX:ActiveProcessorCount` matched; shuffle partitions constant at
       |$ShufflePartitions%d; corpus, shuffle and outputs on tmpfs. Untimed
       |warm-ups on a same-shape corpus of at most the timed size until two
       |consecutive agree within ${Protocol.SteadyBound * 100}%.0f%% (at most ${Protocol.MaxWarmups}%d),
       |one untimed full-size run (the last warm-up listed), then
       |${Protocol.MinTrials}%d to ${Protocol.MaxTrials}%d timed trials, extended while the best-${Protocol.MinTrials}%d
       |spread is ${Protocol.SpreadBound * 100}%.0f%% or more. Min of trials reported as
       |capability, median for stability.
       |""".stripMargin

  private def verification(v: Verification): String =
    v.lines.mkString("", "\n", "\n") + s"\nAll verification checks hold: **${v.ok}**\n"

  private def jsonLine(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s""""$k":${v match {
      case s: String => s""""$s""""
      case x => x.toString
    }}""" }.mkString("{", ",", "}")

  private def combine(c: Campaign, a: Fragment, b: Fragment, outMd: String): Unit = {
    checkLevels(a, b)
    val in = corpusOf(c, a.size)
    val s = session(c, Runtime.getRuntime.availableProcessors)
    val v = c.verify(s, in, a.counters)
    printStages(s)
    s.stop()
    val sections = c.jobs.map(jobSection(c, _, a, b))
    val md = Seq(c.header(a.size, a.counters), ProtocolNote,
      sections.map(_._1).mkString("\n"),
      s"## Verification (untimed; counters equal at both levels)\n\n${verification(v)}")
      .mkString("\n")
    write(outMd, md)
    val effs = c.jobs.zip(sections).flatMap { case (j, (_, e, em)) =>
      val p = if (c.jobs.size > 1) s"${j}_" else ""
      Seq(s"${p}scaling_efficiency" -> e, s"${p}scaling_efficiency_median" -> em)
    }
    println(jsonLine(Seq("campaign" -> c.name, "size" -> a.size,
      "cores_n" -> a.cores, "cores_4n" -> b.cores) ++ effs ++
      Seq("verified" -> v.ok) ++ a.counters.toSeq.sorted))
    require(v.ok, s"${c.name} verification failed: see $outMd")
  }

  /** one run of each job (no warm-ups or trials) plus the verification pass
    * at `size`, appended to `outMd`: re-proves the scale-dependent claims
    * (recall, skew bounds, exactness) at sizes whose two-level timing would
    * not fit a session */
  private def audit(c: Campaign, size: Long, outMd: String): Unit = {
    val in = corpusOf(c, size)
    val cores = Runtime.getRuntime.availableProcessors
    val s = session(c, cores)
    val out = s"/dev/shm/graft-scaling-out-${c.name}-audit"
    val t0 = System.nanoTime()
    val counters = c.jobs.map(j => { delete(out); c.run(s, j, in, out)() }).reduce(_ ++ _)
    val wall = (System.nanoTime() - t0) / 1e9
    val v = c.verify(s, in, counters)
    printStages(s)
    delete(out)
    s.stop()
    val md =
      f"""
         |## Full-scale audit: $size%d (one run of each job, local[$cores%d], $wall%.1f s)
         |
         |${verification(v)}""".stripMargin
    val prev = if (Files.exists(Paths.get(outMd))) Files.readString(Paths.get(outMd)) else ""
    write(outMd, prev + md)
    println(jsonLine(Seq("campaign" -> c.name, "audit_size" -> size,
      "wall_sec" -> wall, "verified" -> v.ok) ++ counters.toSeq.sorted))
    require(v.ok, s"${c.name} audit failed: see $outMd")
  }

  private def write(path: String, text: String): Unit = {
    Option(Paths.get(path).toAbsolutePath.getParent).foreach(Files.createDirectories(_))
    Files.writeString(Paths.get(path), text)
    println(text)
  }

  private def read(path: String): Fragment = fromJson(Files.readString(Paths.get(path)))

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("gen", name, size) => gen(campaign(name), size.toLong)
    case Seq("level", name, size, cores, outJson) =>
      val f = level(campaign(name), size.toLong, cores.toInt)
      write(outJson, toJson(f))
    case Seq("combine", name, size, jsonN, json4N, outMd) =>
      val (a, b) = (read(jsonN), read(json4N))
      require(a.size == size.toLong, s"fragment size ${a.size} != $size")
      combine(campaign(name), a, b, outMd)
    case Seq("audit", name, size, outMd) => audit(campaign(name), size.toLong, outMd)
    case other => sys.error(
      "usage: gen C SIZE | level C SIZE CORES OUT.json | combine C SIZE N.json 4N.json OUT.md | " +
        s"audit C SIZE OUT.md (got ${other.mkString(" ")})")
  }
}
