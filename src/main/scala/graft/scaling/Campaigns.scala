package graft.scaling

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.hotdog.{Configs, Pipeline, Router, Streaming, exprs}

/** Per-topic routed-row counters of a sink directory. */
private object Sink {
  def topicCounts(s: SparkSession, dir: String): Map[String, Long] =
    s.read.parquet(dir).groupBy("topic").count().collect()
      .map(r => s"routed.${r.getString(0)}" -> r.getLong(1)).toMap
  def routed(c: Map[String, Long]): Long =
    c.collect { case (k, v) if k.startsWith("routed.") => v }.sum
  def topics(c: Map[String, Long]): Map[String, Long] = c.filter(_._1.startsWith("routed."))
}

/** The flagship end to end: scan(parquet sequences) → decode → syslog parse
  * → rule-cascade route (hotdog.yml) → fan-out parquet sink by topic, salt
  * buckets tracking the 256 shuffle partitions. Counters: routed rows per
  * topic, read back from the written sink. */
object FlagshipCampaign extends Campaign {
  val name = "flagship"

  def corpus(s: SparkSession, size: Long): DataFrame = graft.hotdog.Corpus.sequences(s, size)

  def run(s: SparkSession, in: Input, out: String): () => Map[String, Long] = {
    Pipeline.writeFanOut(Router.route(in.sequences(s), Configs.flagship),
      s"$out/sink", batchId = 0L)
    () => Sink.topicCounts(s, s"$out/sink")
  }

  def header(size: Long, c: Map[String, Long]): String =
    f"""# BENCH/BASELINE — flagship scaling evidence (two-cluster-size protocol per BASELINE.md)
       |
       |End-to-end job: scan(parquet sequences) → decode(tokens) →
       |syslog parse → rule-cascade route (hotdog.yml semantics) →
       |fan-out parquet sink partitioned by topic. Same job, same input,
       |two parallelism levels. Input: $size%d deterministically synthesized
       |sequences (seed 42, ~50%% hot-source skew). Shuffle partitions and
       |sink salt buckets are held constant across the two cluster sizes, as
       |in production: tying them to the core count would make the levels
       |run different plans (4× the sink files and commits on the big one).
       |""".stripMargin

  /** token-array equality of every routed row and per-sink count parity
    * (router counts == the levels' written sink counts) */
  def verify(s: SparkSession, in: Input, c: Map[String, Long]): Verification = {
    val perTopic = Pipeline.emittedOnly(Router.route(in.sequences(s), Configs.flagship))
      .groupBy("topic").agg(
        count(lit(1)).as("n"),
        sum(when(exprs.stringToCodepoints(col("line")) === col("tokens"), 0L)
          .otherwise(1L)).as("bad"))
      .collect()
    val nRouted = perTopic.map(_.getLong(1)).sum
    val nBad = perTopic.map(_.getLong(2)).sum
    val parity = perTopic.map(r => s"routed.${r.getString(0)}" -> r.getLong(1)).toMap == Sink.topics(c)
    Verification(Seq(
      f"- routed rows: $nRouted%d; token-array equality failures: $nBad%d " +
        f"(pass rate ${100.0 * (nRouted - nBad) / math.max(nRouted, 1)}%.2f%%)",
      s"- per-sink count parity (router counts == written sink counts): $parity"),
      ok = nBad == 0 && parity)
  }
}

/** The streaming path: `Streaming.routeStream` — readStream(sequences) →
  * foreachBatch(route → fan-out sink + audit, checkpointed, idempotent) —
  * run to completion under Trigger.AvailableNow from a fresh checkpoint.
  * Unlike the batch flagship, every run pays per-trigger file listing,
  * offset WAL/commit fsyncs, per-batch sink commits and audit writes.
  * Counters: routed rows per topic in the sink, and the micro-batch count. */
object StreamCampaign extends Campaign {
  val name = "stream"
  /** A file-source micro-batch's scan parallelism is the number of files
    * in the TRIGGER, not in the corpus: at 16 files per trigger the fused
    * scan→route stage ran 16 tasks and idled half of local[32] (measured
    * eff 0.36). 64 files per trigger = 2 waves at 32 cores, and 256 files
    * give 4 micro-batches per run. */
  private val CorpusFiles = 256
  private val FilesPerTrigger = 64
  // AQE coalesced the @32 fan-out write to ~1.1 task waves at the default
  // advisory size (util 0.65-0.72); 16m keeps ~4 waves and costs nothing at 8
  override val conf = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m")

  def corpus(s: SparkSession, size: Long): DataFrame =
    graft.hotdog.Corpus.sequences(s, size).repartition(CorpusFiles)

  def run(s: SparkSession, in: Input, out: String): () => Map[String, Long] = {
    Streaming.routeStream(s, in.dir, Configs.flagship,
      s"$out/sink", s"$out/ckpt", maxFilesPerTrigger = FilesPerTrigger).awaitTermination()
    () => Sink.topicCounts(s, s"$out/sink") + ("batches" ->
      s.read.parquet(s"$out/sink").select("batch_id").distinct().count())
  }

  def header(size: Long, c: Map[String, Long]): String =
    f"""# BENCH/STREAMING — streaming-path scaling evidence
       |
       |Job: `Streaming.routeStream` — readStream(parquet sequences,
       |$CorpusFiles%d files, maxFilesPerTrigger=$FilesPerTrigger%d → ${c("batches")}%d
       |micro-batches) → foreachBatch(decode → parse → rule-cascade route
       |→ fan-out parquet sink + audit table, one cascade evaluation per
       |batch via Pipeline.writeBatch) with a fresh checkpoint per run,
       |run to completion under Trigger.AvailableNow; $size%d rows. Unlike
       |the batch flagship every run pays per-trigger file listing, offset
       |WAL/commit fsyncs, per-batch sink commits and the cross-batch
       |checkpoint. AQE advisory partition size 16m at both levels.
       |""".stripMargin

  /** the streamed per-topic sink counts equal a batch-mode route */
  def verify(s: SparkSession, in: Input, c: Map[String, Long]): Verification = {
    val batch = Pipeline.emittedOnly(Router.route(in.sequences(s), Configs.flagship))
      .groupBy("topic").count().collect()
      .map(r => s"routed.${r.getString(0)}" -> r.getLong(1)).toMap
    val parity = batch == Sink.topics(c)
    Verification(Seq(
      s"- per-topic sink counts of the streaming runs equal the batch-mode " +
        s"route over the same corpus: $parity (routed rows ${Sink.routed(c)} " +
        s"across ${Sink.topics(c).size} topics, ${c("batches")} micro-batches)"),
      ok = parity)
  }
}
