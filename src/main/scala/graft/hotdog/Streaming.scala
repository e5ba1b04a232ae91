package graft.hotdog

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.hotdog.config.HotdogConfig

/** Structured Streaming variant of the pipeline (SURVEY §7 step 8): the
  * hotdog daemon's unbounded-TCP-stream shape, re-expressed as
  * `readStream` over the sequences table directory.
  *
  *  - routeStream: micro-batch foreachBatch reusing the EXACT batch router
  *    + idempotent per-batch fan-out (checkpointed source offsets + dynamic
  *    partition overwrite by batch_id = exactly-once sink semantics). Its
  *    session is not artifact-isolated, so its generated classes compile
  *    once per process, not once per query start.
  *  - windowedTopicCounts: tumbling-window per-topic counts with a
  *    watermark for late rows — the streaming analog of the
  *    kafka.submitted.<topic> running counters.
  */
object Streaming {

  /** Stream the sequences directory, route each micro-batch, fan out to
    * per-topic parquet + audit. Restarting with the same checkpoint never
    * reprocesses a completed batch; a batch that crashed mid-write is
    * re-run idempotently (partition overwrite by its batch_id).
    *
    * The query's session is not artifact-isolated. Every streaming query
    * runs in a clone of `spark`, an isolated clone runs its jobs under a
    * class loader of its own, and Spark's codegen cache is keyed by
    * (thread context class loader, source): each start would compile every
    * generated class again and run it cold. The clone copies the conf in
    * `start()`, so isolation is off for the clone only and `spark`'s conf
    * is put back as found. This is safe because `routeStream` adds no jars
    * or files to its session: there are no artifacts to isolate. */
  def routeStream(spark: SparkSession, inputDir: String, cfg: HotdogConfig,
      outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 16): StreamingQuery = {
    val seqs = spark.readStream
      .schema(model.sequencesSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
    val writer = seqs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // single cascade evaluation per micro-batch: the audit rides the
        // fan-out write as an observed metric (see Pipeline.writeBatch)
        Pipeline.writeBatch(Router.route(batch, cfg), outDir,
          s"$outDir-audit", batchId)
        ()
      }
    Pipeline.withConf(spark, ArtifactIsolation -> "false")(writer.start())
  }

  private[hotdog] val ArtifactIsolation = "spark.sql.artifact.isolation.enabled"

  /** hotdog's RUNNING per-topic counters (`kafka.submitted.<topic>` in the
    * reference's DashMap — src/status.rs:130-140) as managed streaming
    * state: `mapGroupsWithState` keyed by topic accumulates the routed-row
    * count across micro-batches and emits the new cumulative total each
    * batch (update mode). State is one long per topic — bounded by topic
    * cardinality, executor-sharded, checkpoint-recovered.
    *
    * Scale shape: the state shuffle carries per-PARTITION partial counts,
    * not routed rows — `mapPartitions` reduces each input partition to
    * ≤ #topics (topic, count) rows BEFORE groupByKey (groupByKey alone has
    * no map-side combine, so a hot topic would otherwise funnel its whole
    * micro-batch into one task — the exact skew-killer the reference avoids
    * by sending channel DELTAS to its stats handler, src/status.rs:83-101).
    * The stateful task then folds ≤ #partitions deltas per topic. Output is
    * identical: a topic appears in a batch's updates iff it routed ≥1 row. */
  def runningTopicTotals(streamingSequences: DataFrame, cfg: HotdogConfig)
      : Dataset[(String, Long)] = {
    val spark = streamingSequences.sparkSession
    import spark.implicits._
    Pipeline.emittedOnly(Router.route(streamingSequences, cfg))
      .select("topic").as[String]
      .mapPartitions { it =>
        val counts = new scala.collection.mutable.HashMap[String, Long]()
        it.foreach(t => counts.update(t, counts.getOrElse(t, 0L) + 1L))
        counts.iterator
      }
      .groupByKey(_._1)
      .mapGroupsWithState[Long, (String, Long)](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        case (topic, deltas, state) =>
          val total = state.getOption.getOrElse(0L) + deltas.map(_._2).sum
          state.update(total)
          (topic, total)
      }
  }

  /** Streaming exact dedup: the first row per dedup key survives, later
    * arrivals are dropped while the key's state lives. State is keyed on
    * `keyCols` and expires once the watermark (max event time − lateness)
    * passes the key's own event time — the bounded-state contract an
    * unbounded stream needs at 100 TB: a plain streaming dropDuplicates
    * pins EVERY key ever seen in the state store forever, and a web-scale
    * ingest stream has ~unbounded key cardinality. The trade a caller
    * makes is the horizon: a key recurring AFTER its state expired is
    * emitted again, so `lateness` is the dedup window you can afford
    * (crawl-window dedup, not dedup-forever — the batch [[graft.ops.Dedup]]
    * path owns the forever case over the materialized corpus). */
  def streamingDedupKeys(streamingRows: DataFrame, keyCols: Seq[String],
      eventTimeCol: String, lateness: String): DataFrame =
    streamingRows
      .withWatermark(eventTimeCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream event-time interval join: every (left, right) pair
    * with equal keys where the right row's event time falls in
    * `[left − horizon, left)` — the streaming conversion⋈touch /
    * request⋈response correlation shape. Inner join in append mode: each
    * qualifying pair is emitted exactly once, as soon as both sides have
    * arrived, so the result is the deterministic SQL interval join
    * regardless of micro-batching (spec-pinned with a cross-batch match).
    *
    * State contract at 100 TB: the interval condition is expressed on the
    * watermarked TIMESTAMP columns themselves (never a derived epoch
    * value), so Spark extracts the eviction bound — each side buffers
    * only rows newer than its watermark minus the horizon, i.e.
    * O(rate × (lateness + horizon)) rows per side, sharded across
    * executors by key hash and checkpoint-recovered. Rows later than
    * `lateness` are dropped; a caller trades horizon-completeness against
    * state exactly as in [[streamingDedupKeys]].
    *
    * Both inputs must carry DISTINCT column names (the caller renames —
    * the join condition references columns by bare name across the two
    * frames). */
  def intervalJoin(left: DataFrame, leftTimeCol: String,
      right: DataFrame, rightTimeCol: String, keyEq: Column,
      horizon: String, lateness: String): DataFrame = {
    val l = left.withWatermark(leftTimeCol, lateness)
    val r = right.withWatermark(rightTimeCol, lateness)
    l.join(r, keyEq &&
      col(rightTimeCol) < col(leftTimeCol) &&
      col(rightTimeCol) >= col(leftTimeCol) - expr(s"INTERVAL $horizon"))
  }

  /** Tumbling-window per-topic routed counts over an event-time column
    * carried through the router (input must have `event_time` timestamp).
    * Watermark bounds state: rows later than `lateness` are dropped. */
  def windowedTopicCounts(streamingSequences: DataFrame, cfg: HotdogConfig,
      windowLen: String = "1 minute",
      lateness: String = "10 minutes"): DataFrame =
    Pipeline.emittedOnly(Router.route(streamingSequences, cfg))
      .withWatermark("event_time", lateness)
      .groupBy(window(col("event_time"), windowLen), col("topic"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("topic"), col("n"))
}
