package graft.hotdog

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.hotdog.config.HotdogConfig

/** End-to-end wiring: scan(sequences) → decode → parse → route →
  * [broadcast enrich] → fan-out sink + stats/audit (SURVEY §3 E1).
  *
  * Scale notes (the 100 TB design, tested at local scale):
  *  - decode→parse→route is ONE narrow whole-stage-codegen stage: no
  *    shuffle at all before the sink.
  *  - enrich is a broadcast hash join (dim is small by construction);
  *    no shuffle, skew-immune.
  *  - the fan-out write repartitions by (topic, salt) so one hot topic
  *    (or hot source) cannot pin a single writer task — salting spreads
  *    each topic over up to `saltBuckets` files/tasks while keeping
  *    dynamic-partition writes to one topic-dir per task.
  *  - idempotent resume: dynamic partition overwrite per topic + an audit
  *    table recording per-partition lineage; a re-run of the same batch_id
  *    overwrites, never duplicates.
  */
object Pipeline {

  /** `stats` is LAZY and never waits. Once the [[writeBatch]] that wrote
    * `routed` has observed its lineage slots, it is those slots reshaped
    * (no Spark job); before that write, or when the write took its
    * recompute fallback, it is [[Stats.statsOf]] of the rows below the
    * enrich join, a second pass that re-runs the cascade. Both count the
    * same rows, so `/stats` is the same either way. */
  final class Result(val routed: DataFrame, statsThunk: => DataFrame) {
    lazy val stats: DataFrame = statsThunk
  }

  /** What [[run]] hands to the [[writeBatch]] that writes its `routed`:
    * the rows below the enrich join and the dim, so the write can observe
    * the rows [[Stats.statsOf]] counts (the join repeats a row once per dim
    * row of its source), and back from that write the per-topic counters
    * its observed slots held. */
  private final class Handoff(val routed0: DataFrame, val dim: Option[DataFrame]) {
    @volatile var observed: Option[Seq[Stats.TopicCounts]] = None
  }

  /** `Result.routed` → its hand-off. A Dataset compares by identity, and a
    * weak key lets a dropped result take its entry with it. */
  private val handoffs = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataFrame, Handoff]())

  /** Routed rows that actually emitted, filtered WITHOUT letting the
    * optimizer push the predicate beneath the router projection (see
    * NoPushdown — pushing would re-inline the whole cascade). */
  def emittedOnly(routed: DataFrame): DataFrame =
    routed.filter(exprs.noPushdown(col("topic").isNotNull))

  /** Logical pipeline without sinks. */
  def run(sequences: DataFrame, cfg: HotdogConfig,
      dim: Option[DataFrame] = None,
      clock: Column = Router.DefaultClock): Result = {
    val routed0 = Router.route(sequences, cfg, clock)
    val routed = enrich(routed0, dim)
    val handoff = new Handoff(routed0, dim)
    handoffs.put(routed, handoff)
    new Result(routed, handoff.observed
      .fold(Stats.statsOf(routed0))(Stats.fromCounts(routed0.sparkSession, _)))
  }

  /** the broadcast left join of routed rows with the source dim, if any */
  private def enrich(routed0: DataFrame, dim: Option[DataFrame]): DataFrame =
    dim.fold(routed0)(d => routed0.join(broadcast(d), Seq("source"), "left"))

  /** Fan-out sink (S5): the emitted rows' (doc_id, source, output) as
    * parquet, partitioned by batch_id and topic. `saltBuckets` bounds the
    * number of write tasks per topic so a hot topic parallelizes; AQE
    * coalesces small ones.
    * @return wall time of the sink write in microseconds (feeds the
    *         kafka.producer.sent timer slot — reference src/kafka.rs:176-183
    *         keeps the LAST send duration; we keep the last batch's). */
  def writeFanOut(routed: DataFrame, outDir: String, batchId: Long,
      saltBuckets: Int = 0): Long = {
    // saltBuckets <= 0 ⇒ track spark.sql.shuffle.partitions: the write
    // stage's task count IS the repartition's partition count, and a salt
    // space smaller than it leaves reducers empty while a fixed 32 pins
    // the stage to ONE wave at 32 cores (straggler-bound, measured
    // util 0.53 in the streaming bench; (topic, salt) cells are atomic,
    // so more+finer cells = the balance)
    val salts =
      if (saltBuckets > 0) saltBuckets
      else routed.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // Kafka-parity payload is (topic, output); doc_id/source are lineage.
    // `tokens` is intentionally NOT shipped — the equality invariant is
    // checked on the routed frame (cheap, pre-shuffle), and shipping the
    // token arrays through the sink shuffle would triple the written bytes
    // for no consumer benefit.
    val emitted = emittedOnly(routed)
      .select(col("doc_id"), col("source"), col("output"), col("topic"))
      .withColumn("batch_id", batchIdLit(batchId))
    withConf(routed.sparkSession, DynamicOverwrite) {
      val t0 = System.nanoTime()
      emitted
        .repartition(col("batch_id"), col("topic"),
          pmod(xxhash64(col("doc_id")), lit(salts)))
        .write
        .partitionBy("batch_id", "topic")
        .mode(SaveMode.Overwrite)
        .parquet(outDir)
      (System.nanoTime() - t0) / 1000L
    }
  }

  private val DynamicOverwrite = "spark.sql.sources.partitionOverwriteMode" -> "dynamic"

  /** The `batch_id` partition value, as a string literal. Spark inlines a
    * `LongType` literal into the generated Java source (`write(4, 3L)`,
    * `hashLong(3L, ...)`), so each batch id would compile its own classes
    * and run them cold; a string reaches the generated code through its
    * `references`, and the source stays the same from batch to batch. The
    * directory is `batch_id=<n>` either way, and reading it back infers
    * the same type. */
  private def batchIdLit(batchId: Long): Column = lit(batchId.toString)

  /** Run `body` with the given session confs set, then put each back as it
    * was: its previous explicit value, or unset if it had none. */
  private[graft] def withConf[T](spark: SparkSession, settings: (String, String)*)(
      body: => T): T = {
    val prev = settings.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Typed-API variant: routed rows as Dataset[RoutedRow] (only emitted
    * rows; the untyped frame keeps the error-flag columns for stats). */
  def routeTyped(ds: org.apache.spark.sql.Dataset[model.SyslogSequence],
      cfg: HotdogConfig,
      clock: Column = Router.DefaultClock): org.apache.spark.sql.Dataset[model.RoutedRow] = {
    val spark = ds.sparkSession
    import spark.implicits._
    emittedOnly(Router.route(ds.toDF(), cfg, clock))
      .select(col("doc_id"), col("tokens"), col("source"), col("topic"), col("output"))
      .as[model.RoutedRow]
  }

  /** Kafka-sink drop-in: the reference produces KafkaMessage(topic, msg)
    * (src/kafka.rs:23-26). With a kafka connector jar on the classpath this
    * frame writes directly:
    * `kafkaFrame(routed).write.format("kafka").option("kafka.bootstrap.servers", ...)`.
    * No connector ships in this sandbox, so the fan-out parquet sink above
    * is the default; this keeps the migration one line. */
  def kafkaFrame(routed: DataFrame): DataFrame =
    emittedOnly(routed).select(col("topic"), col("output").as("value"))

  /** Fan-out sink + audit table in ONE evaluation of the cascade — and,
    * since the observed-audit rework, in ONE PASS over the rows: the audit
    * aggregate rides the sink write itself as an observed metric
    * (`Dataset.observe` + [[LineageAgg]]), so the cascade runs exactly
    * once per batch and NOTHING is cached or re-read.
    *
    * Why not a slim DISK_ONLY cache feeding two passes (the previous
    * design, deleted after measurement: this path gave +21–26 % rows/s
    * over it): it evaluated the cascade once but wrote ~3 GB and re-read
    * ~6 GB of cache per 48M-row batch — at 32 cores that extra memory/disk
    * traffic is pure scaling drag (the streaming bench measured per-CPU
    * time inflating 1.45× from 8→32 cores on a single-socket host; every
    * avoidable byte moved makes it worse). The observed aggregate costs
    * one hash-map probe per row in the map stage and ships
    * #partitions×#topics×#files-per-partition tiny slots to the driver.
    *
    * Exactly-once lineage BY CONSTRUCTION: slots are keyed by
    * (partition_id, topic, input_file) and each partition's input is
    * deterministic, so a re-executed task contributes byte-identical
    * slots and the merge (map union) is idempotent — the north_rule's
    * "every stage emits per-partition lineage and metric rows", with the
    * metric channel being Spark's observed-metrics accumulator. A
    * re-executed task whose slots differ (a non-deterministic upstream)
    * poisons the observation ([[LineageAgg.merge]]), and the batch takes
    * the counted recompute fallback of [[auditObserved]].
    *
    * The same slots are the batch's `/stats`: when `routed` is the `routed`
    * of a [[run]] result, the write observes the rows below its enrich join
    * (the rows [[Stats.statsOf]] counts, and the input rows the audit
    * traces) and hands their per-topic counters to that result's `stats`,
    * so a `Main` batch evaluates the cascade exactly once.
    * @return sink write micros (the kafka.producer.sent timer slot). */
  def writeBatch(routed: DataFrame, outDir: String, auditDir: String,
      batchId: Long): Long = {
    val handoff = Option(handoffs.get(routed))
    val below = handoff.fold(routed)(_.routed0)
    val obs = org.apache.spark.sql.Observation(
      s"graft_audit_${batchId}_${System.nanoTime()}")
    val lineage = udaf(LineageAgg)
    val observed = below
      .withColumn("input_file", input_file_name())
      .observe(obs, lineage(col("topic"), col("input_file"),
        coalesce(col("parse_ok"), lit(false)),
        col("err_merge_invalid_json").cast("long"),
        col("err_merge_target_not_json").cast("long"),
        col("err_topic_parse_failed").cast("long")).as("lineage"))
    // the same rows as `routed`: the broadcast join is narrow, so a row's
    // task and input file are the same below it as above it
    val micros = writeFanOut(enrich(observed, handoff.flatMap(_.dim)), outDir, batchId)
    auditObserved(obs, routed, auditDir, batchId)
    micros
  }

  /** The audit, and the `/stats` counters handed to the [[run]] result of
    * `routed`, from the lineage slots `obs` observed on the write of
    * `routed`. Slots that were not delivered, or that a slot collision
    * poisoned (then [[LineageAgg.finish]] delivers null), take the counted
    * fallback: [[writeAudit]] recomputes the audit, and `stats` stays
    * [[Stats.statsOf]]. The fallback re-runs the FULL cascade — the double
    * evaluation the observed audit exists to eliminate, so it is loud
    * (ADVICE r4): in a streaming bench it would double every batch's cost. */
  private[hotdog] def auditObserved(obs: org.apache.spark.sql.Observation,
      routed: DataFrame, auditDir: String, batchId: Long): Unit = {
    val handoff = Option(handoffs.get(routed))
    org.apache.spark.sql.graftshim.observedOr(obs, "lineage",
        s"batch $batchId: falling back to a full audit recompute (cascade runs twice)") {
      (slots: scala.collection.Map[String, scala.collection.Seq[Long]]) =>
        val folded = LineageAgg.fold(slots)
        writeAuditRows(routed.sparkSession, folded, auditDir, batchId)
        handoff.foreach(_.observed = Some(LineageAgg.perTopic(folded)))
    }(writeAudit(handoff.fold(routed)(_.routed0), auditDir, batchId))
  }

  /** audit schema shared by the two writers (partition col batch_id and
    * completed_at are appended at write time) */
  private val AuditSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("topic",
      org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("input_file",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("rows",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("parsed_rows",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("merge_invalid_json",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("merge_target_not_json",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("topic_parse_failed",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** Audit rows from the folded lineage slots ([[LineageAgg.fold]]), in
    * the schema [[writeAudit]] produces. */
  private def writeAuditRows(spark: SparkSession,
      folded: collection.Map[(String, String), Array[Long]],
      auditDir: String, batchId: Long): Unit = {
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(folded.toSeq.sortBy { case ((t, f), _) => (Option(t), f) }.map {
        case ((topic, f), c) => org.apache.spark.sql.Row(topic, f, c(0), c(1), c(2), c(3), c(4))
      }: _*)
    val audit = spark.createDataFrame(rows, AuditSchema)
      .withColumn("batch_id", batchIdLit(batchId))
      .withColumn("completed_at", current_timestamp())
    writeAuditDf(spark, audit, auditDir)
  }

  /** Per-partition lineage + metrics audit rows (north_rule: resumable
    * with per-partition lineage). One row per (batch, topic, input_file):
    * which INPUT FILES contributed how many rows to which sink partition,
    * plus the error counters — file-level provenance for replay/debugging.
    * input_file_name() is captured on the pre-shuffle routed frame (narrow),
    * and is "" for non-file sources (synthesized frames). Written
    * idempotently per batch_id. */
  def writeAudit(routed: DataFrame, auditDir: String, batchId: Long): Unit = {
    val audit = routed.withColumn("input_file", input_file_name())
      .groupBy(col("topic"), col("input_file")).agg(
        count(lit(1)).as("rows"),
        sum(when(col("parse_ok"), 1L).otherwise(0L)).as("parsed_rows"),
        sum(col("err_merge_invalid_json")).as("merge_invalid_json"),
        sum(col("err_merge_target_not_json")).as("merge_target_not_json"),
        sum(col("err_topic_parse_failed")).as("topic_parse_failed"))
      .withColumn("batch_id", batchIdLit(batchId))
      .withColumn("completed_at", current_timestamp())
    writeAuditDf(routed.sparkSession, audit, auditDir)
  }

  /** idempotent dynamic-partition write shared by both audit producers:
    * one file per batch_id, from one task (`coalesce`, so no shuffle) */
  private def writeAuditDf(spark: SparkSession, audit: DataFrame,
      auditDir: String): Unit =
    withConf(spark, DynamicOverwrite) {
      audit.coalesce(1).write.partitionBy("batch_id")
        .mode(SaveMode.Overwrite).parquet(auditDir)
    }

  /** Which batch_ids already completed (resume-from-checkpoint: a batch is
    * skipped iff its audit rows exist — audit is written AFTER the fan-out,
    * so a crash between the two re-runs the batch idempotently). */
  def completedBatches(spark: SparkSession, auditDir: String): Set[Long] =
    // partition-column type inference yields IntegerType for small ids —
    // cast explicitly; only swallow "path does not exist"
    try spark.read.parquet(auditDir)
      .select(col("batch_id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "PATH_NOT_FOUND" => Set.empty
    }

  /** Full batch job with resume: process only batches not yet in the audit
    * table. `batches` maps batch_id → its sequences slice. */
  def runResumable(spark: SparkSession, cfg: HotdogConfig,
      batches: Map[Long, DataFrame], outDir: String, auditDir: String,
      dim: Option[DataFrame] = None): Seq[Long] = {
    val done = completedBatches(spark, auditDir)
    val todo = batches.keys.toSeq.sorted.filterNot(done)
    todo.foreach { b =>
      val r = run(batches(b), cfg, dim)
      writeBatch(r.routed, outDir, auditDir, b)
    }
    todo
  }
}

/** input row of the observed lineage aggregate (field order = call order) */
private[hotdog] case class LineageIn(topic: String, input_file: String,
    parse_ok: Boolean, mij: Long, mtnj: Long, tpf: Long)

/** Per-(partition, topic, input_file) lineage slots as ONE observed-metrics
  * aggregate riding the sink write (see [[Pipeline.writeBatch]]). Buffer =
  * a mutable hash map updated in place (slot count is tiny:
  * #topics×#files-per-partition per task; one probe per row); partials from
  * different tasks carry DISJOINT pid-prefixed keys, so merge is map union
  * — and a re-executed task's slots are byte-identical (deterministic
  * partition input), making the union idempotent: exactly-once lineage by
  * construction, not by accumulator bookkeeping. Slots that differ poison
  * the buffer ([[merge]]), and a poisoned buffer finishes as null. */
private[hotdog] object LineageAgg
    extends org.apache.spark.sql.expressions.Aggregator[
      LineageIn,
      scala.collection.mutable.HashMap[String, Array[Long]],
      Map[String, Seq[Long]]]
    with Serializable {
  /** key-part separator; never appears in topic names or file paths */
  val Sep: String = 0.toChar.toString
  /** encodes a NULL topic (unrouted rows) in the composite key */
  val NullTopic: String = 1.toChar.toString
  /** counters per slot: rows, parse_ok rows, merge_of_invalid_json,
    * merge_target_not_json, topic_parse_failed */
  val Slots = 5
  /** the key that marks a poisoned buffer; slot keys start with a pid */
  val Poison: String = Sep + "poison"

  /** The observed slots with the partition id summed out (each
    * (pid, topic, file) slot is exactly-once): (topic, input_file) →
    * counters, topic null for unrouted rows. */
  def fold(slots: collection.Map[String, collection.Seq[Long]])
      : collection.Map[(String, String), Array[Long]] = {
    val folded = scala.collection.mutable.HashMap.empty[(String, String), Array[Long]]
    slots.foreach { case (k, v) =>
      val parts = k.split(Sep, -1) // pid, topicEnc, file
      val topic = if (parts(1) == NullTopic) null else parts(1)
      val acc = folded.getOrElseUpdate((topic, parts(2)), new Array[Long](Slots))
      var i = 0
      while (i < Slots) { acc(i) += v(i); i += 1 }
    }
    folded
  }

  /** Folded slots summed over input files: one [[Stats.TopicCounts]] per topic. */
  def perTopic(folded: collection.Map[(String, String), Array[Long]]): Seq[Stats.TopicCounts] =
    folded.groupMapReduce(_._1._1)(_._2)((a, b) => a.zip(b).map { case (x, y) => x + y })
      .toSeq.map { case (t, c) => Stats.TopicCounts(t, c(0), c(1), c(2), c(3), c(4)) }

  override def zero: scala.collection.mutable.HashMap[String, Array[Long]] =
    scala.collection.mutable.HashMap.empty
  override def reduce(b: scala.collection.mutable.HashMap[String, Array[Long]],
      r: LineageIn): scala.collection.mutable.HashMap[String, Array[Long]] = {
    // the partition of the task folding the row, never a `spark_partition_id()`
    // column: over a driver-local input the optimizer folds that column into
    // the relation as 0 for every row, and the tasks' slots would collide
    val key = org.apache.spark.TaskContext.getPartitionId().toString + Sep +
      (if (r.topic == null) NullTopic else r.topic) + Sep + r.input_file
    val acc = b.getOrElseUpdate(key, new Array[Long](Slots))
    acc(0) += 1L
    if (r.parse_ok) acc(1) += 1L
    acc(2) += r.mij
    acc(3) += r.mtnj
    acc(4) += r.tpf
    b
  }
  override def merge(a: scala.collection.mutable.HashMap[String, Array[Long]],
      b: scala.collection.mutable.HashMap[String, Array[Long]]): scala.collection.mutable.HashMap[String, Array[Long]] = {
    // keys are disjoint across tasks (pid-prefixed); a duplicate key can
    // only be a re-executed task's slot, byte-identical because partition
    // input is deterministic. CHECK that instead of assuming it: if any
    // upstream op ever turns non-deterministic (sample, round-robin
    // repartition), the audit must not silently diverge from the sink
    // (ADVICE r4). Not by throwing: this merge runs in Spark's driver-side
    // accumulator merge, which logs an exception and drops the task's slots,
    // so the observation would arrive short. The buffer is poisoned
    // instead, and the batch takes its counted recompute fallback.
    b.foreach { case (k, v) =>
      a.get(k) match {
        case None => a.update(k, v)
        case Some(prev) if !java.util.Arrays.equals(prev, v) =>
          System.err.println(s"[graft] WARN lineage slot collision with differing counts " +
            s"for key ${k.replace(Sep, "|").replace(NullTopic, "<null>")}: " +
            s"${prev.mkString(",")} vs ${v.mkString(",")} — an upstream op is " +
            "non-deterministic; the observed audit is poisoned")
          a.update(Poison, Array.emptyLongArray)
        case _ =>
      }
    }
    a
  }
  /** null for a poisoned buffer: an observed metric that is null is a
    * missing one to `graftshim.observedOr` */
  override def finish(b: scala.collection.mutable.HashMap[String, Array[Long]]): Map[String, Seq[Long]] =
    if (b.contains(Poison)) null
    else b.iterator.map { case (k, v) => k -> v.toSeq }.toMap
  override def bufferEncoder: org.apache.spark.sql.Encoder[scala.collection.mutable.HashMap[String, Array[Long]]] =
    org.apache.spark.sql.Encoders.kryo[scala.collection.mutable.HashMap[String, Array[Long]]]
  override def outputEncoder: org.apache.spark.sql.Encoder[Map[String, Seq[Long]]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Seq[Long]]]()
}
