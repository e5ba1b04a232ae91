package graft.hotdog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Running-aggregate statistics mirroring hotdog's /stats surface
  * (reference src/status.rs:184-213 for metric names, src/status.rs:170-181
  * for the snapshot shape). The counters come per topic, from the sink
  * write's observed lineage slots (`Pipeline.Result.stats`) or from one
  * shuffle over the routed data ([[statsOf]]); one reshaping of the tiny
  * (≤ #topics) per-topic counters ([[fromCounts]]) serves both.
  */
object Stats {

  /** Metric slots that exist in hotdog's /stats but are structurally zero
    * for the batch rebuild (no lossy queue, no producer): SURVEY §2.5.
    * error.topic_parse_failed graduated to a REAL counter in round 4 (a
    * forward topic whose handlebars render fails counts per row —
    * src/connection.rs:204-206). */
  val ZeroSlots: Seq[String] = Seq(
    "connections",
    "error.full_internal_queue",
    "error.internal_push_failed",
    "kafka.producer.sent")

  /** One topic's counters (`topic` null: the rows no rule emitted): the
    * row count, its `parse_ok` rows and the three error counters. The row
    * shape of [[perTopicAgg]] and of a topic's folded lineage slots
    * (`Pipeline.writeBatch`). */
  final case class TopicCounts(topic: String, n: Long, parsed: Long,
      mi: Long, mt: Long, tpf: Long)

  /** (metric string, value long) from a Router.route output frame: a
    * second pass over the data, which re-runs the cascade.
    *
    * ONE distributed job: groupBy(topic) with map-side partial agg, then the
    * ≤(#topics+1)-row result is collected and reshaped driver-side by
    * [[fromCounts]] — the exact analog of the reference's in-memory counter
    * map (src/status.rs). `Pipeline.Result.stats` reshapes the sink write's
    * observed slots instead and only falls back to this; it stays as the
    * independent reference the slot-derived counters are checked against. */
  def statsOf(routed: DataFrame): DataFrame =
    fromCounts(routed.sparkSession, perTopicAgg(routed).collect().toSeq.map(r =>
      TopicCounts(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))))

  /** The `/stats` (metric, value) frame of per-topic counters, however they
    * were counted: one `kafka.submitted.<topic>` per routed topic (sorted),
    * then the totals, then the [[ZeroSlots]]. A local frame: no job. */
  def fromCounts(spark: SparkSession, per: Seq[TopicCounts]): DataFrame = {
    import spark.implicits._
    val routed = per.filter(_.topic != null)
    val perTopic = routed.map(c => ("kafka.submitted." + c.topic, c.n)).sortBy(_._1)
    val totals = Seq(
      "kafka.submitted" -> routed.map(_.n).sum,
      "lines" -> per.map(_.parsed).sum,
      "error.log_parse" -> per.map(c => c.n - c.parsed).sum,
      "error.merge_of_invalid_json" -> per.map(_.mi).sum,
      "error.merge_target_not_json" -> per.map(_.mt).sum,
      "error.topic_parse_failed" -> per.map(_.tpf).sum)
    (perTopic ++ totals ++ ZeroSlots.map(_ -> 0L)).toDF("metric", "value")
  }

  /** The ONE distributed aggregation behind [[statsOf]] (its ≤(#topics+1)-row
    * result is collected and reshaped driver-side). Exposed for plan tests. */
  def perTopicAgg(routed: DataFrame): DataFrame =
    routed.groupBy("topic").agg(
      count(lit(1)).as("n"),
      sum(when(col("parse_ok"), 1L).otherwise(0L)).as("parsed"),
      coalesce(sum(col("err_merge_invalid_json")), lit(0L)).as("mi"),
      coalesce(sum(col("err_merge_target_not_json")), lit(0L)).as("mt"),
      coalesce(sum(col("err_topic_parse_failed")), lit(0L)).as("tpf"))

  /** Kafka producer-error string → statsd-suitable metric token, porting
    * the reference's `metric_name_for` (src/kafka.rs:226-231, tests
    * src/kafka.rs:256-273): lowercase the error's Display form, take the
    * first space-separated token. */
  def kafkaErrorMetricName(errString: String): String =
    errString.toLowerCase.split(' ').headOption.getOrElse("unknown")

  /** Full metric key for a producer error, mirroring
    * `Stats::KafkaMsgErrored{errcode}` → "kafka.producer.error.<errcode>"
    * (src/status.rs:141-146,196). Used when a real Kafka sink is swapped in
    * via [[Pipeline.kafkaFrame]]. */
  def kafkaErrorMetric(errString: String): String =
    "kafka.producer.error." + kafkaErrorMetricName(errString)

  /** Set the kafka.producer.sent timer slot (µs of the last sink write —
    * the reference keeps the last value, src/status.rs:155-164). */
  def withSentTimer(statsDf: DataFrame, micros: Long): DataFrame =
    statsDf.withColumn("value",
      when(col("metric") === "kafka.producer.sent", lit(micros))
        .otherwise(col("value")))

  /** The `GET /stats` JSON snapshot (src/status.rs:22-25,170-181), with
    * the canonical greeting. Driver-side collect of the tiny stats frame. */
  def statsJson(routed: DataFrame): String = formatJson(statsOf(routed))

  /** Format an already-computed (metric, value) frame as the snapshot. */
  def formatJson(statsDf: DataFrame): String = {
    val kv = statsDf.collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    val stats = kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    s"""{"message":"You should smile more","stats":$stats}"""
  }
}
