package hdbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.hotdog.{Oracle, Router, Stats, SyslogParser}
import graft.hotdog.config.HotdogConfig

/** Output checks run after every timed job. A job passes only when its
  * `/stats`, sink and audit agree with each other, with the input, and
  * with the line-at-a-time `Oracle` on a seeded sample. */
object Check {
  private val P = 1000000007L
  /** the `{{iso8601}}` clock value, masked before comparing outputs */
  private val IsoRx =
    "\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}\\.\\d{6}[+-]\\d{2}:\\d{2}".r
  private val OracleIso = "2000-01-01T00:00:00.000000+00:00"
  def mask(s: String): String = IsoRx.replaceAllIn(s, "<iso8601>")

  /** Properties of the input the outputs are checked against:
    * line count, the parse_ok rows (by the row-at-a-time parser) as a
    * count plus two order-free doc_id fingerprints, the Oracle's routing
    * of a seeded sample, and — for the stream — a batch `statsOf` over
    * the whole backlog. */
  final case class Expected(lines: Long, files: Int, parseOk: Long, xor: Long,
      modSum: Long, sample: Map[String, Option[(String, String)]],
      batchStats: Map[String, Long])

  private def h1(c: Column): Column = xxhash64(c)
  private def h2(c: Column): Column = pmod(xxhash64(c, lit(7L)), lit(P))
  private def decode(tokens: scala.collection.Seq[Int]): String =
    new String(tokens.toArray, 0, tokens.length)

  def expect(spark: SparkSession, input: String, spec: Spec, cfg: HotdogConfig,
      seed: Long): Expected = {
    val in = spark.read.parquet(input)
    val parses = udf((t: scala.collection.Seq[Int]) =>
      SyslogParser.parseToOption(decode(t)).isDefined)
    val ok = col("ok")
    val r = in.select(col("doc_id"), parses(col("tokens")).as("ok"))
      .agg(count(lit(1)), sum(when(ok, 1L).otherwise(0L)),
        coalesce(bit_xor(when(ok, h1(col("doc_id")))), lit(0L)),
        coalesce(sum(when(ok, h2(col("doc_id")))), lit(0L)))
      .head()
    val lines = r.getLong(0)
    val every = math.max(1L, lines / 200)
    val sample = in.filter(pmod(xxhash64(col("doc_id"), lit(seed)), lit(every)) === 0)
      .select("doc_id", "tokens").collect().map { row =>
        val o = Oracle.route(decode(row.getSeq[Int](1)), cfg, OracleIso)
        row.getString(0) -> o.topic.map(t => (t, mask(o.output.get)))
      }.toMap
    val batchStats =
      if (spec.stream) statsMap(Stats.formatJson(Stats.statsOf(Router.route(in, cfg))))
      else Map.empty[String, Long]
    Expected(lines, parquetBytes(input)._1, r.getLong(1), r.getLong(2), r.getLong(3),
      sample, batchStats)
  }

  private val om = new com.fasterxml.jackson.databind.ObjectMapper()

  def statsMap(json: String): Map[String, Long] = longs(om.readTree(json).get("stats"))

  private def longs(n: com.fasterxml.jackson.databind.JsonNode): Map[String, Long] =
    n.fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap

  /** expectations are staged with the input they describe */
  def save(e: Expected, path: String): Unit = {
    val sample = e.sample.map { case (id, want) =>
      id -> want.map { case (t, o) => Map("topic" -> t, "output" -> o).asJava }.orNull
    }.asJava
    Files.write(Paths.get(path), om.writeValueAsBytes(Map[String, Any](
      "lines" -> e.lines, "files" -> e.files, "parse_ok" -> e.parseOk, "xor" -> e.xor, "mod_sum" -> e.modSum,
      "sample" -> sample, "batch_stats" -> e.batchStats.asJava).asJava))
  }

  def load(path: String): Expected = {
    val n = om.readTree(Files.readAllBytes(Paths.get(path)))
    val sample = n.get("sample").fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> (if (v.isNull) None else Some((v.get("topic").asText, v.get("output").asText)))
    }.toMap
    Expected(n.get("lines").asLong, n.get("files").asInt, n.get("parse_ok").asLong,
      n.get("xor").asLong,
      n.get("mod_sum").asLong, sample, longs(n.get("batch_stats")))
  }

  /** All failed checks of one job (empty = correct). For the stream the
    * drained sink is held to the batch `statsOf` of the same backlog. */
  def job(spark: SparkSession, spec: Spec, dir: String, batchId: Long,
      r: JobOut, exp: Expected): Seq[String] = {
    val fails = ArrayBuffer.empty[String]
    def req(ok: Boolean, what: => String): Unit = if (!ok) fails += what
    val stats = if (spec.stream) exp.batchStats else statsMap(r.statsJson)
    val topics = stats.collect {
      case (k, v) if k.startsWith("kafka.submitted.") => k.stripPrefix("kafka.submitted.") -> v
    }
    req(stats("lines") + stats("error.log_parse") == exp.lines,
      s"lines ${stats("lines")} + error.log_parse ${stats("error.log_parse")} != input ${exp.lines}")
    req(stats("kafka.submitted") == topics.values.sum,
      s"kafka.submitted ${stats("kafka.submitted")} != sum of per-topic ${topics.values.sum}")
    req(stats("lines") == exp.parseOk, s"lines ${stats("lines")} != parse_ok rows ${exp.parseOk}")
    if (spec.stream)
      req(r.progress.size == math.ceil(exp.files.toDouble / spec.perTrigger).toInt,
        s"${r.progress.size} micro-batches for ${exp.files} files at ${spec.perTrigger} per trigger")

    val (routedDir, auditDir) =
      if (spec.stream) (s"$dir/routed", s"$dir/routed-audit") else (s"$dir/routed", s"$dir/audit")
    def ofBatch(df: DataFrame) =
      if (spec.stream) df else df.filter(col("batch_id") === batchId)
    val sink = ofBatch(spark.read.parquet(routedDir))
    val sampled = col("doc_id").isin(exp.sample.keys.toSeq: _*)
    val per = sink.groupBy("topic").agg(count(lit(1)),
      bit_xor(h1(col("doc_id"))), sum(h2(col("doc_id"))),
      collect_list(when(sampled, struct(col("doc_id"), col("output"))))).collect()
    val sinkTopics = per.map(p => p.getString(0) -> p.getLong(1)).toMap
    req(sinkTopics == topics, s"sink rows per topic $sinkTopics != kafka.submitted.* $topics")
    req(per.map(_.getLong(1)).sum == exp.parseOk &&
      per.map(_.getLong(2)).foldLeft(0L)(_ ^ _) == exp.xor &&
      per.map(_.getLong(3)).sum == exp.modSum,
      "sink doc_ids are not exactly the parse_ok input rows (missing or duplicated rows)")

    val audit = ofBatch(spark.read.parquet(auditDir)).groupBy("topic")
      .agg(sum("rows"), sum("parsed_rows"), sum("merge_invalid_json"),
        sum("merge_target_not_json")).collect()
    val auditTopics = audit.filter(!_.isNullAt(0)).map(a => a.getString(0) -> a.getLong(1)).toMap
    req(auditTopics == topics, s"audit rows per topic $auditTopics != kafka.submitted.* $topics")
    req(audit.map(_.getLong(1)).sum == exp.lines, "audit rows do not sum to the input lines")
    req(audit.map(_.getLong(2)).sum == stats("lines"), "audit parsed_rows != lines")
    req(audit.map(_.getLong(3)).sum == stats("error.merge_of_invalid_json"),
      "audit merge_invalid_json != error.merge_of_invalid_json")
    req(audit.map(_.getLong(4)).sum == stats("error.merge_target_not_json"),
      "audit merge_target_not_json != error.merge_target_not_json")

    val got = per.toSeq.flatMap { p =>
      p.getSeq[org.apache.spark.sql.Row](4).map(r => r.getString(0) -> (p.getString(0), mask(r.getString(1))))
    }.groupBy(_._1)
    exp.sample.toSeq.sortBy(_._1).foreach { case (id, want) =>
      val rows = got.getOrElse(id, Nil).map(_._2)
      req(rows.toSeq == want.toSeq, s"$id: sink ${rows.mkString(",")} != oracle ${want.getOrElse("no row")}")
    }
    fails.take(5).toSeq
  }

  /** (files, bytes) of the parquet files under `dir` */
  def parquetBytes(dir: String): (Int, Long) = {
    val files = parquetFiles(Paths.get(dir))
    (files.size, files.map(Files.size).sum)
  }

  private def parquetFiles(p: Path): Seq[Path] = {
    val all = Files.walk(p)
    try all.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq.sorted
    finally all.close()
  }

  /** Self-test hook: copy one sink file next to itself, as a retried
    * writer that left a duplicate would. The checks must catch it. */
  def tamper(routedDir: String): Unit = {
    val f = parquetFiles(Paths.get(routedDir)).head
    Files.copy(f, f.resolveSibling("part-tampered-" + f.getFileName),
      StandardCopyOption.REPLACE_EXISTING)
  }
}
