package graft.hotdog

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, graftshim}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** `/stats` from the sink write's observed slots (`Pipeline.Result.stats`
  * after `writeBatch`) is byte-identical to the second-pass reference,
  * `Stats.statsOf` of the routed rows, and is reached with no Spark job. */
class StatsSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SparkSpec.spark

  override def afterAll(): Unit = graft.Trace.uninstall(spark)

  private val clock = lit("2020-04-18T22:16:09.956153+00:00")

  private def seqDF(lines: Seq[String]): DataFrame = {
    val s = spark
    import s.implicits._
    lines.zipWithIndex.map { case (l, i) =>
      (f"doc-$i%06d", l.codePoints().toArray, l.codePointCount(0, l.length), s"src-${i % 3}")
    }.toDF("doc_id", "tokens", "n_tok", "source")
  }

  private def tmp(): String = Files.createTempDirectory("graft-stats").toString

  /** run → writeBatch → result.stats as `/stats` JSON; fails if reading
    * `result.stats` started a Spark job (the slots were not handed over)
    * or if it differs from statsOf of the routed rows. */
  private def derived(seqs: DataFrame, cfg: config.HotdogConfig,
      dim: Option[DataFrame] = None, out: String = tmp()): String = {
    val result = Pipeline.run(seqs, cfg, dim, clock)
    Pipeline.writeBatch(result.routed, s"$out/routed", s"$out/audit", 0L)
    val rec = graft.Trace.install(spark)
    rec.take(spark)
    val got = Stats.formatJson(result.stats)
    assert(rec.take(spark).jobs == 0, "result.stats started Spark jobs")
    val want = Stats.formatJson(Stats.statsOf(Router.route(seqs, cfg, clock)))
    assert(got == want)
    got
  }

  private def metric(json: String, key: String): Long =
    s""""${java.util.regex.Pattern.quote(key)}":(\\d+)""".r
      .findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(fail(s"$key not in $json"))

  test("RouterSpec flagship fixtures: derived /stats == statsOf") {
    val lines = Seq(
      "<13>1 2020-04-18T15:16:09.956153-07:00 coconut tyler - - - hello world",
      "<13>1 2020-04-18T15:16:09Z coconut tyler - - - hello ",
      """<13>1 2020-04-15T21:16:43.268478-07:00 coconut tyler - - - {"meta":{"topic":"test"},"i":7}""",
      """<13>1 2020-04-18T15:16:09Z h a - - - {"meta":{"topic":7}}""",
      "<190>May 13 21:45:18 coconut hotdog: some plain text",
      "blah")
    val json = derived(seqDF(lines), Configs.flagship)
    assert(json.contains("\"kafka.submitted.\":1"), json) // the empty topic
    assert(metric(json, "error.log_parse") == 1L)
    derived(Corpus.sequences(spark, 4000, seed = 7L), Configs.flagship)
  }

  test("merge error counters: derived /stats == statsOf") {
    val merge = config.fromYamlString(
      """rules:
        |  - regex: '.*'
        |    field: msg
        |    actions:
        |      - type: merge
        |        json:
        |          a: 1
        |      - type: forward
        |        topic: t
        |""".stripMargin)
    val notObject = config.fromYamlString(
      """rules:
        |  - regex: '.*'
        |    field: msg
        |    actions:
        |      - type: merge
        |        json:
        |          - 1
        |      - type: forward
        |        topic: t
        |""".stripMargin)
    val lines = seqDF(Seq("<190>May 13 21:45:18 coconut hotdog: not json",
      """<13>1 2020-04-18T15:16:09Z h a - - - {"x":1}"""))
    assert(metric(derived(lines, merge), "error.merge_of_invalid_json") == 1L)
    assert(metric(derived(lines, notObject), "error.merge_target_not_json") == 1L)
  }

  test("render failures: error.topic_parse_failed from the slots, and in the audit") {
    val cfg = config.fromYamlString(
      """rules:
        |  - regex: '^hello (?P<name>\w+)'
        |    field: msg
        |    actions:
        |      - type: replace
        |        template: 'pre-{{name}}'
        |      - type: replace
        |        template: '{{bogus name}}'
        |      - type: forward
        |        topic: '{{bogus name}}'
        |  - regex: 'hello'
        |    field: msg
        |    actions:
        |      - type: forward
        |        topic: second
        |""".stripMargin)
    val seqs = seqDF(Seq("<13>1 2020-04-18T15:16:09Z h app - - - hello bob",
      "<13>1 2020-04-18T15:16:09Z h app - - - hello ann",
      "<13>1 2020-04-18T15:16:09Z h app - - - goodbye", "blah"))
    val out = tmp()
    assert(metric(derived(seqs, cfg, out = out), "error.topic_parse_failed") == 2L)
    // the observed audit carries the counter, as the recomputed one does
    Pipeline.writeAudit(Router.route(seqs, cfg, clock), s"$out/audit-ref", 0L)
    def audit(dir: String) = spark.read.parquet(dir)
      .select("topic", "input_file", "rows", "parsed_rows", "merge_invalid_json",
        "merge_target_not_json", "topic_parse_failed")
      .collect().map(_.toString).sorted.toSeq
    assert(audit(s"$out/audit") == audit(s"$out/audit-ref"))
    assert(spark.read.parquet(s"$out/audit").agg(sum("topic_parse_failed")).head().getLong(0) == 2L)
  }

  test("PlanSpec corpus with the source dim: derived /stats == statsOf") {
    val dir = tmp() + "/seq"
    Corpus.sequences(spark, 2000, seed = 5L).write.parquet(dir)
    derived(spark.read.parquet(dir), Configs.flagship, Some(Corpus.sourceDim(spark)))
  }

  test("a dim that repeats a source key: /stats and the audit count the input rows, not the joined ones") {
    val dir = tmp() + "/seq"
    Corpus.sequences(spark, 2000, seed = 5L).write.parquet(dir)
    val base = Corpus.sourceDim(spark)
    val dim = base.unionByName(base.filter(col("source").isin("src-hot", "src-1", "src-2")))
    val out = tmp()
    val json = derived(spark.read.parquet(dir), Configs.flagship, Some(dim), out)
    // the fixture does repeat rows: the sink holds more than were routed
    val sunk = spark.read.parquet(s"$out/routed").count()
    assert(sunk > metric(json, "kafka.submitted"), s"sink $sunk rows: the dim repeated no routed row")
    val audited = spark.read.parquet(s"$out/audit").agg(sum("rows")).head().getLong(0)
    assert(audited == 2000L)
  }

  test("a 200k-row Main run: derived /stats == statsOf") {
    val out = tmp()
    val seqs = Main.input(spark, None, 200000, out)
    val json = derived(seqs, Configs.flagship, Some(Corpus.sourceDim(spark)), out)
    assert(metric(json, "lines") + metric(json, "error.log_parse") == 200000L)
  }

  test("a lineage slot collision poisons the slots: the counted fallback, audit and /stats exact") {
    type Buf = scala.collection.mutable.HashMap[String, Array[Long]]
    val key = Seq("0", "t", "f").mkString(LineageAgg.Sep)
    def partial(rows: Long): Buf = {
      val b = LineageAgg.zero
      b(key) = Array(rows, rows, 0L, 0L, 0L)
      b
    }
    // a deterministic task run twice gives equal slots: the union is idempotent
    assert(LineageAgg.finish(LineageAgg.merge(partial(3), partial(3))) ==
      Map(key -> Seq(3L, 3L, 0L, 0L, 0L)))
    // differing slots for one key poison the buffer, through any later merge
    val poisoned = LineageAgg.merge(partial(3), partial(4))
    assert(poisoned.contains(LineageAgg.Poison))
    assert(LineageAgg.finish(poisoned) == null)
    assert(LineageAgg.merge(LineageAgg.zero, LineageAgg.merge(partial(3), partial(4)))
      .contains(LineageAgg.Poison))
    assert(LineageAgg.finish(LineageAgg.merge(poisoned, partial(5))) == null)

    // Spark's own driver-side merge: under a global sort the range
    // partitioner's sample job runs the observed map side once more, and an
    // upstream that differs between the two runs collides every slot
    val obs = org.apache.spark.sql.Observation(s"collision_${System.nanoTime()}")
    StatsSpec.firstStage.set(-1)
    val firstRunOnly = udf { () =>
      val stage = org.apache.spark.TaskContext.get.stageId
      StatsSpec.firstStage.compareAndSet(-1, stage)
      StatsSpec.firstStage.get == stage
    }.asNondeterministic()
    spark.range(0, 400, 1, 4)
      .select(lit("t").as("topic"), lit("").as("input_file"), firstRunOnly().as("parse_ok"),
        lit(0L).as("mij"), lit(0L).as("mtnj"), lit(0L).as("tpf"), col("id"))
      .observe(obs, udaf(LineageAgg).apply(col("topic"), col("input_file"), col("parse_ok"),
        col("mij"), col("mtnj"), col("tpf")).as("lineage"))
      .orderBy(col("id").desc).write.format("noop").mode("overwrite").save()
    assert(obs.get("lineage") == null, "the collision was dropped, not poisoned")

    // the write of `routed` that delivered it takes the counted fallback
    val seqs = Corpus.sequences(spark, 2000, seed = 11L)
    val result = Pipeline.run(seqs, Configs.flagship, None, clock)
    val out = tmp()
    val fallbacks = graftshim.observedFallbacks
    Pipeline.auditObserved(obs, result.routed, s"$out/audit", 0L)
    assert(graftshim.observedFallbacks == fallbacks + 1)
    Pipeline.writeAudit(Router.route(seqs, Configs.flagship, clock), s"$out/audit-ref", 0L)
    def audit(dir: String) = spark.read.parquet(dir)
      .select("topic", "input_file", "rows", "parsed_rows", "merge_invalid_json",
        "merge_target_not_json", "topic_parse_failed", "batch_id")
      .collect().map(_.toString).sorted.toSeq
    assert(audit(s"$out/audit") == audit(s"$out/audit-ref"))
    assert(Stats.formatJson(result.stats) ==
      Stats.formatJson(Stats.statsOf(Router.route(seqs, Configs.flagship, clock))))
  }
}

object StatsSpec {
  /** the first stage a task of the collision test ran in */
  val firstStage = new java.util.concurrent.atomic.AtomicInteger(-1)
}
