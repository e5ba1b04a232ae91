package graft.hotdog

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim
import java.nio.file.Files

/** Physical-plan assertions — the structural properties that make the
  * pipeline scale (SURVEY §4): whole-stage codegen, column pruning,
  * predicate pushdown, broadcast joins, shuffle inventory. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark

  lazy val corpusDir: String = {
    val d = Files.createTempDirectory("graft-plan").toString + "/seq"
    Corpus.sequences(spark, 2000, seed = 5L).write.parquet(d)
    d
  }

  test("router is one whole-stage-codegen stage over the scan (no shuffle)") {
    val plan = Router.route(spark.read.parquet(corpusDir), Configs.flagship)
      .queryExecution.executedPlan
    val s = plan.toString
    assert(!s.contains("Exchange"), s"unexpected shuffle:\n$s")
    // exactly one whole-stage-codegen subtree: every Project carries the
    // same `*(1)` codegen id (a `Project` without `*` = interpreted)
    val ids = "\\*\\((\\d+)\\)".r.findAllMatchIn(s).map(_.group(1)).toSet
    assert(ids == Set("1"), s"expected one codegen stage, got ids=$ids:\n$s")
    val bareProjects = s.linesIterator
      .filter(l => l.contains("Project [") && !l.contains("*("))
    assert(bareProjects.isEmpty,
      s"interpreted Project(s):\n${bareProjects.mkString("\n")}")
  }

  test("column pruning reaches the parquet scan for topic counts") {
    val counts = Router.route(spark.read.parquet(corpusDir), Configs.flagship)
      .groupBy("topic").count()
    val s = counts.queryExecution.executedPlan.toString
    // only `tokens` is needed to compute the topic; doc_id/n_tok/source pruned
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("tokens"), readSchema)
    assert(!readSchema.contains("doc_id"), s"doc_id not pruned: $readSchema")
    assert(!readSchema.contains("n_tok"), s"n_tok not pruned: $readSchema")
  }

  test("predicate on source is pushed down to the scan") {
    val q = Router.decoded(spark.read.parquet(corpusDir))
      .filter(col("source") === "src-hot")
    val s = q.queryExecution.executedPlan.toString
    assert(s.contains("PushedFilters: [IsNotNull(source), EqualTo(source,src-hot)]"),
      s.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("enrich join is a broadcast hash join (no shuffle of the fact side)") {
    val dim = Corpus.sourceDim(spark)
    val routed = Pipeline.run(spark.read.parquet(corpusDir), Configs.flagship,
      dim = Some(dim)).routed
    val s = routed.queryExecution.executedPlan.toString
    assert(s.contains("BroadcastHashJoin"), s)
    assert(!s.contains("SortMergeJoin"), s)
  }

  test("stats is a single aggregation over the data (partial + final)") {
    val per = Stats.perTopicAgg(Router.route(spark.read.parquet(corpusDir), Configs.flagship))
    val s = per.queryExecution.executedPlan.toString
    // exactly ONE shuffle reads the full corpus: the groupBy(topic) with
    // map-side partial agg; the ≤(#topics+1)-row result is then reshaped
    // driver-side (statsOf), so nothing else ever rescans the data
    assert(s.contains("HashAggregate"))
    assert(s.split("Exchange", -1).length - 1 == 1, s"expected exactly 1 shuffle:\n$s")
    val stats = Stats.statsOf(Router.route(spark.read.parquet(corpusDir), Configs.flagship))
    assert(stats.queryExecution.executedPlan.toString.contains("LocalTableScan"))
  }

  test("audit lineage: per (topic, input_file) provenance sums to the routed counts") {
    val tmp = Files.createTempDirectory("graft-lineage").toString
    Corpus.sequences(spark, 2000, seed = 13L).repartition(4)
      .write.mode("overwrite").parquet(s"$tmp/in")
    val routed = Router.route(spark.read.parquet(s"$tmp/in"), Configs.flagship)
    Pipeline.writeAudit(routed, s"$tmp/audit", batchId = 7L)
    val audit = spark.read.parquet(s"$tmp/audit")
    // file-level provenance: multiple input files per topic recorded
    assert(audit.select("input_file").distinct().count() >= 4)
    assert(audit.filter(col("input_file") === "").count() == 0)
    // lineage rows sum back to the routed totals per topic
    val fromAudit = audit.groupBy("topic").agg(sum("rows").as("n"))
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val want = routed.groupBy("topic").count()
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(fromAudit == want)
  }

  test("observed single-pass audit ≡ the DataFrame aggregation, and the sink matches") {
    val tmp = Files.createTempDirectory("graft-obsaudit").toString
    Corpus.sequences(spark, 2000, seed = 17L).repartition(4)
      .write.mode("overwrite").parquet(s"$tmp/in")
    // fixed {{iso8601}} clock: the two writes must render identical output
    def routed = Router.route(spark.read.parquet(s"$tmp/in"), Configs.flagship,
      clock = lit("2024-01-01T00:00:00.000000+00:00"))
    def auditRows(dir: String) = spark.read.parquet(dir)
      .select("topic", "input_file", "rows", "parsed_rows",
        "merge_invalid_json", "merge_target_not_json", "topic_parse_failed", "batch_id")
      .collect().map(r => (Option(r.getString(0)), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // single pass: the audit is observed on the sink write
    Pipeline.writeBatch(routed, s"$tmp/out-obs", s"$tmp/audit-obs", 3L)
    // reference: two passes — the fan-out write, then the DataFrame
    // aggregation audit over a second evaluation of the cascade
    Pipeline.writeFanOut(routed, s"$tmp/out-ref", 3L)
    Pipeline.writeAudit(routed, s"$tmp/audit-ref", 3L)
    val obs = auditRows(s"$tmp/audit-obs")
    val ref = auditRows(s"$tmp/audit-ref")
    assert(obs == ref, s"observed audit != recomputed audit\nobs=$obs\nref=$ref")
    // audit covers null-topic (unrouted) rows too
    assert(obs.keys.exists(_._1.isEmpty))
    // file-level provenance survives the single pass
    assert(obs.keys.map(_._2).toSet.size >= 4)
    // and the sinks are row-identical
    val a = spark.read.parquet(s"$tmp/out-obs")
      .select("doc_id", "topic", "output").collect().map(_.toString).sorted
    val b = spark.read.parquet(s"$tmp/out-ref")
      .select("doc_id", "topic", "output").collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("one pass per Main batch: /stats from the sink write's slots, an audit with no shuffle") {
    val tmp = Files.createTempDirectory("graft-onepass").toString
    val clock = lit("2024-01-01T00:00:00.000000+00:00")
    def seqs = spark.read.parquet(corpusDir)
    val dim = Corpus.sourceDim(spark)
    def json(stats: org.apache.spark.sql.DataFrame) =
      Stats.formatJson(Stats.withSentTimer(stats, 42L))
    val want = json(Stats.statsOf(Router.route(seqs, Configs.flagship, clock)))
    val rec = graft.Trace.install(spark)
    try {
      val fallbacks = graftshim.observedFallbacks
      val result = Pipeline.run(seqs, Configs.flagship, Some(dim), clock)
      rec.take(spark)
      Pipeline.writeBatch(result.routed, s"$tmp/routed", s"$tmp/audit", 1L)
      val written = rec.take(spark)
      val got = json(result.stats)
      assert(rec.take(spark).jobs == 0, "result.stats started Spark jobs")
      assert(got == want)
      assert(graftshim.observedFallbacks == fallbacks, "writeBatch took its recompute fallback")
      info(s"writeBatch: ${written.jobs} Spark jobs; stages: " +
        written.stages.map(st => s"${st.name} (${st.tasks} tasks)").mkString("; "))

      val writes = written.plans.filter(_.operators.exists(_.name.endsWith("InsertIntoHadoopFsRelationCommand")))
      assert(writes.size == 2, s"expected the sink and the audit write: $writes")
      def exchanges(p: graft.Trace.Plan) = p.operators.map(_.name).filter(_.contains("Exchange"))
      val Seq(sink, audit) = writes
      assert(exchanges(sink).nonEmpty, sink) // the sink repartitions: the check sees a shuffle
      assert(exchanges(audit).isEmpty, s"audit write shuffles: ${audit.operators.map(_.name)}")

      // with no write before it, `stats` is statsOf at once: no wait
      val unwritten = Pipeline.run(seqs, Configs.flagship, Some(dim), clock)
      val t0 = System.nanoTime()
      assert(json(unwritten.stats) == want)
      assert((System.nanoTime() - t0) / 1e9 < graftshim.ObservedWaitSeconds)
      assert(graftshim.observedFallbacks == fallbacks)
    } finally graft.Trace.uninstall(spark)
  }

  test("resumable batches: completed batch_ids are skipped") {
    val tmp = Files.createTempDirectory("graft-resume").toString
    val seqs1 = Corpus.sequences(spark, 500, seed = 1L)
    val seqs2 = Corpus.sequences(spark, 500, seed = 2L)
    val batches = Map(1L -> seqs1, 2L -> seqs2)
    val ran1 = Pipeline.runResumable(spark, Configs.flagship, batches,
      s"$tmp/out", s"$tmp/audit")
    assert(ran1 == Seq(1L, 2L))
    // second invocation: nothing to do
    val ran2 = Pipeline.runResumable(spark, Configs.flagship, batches,
      s"$tmp/out", s"$tmp/audit")
    assert(ran2.isEmpty)
    // add a third batch: only it runs
    val ran3 = Pipeline.runResumable(spark, Configs.flagship,
      batches + (3L -> Corpus.sequences(spark, 500, seed = 3L)),
      s"$tmp/out", s"$tmp/audit")
    assert(ran3 == Seq(3L))
    // no duplicates in the sink
    val n = spark.read.parquet(s"$tmp/out").count()
    val expect = Seq(seqs1, seqs2, Corpus.sequences(spark, 500, seed = 3L))
      .map(d => Router.route(d, Configs.flagship)
        .filter(col("topic").isNotNull).count()).sum
    assert(n == expect)
  }

  test("Main without --input: every generated method of the sink stage is JIT-compilable") {
    // HotSpot never compiles a method over HugeMethodLimit (8,000 B of
    // bytecode): with the corpus generated in the plan, generation, parse,
    // route and enrich fused into one 13.6 KB method that ran interpreted
    val out = Files.createTempDirectory("graft-main").toString
    val sizes = Pipeline.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val seqs = Main.input(spark, None, 2000, out)
      val sink = Pipeline.emittedOnly(
        Pipeline.run(seqs, Configs.flagship, Some(Corpus.sourceDim(spark))).routed)
        .repartition(col("topic"))
      sink.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
          org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
            .compile(w.doCodeGen()._2)._2.maxMethodCodeSize
      }
    }
    info(s"largest generated method per codegen stage: ${sizes.mkString(", ")} B")
    assert(sizes.nonEmpty && sizes.max < 8000, s"largest generated methods: $sizes")
  }

  test("Main.input reads a given corpus with the known schema: no footer-scan job") {
    val dir = corpusDir
    val rec = graft.Trace.install(spark)
    try {
      rec.take(spark)
      val seqs = Main.input(spark, Some(dir), 0L, "unused")
      assert(rec.take(spark).jobs == 0, "Main.input started a Spark job")
      assert(seqs.schema == spark.read.parquet(dir).schema)
    } finally graft.Trace.uninstall(spark)
  }
}
