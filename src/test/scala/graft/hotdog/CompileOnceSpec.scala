package graft.hotdog

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import java.nio.file.Files

/** The route → sink path compiles each generated class once per process:
  * a later job, micro-batch or stream start finds its classes in Spark's
  * codegen cache and runs the code the JIT has already compiled. Compiles
  * are counted by `graft.Trace`'s recorder. */
class CompileOnceSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark

  private def corpus(rows: Int, seed: Long): String = {
    val d = Files.createTempDirectory("graft-compile-once").toString + "/in"
    Corpus.sequences(spark, rows, seed).repartition(4).write.parquet(d)
    d
  }

  /** Two `Main`-shaped jobs over the same input, batch ids 1 then 2: the
    * output root and the classes each job compiled. */
  private lazy val twoJobs: (String, Seq[Long]) = {
    val in = corpus(3000, 23L)
    val out = Files.createTempDirectory("graft-compile-once").toString
    val rec = graft.Trace.install(spark)
    try {
      val compiles = Seq(1L, 2L).map { b =>
        rec.take(spark)
        val result = Pipeline.run(Main.input(spark, Some(in), 0L, out), Configs.flagship,
          Some(Corpus.sourceDim(spark)))
        val micros = Pipeline.writeBatch(result.routed, s"$out/routed", s"$out/audit", b)
        Stats.formatJson(Stats.withSentTimer(result.stats, micros))
        rec.take(spark).compiles
      }
      (out, compiles)
    } finally graft.Trace.uninstall(spark)
  }

  test("the second Main-shaped job compiles nothing: no batch id in the generated code") {
    val Seq(first, second) = twoJobs._2
    assert(second == 0, s"batch 2 compiled $second classes (batch 1: $first)")
  }

  test("the sink and the audit keep their batch_id=<n>/topic=<t>/ layout and read-back schema") {
    val out = twoJobs._1
    def dirs(d: String): Set[String] =
      Option(new java.io.File(d).list()).fold(Set.empty[String])(_.toSet.filterNot(_.startsWith(".")))
    val batches = Set("batch_id=1", "batch_id=2")
    assert(dirs(s"$out/routed") - "_SUCCESS" == batches)
    assert(dirs(s"$out/audit") - "_SUCCESS" == batches)
    val sink = spark.read.parquet(s"$out/routed")
    val topics = sink.select("topic").distinct().collect().map(_.getString(0)).toSet
    assert(topics.size > 1, topics)
    for (b <- batches)
      assert(dirs(s"$out/routed/$b").filter(_.startsWith("topic=")) == topics.map("topic=" + _))

    def fields(s: StructType) = s.fields.map(f => f.name -> f.dataType).toSeq
    assert(fields(sink.schema) == Seq("doc_id" -> StringType, "source" -> StringType,
      "output" -> StringType, "batch_id" -> IntegerType, "topic" -> StringType))
    assert(fields(spark.read.parquet(s"$out/audit").schema) == Seq("topic" -> StringType,
      "input_file" -> StringType, "rows" -> LongType, "parsed_rows" -> LongType,
      "merge_invalid_json" -> LongType, "merge_target_not_json" -> LongType,
      "topic_parse_failed" -> LongType, "completed_at" -> TimestampType,
      "batch_id" -> IntegerType))
    assert(Pipeline.completedBatches(spark, s"$out/audit") == Set(1L, 2L))
  }

  test("a second routeStream drain of the same input compiles nothing") {
    val in = corpus(3000, 29L)
    val tmp = Files.createTempDirectory("graft-compile-once-stream").toString
    val rec = graft.Trace.install(spark)
    try {
      val Seq(first, second) = Seq(1, 2).map { i =>
        rec.take(spark)
        Streaming.routeStream(spark, in, Configs.flagship, s"$tmp/out$i", s"$tmp/ckpt$i",
          maxFilesPerTrigger = 2).awaitTermination()
        val w = rec.take(spark)
        assert(w.batches.size == 2, w.batches)
        w.compiles
      }
      assert(second == 0, s"drain 2 compiled $second classes (drain 1: $first)")
    } finally graft.Trace.uninstall(spark)
  }

  test("routeStream puts the session's artifact isolation back as it found it") {
    val k = Streaming.ArtifactIsolation
    val found = spark.conf.getAll.get(k)
    val in = corpus(500, 31L)
    val tmp = Files.createTempDirectory("graft-isolation").toString
    var n = 0
    def drain(checkpoint: Option[String] = None): Unit = {
      n += 1
      Streaming.routeStream(spark, in, Configs.flagship, s"$tmp/out$n",
        checkpoint.getOrElse(s"$tmp/ckpt$n")).awaitTermination()
    }
    try {
      for (set <- Seq(None, Some("true"))) {
        set.fold(spark.conf.unset(k))(spark.conf.set(k, _))
        drain()
        assert(spark.conf.getAll.get(k) == set, "after a drain")
        // an empty checkpoint path is not a path: `start()` throws
        intercept[IllegalArgumentException](drain(Some("")))
        assert(spark.conf.getAll.get(k) == set, "after a start that threw")
      }
    } finally found.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }
}
