package graft.hotdog

import org.scalatest.funsuite.AnyFunSuite

/** SQL-surface registration + salting behavior. */
class FunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark

  test("custom expressions are SQL-callable after registerAll") {
    Functions.registerAll(spark)
    import spark.implicits._
    Seq(("<13>1 2020-04-18T15:16:09Z coconut tyler - - - hi", 3))
      .toDF("line", "k").createOrReplaceTempView("fx")
    val r = spark.sql(
      """SELECT syslog_parse(line).msg AS msg,
        |  syslog_parse(line).severity AS sev,
        |  codepoints_to_string(string_to_codepoints(line)) = line AS rt,
        |  handlebars_escape('a<b') AS esc,
        |  jmespath_eval('{"meta":{"topic":"t"}}', 'meta.topic').value AS v,
        |  json_hotdog_merge('{"b":1}', '{"a":2}') AS m,
        |  simhash64(array('x','y')) IS NOT NULL AS sh,
        |  size(minhash_sig(array('x','y'), 8)) AS mh,
        |  cosine_sim_f(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS cs,
        |  hyperplane_sig(array(1.0F, -1.0F), 16) IS NOT NULL AS hs,
        |  size(minhash_bands(minhash_sig(array('x','y'), 8), 4)) AS mb,
        |  word_shingles('The quick  fox', 2) AS wsh,
        |  regex_captures('ab', '(a)(?<g>b)', 2) AS rc,
        |  bloom_might_contain(array(-1L, -1L), xxhash64('k'), 8) AS bmc1,
        |  bloom_might_contain(array(0L, 0L), xxhash64('k'), 8) AS bmc0
        |FROM fx""".stripMargin).collect()(0)
    assert(r.getString(0) == "hi")
    assert(r.getString(1) == "notice")
    assert(r.getBoolean(2))
    assert(r.getString(3) == "a&lt;b")
    assert(r.getString(4) == "t")
    assert(r.getString(5) == """{"a":2,"b":1}""")
    assert(r.getBoolean(6))
    assert(r.getInt(7) == 8)
    assert(r.getDouble(8) == 1.0)
    assert(r.getBoolean(9))
    assert(r.getInt(10) == 4)
    assert(r.getSeq[String](11) == Seq("the quick", "quick fox"))
    val rc = r.getStruct(12)
    assert(rc.getBoolean(0) && rc.getSeq[String](1) == Seq("b"))
    assert(r.getBoolean(13) && !r.getBoolean(14))
  }

  test("an unaliased SQL call of a registered function is named by its SQL name") {
    Functions.registerAll(spark)
    val cols = spark.sql("SELECT json_valid('{}'), simhash64('a b')").columns
    assert(cols.toSeq == Seq("json_valid({})", "simhash64(a b)"), cols.mkString(", "))
  }

  test("json_valid: serde_json acceptance; merge of invalid RENDERED template fails the task") {
    Functions.registerAll(spark)
    val r = spark.sql(
      """SELECT json_valid('{"a":1}') AS ok,
        |  json_valid('{"a":1} tail') AS trailing,
        |  json_valid('1e999') AS nonfinite,
        |  json_valid('hello') AS text,
        |  json_valid(CAST(NULL AS STRING)) AS nul""".stripMargin).collect()(0)
    assert(r.getBoolean(0) && !r.getBoolean(1) && !r.getBoolean(2) &&
      !r.getBoolean(3) && !r.getBoolean(4))
    // invalid rendered merge template = the reference's unwrap panic
    // (connection.rs:331), NOT a null that would miscount as
    // error.merge_of_invalid_json
    val ex = intercept[Exception](
      spark.sql("""SELECT json_hotdog_merge('{"a":1}', '{bad')""").collect())
    assert(ex.getMessage.contains("invalid JSON") ||
      Option(ex.getCause).exists(_.getMessage.contains("invalid JSON")))
  }

  test("fan-out salting spreads a hot topic over multiple files") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-salt").toString
    // everything routes to logs-unknown (one hot topic) via simple config
    val cfg = config.fromYamlString(Configs.simplePlaintext)
    val seqs = Corpus.sequences(spark, 20000, seed = 23L)
    val routed = Router.route(seqs, cfg)
    // at test scale AQE (rightly) coalesces the tiny salt partitions back
    // together; disable it here to observe the raw salting fan-out that
    // takes effect when partitions are production-sized
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Pipeline.writeFanOut(routed, tmp, 0L, saltBuckets = 4)
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val files = new java.io.File(s"$tmp/batch_id=0/topic=logs-unknown")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files >= 2, s"hot topic written by a single task: $files file(s)")
  }

  test("kafkaFrame is the reference KafkaMessage shape") {
    val seqs = Corpus.sequences(spark, 1000, seed = 29L)
    val kf = Pipeline.kafkaFrame(Router.route(seqs, Configs.flagship))
    assert(kf.columns.toSeq == Seq("topic", "value"))
    assert(kf.count() > 0)
  }

  test("testModeFile: E2 golden output from a real log file") {
    val f = java.nio.file.Files.createTempFile("example", ".log")
    java.nio.file.Files.writeString(f,
      """hello there
        |This is a somewhat longer line of logs?
        |This is a MUCH longer log line and it should not be truncated, hopefully
        |{"this": "is some JSON data", "which": "should also be transmitted properly", "meta" : {"topic" : "test"}}
        |""".stripMargin)
    val got = Router.testModeFile(spark, f.toString, Configs.flagship)
      .orderBy("line_no").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toList))
    assert(got(0) == (1L, List("Regex: ^hello\\s+(?P<name>\\w+)?", "Regex: .*")))
    assert(got(1) == (2L, List("Regex: .*")))
    assert(got(2) == (3L, List("Regex: .*")))
    assert(got(3) == (4L, List("JMESPath: meta.topic", "Regex: .*")))
  }

  test("typed Dataset API: route SyslogSequence -> RoutedRow") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ds = Corpus.sequences(spark, 500, seed = 31L).as[model.SyslogSequence]
    val routed = Pipeline.routeTyped(ds, Configs.flagship)
    val rows = routed.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.topic != null && r.output != null))
    // token-array equality invariant holds on the typed surface too
    val orig = ds.collect().map(r => r.doc_id -> r.tokens.toSeq).toMap
    rows.take(50).foreach(r => assert(r.tokens.toSeq == orig(r.doc_id)))
  }

  test("rolling fingerprint: deterministic, normalization-invariant") {
    import spark.implicits._
    val df = Seq("the quick  Brown fox", "THE quick brown FOX ").toDF("text")
    val fps = df.select(graft.ops.TextAnalysis.rollingFingerprint($"text"))
      .collect().map(_.getLong(0))
    assert(fps(0) == fps(1))
    assert(fps(0) >= 0 && fps(0) < 1000000007L)
  }
}
