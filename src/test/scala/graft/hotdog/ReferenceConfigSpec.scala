package graft.hotdog

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import graft.hotdog.config.{AForward, AMerge, AReplace, AStop}

/** The reference's own config files, as embedded in [[Configs]], through
  * our file loader — proves a reference user's YAML works unmodified. Only
  * the byte comparison of each embedded copy against the reference checkout
  * needs that checkout; without it the comparison is reported as skipped. */
class ReferenceConfigSpec extends AnyFunSuite {
  private val refDir = "/root/reference"

  /** the embedded copy `embedded` of reference file `rel` is byte-identical
    * to it; `excerpt`: the file holds other settings around it */
  private def sameAsReference(rel: String, embedded: String, excerpt: Boolean = false): Unit = {
    val f = Paths.get(refDir, rel)
    if (!Files.exists(f)) info(s"$f absent: byte comparison skipped")
    else {
      val text = new String(Files.readAllBytes(f), UTF_8)
      assert(if (excerpt) text.contains(embedded) else text == embedded, rel)
    }
  }

  /** `yaml` written to a file and read back by [[config.load]] */
  private def loadFile(yaml: String): config.HotdogConfig = {
    val f = Files.createTempFile("hotdog", ".yml")
    try { Files.writeString(f, yaml); config.load(f.toString) }
    finally Files.delete(f)
  }

  test("reference hotdog.yml: three rules of the reference's shapes") {
    val cfg = loadFile(Configs.hotdogYml)
    assert(cfg.rules.map(_.display) == Seq(
      """Regex: ^hello\s+(?P<name>\w+)?""", "JMESPath: meta.topic", "Regex: .*"))
    assert(cfg.rules.forall(_.field == "msg"))
    def kinds(i: Int) = cfg.rules(i).actions.map {
      case _: AReplace => "replace"
      case _: AMerge => "merge"
      case _: AForward => "forward"
      case AStop => "stop"
    }
    assert(kinds(0) == Seq("replace", "forward", "stop"))
    assert(kinds(1) == Seq("merge", "forward", "stop"))
    assert(kinds(2) == Seq("forward", "stop"))
    assert(cfg.rules(0).regex.get.namedGroups == Seq("name"))
    assert(cfg.rules.map(_.uuid).distinct.size == 3)
    // the rules section, lines 26-68 of the reference file
    sameAsReference("hotdog.yml", Configs.hotdogYml, excerpt = true)
  }

  test("all reference test/configs fixtures load (or fail) as the reference does") {
    val merge = loadFile(Configs.singleRuleWithMerge).rules
    assert(merge.map(_.display) == Seq("JMESPath: meta.topic"))
    assert(merge.head.actions.map(_.getClass) == Seq(classOf[AMerge]))
    val replace = loadFile(Configs.singleRuleWithReplace).rules
    assert(replace.map(_.display) == Seq("""Regex: ^hello\s+(?P<name>\w+)?"""))
    assert(replace.head.actions.map(_.getClass) == Seq(classOf[AReplace]))
    val host = loadFile(Configs.singleRuleWithHostnameField).rules
    assert(host.map(_.display) == Seq("Regex: ^coconut$", "Regex: .*"))
    assert(host.forall(_.field == "hostname"))
    assert(host.forall(_.actions.map(_.getClass) == Seq(classOf[AReplace], classOf[AForward])))
    assertThrows[IllegalArgumentException](loadFile(Configs.singleRuleWithInvalidJmespath))
    val plain = loadFile(Configs.simplePlaintext).rules
    assert(plain.map(_.display) == Seq("Regex: .*"))
    assert(plain.head.actions.map(_.getClass) == Seq(classOf[AForward], AStop.getClass))
    Seq(
      "test/configs/single-rule-with-merge.yml" -> Configs.singleRuleWithMerge,
      "test/configs/single-rule-with-replace.yml" -> Configs.singleRuleWithReplace,
      "test/configs/single-rule-with-hostname-field.yml" -> Configs.singleRuleWithHostnameField,
      "test/configs/single-rule-with-invalid-jmespath.yml" -> Configs.singleRuleWithInvalidJmespath,
      "examples/simple-plaintext/hotdog.yml" -> Configs.simplePlaintext
    ).foreach { case (rel, embedded) => sameAsReference(rel, embedded) }
  }

  test("reference example.log through test-mode matches README golden output") {
    val spark = SparkSpec.spark
    // example.log, the four lines of README.adoc's test-mode example
    val log = Files.createTempFile("example", ".log")
    Files.writeString(log,
      """hello there
        |This is a somewhat longer line of logs?
        |This is a MUCH longer log line and it should not be truncated, hopefully
        |{"this": "is some JSON data", "which": "should also be transmitted properly", "meta" : {"topic" : "test"}}
        |""".stripMargin)
    val got = try Router.testModeFile(spark, log.toString, loadFile(Configs.hotdogYml))
      .orderBy("line_no").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toList))
    finally Files.delete(log)
    assert(got.toList == List(
      (1L, List("Regex: ^hello\\s+(?P<name>\\w+)?", "Regex: .*")),
      (2L, List("Regex: .*")),
      (3L, List("Regex: .*")),
      (4L, List("JMESPath: meta.topic", "Regex: .*"))))
  }
}
