package graft.hotdog

import org.scalatest.funsuite.AnyFunSuite

/** Ports the reference merge tests (src/merge.rs:140-237) and the
  * perform_merge behavior tests (src/connection.rs:365-448). */
class HotdogJsonSpec extends AnyFunSuite {
  import HotdogJson._

  private def mergeStr(a: String, b: String): String =
    serialize(merge(parseOrNull(a), parseOrNull(b)))

  private def mergeInStr(a: String, ptr: String, b: String): String =
    serialize(mergeIn(parseOrNull(a), ptr, parseOrNull(b)))

  test("it_should_merge_array_string (merge.rs:144-149)") {
    assert(mergeStr("""["a","b"]""", """["b","c"]""") == """["a","b","c"]""")
  }

  test("it_should_merge_array_object (merge.rs:151-161)") {
    assert(mergeStr("""[{"value":"a"},{"value":"b"}]""", """[{"value":"b"},{"value":"c"}]""")
      == """[{"value":"a"},{"value":"b"},{"value":"c"}]""")
  }

  test("it_should_merge_object (merge.rs:163-173)") {
    assert(mergeStr("""{"value1":"a","value2":"b"}""", """{"value1":"a","value2":"c","value3":"d"}""")
      == """{"value1":"a","value2":"c","value3":"d"}""")
  }

  test("it_should_merge_string (merge.rs:175-180)") {
    assert(mergeStr("\"a\"", "\"b\"") == "\"b\"")
  }

  test("dedup removes only CONSECUTIVE duplicates (Vec::dedup)") {
    assert(mergeStr("""["a","b"]""", """["a","c"]""") == """["a","b","a","c"]""")
    assert(mergeStr("""["a"]""", """["a","a","b","a"]""") == """["a","b","a"]""")
  }

  test("array ⊕ object pushes then dedups") {
    assert(mergeStr("""[{"a":1}]""", """{"a":1}""") == """[{"a":1}]""")
    assert(mergeStr("""[{"a":1}]""", """{"b":2}""") == """[{"a":1},{"b":2}]""")
  }

  test("scalar ⊕ object / object ⊕ scalar: RHS overwrites") {
    assert(mergeStr("1", """{"a":1}""") == """{"a":1}""")
    assert(mergeStr("""{"a":1}""", "1") == "1")
  }

  test("nested object recursive merge + key sorting") {
    assert(mergeStr("""{"z":1,"meta":{"topic":"t"}}""", """{"meta":{"hotdog":{"v":"1"}}}""")
      == """{"meta":{"hotdog":{"v":"1"},"topic":"t"},"z":1}""")
  }

  test("merge_with_empty (connection.rs:365-377)") {
    assert(performMerge("{}", "{}") == "{}")
  }

  test("merge_with_non_object returns original buffer (connection.rs:383-395)") {
    assert(performMerge("{}", "[1]") == "{}")
  }

  test("merge_without_json_buffer errors → null (connection.rs:400-413)") {
    assert(performMerge("invalid", "{}") == null)
  }

  test("merge_with_json_buffer (connection.rs:418-430)") {
    assert(performMerge("{}", """{"hello":1}""") == """{"hello":1}""")
  }

  test("merge_with_json_buffer_and_vars (connection.rs:435-448)") {
    val t = config.parseTemplate("""{"hello":"{{name}}"}""")
    val rendered = t.renderString(Map("name" -> "world"))
    assert(performMerge("{}", rendered) == """{"hello":"world"}""")
  }

  test("it_should_merge_an_array_in_a_specifique_field_path (merge.rs:182-188)") {
    assert(mergeInStr("""{"my_array":[{"a":"t"}]}""", "/my_array", """["b","c"]""")
      == """{"my_array":[{"a":"t"},"b","c"]}""")
  }

  test("it_should_merge_an_object_in_a_specifique_field_path (merge.rs:190-196)") {
    assert(mergeInStr("""{"my_array":[{"a":"t"}]}""", "/my_array", """{"b":"c"}""")
      == """{"my_array":[{"a":"t"},{"b":"c"}]}""")
  }

  test("it_should_merge_in_an_object_in_specifique_path_position (merge.rs:198-204)") {
    assert(mergeInStr("""{"my_array":[{"a":"t"}]}""", "/my_array/0", """{"b":"c"}""")
      == """{"my_array":[{"a":"t","b":"c"}]}""")
  }

  test("it_should_merge_an_array_in_specifique_path_position (merge.rs:206-212)") {
    assert(mergeInStr("""{"my_array":[{"a":"t"}]}""", "/my_array/1", """{"b":"c"}""")
      == """{"my_array":[{"a":"t"},{"b":"c"}]}""")
  }

  test("it_should_build_new_object (merge.rs:214-224)") {
    // Value::default() is null; three merge_ins build the object up
    var v = parseOrNull("null")
    v = mergeIn(v, "/field", parseOrNull("\"value\""))
    v = mergeIn(v, "/object", parseOrNull("{}"))
    v = mergeIn(v, "/array", parseOrNull("[]"))
    assert(serialize(v) == """{"array":[],"field":"value","object":{}}""")
  }

  test("it_should_merge_in_root_array (merge.rs:226-231)") {
    assert(mergeInStr("""["value"]""", "/", """["new_value"]""")
      == """["value","new_value"]""")
  }

  test("it_should_merge_in_root_object (merge.rs:233-240)") {
    assert(mergeInStr("""{"field":"value"}""", "/", """{"field2":"value2"}""")
      == """{"field":"value","field2":"value2"}""")
  }

  test("merge_in: deep-merge nested path (merge.rs:47-56 doc example)") {
    assert(mergeInStr("""{"my_array":[{"a":"t"}]}""", "/my_array/0/a", """{"b":"c"}""")
      == """{"my_array":[{"a":{"b":"c"}}]}""")
  }

  test("merge_in quirks: missing steps materialize via the plain merge rules") {
    // missing object step: scaffold {"b": null} then retry
    assert(mergeInStr("""{"a":1}""", "/b/c", """{"x":2}""")
      == """{"a":1,"b":{"c":{"x":2}}}""")
    // numeric step under an OBJECT root: the [null] scaffold hits the
    // object ⊕ array overwrite arm — the whole object is REPLACED
    assert(mergeInStr("""{"a":1}""", "/0", "\"v\"") == """["v"]""")
    // adjacent index on an array root appends (null scaffold then merge)
    assert(mergeInStr("""[1]""", "/1", "\"v\"") == """[1,"v"]""")
    // RFC 6901 unescape in resolvable steps (~1 → '/', ~0 → '~')
    assert(mergeInStr("""{"a/b":{"x":1}}""", "/a~1b", """{"y":2}""")
      == """{"a/b":{"x":1,"y":2}}""")
    // unmaterializable pointer (index far past the end: [null] scaffold
    // dedups with itself forever): the reference recurses infinitely —
    // we fail fast instead
    assertThrows[IllegalArgumentException](
      mergeIn(parseOrNull("[]"), "/5", parseOrNull("1")))
  }

  test("json_hotdog_merge_in SQL function") {
    val spark = SparkSpec.spark
    Functions.registerAll(spark)
    val out = spark.sql(
      """SELECT json_hotdog_merge_in('{"my_array":[{"a":"t"}]}', '/my_array', '{"b":"c"}') AS m,
        |       json_hotdog_merge_in('not json', '/', '{}') AS bad,
        |       json_hotdog_merge_in('[]', '/5', '1') AS unmat""".stripMargin).head()
    assert(out.getString(0) == """{"my_array":[{"a":"t"},{"b":"c"}]}""")
    assert(out.isNullAt(1))
    assert(out.isNullAt(2))
  }

  test("serialization: compact, keys sorted, serde-style escapes") {
    assert(serialize(parseOrNull("""{ "b" : [1, 2],  "a": "x\ny" }"""))
      == "{\"a\":\"x\\ny\",\"b\":[1,2]}")
    assert(serialize(parseOrNull("""{"k":"césar"}""")) == """{"k":"césar"}""")
  }

  test("JmesPathEval over a DataFrame") {
    val spark = SparkSpec.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      """{"meta":{"topic":"test"}}""",
      """{"meta":{"topic":7}}""",
      """{"meta":{}}""",
      """not json""",
      """{"meta":null}""").toDF("j")
    val jm = exprs.jmespathEval(col("j"), lit("meta.topic"))
    val out = df.select(jm.getField("matched").as("m"), jm.getField("value").as("v")).collect()
    assert(out(0).getBoolean(0) && out(0).getString(1) == "test")
    assert(out(1).getBoolean(0) && out(1).isNullAt(1)) // non-string result: matched, no value
    assert(!out(2).getBoolean(0))
    assert(!out(3).getBoolean(0))
    assert(!out(4).getBoolean(0))
  }
}
