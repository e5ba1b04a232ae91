package graft.hotdog

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode, JsonNodeFactory}
import org.apache.spark.unsafe.types.UTF8String

/** hotdog's JSON deep-merge semantics (reference src/merge.rs:69-88, itself
  * vendored from json_value_merge, MIT) plus serde_json-compatible
  * serialization:
  *
  *  - object ⊕ object  → per-key recursive merge (insert-or-recurse)
  *  - array  ⊕ array   → extend, then Vec::dedup (removes only CONSECUTIVE
  *                       duplicate elements)
  *  - array  ⊕ object  → push object, then dedup
  *  - _      ⊕ _       → RHS overwrites
  *
  * Serialization parity: the reference's serde_json 1.0.96 is built WITHOUT
  * `preserve_order` (Cargo.lock), so `Map<String, Value>` is a BTreeMap —
  * object keys serialize sorted ascending; output is compact (no spaces).
  */
object HotdogJson {
  private val mapper = {
    val m = new ObjectMapper()
    // serde_json::from_str rejects trailing content after the JSON document
    // ('{"a":1} tail' is a parse error, reference src/connection.rs:331 via
    // merge.rs); jackson's readTree would silently stop at the value end.
    m.configure(
      com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_TRAILING_TOKENS,
      true)
    m
  }

  /** cheap reject before paying for a jackson parse (and its exception):
    * every valid JSON document starts (after whitespace) with one of these. */
  private def plausibleJsonStart(s: String): Boolean = {
    var i = 0
    while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\t' ||
        s.charAt(i) == '\n' || s.charAt(i) == '\r')) i += 1
    if (i >= s.length) return false
    val c = s.charAt(i)
    c == '{' || c == '[' || c == '"' || c == '-' || (c >= '0' && c <= '9') ||
      c == 't' || c == 'f' || c == 'n'
  }

  /** Parse or null (mirrors serde_json::from_str Err). */
  def parseOrNull(s: String): JsonNode = {
    if (!plausibleJsonStart(s)) return null
    try {
      val n = mapper.readTree(s)
      // jackson readTree of empty input returns MissingNode
      if (n == null || n.isMissingNode || hasNonFinite(n)) null else n
    } catch { case _: Exception => null }
  }

  /** serde_json has no representation for non-finite numbers: '1e999'
    * overflows f64 and from_str fails. Jackson parses it to
    * DoubleNode(Infinity), so reject those trees (parse failure). */
  private def hasNonFinite(n: JsonNode): Boolean = {
    if (n.isFloatingPointNumber) {
      val d = n.doubleValue()
      return d.isNaN || d.isInfinite
    }
    if (n.isContainerNode) {
      val it = n.elements()
      while (it.hasNext) if (hasNonFinite(it.next())) return true
    }
    false
  }

  private def vtypeOf(n: JsonNode): String =
    if (n.isObject) "object"
    else if (n.isArray) "array"
    else if (n.isTextual) "string"
    else if (n.isNumber) "number"
    else if (n.isBoolean) "boolean"
    else "null"

  /** kernel of [[exprs.jsonFieldProfile]]: the top-level fields of a JSON
    * OBJECT document as (key, vtype) entries — vtype ∈ {object, array,
    * string, number, boolean, null}. Anything that is not a valid JSON
    * object (malformed under serde rules, a non-object root, or a null
    * input) profiles as the single marker entry ("_malformed", "-"), so
    * every input row contributes to the profile exactly once per field
    * or once as malformed — a TOTAL accounting. */
  def fieldProfile(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    def entry(k: String, t: String): Any =
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(k), UTF8String.fromString(t)))
    val n = if (s == null) null else parseOrNull(s.toString)
    if (n == null || !n.isObject)
      return new GenericArrayData(Array(entry("_malformed", "-")))
    val out = new Array[Any](n.size())
    val it = n.fields()
    var i = 0
    while (it.hasNext) {
      val f = it.next()
      out(i) = entry(f.getKey, vtypeOf(f.getValue))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** kernel of [[exprs.jsonHotdogMerge]]: null iff msg is not valid JSON. */
  def mergeEval(msg: UTF8String, rhs: UTF8String): UTF8String = {
    val out = performMerge(msg.toString, rhs.toString)
    if (out == null) null else UTF8String.fromString(out)
  }

  private val pathCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Jmes.JExpr, Boolean)]()
  private val NoMatchRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](false, null))

  /** kernel of [[exprs.jmespathEval]]: full-JMESPath search (see
    * [[Jmes]]). A rule matches iff the result is non-null (rules.rs:70-85);
    * `value` is bound only for string results; null JSON never matches.
    * Expressions whose shape provably cannot match a scalar root (the
    * common `a.b.c` chains) skip the Jackson parse for non-container lines. */
  def jmesEval(json: UTF8String, path: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    if (json == null) return NoMatchRow
    val p = path.toString
    var compiled = pathCache.get(p)
    if (compiled == null) {
      val ast = Jmes.compile(p)
      compiled = (ast, Jmes.needsContainerRoot(ast))
      pathCache.putIfAbsent(p, compiled)
    }
    val s = json.toString
    if (compiled._2) {
      var i = 0
      while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\t' ||
          s.charAt(i) == '\n' || s.charAt(i) == '\r')) i += 1
      if (i >= s.length || (s.charAt(i) != '{' && s.charAt(i) != '[')) return NoMatchRow
    }
    val root = parseOrNull(s)
    if (root == null) return NoMatchRow
    val result = Jmes.search(compiled._1, root)
    if (result.isNull) NoMatchRow
    else if (result.isTextual)
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](true, UTF8String.fromString(result.textValue())))
    else
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](true, null))
  }

  /** In-place-style merge: returns the merged tree (a may be mutated). */
  def merge(a: JsonNode, b: JsonNode): JsonNode = (a, b) match {
    case (ao: ObjectNode, bo: ObjectNode) =>
      val it = bo.fields()
      while (it.hasNext) {
        val e = it.next()
        val k = e.getKey
        val existing = ao.get(k)
        if (existing == null) {
          // insert-or-recurse: entry(k).or_insert(Null) then merge(Null, v)
          ao.set(k, merge(JsonNodeFactory.instance.nullNode(), e.getValue))
        } else {
          ao.set(k, merge(existing, e.getValue))
        }
      }
      ao
    case (aa: ArrayNode, ba: ArrayNode) =>
      val it = ba.elements()
      while (it.hasNext) aa.add(it.next())
      dedupConsecutive(aa)
      aa
    case (aa: ArrayNode, bo: ObjectNode) =>
      aa.add(bo)
      dedupConsecutive(aa)
      aa
    case (_, b2) => b2.deepCopy[JsonNode]()
  }

  /** Rust Vec::dedup — remove consecutive equal elements only. */
  private def dedupConsecutive(arr: ArrayNode): Unit = {
    var i = arr.size() - 1
    while (i > 0) {
      if (arr.get(i) == arr.get(i - 1)) arr.remove(i)
      i -= 1
    }
  }

  /** Compact serialization with object keys sorted ascending, matching
    * serde_json without preserve_order. String escaping mirrors
    * serde_json: only `"`, `\` and control chars < 0x20 are escaped
    * (non-ASCII emitted raw). */
  def serialize(n: JsonNode): String = {
    val sb = new java.lang.StringBuilder(64)
    write(n, sb)
    sb.toString
  }

  private def write(n: JsonNode, sb: java.lang.StringBuilder): Unit = {
    if (n == null || n.isNull) { sb.append("null"); return }
    if (n.isObject) {
      sb.append('{')
      val names = new java.util.ArrayList[String]()
      val it = n.fieldNames()
      while (it.hasNext) names.add(it.next())
      java.util.Collections.sort(names)
      var first = true
      val nit = names.iterator()
      while (nit.hasNext) {
        val k = nit.next()
        if (!first) sb.append(',')
        first = false
        writeString(k, sb)
        sb.append(':')
        write(n.get(k), sb)
      }
      sb.append('}')
    } else if (n.isArray) {
      sb.append('[')
      var i = 0
      while (i < n.size()) {
        if (i > 0) sb.append(',')
        write(n.get(i), sb)
        i += 1
      }
      sb.append(']')
    } else if (n.isTextual) {
      writeString(n.textValue(), sb)
    } else if (n.isBoolean) {
      sb.append(if (n.booleanValue()) "true" else "false")
    } else if (n.isIntegralNumber) {
      sb.append(n.numberValue().toString)
    } else {
      // floating point: serde_json prints f64 via ryu (shortest round-trip
      // digits, ryu::Buffer::format placement rules); Java's Double.toString
      // differs ('E' notation, different thresholds), so format explicitly
      sb.append(formatDoubleRyu(n.doubleValue()))
    }
  }

  /** serde_json/ryu-compatible f64 formatting (ryu::Buffer::format_finite):
    * shortest round-trip digits; plain decimal notation when the decimal
    * point position kk = E+1 is in (-5, 16] (always with a fractional part,
    * integers get ".0"), scientific 'd.ddde±E' otherwise (no '+', no
    * zero-padding). Examples: 1e23→"1e23", 1e15→"1000000000000000.0",
    * 1e-5→"0.00001", 1e-6→"1e-6", 123.0→"123.0". */
  def formatDoubleRyu(d: Double): String = {
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val neg = d < 0
    val a = math.abs(d)
    // shortest round-trip digits: minimal precision whose %.*e round-trips
    var p = 0
    var s: String = null
    var found = false
    while (!found && p <= 17) {
      s = String.format(java.util.Locale.ROOT, "%." + p + "e", Double.box(a))
      if (java.lang.Double.parseDouble(s) == a) found = true else p += 1
    }
    val ei = s.indexOf('e')
    var digits = s.substring(0, ei).replace(".", "")
    // a rounding carry can leave a trailing zero ("1.0e23" digits "10")
    while (digits.length > 1 && digits.endsWith("0"))
      digits = digits.substring(0, digits.length - 1)
    val exp = Integer.parseInt(
      if (s.charAt(ei + 1) == '+') s.substring(ei + 2) else s.substring(ei + 1))
    val kk = exp + 1 // position of the decimal point: 10^(kk-1) <= a < 10^kk
    val sb = new java.lang.StringBuilder(24)
    if (neg) sb.append('-')
    if (kk > 16 || kk <= -5) {
      // scientific
      sb.append(digits.charAt(0))
      if (digits.length > 1) sb.append('.').append(digits, 1, digits.length)
      sb.append('e').append(exp)
    } else if (kk <= 0) {
      sb.append("0.")
      var i = kk
      while (i < 0) { sb.append('0'); i += 1 }
      sb.append(digits)
    } else if (kk >= digits.length) {
      sb.append(digits)
      var i = digits.length
      while (i < kk) { sb.append('0'); i += 1 }
      sb.append(".0")
    } else {
      sb.append(digits, 0, kk).append('.').append(digits, kk, digits.length)
    }
    sb.toString
  }

  private def writeString(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      (c: @annotation.switch) match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case c2 if c2 < ' ' => sb.append(f"\\u${c2.toInt}%04x")
        case c2 => sb.append(c2)
      }
      i += 1
    }
    sb.append('"')
  }

  /** `merge_in` — JSON-pointer-targeted merge, ported from the reference's
    * vendored json_value_merge trait (src/merge.rs:91-135 + its test suite
    * 169-237). Dead code in the reference RUNTIME (only `merge::merge` is
    * reachable, src/connection.rs:331), so it is exposed here as the SQL
    * function `json_hotdog_merge_in(msg, ptr, rhs)` rather than a router
    * action. Quirks ported faithfully:
    *
    *  - pointer "/" merges at the root; unescaping follows RFC 6901
    *    (~1 → '/', ~0 → '~', serde_json's pointer_mut).
    *  - a missing intermediate step is MATERIALIZED and the merge retried:
    *    a numeric step builds `[null]` (the reference pushes exactly one
    *    null regardless of the index — merge.rs:119-126), a name step
    *    builds `{step: null}`; the scaffold is merged with the PLAIN merge
    *    rules, so materializing an array step under an object REPLACES the
    *    object (object ⊕ array hits the overwrite arm).
    *  - the materialize-retry loop cannot make an out-of-range array index
    *    resolvable (`[null] ⊕ [null]` dedups back to `[null]`) — the
    *    reference recurses forever there; we throw after a depth bound
    *    instead (the SQL function surfaces null).
    */
  def mergeIn(root: JsonNode, pointer: String, rhs: JsonNode): JsonNode =
    mergeInRec(root, pointer, rhs, 0)

  /** serde_json's Value::pointer_mut index parsing: no '+', no leading 0s. */
  private def pointerIndex(tok: String): Int =
    if (tok.isEmpty || tok.startsWith("+") || (tok.startsWith("0") && tok.length != 1)) -1
    else try { val v = tok.toInt; if (v < 0) -1 else v }
    catch { case _: NumberFormatException => -1 }

  private def pointerStep(node: JsonNode, tokRaw: String): JsonNode = {
    val tok = tokRaw.replace("~1", "/").replace("~0", "~")
    if (node.isObject) node.get(tok) // null when missing
    else if (node.isArray) {
      val ix = pointerIndex(tok)
      if (ix < 0) null else node.get(ix) // null when OOB
    } else null
  }

  /** Jackson nodes are not uniformly mutable-in-place through a parent
    * reference the way `&mut Value` is, so the port threads a replacement
    * value back up: returns the NEW value for `root`. */
  private def mergeInRec(root: JsonNode, pointer: String, rhs: JsonNode,
      depth: Int): JsonNode = {
    if (depth > 256)
      throw new IllegalArgumentException(
        s"merge_in cannot materialize pointer $pointer (reference recurses forever here)")
    val fields = pointer.split("/", -1).drop(1)
    val firstField = if (fields.isEmpty) "" else fields(0)
    if (firstField.isEmpty) return merge(root, rhs) // pointer "/" (or "")
    val nextFields = fields.drop(1)
    val target = pointerStep(root, firstField)
    if (target != null) {
      val updated =
        if (nextFields.nonEmpty)
          mergeInRec(target, "/" + nextFields.mkString("/"), rhs, depth + 1)
        else merge(target, rhs)
      setStep(root, firstField, updated)
      root
    } else {
      // materialize the missing step with the PLAIN merge, then retry
      val tok = firstField.replace("~1", "/").replace("~0", "~")
      val newValue: JsonNode =
        if (tok.matches("\\+?\\d+")) {
          // the reference uses plain usize parse here (accepts +/leading 0s,
          // unlike pointer_mut) and always pushes a single null
          val a = JsonNodeFactory.instance.arrayNode()
          a.add(JsonNodeFactory.instance.nullNode())
          a
        } else {
          val o = JsonNodeFactory.instance.objectNode()
          o.set[JsonNode](tok, JsonNodeFactory.instance.nullNode())
          o
        }
      mergeInRec(merge(root, newValue), pointer, rhs, depth + 1)
    }
  }

  private def setStep(node: JsonNode, tokRaw: String, value: JsonNode): Unit = {
    val tok = tokRaw.replace("~1", "/").replace("~0", "~")
    node match {
      case o: ObjectNode => o.set[JsonNode](tok, value)
      case a: ArrayNode => a.set(pointerIndex(tok), value)
      case _ => // unreachable: pointerStep returned non-null
    }
    ()
  }

  /** perform_merge semantics (reference src/connection.rs:316-343) given the
    * already-rendered merge template `rhs`:
    *  - msg not valid JSON       → null (caller counts error.merge_of_invalid_json
    *                               and sets continue_rules=false)
    *  - rhs not a JSON object    → msg unchanged (caller counts
    *                               error.merge_target_not_json)
    *  - else                     → merged, key-sorted, compact
    */
  def performMerge(msg: String, rhs: String): String = {
    val msgJson = parseOrNull(msg)
    if (msgJson == null) return null
    val toMerge = parseOrNull(rhs)
    if (toMerge == null)
      // the reference unwraps this parse (src/connection.rs:331) — a merge
      // template that renders to invalid JSON panics there, so the exact
      // analog is failing the task, NOT returning null (which the router
      // would miscount as error.merge_of_invalid_json). This also makes
      // "null ⇔ msg not valid JSON" an exact contract, which the router's
      // merge-error counters rely on (they test jsonValid(msg), letting the
      // stats plan prune the merge+serialize work entirely).
      throw new IllegalArgumentException(
        s"merge template rendered invalid JSON: $rhs")
    if (!toMerge.isObject) return msg
    serialize(merge(msgJson, toMerge))
  }

  /** kernel of [[exprs.jsonValid]]: serde_json::from_str(s).is_ok(). */
  def jsonValid(s: UTF8String): Boolean =
    s != null && parseOrNull(s.toString) != null

  /** kernel of [[exprs.jsonHotdogMergeIn]]: null ⇔ either side isn't valid
    * JSON or the pointer cannot be materialized (see [[mergeIn]]). */
  def mergeInEval(msg: UTF8String, ptr: UTF8String, rhs: UTF8String): UTF8String = {
    val root = parseOrNull(msg.toString)
    if (root == null) return null
    val add = parseOrNull(rhs.toString)
    if (add == null) return null
    try UTF8String.fromString(serialize(mergeIn(root, ptr.toString, add)))
    catch { case _: IllegalArgumentException => null }
  }
}
