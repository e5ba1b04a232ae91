package graft.hotdog

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import graft.ops.KernelTable
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels behind [[exprs]]' decode / encode / escape columns,
  * invoked from both interpreted eval and generated code (see
  * [[graft.ops.opscol.kernel]]).
  */
object Codepoints {
  /** tokens (Unicode codepoints) -> string. Inverse of [[encode]]. */
  def decode(arr: ArrayData): UTF8String = {
    val ints = arr.toIntArray()
    UTF8String.fromString(new String(ints, 0, ints.length))
  }

  /** string -> Unicode codepoints. This is the seeded "tokenization" of the
    * corpus (SURVEY.md §1.3): one token per codepoint. */
  def encode(s: UTF8String): ArrayData = {
    if (s == null) return null
    val str = s.toString
    val n = str.codePointCount(0, str.length)
    val out = new Array[Int](n)
    var i = 0
    var j = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      out(j) = cp
      j += 1
      i += Character.charCount(cp)
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Handlebars-style HTML escape applied to every `{{var}}` substitution.
    * Mirrors handlebars' default escape_fn (the reference renders all
    * templates through handlebars 3.5.5 — src/connection.rs:188,231,318):
    * & < > " ' ` = are escaped. Single pass.
    */
  def htmlEscape(s: UTF8String): UTF8String = {
    val str = s.toString
    var needs = false
    var i = 0
    while (i < str.length && !needs) {
      (str.charAt(i): @annotation.switch) match {
        case '&' | '<' | '>' | '"' | '\'' | '`' | '=' => needs = true
        case _ => ()
      }
      i += 1
    }
    if (!needs) return s
    val sb = new java.lang.StringBuilder(str.length + 16)
    i = 0
    while (i < str.length) {
      (str.charAt(i): @annotation.switch) match {
        case '&'  => sb.append("&amp;")
        case '<'  => sb.append("&lt;")
        case '>'  => sb.append("&gt;")
        case '"'  => sb.append("&quot;")
        case '\'' => sb.append("&#x27;")
        case '`'  => sb.append("&#x60;")
        case '='  => sb.append("&#x3D;")
        case c    => sb.append(c)
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Static helper for [[exprs.regexCaptures]]: one compiled-pattern cache
  * shared across the executor JVM, one `find()` per row. */
object RegexHelp {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()
  private val NoMatch =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](false, null))

  def captures(s: UTF8String, pattern: UTF8String, groups: KernelTable[Array[Int]])
      : org.apache.spark.sql.catalyst.InternalRow = {
    if (s == null || pattern == null) return NoMatch
    val p = cache.computeIfAbsent(pattern.toString,
      (k: String) => java.util.regex.Pattern.compile(k))
    val m = p.matcher(s.toString)
    if (!m.find()) return NoMatch
    val groupIdx = groups.get
    val gs = new Array[Any](groupIdx.length)
    var i = 0
    while (i < groupIdx.length) {
      val g = m.group(groupIdx(i))
      gs(i) = if (g == null) null else UTF8String.fromString(g)
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](true, new GenericArrayData(gs)))
  }
}

/** Identity wrapper marked non-deterministic: an optimizer barrier.
  *
  * Spark's PushDownPredicate substitutes Project aliases into pushed
  * predicates with no cost model — `routed.filter($"topic".isNotNull)`
  * would re-inline the ENTIRE cascade (parse, jmespath, merges, renders)
  * into a Filter beneath the router, duplicating the per-row work and
  * blowing the whole-stage-codegen method past the JVM 64KB limit once a
  * join/sink fuses into the stage.
  *
  * PLACEMENT MATTERS: pushdown through a Project only requires the
  * PROJECT's fields to be deterministic (`fields.forall(_.deterministic)`
  * in PushPredicateThroughNonJoin) — the predicate's own determinism is
  * not consulted for Project substitution. So the barrier must wrap the
  * expensive PROJECTED COLUMNS (Router does), not the filter predicate;
  * wrapping only the predicate still lets the whole tree be substituted
  * beneath. Evaluation is the child's, unchanged. */
case class NoPushdown(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override lazy val deterministic: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)
  override protected def withNewChildInternal(newChild: Expression): NoPushdown =
    copy(child = newChild)
  override def prettyName: String = "no_pushdown"
}

/** Column-level wrappers. Each kernel column is one
  * [[graft.ops.opscol.kernel]] call on a static method of this package. */
object exprs {
  import org.apache.spark.sql.graftshim
  import graft.ops.opscol.{kernel, table}
  private def codepoints(fn: String, dataType: DataType, c: Column): Column =
    kernel(Codepoints.getClass, fn, dataType, Seq(c))
  /** tokens array<int> (Unicode codepoints) -> string: P6 decode
    * (SURVEY.md §2.2), inside whole-stage codegen */
  def codepointsToString(c: Column): Column = codepoints("decode", StringType, c)
  /** line string -> array<int>: the corpus tokenizer, exact inverse of
    * [[codepointsToString]]; null for null. `encode` maps null to null
    * itself, as the parsers do: generated code then keeps the argument out
    * of the null-propagation state (less code in the corpus-and-parse
    * method, which is past the JIT's huge-method limit). */
  def stringToCodepoints(c: Column): Column =
    kernel(Codepoints.getClass, "encode", ArrayType(IntegerType, containsNull = false),
      Seq(c), propagateNull = false, returnNullable = true)
  /** the HTML escape handlebars applies to `{{var}}` (not `{{{var}}}`)
    * substitutions (A2 in SURVEY §2.4) */
  def handlebarsEscape(c: Column): Column = codepoints("htmlEscape", StringType, c)

  /** line -> struct<msg,severity,facility,hostname,appname>, null on parse
    * failure (drives the error.log_parse counter — P3) or null input. The
    * parser maps null to null itself: that generates less per-row code
    * than a null-propagating call. */
  def syslogParse(line: Column): Column =
    kernel(SyslogParser.getClass, "parse", model.parsedSchema, Seq(line),
      propagateNull = false, returnNullable = true)
  /** [[syslogParse]] straight from the codepoint array — fused P6+P1-P4,
    * used on the hot path where the decoded `line` string is not otherwise
    * consumed */
  def syslogParseTokens(tokens: Column): Column =
    kernel(SyslogParser.getClass, "parseTokens", model.parsedSchema, Seq(tokens),
      propagateNull = false, returnNullable = true)

  /** (str, pattern) -> struct<matched boolean, gs array<string>>: rule
    * matching + named-group extraction in ONE regex execution per row
    * (rlike + k × regexp_extract would run the matcher k+1 times).
    *
    * `gs(i)` is the value of group `groupIdx(i)` (the NAMED groups in
    * appearance order, indices resolved at plan build from
    * [[config.CompiledRegex]]): null when the group did not participate in
    * the match, "" when it captured an empty string. The distinction
    * carries the reference's semantics (src/rules.rs:90-96:
    * `captures.name(n)` is `Some("")` for an empty capture — which DOES
    * override a colliding builtin variable — and `None` for a
    * non-participating group, which does not). Null input → no match. */
  def regexCaptures(str: Column, pattern: Column, groupIdx: Seq[Int]): Column =
    kernel(RegexHelp.getClass, "captures", StructType(Seq(
      StructField("matched", BooleanType, nullable = false),
      StructField("gs", ArrayType(StringType, containsNull = true), nullable = true))),
      Seq(str, pattern, table(groupIdx.toArray)), propagateNull = false)

  /** (json, path) -> struct<matched boolean, value string>: full JMESPath
    * (reference src/rules.rs:70-85, see [[HotdogJson.jmesEval]]); null or
    * invalid JSON input → matched = false (silent, F5) */
  def jmespathEval(json: Column, path: Column): Column =
    kernel(HotdogJson.getClass, "jmesEval", StructType(Seq(
      StructField("matched", BooleanType, nullable = false),
      StructField("value", StringType, nullable = true))),
      Seq(json, path), propagateNull = false)

  /** whether the string parses as one JSON document under serde_json rules
    * (trailing tokens and non-finite doubles rejected); null → false. Parse
    * only: the router's merge-error counters and cascade-kill conditions
    * evaluate this, so a consumer that never reads the merged OUTPUT prunes
    * the merge+serialize work and pays one parse instead */
  def jsonValid(s: Column): Column =
    kernel(HotdogJson.getClass, "jsonValid", BooleanType, Seq(s), propagateNull = false)

  /** the top-level field profile of a JSON object document (the
    * schema-drift monitor's kernel): one (key, vtype) entry per field;
    * malformed / non-object / null input profiles as the single marker
    * entry ("_malformed", "-"), so exploding the result yields a TOTAL
    * per-row accounting in one parse */
  def jsonFieldProfile(s: Column): Column =
    kernel(HotdogJson.getClass, "fieldProfile", ArrayType(StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("vtype", StringType, nullable = false))), containsNull = false),
      Seq(s), propagateNull = false)

  /** (msg, renderedMergeJson) -> the A3/A4 merge; null iff msg is not valid
    * JSON (the cascade-kill signal). An invalid RENDERED template fails the
    * task, as the reference's unwrap panics. */
  def jsonHotdogMerge(msg: Column, rhs: Column): Column =
    kernel(HotdogJson.getClass, "mergeEval", StringType, Seq(msg, rhs),
      returnNullable = true)

  /** (msg, pointer, rhs) -> the reference's JSON-pointer-targeted merge
    * (src/merge.rs:91-135, dead in its runtime, exposed as a SQL function
    * here); null iff msg/rhs aren't valid JSON or the pointer cannot be
    * materialized */
  def jsonHotdogMergeIn(msg: Column, pointer: Column, rhs: Column): Column =
    kernel(HotdogJson.getClass, "mergeInEval", StringType, Seq(msg, pointer, rhs),
      returnNullable = true)

  def noPushdown(c: Column): Column = graftshim.column(NoPushdown(expr(c)))
  def expr(c: Column): Expression = graftshim.expression(c)
  def col(e: Expression): Column = graftshim.column(e)
}

/** Expression form of [[exprs.syslogParseTokens]], for callers that build
  * Catalyst expressions. */
object SyslogParseTokens {
  def apply(tokens: Expression): Expression =
    exprs.expr(exprs.syslogParseTokens(exprs.col(tokens)))
}
