package graft.hotdog

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
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

/** Static helper for [[RegexCaptures]]: one compiled-pattern cache shared
  * across the executor JVM, one `find()` per row. */
object RegexHelp {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()
  private val NoMatch =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](false, null))

  def captures(s: UTF8String, pattern: UTF8String, groupIdx: Array[Int])
      : org.apache.spark.sql.catalyst.InternalRow = {
    if (s == null || pattern == null) return NoMatch
    val p = cache.computeIfAbsent(pattern.toString,
      (k: String) => java.util.regex.Pattern.compile(k))
    val m = p.matcher(s.toString)
    if (!m.find()) return NoMatch
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

/** `RegexCaptures(str, pattern) -> struct<matched boolean, gs array<string>>`
  * — rule matching + named-group extraction in ONE regex execution per row
  * (rlike + k × regexp_extract would run the matcher k+1 times).
  *
  * `gs(i)` is the value of the i-th NAMED group (appearance order, indices
  * resolved at plan build from [[config.CompiledRegex]]): null when the
  * group did not participate in the match, "" when it captured an empty
  * string. The distinction carries the reference's semantics
  * (src/rules.rs:90-96: `captures.name(n)` is `Some("")` for an empty
  * capture — which DOES override a colliding builtin variable — and `None`
  * for a non-participating group, which does not). Null input → no match. */
case class RegexCaptures(left: Expression, right: Expression,
    groupIdx: Seq[Int])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("matched", BooleanType, nullable = false),
    StructField("gs", ArrayType(StringType, containsNull = true), nullable = true)))
  override def nullable: Boolean = false
  override def foldable: Boolean = false

  private lazy val idxArray: Array[Int] = groupIdx.toArray

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    RegexHelp.captures(
      left.eval(input).asInstanceOf[UTF8String],
      right.eval(input).asInstanceOf[UTF8String],
      idxArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val idxRef = ctx.addReferenceObj("groupIdx", idxArray, "int[]")
    ev.copy(code =
      code"""
        ${l.code}
        ${r.code}
        InternalRow ${ev.value} = graft.hotdog.RegexHelp.captures(
          ${l.isNull} ? null : ${l.value},
          ${r.isNull} ? null : ${r.value}, $idxRef);""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): RegexCaptures =
    copy(left = l, right = r)
  override def prettyName: String = "regex_captures"
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

/** Column-level wrappers. */
object exprs {
  import org.apache.spark.sql.graftshim
  private def codepoints(fn: String, dataType: DataType, c: Column): Column =
    graft.ops.opscol.kernel(Codepoints.getClass, fn, dataType, c)
  /** tokens array<int> (Unicode codepoints) -> string: P6 decode
    * (SURVEY.md §2.2), inside whole-stage codegen */
  def codepointsToString(c: Column): Column = codepoints("decode", StringType, c)
  /** line string -> array<int>: the corpus tokenizer, exact inverse of
    * [[codepointsToString]] */
  def stringToCodepoints(c: Column): Column =
    codepoints("encode", ArrayType(IntegerType, containsNull = false), c)
  /** the HTML escape handlebars applies to `{{var}}` (not `{{{var}}}`)
    * substitutions (A2 in SURVEY §2.4) */
  def handlebarsEscape(c: Column): Column = codepoints("htmlEscape", StringType, c)
  def noPushdown(c: Column): Column = graftshim.column(NoPushdown(expr(c)))
  def expr(c: Column): Expression = graftshim.expression(c)
  def col(e: Expression): Column = graftshim.column(e)
}
