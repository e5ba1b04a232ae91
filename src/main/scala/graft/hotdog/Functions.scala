package graft.hotdog

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.catalyst.expressions.{Expression, InheritAnalysisRules,
  RuntimeReplaceable}
import graft.ops.{Bloom, opscol}

/** SQL-callable registration of every custom expression, so `spark.sql`
  * users get the full operator surface:
  *
  * {{{
  *   graft.hotdog.Functions.registerAll(spark)
  *   spark.sql("SELECT syslog_parse(codepoints_to_string(tokens)).msg FROM seq")
  * }}}
  */
object Functions {
  def registerAll(spark: SparkSession): Unit = {
    // every function is built by the Column function the DataFrame API uses
    def reg(name: String)(b: Seq[Column] => Column): Unit =
      graftshim.registerFunction(spark, name, a =>
        SqlFunction(name, a, graftshim.expression(b(a.map(graftshim.column)))))
    def constant(c: Column): Any = graftshim.expression(c).eval(null)
    def int(c: Column): Int = constant(c).asInstanceOf[Number].intValue()
    reg("codepoints_to_string")(a => exprs.codepointsToString(a.head))
    reg("string_to_codepoints")(a => exprs.stringToCodepoints(a.head))
    reg("handlebars_escape")(a => exprs.handlebarsEscape(a.head))
    reg("syslog_parse")(a => exprs.syslogParse(a.head))
    reg("jmespath_eval")(a => exprs.jmespathEval(a(0), a(1)))
    reg("json_hotdog_merge")(a => exprs.jsonHotdogMerge(a(0), a(1)))
    reg("json_valid")(a => exprs.jsonValid(a.head))
    reg("json_field_profile")(a => exprs.jsonFieldProfile(a.head))
    reg("json_hotdog_merge_in")(a => exprs.jsonHotdogMergeIn(a(0), a(1), a(2)))
    reg("simhash64")(a => opscol.simhash64(a.head))
    reg("minhash_sig")(a => opscol.minhashSig(a(0), int(a(1))))
    reg("cosine_sim_f")(a => opscol.cosineSimF(a(0), a(1)))
    reg("jaccard_pct")(a => opscol.jaccardPct(a(0), a(1)))
    reg("hyperplane_sig")(a => opscol.hyperplaneSig(a(0), int(a(1))))
    reg("minhash_bands")(a => opscol.minhashBands(a(0), int(a(1))))
    reg("word_shingles")(a => opscol.wordShingles(a(0), int(a(1))))
    // token_ngrams(tokens, n [, distinct]) — comma-joined sliding windows
    reg("token_ngrams")(a => opscol.tokenNgrams(a(0), int(a(1)),
      a.length > 2 && constant(a(2)).asInstanceOf[Boolean]))
    // regex_captures(str, pattern, groupIdx...) — groups default to (1)
    reg("regex_captures")(a => exprs.regexCaptures(a(0), a(1),
      if (a.length > 2) a.drop(2).map(int) else Seq(1)))
    // bloom_might_contain(bits array<bigint>, key_hash bigint, k)
    reg("bloom_might_contain")(a => Bloom.mightContain(a(0), a(1), int(a(2))))
    // word_ngrams_multi(text, n) — in-order word n-grams with multiplicity
    reg("word_ngrams_multi")(a => opscol.wordNgramsMulti(a(0), int(a(1))))
    // char_entropy(text) — Shannon entropy (nats) of the codepoint histogram
    reg("char_entropy")(a => opscol.charEntropy(a.head))
    // token_entropy(tokens) — Shannon entropy (nats) of the token-id histogram
    reg("token_entropy")(a => opscol.tokenEntropy(a.head))
  }

  /** A registered function as SQL sees it: `name(args)` in column names
    * and plan text, replaced by its kernel call before optimization —
    * Spark's own pattern for builtins defined by another expression. */
  private case class SqlFunction(name: String, parameters: Seq[Expression],
      replacement: Expression) extends RuntimeReplaceable with InheritAnalysisRules {
    override def prettyName: String = name
    override protected def withNewChildInternal(newChild: Expression): SqlFunction =
      copy(replacement = newChild)
  }
}
