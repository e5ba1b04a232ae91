package graft.hotdog

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.catalyst.expressions.Expression
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
    def reg(name: String)(b: Seq[Expression] => Expression): Unit =
      graftshim.registerFunction(spark, name, b)
    // kernels are built by the same Column functions the DataFrame API uses
    def kernel(name: String)(b: Seq[Column] => Column): Unit =
      reg(name)(a => graftshim.expression(b(a.map(graftshim.column))))
    def constant(c: Column): Any = graftshim.expression(c).eval(null)
    def int(c: Column): Int = constant(c).asInstanceOf[Number].intValue()
    kernel("codepoints_to_string")(a => exprs.codepointsToString(a.head))
    kernel("string_to_codepoints")(a => exprs.stringToCodepoints(a.head))
    kernel("handlebars_escape")(a => exprs.handlebarsEscape(a.head))
    reg("syslog_parse")(a => SyslogParse(a.head))
    reg("jmespath_eval")(a => JmesPathEval(a(0), a(1)))
    reg("json_hotdog_merge")(a => JsonHotdogMerge(a(0), a(1)))
    reg("json_valid")(a => JsonValid(a.head))
    reg("json_field_profile")(a => JsonFieldProfile(a.head))
    reg("json_hotdog_merge_in")(a => JsonHotdogMergeIn(a(0), a(1), a(2)))
    kernel("simhash64")(a => opscol.simhash64(a.head))
    kernel("minhash_sig")(a => opscol.minhashSig(a(0), int(a(1))))
    kernel("cosine_sim_f")(a => opscol.cosineSimF(a(0), a(1)))
    kernel("jaccard_pct")(a => opscol.jaccardPct(a(0), a(1)))
    kernel("hyperplane_sig")(a => opscol.hyperplaneSig(a(0), int(a(1))))
    kernel("minhash_bands")(a => opscol.minhashBands(a(0), int(a(1))))
    kernel("word_shingles")(a => opscol.wordShingles(a(0), int(a(1))))
    // token_ngrams(tokens, n [, distinct]) — comma-joined sliding windows
    kernel("token_ngrams")(a => opscol.tokenNgrams(a(0), int(a(1)),
      a.length > 2 && constant(a(2)).asInstanceOf[Boolean]))
    // regex_captures(str, pattern, groupIdx...) — groups default to (1)
    reg("regex_captures")(a => RegexCaptures(a(0), a(1),
      if (a.length > 2) a.drop(2).map(e => int(graftshim.column(e))) else Seq(1)))
    // bloom_might_contain(bits array<bigint>, key_hash bigint, k)
    kernel("bloom_might_contain")(a => Bloom.mightContain(a(0), a(1), int(a(2))))
    // word_ngrams_multi(text, n) — in-order word n-grams with multiplicity
    kernel("word_ngrams_multi")(a => opscol.wordNgramsMulti(a(0), int(a(1))))
    // char_entropy(text) — Shannon entropy (nats) of the codepoint histogram
    kernel("char_entropy")(a => opscol.charEntropy(a.head))
    // token_entropy(tokens) — Shannon entropy (nats) of the token-id histogram
    kernel("token_entropy")(a => opscol.tokenEntropy(a.head))
  }
}
