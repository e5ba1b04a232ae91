package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Operators over the tokens axis itself — the `tokens: array<int32>`
  * column of the pre-tokenized sequences table (BASELINE input_hint), as
  * opposed to the text-column operators in [[TextAnalysis]]:
  *
  *  - [[ngramTopK]]: global top-k token n-grams with counts — the
  *    frequency table behind tokenizer/vocab audits and repeated-template
  *    detection on already-tokenized corpora.
  *  - [[tokenSpanDupStats]]: per-sequence duplicated-token-span stats —
  *    the span-level exact-substring dedup signal ("Deduplicating Training
  *    Data Makes Language Models Better"), computed directly on token ids
  *    (the paper's suffix-array dedup operates on tokens for exactly this
  *    reason: no normalization ambiguity).
  *
  * Gram rendering is a custom codegen Expression (SQL: `token_ngrams`);
  * everything downstream is builtin aggregates — no UDFs.
  */
object TokenOps {

  /** Order-preserving n-gram render: each window of `n` consecutive
    * tokens as a canonical comma-joined string (engine-portable group
    * key). Sequences shorter than n contribute no grams.
    *
    * A custom codegen kernel ([[OpsKernels.tokenNgrams]]), not the
    * transform(sequence)/slice/array_join Column composition: the
    * higher-order functions fall out of whole-stage codegen and allocate
    * ~5 intermediate arrays per window — the kernel renders each token to
    * decimal once and builds each gram in a reused StringBuilder
    * (measured 7.5s → 1.1s on the sf0.1 trigram count). Still a narrow
    * per-row expansion, nothing shuffles here.
    */
  def tokenNgrams(tokens: Column, n: Int): Column =
    opscol.tokenNgrams(tokens, n)

  /** Global top-k token n-grams by corpus occurrence count (every window
    * counts, not distinct-per-doc), with the number of distinct sequences
    * containing the gram. Deterministic total order (n desc, gram asc) so
    * the top-k boundary is unambiguous in a cross-engine compare.
    *
    * 100 TB shape: the explode is narrow (no shuffle before the
    * aggregate); the groupBy ships (gram, partial count, partial
    * doc-count) with map-side combine — token n-grams are extremely
    * skewed (Zipf), which map-side combine absorbs because hot grams
    * collapse to one row per map task; the top-k is TakeOrdered (per-
    * partition heap + driver merge of k rows), never a global sort.
    */
  def ngramTopK(df: DataFrame, idCol: String, tokensCol: String, n: Int,
      k: Int): DataFrame =
    Contamination.guardGrams(
        df.select(col(idCol), tokenNgrams(col(tokensCol), n).as("_sh")),
        "_sh", idCol)
      .select(col(idCol), explode(col("_sh")).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("n"), count_distinct(col(idCol)).as("n_docs"))
      .orderBy(col("n").desc, col("gram").asc)
      .limit(k)

  /** Per-sequence token-span duplication stats: n_sp = distinct token
    * n-grams in the sequence, n_dup_sp = how many of those appear in ≥1
    * OTHER sequence. Total output — every input sequence reports, 0 for
    * sequences sharing nothing. Same shuffle discipline as
    * [[Contamination.spanDupStats]] (md5 gram keys, min≠max cross-doc
    * test), reused via the gram-level core.
    */
  def tokenSpanDupStats(df: DataFrame, idCol: String, tokensCol: String,
      n: Int): DataFrame =
    Contamination.spanDupStatsKeys(
      df.select(col(idCol),
        opscol.tokenGramKeys(col(tokensCol), n, distinct = true).as("_sh")),
      idCol, "_sh")

  /** Duplicated window starts per sequence: every position `pos` (0-based)
    * where the token n-gram starting at `pos` occurs ≥ `minCount` times in
    * the WHOLE corpus — counting repeats within the same sequence too (a
    * boilerplate header pasted twice into one page is still a duplicate;
    * cross-doc-only semantics are [[tokenSpanDupStats]]'s job). This is the
    * candidate set of the ExactSubstr dedup of "Deduplicating Training Data
    * Makes Language Models Better" (Lee et al. 2022), with the paper's
    * suffix-array match lowered to fixed-width n-gram anchors.
    *
    * 100 TB shape: windows render narrowly ([[tokenNgrams]] kernel behind
    * the guardGrams pushdown barrier); the frequency pass groups on
    * md5(gram) — a fixed 128-bit key, so the big shuffle never carries the
    * rendered gram text, and Zipf-hot grams collapse under map-side
    * combine; the duplicated-gram set is corpus-sized (never broadcast),
    * so starts are recovered with a semi-join where both sides are
    * shuffle-partitioned by the same 128-bit key.
    */
  private[ops] def dupSpanStarts(df: DataFrame, idCol: String,
      tokensCol: String, n: Int, minCount: Long): DataFrame = {
    val grams = Contamination.guardGrams(
        df.select(col(idCol),
          opscol.tokenGramKeys(col(tokensCol), n).as("_sh")),
        "_sh", idCol)
      .select(col(idCol), posexplode(col("_sh")))
      // 16-byte binary key straight from the int window (tokenGramKeys —
      // the key only routes; no decimal render, no md5-over-string)
      .select(col(idCol), col("pos").as("_pos"), col("col").as("_gh"))
    val dupKeys = grams
      .groupBy("_gh").agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minCount)
      .select("_gh")
    grams.join(dupKeys, Seq("_gh"), "left_semi")
      .select(col(idCol), col("_pos"))
  }

  /** ExactSubstr-style duplicated-span scrub VERDICT: for each sequence,
    * how many token positions are covered by some duplicated n-gram window
    * (see [[dupSpanStarts]]) and how many survive. TOTAL output — every
    * input sequence reports (n_dup_tok = 0 when nothing is duplicated):
    * `(idCol, n_tok, n_dup_tok, n_keep_tok)`.
    *
    * The covered-position count is the interval-union length of the
    * fixed-width windows, folded from SORTED starts with a per-sequence
    * window function: a start `s` contributes `min(n, next_start − s)` and
    * the last start contributes `n` — never a materialized position set.
    * The lead() window partitions by sequence id (the groupBy key), so no
    * global ordering exists anywhere in the plan.
    */
  def scrubDupSpans(df: DataFrame, idCol: String, tokensCol: String, n: Int,
      minCount: Long = 2L): DataFrame = {
    val starts = dupSpanStarts(df, idCol, tokensCol, n, minCount)
    val w = Window.partitionBy(col(idCol)).orderBy(col("_pos"))
    val perDoc = starts
      .withColumn("_cov", least(
        coalesce(lead(col("_pos"), 1).over(w), col("_pos") + n) - col("_pos"),
        lit(n)).cast("long"))
      .groupBy(idCol).agg(sum(col("_cov")).as("n_dup_tok"))
    df.select(col(idCol), size(col(tokensCol)).cast("long").as("n_tok"))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("n_dup_tok", coalesce(col("n_dup_tok"), lit(0L)))
      .withColumn("n_keep_tok", col("n_tok") - col("n_dup_tok"))
  }

  /** The scrub itself: `(idCol, tokens_clean)` with every token covered by
    * a duplicated window removed — what actually ships to training after
    * the [[scrubDupSpans]] audit. Starts are collected per sequence
    * (bounded by the sequence's own length, NOT corpus-sized) and the mask
    * test is `exists(starts, s -> s ≤ i < s+n)` per token — O(L·K) per
    * sequence with K = duplicated starts; fine for the boilerplate-scrub
    * regime (K ≪ L), and still bounded by O(L²) for a fully-duplicated
    * sequence. Sequences with nothing duplicated pass through unchanged.
    */
  def scrubTokens(df: DataFrame, idCol: String, tokensCol: String, n: Int,
      minCount: Long = 2L): DataFrame = {
    val startsArr = dupSpanStarts(df, idCol, tokensCol, n, minCount)
      .groupBy(idCol).agg(sort_array(collect_list(col("_pos"))).as("_starts"))
    df.select(col(idCol), col(tokensCol))
      .join(startsArr, Seq(idCol), "left")
      .withColumn("tokens_clean",
        when(col("_starts").isNull, col(tokensCol)).otherwise(
          filter(col(tokensCol), (_, i) =>
            !exists(col("_starts"), s => i >= s && i < s + n))))
      .select(col(idCol), col("tokens_clean"))
  }

  /** Benchmark decontamination on RAW TOKEN IDS: training sequences
    * sharing ≥1 token n-gram with the (tokenized) eval set, with the
    * distinct-shared-gram count — how production pipelines actually
    * decontaminate against tokenized benchmarks (no retokenization /
    * normalization ambiguity between the check and the training input).
    * Scale shape: eval grams are benchmark-sized (the same bound
    * [[Contamination.contaminated]] uses to broadcast them) — here they
    * ship as a sorted key table inside one codegen kernel, and the train
    * side is a single ZERO-SHUFFLE pass: no gram explode, no broadcast
    * hash probe, no re-aggregate; corpus token grams never materialize
    * as rows at all.
    *
    * Output: (idCol, n_shared), one row per contaminated TRAIN ROW. idCol
    * is carried through, not grouped on, so it must be unique in `train`
    * for the output to hold one row per id. The eval set's distinct gram
    * keys are collected to the driver; more than [[EvalGramKeyBound]] of
    * them fails loudly instead of exhausting the driver.
    */
  def tokenContaminated(train: DataFrame, evalSet: DataFrame, idCol: String,
      tokensCol: String, n: Int): DataFrame =
    tokenContaminated(train, evalSet, idCol, tokensCol, n, EvalGramKeyBound)

  /** Most distinct eval gram keys [[tokenContaminated]] bakes into its probe
    * table: 16 bytes each on the driver and in every task's plan, so 16 MB
    * at the bound — a benchmark suite's size, not a corpus's. */
  private val EvalGramKeyBound: Int = 1 << 20

  private[ops] def tokenContaminated(train: DataFrame, evalSet: DataFrame,
      idCol: String, tokensCol: String, n: Int, keyBound: Int): DataFrame = {
    // Eval benchmarks are tiny by the decontamination contract (the same
    // bound that let contaminatedGrams BROADCAST them), so collect the
    // distinct eval gram keys once and bake the probe into ONE codegen
    // kernel over the train side — the optimization guide's manual
    // pre-filter pattern (§3.2), exact instead of Bloom. The train side
    // then never explodes at all: per sequence, the fused kernel keys
    // and probes every window IN PLACE (no key materialization) and
    // n_shared is the distinct-hit count — zero shuffle, no
    // corpus-gram-sized Generate, no broadcast hash probe, no
    // re-aggregate of the exploded rows (r5 shape: 4.9M generated rows
    // at sf0.1 just to count hits per doc). noPushdown: the n_shared>0
    // filter would otherwise be substituted through the defining
    // Project and run the kernel twice per row (the guardGrams lesson).
    val keys = evalSet
      .select(explode(
        opscol.tokenGramKeys(col(tokensCol), n, distinct = true)).as("_g"))
      .distinct()
      .limit(keyBound + 1)
      .collect()
      .map(_.getAs[Array[Byte]](0))
    require(keys.length <= keyBound,
      s"tokenContaminated: the eval set (${evalSet.count()} rows) has more than " +
        s"$keyBound distinct $n-gram keys; it must be benchmark-sized")
    val table = OpsKernels.keyPairTable(keys)
    train
      .select(col(idCol),
        graft.hotdog.exprs.noPushdown(
          opscol.countGramHits(col(tokensCol), n, table)).as("n_shared"))
      .filter(col("n_shared") > 0)
  }

  /** Token-distribution diversity per sequence: Shannon entropy (nats)
    * of the token-id histogram + total/distinct token counts — the
    * token-axis sibling of [[TextAnalysis.charEntropyStats]] (low
    * entropy ⇒ degenerate repeated-token sequences, the padding/spam
    * signal available on a pre-tokenized corpus without detokenizing).
    * Narrow zero-shuffle projection; the entropy is one codegen'd kernel
    * call per row ([[OpsKernels.intArrayEntropy]]). Output adds:
    * n_tok_total, n_distinct_tok, h_tok. */
  def tokenEntropyStats(df: DataFrame, idCol: String,
      tokensCol: String): DataFrame =
    df.withColumn("n_tok_total", size(col(tokensCol)).cast("long"))
      .withColumn("n_distinct_tok",
        size(array_distinct(col(tokensCol))).cast("long"))
      .withColumn("h_tok", opscol.tokenEntropy(col(tokensCol)))

  /** BPE merge-rule training over the token corpus (Sennrich et al. 2016,
    * the distributed shape): `rounds` iterations of
    *   1. count every ADJACENT token pair (overlaps included — the
    *      classic adjacency count),
    *   2. pick the most frequent pair (tie-break: smallest (a, b) — the
    *      packed-long ascending order, a total deterministic rule),
    *   3. rewrite every sequence with ONE greedy left-to-right
    *      non-overlapping merge of that pair into a fresh symbol
    *      `vocabBase + round`.
    * Returns the trained merge table: (round, a, b, n_pairs, new_id,
    * n_tok_after) — n_pairs is the adjacency count the rule won with,
    * n_tok_after the corpus token count after applying it (≠ before −
    * n_pairs when occurrences overlap, so the greedy semantics are
    * load-bearing in any compare). Stops early if no pair remains.
    *
    * Scale shape, per round: pair extraction is a render-free codegen
    * kernel ([[OpsKernels.tokenPairKeys]], one packed long per
    * adjacency); the count is ONE map-side-combinable hash aggregate
    * onto the LIVE-PAIR vocabulary (bounded by vocab², in practice far
    * smaller — never corpus-sized); the argmax is a TakeOrdered(1) over
    * that vocabulary frame; the winning rule ships to the rewrite as
    * three LITERALS (no join, no broadcast); the rewritten corpus is
    * localCheckpoint'd so round r+1 scans it instead of re-deriving r
    * rewrite chains (the k-means round discipline). The n_tok_after
    * audit is a second action per round over the checkpointed narrow
    * frame — a production trainer folds it into the same pass with
    * observe() (the Stats idiom). Driver state = `rounds` rows. */
  def bpeTrain(seqs: DataFrame, idCol: String, tokensCol: String,
      rounds: Int, vocabBase: Int = 1 << 20): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = seqs.sparkSession
    import spark.implicits._
    var cur = seqs.select(col(tokensCol).as("ts")).localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = cur
        .select(explode(opscol.tokenPairKeys(col("ts"))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("pair"))
        .take(1)
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getLong(0)
        val n = top(0).getLong(1)
        val a = (pair >>> 32).toInt
        val b = (pair & 0xffffffffL).toInt
        val newId = vocabBase + r
        val rewritten = cur
          .withColumn("ts", opscol.bpeMergePair(col("ts"), a, b, newId))
        val nTokAfter =
          if (r == rounds) {
            // FINAL round: nothing trains on this rewrite, so the
            // checkpoint materialization of the whole rewritten corpus
            // is dead weight — the n_tok_after audit is a plain
            // aggregate over the same (checkpointed-input) rewrite
            // chain, one scan either way but no corpus-sized write
            val v = rewritten.agg(sum(size(col("ts")))).head().getLong(0)
            cur.unpersist()
            v
          } else {
            // n_tok_after rides the checkpoint materialization as an
            // observed metric (the Pipeline observe idiom) — one job per
            // round instead of checkpoint + a second audit scan; if the
            // metric doesn't surface (observe fires per action, and a
            // future Spark could change what the checkpoint job reports),
            // fall back to the explicit aggregate LOUDLY
            val obs = new org.apache.spark.sql.Observation(s"bpe_r$r")
            val next = rewritten
              .observe(obs, sum(size(col("ts"))).as("n_tok"))
              .localCheckpoint()
            val v = org.apache.spark.sql.graftshim.observedOr(obs, "n_tok",
                s"bpeTrain round $r: re-scanning")((x: Long) => x) {
              next.agg(sum(size(col("ts")))).head().getLong(0)
            }
            cur.unpersist()
            cur = next
            v
          }
        out += ((r.toLong, a.toLong, b.toLong, n, newId.toLong, nTokAfter))
        r += 1
      }
    }
    cur.unpersist()
    out.toSeq.toDF("round", "a", "b", "n_pairs", "new_id", "n_tok_after")
  }

  /** BPE ENCODE — apply a trained merge table to the corpus: each rule
    * `(a, b, newId)` is one full greedy left-to-right pass, applied in
    * training order (rule r's rewrite is what rule r+1 was trained on,
    * so in-order application reproduces the training-time corpus
    * exactly — the property tok_bpe_apply's oracle hash-checks).
    *
    * Scale shape: the whole merge chain is ONE zero-shuffle projection —
    * `rules.length` fused [[opscol.bpeMergePair]] codegen kernels over each row,
    * no join, no broadcast (the rules are literals baked into the plan,
    * the way a production encoder ships its frozen merges file). A real
    * vocab is ~50k rules ⇒ 50k chained calls would blow the codegen/
    * constant-pool budget; past [[MaxFusedRules]] the chain folds into a
    * single interpreted-loop kernel per row instead ([[OpsKernels
    * .bpeMergeAll]]) — same semantics, still zero-shuffle. */
  val MaxFusedRules = 64
  def bpeApply(seqs: DataFrame, idCol: String, tokensCol: String,
      rules: Seq[(Int, Int, Int)]): DataFrame = {
    val enc =
      if (rules.lengthCompare(MaxFusedRules) <= 0)
        rules.foldLeft(col(tokensCol)) { case (c, (a, b, nid)) =>
          opscol.bpeMergePair(c, a, b, nid)
        }
      else
        opscol.bpeMergeAll(col(tokensCol), rules)
    seqs.select(col(idCol), enc.as("tokens"))
      .withColumn("n_tok", size(col("tokens")).cast("long"))
      .select(idCol, "n_tok", "tokens")
  }
}
