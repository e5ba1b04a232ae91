package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The end-to-end corpus-cleaning composition every production
  * training-data pipeline runs (ccnet/Gopher/RefinedWeb shape): cheap
  * per-row filters FIRST (quality counters, language ID — pure codegen'd
  * projections that prune the corpus before anything shuffles), then
  * exact dedup (one hash-shuffle on a 128-bit fingerprint), then
  * MinHash-LSH near-dup detection + connected components over the
  * verified pair graph, keeping each component's min-id representative.
  *
  * Returns a TOTAL verdict: every input document gets exactly one status —
  *   kept | drop_quality | drop_lang | drop_exact | drop_neardup
  * where status is the FIRST stage that rejected the document. Total-ness
  * is what makes the operator oracle-checkable end to end (the driver's
  * DuckDB compare sees all N rows, not just survivors) and what a real
  * pipeline wants anyway: drop REASONS are the observability signal that
  * tells you which filter is eating your corpus.
  *
  * 100 TB shape, stage by stage:
  *  - quality/lang: narrow per-row projections, no shuffle; they run
  *    FIRST precisely so the expensive stages see the smallest corpus.
  *  - exact: one shuffle on md5(normalized) — never on the full text.
  *  - near-dup: the [[Dedup.minhashNearDups]] banded-LSH path (no
  *    cartesian, bucket-bounded candidate work) over exact-dedup
  *    SURVIVORS only — the composition order that keeps byte-identical
  *    boilerplate floods from wedging the within-bucket pair stream
  *    (see [[Dedup.nearDupsDeduped]]).
  *  - components: [[Components.dedupVerdict]] — label table holds only
  *    docs that near-matched something, O(log n) pointer-jumping rounds.
  *  - verdict assembly: id-keyed joins carrying only (id, flag) columns;
  *    the text never shuffles after the exact stage.
  *
  * The one multi-consumer frame — the cleaned-survivor reps corpus — is
  * localCheckpoint'd (the dsirSelect idiom): as a pure plan Catalyst
  * re-derived the corpus scan + fingerprint + aggregate + semi-join once
  * per consumer (measured 7.4s → 2.0s at sf0.1, CHANGES_r5.md). reps also
  * serves as the keeper-id set for the verdict's _is_rep probe (its ids
  * ARE the keeper ids by construction), so the keeper frame itself has a
  * single consumer and no checkpoint. At production scale the reps
  * materialization is the artifact a pipeline persists anyway: it is
  * the deduplicated corpus every downstream stage reads.
  */
object CorpusClean {

  /** (id, status) for every input row. Thresholds are the knobs a real
    * pipeline sweeps; defaults match the driver query / oracle. */
  def cleanVerdict(df: DataFrame, idCol: String, textCol: String,
      minWords: Int = 20, lang: String = "en", minJaccardPct: Int = 60,
      numHashes: Int = 64, bands: Int = 16, shingleN: Int = 3): DataFrame = {
    val t = col(textCol)
    // stage flags: one narrow codegen'd pass over the corpus
    val staged = df.select(col(idCol).as("id"), t.as("text"),
      (TextAnalysis.tokenCountWs(t) >= minWords).as("q_ok"),
      (TextAnalysis.langId(t) === lang).as("l_ok"))
    // exact dedup among filter survivors — the flood-proof dd_lines idiom
    // (same as Dedup.dropExactDupes): keeper ids via a map-side-combinable
    // min(id) aggregate on the fingerprint, rep flag re-joined on the
    // UNIFORM id key; a row_number window here sorted every copy of a
    // flooded boilerplate text inside one partition
    val survivors = staged.filter(col("q_ok") && col("l_ok"))
    // keepers has exactly ONE consumer now (the reps semi-join): the
    // verdict's _is_rep flag reads the materialized reps frame instead —
    // reps IS the survivor rows whose id is a keeper id, so reps.id ≡ the
    // keeper id set and the second checkpoint (and its extra corpus-
    // derived aggregation job) is dead weight at any scale
    val keepers = survivors
      .groupBy(TextAnalysis.fingerprint(col("text")).as("_fp"))
      .agg(min(col("id")).as("_keep_id"))
      .select(col("_keep_id"))
    // TEXT rows never join against anything but an id set: reps = the
    // survivor texts whose id is a keeper id (left-semi on the uniform
    // id key). reps is materialized too — it feeds the shingle→minhash→
    // banding chain whose bucket/pair stages are multi-consumer, and it
    // IS the cleaned-survivor corpus the scaladoc tells production
    // pipelines to persist — and since r6 it also serves the verdict's
    // _is_rep probe. Measured (sf0.1, warm; CHANGES_r5.md): the pure-plan
    // composition re-derived filter+fingerprint+agg+semi-join per
    // consumer at 7.4s end-to-end; checkpointing reps runs the identical
    // verdict in ~2s.
    val reps = survivors.select("id", "text")
      .join(keepers, col("id") === col("_keep_id"), "left_semi")
      .localCheckpoint(true)
    val pairs = Dedup.minhashNearDups(reps, "id", "text", minJaccardPct,
      numHashes, bands, shingleN)
    val verdict = Components.dedupVerdict(pairs, "id_a", "id_b")
      .select(col("id"), col("keep").as("_nd_keep"))
    staged.select("id", "q_ok", "l_ok")
      .join(reps.select(col("id"), lit(true).as("_is_rep")), Seq("id"), "left")
      .join(verdict, Seq("id"), "left")
      .select(col("id"),
        when(!col("q_ok"), lit("drop_quality"))
          .when(!col("l_ok"), lit("drop_lang"))
          .when(!coalesce(col("_is_rep"), lit(false)), lit("drop_exact"))
          .when(col("_nd_keep") === false, lit("drop_neardup"))
          .otherwise(lit("kept")).as("status"))
  }
}
