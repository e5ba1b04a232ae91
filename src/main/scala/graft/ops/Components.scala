package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a verified near-dup pair list — the
  * "pairs → keep/drop verdict" step every production dedup ships (the
  * ccnet/Gopher-style pipelines cluster before dropping): each document
  * joins the component of everything it was verified near, and the
  * component's min id becomes the representative to KEEP.
  *
  * Algorithm: iterative min-label propagation in DataFrames with path
  * halving (`rep := rep(rep)` each round, the pointer-jumping step of
  * classic PRAM CC), so label information travels doubling distances and
  * convergence is O(log n) rounds rather than O(diameter) — near-dup
  * graphs are mostly near-cliques (1-2 rounds) but boilerplate chains do
  * occur, and a chain must not cost a round per hop.
  *
  * 100 TB shape: every round is two key-shuffles over the LABEL table,
  * whose row count is #vertices-with-an-edge — orders of magnitude smaller
  * than the corpus (only docs that near-matched something appear). Each
  * round ends in `localCheckpoint` to truncate lineage (an iterative plan
  * otherwise re-derives every prior round on each action) and a ≤1-row
  * convergence count. No driver-side graph state ever materializes.
  */
object Components {

  /** (id, rep) for every vertex appearing in `pairs`, where `rep` is the
    * minimum id of the vertex's connected component. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 50): DataFrame = {
    val edges = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
    // undirected: propagate along both directions. Symmetrize with ONE
    // explode pass rather than union(edges, swap(edges)) — the union form
    // evaluates the (possibly expensive) upstream pair pipeline twice.
    // distinct caps the edge table at the true edge count (pair lists from
    // multi-band LSH can carry the same pair more than once). Partitioned
    // by the probe key v before the checkpoint (LogicalRDD preserves the
    // partitioning), so the per-round join never re-shuffles the edge
    // table — only the far smaller label table moves each round.
    val sym = edges
      .select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
      .repartition(col("v"))
      .localCheckpoint()
    // round 1 is free: with rep==id initially, neighbor-min is just
    // min(v) per u — one groupBy over sym, no join
    var labels = sym.groupBy(col("u").as("id")).agg(min("v").as("mv"))
      .select(col("id"), least(col("id"), col("mv")).as("rep"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // 1) neighbor-min: rep := min(rep, min over neighbors' rep)
      val nbrMin = sym.join(labels, sym("v") === labels("id"))
        .groupBy(sym("u").as("nid")).agg(min("rep").as("nrep"))
      val stepped = labels.join(nbrMin, labels("id") === nbrMin("nid"), "left")
        .select(labels("id"), labels("rep").as("old"),
          least(labels("rep"), coalesce(col("nrep"), labels("rep"))).as("rep"))
      // 2) path halving: rep := rep's rep (reps are themselves vertex ids,
      // so the lookup is a self-join on the same label table)
      val reps = stepped.select(col("id").as("rid"), col("rep").as("rrep"))
      // convergence rides the checkpoint materialization as an OBSERVED
      // metric (the bpeTrain observe idiom): the previous shape kept `old`
      // in the checkpointed payload and ran a separate filter-isEmpty
      // action over it — at scale a second full scan of every round's
      // label table, and one extra job per round at any scale. The
      // changed-row count is collected by the SAME job that materializes
      // the round, and `old` no longer rides the checkpoint at all.
      val obs = new org.apache.spark.sql.Observation(
        s"cc_round_${iter}_${System.nanoTime()}")
      val halved = stepped.join(reps, stepped("rep") === reps("rid"), "left")
        .select(stepped("id"), col("old"),
          coalesce(col("rrep"), stepped("rep")).as("rep"))
        .observe(obs, count(when(col("rep") =!= col("old"), 1)).as("n_changed"))
        .select("id", "rep")
        .localCheckpoint()
      // count() never returns null, even on an empty round; the fallback
      // recomputes the changed set against the previous labels, since
      // halved no longer carries `old`
      converged = org.apache.spark.sql.graftshim.observedOr(obs, "n_changed",
          s"connectedComponents round $iter: re-scanning")((n: Long) => n == 0L) {
        halved.join(labels.withColumnRenamed("rep", "_prev"), Seq("id"))
          .filter(col("rep") =!= col("_prev")).isEmpty
      }
      // the new round is materialized with truncated lineage — the
      // previous round's checkpoint blocks can go
      org.apache.spark.sql.graftshim.unpersistCheckpoint(labels)
      labels = halved
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIters rounds")
    org.apache.spark.sql.graftshim.unpersistCheckpoint(sym)
    labels
  }

  /** The keep/drop verdict frame: (id, rep, keep) — `keep` marks the
    * component representative (min id); everything else is a DROP. */
  def dedupVerdict(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .select(col("id"), col("rep"), (col("rep") === col("id")).as("keep"))

  /** Quality-aware verdict — keep the BEST-scoring doc per duplicate
    * cluster instead of the min-id one (the MassiveText/RefinedWeb
    * policy: when near-dups collide, survive the longest/highest-quality
    * copy, not an arbitrary one). `scores` is an (idCol, scoreCol)
    * frame covering every doc that appears in `pairs` (higher = better).
    * Output: (id, rep, score, keep) — `rep` stays the min-id component
    * label (the stable cluster identity), `keep` marks the argmax
    * member under (score desc, id asc).
    *
    * 100 TB shape: the argmax is a `min_by` over (−score, id) — a
    * map-side-combinable aggregate, so a million-member boilerplate
    * cluster reduces to one row per input partition BEFORE its shuffle
    * (never a window over the skewed cluster key). Requires a numeric
    * scoreCol (the negation is the tie-break contract — see
    * Similarity.requireNumericId for the precedent). */
  def bestRepVerdict(pairs: DataFrame, aCol: String, bCol: String,
      scores: DataFrame, idCol: String, scoreCol: String): DataFrame = {
    require(scores.schema(scoreCol).dataType.isInstanceOf[
      org.apache.spark.sql.types.NumericType],
      s"bestRepVerdict score column '$scoreCol' must be numeric " +
        "(its negation is the argmax ordering)")
    val labels = connectedComponents(pairs, aCol, bCol)
    val scored = labels.join(
      scores.select(col(idCol).as("id"),
        col(scoreCol).cast("double").as("_score")), "id")
    val best = scored.groupBy(col("rep").as("_brep"))
      .agg(min_by(col("id"),
        struct((-col("_score")).as("ns"), col("id"))).as("_best_id"))
    scored.join(best, col("rep") === col("_brep"))
      .select(col("id"), col("rep"), col("_score").as("score"),
        (col("id") === col("_best_id")).as("keep"))
  }
}
