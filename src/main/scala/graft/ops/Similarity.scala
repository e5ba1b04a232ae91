package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>).
  *
  *  - bruteForceTopK: the exactness baseline. Query set is broadcast
  *    (must be small); corpus side streams — one narrow pass + a top-k
  *    window per query. At 100 TB this is the "score everything against
  *    K probes" shape: no corpus shuffle, only the final per-query top-k.
  *  - lshTopK: random-hyperplane LSH — per-row signature (narrow),
  *    shuffle only on (band, bucket); exact cosine re-rank within the
  *    candidate set. The scale path when the query set is large.
  *  - embeddingNearDups: all-pairs near-duplicate detection via the same
  *    LSH buckets (cosine ≥ threshold), never a cross join.
  */
object Similarity {

  /** exact cosine top-k of `queries` (small, broadcast) against `corpus`.
    * Returns (query_id, neighbor_id, rank, sim_e6) — similarity as an
    * integer in 1e-6 units so cross-engine comparison is float-safe. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", opscol.cosineSimF(col("qv"), col("cv")))
      // narrow BEFORE the ranking shuffles: vectors stay in the map stage
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    // per-query group = the WHOLE corpus here — the salted two-phase
    // rank is what keeps the exact baseline runnable at corpus scale
    Ranks.topKPerGroup(scored, col("query_id"), col("neighbor_id"),
      Seq(col("sim").desc, col("neighbor_id").asc), k, "rank")
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        floor(col("sim") * 1e6).cast("long").as("sim_e6"))
  }

  /** Approximate nearest-neighbor top-k — the scale path when the query
    * set is too large to broadcast-score against everything: queries and
    * corpus are bucketed by the SAME hyperplane-LSH banding, candidates
    * are the corpus vectors sharing ≥1 (band, chunk) bucket with the
    * query, and the exact cosine re-ranks within candidates. A query may
    * return fewer than k rows when its buckets are sparse (raise planes/
    * bands, or set `multiProbe`). Shuffles only (band, chunk, id) triples
    * + the candidate pairs; vectors re-join narrowly.
    *
    * `multiProbe` = m > 0 additionally probes, per band, the m buckets at
    * Hamming distance 1 from the query's bucket (chunk with bit i flipped,
    * i < m) — the classic recall/cost dial: candidate volume grows ~×(1+m)
    * on the QUERY side only (the corpus banding is untouched, so the big
    * side's shuffle is unchanged — the right trade at web scale where
    * corpus ≫ queries). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, planes: Int = 16, bands: Int = 4,
      multiProbe: Int = 0): DataFrame = {
    require(planes % bands == 0, "bands must divide planes")
    val per = planes / bands
    require(multiProbe >= 0 && multiProbe <= per, "multiProbe in [0, planes/bands]")
    // banded chunks straight from the plane matrix (opscol.hyperplaneBandChunks):
    // bit-identical to shifting the packed signature for planes <= 64,
    // and lifts the 64-plane cap (only the per-band width must fit a long)
    def banded(df: DataFrame, idAs: String, probes: Int) =
      df.select(col(idCol).as(idAs),
        opscol.hyperplaneBandChunks(col(vecCol), planes, bands).as("cs"))
        .select(col(idAs), posexplode(col("cs")))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk0")
        .select(col(idAs), col("band"), explode(array(
          (col("chunk0") +: (0 until probes).map(i =>
            col("chunk0").bitwiseXOR(lit(1L << i)))): _*)).as("chunk"))
    val cand = banded(queries, "query_id", multiProbe)
      .join(banded(corpus, "neighbor_id", 0), Seq("band", "chunk"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = cand.join(qv, "query_id").join(cv, "neighbor_id")
      .withColumn("sim", opscol.cosineSimF(col("qv"), col("cv")))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    // candidate volume is bucket-bounded but data-dependent (a hot
    // bucket floods a query's group) — salted rank bounds the sort
    Ranks.topKPerGroup(scored, col("query_id"), col("neighbor_id"),
      Seq(col("sim").desc, col("neighbor_id").asc), k, "rank")
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        floor(col("sim") * 1e6).cast("long").as("sim_e6"))
  }

  /** IVF-style ANN top-k — the clustered-data scale path alongside
    * [[lshTopK]]: a deterministic coarse quantizer (the first `nlist`
    * corpus vectors by id serve as centroids) assigns every corpus vector
    * to its nearest-centroid cell; each query probes its `nprobe` nearest
    * cells and re-ranks exactly within them. Per-query work is
    * O(nprobe × cell) instead of O(corpus).
    *
    * 100 TB shape: the corpus-side cell assignment is the [[kmeansAssign]]
    * argmax AGGREGATE over the broadcast-centroid cross — the map-side
    * partial collapses the nlist-times-exploded corpus back to one row
    * per vector BEFORE its shuffle (a row_number window here, the
    * previous plan, shuffled and sorted all N·nlist exploded rows:
    * measured 12 GB of shuffle at N=2M, nlist=256 — vs ~0.6 GB for the
    * aggregate). The query set (the batch-retrieval shape: queries ≪
    * corpus) rides BROADCAST through probe assignment and the candidate
    * join, so corpus vectors are never shuffled again; the only corpus
    * shuffle after assignment carries the narrow (query, neighbor, sim)
    * rows of the final per-query top-k. For a corpus-sized query set,
    * swap the candidate broadcast for a cent_id-keyed shuffle join. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 2,
      centroids: Option[DataFrame] = None): DataFrame = {
    val scored = ivfScored(corpus, queries, idCol, vecCol, nlist, nprobe,
      centroids)
    // a query's group = its probed cells — nprobe-bounded but a hot
    // cell (skewed quantizer) floods it; salted rank bounds the sort
    Ranks.topKPerGroup(scored, col("query_id"), col("neighbor_id"),
      Seq(col("sim").desc, col("neighbor_id").asc), k, "rank")
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        floor(col("sim") * 1e6).cast("long").as("sim_e6"))
  }

  /** the narrow (query_id, neighbor_id, sim) candidate frame [[ivfTopK]]
    * ranks */
  private def ivfScored(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, nlist: Int, nprobe: Int,
      centroids: Option[DataFrame]): DataFrame = {
    requireNumericId(corpus, idCol, "ivfTopK id column")
    // quantizer: a TRAINED centroid table ((cid, cv array<double>) — e.g.
    // [[kmeansCentroids]], SemDeDup/IVF's real configuration) when given;
    // the deterministic first-nlist stand-in otherwise. Trained centroids
    // are double-typed, so their similarity runs on double-cast vectors.
    val cents = centroids match {
      case Some(c) =>
        val cc = c.select(col(c.columns(0)).as("cent_id"),
          col(c.columns(1)).cast("array<double>").as("cent_v"))
        requireNumericId(cc, "cent_id", "ivfTopK centroid id")
        cc
      case None => corpus.orderBy(col(idCol)).limit(nlist)
        .select(col(idCol).as("cent_id"), col(vecCol).as("cent_v"))
    }
    def centSim(v: Column): Column = centroids match {
      case Some(_) => opscol.cosineSimD(v.cast("array<double>"), col("cent_v"))
      case None    => opscol.cosineSimF(v, col("cent_v"))
    }
    // top-1 cell per corpus vector, argmax-as-aggregate (ties → lowest
    // cent_id, matching the window orderBy it replaces); the vector rides
    // the group (all rows identical per id — first() is deterministic)
    val corpusCells = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .crossJoin(broadcast(cents))
      .withColumn("cent_sim", centSim(col("cv")))
      .groupBy("neighbor_id")
      .agg(max(struct(col("cent_sim"), (-col("cent_id")).as("nc"))).as("m"),
        first(col("cv")).as("cv"))
      .select(col("neighbor_id"), (-col("m.nc")).as("cent_id"), col("cv"))
    // nprobe cells per query: row_number window over the SMALL query set
    val w0 = Window.partitionBy(col("query_id"))
      .orderBy(col("cent_sim").desc, col("cent_id").asc)
    val queryCells = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(cents))
      .withColumn("cent_sim", centSim(col("qv")))
      .withColumn("_rn", row_number().over(w0))
      .filter(col("_rn") <= nprobe)
      .select(col("query_id"), col("cent_id"), col("qv"))
    corpusCells.join(broadcast(queryCells), "cent_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", opscol.cosineSimF(col("qv"), col("cv")))
      // narrow projection BEFORE the top-k ranking's shuffles: vectors
      // stay in the map stage, only (query, neighbor, sim) rows move
      .select(col("query_id"), col("neighbor_id"), col("sim"))
  }

  /** SemDeDup-style SEMANTIC dedup verdict (Abbas et al. 2023): partition
    * the corpus into `nlist` cells with a deterministic coarse quantizer
    * (the first `nlist` vectors by id are the centroids — same quantizer
    * as [[ivfTopK]]), generate all pairs WITHIN each cell, and drop every
    * vector that has a lower-id cell-mate with cosine ≥ `minSimE6`/1e6.
    * TOTAL output: `(idCol, keep boolean)` — one row per input vector.
    *
    * Drop rule: `drop(x) ⇔ ∃ y in cell(x) with y < x ∧ cos(x,y) ≥ τ` — the
    * paper keeps one exemplar per ε-ball; pinning the MIN id makes the
    * verdict deterministic and engine-replicable (the paper's choice of
    * exemplar is arbitrary/random).
    *
    * 100 TB shape: centroid assignment is a broadcast cross of `nlist`
    * tiny rows (O(N·nlist), embarrassingly parallel); within-cell pairs
    * stream through one cell-keyed shuffle ([[Dedup.withinBucketPairs]] —
    * no self-join, no cartesian); id-pairs re-join the vectors narrowly
    * and the verdict is a left-anti-style join on id. Within-cell pair
    * work is inherently O(cell²) — that is SemDeDup's contract — so
    * `nlist` must scale with the corpus (the paper runs k=50k on 600M
    * docs, keeping cells at ~12k); a k-means refinement of the centroids
    * changes only the quantizer, not this plan. */
  /** nearest-centroid cell assignment of [[semanticDedup]] — the O(N·nlist)
    * broadcast cross (exposed for the plan-shape spec: the centroid table
    * must SHIP, never shuffle). */
  private[ops] def assignCells(vecs: DataFrame, nlist: Int): DataFrame = {
    requireNumericId(vecs, "id", "assignCells id")
    val cents = vecs.orderBy(col("id")).limit(nlist)
      .select(col("id").as("cent_id"), col("v").as("cent_v"))
    // argmax as a map-side-combinable AGGREGATE (ties → lowest cent_id):
    // the partial collapses the nlist-times-exploded corpus back to one
    // row per vector before the shuffle — the row_number window this
    // replaces shuffled and sorted every exploded row (see ivfTopK)
    vecs.crossJoin(broadcast(cents))
      .withColumn("cent_sim", opscol.cosineSimF(col("v"), col("cent_v")))
      .groupBy("id")
      .agg(max(struct(col("cent_sim"), (-col("cent_id")).as("nc"))).as("m"))
      .select(col("id"), (-col("m.nc")).as("cent_id"))
  }

  /** [[assignCells]] against an EXTERNAL trained centroid table (first
    * column = numeric cell id, second = array<double> centroid — e.g.
    * [[kmeansCentroids]] output). Same broadcast-cross + argmax-aggregate
    * plan; similarities run in double to match the trained centroids'
    * arithmetic. */
  /** Quantizer health diagnostics — the monitoring table every IVF /
    * SemDeDup deployment watches: per centroid cell, how many vectors
    * land there (cell BALANCE — a hot cell floods ivfTopK's probe and
    * semanticDedup's pair stage; an empty cell is a wasted list) and how
    * tight they sit (mean/min cosine to the centroid — COHESION; a low
    * mean says the quantizer needs retraining or more cells). TOTAL over
    * the centroid table: empty cells appear with n_vecs = 0 and null
    * sims rather than silently vanishing.
    *
    * 100 TB shape: same argmax-as-aggregate as [[assignCellsWith]] (the
    * nlist-exploded corpus collapses map-side before any shuffle), then
    * one nlist-bounded aggregate; the centroid table rides broadcast
    * twice. Nothing corpus-sized ever shuffles except (cent_id, sim)
    * pairs, and those combine map-side. */
  def clusterStats(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    requireNumericId(corpus, idCol, "clusterStats id")
    val cents = centroids.select(
      col(centroids.columns(0)).as("cent_id"),
      col(centroids.columns(1)).cast("array<double>").as("cent_v"))
    requireNumericId(cents, "cent_id", "clusterStats centroid id")
    val assigned = corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("vd"))
      .crossJoin(broadcast(cents))
      .withColumn("cent_sim", opscol.cosineSimD(col("vd"), col("cent_v")))
      .groupBy("id")
      .agg(max(struct(col("cent_sim").as("cent_sim"),
        (-col("cent_id")).as("nc"))).as("m"))
      .select((-col("m.nc")).as("cent_id"), col("m.cent_sim").as("sim"))
    val stats = assigned.groupBy("cent_id").agg(
      count(lit(1)).as("n_vecs"),
      avg("sim").as("mean_sim"), min("sim").as("min_sim"))
    // stats is nlist-bounded (one row per centroid) but derives from a
    // corpus aggregate whose size estimate is unknown — without the hint
    // the totality join plans as a SortMergeJoin of two ≤nlist-row frames
    // (2 exchanges + sorts; plans/r06/sim_cluster_stats_before.txt)
    cents.select("cent_id").join(broadcast(stats), Seq("cent_id"), "left")
      .select(col("cent_id"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
        col("mean_sim"), col("min_sim"))
  }

  private[ops] def assignCellsWith(vecs: DataFrame,
      centroids: DataFrame): DataFrame = {
    val cents = centroids.select(
      col(centroids.columns(0)).as("cent_id"),
      col(centroids.columns(1)).cast("array<double>").as("cent_v"))
    requireNumericId(cents, "cent_id", "assignCellsWith centroid id")
    vecs.select(col("id"), col("v").cast("array<double>").as("vd"))
      .crossJoin(broadcast(cents))
      .withColumn("cent_sim", opscol.cosineSimD(col("vd"), col("cent_v")))
      .groupBy("id")
      .agg(max(struct(col("cent_sim"), (-col("cent_id")).as("nc"))).as("m"))
      .select(col("id"), (-col("m.nc")).as("cent_id"))
  }

  /** @param centroids trained quantizer (cid, cv) — SemDeDup's real
    *   configuration feeds [[kmeansCentroids]] here; None = the
    *   deterministic first-`nlist` stand-in. CONTRACT: within-cell pair
    *   work is O(cell²) — the quantizer's cell count (nlist / the trained
    *   k) must scale with the corpus so cells stay bounded (the paper
    *   runs k=50k on 600M docs, ~12k per cell). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      minSimE6: Long, nlist: Int = 16,
      centroids: Option[DataFrame] = None): DataFrame = {
    require(nlist > 0, s"nlist must be positive, got $nlist")
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val cells = centroids match {
      case Some(c) => assignCellsWith(vecs, c)
      case None    => assignCells(vecs, nlist)
    }
    val dropped = Dedup.withinBucketPairs(cells, Seq("cent_id"), Seq("id"))
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
      .filter(floor(opscol.cosineSimF(col("v_a"), col("v_b")) * 1e6)
        .cast("long") >= minSimE6)
      .select(greatest(col("id_a"), col("id_b")).as("id"))
      .distinct()
    vecs.select(col("id"))
      .join(dropped.withColumn("_d", lit(true)), Seq("id"), "left")
      .select(col("id").as(idCol), col("_d").isNull.as("keep"))
  }

  /** Candidate pairs sharing ≥1 LSH band, re-ranked by exact cosine.
    * Returns near-dup pairs (id_a, id_b, sim_e6) with cosine ≥ minSimE6.
    *
    * Shuffle profile: the signature is ONE codegen'd expression per row
    * ([[opscol.hyperplaneSig]], packed long, cached ±1 plane matrix); banding
    * explodes to `bands` rows of (band int, chunk long, id) — 20 B/row —
    * and buckets join on (band, chunk). Candidate id-pairs are distinct'd
    * BEFORE the vectors re-join, so embeddings never ride the pair shuffle.
    * At larger scale raise `planes`/`bands` to keep per-bucket populations
    * bounded (chunk cardinality is 2^(planes/bands) per band). */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      minSimE6: Long, planes: Int = 16, bands: Int = 4): DataFrame = {
    require(planes % bands == 0, "bands must divide planes")
    val per = planes / bands
    val mask = (1L << per) - 1L
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    val banded = vecs
      .withColumn("s", opscol.hyperplaneSig(col("v"), planes))
      .select(col("id"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("s"), b * per).bitwiseAND(lit(mask))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
    // join-free within-bucket pairs (see Dedup.withinBucketPairs): one
    // banded shuffle, pairs streamed per equal-key run; id-pairs-only
    // distinct, then re-join the vectors
    Dedup.withinBucketPairs(banded, Seq("chunk", "band"), Seq("id"))
      .distinct()
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
      .withColumn("sim_e6",
        floor(opscol.cosineSimF(col("v_a"), col("v_b")) * 1e6).cast("long"))
      .filter(col("sim_e6") >= minSimE6)
      .select("id_a", "id_b", "sim_e6")
  }

  /** Spherical k-means (Lloyd, fixed `iters` rounds, deterministic
    * first-k init): the clustering step of cluster-balanced curation —
    * SemDeDup's real quantizer is a trained k-means (Abbas et al. 2023
    * §3 run k=50k over 600M embeddings); [[ivfTopK]]'s first-k centroids
    * are the untrained stand-in this operator upgrades.
    *
    * Returns the final assignment: (idCol, cid, sim_e6) — every vector's
    * cluster and its cosine to the trained centroid (floor×1e6, so the
    * centroid VALUES are load-bearing in an integer compare).
    *
    * 100 TB shape, per round:
    *  - assignment is a broadcast cross of k tiny centroid rows
    *    (O(N·k)); the arg-max is a `max(struct(sim, -cid))` AGGREGATE,
    *    not a window — map-side partials collapse the k candidate rows
    *    per vector before the shuffle, so it carries ~N rows, and the
    *    vector rides the same aggregate (constant per id), so no re-join
    *    against the corpus.
    *  - the centroid update explodes members to (cid, dim, x) and
    *    mean-reduces: map-side combine bounds the shuffle at
    *    k·d rows PER PARTITION regardless of N.
    *  - each round's k×d centroid table is localCheckpoint'd (eager):
    *    round t's plan would otherwise re-run every earlier round once
    *    per consumer, and the lineage would deepen linearly.
    * Ties (equidistant centroids) break to the smaller cid — the same
    * deterministic rule as [[assignCells]], engine-replicable.
    */
  // all fields of a group row are identical per id ⇒ first() is
  // deterministic here; it just dodges an O(d) array comparison
  private def assignKm(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .withColumn("sim", opscol.cosineSimD(col("v"), col("cv")))
      .groupBy("id")
      .agg(max(struct(col("sim"), (-col("cid")).as("nc"))).as("m"),
        first(col("v")).as("v"))
      .select(col("id"), (-col("m.nc")).as("cid"), col("v"),
        col("m.sim").as("sim"))

  /** The TRAINED centroid table itself — (cid, cv array<double>) after
    * `iters` Lloyd rounds from the deterministic first-k init: the
    * quantizer artifact [[semanticDedup]] / [[ivfTopK]] accept via their
    * `centroids` parameter (SemDeDup's real configuration — Abbas et al.
    * 2023 §3 train k-means and dedup within its cells). Same per-round
    * shape as documented on [[kmeansAssign]]. */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): DataFrame = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got $k, $iters")
    requireNumericId(df, idCol, "kmeansCentroids id")
    val vecs = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    var cents = vecs.orderBy(col("id")).limit(k)
      .select(col("id").as("cid"), col("v").as("cv"))
    for (_ <- 1 to iters) {
      cents = assignKm(vecs, cents)
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos").agg(avg(col("x")).as("m"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pv"))
        .select(col("cid"),
          transform(col("pv"), p => p.getField("m")).as("cv"))
        .localCheckpoint()
    }
    cents
  }

  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): DataFrame = {
    val vecs = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    assignKm(vecs, kmeansCentroids(df, idCol, vecCol, k, iters))
      .select(col("id").as(idCol), col("cid"),
        floor(col("sim") * 1e6).cast("long").as("sim_e6"))
  }

  /** The deterministic lowest-id argmax tie-break used throughout this
    * file negates the id (`max(struct(sim, -id))`) — sound ONLY for
    * numeric ids (negating a string yields null and the tie-break
    * silently disappears); enforced here rather than documented away. */
  private def requireNumericId(df: DataFrame, c: String, what: String): Unit =
    require(df.schema(c).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"$what column '$c' must be numeric (got ${df.schema(c).dataType}): " +
        "the deterministic lowest-id argmax tie-break negates it")
}
