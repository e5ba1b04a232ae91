package graft.scaling

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.hotdog.{Configs, Pipeline, Router, Streaming, exprs}
import graft.ops.{Dedup, Packing, Sessionize, Similarity, TokenOps}

/** Per-topic routed-row counters of a sink directory. */
private object Sink {
  def topicCounts(s: SparkSession, dir: String): Map[String, Long] =
    s.read.parquet(dir).groupBy("topic").count().collect()
      .map(r => s"routed.${r.getString(0)}" -> r.getLong(1)).toMap
  def routed(c: Map[String, Long]): Long =
    c.collect { case (k, v) if k.startsWith("routed.") => v }.sum
  def topics(c: Map[String, Long]): Map[String, Long] = c.filter(_._1.startsWith("routed."))
}

/** The flagship end to end: scan(parquet sequences) → decode → syslog parse
  * → rule-cascade route (hotdog.yml) → fan-out parquet sink by topic, salt
  * buckets tracking the 256 shuffle partitions. Counters: routed rows per
  * topic, read back from the written sink. */
object FlagshipCampaign extends Campaign {
  val name = "flagship"
  val warmSize = 2000000L

  def corpus(s: SparkSession, size: Long): Seq[(String, DataFrame)] =
    Seq("sequences" -> graft.hotdog.Corpus.sequences(s, size))

  def run(s: SparkSession, job: String, in: Input, out: String): () => Map[String, Long] = {
    Pipeline.writeFanOut(Router.route(in.table(s, "sequences"), Configs.flagship),
      s"$out/sink", batchId = 0L)
    () => Sink.topicCounts(s, s"$out/sink")
  }

  def units(size: Long, c: Map[String, Long]): Seq[(String, Double)] =
    Seq("input rows/s" -> size.toDouble, "routed rows/s" -> Sink.routed(c).toDouble)

  def header(size: Long, c: Map[String, Long]): String =
    f"""# BENCH/BASELINE — flagship scaling evidence (two-cluster-size protocol per BASELINE.md)
       |
       |End-to-end job: scan(parquet sequences) → decode(tokens) →
       |syslog parse → rule-cascade route (hotdog.yml semantics) →
       |fan-out parquet sink partitioned by topic. Same job, same input,
       |two parallelism levels. Input: $size%d deterministically synthesized
       |sequences (seed 42, ~50%% hot-source skew). Shuffle partitions and
       |sink salt buckets are held constant across the two cluster sizes, as
       |in production: tying them to the core count would make the levels
       |run different plans (4× the sink files and commits on the big one).
       |""".stripMargin

  /** token-array equality of every routed row and per-sink count parity
    * (router counts == the levels' written sink counts) */
  def verify(s: SparkSession, in: Input, c: Map[String, Long]): Verification = {
    val perTopic = Pipeline.emittedOnly(Router.route(in.table(s, "sequences"), Configs.flagship))
      .groupBy("topic").agg(
        count(lit(1)).as("n"),
        sum(when(exprs.stringToCodepoints(col("line")) === col("tokens"), 0L)
          .otherwise(1L)).as("bad"))
      .collect()
    val nRouted = perTopic.map(_.getLong(1)).sum
    val nBad = perTopic.map(_.getLong(2)).sum
    val parity = perTopic.map(r => s"routed.${r.getString(0)}" -> r.getLong(1)).toMap == Sink.topics(c)
    Verification(Seq(
      f"- routed rows: $nRouted%d; token-array equality failures: $nBad%d " +
        f"(pass rate ${100.0 * (nRouted - nBad) / math.max(nRouted, 1)}%.2f%%)",
      s"- per-sink count parity (router counts == written sink counts): $parity"),
      ok = nBad == 0 && parity)
  }
}

/** The streaming path: `Streaming.routeStream` — readStream(sequences) →
  * foreachBatch(route → fan-out sink + audit, checkpointed, idempotent) —
  * run to completion under Trigger.AvailableNow from a fresh checkpoint.
  * Unlike the batch flagship, every run pays per-trigger file listing,
  * offset WAL/commit fsyncs, per-batch sink commits and audit writes.
  * Counters: routed rows per topic in the sink, and the micro-batch count. */
object StreamCampaign extends Campaign {
  val name = "stream"
  val warmSize = 2000000L
  /** A file-source micro-batch's scan parallelism is the number of files
    * in the TRIGGER, not in the corpus: at 16 files per trigger the fused
    * scan→route stage ran 16 tasks and idled half of local[32] (measured
    * eff 0.36). 64 files per trigger = 2 waves at 32 cores, and 256 files
    * give 4 micro-batches per run. */
  private val CorpusFiles = 256
  private val FilesPerTrigger = 64
  // AQE coalesced the @32 fan-out write to ~1.1 task waves at the default
  // advisory size (util 0.65-0.72); 16m keeps ~4 waves and costs nothing at 8
  override val conf = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m")

  def corpus(s: SparkSession, size: Long): Seq[(String, DataFrame)] =
    Seq("sequences" -> graft.hotdog.Corpus.sequences(s, size).repartition(CorpusFiles))

  def run(s: SparkSession, job: String, in: Input, out: String): () => Map[String, Long] = {
    Streaming.routeStream(s, s"${in.dir}/sequences", Configs.flagship,
      s"$out/sink", s"$out/ckpt", maxFilesPerTrigger = FilesPerTrigger).awaitTermination()
    () => Sink.topicCounts(s, s"$out/sink") + ("batches" ->
      s.read.parquet(s"$out/sink").select("batch_id").distinct().count())
  }

  def units(size: Long, c: Map[String, Long]): Seq[(String, Double)] =
    Seq("input rows/s" -> size.toDouble, "routed rows/s" -> Sink.routed(c).toDouble)

  def header(size: Long, c: Map[String, Long]): String =
    f"""# BENCH/STREAMING — streaming-path scaling evidence
       |
       |Job: `Streaming.routeStream` — readStream(parquet sequences,
       |$CorpusFiles%d files, maxFilesPerTrigger=$FilesPerTrigger%d → ${c("batches")}%d
       |micro-batches) → foreachBatch(decode → parse → rule-cascade route
       |→ fan-out parquet sink + audit table, one cascade evaluation per
       |batch via Pipeline.writeBatch) with a fresh checkpoint per run,
       |run to completion under Trigger.AvailableNow; $size%d rows. Unlike
       |the batch flagship every run pays per-trigger file listing, offset
       |WAL/commit fsyncs, per-batch sink commits and the cross-batch
       |checkpoint. AQE advisory partition size 16m at both levels.
       |""".stripMargin

  /** the streamed per-topic sink counts equal a batch-mode route */
  def verify(s: SparkSession, in: Input, c: Map[String, Long]): Verification = {
    val batch = Pipeline.emittedOnly(Router.route(in.table(s, "sequences"), Configs.flagship))
      .groupBy("topic").count().collect()
      .map(r => s"routed.${r.getString(0)}" -> r.getLong(1)).toMap
    val parity = batch == Sink.topics(c)
    Verification(Seq(
      s"- per-topic sink counts of the streaming runs equal the batch-mode " +
        s"route over the same corpus: $parity (routed rows ${Sink.routed(c)} " +
        s"across ${Sink.topics(c).size} topics, ${c("batches")} micro-batches)"),
      ok = parity)
  }
}

/** [[Dedup.minhashNearDups]] end to end (scan → shingle → minhash → band
  * shuffle → bucket pairs → distinct → exact-jaccard verify) over a corpus
  * with PLANTED near-dup clusters.
  *
  * Corpus design (deterministic, no external data): every block of 100
  * doc ids plants one 4-member cluster (ids ≡ 0..3 mod 100). Members
  * share 14 of 15 words (word 7 is a per-member unique token), so every
  * one of the C(4,2)=6 intra-cluster pairs has 3-gram-shingle jaccard
  * 10/16 = 62.5% — above the 60% threshold. Non-members draw all 15
  * words per-id from a 50k vocabulary → cross-pair jaccard ≈ 0. Planted
  * pairs therefore number exactly (n/100)·6, and measured recall =
  * found-planted / expected. At 64 hashes × 32 bands × 2 rows the LSH
  * miss probability per planted pair is (1 − 0.625²)³² ≈ 1.3e-7.
  * Counters: pairs found. */
object DedupCampaign extends Campaign {
  val name = "dedup"
  val warmSize = 1000000L
  private val MinJaccardPct = 60
  private val NumHashes = 64
  private val Bands = 32
  private val ShingleN = 3

  /** planted-cluster docs (see object doc). Deterministic in `n`. */
  def docs(s: SparkSession, n: Long, parts: Int = 256): DataFrame = {
    val id = col("id")
    // NB Column./ is FLOATING division — integer block arithmetic via mod
    val block = id - (id % 100L)
    val isMember = id % 100L < 4L
    // members draw base words from the BLOCK seed (shared within the
    // cluster), non-members from their own id. Position i draws from its
    // OWN residue class (word index ≡ i mod 15), so no two positions of
    // one doc collide — every planted pair's shingle sets differ in
    // exactly the 3 trigrams covering position 7, jaccard 10/16 BY
    // CONSTRUCTION (a uniform draw let ~0.2% of clusters collide two
    // shared words, dropping those pairs below the verify threshold).
    def word(i: Int) =
      concat(lit("w"), pmod(xxhash64(col("seed"), lit(i)), lit(3333L)) * 15 + i)
    val words = (0 until 15).map { i =>
      if (i == 7) when(isMember, concat(lit("m"), id)).otherwise(word(i))
      else word(i)
    }
    s.range(0, n, 1, parts)
      .withColumn("seed", when(isMember, block).otherwise(id))
      .select(id.as("doc_id"), concat_ws(" ", words: _*).as("text"))
  }

  def corpus(s: SparkSession, size: Long): Seq[(String, DataFrame)] = Seq("docs" -> docs(s, size))

  private def nearDups(s: SparkSession, in: Input): DataFrame =
    Dedup.minhashNearDups(in.table(s, "docs"), "doc_id", "text",
      MinJaccardPct, NumHashes, Bands, ShingleN, None)

  def run(s: SparkSession, job: String, in: Input, out: String): () => Map[String, Long] = {
    val pairs = nearDups(s, in).count()
    () => Map("pairs" -> pairs)
  }

  def units(size: Long, c: Map[String, Long]): Seq[(String, Double)] =
    Seq("docs/s" -> size.toDouble, "verified pairs/s" -> c("pairs").toDouble)

  def header(size: Long, c: Map[String, Long]): String =
    f"""# BENCH/DEDUP — minhash-LSH near-dup scaling evidence
       |
       |End-to-end job: scan(parquet docs) → WordShingles(3) → MinHash(64)
       |→ band shuffle (32 bands × 2 rows, integer buckets) → join-free
       |within-bucket pair generation → global pair distinct → exact
       |jaccard verify (≥ $MinJaccardPct%d%%). Same job, same $size%d-doc corpus
       |with planted 4-member near-dup clusters, two parallelism levels.
       |""".stripMargin

  /** recall against the plant and the band-0 bucket-size distribution: the
    * max bucket, not the corpus size, caps any single task's pair work */
  def verify(s: SparkSession, in: Input, c: Map[String, Long]): Verification = {
    val agg = nearDups(s, in).agg(
      count(lit(1)).as("found"),
      sum(when(col("id_a") - (col("id_a") % 100) === col("id_b") - (col("id_b") % 100) &&
        col("id_a") % 100 < 4 && col("id_b") % 100 < 4, 1L).otherwise(0L)).as("planted_found"),
      sum(when(col("jaccard_pct") < MinJaccardPct, 1L).otherwise(0L)).as("below_threshold"))
      .collect()(0)
    val (found, plantedFound, belowThr) = (agg.getLong(0), agg.getLong(1), agg.getLong(2))
    val expected = (in.size / 100L) * 6L
    // bands are symmetric by construction: band 0 alone keeps this pass at
    // n rows instead of n×32
    val bs = Dedup.bandedBuckets(in.table(s, "docs"), "doc_id", "text",
        NumHashes, Bands, ShingleN, None)
      .filter(col("band") === 0)
      .groupBy("bucket").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)), max(col("sz")),
        sum(when(col("sz") > 1, 1L).otherwise(0L)),
        sum(when(col("sz") > 4, 1L).otherwise(0L)),
        // Column./ is FLOATING division — cast back so getLong is valid
        sum((col("sz") * (col("sz") - 1) / 2).cast("long")))
      .collect()(0)
    Verification(Seq(
      f"- planted near-dup pairs (6 per 100-id block, jaccard 62.5%%): $expected%d",
      f"- planted pairs FOUND: $plantedFound%d → **recall ${100.0 * plantedFound / expected}%.4f%%**",
      s"- non-planted pairs found: ${found - plantedFound} (random shingle collisions, " +
        s"each re-verified ≥ $MinJaccardPct% by the exact jaccard stage); pairs below " +
        s"threshold in output: $belowThr (must be 0)",
      s"- pairs found by this pass: $found; by the job's runs: ${c("pairs")} (must be equal)",
      s"- band-0 buckets: ${bs.getLong(0)}; max bucket size **${bs.getLong(1)}**; " +
        s">1-doc buckets: ${bs.getLong(2)}; >4-doc: ${bs.getLong(3)}; within-bucket " +
        s"candidate pairs this band: ${bs.getLong(4)} (planted clusters bound member " +
        "buckets at 4; anything larger would be bucket-hash degeneracy)"),
      ok = belowThr == 0 && found == c("pairs"))
  }
}

/** [[TokenOps.scrubDupSpans]] end to end (window render → 16-byte gram-key
  * frequency shuffle → duplicated-start semi-join → per-sequence
  * interval-union fold) over `(doc_id, tokens array<int32>, n_tok, source)`
  * rows with PLANTED duplicated spans.
  *
  * Corpus design: every sequence has 32 int32 tokens. In each block of 100
  * doc ids, ids ≡ 0,1 (mod 100) share a 24-token span at positions 8..31
  * seeded by the BLOCK; every other position draws from
  * xxhash64(doc_id, position) over a 2e9 range, so no other 16-token
  * window can repeat. The verdict is therefore EXACTLY: members report
  * n_dup_tok = 24 (nine 16-windows at starts 8..16), everyone else 0.
  * Counters: the totals of the verdict, which the verification checks to
  * the row. */
object TokCampaign extends Campaign {
  val name = "tok"
  val warmSize = 1000000L
  private val GramN = 16
  private val SeqLen = 32
  private val SpanStart = 8

  def corpus(s: SparkSession, size: Long): Seq[(String, DataFrame)] = {
    val id = col("id")
    val toks = transform(sequence(lit(0), lit(SeqLen - 1)), i =>
      when(col("_member") && i >= SpanStart,
        pmod(xxhash64(col("_blk"), i, lit(999L)), lit(2000000000L)).cast("int"))
        .otherwise(pmod(xxhash64(id, i, lit(7L)), lit(2000000000L)).cast("int")))
    Seq("seqs" -> s.range(0, size, 1, 256)
      .withColumn("_member", id % 100L < 2L)
      .withColumn("_blk", id - (id % 100L))
      .select(id.as("doc_id"), toks.as("tokens"), lit(SeqLen).as("n_tok"),
        concat(lit("src-"), pmod(id, lit(25L))).as("source")))
  }

  def run(s: SparkSession, job: String, in: Input, out: String): () => Map[String, Long] = {
    val member = col("doc_id") % 100L < 2L
    val r = TokenOps.scrubDupSpans(in.table(s, "seqs"), "doc_id", "tokens", GramN)
      .agg(
        count(lit(1)),
        sum(when(col("n_dup_tok") > 0L, 1L).otherwise(0L)),
        sum(col("n_dup_tok")),
        sum(when(member && col("n_dup_tok") =!= (SeqLen - SpanStart).toLong, 1L).otherwise(0L)),
        sum(when(!member && col("n_dup_tok") > 0L, 1L).otherwise(0L)))
      .collect()(0)
    val c = Seq("docs", "dup_docs", "sum_dup", "member_wrong", "nonmember_dup")
      .zipWithIndex.map { case (k, i) => k -> r.getLong(i) }.toMap
    () => c
  }

  def units(size: Long, c: Map[String, Long]): Seq[(String, Double)] =
    Seq("seqs/s" -> size.toDouble, "tokens/s" -> size.toDouble * SeqLen)

  def header(size: Long, c: Map[String, Long]): String =
    f"""# BENCH/TOK — token-axis duplicated-span scrub scaling evidence
       |
       |End-to-end job over the input_hint table shape
       |`(doc_id, tokens array<int32>, n_tok, source)`: scan(parquet) →
       |token 16-gram window keys (one-pass codegen kernel, 16-byte binary
       |keys hashed straight from the int windows) → gram-frequency shuffle
       |(map-side combine) → duplicated-start semi-join → per-sequence
       |interval-union fold → totals aggregate. Same job, same $size%d-sequence
       |corpus ($SeqLen%d tokens each, planted duplicated spans), two
       |parallelism levels.
       |""".stripMargin

  /** exactness vs the plant, from the totals of the timed job itself */
  def verify(s: SparkSession, in: Input, c: Map[String, Long]): Verification = {
    val expectedDupDocs = (in.size / 100L) * 2L
    val expectedSum = expectedDupDocs * (SeqLen - SpanStart)
    Verification(Seq(
      s"- sequences: ${c("docs")}; expected span-carrying members: $expectedDupDocs; " +
        s"found with n_dup_tok > 0: ${c("dup_docs")}",
      s"- Σ n_dup_tok: ${c("sum_dup")} (expected $expectedSum — every member exactly " +
        s"${SeqLen - SpanStart} covered positions from nine overlapping 16-windows)",
      s"- members with a WRONG coverage count: ${c("member_wrong")} (must be 0)",
      s"- non-members reporting any duplication: ${c("nonmember_dup")} (must be 0)"),
      ok = c("docs") == in.size && c("dup_docs") == expectedDupDocs &&
        c("sum_dup") == expectedSum && c("member_wrong") == 0 && c("nonmember_dup") == 0)
  }
}

/** ANN retrieval with measured recall: [[Similarity.lshTopK]] and
  * [[Similarity.ivfTopK]], each timed, over a planted-neighbor corpus whose
  * exact top-k is known BY CONSTRUCTION.
  *
  * Corpus (dim 64, deterministic splitmix per id):
  *  - ids [0, Q): the queries — random unit-ish vectors.
  *  - ids [Q, Q+R): random corpus vectors. Random cosines concentrate
  *    around 0 (σ ≈ 1/√64 = 0.125); even the max over millions stays far
  *    below the plant similarities, so plants are the exact top-k.
  *  - ids [Q+R, Q+R+5Q): 5 plants per query — query + ε·noise, ε stepped
  *    0.08/0.11/0.14/0.17/0.20 → cosines ≈ .997/.994/.990/.986/.981.
  *  - the FIRST `nlist` corpus ids are random vectors (not plants), so
  *    ivfTopK's deterministic quantizer gets spread centroids.
  * LSH planes=96, bands=8 (12-bit chunks; at plant angles ≤ 11° the miss
  * probability over 8 bands is ≤ 1%); IVF nlist=256, nprobe=4. Both
  * re-rank with exact cosine. Counters per algorithm: rows returned,
  * planted hits, and an order-insensitive checksum over (query, neighbor,
  * rank). */
object AnnCampaign extends Campaign {
  val name = "ann"
  val warmSize = 200000L
  override val jobs = Seq("lsh", "ivf")
  private val Dims = 64
  private val Q = 2000
  private val PlantsPerQuery = 5
  private val K = 5

  private def randVec(seed: Long): Array[Float] = {
    val r = new java.util.SplittableRandom(seed * 0x9e3779b97f4a7c15L + 0x3c6ef372L)
    unit(Array.fill(Dims)((r.nextDouble() * 2.0 - 1.0).toFloat))
  }

  private def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def plantVec(qid: Long, j: Int, plantId: Long): Array[Float] = {
    val q = randVec(qid)
    val noise = randVec(plantId + 0x5eed5eedL)
    val eps = (0.08 + 0.03 * j).toFloat
    unit(Array.tabulate(Dims)(i => q(i) + eps * noise(i)))
  }

  /** `size` corpus vectors = R randoms + 5Q plants (queries excluded) */
  def corpus(s: SparkSession, size: Long): Seq[(String, DataFrame)] = {
    import s.implicits._
    val nRandom = size - PlantsPerQuery * Q
    require(nRandom > 0, s"corpus $size too small for ${PlantsPerQuery * Q} plants")
    Seq(
      "queries" -> s.range(0, Q.toLong).map(id => (id, randVec(id)))
        .toDF("vec_id", "embedding").repartition(4),
      "corpus" -> s.range(Q.toLong, Q + size).map { id =>
        val p = id - Q - nRandom
        (id, if (p < 0) randVec(id) else plantVec(p / PlantsPerQuery, (p % PlantsPerQuery).toInt, id))
      }.toDF("vec_id", "embedding").repartition(64))
  }

  def run(s: SparkSession, job: String, in: Input, out: String): () => Map[String, Long] = {
    val (corpus, queries) = (in.table(s, "corpus"), in.table(s, "queries"))
    val topK = job match {
      case "lsh" => Similarity.lshTopK(corpus, queries, "vec_id", "embedding", K, planes = 96, bands = 8)
      case "ivf" => Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", K, nlist = 256, nprobe = 4)
    }
    val rows = topK.select("query_id", "neighbor_id", "rank").collect()
    val plantBase = Q + in.size - PlantsPerQuery * Q
    () => Map(
      s"$job.rows" -> rows.length.toLong,
      s"$job.hits" -> rows.count(r => r.getLong(1) >= plantBase &&
        (r.getLong(1) - plantBase) / PlantsPerQuery == r.getLong(0)).toLong,
      s"$job.checksum" -> rows.map(r => java.util.Objects.hash(Long.box(r.getLong(0)),
        Long.box(r.getLong(1)), Int.box(r.getInt(2))).toLong).sum)
  }

  def units(size: Long, c: Map[String, Long]): Seq[(String, Double)] =
    Seq("corpus vec/s" -> size.toDouble)

  def header(size: Long, c: Map[String, Long]): String =
    f"""# BENCH/ANN — ANN scale rehearsal with measured recall
       |
       |Planted-neighbor corpus: $size%d vectors (dim $Dims%d) + $Q%d queries;
       |each query has $PlantsPerQuery%d plants at cosines ≈ .997/.994/.990/.986/.981
       |(see `graft.scaling.AnnCampaign`). Timed job: full top-$K%d retrieval for
       |all $Q%d queries (signature/quantize → bucket/cell join → exact cosine
       |re-rank → per-query top-k), collected. LSH planes=96, bands=8; IVF
       |nlist=256, nprobe=4.
       |""".stripMargin

  /** recall@5 per algorithm, and a 128-query brute-force sample checking
    * that the exact top-5 IS the planted set in plant order — the corpus
    * geometry the recall metric rests on */
  def verify(s: SparkSession, in: Input, c: Map[String, Long]): Verification = {
    val plantBase = Q + in.size - PlantsPerQuery * Q
    val plantsOk = Similarity.bruteForceTopK(in.table(s, "corpus"),
        in.table(s, "queries").filter(col("vec_id") < 128), "vec_id", "embedding", K)
      .collect().forall { r =>
        r.getLong(1) == plantBase + r.getLong(0) * PlantsPerQuery + (r.getInt(2) - 1)
      }
    Verification(Seq(
      s"- brute-force sample (128 queries): exact top-$K equals the planted set in plant order: **$plantsOk**") ++
      jobs.map(j => f"- $j: recall@5 ${c(s"$j.hits").toDouble / (Q * K)}%.4f " +
        s"(target ≥ 0.95); rows returned ${c(s"$j.rows")} of ${Q * K} (a sparse-bucket " +
        "query may return fewer than k)"),
      ok = plantsOk)
  }
}

/** Gap sessionization ([[Sessionize.sessionStats]] — user-key shuffle →
  * streaming lag/running-sum window frames → per-session aggregate, all on
  * ONE exchange) over an events corpus.
  *
  * Corpus design (deterministic): event i belongs to user xxhash64(i,11)
  * mod (N/100) — ~100 events/user — at event time base + xxhash64(i,13)
  * mod 30 days. Inter-event gaps are ~exponential with mean ≈ 7.2 h, so a
  * 6 h session gap yields a real mixture of multi-event sessions and
  * singletons. Counters: sessions, Σ n_events and an order-insensitive
  * checksum over every output column. */
object EvCampaign extends Campaign {
  val name = "ev"
  val warmSize = 1000000L
  private val GapSec = 21600L // 6 h
  private val SpanUs = 30L * 86400L * 1000000L
  private val BaseUs = 1704067200000000L // 2024-01-01T00:00:00Z
  /** AQE partition coalescing re-derives the task count from shuffle BYTES,
    * so the 256 constant silently degrades to one task wave whenever the
    * corpus shrinks (measured: 34 window tasks at 25M events, util 0.61);
    * it is off, skew split stays on. Scan splits follow the same rule: 4m
    * keeps ≥ 4 waves at 32 cores down to a 0.5 GB corpus. */
  private[scaling] val WaveConf = Seq(
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    "spark.sql.files.maxPartitionBytes" -> "4m")
  override val conf = WaveConf

  def corpus(s: SparkSession, size: Long): Seq[(String, DataFrame)] = {
    val id = col("id")
    Seq("events" -> s.range(0, size, 1, 256).select(id.as("event_id"),
      pmod(xxhash64(id, lit(11L)), lit(math.max(size / 100L, 1L))).as("user_id"),
      timestamp_micros(lit(BaseUs) + pmod(xxhash64(id, lit(13L)), lit(SpanUs))).as("ts"),
      (pmod(xxhash64(id, lit(17L)), lit(10000L)) / lit(100.0)).as("value")))
  }

  private def sessions(s: SparkSession, in: Input): DataFrame =
    Sessionize.sessionStats(in.table(s, "events"), "user_id", "ts", GapSec, "value")

  def run(s: SparkSession, job: String, in: Input, out: String): () => Map[String, Long] = {
    val r = sessions(s, in).agg(
      count(lit(1)),
      sum(col("n_events")),
      // modulus sized so the ANSI sum cannot overflow at ~N sessions
      sum(pmod(hash(col("user_id"), col("session_seq"), col("n_events"),
        col("t_start_us"), col("t_end_us"), col("dur_us"), col("value_c")),
        lit(1000000007L))))
      .collect()(0)
    val c = Map("sessions" -> r.getLong(0), "sum_events" -> r.getLong(1), "checksum" -> r.getLong(2))
    () => c
  }

  def units(size: Long, c: Map[String, Long]): Seq[(String, Double)] =
    Seq("events/s" -> size.toDouble)

  def header(size: Long, c: Map[String, Long]): String =
    f"""# BENCH/SESSIONS — gap-sessionization scaling evidence
       |
       |End-to-end job over an events table
       |`(event_id, user_id, ts timestamp, value)`: scan(parquet) →
       |ONE user-key exchange → streaming lag + running-sum window
       |frames (session numbering) → per-session aggregate (reuses the
       |exchange) → totals checksum. Same job, same $size%d-event corpus
       |(~${size / 100L}%d users, ~100 events each, 6 h gap over a 30-day
       |span), two parallelism levels; AQE partition coalescing off.
       |""".stripMargin

  /** session tiling (Σ n_events = N) and the gap contract: adjacent
    * sessions of a user are more than the gap apart */
  def verify(s: SparkSession, in: Input, c: Map[String, Long]): Verification = {
    val w = Window.partitionBy("user_id").orderBy("t_start_us")
    val viol = sessions(s, in)
      .withColumn("_prev_end", lag(col("t_end_us"), 1).over(w))
      .agg(sum(when(col("_prev_end").isNotNull &&
        col("t_start_us") - col("_prev_end") <= GapSec * 1000000L, 1L).otherwise(0L)))
      .collect()(0).getLong(0)
    Verification(Seq(
      s"- sessions: ${c("sessions")}; order-insensitive checksum over every output " +
        s"column: ${c("checksum")}",
      s"- Σ n_events = ${c("sum_events")} (must be ${in.size}: no event lost or doubled)",
      s"- adjacent-session pairs violating the > gap separation contract: $viol (must be 0)"),
      ok = c("sum_events") == in.size && viol == 0)
  }
}

/** [[Packing.lengthBucketBatches]] end to end over a hot-bucket doc
  * manifest.
  *
  * Corpus design (deterministic): 80% of docs draw lengths 481..512 — ALL
  * pad to the SAME 512 bucket at grain 64, the operator's claimed worst
  * case: a naive per-bucket `row_number` window would sort 0.8·N rows in
  * ONE partition. The other 20% spread over lengths 32..2047 (~31 cold
  * buckets). Counters: batches, Σ n_seqs, Σ n_tok_real and an
  * order-insensitive checksum over every output column. */
object BatchCampaign extends Campaign {
  val name = "batch"
  val warmSize = 1000000L
  private val Budget = 8192L
  private val Grain = 64L
  // constant reduce-task count is load-bearing; skew split stays on — it
  // is the feature under test on the hot bucket's range partitions
  override val conf = EvCampaign.WaveConf

  def corpus(s: SparkSession, size: Long): Seq[(String, DataFrame)] = {
    val id = col("id")
    Seq("manifest" -> s.range(0, size, 1, 256).select(id.as("doc_id"),
      when(pmod(xxhash64(id, lit(19L)), lit(10L)) < 8,
        lit(481L) + pmod(xxhash64(id, lit(23L)), lit(32L)))
        .otherwise(lit(32L) + pmod(xxhash64(id, lit(29L)), lit(2016L))).as("n_tok")))
  }

  private def batches(s: SparkSession, in: Input): DataFrame =
    Packing.lengthBucketBatches(in.table(s, "manifest"), "doc_id", "n_tok", Budget, Grain)

  def run(s: SparkSession, job: String, in: Input, out: String): () => Map[String, Long] = {
    val r = batches(s, in).agg(
      count(lit(1)),
      sum(col("n_seqs")),
      sum(col("n_tok_real")),
      sum(pmod(hash(col("padded_len"), col("batch_idx"), col("n_seqs"),
        col("n_tok_real"), col("first_doc"), col("last_doc"),
        col("n_tok_padded"), col("waste")), lit(1000000007L))))
      .collect()(0)
    val c = Seq("batches", "sum_seqs", "sum_tok", "checksum")
      .zipWithIndex.map { case (k, i) => k -> r.getLong(i) }.toMap
    () => c
  }

  def units(size: Long, c: Map[String, Long]): Seq[(String, Double)] =
    Seq("docs/s" -> size.toDouble)

  def header(size: Long, c: Map[String, Long]): String =
    f"""# BENCH/BATCH — length-bucketed batch-assembly scaling evidence
       |
       |End-to-end job over a doc manifest `(doc_id, n_tok)`:
       |scan(parquet) → value-salt projection (fmix32 scramble mod 256) →
       |per-(bucket, salt) counts (map-side combinable) → broadcast offsets
       |→ ONE data exchange keyed (bucket, salt) → parallel per-cell rank
       |windows → integer batch assignment → batch aggregate → totals
       |checksum. $size%d docs, ~80%% of them in the single hot 512 bucket;
       |two parallelism levels; AQE partition coalescing off.
       |""".stripMargin

  /** tiling audit: per bucket, batch indices are exactly
    * 0..ceil(count/capacity)−1 and every batch is full except the last */
  def verify(s: SparkSession, in: Input, c: Map[String, Long]): Verification = {
    val bad = batches(s, in)
      .withColumn("_cap", expr(s"greatest(1L, ${Budget}L DIV padded_len)"))
      .groupBy("padded_len", "_cap")
      .agg(count(lit(1)).as("n_batches"), max("batch_idx").as("max_idx"),
        sum("n_seqs").as("bucket_docs"),
        sum(when(col("n_seqs") =!= col("_cap"), 1L).otherwise(0L)).as("n_partial"))
      .filter(col("max_idx") =!= col("n_batches") - 1 ||
        col("n_batches") =!= ceil(col("bucket_docs") / col("_cap").cast("double")).cast("long") ||
        col("n_partial") > 1)
      .count()
    val hotDocs = in.table(s, "manifest")
      .filter(expr(s"((greatest(n_tok, 1L) + ${Grain - 1}L) DIV ${Grain}L) * ${Grain}L = 512"))
      .count()
    Verification(Seq(
      f"- docs in the hot 512 bucket: $hotDocs%d (${hotDocs * 100.0 / in.size}%.0f%%)",
      s"- batches: ${c("batches")}; order-insensitive checksum over every output column: ${c("checksum")}",
      s"- Σ n_seqs = ${c("sum_seqs")} (must be ${in.size}) and Σ n_tok_real = ${c("sum_tok")}",
      s"- buckets whose batch indices fail to tile 0..ceil(count/capacity)−1, or " +
        s"with >1 non-full batch: $bad (must be 0)"),
      ok = c("sum_seqs") == in.size && bad == 0)
  }
}
