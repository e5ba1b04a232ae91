package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType

/** Incremental exact dedup of a NEW batch against a PRIOR corpus snapshot
  * — "dedup today's crawl against the existing corpus", the standing
  * pipeline stage every continuously-crawled training corpus runs (the
  * reference scenario in Lee et al. 2022 §5 and CCNet's per-snapshot
  * hashes; the Spark-shaped design follows the runtime bloom-filter
  * join pattern in Spark's own `InjectRuntimeFilter`, re-expressed as a
  * persistent, shard-partitioned INDEX so the prior corpus is not
  * re-shuffled per batch).
  *
  * 100 TB shape — the whole point of the bloom index:
  *  - a plain `left_anti` join on the text hash would shuffle BOTH sides
  *    every batch; the prior corpus (the 100 TB side) dominates and its
  *    shuffle cost recurs for every daily batch.
  *  - here the prior corpus is reduced ONCE to a bloom index of `shards`
  *    rows (shard, bits:array<long>), constant-size per shard. The
  *    groupBy(shard) build shuffle moves ≤ #partitions × shards × |bloom|
  *    bytes (map-side partial merge ORs buffers before the exchange) —
  *    constant in corpus size. The index is small enough to BROADCAST
  *    (shards × wordsPerShard × 8 bytes; 64 × 8 KiB = 512 KiB default)
  *    and, persisted, amortizes across batches exactly like an Iceberg
  *    metadata artifact.
  *  - each new batch then probes the broadcast index (narrow, zero
  *    shuffle), and only bloom-POSITIVE keys — true dups + the fpp tail
  *    — are verified against the prior corpus by a broadcast SEMI join
  *    probe (the prior side scans its key column and probes the
  *    broadcast candidate set: never shuffled, never re-sorted).
  *  - the bloom is a pure PREFILTER: verification makes the verdict
  *    exact, so false positives cost only the verify probe, and the
  *    DuckDB oracle is the plain set-membership semi join (no bloom
  *    arithmetic to replicate).
  *
  * False-negative-free by construction (all k bits of every inserted key
  * are set; [[BloomSpec]] proves it by property), fpp ≈ (1-e^{-kn/m})^k —
  * size wordsPerShard so m/n ≈ 16 bits/key for fpp ≈ 4e-4 at k = 8.
  */
object Bloom {

  /** 64-bit key hash: builtin xxhash64 over the (md5-hex) key string —
    * codegen'd, and identical on the build and probe sides by
    * construction. */
  private def keyHash(key: Column): Column = xxhash64(key)

  /** bits (array<long>) MIGHT contain the key hashed to `h` (long).
    * Null-intolerant: null bits / null hash → null → a filter drops the
    * row, matching join null-key semantics. */
  private[graft] def mightContain(bits: Column, h: Column, numHashes: Int): Column =
    opscol.kernel(BloomKernel.getClass, "mightContain", BooleanType,
      Seq(bits, h, opscol.scalar(numHashes)))

  /** Build the sharded bloom index over `keys` (one string key column,
    * nulls dropped — a null key can never equal anything, join
    * semantics): one row per non-empty shard, (shard, bits). */
  def buildIndex(keys: DataFrame, keyCol: String, shards: Int,
      wordsPerShard: Int, numHashes: Int): DataFrame = {
    require(shards > 0 && wordsPerShard > 0 && numHashes > 0)
    val bloomAgg = udaf(new BloomAgg(wordsPerShard, numHashes))
    keys.filter(col(keyCol).isNotNull)
      .select(keyHash(col(keyCol)).as("_h"))
      .select(pmod(col("_h"), lit(shards.toLong)).as("shard"), col("_h"))
      .groupBy("shard").agg(bloomAgg(col("_h")).as("bits"))
  }

  /** Incremental-dedup verdict: one row per `newBatch` row,
    * (idCol, status) with status ∈ {kept, drop_prior} — drop iff the
    * normalized text already exists in `prior`. Exact (bloom is only a
    * prefilter); a null text never matches (kept). */
  def incrementalDedupVerdict(newBatch: DataFrame, prior: DataFrame,
      idCol: String, textCol: String, shards: Int = 64,
      wordsPerShard: Int = 1 << 10, numHashes: Int = 8): DataFrame = {
    val key = TextAnalysis.fingerprint(col(textCol))
    val idx = buildIndex(prior.select(key.as("_k")), "_k",
      shards, wordsPerShard, numHashes)
    val nb = newBatch.select(col(idCol), key.as("_k"),
        keyHash(key).as("_h"))
      .withColumn("shard", pmod(col("_h"), lit(shards.toLong)))
    // bloom-positive new keys: broadcast the ≤`shards`-row index; a
    // missing shard row (empty shard) means nothing was inserted → no
    // candidate. Narrow — the new batch does not shuffle here.
    val candidates = nb
      .join(broadcast(idx), Seq("shard"), "left")
      .filter(col("_k").isNotNull && col("bits").isNotNull &&
        mightContain(col("bits"), col("_h"), numHashes))
      .select("_k").distinct()
    // verification: which candidates REALLY exist in prior — the prior
    // side probes the broadcast candidate set (semi join), so the 100 TB
    // side is scanned narrow (key column only) and never shuffled.
    val confirmed = prior.select(key.as("_k")).filter(col("_k").isNotNull)
      .join(broadcast(candidates), Seq("_k"), "leftsemi")
      .distinct()
    nb.join(broadcast(confirmed.withColumn("_hit", lit(1))), Seq("_k"), "left")
      .select(col(idCol),
        when(col("_hit").isNotNull, lit("drop_prior"))
          .otherwise(lit("kept")).as("status"))
  }
}

/** Shared bit arithmetic for build and probe — ONE definition of the k
  * probe positions (double hashing, Kirsch–Mitzenmacher: pos_j =
  * (h + j·h2) mod m with h2 odd from a splitmix64 remix), so agreement
  * between the aggregator and the probe expression holds by
  * construction. */
object BloomKernel {

  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def setBits(bits: Array[Long], h: Long, k: Int): Unit = {
    val m = bits.length.toLong * 64L
    val h2 = mix64(h) | 1L
    var j = 0
    var p = h
    while (j < k) {
      val pos = java.lang.Math.floorMod(p, m)
      bits((pos >>> 6).toInt) |= (1L << (pos & 63L))
      j += 1
      p += h2
    }
  }

  /** probe over the columnar ArrayData directly — no per-row copy of the
    * (possibly multi-KiB) bits array. */
  def mightContain(bits: ArrayData, h: Long, k: Int): Boolean = {
    val m = bits.numElements().toLong * 64L
    val h2 = mix64(h) | 1L
    var j = 0
    var p = h
    while (j < k) {
      val pos = java.lang.Math.floorMod(p, m)
      if ((bits.getLong((pos >>> 6).toInt) & (1L << (pos & 63L))) == 0L)
        return false
      j += 1
      p += h2
    }
    true
  }
}

/** OR-merging bloom build aggregate. A TypedImperativeAggregate under the
  * hood (`functions.udaf`), so map-side partial aggregation reduces each
  * input partition to ≤`shards` buffers before the exchange. */
class BloomAgg(val words: Int, val numHashes: Int)
    extends Aggregator[Long, Array[Long], Array[Long]] with Serializable {
  override def zero: Array[Long] = new Array[Long](words)
  override def reduce(b: Array[Long], h: Long): Array[Long] = {
    BloomKernel.setBits(b, h, numHashes); b
  }
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }
  override def finish(b: Array[Long]): Array[Long] = b
  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}
