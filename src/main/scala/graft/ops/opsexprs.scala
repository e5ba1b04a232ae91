package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels behind the dedup / similarity / token operators, called
  * through [[opscol]]. All hashing is self-contained (FNV-1a 64) so
  * signatures are stable across Spark versions and partitionings.
  */
object OpsKernels {

  /** FNV-1a 64-bit over UTF-8 bytes, with a seed mixed in. */
  def fnv1a64(s: UTF8String, seed: Long): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L ^ (seed * 0x9e3779b97f4a7c15L)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** 64-bit SimHash over string tokens (sign of per-bit vote). */
  def simhash64(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = fnv1a64(tokens.getUTF8String(i), 0L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** MinHash signature: k minima over the shingle set. Each shingle is
    * string-hashed exactly twice; the k hash functions are derived via
    * Kirsch-Mitzenmacher g_j(x) = h1(x) + j·h2(x) (standard for Bloom/
    * MinHash families) — 32× less string hashing than k seeded passes. */
  def minhash(shingles: ArrayData, k: Int): ArrayData = {
    val sig = Array.fill[Long](k)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val s = shingles.getUTF8String(i)
        val h1 = fnv1a64(s, 1L)
        val h2 = fnv1a64(s, 2L) | 1L // odd → full-period stream increment
        var j = 0
        var g = h1
        while (j < k) {
          // splitmix64 finalizer over the linear stream h1 + j·h2: the raw
          // linear family ranks shingles with correlated order across
          // adjacent j (minwise independence fails hardest on SMALL sets —
          // 13-16 shingles here), which measurably degraded banded recall
          // (20 missed planted pairs per 300k at r=2×32 bands vs the
          // (1-j²)^32 ≈ 1.3e-7 ideal). The bijective mixer decorrelates
          // the per-j rankings; misses return to the theoretical bound.
          var x = g
          x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
          x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
          x ^= (x >>> 31)
          if (x < sig(j)) sig(j) = x
          g += h2
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Per-band bucket hashes straight from the minhash signature longs —
    * no string round-trip (replaces concat_ws + xxhash64-over-strings:
    * ~70 allocations/row gone). bucket_b = FNV-style mix of
    * (b, sig[b·r .. (b+1)·r)). Equal band slices ⇒ equal bucket, so LSH
    * recall is preserved; hash collisions only ever ADD candidates, which
    * the exact verification then filters. */
  def minhashBands(sig: ArrayData, bands: Int): ArrayData = {
    val k = sig.numElements()
    // bands > k would give r=0 (every row in one constant bucket per band
    // → silent all-pairs blowup); non-divisible k would silently ignore
    // trailing hashes. Dedup.minhashNearDups guards, but the SQL-registered
    // minhash_bands reaches here directly — fail loudly instead.
    require(bands >= 1 && k % bands == 0,
      s"bands ($bands) must be >= 1 and divide the signature length ($k)")
    val r = k / bands
    val out = new Array[Long](bands)
    var b = 0
    var i = 0
    while (b < bands) {
      var h = 0xcbf29ce484222325L ^ (b.toLong * 0x9e3779b97f4a7c15L)
      var j = 0
      while (j < r) {
        h ^= sig.getLong(i)
        h *= 0x100000001b3L
        h ^= (h >>> 33)
        i += 1
        j += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Normalize → word-split → n-gram shingle → distinct, in ONE pass of
    * JVM code. Byte-equal to the Column composition it replaces (and to
    * the DuckDB oracles):
    *   norm  = regexp_replace(trim(lower(text)), "\\s+", " ")   [trim = ' ' only]
    *   words = split(norm, " ", -1)
    *   out   = distinct(words.length < n ? [words.mkString(" ")]
    *                    : sliding n-grams joined by ' ')
    * The Column version's transform(slice(words…)) re-evaluates the whole
    * normalize+split per shingle in interpreted mode (higher-order
    * functions fall out of codegen) — O(words²)·regexp per doc. This
    * kernel is O(chars). */
  /** normalized word split shared by the word-gram kernels: lower via
    * UTF8String (Spark Lower semantics), trim ' ' only, collapse \s+ —
    * delimiters are whitespace runs; a leading run yields the "" word
    * that split(" ", -1) would produce after \s+→' ' collapsing. */
  private def splitNormWords(text: UTF8String): java.util.ArrayList[String] = {
    val s = text.toLowerCase.trim.toString
    def isWs(c: Char) =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    val words = new java.util.ArrayList[String]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isWs(c)) {
        words.add(sb.toString); sb.setLength(0)
        while (i + 1 < s.length && isWs(s.charAt(i + 1))) i += 1
      } else sb.append(c)
      i += 1
    }
    words.add(sb.toString) // final word ("" for empty input, like split)
    words
  }

  private val LangUnd = UTF8String.fromString("und")
  private val LangEn = UTF8String.fromString("en")
  private val LangEs = UTF8String.fromString("es")
  private val LangDe = UTF8String.fromString("de")
  private val LangFr = UTF8String.fromString("fr")

  /** One-pass 4-language stopword-argmax language ID (en/es/de/fr/und,
    * deterministic en>es>de>fr tie-break, all-zero ⇒ und) — the kernel
    * form of [[TextAnalysis.langId]]'s Column chain. The chain evaluated
    * `size(filter(words(text), isin(stops)))` per language, where each
    * `words(text)` is a regexp_replace + split and ArrayFilter is
    * CodegenFallback (interpreted, no common-subexpression elimination),
    * and the when-chain references each score up to 4 times — up to ~10
    * normalize+split+filter evaluations per row. Here: one hand-scanner
    * split ([[splitNormWords]], the wordShingles normalization) and one
    * membership probe per word per language. */
  def langId4(text: UTF8String,
      stops: KernelTable[Array[java.util.HashSet[String]]]): UTF8String = {
    val sets = stops.get
    val words = splitNormWords(text)
    var en = 0; var es = 0; var de = 0; var fr = 0
    var i = 0
    while (i < words.size()) {
      val w = words.get(i)
      if (sets(0).contains(w)) en += 1
      if (sets(1).contains(w)) es += 1
      if (sets(2).contains(w)) de += 1
      if (sets(3).contains(w)) fr += 1
      i += 1
    }
    if (en == 0 && es == 0 && de == 0 && fr == 0) LangUnd
    else if (en >= es && en >= de && en >= fr) LangEn
    else if (es >= de && es >= fr) LangEs
    else if (de >= fr) LangDe
    else LangFr
  }

  /** Word n-grams WITH multiplicity, in order — the probability-mass
    * representation (DSIR hashed features, LM grams), as opposed to the
    * distinct-set [[wordShingles]] the dedup family keys on. < n words ⇒
    * EMPTY array (no whole-text fallback: a featureless doc has no
    * features). One pass; replaces a zip_with/slice Column composition
    * that runs interpreted and re-evaluates the referenced split per
    * element (measured ~0.4 s/pass on 5000 sf0.1 docs — the per-pass
    * floor of the dsir scoring chain). */
  def wordNgramsMulti(text: UTF8String, n: Int): ArrayData = {
    val words = splitNormWords(text)
    val w = words.size()
    if (w < n) return new GenericArrayData(new Array[Any](0))
    val arr = new Array[Any](w - n + 1)
    var st = 0
    while (st + n <= w) {
      val j = new java.lang.StringBuilder
      var k = 0
      while (k < n) {
        if (k > 0) j.append(' ')
        j.append(words.get(st + k)); k += 1
      }
      arr(st) = UTF8String.fromString(j.toString)
      st += 1
    }
    new GenericArrayData(arr)
  }

  def wordShingles(text: UTF8String, n: Int): ArrayData = {
    val words = splitNormWords(text)
    val w = words.size()
    val out = new java.util.LinkedHashSet[String]()
    if (w < n) {
      val j = new java.lang.StringBuilder
      var k = 0
      while (k < w) {
        if (k > 0) j.append(' ')
        j.append(words.get(k)); k += 1
      }
      out.add(j.toString)
    } else {
      var st = 0
      while (st + n <= w) {
        val j = new java.lang.StringBuilder
        var k = 0
        while (k < n) {
          if (k > 0) j.append(' ')
          j.append(words.get(st + k)); k += 1
        }
        out.add(j.toString)
        st += 1
      }
    }
    val arr = new Array[Any](out.size())
    val it = out.iterator()
    var m = 0
    while (it.hasNext) { arr(m) = UTF8String.fromString(it.next()); m += 1 }
    new GenericArrayData(arr)
  }

  /** Token n-grams over an int token array: each window of n consecutive
    * tokens rendered as a comma-joined decimal string (engine-portable
    * group key); sequences shorter than n yield an empty array. One pass,
    * each token rendered to decimal exactly once (it appears in up to n
    * windows). `distinct=true` keeps first occurrences only (array_distinct
    * order), for per-document span-set semantics.
    *
    * Replaces the transform(sequence)/slice/array_join Column composition:
    * higher-order functions fall out of whole-stage codegen and allocate
    * ~5 intermediate arrays per window — measured 7.5s → this kernel for
    * the sf0.1 trigram count (see TokenOps). Null token elements are
    * rejected loudly (pre-tokenized sequences never contain them). */
  def tokenNgrams(tokens: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val len = tokens.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[String](len)
    var i = 0
    while (i < len) {
      if (tokens.isNullAt(i))
        throw new IllegalArgumentException("token_ngrams: null token element")
      toks(i) = java.lang.Integer.toString(tokens.getInt(i))
      i += 1
    }
    val count = len - n + 1
    val sb = new java.lang.StringBuilder
    if (distinct) {
      val seen = new java.util.LinkedHashSet[String]()
      var s = 0
      while (s < count) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(',')
          sb.append(toks(s + k)); k += 1
        }
        seen.add(sb.toString)
        s += 1
      }
      val arr = new Array[Any](seen.size())
      val it = seen.iterator()
      var m = 0
      while (it.hasNext) { arr(m) = UTF8String.fromString(it.next()); m += 1 }
      new GenericArrayData(arr)
    } else {
      val out = new Array[Any](count)
      var s = 0
      while (s < count) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(',')
          sb.append(toks(s + k)); k += 1
        }
        out(s) = UTF8String.fromString(sb.toString)
        s += 1
      }
      new GenericArrayData(out)
    }
  }

  /** splitmix64's bijective finalizer (no stream increment) — shared by
    * the minhash family above and the gram-key lanes below. */
  @inline private def mix64(z: Long): Long = {
    var x = z
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** 128-bit gram ROUTING keys straight from the int token windows — the
    * render-free sibling of [[tokenNgrams]] for consumers that never show
    * the gram (frequency shuffles, dup detection, contamination probes).
    * tokenNgrams + md5 pays a decimal render, a string alloc and an md5
    * per window just to derive a key; this kernel mixes each token once
    * per lane (splitmix64, reused across the n windows it appears in) and
    * folds two independent polynomial lanes per window, finalized
    * bijectively — 16 bytes out, ~2^-128 random-collision odds per pair
    * (same effective exactness budget as the md5 keys it replaces; a
    * false collision can only MERGE two gram groups).
    * Contract mirrors tokenNgrams: len < n ⇒ empty; element i = window
    * starting at i (non-distinct mode); distinct keeps first-seen order.
    */
  def tokenGramKeys(tokens: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val len = tokens.numElements()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val m1 = new Array[Long](len)
    val m2 = new Array[Long](len)
    var i = 0
    while (i < len) {
      if (tokens.isNullAt(i))
        throw new IllegalArgumentException("token_gram_keys: null token element")
      val t = tokens.getInt(i).toLong
      m1(i) = mix64(t ^ 0x243f6a8885a308d3L) // pi lanes: arbitrary distinct
      m2(i) = mix64(t ^ 0x13198a2e03707344L) // constants, nothing magic
      i += 1
    }
    val count = len - n + 1
    def keyAt(s: Int): Array[Byte] = {
      var h1 = 0x9368e53c2f6af274L ^ n.toLong
      var h2 = 0x586dcd208f7cd3fdL + n.toLong
      var k = 0
      while (k < n) {
        h1 = h1 * 0x100000001b3L + m1(s + k)
        h2 = h2 * 0xc6a4a7935bd1e995L + m2(s + k)
        k += 1
      }
      h1 = mix64(h1)
      h2 = mix64(h2)
      val b = new Array[Byte](16)
      var j = 0
      while (j < 8) {
        b(j) = (h1 >>> (56 - 8 * j)).toByte
        b(8 + j) = (h2 >>> (56 - 8 * j)).toByte
        j += 1
      }
      b
    }
    if (distinct) {
      val seen = new java.util.LinkedHashSet[java.nio.ByteBuffer]()
      var s = 0
      while (s < count) {
        seen.add(java.nio.ByteBuffer.wrap(keyAt(s)))
        s += 1
      }
      val arr = new Array[Any](seen.size())
      val it = seen.iterator()
      var m = 0
      while (it.hasNext) { arr(m) = it.next().array(); m += 1 }
      new GenericArrayData(arr)
    } else {
      val out = new Array[Any](count)
      var s = 0
      while (s < count) { out(s) = keyAt(s); s += 1 }
      new GenericArrayData(out)
    }
  }

  /** Cosine similarity between two float arrays, accumulated in double.
    * Bulk-copies to primitive arrays first (one Platform.copyMemory for
    * UnsafeArrayData) so the accumulation loop runs on float[] — no
    * per-element virtual getFloat calls, and the JIT can vectorize it.
    * At 1e12-row scale the ANN re-rank is dot-product-bound, so this loop
    * IS the verify cost. Accumulation order is unchanged (left-to-right
    * per index) — results stay bit-identical to the previous kernel. */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val xs = a.toFloatArray()
    val ys = b.toFloatArray()
    val n = math.min(xs.length, ys.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = xs(i).toDouble
      val y = ys(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** [[cosineF]] over array<double> inputs (k-means centroids are double
    * means — narrowing them to float would shift sims by ~1e-7, right at
    * the oracle compare's tolerance). */
  def cosineD(a: ArrayData, b: ArrayData): Double = {
    val xs = a.toDoubleArray()
    val ys = b.toDoubleArray()
    val n = math.min(xs.length, ys.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = xs(i)
      val y = ys(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** floor(100·|a∩b| / |a∪b|) over two string arrays as SETS, in one
    * open-hashing pass per side. Replaces the array_intersect+array_union
    * Column pair, which builds two hash sets AND materializes two result
    * arrays per row — the dominant per-pair cost of the dedup verify stage.
    * Double math matches the Column form (100.0 · i / u, floored)
    * bit-for-bit, and both agree with the DuckDB oracle's
    * floor(100.0 * len(intersect) / len(union)).
    *
    * Inputs need NOT be distinct and may contain null elements (advisory
    * r3: this is also registered as the SQL function `jaccard_pct`, where a
    * user's arrays carry no distinctness contract): duplicates are deduped
    * while building each table, and a null element counts as one distinct
    * value that intersects iff both sides contain null — exactly
    * array_intersect/array_union's null semantics. The internal callers
    * (shingles output, already distinct non-null) take only a dead-branch
    * cost from the probe's equality check. */
  def jaccardPct(a: ArrayData, b: ArrayData): Long = {
    val na0 = a.numElements()
    val nb0 = b.numElements()
    // shared power-of-two capacity, ≤0.5 load for either side
    var cap = 8
    val maxN = if (na0 > nb0) na0 else nb0
    while (cap < maxN * 2) cap <<= 1
    val mask = cap - 1
    val ta = new Array[UTF8String](cap)
    var da = 0 // distinct non-null |a|
    var aNull = false
    var i = 0
    while (i < na0) {
      if (a.isNullAt(i)) aNull = true
      else {
        val s = a.getUTF8String(i)
        var slot = (s.hashCode() & 0x7fffffff) & mask
        var dup = false
        while (!dup && ta(slot) != null) {
          if (ta(slot).equals(s)) dup = true else slot = (slot + 1) & mask
        }
        if (!dup) { ta(slot) = s; da += 1 }
      }
      i += 1
    }
    val tb = new Array[UTF8String](cap)
    var db = 0 // distinct non-null |b|
    var bNull = false
    var inter = 0 // distinct non-null |a∩b|
    i = 0
    while (i < nb0) {
      if (b.isNullAt(i)) bNull = true
      else {
        val s = b.getUTF8String(i)
        var slot = (s.hashCode() & 0x7fffffff) & mask
        var dup = false
        while (!dup && tb(slot) != null) {
          if (tb(slot).equals(s)) dup = true else slot = (slot + 1) & mask
        }
        if (!dup) {
          tb(slot) = s; db += 1
          // first time this distinct b value is seen: probe a's table once
          var s2 = (s.hashCode() & 0x7fffffff) & mask
          var found = false
          while (!found && ta(s2) != null) {
            if (ta(s2).equals(s)) found = true else s2 = (s2 + 1) & mask
          }
          if (found) inter += 1
        }
      }
      i += 1
    }
    val ia = da + (if (aNull) 1 else 0)
    val ib = db + (if (bNull) 1 else 0)
    val in2 = inter + (if (aNull && bNull) 1 else 0)
    val union = ia + ib - in2
    if (union == 0) return 0L
    math.floor(100.0 * in2 / union).toLong
  }

  /** Shannon entropy (nats) of the codepoint distribution of `s` — the
    * character-diversity quality signal (near-zero ⇒ padding/repeated-char
    * spam; the cheap stand-in for the compression-ratio filter, which
    * needs a codec). Computed as H = ln(n) − (Σ_c k_c·ln k_c)/n via a
    * sort + run-length count of the doc's codepoints: no hash map, and
    * the summation order (ascending codepoint) is deterministic — any
    * cross-engine fp difference is the ~1e-16·terms associativity noise,
    * far inside the oracle compare's 1e-6 grain. Empty string ⇒ 0.0.
    * One pass over the chars + an O(n log n) sort of one document's
    * codepoints — narrow, zero-shuffle at any corpus size. */
  def charEntropy(s: UTF8String): Double = {
    val str = s.toString
    val len = str.length
    if (len == 0) return 0.0
    val cps = new Array[Int](len) // ≥ #codepoints; surrogates shrink j
    var i = 0
    var j = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      cps(j) = cp
      j += 1
      i += Character.charCount(cp)
    }
    val n = j
    java.util.Arrays.sort(cps, 0, n)
    var sumKlnK = 0.0
    var runStart = 0
    i = 1
    while (i <= n) {
      if (i == n || cps(i) != cps(runStart)) {
        val k = (i - runStart).toDouble
        sumKlnK += k * math.log(k)
        runStart = i
      }
      i += 1
    }
    math.log(n.toDouble) - sumKlnK / n
  }

  /** [[charEntropy]] over an int token array — the token-axis variant
    * (entropy of the sequence's token-id distribution; low ⇒ degenerate
    * repeated-token sequences, the padding/spam signal on pre-tokenized
    * corpora). Same sort + run-length scheme, null elements counted as
    * one extra symbol (array_distinct's null semantics). Empty ⇒ 0.0. */
  def tokenPairKeys(a: ArrayData): ArrayData = {
    val n = a.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var prev = readTok(a, 0, "token_pair_keys")
    var i = 1
    while (i < n) {
      val cur = readTok(a, i, "token_pair_keys")
      out(i - 1) = (prev.toLong << 32) | (cur.toLong & 0xffffffffL)
      prev = cur
      i += 1
    }
    new GenericArrayData(out)
  }

  private def readTok(a: ArrayData, i: Int, who: String): Int = {
    if (a.isNullAt(i))
      throw new IllegalArgumentException(s"$who: null token element")
    val t = a.getInt(i)
    if (t < 0)
      throw new IllegalArgumentException(s"$who: negative token id $t")
    t
  }

  def bpeMergePair(a: ArrayData, pa: Int, pb: Int, newId: Int): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var w = 0
    var i = 0
    while (i < n) {
      val t = readTok(a, i, "bpe_merge_pair")
      if (t == pa && i + 1 < n && readTok(a, i + 1, "bpe_merge_pair") == pb) {
        out(w) = newId; w += 1; i += 2
      } else {
        out(w) = t; w += 1; i += 1
      }
    }
    new GenericArrayData(if (w == n) out else java.util.Arrays.copyOf(
      out.asInstanceOf[Array[AnyRef]], w).asInstanceOf[Array[Any]])
  }

  /** All-rules BPE encode: `rules` is the flat (a, b, newId) triple list
    * in TRAINING ORDER; each rule is one full greedy left-to-right pass
    * over the row's current token buffer (exactly chained bpeMergePair,
    * without `rules.length` generated methods). Single int scratch
    * buffer, each pass compacting in place. */
  def bpeMergeAll(a: ArrayData, table: KernelTable[Array[Int]]): ArrayData = {
    val rules = table.get
    var n = a.numElements()
    val buf = new Array[Int](n)
    var i = 0
    while (i < n) { buf(i) = readTok(a, i, "bpe_merge_all"); i += 1 }
    var r = 0
    while (r < rules.length) {
      val pa = rules(r); val pb = rules(r + 1); val nid = rules(r + 2)
      var w = 0
      i = 0
      while (i < n) {
        if (buf(i) == pa && i + 1 < n && buf(i + 1) == pb) {
          buf(w) = nid; w += 1; i += 2
        } else {
          buf(w) = buf(i); w += 1; i += 1
        }
      }
      n = w
      r += 3
    }
    val out = new Array[Any](n)
    i = 0
    while (i < n) { out(i) = buf(i); i += 1 }
    new GenericArrayData(out)
  }

  /** Interval binary search: index i of the [los(i), his(i)) interval
    * containing v, or -1 (gap / out of range). Arrays sorted by lo,
    * non-overlapping — validated at plan build, not per row. */
  def rangeBucket(v: Double, lows: KernelTable[Array[Double]],
      highs: KernelTable[Array[Double]]): Int = {
    val los = lows.get; val his = highs.get
    var lo = 0
    var hi = los.length - 1
    var ans = -1
    while (lo <= hi) {
      val m = (lo + hi) >>> 1
      if (los(m) <= v) { ans = m; lo = m + 1 } else hi = m - 1
    }
    if (ans >= 0 && v < his(ans)) ans else -1
  }

  def intArrayEntropy(a: ArrayData): Double = {
    val n0 = a.numElements()
    if (n0 == 0) return 0.0
    val vals = new Array[Int](n0)
    var nNull = 0
    var j = 0
    var i = 0
    while (i < n0) {
      if (a.isNullAt(i)) nNull += 1
      else { vals(j) = a.getInt(i); j += 1 }
      i += 1
    }
    java.util.Arrays.sort(vals, 0, j)
    var sumKlnK = 0.0
    var runStart = 0
    i = 1
    while (i <= j) {
      if (i == j || vals(i) != vals(runStart)) {
        val k = (i - runStart).toDouble
        sumKlnK += k * math.log(k)
        runStart = i
      }
      i += 1
    }
    if (nNull > 0) sumKlnK += nNull.toDouble * math.log(nNull.toDouble)
    math.log(n0.toDouble) - sumKlnK / n0
  }

  /** true iff the (hi, lo) pair is in `table` ([h0,l0,h1,l1,...] sorted
    * by (hi, lo) UNSIGNED) — the shared binary search of the
    * decontamination probes. */
  @inline private def pairInTable(hi: Long, lo: Long,
      table: Array[Long]): Boolean = {
    var loIdx = 0
    var hiIdx = table.length / 2 - 1
    while (loIdx <= hiIdx) {
      val mid = (loIdx + hiIdx) >>> 1
      val th = table(2 * mid)
      val tl = table(2 * mid + 1)
      val c =
        if (th != hi) java.lang.Long.compareUnsigned(th, hi)
        else java.lang.Long.compareUnsigned(tl, lo)
      if (c == 0) return true
      else if (c < 0) loIdx = mid + 1
      else hiIdx = mid - 1
    }
    false
  }

  /** distinct token-n-gram hits of a sequence against a sorted pair
    * table — the fused, allocation-free probe behind the zero-shuffle
    * decontamination form (see [[TokenOps.tokenContaminated]]): the
    * gram keys are the [[tokenGramKeys]] (h1, h2) lanes computed IN
    * PLACE (no byte[16] per window, no per-row LinkedHashSet — the
    * two-kernel form allocated ~3 objects per window just to hand keys
    * from one kernel to the next), each window binary-searched, and
    * only HIT keys are deduplicated (a tiny linear scan — hits are
    * contamination-rare; duplicate windows share a key, two different
    * grams cannot, so distinct hit keys ≡ the distinct-gram hit count
    * of tokenGramKeys(distinct=true) + membership). */
  def countGramHits(tokens: ArrayData, n: Int, pairs: KernelTable[Array[Long]]): Long = {
    val table = pairs.get
    val len = tokens.numElements()
    if (len < n || table.length == 0) return 0L
    val m1 = new Array[Long](len)
    val m2 = new Array[Long](len)
    var i = 0
    while (i < len) {
      if (tokens.isNullAt(i))
        throw new IllegalArgumentException("count_gram_hits: null token element")
      val t = tokens.getInt(i).toLong
      m1(i) = mix64(t ^ 0x243f6a8885a308d3L) // tokenGramKeys' lanes exactly
      m2(i) = mix64(t ^ 0x13198a2e03707344L)
      i += 1
    }
    var hitHi: Array[Long] = null
    var hitLo: Array[Long] = null
    var hits = 0
    val count = len - n + 1
    var s = 0
    while (s < count) {
      var h1 = 0x9368e53c2f6af274L ^ n.toLong
      var h2 = 0x586dcd208f7cd3fdL + n.toLong
      var k = 0
      while (k < n) {
        h1 = h1 * 0x100000001b3L + m1(s + k)
        h2 = h2 * 0xc6a4a7935bd1e995L + m2(s + k)
        k += 1
      }
      h1 = mix64(h1)
      h2 = mix64(h2)
      if (pairInTable(h1, h2, table)) {
        var seen = false
        var j = 0
        while (j < hits) {
          if (hitHi(j) == h1 && hitLo(j) == h2) { seen = true; j = hits }
          j += 1
        }
        if (!seen) {
          if (hitHi == null) { hitHi = new Array[Long](8); hitLo = new Array[Long](8) }
          else if (hits == hitHi.length) {
            hitHi = java.util.Arrays.copyOf(hitHi, 2 * hits)
            hitLo = java.util.Arrays.copyOf(hitLo, 2 * hits)
          }
          hitHi(hits) = h1
          hitLo(hits) = h2
          hits += 1
        }
      }
      s += 1
    }
    hits.toLong
  }

  /** assemble a chunk's token stream from its collected
    * (chunk_off, frag array<int>) fragments: sort by chunk_off and
    * concatenate — one codegen pass replacing the interpreted
    * array_sort + transform + flatten Column chain (higher-order Column
    * functions run interpreted and re-evaluate referenced subtrees per
    * element — the WordShingles lesson; this is the packed-chunk
    * assembly's only per-row hot path). Fragments are contiguous and
    * non-overlapping by the manifest arithmetic; chunk_off is unique per
    * fragment, so ordering by it alone equals the struct sort it
    * replaces. */
  def assembleFragments(frags: ArrayData): ArrayData = {
    val n = frags.numElements()
    val offs = new Array[Long](n)
    val fr = new Array[ArrayData](n)
    var total = 0
    var i = 0
    while (i < n) {
      val s = frags.getStruct(i, 2)
      offs(i) = s.getLong(0)
      fr(i) = s.getArray(1)
      total += fr(i).numElements()
      i += 1
    }
    // O(n log n): a budget-sized chunk of one-token documents holds
    // thousands of fragments
    val idx = Array.tabulate[Integer](n)(Int.box)
    java.util.Arrays.sort(idx, (x: Integer, y: Integer) =>
      java.lang.Long.compare(offs(x), offs(y)))
    val byOff = idx.map(x => fr(x))
    val out = new Array[Int](total)
    var p = 0
    i = 0
    while (i < n) {
      val f = byOff(i)
      val m = f.numElements()
      var k = 0
      while (k < m) { out(p) = f.getInt(k); p += 1; k += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** sorted (hi, lo) pair table from 16-byte keys — the driver-side
    * builder for [[countKeyHits]]. */
  def keyPairTable(keys: Array[Array[Byte]]): Array[Long] = {
    val pairs = keys.map { b =>
      require(b.length == 16, s"key must be 16 bytes, got ${b.length}")
      var hi = 0L; var lo = 0L
      var j = 0
      while (j < 8) {
        hi = (hi << 8) | (b(j) & 0xffL)
        lo = (lo << 8) | (b(8 + j) & 0xffL)
        j += 1
      }
      (hi, lo)
    }
    val sorted = pairs.sortWith { case ((ah, al), (bh, bl)) =>
      if (ah != bh) java.lang.Long.compareUnsigned(ah, bh) < 0
      else java.lang.Long.compareUnsigned(al, bl) < 0
    }
    val out = new Array[Long](2 * sorted.length)
    var i = 0
    while (i < sorted.length) {
      out(2 * i) = sorted(i)._1
      out(2 * i + 1) = sorted(i)._2
      i += 1
    }
    out
  }

  /** ±1 hyperplane-weight matrices, cached per (planes, dims): built once
    * per JVM, shared by every partition. Weight(p,i) = bit 13 of the murmur3
    * fmix32 finalizer applied to (p·65537 + i + 1) — pure 32-bit integer
    * math, so a SQL oracle can recompute it exactly (see
    * SparkEntry.planeBitSql). A full-avalanche finalizer is LOAD-BEARING:
    * the previous single Knuth multiply was LINEAR in the key, so plane
    * rows p and p' differed by a CONSTANT pattern — of 96 planes at dim 64,
    * 29 pairs were byte-identical and 18 exact negations (mean |corr| 0.50),
    * collapsing LSH chunks into mega-buckets (measured: 382M candidate
    * pairs instead of ~8M on the 2M-vector ANN bench — the same linear-
    * family bias class as the round-3 minhash splitmix64 fix). fmix32
    * brings mean |corr| to 0.098 and the top 12-bit-chunk occupancy from
    * 5.9% to 0.25% on gaussian inputs. */
  def fmix32(k: Long): Long = {
    var h = k & 0xffffffffL
    h ^= h >>> 16
    h = (h * 0x85ebca6bL) & 0xffffffffL
    h ^= h >>> 13
    h = (h * 0xc2b2ae35L) & 0xffffffffL
    h ^= h >>> 16
    h
  }
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Array[Array[Double]]]()
  def planeMatrix(planes: Int, dims: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((planes.toLong << 32) | dims.toLong, _ =>
      Array.tabulate(planes, dims) { (p, i) =>
        val h = fmix32(p.toLong * 65537L + i.toLong + 1L)
        if (((h >> 13) & 1L) == 1L) 1.0 else -1.0
      })

  /** Packed `planes`-bit random-hyperplane signature of a float vector:
    * bit p = (dot(v, plane_p) >= 0). ONE pass per row against the cached
    * weight matrix — no per-element hashing, no allocation (replaces the
    * per-(row, dim, plane) string-hash kernel flagged in round 1). */
  def hyperplaneSig(v: ArrayData, planes: Int): Long = {
    val n = v.numElements()
    val m = planeMatrix(planes, n)
    var sig = 0L
    var p = 0
    while (p < planes) {
      val w = m(p)
      var dot = 0.0
      var i = 0
      while (i < n) {
        dot += v.getFloat(i) * w(i)
        i += 1
      }
      if (dot >= 0.0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Banded variant of [[hyperplaneSig]]: chunk b = sign bits of planes
    * [b·per, (b+1)·per), bit i of the chunk = plane b·per+i — identical
    * values to shifting the packed signature when planes ≤ 64, but with
    * no limit on the total plane count. */
  def hyperplaneBandChunks(v: ArrayData, planes: Int, bands: Int): ArrayData = {
    val n = v.numElements()
    val m = planeMatrix(planes, n)
    val per = planes / bands
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var chunk = 0L
      var j = 0
      while (j < per) {
        val w = m(b * per + j)
        var dot = 0.0
        var i = 0
        while (i < n) {
          dot += v.getFloat(i) * w(i)
          i += 1
        }
        if (dot >= 0.0) chunk |= (1L << j)
        j += 1
      }
      out(b) = chunk
      b += 1
    }
    new GenericArrayData(out)
  }
}


/** A constant kernel argument (gram table, interval bounds, merge rules,
  * stopword sets) carried in the plan as an `ObjectType` literal. Equality
  * and hash are structural, so two kernels built from equal but distinct
  * arrays are semantically equal: subexpression elimination and exchange
  * reuse see through them, where a bare array compares by reference.
  * `toString` stays short, so plan text never prints a 50k-rule table. */
final class KernelTable[T <: AnyRef](val get: T) extends Serializable {
  // planning hashes expressions often; a 50k-rule table costs O(n) a time
  private lazy val hash = java.util.Arrays.deepHashCode(Array[AnyRef](get))
  override def hashCode: Int = hash
  override def equals(o: Any): Boolean = o match {
    case t: KernelTable[_] => hash == t.hashCode && java.util.Objects.deepEquals(get, t.get)
    case _ => false
  }
  override def toString: String =
    s"KernelTable(length=${java.lang.reflect.Array.getLength(get)}, hash=$hashCode)"
}

/** Column functions over the kernels above. Each is one [[kernel]] call:
  * the static method as a Catalyst expression, with scalar arguments as
  * literals and constant tables as [[KernelTable]] literals. */
object opscol {
  /** `cls.fn(args...)` as a `StaticInvoke`. Generated code calls the static
    * method directly inside whole-stage codegen (a Scala object's mirror
    * class has static forwarders); interpreted eval finds the same method
    * by reflection from the argument data types.
    *
    * `propagateNull`: a null argument gives null without calling `fn`
    * (else `fn` receives the null and handles it). `returnNullable`: `fn`
    * may return null for non-null arguments; with `false`, generated code
    * takes a returned null for a value. The result is nullable iff either
    * applies (a null-propagating call with a nullable argument). */
  def kernel(cls: Class[_], fn: String, dataType: DataType, args: Seq[Column],
      propagateNull: Boolean = true, returnNullable: Boolean = false): Column =
    graftshim.column(StaticInvoke(cls, dataType, fn, args.map(graftshim.expression),
      propagateNull = propagateNull, returnNullable = returnNullable))

  /** a scalar argument as a Catalyst literal (`functions.lit` would leave
    * an unresolved node, which a SQL function builder never resolves) */
  private[graft] def scalar(v: Any): Column = graftshim.column(Literal(v))

  /** a constant table argument (see [[KernelTable]]) */
  private[graft] def table(values: AnyRef): Column =
    graftshim.column(Literal(new KernelTable(values), ObjectType(classOf[KernelTable[_]])))

  private def ops(fn: String, dataType: DataType, args: Column*): Column =
    kernel(OpsKernels.getClass, fn, dataType, args)
  private val Longs = ArrayType(LongType, containsNull = false)
  private val Ints = ArrayType(IntegerType, containsNull = false)
  private val Strings = ArrayType(StringType, containsNull = false)

  /** comma-joined sliding token windows; distinct keeps first occurrences
    * (array_distinct order) */
  def tokenNgrams(c: Column, n: Int, distinct: Boolean = false): Column = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    ops("tokenNgrams", Strings, c, scalar(n), scalar(distinct))
  }
  /** 16-byte routing keys per token window, render-free */
  def tokenGramKeys(c: Column, n: Int, distinct: Boolean = false): Column = {
    require(n >= 1, "gram size must be >= 1")
    ops("tokenGramKeys", ArrayType(BinaryType, containsNull = false), c, scalar(n),
      scalar(distinct))
  }
  /** every adjacent token pair packed into one long `(a << 32) | b` — the
    * BPE pair-count key; token ids must be non-negative */
  def tokenPairKeys(c: Column): Column = ops("tokenPairKeys", Longs, c)
  /** distinct token-n-gram hits against the plan-baked sorted (hi, lo)
    * pair table: the exact, zero-shuffle form of "render keys → explode →
    * broadcast-probe → count" for benchmark-sized probe sets */
  def countGramHits(c: Column, n: Int, table: Array[Long]): Column = {
    require(n >= 1, "gram size must be >= 1")
    require(table.length % 2 == 0, "pair table must hold (hi, lo) longs")
    ops("countGramHits", LongType, c, scalar(n), this.table(table))
  }
  /** array<struct<chunk_off: bigint, frag: array<int>>> → the fragments'
    * tokens concatenated in chunk_off order */
  def assembleFragments(c: Column): Column = ops("assembleFragments", Ints, c)
  /** one-pass stopword-argmax language ID; `stops` = the (en, es, de, fr)
    * word lists in tie-break order */
  def langId4(c: Column, stops: Array[Array[String]]): Column = {
    require(stops.length == 4, "exactly (en, es, de, fr) stop lists")
    val sets = stops.map { l =>
      val s = new java.util.HashSet[String](); l.foreach(s.add); s
    }
    ops("langId4", StringType, c, table(sets))
  }
  /** ONE greedy left-to-right non-overlapping merge pass: each adjacent
    * (a, b) of the input becomes `newId`; a consumed position cannot start
    * another merge (in `aaa` with pair (a, a), only position 0 merges) */
  def bpeMergePair(c: Column, a: Int, b: Int, newId: Int): Column = {
    require(a >= 0 && b >= 0 && newId >= 0, "token ids must be non-negative")
    ops("bpeMergePair", Ints, c, scalar(a), scalar(b), scalar(newId))
  }
  /** the frozen merge table applied in training order in one loop per row
    * (a 50k-rule table chained as bpeMergePair calls would blow the codegen
    * method budget) */
  def bpeMergeAll(c: Column, rules: Seq[(Int, Int, Int)]): Column = {
    val flat = rules.flatMap { case (a, b, n) => Seq(a, b, n) }.toArray
    require(flat.length % 3 == 0, "rules must be flat (a, b, newId) triples")
    require(flat.forall(_ >= 0), "token ids must be non-negative")
    ops("bpeMergeAll", Ints, c, table(flat))
  }
  /** index of the sorted, non-overlapping [lo, hi) interval holding the
    * double value, or -1: O(log m) per row, where Spark plans the range
    * predicate against a broadcast dimension as a nested-loop join */
  def rangeBucket(c: Column, los: Array[Double], his: Array[Double]): Column = {
    require(los.length == his.length, "parallel interval arrays required")
    ops("rangeBucket", IntegerType, c, table(los), table(his))
  }
  def simhash64(c: Column): Column = ops("simhash64", LongType, c)
  def minhashSig(c: Column, k: Int): Column = ops("minhash", Longs, c, scalar(k))
  def cosineSimF(a: Column, b: Column): Column = ops("cosineF", DoubleType, a, b)
  /** cosineSimF over array<double> inputs */
  def cosineSimD(a: Column, b: Column): Column = ops("cosineD", DoubleType, a, b)
  /** floor(100·|a∩b| / |a∪b|) over two string arrays as sets */
  def jaccardPct(a: Column, b: Column): Column = ops("jaccardPct", LongType, a, b)
  /** packed `planes`-bit random-hyperplane signature (planes ≤ 64) */
  def hyperplaneSig(c: Column, planes: Int): Column = {
    require(planes > 0 && planes <= 64, s"planes must be in [1,64], got $planes")
    ops("hyperplaneSig", LongType, c, scalar(planes))
  }
  /** banded LSH chunks: chunk b packs the sign bits of planes
    * [b·per, (b+1)·per) of the same plane matrix as hyperplaneSig, so for
    * planes ≤ 64 it equals chunk b of the packed signature; the plane count
    * is unlimited */
  def hyperplaneBandChunks(c: Column, planes: Int, bands: Int): Column = {
    require(planes > 0 && bands > 0 && planes % bands == 0,
      s"bands must divide planes, got planes=$planes bands=$bands")
    require(planes / bands <= 64, s"per-band chunk must fit a long, got ${planes / bands} bits")
    ops("hyperplaneBandChunks", Longs, c, scalar(planes), scalar(bands))
  }
  /** LSH band-bucket hashes straight from the minhash signature longs */
  def minhashBands(c: Column, bands: Int): Column =
    ops("minhashBands", Longs, c, scalar(bands))
  /** normalized distinct word n-gram shingles in one pass */
  def wordShingles(c: Column, n: Int): Column = {
    require(n >= 1, "shingle size must be >= 1")
    ops("wordShingles", Strings, c, scalar(n))
  }
  /** in-order word n-grams with multiplicity; < n words ⇒ empty array */
  def wordNgramsMulti(c: Column, n: Int): Column = {
    require(n >= 1, "ngram size must be >= 1")
    ops("wordNgramsMulti", Strings, c, scalar(n))
  }
  /** Shannon entropy (nats) of the string's codepoint distribution: a
    * narrow projection, where the explode → groupBy form shuffles twice */
  def charEntropy(c: Column): Column = ops("charEntropy", DoubleType, c)
  /** Shannon entropy (nats) of the sequence's token-id distribution */
  def tokenEntropy(c: Column): Column = ops("intArrayEntropy", DoubleType, c)
}
