package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.hotdog.SparkSpec

/** Specs for the token-axis operators (TokenOps): n-gram windowing over
  * `tokens: array<int32>` columns, global top-k gram counting, and
  * per-sequence duplicated-token-span stats. */
class TokenOpsSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark
  import spark.implicits._

  private def grams(tokens: Seq[Int], n: Int): Seq[String] = {
    val df = Seq(Tuple1(tokens)).toDF("tokens")
    df.select(TokenOps.tokenNgrams(col("tokens"), n).as("g"))
      .collect()(0).getSeq[String](0)
  }

  // ---- tokenNgrams -------------------------------------------------------

  test("tokenNgrams: sliding windows, comma-joined, order preserved") {
    assert(grams(Seq(5, 6, 7, 8), 2) == Seq("5,6", "6,7", "7,8"))
    assert(grams(Seq(5, 6, 7, 8), 3) == Seq("5,6,7", "6,7,8"))
    assert(grams(Seq(5, 6, 7, 8), 4) == Seq("5,6,7,8"))
  }

  test("tokenNgrams: sequences shorter than n yield empty, n=1 is identity") {
    assert(grams(Seq(1, 2), 3) == Seq.empty)
    assert(grams(Seq.empty[Int], 2) == Seq.empty)
    assert(grams(Seq(9, -3, 0), 1) == Seq("9", "-3", "0"))
    intercept[IllegalArgumentException] { TokenOps.tokenNgrams(col("x"), 0) }
  }

  test("tokenNgrams: repeated windows repeat (occurrence, not set, semantics)") {
    assert(grams(Seq(1, 2, 1, 2, 1), 2) == Seq("1,2", "2,1", "1,2", "2,1"))
  }

  // ---- ngramTopK ---------------------------------------------------------

  test("ngramTopK: counts every occurrence, n_docs distinct, tie order (n desc, gram asc)") {
    val df = Seq(
      ("a", Seq(1, 2, 1, 2)), // grams: 1,2 / 2,1 / 1,2
      ("b", Seq(1, 2, 3)),    // grams: 1,2 / 2,3
      ("c", Seq(2, 3))        // grams: 2,3
    ).toDF("doc_id", "tokens")
    val top = TokenOps.ngramTopK(df, "doc_id", "tokens", n = 2, k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // 1,2 ×3 (docs a,b); 2,3 ×2 (docs b,c); 2,1 ×1 — tie impossible here,
    // but check the boundary: k=2 keeps exactly the two most frequent
    assert(top.toSeq == Seq(("1,2", 3L, 2L), ("2,3", 2L, 2L)))
  }

  test("ngramTopK: k ties broken by gram ascending") {
    val df = Seq(
      ("a", Seq(1, 1)), ("b", Seq(2, 2)), ("c", Seq(3, 3))
    ).toDF("doc_id", "tokens")
    // all three grams have n=1; k=2 must keep the lexicographically
    // smallest gram strings
    val top = TokenOps.ngramTopK(df, "doc_id", "tokens", n = 2, k = 2)
      .collect().map(_.getString(0)).toSeq
    assert(top == Seq("1,1", "2,2"))
  }

  // ---- tokenSpanDupStats -------------------------------------------------

  test("tokenSpanDupStats: total output, cross-sequence spans counted, self-repeats not") {
    val df = Seq(
      ("a", Seq(1, 2, 3, 4)),    // distinct 2-grams: 1,2 2,3 3,4
      ("b", Seq(2, 3, 4, 9)),    // distinct 2-grams: 2,3 3,4 4,9
      ("c", Seq(7, 7, 7)),       // distinct 2-grams: 7,7 (self-repeat only)
      ("d", Seq(5))              // shorter than n: no grams
    ).toDF("doc_id", "tokens")
    val out = TokenOps.tokenSpanDupStats(df, "doc_id", "tokens", n = 2)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out == Map(
      "a" -> ((3L, 2L)), // shares 2,3 and 3,4 with b
      "b" -> ((3L, 2L)),
      "c" -> ((1L, 0L)), // 7,7 appears 2× within c but in no OTHER doc
      "d" -> ((0L, 0L))  // no grams, still reported
    ))
  }

  // ---- tokenContaminated ---------------------------------------------

  test("tokenContaminated: distinct shared grams vs eval set, hits only, zero-shuffle probe") {
    val train = Seq(
      ("t1", Seq(1, 2, 3, 4)),   // 2-grams: 1,2 2,3 3,4 — shares 1,2 and 2,3
      ("t2", Seq(9, 8, 7)),      // shares nothing
      ("t3", Seq(1, 2, 1, 2))    // distinct 2-grams 1,2 2,1 — shares 1,2 ONCE
    ).toDF("doc_id", "tokens")
    val evalSet = Seq(("e1", Seq(1, 2, 3)), ("e2", Seq(1, 2)))
      .toDF("doc_id", "tokens")
    val out = TokenOps.tokenContaminated(train, evalSet, "doc_id", "tokens", n = 2)
    val got = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("t1" -> 2L, "t3" -> 1L)) // t2 absent: hits only
    // r6 shape: the probe is a plan-baked key-table kernel — the train
    // side never explodes, joins, or shuffles (the guide §3.2 manual
    // pre-filter pattern, exact). A LocalRelation fixture constant-folds
    // to a LocalTableScan, so the plan is asserted on a range-derived
    // train side.
    val trainR = spark.range(50).select(
      concat(lit("r"), col("id")).as("doc_id"),
      array(lit(1), lit(2), (col("id") % 7).cast("int"), lit(4)).as("tokens"))
    val planOut = TokenOps.tokenContaminated(trainR, evalSet, "doc_id", "tokens", n = 2)
    val plan = planOut.queryExecution.executedPlan.toString()
    assert(plan.contains("OpsKernels.countGramHits("), plan)
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Generate"), plan)
  }

  test("tokenContaminated: differential vs the explode+join form on a seeded corpus") {
    val rnd = new scala.util.Random(20260822)
    val train = (0 until 200).map { i =>
      (s"t$i", Seq.fill(3 + rnd.nextInt(12))(rnd.nextInt(9)))
    }.toDF("doc_id", "tokens")
    val evalSet = (0 until 20).map { i =>
      (s"e$i", Seq.fill(3 + rnd.nextInt(8))(rnd.nextInt(9)))
    }.toDF("doc_id", "tokens")
    val out = TokenOps.tokenContaminated(train, evalSet, "doc_id", "tokens", n = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // naive recompute: explode distinct grams both sides, inner join, count
    val tg = train.select(col("doc_id"),
      explode(opscol.tokenGramKeys(col("tokens"), 3, distinct = true)).as("g"))
    val eg = evalSet.select(
        explode(opscol.tokenGramKeys(col("tokens"), 3, distinct = true)).as("g"))
      .distinct()
    val naive = tg.join(eg, "g").groupBy("doc_id").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == naive)
  }

  test("tokenContaminated: an eval set past the key bound fails loudly, naming its size") {
    val train = Seq(("t1", Seq(1, 2, 3))).toDF("doc_id", "tokens")
    // 2 rows, 4 distinct 2-grams: 1,2 2,3 3,4 and 9,9
    val evalSet = Seq(("e1", Seq(1, 2, 3, 4)), ("e2", Seq(9, 9)))
      .toDF("doc_id", "tokens")
    val e = intercept[IllegalArgumentException](
      TokenOps.tokenContaminated(train, evalSet, "doc_id", "tokens", n = 2, keyBound = 3))
    assert(e.getMessage.contains("(2 rows)") && e.getMessage.contains("more than 3"),
      e.getMessage)
    // at the bound the probe is built and exact
    val out = TokenOps.tokenContaminated(train, evalSet, "doc_id", "tokens", n = 2, keyBound = 4)
    assert(out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == Map("t1" -> 2L))
  }

  // ---- scrubDupSpans / scrubTokens ----------------------------------------

  test("scrubDupSpans: overlap merge, within-doc repeats count, totality") {
    val df = Seq(
      ("a", Seq(1, 2, 3, 4, 5)), // windows 1,2 / 2,3 duplicated with b → starts 0,1
      ("b", Seq(1, 2, 3, 9, 8)),
      ("c", Seq(7, 7, 7)),       // 7,7 at starts 0,1 — twice WITHIN c: duplicated
      ("d", Seq(5))              // shorter than n: no windows
    ).toDF("doc_id", "tokens")
    val out = TokenOps.scrubDupSpans(df, "doc_id", "tokens", n = 2)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // starts {0,1} with n=2 cover positions {0,1,2}: 3, NOT 4 — the
    // interval-union fold must merge the overlap
    assert(out == Map(
      "a" -> ((5L, 3L, 2L)),
      "b" -> ((5L, 3L, 2L)),
      "c" -> ((3L, 3L, 0L)), // fully covered by its own repeat
      "d" -> ((1L, 0L, 1L))  // no windows, still reported
    ))
  }

  test("scrubTokens: removes exactly the covered positions, pass-through otherwise") {
    val df = Seq(
      ("a", Seq(1, 2, 3, 4, 5)),
      ("b", Seq(1, 2, 3, 9, 8)),
      ("c", Seq(7, 7, 7)),
      ("d", Seq(5))
    ).toDF("doc_id", "tokens")
    val out = TokenOps.scrubTokens(df, "doc_id", "tokens", n = 2)
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    assert(out == Map(
      "a" -> Seq(4, 5),   // positions 0..2 covered
      "b" -> Seq(9, 8),
      "c" -> Seq.empty,
      "d" -> Seq(5)
    ))
  }

  /** brute-force reference: mark every position covered by a window whose
    * gram occurs ≥2 times in the whole corpus (same-doc repeats counted). */
  private def bruteScrub(docs: Map[String, Seq[Int]], n: Int)
      : Map[String, (Long, Long, Seq[Int])] = {
    val freq = docs.values.toSeq
      .flatMap(t => t.sliding(n).filter(_.length == n))
      .groupBy(identity).map { case (g, o) => g -> o.size }
    docs.map { case (id, t) =>
      val covered = t.indices.sliding(n).filter(_.length == n)
        .filter(w => freq(t.slice(w.head, w.head + n)) >= 2)
        .flatten.toSet
      val clean = t.indices.filterNot(covered).map(t)
      id -> ((t.length.toLong, covered.size.toLong, clean))
    }
  }

  test("scrubDupSpans/scrubTokens: differential vs brute force on a seeded corpus") {
    val rnd = new scala.util.Random(42)
    // small alphabet forces plenty of genuine window collisions
    val docs = (0 until 60).map { i =>
      s"d$i" -> Seq.fill(3 + rnd.nextInt(20))(rnd.nextInt(4))
    }.toMap
    val df = docs.toSeq.toDF("doc_id", "tokens")
    val n = 3
    val want = bruteScrub(docs, n)
    val gotStats = TokenOps.scrubDupSpans(df, "doc_id", "tokens", n)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val gotClean = TokenOps.scrubTokens(df, "doc_id", "tokens", n)
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    docs.keys.foreach { id =>
      val (nTok, nDup, clean) = want(id)
      assert(gotStats(id) == ((nTok, nDup, nTok - nDup)), s"stats($id)")
      assert(gotClean(id) == clean, s"clean($id)")
    }
  }

  test("scrubDupSpans: no global window — every Window is partitioned by doc") {
    val df = Seq(("a", Seq(1, 2, 3))).toDF("doc_id", "tokens")
    val plan = TokenOps.scrubDupSpans(df, "doc_id", "tokens", n = 2)
      .queryExecution.executedPlan.toString()
    val windows = plan.linesIterator.filter(_.contains("Window ")).toList
    assert(windows.nonEmpty && windows.forall(_.contains("doc_id")),
      s"global window over data rows:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("tokenSpanDupStats: plan has no cartesian or nested-loop join") {
    val df = Seq(("a", Seq(1, 2, 3))).toDF("doc_id", "tokens")
    val plan = TokenOps.tokenSpanDupStats(df, "doc_id", "tokens", n = 2)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("tokenGramKeys: keyed windows mirror the rendered grams exactly") {
    // keys must identify windows precisely: equal key ⇔ equal rendered
    // gram, positions aligned, distinct mode keeps first-seen order —
    // checked by differential against the string kernel over a corpus
    // with planted repeats (both within and across sequences)
    val seqs = (0 until 40).map { i =>
      (i.toString,
        Seq.tabulate(30)(j => ((i * 13 + j * 7) % 19) - 5) ++ Seq(1, 2, 3, 4))
    }.toDF("doc_id", "tokens")
    for (distinct <- Seq(false, true); n <- Seq(1, 4)) {
      val both = seqs.select(
        opscol.tokenNgrams(col("tokens"), n, distinct).as("g"),
        opscol.tokenGramKeys(col("tokens"), n, distinct).as("k"))
        .collect()
      val gramToKey = scala.collection.mutable.Map[String, Seq[Byte]]()
      val keyToGram = scala.collection.mutable.Map[Seq[Byte], String]()
      both.foreach { r =>
        val gs = r.getSeq[String](0)
        val ks = r.getSeq[Array[Byte]](1).map(_.toSeq)
        assert(gs.length == ks.length, s"length mismatch n=$n distinct=$distinct")
        gs.zip(ks).foreach { case (g, k) =>
          assert(k.length == 16)
          assert(gramToKey.getOrElseUpdate(g, k) == k, s"gram $g two keys")
          assert(keyToGram.getOrElseUpdate(k, g) == g, s"key collision on $g")
        }
      }
    }
  }

  test("tokenGramKeys: short sequences empty, null token rejected") {
    val out = Seq(("a", Seq(1, 2))).toDF("doc_id", "tokens")
      .select(opscol.tokenGramKeys(col("tokens"), 3).as("k"))
      .head().getSeq[Array[Byte]](0)
    assert(out.isEmpty)
    val err = intercept[Exception] {
      Seq(("a", Seq[Integer](1, null, 3))).toDF("doc_id", "tokens")
        .select(opscol.tokenGramKeys(col("tokens"), 2).as("k"))
        .collect()
    }
    assert(Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .take(4).exists(e => Option(e.getMessage).exists(_.contains("null token"))))
  }

  // ---- tokenEntropyStats ---------------------------------------------------

  test("intArrayEntropy: known values, null elements, naive differential") {
    def naive(ts: Seq[Option[Int]]): Double = {
      if (ts.isEmpty) 0.0
      else {
        val n = ts.size.toDouble
        ts.groupBy(identity).values
          .map(g => -(g.size / n) * math.log(g.size / n)).sum
      }
    }
    def viaDf(ts: Seq[Integer]): Double =
      Seq(Tuple1(ts)).toDF("tokens")
        .select(opscol.tokenEntropy(col("tokens")).as("h"))
        .head().getDouble(0)
    assert(viaDf(Seq.empty[Integer]) == 0.0)
    assert(viaDf(Seq[Integer](7, 7, 7, 7)) == 0.0)
    assert(math.abs(viaDf(Seq[Integer](1, 2, 1, 2)) - math.log(2.0)) < 1e-15)
    val cases: Seq[Seq[Integer]] = Seq(
      Seq[Integer](1, 2, 3, 4, 5),
      Seq[Integer](5, 5, 9, -3, 9, 9, Int.MaxValue, Int.MinValue),
      Seq[Integer](1, null, 2, null, 1), // nulls count as one extra symbol
      (0 until 300).map(i => Integer.valueOf(i % 17)))
    cases.foreach { ts =>
      val exp = naive(ts.map(Option(_).map(_.intValue())))
      assert(math.abs(viaDf(ts) - exp) < 1e-12, s"entropy($ts)")
    }
  }

  test("tokenEntropyStats: counts + entropy per sequence, total output") {
    val df = Seq(
      ("a", Seq(10, 10, 20, 30)),
      ("b", Seq.empty[Int])
    ).toDF("doc_id", "tokens")
    val out = TokenOps.tokenEntropyStats(df, "doc_id", "tokens")
      .select("doc_id", "n_tok_total", "n_distinct_tok", "h_tok")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.size == 2)
    assert(out("a").getLong(1) == 4 && out("a").getLong(2) == 3)
    val exp = -(0.5 * math.log(0.5)) - 2 * (0.25 * math.log(0.25))
    assert(math.abs(out("a").getDouble(3) - exp) < 1e-12)
    assert(out("b").getLong(1) == 0 && out("b").getDouble(3) == 0.0)
  }

  // ---- bpeTrain ----

  test("bpeTrain: hand-replayed rounds — adjacency counts, (a,b) tie-break, greedy overlap, merged-symbol pairs") {
    val df = Seq(
      ("d1", Seq(7, 8, 7, 8, 7)),
      ("d2", Seq(7, 8, 9)),
      ("d3", Seq(5, 5, 5, 5))
    ).toDF("doc_id", "tokens")
    val got = TokenOps.bpeTrain(df, "doc_id", "tokens", rounds = 3,
      vocabBase = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq.sortBy(_._1)
    assert(got == Seq(
      // (5,5) ties (7,8) at n=3 and wins the smallest-(a,b) tie-break;
      // greedy merges only 2 of the 3 overlapping occurrences in d3
      (1L, 5L, 5L, 3L, 1001L, 10L),
      (2L, 7L, 8L, 3L, 1002L, 7L),
      // all pairs n=1 now; (1001,1001) — a pair of MERGED symbols — is
      // the smallest (a,b), so round-2 rewrites feed round 3
      (3L, 1001L, 1001L, 1L, 1003L, 6L)), got.toString)
  }

  test("bpeApply: in-order application reproduces the training rewrite; fused ≡ interpreted kernel") {
    val df = Seq(
      ("d1", Seq(7, 8, 7, 8, 7)),
      ("d2", Seq(7, 8, 9)),
      ("d3", Seq(5, 5, 5, 5))
    ).toDF("doc_id", "tokens")
    val rules = TokenOps.bpeTrain(df, "doc_id", "tokens", rounds = 3,
      vocabBase = 1000).orderBy("round").collect()
      .map(r => (r.getLong(1).toInt, r.getLong(2).toInt, r.getLong(4).toInt))
      .toSeq
    // training-time rewrite, replayed by hand:
    //   r1 (5,5)→1001: d3 = [1001, 1001]        (greedy: 2 of 3 overlaps)
    //   r2 (7,8)→1002: d1 = [1002, 1002, 7], d2 = [1002, 9]
    //   r3 (1001,1001)→1003: d3 = [1003]
    val expect = Map(
      "d1" -> Seq(1002, 1002, 7),
      "d2" -> Seq(1002, 9),
      "d3" -> Seq(1003))
    val fused = TokenOps.bpeApply(df, "doc_id", "tokens", rules)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getSeq[Int](2))).toMap
    assert(fused.view.mapValues(_._2).toMap == expect, fused.toString)
    assert(fused.forall { case (_, (n, ts)) => n == ts.length })
    // force the interpreted all-rules kernel (MaxFusedRules exceeded by
    // padding with no-op rules on ids the corpus never contains)
    val padded = rules ++ (1 to TokenOps.MaxFusedRules).map(i =>
      (900000 + i, 900000 + i, 950000 + i))
    val interp = TokenOps.bpeApply(df, "doc_id", "tokens", padded)
      .collect().map(r => r.getString(0) -> r.getSeq[Int](2)).toMap
    assert(interp == expect, interp.toString)
  }

  test("bpeTrain: stops early when no pair remains; partitioning-independent") {
    val tiny = Seq(("a", Seq(1, 2)), ("b", Seq(3))).toDF("doc_id", "tokens")
    val got = TokenOps.bpeTrain(tiny, "doc_id", "tokens", rounds = 5,
      vocabBase = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq((1L, 1L, 2L, 1L, 101L, 2L)), got.toString)

    val df = Seq(("d1", Seq(7, 8, 7, 8, 7)), ("d2", Seq(7, 8, 9)),
      ("d3", Seq(5, 5, 5, 5))).toDF("doc_id", "tokens")
    val one = TokenOps.bpeTrain(df.coalesce(1), "doc_id", "tokens", 3, 1000)
      .collect().map(_.toSeq).toSeq
    val many = TokenOps.bpeTrain(df.repartition(7), "doc_id", "tokens", 3, 1000)
      .collect().map(_.toSeq).toSeq
    assert(one == many)
  }
}
