package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** The session Bench (and Trace) times queries in. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The queries named in `only` (all when None), in run order. Unknown
    * names are a hard error naming them (a typo must not print ok:true);
    * `what` says where the names came from. */
  def ordered(only: Option[Set[String]], what: String): Seq[(String, Query)] = {
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"$what names not in SparkEntry.queries: ${unknown.mkString(", ")}")
    }
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    // Deterministic order, CPU-heaviest first: a many-query run keeps
    // loading generated classes, and the accumulated class churn
    // deoptimizes shared runtime helpers — the same heavy query measured
    // 4x slower late in the run than early (both trials, so min-of-2
    // does not save it), while isolated runs are stable. Front-running
    // the heavy dedup path gives it a fresh JIT; the streaming queries
    // (overhead-bound, checkpoint+listener machinery) go last.
    val priority = Seq(
      "dd_wordset_jaccard", "pipe_clean", "dd_neardup_dedup", "dd_minhash",
      "dd_incr_near", "dd_lines", "dd_components", "dd_simhash",
      "dd_embed_neardup", "dd_exact",
      "sim_topk_lsh", "sim_topk_ivf", "sim_topk",
      "tok_contam", "tok_ngrams", "pipe_dsir", "pipe_shuffle",
      "sim_kmeans").zipWithIndex.toMap
    val streamingLast = Set("hd_window", "hd_state_totals", "dd_stream_dedup",
      "ev_sessions_stream")
    selected.toSeq.sortBy { case (n, _) =>
      (if (streamingLast(n)) 2 else if (priority.contains(n)) 0 else 1,
        priority.getOrElse(n, 0), n)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    // two timed executions per query, min reported: the first run of a
    // fresh generated class executes tiered (C1) while C2 compiles, which
    // can dominate small-SF timings 3-10x on this box (see BENCH/BASELINE.md)
    // SPARK_GRAFT_BENCH_ONLY=dd_minhash,dd_wordset_jaccard → subset run
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val results = ordered(only, "SPARK_GRAFT_BENCH_ONLY").map { case (name, fn) =>
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
        }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      // a failed query must never masquerade as a fast success
      name -> (if (runs.forall(_._2)) runs.map(_._1).min else Double.NaN)
    }
    val failed = results.collect { case (k, v) if v.isNaN => k }.toSeq.sorted
    val qs = results.map { case (k, v) =>
      "\"" + k + "\":" + (if (v.isNaN) "\"FAILED\"" else v.toString)
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filterNot(_.isNaN).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","timing":"min-of-2","ok":${failed.isEmpty},"failed":$failedJson,"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
