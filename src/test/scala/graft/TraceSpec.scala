package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshim
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = graft.hotdog.SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = Trace.uninstall(spark)

  test("one JSON line per query, in Bench's order, session conf untouched") {
    val names = Set("hd_window", "hd_route_rows")
    val before = spark.conf.getAll.toSet
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    Trace.run(spark, sf, Some(names))(lines += _)
    val after = spark.conf.getAll.toSet
    assert(after == before, s"set: ${after -- before}, lost: ${before -- after}")

    val json = lines.toSeq.map(new ObjectMapper().readTree(_))
    assert(json.map(_.get("query").asText) == Bench.ordered(Some(names), "test").map(_._1))
    for (j <- json) {
      val q = j.get("query").asText
      for (f <- Seq("count_s", "rows", "full_s", "jobs", "compiles", "stages", "plans", "batches"))
        assert(j.has(f), s"$q: no $f in $j")
      assert(!j.has("error"), j)
      assert(j.get("rows").asLong == SparkEntry.queries(q)(spark, sf).count(), q)
      assert(j.get("count_s").asDouble > 0 && j.get("full_s").asDouble > 0, q)
      assert(j.get("jobs").asInt > 0, q)
      val stages = j.get("stages").elements.asScala.toSeq
      assert(stages.nonEmpty && stages.forall(s => s.has("run_ms") && s.has("tasks")), q)
      val ops = j.get("plans").elements.asScala.flatMap(_.get("operators").elements.asScala).toSeq
      assert(ops.exists(_.has("numOutputRows")), s"$q: no rows out in $ops")
      assert(ops.exists(_.get("op").asText.startsWith("WholeStageCodegen")), q)
    }
    def batches(q: String): Seq[JsonNode] =
      json.find(_.get("query").asText == q).get.get("batches").elements.asScala.toSeq
    assert(batches("hd_route_rows").isEmpty)
    assert(batches("hd_window").nonEmpty)
    assert(batches("hd_window").forall(_.get("durationMs").has("triggerExecution")))
  }

  test("installing twice registers each listener once: every job recorded once") {
    val r = Trace.install(spark)
    assert(Trace.install(spark) eq r)
    val seen = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      r.take(spark)
      seen.set(0)
      spark.range(1000).repartition(3).groupBy((org.apache.spark.sql.functions.col("id") % 7))
        .count().collect()
      val w = r.take(spark)
      assert(seen.get > 0 && w.jobs == seen.get, s"recorded ${w.jobs}, ran ${seen.get}")
      assert(w.plans.size == 1, w.plans)
    } finally spark.sparkContext.removeSparkListener(counter)
    assert(graftshim.executionListeners(spark).size ==
      graftshim.executionListeners(spark).distinct.size)
  }

  test("compiles: > 0 on a query's first run, 0 on a run of the same generated source") {
    // a literal no other query carries: its classes cannot be cached yet
    val k = System.nanoTime()
    val fn: Bench.Query = (s, _) =>
      s.range(1000).select((org.apache.spark.sql.functions.col("id") * k).as("x"))
    def compiles = new ObjectMapper().readTree(Trace.query(spark, sf, "fresh", fn))
      .get("compiles").asLong
    assert(compiles > 0)
    assert(compiles == 0)
  }

  test("Bench's order runs every streaming query after every batch query") {
    val streaming = Set("hd_window", "hd_state_totals", "dd_stream_dedup",
      "ev_sessions_stream", "ev_stream_join")
    val order = Bench.ordered(None, "test").map(_._1)
    assert(streaming.subsetOf(order.toSet))
    val lastBatch = order.lastIndexWhere(!streaming(_))
    val late = streaming.filter(order.indexOf(_) < lastBatch)
    assert(late.isEmpty, s"${late.mkString(", ")} run before batch query ${order(lastBatch)}")
  }

  test("an unknown query name fails loudly, naming it") {
    val e = intercept[IllegalArgumentException](
      Trace.run(spark, sf, Some(Set("hd_route_rows", "no_such_query")))(_ => ()))
    assert(e.getMessage.contains("no_such_query"), e.getMessage)
  }

  test("only the five entry points define a main under src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val mains = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val src = Files.readString(f)
        val pkg = "(?m)^package\\s+([\\w.]+)".r.findAllMatchIn(src).map(_.group(1)).mkString(".")
        // top-level objects (column 0); a main belongs to the last one before it
        val objects = "(?m)^(?:\\w+[ \\t]+)*object[ \\t]+(\\w+)".r.findAllMatchIn(src)
          .map(m => m.start -> m.group(1)).toSeq
        "\\bdef\\s+main\\s*\\(|\\bextends\\s+App\\b".r.findAllMatchIn(src).map { m =>
          pkg + "." + objects.filter(_._1 < m.start).lastOption.fold("?")(_._2)
        }
      }.toSet
    assert(mains == Set("graft.Bench", "graft.Verify", "graft.hotdog.Main",
      "graft.scaling.Runner", "graft.Trace"))
  }
}
