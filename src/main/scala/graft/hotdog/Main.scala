package graft.hotdog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** E1 daemon-path equivalent as a spark-submit main: read the sequences
  * table (or synthesize it to `out/input`), route it with a hotdog-YAML
  * config, fan out to per-topic parquet sinks, write the audit table, print
  * the /stats JSON.
  *
  * Usage: Main [--config path.yml] [--rows N] [--input dir] [--out dir]
  *             [--batch id]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cfg = opts.get("config") match {
      case Some(p) => config.load(p)
      case None    => Configs.flagship
    }
    val rows = opts.getOrElse("rows", "100000").toLong
    val out = opts.getOrElse("out", "/tmp/graft-hotdog-out")
    val batchId = opts.getOrElse("batch", "0").toLong

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .appName("graft-hotdog")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val sequences = input(spark, opts.get("input"), rows, out)
    val dim = Corpus.sourceDim(spark)
    val result = Pipeline.run(sequences, cfg, dim = Some(dim))

    val sentMicros =
      Pipeline.writeBatch(result.routed, s"$out/routed", s"$out/audit", batchId)

    println(Stats.formatJson(Stats.withSentTimer(result.stats, sentMicros)))
    println(s"[graft-hotdog] batch $batchId written to $out/routed")
    spark.stop()
  }

  /** The sequences table as a parquet scan: `given` when set, else `rows`
    * generated rows written once under `out/input`. Generated in the plan,
    * the corpus fuses into the route's codegen stage, one method over
    * HotSpot's 8,000 B `HugeMethodLimit` that is then never JIT-compiled. */
  def input(spark: SparkSession, given: Option[String], rows: Long, out: String): DataFrame =
    spark.read.schema(model.sequencesSchema).parquet(given.getOrElse {
      Corpus.sequences(spark, rows).write.mode("overwrite").parquet(s"$out/input")
      s"$out/input"
    })
}
