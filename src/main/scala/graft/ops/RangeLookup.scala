package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Range join against a static interval dimension — the IP→geo /
  * latency→SLA-band lookup every log pipeline runs on the hot path.
  *
  * Spark has no native range join: `events JOIN dim ON v >= lo AND
  * v < hi` plans as a BroadcastNestedLoopJoin that scans ALL m
  * intervals for EVERY corpus row — O(n·m) compute for an O(n·log m)
  * problem, and the single operator Spark cannot split when n is
  * 100 TB. Re-expressed here the way kdb/DuckDB execute it: the
  * dimension's sorted [lo, hi) bounds ship to every task as two literal
  * arrays inside a codegen'd binary-search expression
  * ([[opscol.rangeBucket]]), each row resolves its interval INDEX in O(log m)
  * with zero shuffle, and the payload attaches by a plain broadcast
  * HASH join on that index — the one join shape AQE can reason about.
  *
  * Driver-collect contract (the Mixing model-sized-collect idiom): the
  * dimension is config-shaped — SLA bands, geo blocks, tariff tables —
  * bounded and known small; it is collected ONCE to build the literal
  * arrays. Intervals must be non-overlapping (validated here, loudly);
  * gaps are legal and resolve to a null payload (left join on index
  * −1). */
object RangeLookup {

  /** `df` enriched with every `dim` column, matched where `valueCol` ∈
    * the dim row's [loCol, hiCol); dim columns null on gaps. */
  def enrich(df: DataFrame, valueCol: Column, dim: DataFrame,
      loCol: String, hiCol: String): DataFrame = {
    val bounds = dim
      .select(col(loCol).cast("double"), col(hiCol).cast("double"))
      .orderBy(col(loCol)).collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    require(bounds.nonEmpty, "empty interval dimension")
    bounds.foreach { case (lo, hi) =>
      require(lo < hi, s"empty/inverted interval [$lo, $hi)") }
    bounds.sliding(2).foreach {
      case Array((_, h1), (l2, _)) =>
        require(h1 <= l2, s"overlapping intervals: hi $h1 > next lo $l2")
      case _ =>
    }
    val los = bounds.map(_._1)
    val his = bounds.map(_._2)
    // the dimension indexed in the SAME lo order the arrays use; the
    // single-partition window is dim-sized (config, not corpus)
    val dimIdx = dim.withColumn("_band_idx",
      (row_number().over(Window.orderBy(col(loCol))) - 1).cast("int"))
    df.withColumn("_band_idx", opscol.rangeBucket(valueCol, los, his))
      .join(broadcast(dimIdx), Seq("_band_idx"), "left")
      .drop("_band_idx")
  }
}
