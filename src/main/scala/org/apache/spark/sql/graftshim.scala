package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to the private[sql] Column <-> Expression converters —
  * the supported way for third-party Catalyst expressions to surface as
  * Columns on Spark 4.x (Column no longer wraps Expression directly). */
object graftshim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a SQL-callable function backed by a Catalyst expression
    * builder (FunctionRegistry is private[sql]). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** Lift an RDD[InternalRow] back into a DataFrame without the external
    * Row round-trip (internalCreateDataFrame is private[sql]). For
    * operators whose per-row work is too hot for the mapPartitions +
    * RowEncoder path — the binary rows flow straight through. */
  def internalCreateDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** How long [[observedOr]] waits for an observed metric. */
  private val ObservedWaitSeconds = 10

  /** `use` of metric `metric` of `obs`, whose observed dataset's action
    * has just returned. Spark delivers observed metrics from an async
    * listener just after the action, so this waits for them, up to
    * [[ObservedWaitSeconds]]. A metric that does not arrive (or is null) is
    * never skipped silently: one loud line ending in `fallbackNote`, then
    * the caller's exact recompute `fallback`. */
  def observedOr[A, T](obs: Observation, metric: String, fallbackNote: String)(
      use: A => T)(fallback: => T): T = {
    val delivered =
      try {
        scala.concurrent.Await.ready(obs.future,
          scala.concurrent.duration.Duration(ObservedWaitSeconds, "s"))
        obs.get.get(metric).filter(_ != null)
      } catch { case _: java.util.concurrent.TimeoutException => None }
    delivered match {
      case Some(v) => use(v.asInstanceOf[A])
      case None =>
        System.err.println(s"[graft] WARN observed metric $metric of ${obs.name} " +
          s"not delivered within ${ObservedWaitSeconds}s; $fallbackNote")
        fallback
    }
  }

  /** The listeners registered on the session's context and on the session
    * itself (`listenerBus` is private[spark], `listListeners` private[sql]). */
  def sparkListeners(spark: SparkSession): Seq[org.apache.spark.scheduler.SparkListenerInterface] = {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.listenerBus.listeners.asScala.toSeq
  }
  def executionListeners(spark: SparkSession): Seq[util.QueryExecutionListener] =
    spark.listenerManager.listListeners().toSeq

  /** Block until every event posted so far has reached the listeners. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Release the block-manager storage behind a localCheckpoint'ed frame
    * (LogicalRDD and its persisted RDD are private[sql]; Dataset offers no
    * unpersist for checkpoints). Iterative operators that checkpoint per
    * round would otherwise leak every round's blocks for the life of the
    * session — across a many-query run the leaked storage squeezes
    * execution memory. No-op on frames that carry no checkpoint. */
  def unpersistCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case l: execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
