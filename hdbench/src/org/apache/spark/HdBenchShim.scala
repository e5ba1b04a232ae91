package org.apache.spark

/** Blocks until every event posted so far has reached the listeners, so
  * a traced job's task, SQL and streaming events are all in before its
  * per-layer numbers are derived (`listenerBus` is private[spark]). */
object HdBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

package sql {
  /** The query execution an SQL-execution-end event belongs to (the field
    * is private[sql]); links a `QueryExecutionListener` callback, which
    * only sees the `QueryExecution`, to the execution id that Spark jobs
    * and the execution's start and end events carry. */
  object HdBenchSql {
    def queryExecution(e: execution.ui.SparkListenerSQLExecutionEnd): execution.QueryExecution =
      e.qe
  }
}
