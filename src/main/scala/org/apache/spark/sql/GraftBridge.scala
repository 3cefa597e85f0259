package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.streaming.sources.ForeachBatchSink
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.util.SystemClock

/** Bridge into the `private[sql]` Column↔Expression converters — the standard
  * pattern used by external Spark connectors/extensions to build `Column`s
  * from custom Catalyst `Expression`s on Spark 4 (where `Column` wraps a
  * ColumnNode rather than an Expression).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Rebind a DataFrame's (already-analyzed) plan to another session of the
    * same SparkContext — used to run an aggregation under session-conf
    * overrides (e.g. BloomJoin's cap raise) on a CHILD session so the
    * shared session's conf is never touched. The analyzed plan is fully
    * resolved, so re-analysis in the child is a no-op; the shared-state
    * cache manager still applies (cached frames stay cache-fed).
    */
  def withSession(df: DataFrame, session: SparkSession): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)

  /** `spark.sql.leafNodeDefaultParallelism`, or the context's default
    * parallelism where it is unset: the partitions Spark's own leaf scans
    * aim at. */
  def leafNodeDefaultParallelism(session: SparkSession): Int =
    session.asInstanceOf[classic.SparkSession].leafNodeDefaultParallelism

  /** `df.writeStream.foreachBatch(writer).trigger(ProcessingTime(intervalMs))
    * .option("checkpointLocation", checkpointDir).start()`, except that the
    * interval counts from the start of each trigger. Spark's processing-time
    * trigger fires on the multiples of the interval since 1970, so where in
    * the interval the query happened to start decides which epochs of a
    * catch-up start back to back and which wait. Here trigger k+1 starts
    * `intervalMs` after trigger k started (the first counts from the query's
    * start), or as soon as trigger k ends if it ran longer than that.
    */
  def startForeachBatch(df: DataFrame, checkpointDir: String, intervalMs: Long)(
      writer: (DataFrame, Long) => Unit): StreamingQuery = {
    require(df.isStreaming, "startForeachBatch needs a streaming DataFrame")
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.sessionState.streamingQueryManager.startQuery(
      userSpecifiedName = None, userSpecifiedCheckpointLocation = Some(checkpointDir),
      df = ds, extraOptions = Map("checkpointLocation" -> checkpointDir),
      sink = new ForeachBatchSink[Row](writer, ds.exprEnc), outputMode = OutputMode.Append(),
      trigger = Trigger.ProcessingTime(intervalMs), triggerClock = new TriggerStartClock(intervalMs))
  }

  /** The system clock, except that the processing-time trigger's wait for
    * its next grid point becomes a wait for `intervalMs` after the current
    * trigger's start (the return of the previous wait). Spark calls
    * `waitTillTime` only from that trigger loop; every timestamp it reports
    * still reads the system clock.
    */
  private[sql] final class TriggerStartClock(intervalMs: Long) extends SystemClock {
    @volatile private var triggerStartMs = getTimeMillis()
    override def waitTillTime(targetTime: Long): Long = {
      triggerStartMs = super.waitTillTime(triggerStartMs + intervalMs)
      triggerStartMs
    }
  }
}
