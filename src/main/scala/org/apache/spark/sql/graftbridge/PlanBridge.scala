package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** DataFrame ⇄ LogicalPlan bridge.
  *
  * Spark 4's connect-agnostic `Dataset` hides `ofRows` and
  * `queryExecution` behind the classic implementation (`private[sql]`);
  * commands that execute analyzer-produced plans (the SQL `MERGE INTO`
  * surface) need both. Same seam as [[ColumnBridge]] — a thin adapter
  * hosted inside the `org.apache.spark.sql` namespace, the standard
  * extension-project technique.
  */
object PlanBridge {

  /** Wrap an (analyzed or unanalyzed) logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed plan beneath a DataFrame. */
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Re-bind a streaming micro-batch's EXECUTED rows as a fresh batch
    * DataFrame. Inside `Sink.addBatch` the incoming frame wraps an
    * `IncrementalExecution` whose logical plan has streaming sources —
    * re-planning it (any transform + write) throws "streaming sources
    * must be executed with writeStream.start()". The supported pattern
    * (Spark's own `FileStreamSink` does the same) is to take the executed
    * physical plan's row RDD and wrap it as a plain batch frame.
    */
  def rebindBatch(spark: SparkSession, df: DataFrame): DataFrame = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(qe.executedPlan.execute(), df.schema)
  }

  /** Wrap a batch-computed frame as a STREAMING micro-batch result — the
    * shape `Source.getBatch` must return (`isStreaming = true`, so the
    * incremental planner accepts it; Spark's own `FileStreamSource` uses
    * the same internal constructor). Planning happens here, execution
    * when the micro-batch runs.
    */
  def asStreamingBatch(spark: SparkSession, df: DataFrame,
      declaredSchema: org.apache.spark.sql.types.StructType = null)
      : DataFrame = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(
      qe.toRdd, Option(declaredSchema).getOrElse(df.schema),
      isStreaming = true)
  }

  /** Free the blocks of a frame `localCheckpoint` returned, now.
    * `Dataset.unpersist` only drops CacheManager entries, so it leaves
    * them to the ContextCleaner, which frees them when a driver GC
    * collects the RDD.
    */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan.asInstanceOf[LogicalRDD]
      .rdd.unpersist(blocking = false)

  /** Block until every event posted so far has reached the session's
    * listeners (`LiveListenerBus` is `private[spark]`), so a profiler
    * reads a finished run's jobs and stages without sleeping.
    */
  def waitForListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
