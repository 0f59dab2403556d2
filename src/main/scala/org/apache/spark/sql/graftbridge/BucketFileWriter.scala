package org.apache.spark.sql.graftbridge

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, OutputWriter}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.apache.spark.sql.util.SchemaUtils
import org.apache.spark.util.{SerializableConfiguration, Utils}

/** One-job parquet writer for IceLite's staged data files: each task
  * writes its partition, sorted by the bucket column, as one file per
  * bucket through the `OutputWriter` `ParquetFileFormat` prepares (the
  * codec, footer and SQL-conf parquet settings of `df.write.parquet`), without
  * `FileFormatWriter`'s Hadoop commit protocol. IceLite's metadata commit
  * owns visibility.
  */
object BucketFileWriter {

  private val BucketCol = "_bucket"
  private val SettleMs = 30000L

  /** Write `df` minus its `_bucket` column under `dir` as
    * `p<partition>-a<attempt>-b<bucket>.parquet`; returns `(path, bucket,
    * rows)` per file of each SUCCESSFUL task attempt. A null bucket fails
    * the task with an error naming `epochKey`. A failed write throws only
    * once no task of its job still runs (for at most `SettleMs`), so the
    * caller can delete `dir` without a late task recreating it.
    */
  def write(df: DataFrame, dir: String,
      epochKey: String): Seq[(String, Int, Long)] = {
    val ds = df.sortWithinPartitions(BucketCol).asInstanceOf[classic.Dataset[_]]
    val spark = ds.sparkSession
    val b = ds.schema.fieldIndex(BucketCol)
    require(ds.schema(b).dataType == IntegerType, s"$BucketCol must be an int")
    val dataSchema = StructType(ds.schema.filterNot(_.name == BucketCol))
    val format = new ParquetFileFormat
    DataSourceUtils.verifySchema(format, dataSchema)
    SchemaUtils.checkColumnNameDuplication(dataSchema.fieldNames.toSeq,
      spark.sessionState.conf.caseSensitiveAnalysis)
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = format.prepareWrite(spark, job, Map.empty, dataSchema)
    val conf = new SerializableConfiguration(job.getConfiguration)
    val cols = ds.schema.zipWithIndex.collect {
      case (f, i) if i != b => BoundReference(i, f.dataType, f.nullable)
    }
    def task(ctx: TaskContext, rows: Iterator[InternalRow]) = {
      val attempt = new TaskAttemptContextImpl(conf.value, new TaskAttemptID(
        "icelite", ctx.stageId(), TaskType.MAP, ctx.partitionId(), ctx.attemptNumber()))
      val project = UnsafeProjection.create(cols)
      val out = ArrayBuffer[(String, Int, Long)]()
      var w: OutputWriter = null
      var (bucket, n) = (0, 0L)
      def closeFile(): Unit = if (w != null) {
        w.close(); out += ((w.path, bucket, n)); w = null
      }
      Utils.tryWithSafeFinally {
        rows.foreach { r =>
          if (r.isNullAt(b)) throw new IllegalStateException(
            s"null $BucketCol in a row staged for epoch $epochKey")
          if (w == null || r.getInt(b) != bucket) {
            closeFile()
            bucket = r.getInt(b); n = 0L
            w = factory.newInstance(s"$dir/p${ctx.partitionId()}-a" +
              s"${ctx.attemptNumber()}-b$bucket.parquet", dataSchema, attempt)
          }
          w.write(project(r)); n += 1
        }
        closeFile()
      } { if (w != null) w.close() }
      val m = ctx.taskMetrics().outputMetrics
      m.setBytesWritten(out.map(f => new java.io.File(f._1).length).sum)
      m.setRecordsWritten(out.map(_._3).sum)
      out.toArray
    }
    val sc = spark.sparkContext
    val tag = s"icelite-write-${java.util.UUID.randomUUID()}"
    sc.addJobTag(tag)
    try SQLExecution.withNewExecutionId(ds.queryExecution) {
      sc.runJob(ds.queryExecution.toRdd, task _).flatten.toSeq
    } catch {
      case e: Throwable => awaitTasks(sc, tag); throw e
    } finally sc.removeJobTag(tag)
  }

  /** Wait, at most `SettleMs`, until no task of a job tagged `tag` runs.
    * A failed job's other tasks can outlive `runJob`'s throw (the kill
    * interrupts them, but not uninterruptible work) and still open files
    * under the job's directory. The listener bus is
    * drained first, so the status store has seen every task the job
    * launched before the failure.
    */
  private def awaitTasks(sc: SparkContext, tag: String): Unit = {
    val deadline = System.currentTimeMillis() + SettleMs
    val st = sc.statusTracker
    def running = st.getJobIdsForTag(tag).iterator.flatMap(st.getJobInfo(_))
      .flatMap(_.stageIds).flatMap(st.getStageInfo(_)).exists(_.numActiveTasks > 0)
    try sc.listenerBus.waitUntilEmpty(SettleMs)
    catch { case _: java.util.concurrent.TimeoutException => }
    while (running && System.currentTimeMillis() < deadline) Thread.sleep(10)
  }
}
