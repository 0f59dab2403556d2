package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Listener-side trace of a run: every job with the span and streaming
  * batch it belongs to and the engine call site that started it, and every
  * stage with its task-metric totals. Registered only for traced runs.
  *
  * A job is attributed to a span by the `perfbench.span` local property
  * the runner sets around each op (Spark copies local properties into the
  * job's properties, and into the threads AQE and streaming start). The
  * call site is the SQL execution's (for Dataset actions, including the
  * jobs AQE submits for query stages) or else the job's result-stage
  * call site; both name the innermost non-Spark frame, e.g.
  * `count at Dedup.scala:96`. Inside a streaming micro-batch the SQL
  * execution's description is the query's name and batch, so there the
  * site is the innermost engine frame of the execution's long call site
  * (the frame that started the query: Spark sets it for the stream thread).
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.LinkedHashMap[Int, Stage]()
  private val execSites = mutable.HashMap[Long, String]()
  @volatile private var openJobs = 0

  /** True once every job this listener saw start has also ended. */
  def idle: Boolean = openJobs == 0

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSites(s.executionId) = site(s.description, s.details)
    }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val p = j.properties
    def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val exec = prop("spark.sql.execution.id")
    val site = exec.toLongOption.flatMap(execSites.get)
      .getOrElse(j.stageInfos.maxBy(_.stageId).name)
    jobs(j.jobId) = Job(j.jobId, j.time, 0L, prop(Tracer.SpanKey),
      prop("streaming.sql.batchId"), site, j.stageIds)
    openJobs += 1
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(j.jobId).foreach { x => x.end = j.time; openJobs -= 1 }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(t.stageId, new Stage(t.stageId))
    s.tasks += 1
    s.taskMs += t.taskInfo.duration
    val m = t.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inBytes += m.inputMetrics.bytesRead
      s.outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stages.getOrElseUpdate(i.stageId, new Stage(i.stageId))
    s.submit = i.submissionTime.getOrElse(0L)
    s.complete = i.completionTime.getOrElse(0L)
  }

  /** The trace as JSON-ready collections (`jobs`, `stages`). */
  def dump: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.toSeq.map(j => Map("id" -> j.id, "start" -> j.start,
        "end" -> j.end, "span" -> j.span, "batch" -> j.batch,
        "site" -> j.site, "stages" -> j.stages)),
      "stages" -> stages.values.toSeq.map { s =>
        val sorted = s.taskMs.sorted
        Map("id" -> s.id, "submit" -> s.submit, "complete" -> s.complete,
          "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
          "gc_ms" -> s.gcMs, "shuffle_write" -> s.shuffleWrite,
          "spill" -> s.spill, "in_bytes" -> s.inBytes, "out_bytes" -> s.outBytes,
          "task_ms_max" -> sorted.lastOption.getOrElse(0L),
          "task_ms_median" -> (if (sorted.isEmpty) 0L else sorted(sorted.size / 2)))
      })
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  private val ShortSite = """ at [A-Za-z0-9_$]+\.(scala|java):\d+""".r
  private val EngineFrame = """^\s*graft\.\S*?\.([A-Za-z0-9_$]+)\(([A-Za-z0-9_]+\.scala):(\d+)\)""".r

  /** `description` when it is a short call site (`count at Dedup.scala:96`),
    * else `method at File.scala:line` of the first engine frame in the long
    * call site `details`, else `description`.
    */
  def site(description: String, details: String): String =
    if (ShortSite.findFirstIn(description).nonEmpty) description
    else Option(details).getOrElse("").split("\n").iterator
      .flatMap(l => EngineFrame.findFirstMatchIn(l))
      .map(m => s"${m.group(1)} at ${m.group(2)}:${m.group(3)}")
      .nextOption().getOrElse(description)

  private final case class Job(id: Int, start: Long, var end: Long,
      span: String, batch: String, site: String, stages: Seq[Int])

  private final class Stage(val id: Int) {
    var submit = 0L; var complete = 0L; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L
    var inBytes = 0L; var outBytes = 0L
    val taskMs = mutable.ArrayBuffer[Long]()
  }
}
