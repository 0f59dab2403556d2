package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftbridge.PlanBridge

import scala.collection.mutable

/** Query profiler, separate from the frozen driver contract in [[Bench]]
  * and [[Verify]]. For each `SparkEntry.queries` key (default: all,
  * sorted) it prints `explain("formatted")`, then `reps` timed runs
  * through the noop sink, each followed by its Spark jobs and stages
  * (wall time, tasks, stage name, engine call site: the stage's own first
  * `graft.` frame, else its SQL execution's — broadcast and AQE stages
  * carry none of their own). The last line is
  * one JSON object `{key: min seconds over reps}` — the least-disturbed
  * run on a noisy host.
  *
  * Usage: runMain graft.Profile <sfDir> <reps> [key ...]
  * (`SPARK_GRAFT_CPUS` sets `local[n]`; default: available processors).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Profile <sfDir> <reps> [key ...]")
    val sfDir = args(0)
    val reps = args(1).toInt
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .appName("thorspark-profile")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val starts = mutable.Map[Int, Long]()
    val lines = mutable.ArrayBuffer[String]()
    val execDetails = mutable.Map[Long, String]()
    val stageExec = mutable.Map[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          lines.synchronized { execDetails(s.executionId) = s.details }
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        lines.synchronized {
          starts(e.jobId) = e.time
          Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .flatMap(_.toLongOption)
            .foreach(x => e.stageIds.foreach(stageExec(_) = x))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        lines.synchronized {
          starts.remove(e.jobId).foreach { t0 =>
            lines += f"  job ${e.jobId}%3d ${(e.time - t0) / 1e3}%7.3f s"
          }
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        lines.synchronized {
          val si = e.stageInfo
          val dur = (for (a <- si.submissionTime; b <- si.completionTime)
            yield (b - a) / 1e3).getOrElse(-1.0)
          // engine frames first (the stage's, then its execution's); the
          // noop write of a key's final frame has only Profile's own
          val frames = (Option(si.details) ++
              stageExec.get(si.stageId).flatMap(execDetails.get))
            .flatMap(_.linesIterator.map(_.trim).filter(_.startsWith("graft.")))
          val site = frames.find(!_.startsWith("graft.Profile"))
            .orElse(frames.headOption).getOrElse("")
          lines += f"    stage ${si.stageId}%3d $dur%7.3f s tasks=${si.numTasks}%3d  ${si.name} | $site"
        }
    })
    // events of earlier jobs must not land in the next run's lines
    def drained(): Seq[String] = {
      PlanBridge.waitForListeners(spark)
      lines.synchronized { val out = lines.toSeq; lines.clear(); out }
    }
    spark.read.parquet(s"$sfDir/region.parquet").count() // absorb init
    val mins = names.map { name =>
      println(s"\n========== PLAN: $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      drained()
      val secs = (1 to reps).map { r =>
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(s"profile: $name")
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"== $name rep $r: $s%.3f s")
        drained().foreach(println)
        s
      }
      f""""$name":${secs.min}%.3f"""
    }
    println(mins.mkString("{", ",", "}"))
    spark.stop()
  }
}
