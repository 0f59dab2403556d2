package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftExtensions
import org.apache.spark.sql.SparkSession

/** Shared plumbing for the workload runners: arguments, the Spark session,
  * timing, the op log and the raw-result JSON the Python front end reads.
  *
  * The JVM side only measures. It records raw samples (op latencies,
  * set-up repetitions, listener records, check verdicts) and writes them
  * as one JSON document; `perfbench/run.py` turns them into metrics.
  */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, out: String) {
  /** Every workload runs at local[cores], one core per processor. */
  val cores: Int = Runtime.getRuntime.availableProcessors()
}

object Args {
  def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("work"), kv("out"))
  }
}

/** One measured operation. `t0`/`t1` are epoch millis (fractional) so op
  * intervals line up with Spark listener timestamps.
  */
final case class Op(kind: String, t0: Double, t1: Double, items: Long,
    traced: Boolean, span: String = "",
    extra: Map[String, Double] = Map.empty) {
  def ms: Double = t1 - t0
}

final class Harness(val args: Args) {
  val ops = mutable.ArrayBuffer[Op]()
  val setupS = mutable.ArrayBuffer[Double]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val detail = mutable.LinkedHashMap[String, Any]()
  val layerExtra = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L
  var tracer: Option[Tracer] = None

  /** Seconds since the harness was created at the end of each named phase
    * (session, setup, warm-up, window, checks, probes): where a run's wall
    * time goes.
    */
  val phases = mutable.LinkedHashMap[String, Double]()
  private val born = System.nanoTime()
  def phase(name: String): Unit = phases(name) = (System.nanoTime() - born) / 1e9

  private var seq = 0
  def newSpan(kind: String): String = { seq += 1; s"$kind#$seq" }

  /** Run `f` as one op: tagged with a span (a local property every job it
    * starts inherits), timed by the wall clock, counted as attempted and,
    * on an exception, as failed. Returns the op's result.
    */
  def op[A](spark: SparkSession, kind: String, items: => Long)(f: => A): Option[A] = {
    val span = newSpan(kind)
    spark.sparkContext.setLocalProperty(Tracer.SpanKey, span)
    attempted += 1
    val t0 = System.currentTimeMillis().toDouble
    val n0 = System.nanoTime()
    val r = try Some(f) catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] op $span failed: $e")
        None
    } finally spark.sparkContext.setLocalProperty(Tracer.SpanKey, null)
    val ms = (System.nanoTime() - n0) / 1e6
    if (r.nonEmpty) ops += Op(kind, t0, t0 + ms, items, attached, span)
    r
  }

  /** Attach per-op counters (table files written, files read, ...) to the
    * op just recorded.
    */
  def annotate(extra: (String, Double)*): Unit =
    if (ops.nonEmpty) ops(ops.size - 1) = ops.last.copy(extra = ops.last.extra ++ extra)

  private var attached = false
  def isTracing: Boolean = attached

  /** Attach or detach the listener (traced runs alternate traced and
    * untraced ops, so the run itself measures the tracing overhead).
    * Detaching first waits until every job the listener saw has ended.
    */
  def tracing(spark: SparkSession, on: Boolean): Unit = tracer.foreach { t =>
    if (on && !attached) {
      spark.sparkContext.addSparkListener(t)
      attached = true
    } else if (!on && attached) {
      val deadline = System.nanoTime() + 5000000000L
      while (!t.idle && System.nanoTime() < deadline) Thread.sleep(5)
      Thread.sleep(50)
      spark.sparkContext.removeSparkListener(t)
      attached = false
    }
  }

  /** In a traced run, alternate: even-numbered ops traced, odd untraced. */
  def alternate(spark: SparkSession, i: Int): Unit =
    if (tracer.nonEmpty) tracing(spark, i % 2 == 0)

  /** Record an output check. A failed check counts as `covers` failed ops. */
  def check(name: String, ok: Boolean, info: String = "", covers: Long = 1L): Unit = {
    checks += ((name, ok, info))
    if (!ok) {
      failed += covers
      System.err.println(s"[perfbench] CHECK FAILED $name: $info")
    }
  }

  /** Time one set-up repetition (seconds). */
  def setup[A](f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    setupS += (System.nanoTime() - t0) / 1e9
    r
  }

  def dir(name: String): String = {
    val p = Paths.get(args.work, name)
    Files.createDirectories(p.getParent)
    p.toString
  }

  def json: String = {
    val base = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed,
      "seconds" -> args.seconds, "trace" -> args.trace, "cores" -> args.cores,
      "attempted" -> attempted, "failed" -> failed,
      "phases" -> phases.toMap,
      "setup_s" -> setupS.toSeq,
      "ops" -> ops.toSeq.map(o => Map("kind" -> o.kind, "t0" -> o.t0,
        "t1" -> o.t1, "items" -> o.items, "traced" -> o.traced, "span" -> o.span,
        "extra" -> o.extra)),
      "checks" -> checks.toSeq.map { case (n, ok, i) =>
        Map("name" -> n, "ok" -> ok, "info" -> i) },
      "detail" -> detail.toMap,
      "layer_extra" -> layerExtra.toMap)
    tracer.foreach(t => base ++= t.dump)
    new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(base)
  }
}

object Harness {
  /** The session settings `graft.Bench` uses for its replay levels:
    * local[cores], shuffle partitions = cores, UTC, committer v2 and
    * `RawLocalFileSystem` (no CRC sidecars), with every scratch directory
    * inside the run's work directory.
    */
  def session(cores: Int, work: String, name: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new GraftExtensions)
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val it = Files.list(p).iterator()
      while (it.hasNext) deleteRecursively(it.next())
    }
    Files.deleteIfExists(p)
  }

  def delete(path: String): Unit = deleteRecursively(Paths.get(path))

  /** Files and bytes under `path` whose name ends in `.parquet`. */
  def parquetFiles(path: String): (Long, Long) = {
    val p = Paths.get(path)
    if (!Files.exists(p)) return (0L, 0L)
    val it = Files.walk(p).iterator()
    var n = 0L
    var b = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.toString.endsWith(".parquet") && Files.isRegularFile(f)) {
        n += 1; b += Files.size(f)
      }
    }
    (n, b)
  }

  /** Pin every thread of this JVM to `cores` (a taskset cpu list), as
    * `graft.Bench.pinSelf` does. Returns false when taskset is missing.
    */
  def pinSelf(cores: String): Boolean = {
    val taskset = Seq("/usr/bin/taskset", "/bin/taskset").find(p =>
      Files.isExecutable(Paths.get(p)))
    taskset.exists { t =>
      val pb = new ProcessBuilder(t, "-acp", cores,
        ProcessHandle.current().pid().toString)
      pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
      pb.redirectErrorStream(true)
      pb.start().waitFor() == 0
    }
  }
}
