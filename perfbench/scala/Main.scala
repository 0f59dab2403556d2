package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.functions.TextExtract
import graft.sources.Ledger
import org.apache.spark.sql.SparkSession

/** JVM entry point of the benchmark: runs one workload and writes the raw
  * result document to `--out`.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --out <file>
  * }}}
  *
  * Every input is generated from `--seed` inside `--work`; nothing outside
  * `--work` is written. `perfbench/run.py` builds the classes, starts this
  * main and turns the document into metrics.
  */
object Main {
  type Runner = (SparkSession, Harness) => Unit

  val workloads: Map[String, Runner] = Map(
    "ingest" -> Ingest.run,
    "table_serve" -> TableServe.run)

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val runner = workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    val h = new Harness(args)
    if (args.trace) h.tracer = Some(new Tracer)
    val spark = Harness.session(args.cores, args.work, args.workload)
    h.phase("session")
    try {
      runner(spark, h)
      if (args.trace) {
        h.tracing(spark, on = false)
        h.layerExtra("text_extract.ns_per_page") = textExtractNsPerPage(args.seed)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        h.check("run", ok = false, e.toString.take(300), covers = 1L)
    }
    h.phase("workload")
    h.detail("vm_hwm_kb") = vmHwmKb()
    // host probes (graft.Bench): a slow run on a degraded host shows here,
    // not as an engine regression
    h.detail("host") = Map(
      "probe_1_ms" -> graft.Bench.hostProbeMs(1),
      s"probe_${args.cores}_ms" -> graft.Bench.hostProbeMs(args.cores),
      "alloc_probe_ms" -> math.min(graft.Bench.allocProbeMs(), graft.Bench.allocProbeMs()))
    h.phase("probes")
    Files.write(Paths.get(args.out), h.json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
    // a finished streaming query can leave non-daemon threads that keep
    // the JVM alive for tens of seconds after main returns
    sys.exit(0)
  }

  /** Peak resident set of this JVM (`VmHWM`), in KiB; 0 when unreadable. */
  def vmHwmKb(): Long =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    } catch { case _: Throwable => 0L }

  /** Single-thread `TextExtract.extract` cost over a fixed sample of 256
    * ledger pages (the function `extract_text` runs per replayed row).
    */
  def textExtractNsPerPage(seed: Long): Double = {
    val cfg = Ledger.Config(seed = seed)
    val pages = (0 until 256).map(i =>
      Ledger.makeHtml(cfg, s"https://www.d$i.example.com/page/$i", i.toLong))
    var sink = 0L
    def pass(): Unit = pages.foreach(p => sink += TextExtract.extract(p).length)
    (1 to 20).foreach(_ => pass()) // JIT warm-up
    val samples = (1 to 7).map { _ =>
      val t = System.nanoTime()
      (1 to 10).foreach(_ => pass())
      (System.nanoTime() - t).toDouble / (10 * pages.size)
    }.sorted
    if (sink == 42L) System.err.print("")
    samples(samples.size / 2)
  }
}
